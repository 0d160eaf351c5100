"""Unit tests of the reference semantics on tiny in-memory fixtures —
the edge cases FIXTURES.md calls out (degenerate normalization range,
zero ordered quantity, negative delay)."""

from __future__ import annotations

from datetime import date

import pandas as pd
import pytest

from supplier_performance_data_pipeline_spark.operators.kpis import (
    compute_supplier_kpis,
)
from supplier_performance_data_pipeline_spark.operators.risk import (
    observe_kpi_bounds,
    supplier_risk_summary,
)
from supplier_performance_data_pipeline_spark.schemas import (
    DELIVERIES,
    PURCHASE_ORDERS,
    SUPPLIERS,
)


def _mk(spark, suppliers, pos, deliveries):
    return compute_supplier_kpis(
        spark.createDataFrame(suppliers, SUPPLIERS),
        spark.createDataFrame(pos, PURCHASE_ORDERS),
        spark.createDataFrame(deliveries, DELIVERIES),
    )


def test_kpis_negative_delay_and_rates(spark):
    kpis = _mk(
        spark,
        [("S1", "One", "Cat", "DE", 50)],
        [
            ("P1", "S1", date(2024, 1, 1), date(2024, 1, 10), 100),
            ("P2", "S1", date(2024, 2, 1), date(2024, 2, 10), 100),
        ],
        [
            ("P1", date(2024, 1, 8), 100, 0),   # early → delay -2, on time
            ("P2", date(2024, 2, 15), 50, 1),   # late → delay +5, partial
        ],
    ).collect()[0]
    assert kpis.on_time_delivery_rate == 0.5
    assert kpis.avg_delivery_delay_days == pytest.approx((-2 + 5) / 2)
    assert kpis.fill_rate == pytest.approx(150 / 200)
    assert kpis.quality_issue_rate == 0.5
    assert kpis.n_pos == 2


def test_fill_rate_null_when_zero_ordered(spark):
    # NULLIF guard (reference: src/compute_kpis.py:64).
    row = _mk(
        spark,
        [("S1", "One", "Cat", "DE", 50)],
        [("P1", "S1", date(2024, 1, 1), date(2024, 1, 10), 0)],
        [("P1", date(2024, 1, 10), 0, 0)],
    ).collect()[0]
    assert row.fill_rate is None


def test_risk_degenerate_range_guard(spark):
    # Two identical suppliers → max == min for every KPI → all norms 1.0,
    # performance 1.0, risk purely financial (reference: src/compute_risk.py:58-80).
    kpis = _mk(
        spark,
        [("S1", "One", "Cat", "DE", 40), ("S2", "Two", "Cat", "PL", 80)],
        [
            ("P1", "S1", date(2024, 1, 1), date(2024, 1, 10), 100),
            ("P2", "S2", date(2024, 1, 1), date(2024, 1, 10), 100),
        ],
        [
            ("P1", date(2024, 1, 10), 100, 0),
            ("P2", date(2024, 1, 10), 100, 0),
        ],
    )
    risk = {r.supplier_id: r for r in supplier_risk_summary(kpis).collect()}
    for r in risk.values():
        assert r.norm_on_time == 1.0
        assert r.norm_delay == 1.0
        assert r.norm_fill == 1.0
        assert r.norm_quality == 1.0
        assert r.performance_score == 1.0
    assert risk["S1"].risk_score == pytest.approx(0.3 * 0.40)
    assert risk["S2"].risk_score == pytest.approx(0.3 * 0.80)


def test_risk_formula_hand_computed(spark):
    # Non-degenerate two-supplier case: S1 strictly better on every KPI.
    kpis = _mk(
        spark,
        [("S1", "One", "Cat", "DE", 0), ("S2", "Two", "Cat", "PL", 100)],
        [
            ("P1", "S1", date(2024, 1, 1), date(2024, 1, 10), 100),
            ("P2", "S2", date(2024, 1, 1), date(2024, 1, 10), 100),
        ],
        [
            ("P1", date(2024, 1, 10), 100, 0),   # on time, full, clean
            ("P2", date(2024, 1, 15), 60, 1),    # late, partial, issue
        ],
    )
    risk = {r.supplier_id: r for r in supplier_risk_summary(kpis).collect()}
    # S1 is max for on_time/fill (norm 1) and min for delay/quality (inverted → 1).
    assert risk["S1"].performance_score == pytest.approx(1.0)
    assert risk["S1"].risk_score == pytest.approx(0.7 * 0.0 + 0.3 * 0.0)
    assert risk["S2"].performance_score == pytest.approx(0.0)
    assert risk["S2"].risk_score == pytest.approx(0.7 * 1.0 + 0.3 * 1.0)


def test_fingerprint_invariant_under_repartitioning(spark):
    """The table fingerprint's whole contract: identical value no
    matter how rows are distributed (XOR is order/partition free)."""
    from supplier_performance_data_pipeline_spark.plans.registry import (
        load_all,
    )
    from tests.conftest import SF_SMOKE

    build = load_all()["lineitem_table_fingerprint"].build
    base = build(spark, SF_SMOKE).collect()[0]
    # Same computation over a deliberately rescrambled scan.
    import os

    from pyspark.sql import functions as F

    li = spark.read.parquet(os.path.join(SF_SMOKE, "lineitem.parquet"))
    scrambled = li.repartition(7).sortWithinPartitions("l_quantity")
    scrambled.createOrReplaceTempView("li_scrambled")
    from supplier_performance_data_pipeline_spark.plans.queries_analytics import (
        _FP_ROW,
    )

    row_hash = (
        f"CAST(conv(substring(md5({_FP_ROW}), 1, 14), 16, 10) AS BIGINT)"
    )
    again = scrambled.agg(
        F.count("*").alias("n_rows"),
        F.expr(f"bit_xor({row_hash})").alias("fingerprint"),
        F.expr(
            f"CAST(CAST(sum(CAST({row_hash} AS DECIMAL(38,0)))"
            " AS DECIMAL(38,0)) AS STRING)"
        ).alias("fingerprint_sum"),
    ).collect()[0]
    assert again.fingerprint == base.fingerprint
    assert again.fingerprint_sum == base.fingerprint_sum
    assert again.n_rows == base.n_rows


# --- debounce (banked for round-5 registration) ------------------------------


def test_debounce_keeps_burst_openers_only(spark):
    """Bursts chain on inter-event gaps: 0s/30s/50s collapse to the
    opener even though the third event is 80s after it; a 60s quiet
    gap opens a new burst; keys debounce independently."""
    import datetime as dt

    from supplier_performance_data_pipeline_spark.operators.windows import (
        debounce,
    )

    base = dt.datetime(2024, 1, 1)

    def ev(eid, sec, user):
        return (eid, base + dt.timedelta(seconds=sec), user, "click")

    rows = [
        ev(1, 0, 1), ev(2, 30, 1), ev(3, 50, 1),   # one chained burst
        ev(4, 120, 1),                              # 70s quiet -> opener
        ev(5, 130, 1),                              # chained
        ev(6, 0, 2),                                # other key: opener
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string"
    )
    kept = {
        r["event_id"]
        for r in debounce(
            df, ["user_id", "event_type"], quiet_seconds=60,
            order_col="event_id",
        ).collect()
    }
    assert kept == {1, 4, 6}


def test_debounce_empty_and_exact_boundary(spark):
    """Empty input flows through; a gap of EXACTLY quiet_seconds stays
    IN the burst (strict-> boundary, identical to sessionize's
    ``ts > prev + gap`` — the cross-validation contract), so only the
    opener survives."""
    import datetime as dt

    from supplier_performance_data_pipeline_spark.operators.windows import (
        debounce,
    )

    empty = spark.createDataFrame(
        [], "event_id long, ts timestamp, user_id long, event_type string"
    )
    assert debounce(empty, ["user_id"], quiet_seconds=60).count() == 0

    base = dt.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [
            (1, base, 1, "x"),
            (2, base + dt.timedelta(seconds=60), 1, "x"),  # exactly 60
        ],
        "event_id long, ts timestamp, user_id long, event_type string",
    )
    kept = {
        r["event_id"]
        for r in debounce(df, ["user_id"], quiet_seconds=60).collect()
    }
    assert kept == {1}  # exact-boundary gap chains, matching sessionize


def test_debounce_null_ts_dropped_and_gap_collision_raises(spark):
    """NULL-ts rows are dropped (they would otherwise pass through AND
    disable debouncing of their successor, whose lag-gap goes NULL);
    a pre-existing temp-column name is an error, not silent data loss."""
    import datetime as dt

    import pytest
    from pyspark.sql import functions as F

    from supplier_performance_data_pipeline_spark.operators.windows import (
        debounce,
    )

    base = dt.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [
            (1, None, 1, "x"),
            (2, base, 1, "x"),
            (3, base + dt.timedelta(seconds=5), 1, "x"),
        ],
        "event_id long, ts timestamp, user_id long, event_type string",
    )
    kept = {
        r["event_id"]
        for r in debounce(df, ["user_id"], quiet_seconds=60).collect()
    }
    assert kept == {2}  # null dropped; its successor still debounces

    with pytest.raises(ValueError, match="__debounce_gap"):
        debounce(
            df.withColumn("__debounce_gap", F.lit(0)), ["user_id"]
        )


@pytest.mark.parametrize("rows", [
    # Plain KPIs, a degenerate quality range and an int risk score.
    [("S1", 0.5, 2.0, 0.8, 0.1, 40), ("S2", 1.0, -1.5, 0.6, 0.1, 80),
     ("S3", 0.0, 0.0, 1.0, 0.1, None)],
    # An all-NULL fill_rate, a NaN delay and -0.0 next to 0.0.
    [("S1", 0.5, float("nan"), None, -0.0, 40), ("S2", 1.0, 2.0, None, 0.0, 80),
     ("S3", None, -1.5, None, 0.25, None)],
], ids=["plain", "null_nan_negative_zero"])
def test_observed_bounds_score_like_the_bounds_join(spark, rows):
    # create_views observes the bounds on the KPI checkpoint and scores
    # with them as literals; the nightly and the registry aggregate and
    # cross-join them. Both must give the same rows.
    kpis = spark.createDataFrame(
        rows,
        "supplier_id string, on_time_delivery_rate double, "
        "avg_delivery_delay_days double, fill_rate double, "
        "quality_issue_rate double, financial_risk_score int",
    ).localCheckpoint()
    observed, bounds = observe_kpi_bounds(kpis)
    got = supplier_risk_summary(observed.localCheckpoint(), bounds.get)
    want = supplier_risk_summary(kpis)
    pd.testing.assert_frame_equal(
        got.toPandas().sort_values("supplier_id", ignore_index=True),
        want.toPandas().sort_values("supplier_id", ignore_index=True),
    )
