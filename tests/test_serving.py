"""operators/serving: widget requests on the held summary answer on the
driver with no Spark job, and return what the Spark path returns for
the same rows — NULL, NaN, -0.0 and ties included. Any other input
(a replaced or re-created view, a summary above the cap, a session
restarted after ``stop``), a request shape the dashboard does not send
or an order term that is not a plain column runs on Spark."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from supplier_performance_data_pipeline_spark.api import create_views
from supplier_performance_data_pipeline_spark.operators import serving
from tests.conftest import SF_ORACLE, SF_SMOKE

NAN = float("nan")
VIEW = "serving_test_summary"
SCHEMA = (
    "supplier_id long, supplier_name string, category string not null, "
    "country string, financial_risk_score int, on_time_delivery_rate double, "
    "avg_delivery_delay_days double, fill_rate double, quality_issue_rate double, "
    "n_pos long, performance_score double, risk_score double"
)
# A NULL and a NaN in several columns, -0.0 next to 0.0, three suppliers
# tied on risk_score and a delay in (-0.005, 0) that rounds to 0.0.
ROWS = [
    (1, "Acme", "Metals", "DE", 40, 0.9, -0.001, 0.95, 0.05, 10, 0.8, 0.3),
    (2, None, "Metals", None, 55, NAN, 0.0, 0.9, 0.1, 5, 0.5, 0.3),
    (3, "Cobalt", "Plastics", "FR", None, None, -0.0, NAN, 0.2, 7, NAN, NAN),
    (4, "Delta", "Plastics", "DE", 70, 0.5, 2.5, None, None, 3, 0.4, None),
    (5, "Echo", "Textiles", "FR", 20, 0.7, -0.004, 0.8, 0.0, 8, 0.6, 0.55),
    (6, "Foxtrot", "Metals", "US", 35, 0.7, 1.005, 0.85, 0.00125, 2, 0.3, 0.3),
    (7, "Golf", "Textiles", "DE", 90, 0.0, 0.0, 0.0, -0.0, 1, 0.2, 0.9),
    (8, "Hotel", "Metals", "FR", 60, 1.0, 0.125, 1.0, 0.015, 4, 0.95, 0.2345),
]
TILES = ["on_time_delivery_rate", "fill_rate", "quality_issue_rate", "risk_score"]
DOUBLES = [
    "on_time_delivery_rate", "avg_delivery_delay_days", "fill_rate",
    "quality_issue_rate", "performance_score", "risk_score",
]
METALS_MID = ({"category": "Metals"}, {"risk_score": (0.2, 0.6)})
NO_ROW = ({"category": "Glass"}, None)


def by_risk():
    return [F.col("risk_score").desc(), F.col("supplier_id")]


# name -> request of a shape the dashboard sends, over a summary
# DataFrame; every ordered request ends on the unique supplier_id, so
# Spark defines its row order.
REQUESTS = {
    "filter_category": lambda d: serving.apply_filters(d, {"category": "Metals"}),
    "filter_country_with_null": lambda d: serving.apply_filters(d, {"country": "DE"}),
    "filter_equals_and_range": lambda d: serving.apply_filters(d, *METALS_MID),
    "filter_range_over_null_and_nan": lambda d: serving.apply_filters(
        d, between={"on_time_delivery_rate": (0.0, 0.7)}),  # NULL reads as 0.0 unmasked
    "filter_no_row": lambda d: serving.apply_filters(d, *NO_ROW),
    "top_k_risk_2": lambda d: serving.top_k(d, by_risk(), 2),
    "top_k_risk_20": lambda d: serving.top_k(d, by_risk(), 20),
    "top_k_0": lambda d: serving.top_k(d, by_risk(), 0),
    "top_k_asc_nan": lambda d: serving.top_k(
        d, [F.asc("on_time_delivery_rate"), F.col("supplier_id")], 8),
    "top_k_int_desc": lambda d: serving.top_k(
        d, [F.col("financial_risk_score").desc(), F.col("supplier_id")], 8),
    "preview_3": lambda d: serving.preview(d, "supplier_id", 3),
    "preview_50": lambda d: serving.preview(d, "supplier_id", 50),
    "kpi_tiles": lambda d: serving.kpi_tiles(d, DOUBLES),
    "display_projection": serving.display_projection,
    "chain_table_2": lambda d: serving.display_projection(
        serving.top_k(serving.apply_filters(d, *METALS_MID), by_risk(), 2)),
    "chain_table_10": lambda d: serving.display_projection(
        serving.top_k(serving.apply_filters(d, *METALS_MID), by_risk(), 10)),
    "chain_table_no_row": lambda d: serving.display_projection(
        serving.top_k(serving.apply_filters(d, *NO_ROW), by_risk(), 10)),
    "chain_tiles": lambda d: serving.kpi_tiles(serving.apply_filters(d, *METALS_MID), TILES),
    "chain_tiles_no_row": lambda d: serving.kpi_tiles(serving.apply_filters(d, *NO_ROW), TILES),
    "chain_bounds_no_row": lambda d: serving.column_bounds(
        serving.apply_filters(d, *NO_ROW), "risk_score"),
    "chain_preview": lambda d: serving.preview(
        serving.apply_filters(d, {"country": "DE"}), "supplier_id", 2),
    **{
        f"column_bounds_{c}": (lambda d, c=c: serving.column_bounds(d, c))
        for c in DOUBLES
    },
}
# Spark returns these rows in no defined order.
UNORDERED = {
    f"distinct_values_{c}": (lambda d, c=c: serving.distinct_values(d, c))
    for c in ["category", "country"]
}
# Shapes the dashboard does not send: on the held view they run on Spark.
FALLBACK = {
    "filter_equals_nan": lambda d: serving.apply_filters(d, {"risk_score": NAN}),
    "filter_double_by_int": lambda d: serving.apply_filters(
        d, between={"on_time_delivery_rate": (0, 1)}),
    "top_k_desc_nulls_first": lambda d: serving.top_k(
        d, [F.col("fill_rate").desc_nulls_first(), "supplier_id"], 5),
    "distinct_values_double": lambda d: serving.distinct_values(d, "avg_delivery_delay_days"),
}


@pytest.fixture(scope="module")
def summaries(spark):
    """Two checkpoints of the same rows: the first is registered as the
    view and held, the second is a plan the driver does not hold."""
    base = spark.createDataFrame(ROWS, SCHEMA)
    held = base.localCheckpoint()
    held.createOrReplaceTempView(VIEW)
    return held, base.localCheckpoint()


@pytest.fixture
def view(spark, summaries):
    serving.hold(spark.table(VIEW))
    return spark.table(VIEW)


def _sorted(pdf: pd.DataFrame) -> pd.DataFrame:
    return pdf.sort_values(list(pdf.columns)).reset_index(drop=True)


@pytest.mark.parametrize("name", sorted(REQUESTS) + sorted(UNORDERED))
def test_held_answer_equals_spark(view, summaries, job_count, name):
    request = {**REQUESTS, **UNORDERED}[name]
    held, n_jobs = job_count(lambda: request(view).toPandas())
    assert n_jobs == 0
    answer = request(summaries[1])
    assert not isinstance(answer, serving.Rows)
    want = answer.toPandas()
    if name in UNORDERED:
        held, want = _sorted(held), _sorted(want)
    pd.testing.assert_frame_equal(held, want)


def test_held_answers_are_rows(view):
    for name, request in {**REQUESTS, **UNORDERED}.items():
        assert isinstance(request(view), serving.Rows), name


@pytest.mark.parametrize("name", sorted(FALLBACK))
def test_other_request_shapes_run_on_spark(view, summaries, name):
    got = FALLBACK[name](view)
    assert not isinstance(got, serving.Rows)
    got, want = got.toPandas(), FALLBACK[name](summaries[1]).toPandas()
    if name.startswith("distinct_values"):
        got, want = _sorted(got), _sorted(want)
    pd.testing.assert_frame_equal(got, want)


def test_held_answer_is_a_dataframe_stand_in(view, summaries):
    def request(d):  # rows with NULLs but no NaN, which no Row equals
        return serving.preview(serving.apply_filters(d, {"country": "DE"}), "supplier_id", 3)

    got, want = request(view), request(summaries[1])
    assert isinstance(got, serving.Rows)
    assert got.columns == want.columns
    assert got.collect() == want.collect()
    assert got.filter(F.col("supplier_id") > 1).count() == want.filter("supplier_id > 1").count()


def test_display_rounding_never_negative_zero(view):
    pdf = serving.display_projection(view).toPandas()
    delay = pdf.set_index("supplier_id")["avg_delivery_delay_days"]
    assert delay[1] == 0.0 and not np.signbit(delay[1])  # -0.001 -> 0.0
    assert delay[5] == 0.0 and not np.signbit(delay[5])  # -0.004 -> 0.0
    assert delay[6] == 1.01  # HALF_UP on "1.005", not on its binary value
    rounded = pdf[list(serving._DISPLAY)].fillna(0.0).to_numpy()
    assert not np.signbit(rounded).any()  # quality_issue_rate_pct of -0.0 included


def test_display_rounding_equals_spark_on_random_and_tied_values(spark):
    # Rates (x100, 1 decimal) and scores (3 decimals) in [0, 1], delays
    # (2 decimals) in [-5, 30]: half uniform, half at a decimal tie of
    # the rounding digit or one ulp beside it.
    rng = np.random.default_rng(7)
    n = 1_000

    def values(lo, hi, digits):
        ties = (rng.integers(lo * 10**digits, hi * 10**digits, n) + 0.5) / 10**digits
        toward = rng.choice([-np.inf, 0.0, np.inf], n)
        beside = np.where(toward == 0.0, ties, np.nextafter(ties, toward))
        return np.concatenate([rng.uniform(lo, hi, n), beside])

    rate = values(0, 100, 1) / 100
    pdf = pd.DataFrame({
        "supplier_id": np.arange(2 * n),
        "on_time_delivery_rate": rate,
        "fill_rate": rng.permutation(rate),
        "quality_issue_rate": rng.permutation(rate),
        "avg_delivery_delay_days": values(-5, 30, 2),
        "performance_score": values(0, 1, 3),
        "risk_score": values(0, 1, 3),
    })
    base = spark.createDataFrame(pdf)
    held = base.localCheckpoint()
    serving.hold(held)
    got = serving.display_projection(held)
    assert isinstance(got, serving.Rows)
    want = serving.display_projection(base.localCheckpoint()).toPandas()
    pd.testing.assert_frame_equal(got.toPandas(), want, check_exact=True)


@pytest.mark.parametrize("term", [
    lambda: F.col("risk_score") * 2,
    lambda: F.lit("risk_score"),
    lambda: F.col("Risk_Score").desc(),
], ids=["expression", "literal", "other_case"])
def test_order_term_that_is_not_a_plain_column_runs_on_spark(view, summaries, term):
    order = [term(), F.col("supplier_id")]
    direct = serving.top_k(view, order, 3)
    assert not isinstance(direct, serving.Rows)
    pd.testing.assert_frame_equal(
        direct.toPandas(), serving.top_k(summaries[1], order, 3).toPandas())
    # After a held filter, the held rows go back through createDataFrame.
    after = serving.top_k(serving.apply_filters(view, {"category": "Metals"}), order, 3)
    assert not isinstance(after, serving.Rows)
    want = serving.top_k(serving.apply_filters(summaries[1], {"category": "Metals"}), order, 3)
    pd.testing.assert_frame_equal(after.toPandas(), want.toPandas())


def test_replaced_view_runs_on_spark(spark, view):
    session = spark.newSession()
    rows = [(9, "India", "Glass", "IT", 10, 0.4, 1.0, 0.5, 0.1, 3, 0.5, 0.7)]
    session.createDataFrame(ROWS + rows, SCHEMA).localCheckpoint().createOrReplaceTempView(VIEW)
    session.createDataFrame(rows, SCHEMA).localCheckpoint().createOrReplaceTempView(VIEW)
    got = serving.top_k(session.table(VIEW), by_risk(), 5)
    assert not isinstance(got, serving.Rows)
    assert got.toPandas().supplier_id.tolist() == [9]
    # The held view of the other session is still answered on the driver.
    assert isinstance(serving.top_k(spark.table(VIEW), by_risk(), 5), serving.Rows)


def test_second_create_views_serves_the_new_rows(spark):
    session = spark.newSession()
    sizes = []
    for sf_dir in (SF_SMOKE, SF_ORACLE):
        create_views(session, sf_dir)
        summary = session.table("supplier_risk_summary")
        got = serving.preview(summary, "supplier_id", 10_000)
        assert isinstance(got, serving.Rows)
        want = summary.orderBy("supplier_id").toPandas()
        pd.testing.assert_frame_equal(got.toPandas(), want)
        sizes.append(len(want))
    assert sizes[0] < sizes[1]


@pytest.mark.parametrize("n", [serving.HELD_ROWS, serving.HELD_ROWS + 1])
def test_held_rows_cap(spark, job_count, n):
    df = spark.range(n).select(
        F.col("id").alias("supplier_id"), (F.col("id") % 7 / 7.0).alias("risk_score")
    ).localCheckpoint()
    serving.hold(df)
    got = serving.top_k(df, by_risk(), 5)
    assert isinstance(got, serving.Rows) == (n <= serving.HELD_ROWS)
    pdf = df.toPandas()
    want = pdf.sort_values(["risk_score", "supplier_id"], ascending=[False, True]).head(5)
    pd.testing.assert_frame_equal(got.toPandas(), want.reset_index(drop=True))
    _, n_jobs = job_count(lambda: serving.kpi_tiles(df, ["risk_score"]).toPandas())
    assert (n_jobs == 0) == (n <= serving.HELD_ROWS)


def test_restarted_session_does_not_see_the_old_copy():
    # In a process of its own: the suite's session must not be stopped.
    script = textwrap.dedent("""
        from supplier_performance_data_pipeline_spark.operators import serving
        from supplier_performance_data_pipeline_spark.session import get_spark

        def view(spark, ids):
            rows = [(i,) for i in ids]
            spark.createDataFrame(rows, "supplier_id long").localCheckpoint(
            ).createOrReplaceTempView("s")
            return spark.table("s")

        spark = get_spark(master="local[1]", shuffle_partitions=1)
        serving.hold(view(spark, [1, 2]))
        spark.stop()
        spark = get_spark(master="local[1]", shuffle_partitions=1)
        got = serving.preview(view(spark, [7, 8]), "supplier_id", 10)
        print(type(got).__name__, got.toPandas().supplier_id.tolist())
        spark.stop()
    """)
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {**os.environ, "PYTHONPATH": os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)}
    out = subprocess.run(
        [sys.executable, "-c", script], cwd=root, env=env,
        capture_output=True, text=True, timeout=300, check=True,
    ).stdout
    assert out.strip().splitlines()[-1] == "DataFrame [7, 8]"
