"""Supplier risk scoring — guarded min-max normalization + weighted composite.

Reference parity: src/compute_risk.py:36-113. Shape preserved for scale:
a single global aggregate computes all 8 bounds in ONE pass over the KPI
table, then a broadcast cross join attaches the 1-row bounds to every row.
We deliberately do NOT use an empty-frame window (``Window.partitionBy()``)
— that forces all rows into one partition and dies at 100 TB; the
agg + broadcast-crossJoin shape is embarrassingly parallel (SURVEY.md §4).
A caller that materializes the KPI table anyway can instead observe the
same 8 aggregates on that action (``observe_kpi_bounds``: partial per
task, merged on the driver) and score with the bounds as literals, with
no bounds job and no join.

risk_score = 0.7 * (1 - performance_score) + 0.3 * (financial_risk_score/100)
(reference: src/compute_risk.py:104-108; README.md:145-158).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from supplier_performance_data_pipeline_spark.functions.scalar import minmax_normalize

# (kpi column, bounds prefix, lower-is-better)
_NORM_SPEC = [
    ("on_time_delivery_rate", "on_time", False),
    ("avg_delivery_delay_days", "delay", True),
    ("fill_rate", "fill", False),
    ("quality_issue_rate", "q", True),
]


def _bound_aggs() -> list[Column]:
    aggs = []
    for col, prefix, _ in _NORM_SPEC:
        aggs.append(F.min(col).alias(f"min_{prefix}"))
        aggs.append(F.max(col).alias(f"max_{prefix}"))
    return aggs


def kpi_bounds(kpis: DataFrame) -> DataFrame:
    """Global (ungrouped) MIN/MAX over the four KPI columns in one pass
    (reference: the ``bounds`` CTE, src/compute_risk.py:39-53)."""
    return kpis.agg(*_bound_aggs())


def observe_kpi_bounds(kpis: DataFrame) -> tuple[DataFrame, Observation]:
    """``kpis`` with the ``kpi_bounds`` aggregates observed on its next
    action, and the Observation whose ``get`` returns them afterwards.
    Min/max are idempotent, so a retried task cannot skew them."""
    obs = Observation("kpi_bounds")
    return kpis.observe(obs, *_bound_aggs()), obs


def supplier_risk_summary(
    kpis: DataFrame, bounds: dict[str, float | None] | None = None
) -> DataFrame:
    """Normalize KPIs, average into performance_score, blend with
    financial risk into risk_score (reference: src/compute_risk.py:54-111).

    Without ``bounds``, ``kpis`` is read twice (bounds agg + the row side
    of the cross join), so pass a materialized KPI table — a Parquet
    re-read or a checkpoint; a caller holding the raw KPI plan
    checkpoints it first. With ``bounds`` (``observe_kpi_bounds``'
    values) they apply as literals and ``kpis`` is read once.
    """
    norm_cols = {
        "on_time_delivery_rate": "norm_on_time",
        "avg_delivery_delay_days": "norm_delay",
        "fill_rate": "norm_fill",
        "quality_issue_rate": "norm_quality",
    }
    if bounds is None:
        kpis = kpis.crossJoin(F.broadcast(kpi_bounds(kpis)))
        bound = F.col
    else:
        def bound(name: str) -> Column:
            return F.lit(bounds[name]).cast("double")
    normed = kpis.withColumns(
        {
            norm_cols[col]: minmax_normalize(
                F.col(col),
                bound(f"min_{prefix}"),
                bound(f"max_{prefix}"),
                invert=invert,
            )
            for col, prefix, invert in _NORM_SPEC
        }
    )
    perf = (
        F.col("norm_on_time")
        + F.col("norm_delay")
        + F.col("norm_fill")
        + F.col("norm_quality")
    ) / 4.0
    scored = normed.withColumn("performance_score", perf).withColumn(
        "risk_score",
        0.7 * (F.lit(1.0) - F.col("performance_score"))
        + 0.3 * (F.col("financial_risk_score") / 100.0),
    )
    return scored.drop(
        *[c for c in scored.columns if c.startswith(("min_", "max_"))]
    )


def risk_band(risk_score: F.Column) -> F.Column:
    """Risk bands per README.md:162-167 of the reference:
    0–.2 low / .2–.5 medium / .5–.8 high / .8–1 critical."""
    return (
        F.when(risk_score < 0.2, "low")
        .when(risk_score < 0.5, "medium")
        .when(risk_score < 0.8, "high")
        .otherwise("critical")
    )
