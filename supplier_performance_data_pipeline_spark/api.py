"""SQL entry point: register the warehouse as views and run plain SQL.

The reference's query surface is "any SQL against the DuckDB file"
(dashboard/app.py:200-214 runs user-chosen SELECTs). The Spark twin:
register every base table and derived table as a temp view, then
``spark.sql(...)`` is the same open-ended surface. Base tables stay lazy
views over the parquet scans, so Catalyst prunes and pushes down per
query. The derived ``supplier_kpis`` and ``supplier_risk_summary`` are
materialized once per ``create_views`` call, like the reference's stored
tables (src/compute_kpis.py, src/compute_risk.py), so dashboard requests
read them instead of re-running KPI and risk scoring. The summary is also
held on the driver (``serving.hold``), where the dashboard's widget
functions answer from it without a Spark job, as the reference dashboard
answers from its one pandas copy (dashboard/app.py:38-214).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from supplier_performance_data_pipeline_spark.operators import serving
from supplier_performance_data_pipeline_spark.operators.kpis import supplier_kpis
from supplier_performance_data_pipeline_spark.operators.risk import (
    observe_kpi_bounds,
    supplier_risk_summary,
)
from supplier_performance_data_pipeline_spark.plans.tpch_domain import (
    domain_per_po_fused,
)
from supplier_performance_data_pipeline_spark.session import tune_session
from supplier_performance_data_pipeline_spark.sources.readers import load_testdata
from supplier_performance_data_pipeline_spark.streaming.events import (
    normalize_event_ts,
)


def create_views(spark: SparkSession, sf_dir: str) -> list[str]:
    """Register every parquet table in ``sf_dir`` as a temp view, plus
    the derived supplier_kpis / supplier_risk_summary views. Returns the
    view names.

    Base-table views are lazy scans with declared schemas
    (``readers.load_testdata``): registering them runs one job, the
    ``events`` schema inference, and a table whose columns differ from
    its declaration fails here. The two derived views are materialized
    here, once per call, from the registered scans: the KPI table is
    built once and locally checkpointed, with the risk bounds observed on
    that checkpoint's job, and the risk summary is scored from the
    checkpoint with the bounds as literals and checkpointed in turn. Both
    are one row per supplier. The summary is then collected once as
    Arrow (``serving.hold``, up to ``serving.HELD_ROWS`` rows), so the
    widget functions answer requests on the view without a Spark job.
    That makes 7 jobs in all, since a base table of one split reads as
    one partition and its aggregates need no shuffle stage. The
    checkpoint blocks are reclaimed by the ContextCleaner once a later
    call replaces the views and the held copy."""
    tune_session(spark)
    # The events table stores ts as TIMESTAMP(NANOS) in some driver
    # generations (vectorized reader rejects it — read nanos as long)
    # and plain µs TIMESTAMP in others; normalize to µs timestamps
    # either way (same convention as plans/queries_events.py).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    tables = load_testdata(spark, sf_dir)
    if "events" in tables:
        tables["events"] = normalize_event_ts(tables["events"])
    for name, df in tables.items():
        df.createOrReplaceTempView(name)
    kpis, bounds = observe_kpi_bounds(
        supplier_kpis(
            domain_per_po_fused(
                tables["supplier"], tables["nation"], tables["lineitem"], tables["orders"]
            )
        )
    )
    kpis = kpis.localCheckpoint()
    kpis.createOrReplaceTempView("supplier_kpis")
    supplier_risk_summary(kpis, bounds.get).localCheckpoint().createOrReplaceTempView(
        "supplier_risk_summary"
    )
    serving.hold(spark.table("supplier_risk_summary"))
    return [*tables, "supplier_kpis", "supplier_risk_summary"]


def sql(spark: SparkSession, query: str) -> DataFrame:
    """Run SQL against the registered views (call create_views first)."""
    return spark.sql(query)
