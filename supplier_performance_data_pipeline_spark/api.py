"""SQL entry point: register the warehouse as views and run plain SQL.

The reference's query surface is "any SQL against the DuckDB file"
(dashboard/app.py:200-214 runs user-chosen SELECTs). The Spark twin:
register every base table and derived table as a temp view, then
``spark.sql(...)`` is the same open-ended surface. Base tables stay lazy
views over the parquet scans, so Catalyst prunes and pushes down per
query. The derived ``supplier_kpis`` and ``supplier_risk_summary`` are
materialized once per ``create_views`` call, like the reference's stored
tables (src/compute_kpis.py, src/compute_risk.py), so dashboard requests
read them instead of re-running KPI and risk scoring.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from supplier_performance_data_pipeline_spark.session import tune_session

TESTDATA_TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def create_views(
    spark: SparkSession, sf_dir: str, include_derived: bool = True
) -> list[str]:
    """Register every parquet table in ``sf_dir`` as a temp view, plus
    the derived supplier_kpis / supplier_risk_summary views. Returns the
    view names.

    Base-table views are lazy: registering them runs no job. The two
    derived views are materialized here, once per call: the KPI table is
    built once and locally checkpointed, and the risk summary is scored
    from that checkpoint and checkpointed in turn. Both are one row per
    supplier. Their checkpoint blocks are reclaimed by the ContextCleaner
    once a later call replaces the views."""
    tune_session(spark)
    # The events table stores ts as TIMESTAMP(NANOS) in some driver
    # generations (vectorized reader rejects it — read nanos as long)
    # and plain µs TIMESTAMP in others; normalize to µs timestamps
    # either way (same convention as plans/queries_events.py).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    registered = []
    for name in TESTDATA_TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if not os.path.exists(path):
            continue
        df = spark.read.parquet(path)
        if name == "events":
            from supplier_performance_data_pipeline_spark.streaming.events import (
                normalize_event_ts,
            )

            df = normalize_event_ts(df)
        df.createOrReplaceTempView(name)
        registered.append(name)
    if include_derived:
        from supplier_performance_data_pipeline_spark.operators.risk import (
            supplier_risk_summary,
        )
        from supplier_performance_data_pipeline_spark.plans.queries_core import _kpis

        kpis = _kpis(spark, sf_dir).localCheckpoint()
        kpis.createOrReplaceTempView("supplier_kpis")
        risk = supplier_risk_summary(kpis, cache=False).localCheckpoint()
        risk.createOrReplaceTempView("supplier_risk_summary")
        registered += ["supplier_kpis", "supplier_risk_summary"]
    return registered


def sql(spark: SparkSession, query: str) -> DataFrame:
    """Run SQL against the registered views (call create_views first)."""
    return spark.sql(query)
