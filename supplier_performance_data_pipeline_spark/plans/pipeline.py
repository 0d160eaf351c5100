"""The 4-stage batch pipeline driver: generate → load → KPIs → risk.

Reference parity: the linear DAG (dags/supplier_pipeline_dag.py:37-57)
and per-stage materialization. Each stage writes Parquet with
mode("overwrite") — the durable hand-off that keeps stages restartable,
like the reference's DROP-and-recreate DuckDB tables (SURVEY.md §3.1).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from supplier_performance_data_pipeline_spark.generator import (
    GeneratorConfig,
    generate_supplier_domain,
)
from supplier_performance_data_pipeline_spark.operators.kpis import (
    compute_supplier_kpis,
)
from supplier_performance_data_pipeline_spark.operators.quality import (
    assert_referential_integrity,
    assert_unique_key,
    row_counts,
)
from supplier_performance_data_pipeline_spark.operators.risk import (
    supplier_risk_summary,
)
from supplier_performance_data_pipeline_spark.sources.readers import read_parquet
from supplier_performance_data_pipeline_spark.sources.writers import write_parquet


def run_pipeline(
    spark: SparkSession,
    warehouse_dir: str,
    cfg: GeneratorConfig | None = None,
) -> dict[str, DataFrame]:
    """End-to-end run; returns the materialized tables (re-read from
    Parquet, so each stage's output is what downstream actually sees).
    Each re-read takes the schema Spark stored in the files it just
    wrote, so it runs no schema-inference job."""
    os.makedirs(warehouse_dir, exist_ok=True)

    # Stage 1+2: generate + load (write-through with integrity checks,
    # reference: src/load_duckdb.py:97-128).
    tables = generate_supplier_domain(spark, cfg)
    for name, df in tables.items():
        write_parquet(df, os.path.join(warehouse_dir, name))
    loaded = {
        name: read_parquet(spark, os.path.join(warehouse_dir, name))
        for name in tables
    }
    counts = row_counts(loaded)
    assert_unique_key(loaded["suppliers"], "supplier_id")
    assert_unique_key(loaded["purchase_orders"], "po_id")
    assert_unique_key(loaded["deliveries"], "po_id")
    assert_referential_integrity(
        loaded["purchase_orders"], loaded["deliveries"], "po_id", "po→delivery"
    )
    assert_referential_integrity(
        loaded["deliveries"], loaded["purchase_orders"], "po_id", "delivery→po"
    )

    # Stage 3: KPIs (reference: src/compute_kpis.py:24-74).
    kpis = compute_supplier_kpis(
        loaded["suppliers"], loaded["purchase_orders"], loaded["deliveries"]
    )
    write_parquet(kpis, os.path.join(warehouse_dir, "supplier_kpis"))
    kpis = read_parquet(spark, os.path.join(warehouse_dir, "supplier_kpis"))

    # Stage 4: risk (reference: src/compute_risk.py:36-113).
    risk = supplier_risk_summary(kpis)
    write_parquet(risk, os.path.join(warehouse_dir, "supplier_risk_summary"))
    risk = read_parquet(spark, os.path.join(warehouse_dir, "supplier_risk_summary"))

    return {**loaded, "supplier_kpis": kpis, "supplier_risk_summary": risk,
            "_row_counts": counts}  # type: ignore[dict-item]
