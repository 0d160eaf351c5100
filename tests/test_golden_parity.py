"""Golden-artifact parity with the reference's own committed outputs.

The reference repo ships de-facto golden files: the seed-42 CSVs under
data/ (reference: src/generate_data.py:27-58) and warehouse.db holding
the computed supplier_kpis / supplier_risk_summary tables (reference:
src/compute_kpis.py:24-74, src/compute_risk.py:36-113, loaded via
src/load_duckdb.py:39-72). These tests read the reference's ACTUAL CSVs
through the engine's schema-checked CSV source and assert the engine
reproduces the reference's ACTUAL warehouse tables to 1e-9 — reference
equivalence, not just SQL-shape equivalence.

The reference artifacts are read-only inputs; nothing here writes to
/root/reference.
"""

from __future__ import annotations

import os

import duckdb
import numpy as np
import pandas as pd
import pytest

from supplier_performance_data_pipeline_spark.operators.kpis import (
    compute_supplier_kpis,
)
from supplier_performance_data_pipeline_spark.operators.risk import (
    supplier_risk_summary,
)
from supplier_performance_data_pipeline_spark.schemas import (
    SUPPLIER_DOMAIN,
    SUPPLIER_KPIS_COLUMNS,
    SUPPLIER_RISK_COLUMNS,
)
from supplier_performance_data_pipeline_spark.sources.readers import read_csv

REF_DATA = "/root/reference/data"
REF_DB = "/root/reference/warehouse.db"

pytestmark = pytest.mark.skipif(
    not (os.path.exists(REF_DB) and os.path.exists(f"{REF_DATA}/suppliers.csv")),
    reason="reference golden artifacts not present",
)


def _golden(table: str) -> pd.DataFrame:
    con = duckdb.connect(REF_DB, read_only=True)
    try:
        return con.execute(
            f"SELECT * FROM {table} ORDER BY supplier_id"
        ).fetchdf()
    finally:
        con.close()


def _engine_tables(spark):
    return {
        name: read_csv(spark, f"{REF_DATA}/{name}.csv", schema)
        for name, schema in SUPPLIER_DOMAIN.items()
    }


def _assert_golden_match(actual: pd.DataFrame, golden: pd.DataFrame, cols):
    assert list(actual.columns) == cols
    actual = actual.sort_values("supplier_id").reset_index(drop=True)
    golden = golden[cols].sort_values("supplier_id").reset_index(drop=True)
    assert len(actual) == len(golden)
    for col in cols:
        a, g = actual[col], golden[col]
        if pd.api.types.is_float_dtype(g):
            assert np.allclose(
                a.astype(float), g.astype(float), rtol=1e-9, atol=1e-9
            ), f"float mismatch in {col}"
        else:
            assert a.astype(str).equals(g.astype(str)), f"mismatch in {col}"


def test_kpis_match_reference_warehouse(spark):
    """Engine KPIs off the reference's CSVs == the reference's own
    supplier_kpis table (src/compute_kpis.py:24-74)."""
    t = _engine_tables(spark)
    actual = (
        compute_supplier_kpis(
            t["suppliers"], t["purchase_orders"], t["deliveries"]
        )
        .select(*SUPPLIER_KPIS_COLUMNS)
        .toPandas()
    )
    _assert_golden_match(actual, _golden("supplier_kpis"), SUPPLIER_KPIS_COLUMNS)


def test_risk_summary_matches_reference_warehouse(spark):
    """Engine risk summary == the reference's supplier_risk_summary
    table (src/compute_risk.py:36-113): normalization, performance
    score, and the 0.7/0.3 composite all reproduce on the golden data."""
    t = _engine_tables(spark)
    kpis = compute_supplier_kpis(
        t["suppliers"], t["purchase_orders"], t["deliveries"]
    )
    actual = (
        supplier_risk_summary(kpis)
        .select(*SUPPLIER_RISK_COLUMNS)
        .toPandas()
    )
    _assert_golden_match(actual, _golden("supplier_risk_summary"), SUPPLIER_RISK_COLUMNS)


def test_base_tables_round_trip_reference_csvs(spark):
    """The schema-checked CSV source reads the reference's committed
    CSVs losslessly (row counts + key uniqueness match the loaded
    warehouse tables, reference: src/load_duckdb.py:74-95)."""
    t = _engine_tables(spark)
    con = duckdb.connect(REF_DB, read_only=True)
    try:
        for name, df in t.items():
            n_engine = df.count()
            n_golden = con.execute(f"SELECT COUNT(*) FROM {name}").fetchone()[0]
            assert n_engine == n_golden, name
        key_cols = {"suppliers": "supplier_id", "purchase_orders": "po_id",
                    "deliveries": "po_id"}
        for name, key in key_cols.items():
            assert t[name].select(key).distinct().count() == t[name].count()
    finally:
        con.close()
