"""Explicit schema registry.

The reference deliberately declares every schema instead of inferring
(reference: src/load_duckdb.py:38 "explicitly defining the schema helps
avoid issues with automatic type inference"). We do the same with
``StructType``s applied on read — never ``inferSchema``.

Two families:
- supplier domain (reference parity; reference: src/load_duckdb.py:39-72)
- driver testdata tables (TPC-H-ish star schema + events/documents/embeddings)
"""

from __future__ import annotations

from pyspark.sql import types as T

# --- supplier domain (reference: src/load_duckdb.py:39-72) -----------------

SUPPLIERS = T.StructType(
    [
        T.StructField("supplier_id", T.StringType(), False),
        T.StructField("supplier_name", T.StringType(), True),
        T.StructField("category", T.StringType(), True),
        T.StructField("country", T.StringType(), True),
        T.StructField("financial_risk_score", T.IntegerType(), True),
    ]
)

PURCHASE_ORDERS = T.StructType(
    [
        T.StructField("po_id", T.StringType(), False),
        T.StructField("supplier_id", T.StringType(), False),
        T.StructField("order_date", T.DateType(), True),
        T.StructField("promised_date", T.DateType(), True),
        T.StructField("quantity_ordered", T.IntegerType(), True),
    ]
)

DELIVERIES = T.StructType(
    [
        T.StructField("po_id", T.StringType(), False),
        T.StructField("delivery_date", T.DateType(), True),
        T.StructField("quantity_delivered", T.IntegerType(), True),
        T.StructField("quality_issues", T.IntegerType(), True),
    ]
)

SUPPLIER_DOMAIN = {
    "suppliers": SUPPLIERS,
    "purchase_orders": PURCHASE_ORDERS,
    "deliveries": DELIVERIES,
}

# Derived-table output schemas (reference: src/compute_kpis.py:54-72,
# src/compute_risk.py:85-111) — used for assertions in tests.
SUPPLIER_KPIS_COLUMNS = [
    "supplier_id",
    "supplier_name",
    "category",
    "country",
    "financial_risk_score",
    "on_time_delivery_rate",
    "avg_delivery_delay_days",
    "fill_rate",
    "quality_issue_rate",
    "n_pos",
]

SUPPLIER_RISK_COLUMNS = SUPPLIER_KPIS_COLUMNS + [
    "norm_on_time",
    "norm_delay",
    "norm_fill",
    "norm_quality",
    "performance_score",
    "risk_score",
]

# --- driver testdata (TESTDATA.md) -----------------------------------------

TESTDATA_TABLES = (
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
)


def _nullable(*columns: tuple[str, T.DataType]) -> T.StructType:
    # File sources read every column as nullable, so a declared Parquet
    # schema is all-nullable too.
    return T.StructType([T.StructField(n, t, True) for n, t in columns])


_INT, _LONG, _DOUBLE = T.IntegerType(), T.LongType(), T.DoubleType()
_STR, _TS_NTZ = T.StringType(), T.TimestampNTZType()

# The Parquet schema of each testdata table, type for type what Spark
# infers from the files (tests/test_api_views.py pins them to the data).
# ``events`` is left out: its ``ts`` is TIMESTAMP(NANOS) in some
# generations and TIMESTAMP(MICROS) in others, so it is inferred.
TESTDATA_SCHEMAS = {
    "region": _nullable(("r_regionkey", _INT), ("r_name", _STR)),
    "nation": _nullable(
        ("n_nationkey", _INT), ("n_name", _STR), ("n_regionkey", _INT)
    ),
    "customer": _nullable(
        ("c_custkey", _LONG),
        ("c_name", _STR),
        ("c_nationkey", _INT),
        ("c_acctbal", _DOUBLE),
        ("c_mktsegment", _STR),
    ),
    "supplier": _nullable(
        ("s_suppkey", _LONG),
        ("s_name", _STR),
        ("s_nationkey", _INT),
        ("s_acctbal", _DOUBLE),
    ),
    "part": _nullable(
        ("p_partkey", _LONG),
        ("p_name", _STR),
        ("p_brand", _STR),
        ("p_type", _STR),
        ("p_size", _INT),
        ("p_retailprice", _DOUBLE),
    ),
    "orders": _nullable(
        ("o_orderkey", _LONG),
        ("o_custkey", _LONG),
        ("o_orderstatus", _STR),
        ("o_totalprice", _DOUBLE),
        ("o_orderdate", _TS_NTZ),
        ("o_orderpriority", _STR),
    ),
    "lineitem": _nullable(
        ("l_orderkey", _LONG),
        ("l_partkey", _LONG),
        ("l_suppkey", _LONG),
        ("l_linenumber", _INT),
        ("l_quantity", _DOUBLE),
        ("l_extendedprice", _DOUBLE),
        ("l_discount", _DOUBLE),
        ("l_tax", _DOUBLE),
        ("l_returnflag", _STR),
        ("l_linestatus", _STR),
        ("l_shipdate", _TS_NTZ),
    ),
    "documents": _nullable(
        ("doc_id", _LONG),
        ("text", _STR),
        ("lang", _STR),
        ("source", _STR),
        ("n_chars", _LONG),
    ),
    "embeddings": _nullable(
        ("vec_id", _LONG),
        ("embedding", T.ArrayType(T.FloatType(), True)),
        ("label", _INT),
    ),
}
