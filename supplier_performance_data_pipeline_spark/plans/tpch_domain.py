"""Adapter: driver testdata (TPC-H-ish) → the engine's supplier domain.

The engine's operators implement the reference's supplier-analytics
semantics (SURVEY.md §1). The driver's correctness testdata is a
TPC-H-ish star schema (TESTDATA.md), so this module maps it into the
domain model — same shapes, same join graph:

  supplier (+nation)            → suppliers dimension
  lineitem ⋈ orders             → per-PO fact (planned demand + execution,
                                  fused: both sides of the reference's
                                  po ⋈ delivery join come from the same
                                  lineitem row)

Caveat: the -ish testdata contains duplicate (l_orderkey, l_linenumber)
pairs, so no arithmetic po_id is a unique join key — the fused per-line
form below is the well-defined semantic.

Mapping choices (mirrored verbatim in the DuckDB oracle SQL so both
engines compute identical values):
  - po_id               = l_orderkey * 10 + l_linenumber  (line label)
  - order_date          = o_orderdate::date
  - promised_date       = order_date + 30 days (fixed promised lead time)
  - quantity_ordered    = l_quantity
  - delivery_date       = l_shipdate::date
  - quantity_delivered  = l_quantity * (1 - l_discount)
  - quality_issues      = 1 if l_returnflag = 'R' else 0
  - financial_risk_score = floor((10000 - s_acctbal) / 110)  (0..99)
  - category            = s_suppkey % 5 → 5 fixed names; country = n_name
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from supplier_performance_data_pipeline_spark.functions.scalar import on_time_flag
from supplier_performance_data_pipeline_spark.generator import CATEGORIES


def domain_suppliers(supplier: DataFrame, nation: DataFrame) -> DataFrame:
    """Supplier dimension with category/country/financial risk attributes."""
    cat = F.col("s_suppkey") % 5
    category = F.when(cat == 0, CATEGORIES[0])
    for i, name in enumerate(CATEGORIES[1:-1], start=1):
        category = category.when(cat == i, name)
    category = category.otherwise(CATEGORIES[-1])
    return (
        supplier.join(F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey)
        .select(
            F.col("s_suppkey").alias("supplier_id"),
            F.col("s_name").alias("supplier_name"),
            category.alias("category"),
            F.col("n_name").alias("country"),
            F.floor((F.lit(10000.0) - F.col("s_acctbal")) / F.lit(110.0))
            .cast("int")
            .alias("financial_risk_score"),
        )
    )


def domain_per_po_fused(
    supplier: DataFrame,
    nation: DataFrame,
    lineitem: DataFrame,
    orders: DataFrame,
) -> DataFrame:
    """Fused per-PO dataset: purchase-order and delivery attributes both
    derive from the SAME lineitem row, so the reference's po ⋈ deliveries
    join degenerates to an identity self-join here — fusing it halves the
    lineitem scans, removes one join, and avoids the fan-out a synthetic
    po_id join key would cause on data with duplicate (orderkey,
    linenumber) pairs.

    Plan at scale: lineitem ⋈ orders is the only non-broadcast join
    (both sides shuffle on orderkey unless orders broadcasts under AQE);
    the supplier dimension broadcasts.
    """
    sup = domain_suppliers(supplier, nation)
    order_date = F.col("o_orderdate").cast("date")
    promised = F.date_add(order_date, 30)
    delivery = F.col("l_shipdate").cast("date")
    per_po = lineitem.join(
        orders, lineitem.l_orderkey == orders.o_orderkey
    ).select(
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("po_id"),
        F.col("l_suppkey").alias("supplier_id"),
        order_date.alias("order_date"),
        promised.alias("promised_date"),
        F.col("l_quantity").alias("quantity_ordered"),
        delivery.alias("delivery_date"),
        (F.col("l_quantity") * (F.lit(1.0) - F.col("l_discount"))).alias(
            "quantity_delivered"
        ),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias(
            "quality_issues"
        ),
        F.datediff(delivery, promised).alias("delivery_delay_days"),
        on_time_flag(delivery, promised).alias("on_time_flag"),
    )
    return F.broadcast(sup).join(per_po, "supplier_id")


# The same mapping as ANSI SQL CTEs for the DuckDB oracle. Every queries()
# entry that goes through the domain adapter prepends this block.
DOMAIN_CTES = """
suppliers AS (
    SELECT
        s_suppkey AS supplier_id,
        s_name AS supplier_name,
        CASE s_suppkey % 5
            WHEN 0 THEN 'Packaging'
            WHEN 1 THEN 'Raw Materials'
            WHEN 2 THEN 'Logistics'
            WHEN 3 THEN 'Electronics'
            ELSE 'Textiles'
        END AS category,
        n_name AS country,
        CAST(FLOOR((10000.0 - s_acctbal) / 110.0) AS INTEGER) AS financial_risk_score
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
),
joined AS (
    -- Per-lineitem fused form: purchase-order and delivery attributes
    -- come from the SAME lineitem row (the -ish testdata has duplicate
    -- (orderkey, linenumber) pairs, so a synthetic po_id join key would
    -- fan out — the fused form is the well-defined semantic).
    SELECT
        s.supplier_id, s.supplier_name, s.category, s.country,
        s.financial_risk_score,
        l_orderkey * 10 + l_linenumber AS po_id,
        CAST(o_orderdate AS DATE) AS order_date,
        CAST(o_orderdate AS DATE) + 30 AS promised_date,
        l_quantity AS quantity_ordered,
        CAST(l_shipdate AS DATE) AS delivery_date,
        l_quantity * (1.0 - l_discount) AS quantity_delivered,
        CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS quality_issues,
        DATE_DIFF('day', CAST(o_orderdate AS DATE) + 30, CAST(l_shipdate AS DATE))
            AS delivery_delay_days,
        CASE WHEN CAST(l_shipdate AS DATE) <= CAST(o_orderdate AS DATE) + 30
             THEN 1 ELSE 0 END AS on_time_flag
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN suppliers s ON s.supplier_id = l_suppkey
),
supplier_kpis AS (
    SELECT
        supplier_id, supplier_name, category, country, financial_risk_score,
        AVG(on_time_flag) AS on_time_delivery_rate,
        AVG(delivery_delay_days) AS avg_delivery_delay_days,
        SUM(quantity_delivered) / NULLIF(SUM(quantity_ordered), 0) AS fill_rate,
        AVG(quality_issues) AS quality_issue_rate,
        COUNT(*) AS n_pos
    FROM joined
    GROUP BY supplier_id, supplier_name, category, country, financial_risk_score
)
""".strip()
