"""Reference results the benchmark checks the program's outputs against.

Every check runs outside the timed phase.

* Pipeline: the reference's KPI and risk SQL, run by DuckDB on the same
  CSV inputs, compared at 6 decimal places keyed by ``supplier_id``.
* Dashboard: the reference dashboard's own pandas logic, run over the
  collected ``supplier_risk_summary``.
* Registry: each query's registered DuckDB oracle, compared with the
  repository's oracle comparison (``tests/oracle_utils``).
"""

from __future__ import annotations

import decimal

import duckdb
import numpy as np
import pandas as pd

KPI_SQL = """
SELECT s.supplier_id, s.supplier_name, s.category, s.country,
       s.financial_risk_score,
       AVG(CASE WHEN d.delivery_date <= p.promised_date THEN 1 ELSE 0 END)::DOUBLE
           AS on_time_delivery_rate,
       AVG(DATE_DIFF('day', p.promised_date, d.delivery_date))::DOUBLE
           AS avg_delivery_delay_days,
       SUM(d.quantity_delivered)::DOUBLE / NULLIF(SUM(p.quantity_ordered), 0)
           AS fill_rate,
       AVG(d.quality_issues)::DOUBLE AS quality_issue_rate,
       COUNT(*) AS n_pos
FROM suppliers s
JOIN purchase_orders p ON p.supplier_id = s.supplier_id
JOIN deliveries d ON d.po_id = p.po_id
GROUP BY ALL
"""

RISK_SQL = """
WITH b AS (
  SELECT MIN(on_time_delivery_rate) AS lo_t, MAX(on_time_delivery_rate) AS hi_t,
         MIN(avg_delivery_delay_days) AS lo_d, MAX(avg_delivery_delay_days) AS hi_d,
         MIN(fill_rate) AS lo_f, MAX(fill_rate) AS hi_f,
         MIN(quality_issue_rate) AS lo_q, MAX(quality_issue_rate) AS hi_q
  FROM kpis
), n AS (
  SELECT k.*,
    CASE WHEN hi_t = lo_t THEN 1.0
         ELSE (on_time_delivery_rate - lo_t) / (hi_t - lo_t) END AS norm_on_time,
    CASE WHEN hi_d = lo_d THEN 1.0
         ELSE 1.0 - (avg_delivery_delay_days - lo_d) / (hi_d - lo_d) END AS norm_delay,
    CASE WHEN hi_f = lo_f THEN 1.0
         ELSE (fill_rate - lo_f) / (hi_f - lo_f) END AS norm_fill,
    CASE WHEN hi_q = lo_q THEN 1.0
         ELSE 1.0 - (quality_issue_rate - lo_q) / (hi_q - lo_q) END AS norm_quality
  FROM kpis k CROSS JOIN b
)
SELECT *, (norm_on_time + norm_delay + norm_fill + norm_quality) / 4.0
          AS performance_score,
       0.7 * (1.0 - (norm_on_time + norm_delay + norm_fill + norm_quality) / 4.0)
       + 0.3 * (financial_risk_score / 100.0) AS risk_score
FROM n
"""


def pipeline_reference(csv_dirs: dict[str, str]) -> dict[str, pd.DataFrame]:
    """The reference's ``supplier_kpis`` and ``supplier_risk_summary`` over
    the CSV part files in each input directory."""
    con = duckdb.connect()
    try:
        for name, path in csv_dirs.items():
            con.execute(
                f"CREATE VIEW {name} AS SELECT * FROM read_csv('{path}/*.csv', header=true)"
            )
        con.execute(f"CREATE TABLE kpis AS {KPI_SQL}")
        return {
            "supplier_kpis": con.execute("SELECT * FROM kpis").fetchdf(),
            "supplier_risk_summary": con.execute(RISK_SQL).fetchdf(),
        }
    finally:
        con.close()


def frames_agree_6dp(actual: pd.DataFrame, expected: pd.DataFrame, key: str) -> str | None:
    """None when both frames hold the same keys and columns and every
    numeric value agrees to 6 decimal places; else a description."""
    if sorted(actual.columns) != sorted(expected.columns):
        return f"columns {sorted(actual.columns)} != {sorted(expected.columns)}"
    a = actual.sort_values(key).reset_index(drop=True)
    e = expected.sort_values(key).reset_index(drop=True)[list(a.columns)]
    if len(a) != len(e) or not (a[key].astype(str) == e[key].astype(str)).all():
        return f"keys differ ({len(a)} vs {len(e)} rows)"
    for col in a.columns:
        if pd.api.types.is_numeric_dtype(e[col]):
            av, ev = a[col].astype(float).to_numpy(), e[col].astype(float).to_numpy()
            if not np.allclose(av, ev, rtol=0.0, atol=5e-7, equal_nan=True):
                return f"column {col} differs beyond 6 dp"
        elif not (a[col].astype(str) == e[col].astype(str)).all():
            return f"column {col} differs"
    return None


# --- dashboard widgets (reference dashboard logic in pandas) ---------------

NUMERIC_COLS = [
    "on_time_delivery_rate",
    "avg_delivery_delay_days",
    "fill_rate",
    "quality_issue_rate",
    "performance_score",
    "risk_score",
]
TILE_COLS = ["on_time_delivery_rate", "fill_rate", "quality_issue_rate", "risk_score"]


def half_up(x: float, scale: int) -> float:
    """Spark's ROUND(double, scale): HALF_UP on the shortest decimal repr."""
    if x is None or (isinstance(x, float) and np.isnan(x)):
        return x
    q = decimal.Decimal(1).scaleb(-scale)
    return float(decimal.Decimal(repr(float(x))).quantize(q, decimal.ROUND_HALF_UP))


def dashboard_reference(req: dict, summary: pd.DataFrame, lineitem: pd.DataFrame) -> pd.DataFrame:
    """The response a request should get, computed in pandas."""
    kind = req["kind"]
    df = summary
    if kind in ("filtered_table", "kpi_tiles"):
        for col, val in req.get("equals", {}).items():
            df = df[df[col] == val]
        for col, (lo, hi) in req.get("between", {}).items():
            df = df[(df[col] >= lo) & (df[col] <= hi)]
    if kind == "filtered_table":
        df = df.sort_values(["risk_score", "supplier_id"], ascending=[False, True])
        df = df.head(req["k"]).copy()
        for col, scale in (
            ("on_time_delivery_rate", 1),
            ("fill_rate", 1),
            ("quality_issue_rate", 1),
        ):
            df[f"{col}_pct"] = [half_up(v * 100, scale) for v in df[col]]
        for col, scale in (
            ("avg_delivery_delay_days", 2),
            ("performance_score", 3),
            ("risk_score", 3),
        ):
            df[col] = [half_up(v, scale) for v in df[col]]
        return df
    if kind == "top_k":
        return df.sort_values(["risk_score", "supplier_id"], ascending=[False, True]).head(
            req["k"]
        )
    if kind == "kpi_tiles":
        return pd.DataFrame({f"avg_{c}": [df[c].mean()] for c in TILE_COLS})
    if kind == "column_bounds":
        c = req["col"]
        return pd.DataFrame({f"min_{c}": [df[c].min()], f"max_{c}": [df[c].max()]})
    if kind == "distinct_values":
        c = req["col"]
        return pd.DataFrame({c: sorted(df[c].dropna().unique())})
    if kind == "preview":
        return df.sort_values("supplier_id").head(req["n"])
    if kind == "drilldown":
        li = lineitem[lineitem["l_suppkey"] == req["supplier_id"]]
        g = li.groupby("l_returnflag", sort=True)
        return pd.DataFrame(
            {
                "l_returnflag": list(g.groups),
                "n_lines": g.size().to_numpy(),
                "qty": g["l_quantity"].sum().to_numpy(),
                "revenue": g["l_extendedprice"].sum().to_numpy(),
            }
        )
    raise ValueError(f"unknown request kind {kind!r}")


def responses_agree(actual: pd.DataFrame, expected: pd.DataFrame) -> str | None:
    """Order-insensitive comparison of a response with its reference:
    exact for keys and strings, 1e-9 relative for means and sums."""
    if sorted(actual.columns) != sorted(expected.columns):
        return f"columns {sorted(actual.columns)} != {sorted(expected.columns)}"
    if len(actual) != len(expected):
        return f"{len(actual)} rows, expected {len(expected)}"
    cols = sorted(actual.columns)
    a = actual[cols].sort_values(cols).reset_index(drop=True)
    e = expected[cols].sort_values(cols).reset_index(drop=True)
    for c in cols:
        if pd.api.types.is_float_dtype(a[c]) or pd.api.types.is_float_dtype(e[c]):
            if not np.allclose(
                a[c].astype(float), e[c].astype(float), rtol=1e-9, atol=1e-12,
                equal_nan=True,
            ):
                return f"column {c} differs"
        elif not (a[c].astype(str).to_numpy() == e[c].astype(str).to_numpy()).all():
            return f"column {c} differs"
    return None
