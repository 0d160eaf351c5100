"""Serving / presentation queries — the dashboard's widget functions.

Reference parity: dashboard/app.py:38-214. The reference loads
``supplier_risk_summary`` into pandas once and answers every filter,
rank, top-N and tile from that copy. ``api.create_views`` does the same:
it calls ``hold`` on the checkpointed summary, which keeps its rows (at
most ``HELD_ROWS``, one per supplier) on the driver as Arrow, NULL kept
apart from NaN. A widget function whose input is the held view
(``df.sameSemantics`` with it) or an earlier driver answer (``Rows``)
answers on the driver and runs no Spark job, for the request shapes the
dashboard sends:

* ``apply_filters``: a string column equal to a string, a double column
  between two doubles that are not NaN;
* ``top_k`` and ``preview``: column names or plain ``F.col(c)``,
  ``F.asc(c)``, ``F.col(c).desc()`` terms on numeric columns;
* ``kpi_tiles``, ``column_bounds`` and ``display_projection`` on double
  columns, ``distinct_values`` on a string column.

A checkpoint compares by its RDD object, so a replaced or re-created
view, and any view of a session restarted after ``stop``, compares
false. On the driver the data keeps Spark's semantics: NaN sorts above
every number, ASC puts NULLs first and DESC puts them last, ``avg`` and
``max`` return NaN when any value is NaN and skip NULLs (over no rows
they return NULL), rounding is HALF_UP on the double's decimal string
and never gives -0.0, and ``Rows.toPandas()`` returns what Spark's
``toPandas()`` would. Any other ``Rows`` method runs on Spark.

Any other input (a registry plan, a replaced view, a summary above the
cap) or request shape runs as a Spark plan, rows held so far going back
through ``createDataFrame``: filters, top-N and aggregates are pushed
into the DataFrame and only the small result is collected. Top-k
compiles to TakeOrderedAndProject — no full sort, no single-partition
shuffle.
"""

from __future__ import annotations

import decimal
import math
import re

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    NumericType,
    StringType,
    StructField,
    StructType,
)

HELD_ROWS = 10_000

_NAME = re.compile(r"\w+")
# A plain column with its default null ordering: F.col(c), F.asc(c), F.col(c).desc().
_ORDER = re.compile(r"Column<'(\w+)(?: (ASC NULLS FIRST|DESC NULLS LAST))?'>")
_FILL = {"int": 0, "float": 0.0, "str": ""}
_FLAT = (NumericType, StringType, BooleanType)
_DECIMAL = decimal.Context(prec=400)  # room for every finite double at any scale used

# Display columns: output -> (source column, factor, decimals).
_DISPLAY = {
    "on_time_delivery_rate_pct": ("on_time_delivery_rate", 100, 1),
    "fill_rate_pct": ("fill_rate", 100, 1),
    "quality_issue_rate_pct": ("quality_issue_rate", 100, 1),
    "avg_delivery_delay_days": ("avg_delivery_delay_days", 1, 2),
    "performance_score": ("performance_score", 1, 3),
    "risk_score": ("risk_score", 1, 3),
}


class Rows:
    """A widget answer computed on the driver: an Arrow table and its
    Spark schema. Every widget function accepts it as input, and any
    other DataFrame method runs on Spark, on these rows."""

    def __init__(self, spark: SparkSession, table: pa.Table, schema: StructType, jconf) -> None:
        self.sparkSession, self.table, self.schema, self._jconf = spark, table, schema, jconf

    def __getattr__(self, name: str):
        if name in ("sparkSession", "table", "schema", "_jconf"):  # not yet set
            raise AttributeError(name)
        return getattr(self.to_spark(), name)

    def toPandas(self) -> pd.DataFrame:
        """What Spark's Arrow ``toPandas()`` returns for these rows: for
        the numeric, string and boolean columns a held table has, Spark's
        converters keep the dtypes Arrow gives."""
        if not self._jconf.arrowPySparkEnabled():
            return self.to_spark().toPandas()
        names = self.table.column_names
        pdf = self.table.rename_columns([f"col_{i}" for i in range(len(names))]).to_pandas()
        pdf.columns = names
        return pdf

    def to_spark(self) -> DataFrame:
        return self.sparkSession.createDataFrame(self.table, self.schema)

    def _new(self, table: pa.Table, schema: StructType | None = None) -> Rows:
        return Rows(self.sparkSession, table, schema or self.schema, self._jconf)


_held: tuple[DataFrame, Rows] | None = None


def hold(df: DataFrame) -> None:
    """Collect ``df`` to the driver and answer widget requests on it from
    there. ``df`` must be materialized (a checkpoint): a plan equal to it
    is answered from these rows. Replaces the previous copy. A ``df`` of
    more than ``HELD_ROWS`` rows, or with a column that is not numeric,
    string or boolean or whose name is not a plain word, is not held."""
    global _held
    _held = None
    schema = df.schema
    if all(isinstance(f.dataType, _FLAT) and _NAME.fullmatch(f.name) for f in schema.fields):
        table = df.limit(HELD_ROWS + 1).toArrow()
        if table.num_rows <= HELD_ROWS:
            _held = (df, Rows(df.sparkSession, table, schema, df.sparkSession._jconf))


def _rows(df: DataFrame | Rows) -> Rows | None:
    """The driver-side rows of ``df``, or None if it must run on Spark."""
    if isinstance(df, Rows):
        return df
    held = _held  # read once: a concurrent hold replaces the pair whole
    if held is not None and df.sameSemantics(held[0]):
        return held[1]
    return None


def _spark(df: DataFrame | Rows) -> DataFrame:
    return df.to_spark() if isinstance(df, Rows) else df


def _column(rows: Rows, name: object, *kinds: str) -> tuple[np.ndarray, np.ndarray, str] | None:
    """(values with NULL slots filled, validity, kind) of a column whose
    kind ("int", "float" or "str") is one of ``kinds``; None otherwise."""
    if not isinstance(name, str) or name not in rows.table.column_names:
        return None
    col = rows.table.column(name)
    t = col.type
    kind = (
        "int" if pa.types.is_integer(t)
        else "float" if pa.types.is_float64(t)
        else "str" if pa.types.is_string(t) or pa.types.is_large_string(t)
        else None
    )
    if kind not in kinds:
        return None
    return pc.fill_null(col, _FILL[kind]).to_numpy(), pc.is_valid(col).to_numpy(), kind


def _sort_term(term: object) -> tuple[str, bool] | None:
    """(column, ascending) of a column name or a plain order term."""
    if isinstance(term, str):
        return term, True
    m = _ORDER.fullmatch(repr(term)) if isinstance(term, Column) else None
    return (m.group(1), m.group(2) != "DESC NULLS LAST") if m else None


def _order(rows: Rows, order: list) -> np.ndarray | None:
    """Row indices in Spark's sort order, ties in held order; None unless
    every term is a column name or a plain numeric column."""
    keys = []
    for term in reversed(order):
        t = _sort_term(term)
        c = t and _column(rows, t[0], "int", "float")
        if not c:
            return None
        (_, asc), (x, valid, kind) = t, c
        nan = np.isnan(x) if kind == "float" else np.zeros(len(x), bool)
        cls = np.where(valid, np.where(nan, 2, 1), 0)  # ASC: NULLs, numbers, NaN
        x = np.where(nan, 0, x)
        keys += [x if asc else -x if kind == "float" else ~x, cls if asc else 2 - cls]
    return np.lexsort(keys) if keys else np.arange(rows.table.num_rows)


def _half_up(x: float, scale: int) -> float:
    """Spark's ROUND(double, scale): HALF_UP on the double's decimal
    string; NaN and infinities pass through, and -0.0 comes out as 0.0."""
    if not math.isfinite(x):
        return x
    q = decimal.Decimal(1).scaleb(-scale)
    return float(decimal.Decimal(repr(x)).quantize(q, decimal.ROUND_HALF_UP, _DECIMAL)) + 0.0


def _mask(rows: Rows, equals: dict, between: dict) -> np.ndarray | None:
    """The rows that match, or None for a predicate the driver does not
    answer."""
    keep = np.ones(rows.table.num_rows, bool)
    for col, val in equals.items():
        c = type(val) is str and _column(rows, col, "str")
        if not c:
            return None
        keep &= c[1] & (c[0] == val)
    for col, (lo, hi) in between.items():
        bounds = type(lo) is float and type(hi) is float and not (math.isnan(lo) or math.isnan(hi))
        c = bounds and _column(rows, col, "float")
        if not c:
            return None
        keep &= c[1] & (c[0] >= lo) & (c[0] <= hi)
    return keep


def apply_filters(
    df: DataFrame | Rows,
    equals: dict[str, object] | None = None,
    between: dict[str, tuple[object, object]] | None = None,
) -> DataFrame | Rows:
    """Equality + range predicates (reference: dashboard/app.py:99-103).
    On the driver: equality of a string column to a string, and a range
    of a floating column between two floats that are not NaN (NULL and
    NaN rows never match such a range, as in Spark)."""
    rows = _rows(df)
    keep = None if rows is None else _mask(rows, equals or {}, between or {})
    if keep is not None:
        return rows._new(rows.table.take(np.flatnonzero(keep)))
    df = _spark(df)
    for col, val in (equals or {}).items():
        df = df.filter(F.col(col) == val)
    for col, (lo, hi) in (between or {}).items():
        df = df.filter(F.col(col).between(lo, hi))
    return df


def distinct_values(df: DataFrame | Rows, col: str) -> DataFrame | Rows:
    """Distinct non-null values for filter widgets
    (reference: dashboard/app.py:86-87). On the driver for a string
    column."""
    rows = _rows(df)
    c = rows is not None and _column(rows, col, "str")
    if c:
        vals = pa.array(np.unique(c[0][c[1]]), rows.table.schema.field(col).type)
        return rows._new(pa.table({col: vals}), StructType([rows.schema[col]]))
    return _spark(df).select(col).na.drop().distinct()


def top_k(df: DataFrame | Rows, order: list[Column], k: int) -> DataFrame | Rows:
    """ORDER BY ... LIMIT k (reference: src/compute_kpis.py:80-98,
    src/compute_risk.py:117-133, dashboard/app.py:149). On the driver
    when every order term is a plain numeric column.

    Callers should include a unique key as the final sort column so the
    selected SET is deterministic under ties.
    """
    rows = _rows(df)
    idx = _order(rows, order) if rows is not None and type(k) is int and k >= 0 else None
    if idx is not None:
        return rows._new(rows.table.take(idx[:k]))
    return _spark(df).orderBy(*order).limit(k)


def kpi_tiles(df: DataFrame | Rows, cols: list[str]) -> DataFrame | Rows:
    """Means over the (filtered) summary for dashboard tiles
    (reference: dashboard/app.py:107-111). On the driver for floating
    columns."""
    rows = _rows(df)
    stats = rows is not None and [_column(rows, c, "float") for c in cols]
    if stats and all(stats):
        names = [f"avg_{c}" for c in cols]
        means = [
            pa.array([x[valid].mean() if valid.any() else None], pa.float64())
            for x, valid, _ in stats
        ]
        return rows._new(
            pa.Table.from_arrays(means, names=names),
            StructType([StructField(n, DoubleType()) for n in names]),
        )
    return _spark(df).agg(*[F.avg(c).alias(f"avg_{c}") for c in cols])


def column_bounds(df: DataFrame | Rows, col: str) -> DataFrame | Rows:
    """min/max of one column for slider widgets
    (reference: dashboard/app.py:92-93). On the driver for a floating
    column."""
    rows = _rows(df)
    c = rows is not None and _column(rows, col, "float")
    if c:
        idx = _order(rows, [col])
        idx = idx[c[1][idx]]  # non-NULL rows, ascending, NaN last
        values = rows.table.column(col)
        ends = (
            [values.take(idx[:1]), values.take(idx[-1:])]
            if len(idx) else [pa.nulls(1, values.type)] * 2
        )
        t = rows.schema[col].dataType
        return rows._new(
            pa.Table.from_arrays(ends, names=[f"min_{col}", f"max_{col}"]),
            StructType([StructField(f"min_{col}", t), StructField(f"max_{col}", t)]),
        )
    return _spark(df).agg(F.min(col).alias(f"min_{col}"), F.max(col).alias(f"max_{col}"))


def display_projection(df: DataFrame | Rows) -> DataFrame | Rows:
    """Dashboard display columns (reference: dashboard/app.py:63-69):
    ``*_pct`` percent renderings of the rate columns (×100, 1 decimal)
    next to the raw values, delay rounded to 2, scores to 3. A pure
    projection — runs at the serving edge, never a shuffle."""
    rows = _rows(df)
    src = rows is not None and {out: _column(rows, s, "float") for out, (s, _, _) in _DISPLAY.items()}
    if src and all(src.values()):
        table, fields = rows.table, list(rows.schema.fields)
        for out, (s, factor, scale) in _DISPLAY.items():
            x, valid, _ = src[out]
            vals = pa.array([_half_up(v * factor, scale) for v in x.tolist()], pa.float64(), mask=~valid)
            field = StructField(out, DoubleType(), rows.schema[s].nullable)
            if out in table.column_names:
                i = table.column_names.index(out)
                table, fields[i] = table.set_column(i, out, vals), field
            else:
                table = table.append_column(out, vals)
                fields.append(field)
        return rows._new(table, StructType(fields))
    return _spark(df).withColumns(
        {
            out: F.round(F.col(s) * factor if factor != 1 else F.col(s), scale)
            for out, (s, factor, scale) in _DISPLAY.items()
        }
    )


def preview(df: DataFrame | Rows, key: str, n: int) -> DataFrame | Rows:
    """Deterministic table preview: the reference's ``SELECT * LIMIT n``
    (dashboard/app.py:204) ordered by key so the returned set is stable."""
    return top_k(df, [key], n)
