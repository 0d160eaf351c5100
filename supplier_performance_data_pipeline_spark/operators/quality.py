"""Data-quality assertions — the reference's load-time integrity checks.

Reference parity: src/load_duckdb.py:97-128 (row-count sanity prints and
bidirectional orphan checks via LEFT JOIN ... IS NULL). Spark-first, the
anti pattern is a ``left_anti`` join — same semantics, and Catalyst plans
it as a broadcast/shuffled anti join without materializing the outer rows.

PRIMARY KEY constraints have no Spark equivalent; ``assert_unique_key``
is the declarative replacement.

The assertions ask whether any row fails, not how many do: each runs a
``.limit(1)`` probe for one offending row, and only when it finds one
computes the counts its message reports, so a clean load pays for one
probe per check. ``row_counts`` counts every table in one aggregate over
their tagged union instead of one count action each.

``orphan_count`` (the failure message's count) and ``orphan_counts_df``
(the registered queries' join-free both-direction count) are two orphan
counts; one union aggregate for all five nightly checks would replace both.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def orphan_count(child: DataFrame, parent: DataFrame, on: str) -> int:
    """Rows of ``child`` with no match in ``parent`` on key ``on``
    (reference: src/load_duckdb.py:108-124, both directions)."""
    return child.join(parent, on, "left_anti").count()


def orphan_counts_df(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    left_name: str = "left_orphans",
    right_name: str = "right_orphans",
) -> DataFrame:
    """Both-direction orphan counts as a 1-row DataFrame (lazy; used by
    the correctness harness).

    One pass, one shuffle: tag-and-union the two key columns, count both
    sides per key (map-side partial agg collapses the fact rows before
    the exchange), then sum each side's rows over keys absent from the
    other side. Two anti-joins would shuffle both tables twice; this
    shuffles the union of key columns once — the shape that holds at
    100 TB. NULL keys never equi-match, so they count as orphans on
    their own side (same semantics as LEFT JOIN ... IS NULL).
    """
    tagged = left.select(
        F.col(left_key).alias("k"),
        F.lit(1).cast("long").alias("n_left"),
        F.lit(0).cast("long").alias("n_right"),
    ).unionAll(
        right.select(
            F.col(right_key).alias("k"),
            F.lit(0).cast("long").alias("n_left"),
            F.lit(1).cast("long").alias("n_right"),
        )
    )
    per_key = tagged.groupBy("k").agg(
        F.sum("n_left").alias("n_left"), F.sum("n_right").alias("n_right")
    )
    null_or = lambda other: F.col("k").isNull() | (F.col(other) == 0)  # noqa: E731
    return per_key.agg(
        F.coalesce(
            F.sum(F.when(null_or("n_right"), F.col("n_left"))), F.lit(0)
        ).alias(left_name),
        F.coalesce(
            F.sum(F.when(null_or("n_left"), F.col("n_right"))), F.lit(0)
        ).alias(right_name),
    )


def assert_unique_key(df: DataFrame, key: str) -> None:
    """PK-style uniqueness check: no key value twice and no NULL key.

    One probe for a duplicate or NULL key; on failure the message reports
    COUNT(*), COUNT(key) and COUNT(DISTINCT key)."""
    bad = (
        df.groupBy(key).count()
        .filter((F.col("count") > 1) | F.col(key).isNull())
        .limit(1)
        .collect()
    )
    if not bad:
        return
    row = df.agg(
        F.count("*").alias("n"),
        F.count(key).alias("n_nonnull"),
        F.countDistinct(key).alias("n_distinct"),
    ).collect()[0]
    raise AssertionError(
        f"key {key!r} not unique/non-null: rows={row.n} "
        f"nonnull={row.n_nonnull} distinct={row.n_distinct}"
    )


def assert_referential_integrity(
    child: DataFrame, parent: DataFrame, on: str, label: str = ""
) -> None:
    """Fail if any child row lacks a parent (reference's hard invariant:
    every PO has exactly one delivery and vice versa). One probe for an
    orphan; ``orphan_count`` runs only on failure, for the message."""
    if child.join(parent, on, "left_anti").limit(1).collect():
        n = orphan_count(child, parent, on)
        raise AssertionError(f"referential integrity violated {label}: {n} orphans")


def row_counts(tables: dict[str, DataFrame]) -> dict[str, int]:
    """Row-count sanity (reference: src/load_duckdb.py:97-105), as one
    ``groupBy(table).count()`` over the tagged union of the tables; a
    table absent from the result has no rows."""
    tagged = reduce(
        DataFrame.unionAll,
        (df.select(F.lit(name).alias("table")) for name, df in tables.items()),
    )
    got = {r["table"]: r["count"] for r in tagged.groupBy("table").count().collect()}
    return {name: got.get(name, 0) for name in tables}
