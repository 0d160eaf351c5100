"""Sinks: idempotent Parquet / catalog-table writers.

The reference's DROP-and-recreate idempotency (src/load_duckdb.py:33-36,
src/compute_kpis.py:20, src/compute_risk.py:26) maps to
``mode("overwrite")`` writes: every derived table is rebuildable from its
inputs, so a rerun is always clean.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_parquet(
    df: DataFrame, path: str, partition_by: list[str] | None = None
) -> None:
    """Overwrite-mode Parquet sink; optional hive-style partitioning.

    ``partition_by`` on a date/low-cardinality column is what makes
    partition pruning work at 100 TB — the reference has no notion of
    this (single DuckDB file), so it's engine value-add.
    """
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def write_csv(
    df: DataFrame, path: str, coalesce: int | None = None
) -> None:
    """Overwrite-mode CSV sink with header (reference parity: the
    generator's to_csv outputs, src/generate_data.py:190-196). Doubles
    round-trip exactly (shortest-representation formatting on write,
    exact parse on read); strings are quoted, so embedded delimiters
    survive."""
    if coalesce:
        df = df.coalesce(coalesce)
    df.write.mode("overwrite").option("header", True).csv(path)


def write_jsonl(
    df: DataFrame, path: str, coalesce: int | None = None
) -> None:
    """Overwrite-mode JSON-lines sink (interchange format for document
    corpora; one JSON object per line, splittable for re-reading)."""
    if coalesce:
        df = df.coalesce(coalesce)
    df.write.mode("overwrite").json(path)


def write_table(df: DataFrame, name: str, bucket_by: tuple[int, str] | None = None) -> None:
    """Materialize into the session catalog (CTAS parity:
    src/compute_kpis.py:27, src/compute_risk.py:38).

    ``bucket_by=(n, col)`` pre-shuffles once at write so later joins/aggs
    on ``col`` are co-located (no shuffle) — the scale path for repeatedly
    joined fact tables.
    """
    writer = df.write.mode("overwrite")
    if bucket_by:
        n, col = bucket_by
        writer = writer.bucketBy(n, col).sortBy(col)
    writer.saveAsTable(name)


def write_parquet_range_layout(
    df: DataFrame, path: str, order_cols: list[str], n_files: int
) -> None:
    """Range-clustered, sorted Parquet layout for min/max data skipping:
    ``repartitionByRange`` gives every output file a DISJOINT key range
    and ``sortWithinPartitions`` orders rows inside it, so parquet
    footer statistics become tight zone maps — a point or range
    predicate on the layout key prunes all but the owning files/row
    groups at scan time. This is the 1-dimensional half of what table
    formats call clustering/Z-ordering; at 100 TB it's the difference
    between scanning one file and scanning all of them for a selective
    key predicate. Cost: one range shuffle (sampled boundaries) + a
    per-partition sort, paid once at write time.
    """
    (
        df.repartitionByRange(n_files, *order_cols)
        .sortWithinPartitions(*order_cols)
        .write.mode("overwrite")
        .parquet(path)
    )


def write_parquet_zorder_layout(
    df: DataFrame,
    path: str,
    col_a: str,
    col_b: str,
    n_files: int,
    bits: int = 8,
) -> None:
    """Z-order (Morton-curve) clustered Parquet layout — the
    2-dimensional extension of ``write_parquet_range_layout``: rows
    sort by the bit-interleave of both keys' value-scaled buckets, so
    EACH column is locally clustered in every file and parquet min/max
    footer stats prune files for predicates on EITHER dimension or
    both — where a 1-d sort gives tight stats on the leading key only
    and near-useless full-domain stats on the second.

    Buckets are value-scaled (``floor((v - min) * 2^bits / span)``),
    which preserves order within each dimension — the property range
    predicates need; a hash bucket would interleave fine but destroy
    range pruning. Min/max per key cost ONE extra aggregate over the
    projected columns (at 100 TB: a map-side-combined 1-row agg —
    epsilon next to the write's own range shuffle), attached as a
    broadcast 1-row cross join. The interleave itself is a pure
    integer projection (2·bits shift/mask/or terms, whole-stage
    codegen); the z-value is dropped before writing — it exists only
    as the clustering key.
    """
    bounds = df.agg(
        F.min(col_a).alias("_min_a"),
        F.max(col_a).alias("_max_a"),
        F.min(col_b).alias("_min_b"),
        F.max(col_b).alias("_max_b"),
    )
    n_buckets = 1 << bits

    def bucket(col: str, lo: str, hi: str):
        span = (F.col(hi) - F.col(lo) + 1).cast("double")
        return F.floor(
            (F.col(col) - F.col(lo)).cast("double") * n_buckets / span
        ).cast("long")

    with_b = df.crossJoin(F.broadcast(bounds)).withColumns(
        {
            "_ba": bucket(col_a, "_min_a", "_max_a"),
            "_bb": bucket(col_b, "_min_b", "_max_b"),
        }
    )
    z = F.lit(0).cast("long")
    for i in range(bits):
        z = (
            z.bitwiseOR(
                F.shiftleft(
                    F.shiftright(F.col("_ba"), i).bitwiseAND(F.lit(1)),
                    2 * i + 1,
                )
            )
        ).bitwiseOR(
            F.shiftleft(
                F.shiftright(F.col("_bb"), i).bitwiseAND(F.lit(1)), 2 * i
            )
        )
    (
        with_b.withColumn("_z", z)
        .repartitionByRange(n_files, "_z")
        .sortWithinPartitions("_z")
        .drop("_z", "_ba", "_bb", "_min_a", "_max_a", "_min_b", "_max_b")
        .write.mode("overwrite")
        .parquet(path)
    )


def sweep_stale_artifacts(
    directory: str, prefix: str, ttl_seconds: int = 3600, spark=None
) -> None:
    """Housekeeping for per-session roundtrip artifacts: remove sibling
    ``prefix*`` entries not touched for ``ttl_seconds``.

    Write-roundtrip queries key their output by applicationId so
    concurrent sessions never race each other — but that means every
    DEAD session leaves a directory behind, and a long-running host
    (driver rounds + benches + test runs) accumulates them without
    bound.

    Liveness contract (the mtime heuristic, stated so call sites can
    hold it): every caller REWRITES its own artifact on every build of
    the query that reads it — artifact mtime therefore tracks the last
    build, and a read only ever follows its own build within the same
    query. An entry ``ttl_seconds`` stale can only belong to (a) a dead
    session or (b) a live session that hasn't built the owning query
    for a full TTL — and since that session rebuilds before its next
    read, case (b) loses cached bytes, never correctness. What the
    contract does NOT cover is a caller that writes once and re-reads
    across builds for over an hour without rewriting; don't create one.

    Pass ``spark`` when the swept entries are catalog tables (CTAS /
    bucketed): the directory name doubles as the table name, and
    dropping the catalog entry alongside the files keeps THIS session's
    catalog and filesystem in sync (other sessions' in-memory catalogs
    are unreachable — and die with their session, so no durable desync
    is possible in local/in-memory-catalog deployments; on a SHARED
    hive metastore, run the sweep with a session attached to it)."""
    import os
    import shutil
    import time

    try:
        entries = os.listdir(directory)
    except OSError:
        return
    now = time.time()
    for name in entries:
        if not name.startswith(prefix):
            continue
        path = os.path.join(directory, name)
        try:
            if now - os.path.getmtime(path) > ttl_seconds:
                if spark is not None:
                    spark.sql(f"DROP TABLE IF EXISTS `{name}`")
                shutil.rmtree(path, ignore_errors=True)
        except OSError:
            pass


def write_replay_file(
    df, directory: str, name: str, mtime: float
) -> str:
    """One sequenced replay file for file-source streaming tests: write
    ``df`` as a single parquet part, surface it as ``directory/name``,
    and pin its mtime so ``maxFilesPerTrigger=1`` replays files in the
    intended micro-batch order. Shared by the streaming-equivalence
    queries and tests — the replay contract (single part, rename,
    backdated mtime) lives here, not in three hand-rolled copies."""
    import glob as _glob
    import os as _os

    tmp = _os.path.join(directory, f"{name}.dir")
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    src = _glob.glob(_os.path.join(tmp, "part-*.parquet"))[0]
    dst = _os.path.join(directory, name)
    _os.replace(src, dst)
    _os.utime(dst, (mtime, mtime))
    return dst


def write_orc(
    df: DataFrame, path: str, coalesce: int | None = None
) -> None:
    """Overwrite-mode ORC sink — the columnar interchange format for
    Hive-ecosystem consumers (predicate pushdown + column pruning work
    through Spark's native ORC reader exactly as for parquet, so a
    table landed here stays scan-efficient at 100 TB)."""
    if coalesce:
        df = df.coalesce(coalesce)
    df.write.mode("overwrite").orc(path)


def write_fixed_width(
    df, path: str, fields: list[tuple[str, int, str]]
) -> None:
    """FIXED-WIDTH text sink (pair of ``readers.read_fixed_width``):
    every column renders to a string and right-pads with spaces to its
    declared width; the row is the plain concatenation. Fails loudly at
    write time if any rendered value exceeds its width — silent
    truncation would corrupt the column grid for every later field.
    Overwrite mode keeps the sink idempotent (S4)."""
    from pyspark.sql import functions as F

    parts = []
    for name, width, _typ in fields:
        rendered = F.col(name).cast("string")
        # Three loud failure modes, in order of check: NULL (would
        # null the whole concat row -> the text writer emits a bare
        # empty line that reads back as ALL-NULL fields), embedded
        # line breaks (pass the width guard but split one logical row
        # across physical lines, shearing the grid for the next row),
        # and overflow. Fixed-width has no NULL representation; encode
        # nullable columns explicitly (sentinel) before writing.
        guarded = (
            F.when(
                rendered.isNull(),
                F.raise_error(
                    F.lit(
                        f"fixed-width NULL in '{name}': the format has "
                        "no NULL representation — encode a sentinel "
                        "before writing"
                    )
                ),
            )
            .when(
                rendered.contains("\n") | rendered.contains("\r"),
                F.raise_error(
                    F.concat(
                        F.lit(
                            f"fixed-width line break in '{name}': "
                        ),
                        rendered,
                    )
                ),
            )
            .when(
                F.length(rendered) > width,
                F.raise_error(
                    F.concat(
                        F.lit(
                            f"fixed-width overflow in '{name}' "
                            f"(w={width}): "
                        ),
                        rendered,
                    )
                ),
            )
            .when(
                rendered != F.trim(rendered),
                F.raise_error(
                    F.concat(
                        F.lit(
                            f"fixed-width edge whitespace in '{name}': "
                            "the reader trims pad, so leading/trailing "
                            "spaces round-trip corrupted — encode them "
                            "before writing: "
                        ),
                        rendered,
                    )
                ),
            )
            .otherwise(F.rpad(rendered, width, " "))
        )
        parts.append(guarded)
    df.select(F.concat(*parts).alias("value")).write.mode("overwrite").text(
        path
    )
