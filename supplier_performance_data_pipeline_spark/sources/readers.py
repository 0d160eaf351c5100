"""Sources: schema-checked CSV and Parquet readers.

Parity with the reference's loader (reference: src/load_duckdb.py:74-95 —
CSV read into pre-declared typed tables) plus the Parquet path the driver
testdata uses. Column pruning and predicate pushdown are free because we
hand Spark a declarative scan; ``.explain`` on downstream queries shows
``PushedFilters`` / pruned ``ReadSchema``.

Both readers size their scan by one rule (``_packed``): an input of one
split is declared one partition, and a small input of many files is
packed into split-sized tasks. Declaring one partition moves no data,
since Spark reads such an input in one task anyway; it gives the plan
``SinglePartition`` output, which satisfies every clustered
distribution, so an aggregate over the table plans no ``Exchange`` and
runs as one job instead of two. Inputs above one split keep Spark's own
partitioning.
"""

from __future__ import annotations

import json
import math
import os

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from supplier_performance_data_pipeline_spark.schemas import (
    TESTDATA_SCHEMAS,
    TESTDATA_TABLES,
)


def read_csv(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    """CSV source with explicit schema — never inferSchema.

    Reference parity: src/load_duckdb.py:76-95 (read_csv_auto into
    pre-declared typed tables; the explicit DDL is the contract).

    The scan is sized by ``_packed``: an input of one split reads as one
    partition the planner knows of, so a nightly table of a few MB reads,
    aggregates and writes as one task and one file; large inputs keep
    Spark's splits.
    """
    if not _exists(spark, path):
        raise FileNotFoundError(f"input not found: {path}")
    df = spark.read.schema(schema).option("header", True).csv(path)
    return _packed(spark, df, _data_files(path))


def read_parquet(
    spark: SparkSession, path: str, schema: T.StructType | None = None
) -> DataFrame:
    """Parquet scan (vectorized reader, pushdown-capable); runs no job
    when ``schema`` is given or when Spark wrote the files.

    Footers are read in this process, once per file (``_footer_schema``).
    With ``schema``, the footer columns are checked against it first,
    because Spark would read a declared column the file lacks as
    all-NULL; a column of the wrong type fails the first read
    (``FAILED_READ_FILE.PARQUET_COLUMN_DATA_TYPE_MISMATCH``). Without it,
    the schema Spark's writer stored in every footer is declared, which
    is the schema Spark's own inference would take from it. Spark infers
    (one job) when any file lacks that schema, when the files disagree,
    or when the directory is partitioned.

    The scan is sized by ``_packed``, as ``read_csv``'s is: a one-split
    table, such as every testdata table at sf0.01 and every table the
    nightly writes, reads as one partition the planner knows of.
    """
    if not _exists(spark, path):
        raise FileNotFoundError(f"input not found: {path}")
    files = _data_files(path)
    schema = _footer_schema(path, files, schema)
    reader = spark.read if schema is None else spark.read.schema(schema)
    return _packed(spark, reader.parquet(path), files)


def _packed(spark: SparkSession, df: DataFrame, files: list[str]) -> DataFrame:
    """``df``, a scan of ``files``, coalesced to ``n = ceil(input bytes /
    split)`` partitions when ``n`` is 1 or fewer than the files.

    ``split`` is ``min(spark.sql.files.maxPartitionBytes,
    spark.sql.files.openCostInBytes)``. Spark never splits a scan finer
    than the first, and the second is its price of opening a file, in
    bytes it could scan instead, so a task reading less is mostly
    overhead. At ``n == 1`` Spark reads the input in one task already,
    and ``coalesce(1)`` moves no data: it only tells the planner that the
    scan is one partition (``SinglePartition``), so an aggregate or join
    above it needs no shuffle. ``coalesce`` never adds partitions, so an
    input above one split keeps Spark's own."""
    # the session's parsed values; the conf strings may carry a unit ("4k")
    conf = spark._jsparkSession.sessionState().conf()
    split = min(conf.filesMaxPartitionBytes(), conf.filesOpenCostInBytes())
    n = max(1, math.ceil(sum(map(os.path.getsize, files)) / split))
    return df.coalesce(n) if n == 1 or n < len(files) else df


# Where Spark's Parquet writer stores the written schema as JSON, and
# where its schema inference looks first (ParquetFileFormat.readSchemaFromFooter).
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def _footer_schema(
    path: str, files: list[str], declared: T.StructType | None
) -> T.StructType | None:
    """The schema to declare for a Parquet read of ``path``, whose data
    files are ``files``, from one pass over their footers; runs no Spark
    job.

    With ``declared``, raise unless every file, one file or an
    unpartitioned Spark-written directory, holds exactly its columns, and
    return it. Without, return the Spark-written schema that every file
    at ``path`` stores, or None when a file lacks it, the files disagree
    or the directory is partitioned (data files below a subdirectory)."""
    if declared is not None:
        want = set(declared.fieldNames())
        for f in files:
            got = set(pq.read_schema(f).names)
            if got != want:
                raise ValueError(
                    f"{f} does not match its declared schema: missing columns "
                    f"{sorted(want - got)}, undeclared columns {sorted(got - want)}"
                )
        return declared
    if any(os.path.dirname(os.path.relpath(f, path)) for f in files):
        return None
    stored = {(pq.read_schema(f).metadata or {}).get(_SPARK_SCHEMA_KEY) for f in files}
    if len(stored) != 1 or None in stored:
        return None
    return T.StructType.fromJson(json.loads(stored.pop()))


def _data_files(path: str) -> list[str]:
    """``path`` itself, or every data file below the directory ``path``."""
    if os.path.isfile(path):
        return [path]
    return [
        os.path.join(root, f)
        for root, _, names in os.walk(path)
        for f in names
        if not f.startswith(("_", "."))  # Spark's hidden-file rule
    ]


def spread_scan(df: DataFrame, *keys: str) -> DataFrame:
    """Repartition a scan to cluster parallelism ONLY when its file
    layout is narrower than the cluster.

    Parquet row groups are the unit of scan parallelism; a table written
    as one file/one row group (the local fixtures) runs every map-side
    transform before the first shuffle — shingling, MinHash, n-gram
    explodes — in ONE task. At 100 TB the scan already has thousands of
    splits, `getNumPartitions() >= parallelism` holds, and this is a
    no-op: it never adds a full-table shuffle on a wide scan (which WOULD
    be a scale bug). Hash-partitioning by the row key keeps the spread
    deterministic; downstream reductions are order-free by the engine's
    partition-invariance contract (tests sweep local[3]/7-shuffle).
    """
    n = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= n:
        return df
    return df.repartition(n, *keys) if keys else df.repartition(n)


def read_jsonl(
    spark: SparkSession, path: str, schema: T.StructType
) -> DataFrame:
    """JSON-lines source with explicit schema — document corpora
    commonly arrive as JSONL; schema-on-read (never infer, which would
    scan the data twice and guess types). Malformed lines surface in
    ``_corrupt_record``-free PERMISSIVE nulls rather than failing the
    job — at 100 TB a single bad line must not kill the read."""
    if not _exists(spark, path):
        raise FileNotFoundError(f"input not found: {path}")
    return spark.read.schema(schema).json(path)


def load_testdata(
    spark: SparkSession, sf_dir: str, tables: tuple[str, ...] = TESTDATA_TABLES
) -> dict[str, DataFrame]:
    """Load the testdata tables (TESTDATA.md) present under ``sf_dir``.

    Every table but ``events`` is read with its declared schema
    (``schemas.TESTDATA_SCHEMAS``), so loading runs one job, the
    ``events`` inference, and a file whose columns differ from the
    declaration fails here (see ``read_parquet``). The registered
    queries' own readers (``queries_*._t``) keep inferring: tests read
    warehouses of partial tables through them, such as a ``lineitem`` of
    three columns, which a declared schema would reject."""
    out: dict[str, DataFrame] = {}
    for name in tables:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            out[name] = read_parquet(spark, path, TESTDATA_SCHEMAS.get(name))
    return out


def _exists(spark: SparkSession, path: str) -> bool:
    # Local paths only in this deployment; existence guardrail mirrors the
    # reference's fail-fast checks (src/load_duckdb.py:24-27).
    return os.path.exists(path)


def read_orc(
    spark: SparkSession, path: str, schema: T.StructType | None = None
) -> DataFrame:
    """ORC source; optional explicit schema (ORC is self-describing,
    but pinning the schema keeps the read contract independent of
    whatever the writer last emitted — same discipline as read_csv)."""
    if not _exists(spark, path):
        raise FileNotFoundError(f"input not found: {path}")
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.orc(path)


def read_fixed_width(
    spark: SparkSession,
    path: str,
    fields: list[tuple[str, int, str]],
) -> DataFrame:
    """FIXED-WIDTH text source (the classic mainframe/enterprise feed
    format): each line is a concatenation of right-padded column
    slices; ``fields`` is [(name, width, spark_type), ...] in line
    order. Reads as ``spark.read.text`` (one scan, splittable), slices
    each column with substring arithmetic, trims the pad, and casts to
    the declared type — column positions ARE the schema, so the read
    contract is explicit by construction (the same never-inferSchema
    discipline as read_csv). Values must not contain leading/trailing
    whitespace of their own (the writer refuses them at write time,
    so the trim here removes only pad). Lines whose length differs
    from the declared total width fail loudly — out-of-range
    substrings would otherwise just yield empty/NULL fields, silently
    nulling every column of a sheared grid."""
    if not _exists(spark, path):
        raise FileNotFoundError(f"input not found: {path}")
    from pyspark.sql import functions as F

    total_width = sum(w for _, w, _ in fields)
    lines = spark.read.text(path).select(
        F.when(
            F.length("value") != total_width,
            F.raise_error(
                F.concat(
                    F.lit(
                        "fixed-width line width mismatch (expected "
                        f"{total_width}, got "
                    ),
                    F.length("value").cast("string"),
                    F.lit("): "),
                    F.col("value"),
                )
            ),
        )
        .otherwise(F.col("value"))
        .alias("value")
    )
    cols = []
    start = 1
    for name, width, typ in fields:
        cols.append(
            F.trim(F.substring(F.col("value"), start, width))
            .cast(typ)
            .alias(name)
        )
        start += width
    return lines.select(*cols)
