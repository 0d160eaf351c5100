"""IO layer: CSV round-trip with explicit schema, partitioned Parquet,
overwrite idempotency (SURVEY.md §2.1 S1-S6)."""

from __future__ import annotations

import datetime as dt
import decimal
import glob

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from supplier_performance_data_pipeline_spark.sources.readers import (
    read_csv,
    read_parquet,
)
from supplier_performance_data_pipeline_spark.sources.writers import write_parquet

SCHEMA = T.StructType(
    [
        T.StructField("id", T.IntegerType()),
        T.StructField("name", T.StringType()),
        T.StructField("d", T.DateType()),
        T.StructField("x", T.DoubleType()),
    ]
)

ROWS = [
    (1, "a", dt.date(2024, 1, 1), 1.5),
    (2, "b", dt.date(2024, 6, 2), -2.25),
    (3, None, None, None),
]


def test_csv_round_trip_schema(spark, tmp_path):
    df = spark.createDataFrame(ROWS, SCHEMA)
    path = str(tmp_path / "t.csv")
    df.write.option("header", True).mode("overwrite").csv(path)
    back = read_csv(spark, path, SCHEMA)
    assert back.schema == SCHEMA  # declared, never inferred
    assert sorted(map(tuple, back.collect())) == sorted(ROWS)


def _csv_parts(spark, tmp_path, n_parts):
    rows = [(i, f"n{i}", dt.date(2024, 1, 1 + i % 28), i / 4) for i in range(40)]
    path = str(tmp_path / "parts.csv")
    spark.createDataFrame(rows, SCHEMA).repartition(n_parts).write.option(
        "header", True
    ).mode("overwrite").csv(path)
    assert len(glob.glob(f"{path}/part-*.csv")) == n_parts
    return path, rows


def test_small_csv_reads_as_one_task(spark, tmp_path):
    path, rows = _csv_parts(spark, tmp_path, 4)
    back = read_csv(spark, path, SCHEMA)
    assert back.rdd.getNumPartitions() == 1
    assert sorted(map(tuple, back.collect())) == rows


def test_csv_above_open_cost_keeps_spark_splits(spark, tmp_path):
    path, rows = _csv_parts(spark, tmp_path, 4)
    tiny = spark.newSession()
    tiny.conf.set("spark.sql.files.openCostInBytes", "8")
    back = read_csv(tiny, path, SCHEMA)
    plain = tiny.read.schema(SCHEMA).option("header", True).csv(path)
    assert back.rdd.getNumPartitions() == plain.rdd.getNumPartitions() > 1
    assert sorted(map(tuple, back.collect())) == rows


def _spark_written(spark, tmp_path, fmt, n_files):
    """40 keyed rows written by Spark as ``n_files`` files of ``fmt``, and
    the package's reader of it."""
    rows = [(i, f"n{i}", dt.date(2024, 1, 1 + i % 28), i / 4) for i in range(40)]
    path = str(tmp_path / f"t.{fmt}")
    df = spark.createDataFrame(rows, SCHEMA).repartition(n_files)
    if fmt == "csv":
        df.write.option("header", True).csv(path)
        return path, lambda s: read_csv(s, path, SCHEMA)
    df.write.parquet(path)
    return path, lambda s: read_parquet(s, path)


def _plain(session, fmt, path):
    if fmt == "csv":
        return session.read.schema(SCHEMA).option("header", True).csv(path)
    return session.read.parquet(path)


def _by_day(df):
    return df.groupBy("d").agg(F.count("*").alias("n"), F.sum("x").alias("x"))


@pytest.mark.parametrize("fmt", ["csv", "parquet"])
def test_one_split_aggregates_without_a_shuffle(spark, tmp_path, job_count, fmt):
    path, read = _spark_written(spark, tmp_path, fmt, 1)
    agg = _by_day(read(spark))
    assert "Exchange" not in agg._jdf.queryExecution().executedPlan().toString()
    got, jobs = job_count(agg.collect)
    assert jobs == 1
    assert sorted(got) == sorted(_by_day(_plain(spark, fmt, path)).collect())


@pytest.mark.parametrize("fmt", ["csv", "parquet"])
def test_above_one_split_keeps_spark_partitioning(spark, tmp_path, fmt):
    path, read = _spark_written(spark, tmp_path, fmt, 1)
    tiny = spark.newSession()
    tiny.conf.set("spark.sql.files.openCostInBytes", "8")
    back = read(tiny)
    assert back.rdd.getNumPartitions() == _plain(tiny, fmt, path).rdd.getNumPartitions() > 1
    plan = _by_day(back)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" in plan


@pytest.mark.parametrize("fmt", ["csv", "parquet"])
def test_small_max_partition_bytes_keeps_spark_splits(spark, tmp_path, fmt):
    # A session that asks for splits smaller than the open cost is never
    # packed below them.
    path, read = _spark_written(spark, tmp_path, fmt, 4)
    small = spark.newSession()
    small.conf.set("spark.sql.files.maxPartitionBytes", "8")
    back = read(small)
    assert back.rdd.getNumPartitions() == _plain(small, fmt, path).rdd.getNumPartitions() > 4


WIDE = T.StructType(
    [
        T.StructField("id", T.LongType(), nullable=False),
        T.StructField("d", T.DateType()),
        T.StructField("ts", T.TimestampNTZType()),
        T.StructField("amt", T.DecimalType(12, 2)),
        T.StructField(
            "s",
            T.StructType(
                [T.StructField("a", T.IntegerType()), T.StructField("b", T.StringType())]
            ),
        ),
    ]
)
WIDE_ROWS = [
    (1, dt.date(2024, 1, 1), dt.datetime(2024, 1, 1, 2, 3), decimal.Decimal("1.25"), (1, "x")),
    (2, None, None, None, None),
    (3, dt.date(2024, 2, 29), dt.datetime(2024, 2, 29), decimal.Decimal("-7.00"), (None, "z")),
]


def test_spark_written_parquet_rereads_without_a_job(spark, tmp_path, job_count):
    path = str(tmp_path / "wide")
    write_parquet(spark.createDataFrame(WIDE_ROWS, WIDE).repartition(2), path)
    back, jobs = job_count(lambda: read_parquet(spark, path))
    assert jobs == 0
    assert back.schema.json() == spark.read.parquet(path).schema.json()
    assert sorted(map(tuple, back.collect())) == WIDE_ROWS


def test_pyarrow_written_parquet_infers(spark, tmp_path, job_count):
    path = str(tmp_path / "pa.parquet")
    pq.write_table(pa.table({"x": [1, 2], "y": ["a", None]}), path)
    back, jobs = job_count(lambda: read_parquet(spark, path))
    assert jobs == 1
    assert back.schema.json() == spark.read.parquet(path).schema.json()


def test_partitioned_parquet_keeps_partition_column(spark, tmp_path):
    path = str(tmp_path / "hive")
    write_parquet(spark.createDataFrame(WIDE_ROWS, WIDE), path, partition_by=["id"])
    back = read_parquet(spark, path)
    assert back.schema.json() == spark.read.parquet(path).schema.json()
    assert "id" in back.columns
    assert sorted(r.id for r in back.collect()) == [1, 2, 3]


def test_parquet_files_of_different_schemas_infer(spark, tmp_path, job_count):
    path = str(tmp_path / "mixed")
    spark.createDataFrame([(1, "a")], "id long, a string").write.parquet(path)
    spark.createDataFrame([(2, 5)], "id long, b int").write.mode("append").parquet(path)
    back, jobs = job_count(lambda: read_parquet(spark, path))
    assert jobs == 1
    assert back.schema.json() == spark.read.parquet(path).schema.json()


def test_partitioned_parquet_prunes(spark, tmp_path):
    df = spark.createDataFrame(ROWS, SCHEMA).withColumn(
        "part", F.coalesce(F.col("id") % 2, F.lit(0))
    )
    path = str(tmp_path / "p")
    write_parquet(df, path, partition_by=["part"])
    back = spark.read.parquet(path)
    pruned = back.filter(F.col("part") == 1)
    assert pruned.count() == len([r for r in ROWS if r[0] % 2 == 1])
    # Partition filter must reach the scan, not a post-filter.
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan


def test_overwrite_idempotent(spark, tmp_path):
    df = spark.createDataFrame(ROWS, SCHEMA)
    path = str(tmp_path / "o")
    write_parquet(df, path)
    write_parquet(df, path)  # rerun must not duplicate or fail
    assert spark.read.parquet(path).count() == len(ROWS)


def test_bucketed_tables_join_without_shuffle(spark, tmp_path):
    """write_table(bucket_by=...) pre-shuffles at write time; a later
    join on the bucket column must then be shuffle-free (the 100 TB
    strategy for repeatedly-joined facts)."""
    import re

    from supplier_performance_data_pipeline_spark.sources.writers import (
        write_table,
    )

    left = spark.range(1000).selectExpr("id AS k", "id * 2 AS a")
    right = spark.range(1000).selectExpr("id AS k", "id * 3 AS b")
    write_table(left, "bkt_left", bucket_by=(4, "k"))
    write_table(right, "bkt_right", bucket_by=(4, "k"))
    try:
        joined = spark.table("bkt_left").join(spark.table("bkt_right"), "k")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert not re.search(r"Exchange hashpartitioning", plan)
        assert joined.count() == 1000
    finally:
        spark.sql("DROP TABLE IF EXISTS bkt_left")
        spark.sql("DROP TABLE IF EXISTS bkt_right")


def test_jsonl_round_trip_schema(spark, tmp_path):
    from supplier_performance_data_pipeline_spark.sources.readers import (
        read_jsonl,
    )
    from supplier_performance_data_pipeline_spark.sources.writers import (
        write_jsonl,
    )

    df = spark.createDataFrame(ROWS, SCHEMA)
    path = str(tmp_path / "docs.jsonl")
    write_jsonl(df, path)
    back = read_jsonl(spark, path, SCHEMA)
    assert back.schema == SCHEMA
    assert sorted(map(tuple, back.collect()), key=str) == sorted(
        map(tuple, ROWS), key=str
    )


def test_range_layout_files_have_disjoint_key_ranges(spark, tmp_path):
    """The data-skipping precondition: every output file owns a disjoint
    range of the layout key, so parquet min/max footer stats can prune
    files for selective predicates."""
    import glob as _glob

    import pyarrow.parquet as _pq

    from supplier_performance_data_pipeline_spark.sources.writers import (
        write_parquet_range_layout,
    )

    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    path = str(tmp_path / "li_ranged")
    write_parquet_range_layout(li, path, ["l_orderkey"], n_files=4)

    spans = []
    for f in _glob.glob(path + "/*.parquet"):
        md = _pq.read_metadata(f)
        idx = md.schema.names.index("l_orderkey")
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            mins.append(st.min)
            maxs.append(st.max)
        spans.append((min(mins), max(maxs)))
    assert len(spans) >= 3  # range partitioner actually split the key space
    spans.sort()
    for (lo1, hi1), (lo2, hi2) in zip(spans, spans[1:]):
        assert hi1 <= lo2  # disjoint (boundary key may touch, never overlap)
    # And the data survives intact.
    assert spark.read.parquet(path).count() == li.count()


def test_tune_session_respects_explicit_shuffle_partitions(spark):
    """tune_session right-sizes only sessions still on Spark's stock
    200 — an owner-chosen value (test fixtures, get_spark callers, a
    cluster sized to its data) must survive."""
    from supplier_performance_data_pipeline_spark.session import tune_session

    before = spark.conf.get("spark.sql.shuffle.partitions")
    assert before != "200"  # the fixture chose its own value
    tune_session(spark)
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "200")
        tune_session(spark)
        assert spark.conf.get("spark.sql.shuffle.partitions") == "32"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)


def test_zorder_layout_clusters_both_dimensions(spark, tmp_path):
    """The 2-d data-skipping precondition: under the z-order layout
    EVERY file's footer stats are tight on BOTH keys (each file covers
    roughly half of each domain at 4 files), whereas a 1-d range layout
    is tight on its leading key only — the trailing key spans ~the full
    domain in every file, so conjunctive predicates can't prune."""
    import glob as _glob

    import pyarrow.parquet as _pq

    from supplier_performance_data_pipeline_spark.sources.writers import (
        write_parquet_range_layout,
        write_parquet_zorder_layout,
    )

    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet").select(
        "l_partkey", "l_suppkey"
    )
    lo_a, hi_a, lo_b, hi_b = li.agg(
        *[f("l_partkey") for f in (F.min, F.max)],
        *[f("l_suppkey") for f in (F.min, F.max)],
    ).first()
    span_a, span_b = hi_a - lo_a + 1, hi_b - lo_b + 1

    def file_spans(path):
        spans = []
        for fn in _glob.glob(path + "/*.parquet"):
            md = _pq.read_metadata(fn)
            cols = {}
            for key in ("l_partkey", "l_suppkey"):
                idx = md.schema.names.index(key)
                mins, maxs = [], []
                for rg in range(md.num_row_groups):
                    st = md.row_group(rg).column(idx).statistics
                    mins.append(st.min)
                    maxs.append(st.max)
                cols[key] = max(maxs) - min(mins) + 1
            spans.append(cols)
        return spans

    zpath = str(tmp_path / "li_z")
    write_parquet_zorder_layout(li, zpath, "l_partkey", "l_suppkey", 8)
    zspans = file_spans(zpath)
    assert len(zspans) >= 6
    # Sampled range boundaries let the odd file straddle a z-quadrant
    # edge (inheriting a full span on one key), so assert the CLUSTER
    # property on the majority: most files tight on BOTH dimensions.
    tight_a = sum(s["l_partkey"] <= 0.65 * span_a for s in zspans)
    tight_b = sum(s["l_suppkey"] <= 0.65 * span_b for s in zspans)
    assert tight_a >= len(zspans) * 2 // 3
    assert tight_b >= len(zspans) * 2 // 3

    rpath = str(tmp_path / "li_r")
    write_parquet_range_layout(li, rpath, ["l_partkey"], n_files=4)
    rspans = file_spans(rpath)
    # The 1-d layout's trailing key is UNclustered: full-domain stats.
    assert all(s["l_suppkey"] >= 0.9 * span_b for s in rspans)

    # And the z layout is lossless.
    assert spark.read.parquet(zpath).count() == li.count()
