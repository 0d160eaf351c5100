"""Fault injection for the nightly load's integrity assertions: each
fault fails with an error naming the key or label and the count, and
clean input passes."""

from __future__ import annotations

import pytest
from pyspark.sql import types as T

from supplier_performance_data_pipeline_spark.operators.quality import (
    assert_referential_integrity,
    assert_unique_key,
    row_counts,
)
from supplier_performance_data_pipeline_spark.sources.readers import read_csv, read_parquet


def _keys(spark, *ids):
    return spark.createDataFrame([(i,) for i in ids], "po_id string")


def test_unique_key_passes_clean_input(spark):
    assert_unique_key(_keys(spark, "a", "b", "c"), "po_id")


def test_unique_key_rejects_duplicate(spark):
    with pytest.raises(AssertionError, match=r"'po_id'.*rows=3 nonnull=3 distinct=2"):
        assert_unique_key(_keys(spark, "a", "b", "b"), "po_id")


def test_unique_key_rejects_null(spark):
    with pytest.raises(AssertionError, match=r"'po_id'.*rows=3 nonnull=2 distinct=2"):
        assert_unique_key(_keys(spark, "a", None, "c"), "po_id")


def test_referential_integrity_passes_clean_input(spark):
    po, dl = _keys(spark, "a", "b"), _keys(spark, "b", "a")
    assert_referential_integrity(po, dl, "po_id", "po->delivery")
    assert_referential_integrity(dl, po, "po_id", "delivery->po")


def test_referential_integrity_rejects_po_without_delivery(spark):
    po, dl = _keys(spark, "a", "b", "c", "d"), _keys(spark, "a", "b")
    with pytest.raises(AssertionError, match=r"po->delivery: 2 orphans"):
        assert_referential_integrity(po, dl, "po_id", "po->delivery")
    assert_referential_integrity(dl, po, "po_id", "delivery->po")


def test_referential_integrity_rejects_delivery_without_po(spark):
    po, dl = _keys(spark, "a"), _keys(spark, "a", "z")
    assert_referential_integrity(po, dl, "po_id", "po->delivery")
    with pytest.raises(AssertionError, match=r"delivery->po: 1 orphans"):
        assert_referential_integrity(dl, po, "po_id", "delivery->po")


def _loaded(spark, tmp_path, name, *ids):
    """Keys as the nightly loads them: a CSV directory of 4 part files read
    by ``read_csv``, which packs it into one split."""
    path = str(tmp_path / name)
    _keys(spark, *ids).repartition(4).write.option("header", True).csv(path)
    return read_csv(spark, path, T.StructType([T.StructField("po_id", T.StringType())]))


def test_clean_checks_run_at_most_two_jobs_each(spark, tmp_path, job_count):
    po = _loaded(spark, tmp_path, "po", *"abcdefgh")
    dl = _loaded(spark, tmp_path, "dl", *"hgfedcba")
    _, n = job_count(lambda: assert_unique_key(po, "po_id"))
    assert n <= 2
    _, n = job_count(lambda: assert_referential_integrity(po, dl, "po_id", "po->delivery"))
    assert n <= 2
    tables = {"po": po, "dl": dl, "one": _keys(spark, "x")}
    counts, n = job_count(lambda: row_counts(tables))
    assert counts == {"po": 8, "dl": 8, "one": 1}
    assert n <= 2


def _reread(spark, tmp_path, name, *ids):
    """Keys as the nightly re-reads them: one Spark-written Parquet file
    read by ``read_parquet``, which declares it one partition."""
    path = str(tmp_path / name)
    _keys(spark, *ids).coalesce(1).write.parquet(path)
    return read_parquet(spark, path)


def test_checks_on_one_split_rereads_run_one_job(spark, tmp_path, job_count):
    po = _reread(spark, tmp_path, "po", *"abcdefgh")
    _, n = job_count(lambda: assert_unique_key(po, "po_id"))
    assert n == 1
    tables = {
        "po": po,
        "dl": _reread(spark, tmp_path, "dl", *"hgfedcba"),
        "one": _reread(spark, tmp_path, "one", "x"),
    }
    counts, n = job_count(lambda: row_counts(tables))
    assert counts == {"po": 8, "dl": 8, "one": 1}
    assert n == 1


def test_row_counts_reports_empty_table(spark):
    assert row_counts({"po": _keys(spark, "a", "b"), "empty": _keys(spark)}) == {
        "po": 2,
        "empty": 0,
    }
