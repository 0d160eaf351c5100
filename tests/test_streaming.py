"""Streaming/batch agreement: the streaming hourly rollup over the
events parquet must equal the batch operator's result."""

from __future__ import annotations

import pandas as pd
import pytest

from supplier_performance_data_pipeline_spark.operators.windows import hourly_rollup
from supplier_performance_data_pipeline_spark.streaming.events import (
    normalize_event_ts,
    read_event_stream,
    run_to_memory_sink,
    streaming_hourly_rollup,
    streaming_sessionize,
)
from tests.conftest import SF_SMOKE

EVENTS_PATH = f"{SF_SMOKE}/events.parquet"
EVENTS_DIR = SF_SMOKE


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)]
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def test_streaming_hourly_equals_batch(spark):
    stream = read_event_stream(spark, EVENTS_DIR)
    run_to_memory_sink(streaming_hourly_rollup(stream), "hourly_out")
    got = _canon(spark.sql("SELECT * FROM hourly_out").toPandas())

    batch_events = spark.read.parquet(EVENTS_PATH)
    from pyspark.sql import functions as F

    batch_events = normalize_event_ts(batch_events)
    want = _canon(hourly_rollup(batch_events).toPandas())
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_streaming_sessionize_runs(spark):
    stream = read_event_stream(spark, EVENTS_DIR)
    run_to_memory_sink(streaming_sessionize(stream), "sessions_out")
    got = spark.sql("SELECT * FROM sessions_out").toPandas()
    assert len(got) > 0
    assert (got.n_events >= 1).all()
    assert (got.session_end >= got.session_start).all()


def test_streaming_dedup_bounded_state(spark):
    """Duplicated stream (same files read twice... simulated by a union
    of the batch twice through one microbatch) — dropDuplicates within
    the watermark must keep exactly one row per event_id."""
    from supplier_performance_data_pipeline_spark.streaming.events import (
        streaming_dedup,
    )

    stream = read_event_stream(spark, EVENTS_DIR)
    run_to_memory_sink(
        streaming_dedup(stream), "dedup_out", output_mode="append"
    )
    got = spark.sql(
        "SELECT COUNT(*) AS n, COUNT(DISTINCT event_id) AS d FROM dedup_out"
    ).collect()[0]
    batch_ids = (
        spark.read.parquet(EVENTS_PATH).select("event_id").distinct().count()
    )
    assert got.n == got.d == batch_ids


def test_streaming_interval_join_equals_batch(spark):
    """Stream-stream watermarked interval join must produce exactly the
    batch interval join's pairs on a bounded input."""
    from pyspark.sql import functions as F

    from supplier_performance_data_pipeline_spark.streaming.events import (
        interval_join,
        streaming_interval_join,
    )

    stream = read_event_stream(spark, EVENTS_DIR)
    run_to_memory_sink(
        streaming_interval_join(
            stream.filter(F.col("event_type") == "purchase"),
            stream.filter(F.col("event_type") == "error"),
        ),
        "sj_out",
        output_mode="append",
    )
    got = _canon(spark.sql("SELECT * FROM sj_out").toPandas())

    batch = normalize_event_ts(spark.read.parquet(EVENTS_PATH))
    want = _canon(
        interval_join(
            batch.filter(F.col("event_type") == "purchase"),
            batch.filter(F.col("event_type") == "error"),
        ).toPandas()
    )
    assert len(got) > 0
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_stream_static_dim_join_enriches_per_user_rollup(spark):
    """Stream-static join: a streaming aggregate enriched against a
    static dimension (the standard streaming-enrichment shape — the
    static side re-resolves per microbatch, no state). Streaming result
    must equal the batch twin of the same plan."""
    from pyspark.sql import functions as F

    stream = read_event_stream(spark, EVENTS_DIR)
    batch = normalize_event_ts(spark.read.parquet(EVENTS_PATH))
    # Static dimension derived from the batch data (user -> tier).
    dim = (
        batch.select("user_id").distinct()
        .withColumn("tier", F.when(F.col("user_id") % 2 == 0, "even")
                    .otherwise("odd"))
    )
    enriched = (
        stream.join(F.broadcast(dim), "user_id")
        .groupBy("tier")
        .agg(F.count("*").alias("n_events"))
    )
    run_to_memory_sink(enriched, "tier_rollup")
    got = _canon(spark.sql("SELECT * FROM tier_rollup").toPandas())
    want = _canon(
        batch.join(dim, "user_id")
        .groupBy("tier")
        .agg(F.count("*").alias("n_events"))
        .toPandas()
    )
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_run_to_memory_sink_stops_query_when_conf_restore_raises(spark, monkeypatch):
    # The query is already running when the shuffle-partitions restore
    # fails: the error must propagate and the query must not be left
    # active in the session.
    from pyspark.sql.conf import RuntimeConfig

    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    real_set = RuntimeConfig.set
    sets = []

    def restore_raises(self, k, v):
        if k == key:
            sets.append(v)
            if len(sets) == 2:
                raise RuntimeError("conf restore failed")
        return real_set(self, k, v)

    stream = read_event_stream(spark, EVENTS_DIR)
    monkeypatch.setattr(RuntimeConfig, "set", restore_raises)
    try:
        with pytest.raises(RuntimeError, match="conf restore failed"):
            run_to_memory_sink(
                streaming_hourly_rollup(stream),
                "restore_fails_out",
                shuffle_partitions=2,
            )
    finally:
        monkeypatch.undo()
        spark.conf.set(key, prev)
    assert sets == ["2", prev]
    assert spark.streams.active == []
