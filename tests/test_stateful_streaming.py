"""Custom stateful streaming operator (applyInPandasWithState):
final per-user profiles must equal the batch groupBy over the same
bounded input."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from supplier_performance_data_pipeline_spark.streaming.events import (
    normalize_event_ts,
    read_event_stream,
    run_to_memory_sink,
)
from supplier_performance_data_pipeline_spark.streaming.stateful import (
    streaming_user_profiles,
)
from tests.conftest import SF_SMOKE


def test_stateful_profiles_equal_batch(spark):
    stream = read_event_stream(spark, SF_SMOKE)
    run_to_memory_sink(
        streaming_user_profiles(stream), "profiles_out", output_mode="update"
    )
    got = spark.sql(
        # update mode emits one row per user per micro-batch; the last
        # emission per user is the final state.
        """
        SELECT user_id, n_events, total_value, last_seen FROM (
            SELECT *, row_number() OVER (
                PARTITION BY user_id ORDER BY n_events DESC) AS rn
            FROM profiles_out
        ) WHERE rn = 1
        """
    ).toPandas()

    batch = (
        spark.read.parquet(f"{SF_SMOKE}/events.parquet")
        .transform(normalize_event_ts)
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("value").alias("total_value"),
            F.max("ts").alias("last_seen"),
        )
        .toPandas()
    )
    got = got.sort_values("user_id").reset_index(drop=True)
    batch = batch.sort_values("user_id").reset_index(drop=True)
    pd.testing.assert_frame_equal(
        got[["user_id", "n_events", "last_seen"]],
        batch[["user_id", "n_events", "last_seen"]],
        check_dtype=False,
    )
    assert (abs(got["total_value"] - batch["total_value"]) < 1e-6).all()


def test_salted_distinct_count_equals_plain(spark):
    ev = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
    from supplier_performance_data_pipeline_spark.operators.skew import (
        salted_distinct_count,
    )

    got = {
        r["event_type"]: r["n_distinct_user_id"]
        for r in salted_distinct_count(ev, "event_type", "user_id").collect()
    }
    want = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert got == want


def test_streaming_throttle_equals_batch_across_microbatches(spark, tmp_path):
    """The stateful throttle must carry last-kept state ACROSS
    micro-batches: a time-split replay (file per half, mtime-ordered,
    one file per trigger) must produce the exact kept set of the batch
    twin — including events in batch 2 suppressed by a kept event from
    batch 1."""
    import datetime as dt
    import os
    import time

    from supplier_performance_data_pipeline_spark.streaming.stateful import (
        batch_throttle,
        streaming_throttle,
    )

    base = dt.datetime(2024, 1, 1)
    rows = []
    for u in (1, 2, 3):
        for i in range(12):
            # bursts every 10s per user; quiet=25s throttles to every 30s
            rows.append((u, u * 100 + i, base + dt.timedelta(seconds=10 * i)))
    df = spark.createDataFrame(rows, "user_id long, event_id long, ts timestamp")
    d = str(tmp_path / "replay")
    os.makedirs(d)
    # split ON a throttle-suppression boundary: second half starts at
    # t=60 whose fate depends on state (last kept t=60? kept at 0,30,60…)
    first = df.filter("ts < timestamp'2024-01-01 00:01:00'")
    second = df.filter("ts >= timestamp'2024-01-01 00:01:00'")
    from supplier_performance_data_pipeline_spark.sources.writers import (
        write_replay_file,
    )

    t = time.time() - 100
    for i, part in enumerate([first, second]):
        write_replay_file(part, d, f"half{i}.parquet.file", t + i * 10)
    stream = read_event_stream(
        spark, d, glob="*.file", max_files_per_trigger=1
    )
    run_to_memory_sink(
        streaming_throttle(stream, 25), "throttle_out", "append"
    )
    got = sorted(
        (r.user_id, r.event_id)
        for r in spark.table("throttle_out").collect()
    )
    want = sorted(
        (r.user_id, r.event_id) for r in batch_throttle(df, 25).collect()
    )
    assert got == want
    # sanity: throttling actually suppressed rows and kept mid-burst ones
    assert (1, 103) in want and (1, 101) not in want


def test_batch_throttle_scans_a_user_across_arrow_batches(spark):
    """One user's history split over several Arrow batches of one
    partition must be throttled as one sequence, not restarted per
    batch."""
    import datetime as dt

    from supplier_performance_data_pipeline_spark.streaming.stateful import (
        batch_throttle,
    )

    base = dt.datetime(2024, 1, 1)
    rows = [(1, i, base + dt.timedelta(seconds=10 * i)) for i in range(12)]
    df = spark.createDataFrame(rows, "user_id long, event_id long, ts timestamp")
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key)
    spark.conf.set(key, "2")
    try:
        kept = sorted(r.event_id for r in batch_throttle(df, 25).collect())
    finally:
        spark.conf.set(key, prev)
    # quiet=25s over events every 10s keeps every third event
    assert kept == [0, 3, 6, 9]
