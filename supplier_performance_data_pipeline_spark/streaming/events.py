"""Structured Streaming ingestion of the events stream.

The reference is batch-only (SURVEY.md §2.8); this is the engine's
streaming path. The logical shapes mirror operators/windows.py so batch
and streaming agree — the batch oracle doubles as the streaming oracle
(verified in tests/test_streaming.py via a memory sink).

Scale notes: watermarking bounds state; tumbling/session windows key
state by (window, type) / (user, session) — no global state. At real
scale the source is Kafka/files-on-object-store; here the same parquet
files drive the stream.
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Serializes the session-conf mutation window in run_to_memory_sink —
# see its CONCURRENCY CONTRACT note.
_CONF_LOCK = threading.Lock()

# Events schema for raw int64-nanos files (the replay fixtures, and the
# driver parquet generations that store ts as TIMESTAMP(NANOS) — those
# are read as long via nanosAsLong and converted to µs downstream).
EVENTS_RAW_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType(), True),
        T.StructField("ts", T.LongType(), True),
        T.StructField("user_id", T.LongType(), True),
        T.StructField("event_type", T.StringType(), True),
        T.StructField("value", T.DoubleType(), True),
        T.StructField("props", T.StringType(), True),
    ]
)


def normalize_event_ts(df: DataFrame) -> DataFrame:
    """Expose one ``ts`` contract downstream: µs TimestampType.

    The events source arrives in two physical encodings: int64
    nanoseconds (TIMESTAMP(NANOS) parquet read via nanosAsLong, and the
    replay fixtures' raw longs) and plain µs TIMESTAMP (current driver
    testdata). Integer division for the ns→µs truncation — double
    division loses µs precision at 1e18 ns; the NTZ→LTZ cast is an
    identity under the engine's pinned UTC session timezone."""
    if isinstance(df.schema["ts"].dataType, T.LongType):
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df.withColumn("ts", F.col("ts").cast("timestamp"))


def read_event_stream(
    spark: SparkSession,
    directory: str,
    glob: str = "events.parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream: watches ``directory`` for files matching
    ``glob`` (Spark file streams require a directory, not a file).

    ``max_files_per_trigger=1`` makes each file its own microbatch in
    modification-time order — how the late/out-of-order tests replay an
    arrival sequence deterministically.

    File streams need a fixed schema up front, but the on-disk ``ts``
    encoding varies by source generation (see ``normalize_event_ts``) —
    peek at the existing files with a batch read and use whatever they
    actually store; empty directory falls back to the raw-nanos schema."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    try:
        schema = (
            spark.read.option("pathGlobFilter", glob).parquet(directory).schema
        )
    except Exception:  # no matching files yet — replay dirs fill in later
        schema = EVENTS_RAW_SCHEMA
    reader = (
        spark.readStream.schema(schema)
        .format("parquet")
        .option("pathGlobFilter", glob)
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return normalize_event_ts(reader.load(directory))


def streaming_hourly_rollup(
    events: DataFrame, watermark: str = "2 hours"
) -> DataFrame:
    """Watermarked tumbling 1-hour rollup — streaming twin of
    operators/windows.hourly_rollup (same keys, same aggregates,
    including the per-row DECIMAL conversion that makes the sums exact
    and order-free — so streaming microbatch accumulation equals the
    batch result EXACTLY, not just within a float tolerance)."""
    vdec = F.col("value").cast("decimal(18,6)")
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(vdec).cast("double").alias("sum_value"),
            (F.sum(vdec).cast("double") / F.count(F.col("value"))).alias(
                "avg_value"
            ),
        )
        .select(
            F.col("w.start").alias("hour"),
            "event_type",
            "n_events",
            "sum_value",
            "avg_value",
        )
    )


def streaming_enriched_segment_rollup(
    events: DataFrame, customer: DataFrame
) -> DataFrame:
    """Stream-static enrichment: join each microbatch of the event
    stream against the STATIC customer dimension (user_id ==
    c_custkey) and roll up per market segment — the canonical
    "enrich the stream with a dimension" operator. Spark executes the
    stream-static inner join per microbatch with the static side
    planned once (broadcast for a dimension table); no watermark is
    needed because static rows never arrive late — state is only the
    downstream aggregate. Unmatched events (users outside the
    dimension) drop, exactly as in the batch twin."""
    return (
        events.join(
            F.broadcast(customer.select("c_custkey", "c_mktsegment")),
            events.user_id == F.col("c_custkey"),
        )
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("value").alias("sum_value"),
        )
    )


def streaming_sliding_rollup(
    events: DataFrame,
    window: str = "1 hour",
    slide: str = "15 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked SLIDING-window rollup — each event contributes to
    window/slide overlapping windows (4 at the defaults), the shape
    behind any "last hour, refreshed every 15 minutes" operational
    metric. Same exactness contract as the tumbling rollup: per-row
    DECIMAL(18,6) conversion makes the sum order-free, so streaming
    microbatch accumulation equals the batch twin EXACTLY. State is
    one aggregate per open window per key, bounded by the watermark
    (closed windows emit and evict); the x4 row amplification happens
    map-side in the window generator, never as a shuffle fan-out."""
    vdec = F.col("value").cast("decimal(18,6)")
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide).alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(vdec).cast("double").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def streaming_sessionize(
    events: DataFrame, gap_minutes: int = 30, watermark: str = "2 hours"
) -> DataFrame:
    """Native session windows (gap-based) — streaming counterpart of
    operators/windows.sessionize, using session_window so state expires
    with the watermark."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(
            F.session_window("ts", f"{int(gap_minutes)} minutes").alias("w"),
            "user_id",
        )
        .agg(
            F.count("*").alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
        )
        .select(
            "user_id", "n_events", "session_start", "session_end"
        )
    )


def interval_join(
    purchases: DataFrame,
    errors: DataFrame,
    minutes: int = 10,
    how: str = "inner",
) -> DataFrame:
    """Per-user interval join: each purchase pairs with that user's
    error events in the ``minutes`` before it. Works identically on
    batch and streaming inputs; under streaming, BOTH sides must be
    watermarked and the time-range predicate is what lets Spark expire
    join state (without it, stream-stream join state grows forever).
    ``how="left_outer"`` keeps unmatched purchases (NULL error columns);
    under streaming those rows emit once the watermark proves no match
    can still arrive — the time bound is what makes that provable."""
    p = purchases.select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("p_ts"),
    )
    er = errors.select(
        F.col("user_id").alias("e_user"),
        F.col("event_id").alias("error_id"),
        F.col("ts").alias("e_ts"),
    )
    return p.join(
        er,
        (F.col("p_user") == F.col("e_user"))
        & (F.col("e_ts") >= F.col("p_ts") - F.expr(f"INTERVAL {int(minutes)} MINUTES"))
        & (F.col("e_ts") <= F.col("p_ts")),
        how,
    ).select("p_user", "purchase_id", "p_ts", "error_id", "e_ts")


def streaming_interval_join(
    purchases: DataFrame,
    errors: DataFrame,
    minutes: int = 10,
    watermark: str = "2 hours",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream twin of ``interval_join``: watermark both sides,
    then the same equi + time-range condition. State per side is bounded
    by watermark + interval, keyed by user. ``how="left_outer"`` adds
    the null-padded unmatched purchases, emitted on watermark passage —
    the fourth streaming join mode (inner stream-stream, stream-static,
    session merge, and this)."""
    return interval_join(
        purchases.withWatermark("ts", watermark),
        errors.withWatermark("ts", watermark),
        minutes,
        how,
    )


def streaming_dedup(
    events: DataFrame,
    keys: list[str] | None = None,
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming exact dedup on ``keys`` (default: event_id) —
    ``dropDuplicatesWithinWatermark`` keeps per-key state only until the
    watermark passes, so state is bounded by the lateness window instead
    of growing with the whole stream. This is the streaming twin of the
    batch ``dedup_exact`` operator for continuous ingestion pipelines."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        keys or ["event_id"]
    )


# ~256 KB of parquet per state task (the events table packs ~20 B/row
# on disk, so one task per ~12.5k replayed rows).
REPLAY_BYTES_PER_STATE_TASK = 256_000


def replay_state_bytes_partitions(n_bytes: int, cap: int) -> int:
    """Shuffle/state-partition count for a bounded replay, sized from
    its on-disk input bytes (driver-side file metadata, no count() job):
    one state task per ``REPLAY_BYTES_PER_STATE_TASK`` bytes, floor 2 (so
    multi-partition state semantics stay exercised even at the smallest
    fixtures), at most ``cap``. Streaming state stores are created one
    per shuffle partition at the first micro-batch and never coalesce
    (AQE is off in stateful workloads), so a partition count sized for a
    cluster makes a bounded replay pay that many state-store commits PER
    micro-batch regardless of data: the r13 profile measured the sf0.1
    throttle replay at 12.6 s with 32 state partitions and 5.0 s with 8,
    identical output. The count grows linearly with input up to ``cap``
    (callers pass a multiple of the cluster's parallelism), so a 1 TB
    replay gets a cluster-sized state fan-out, not millions of stores."""
    return min(cap, max(2, -(-int(n_bytes) // REPLAY_BYTES_PER_STATE_TASK)))


def run_to_memory_sink(
    stream_df: DataFrame,
    name: str,
    output_mode: str = "complete",
    shuffle_partitions: int | None = None,
) -> None:
    """Drive a bounded file-backed stream to completion synchronously
    (memory sink + processAllAvailable) — the local smoke path.

    ``shuffle_partitions`` (optional) pins the stream's state-store
    partition count for the run — set it from
    ``replay_state_bytes_partitions`` so the replay's state fan-out
    tracks its input size; the session conf is restored right after
    ``start()``. That is safe because the ``StreamExecution`` built by
    ``start()`` runs on a clone of the session made in its constructor:
    the clone holds the count from then on (the query checkpoint only
    records it later, at the first micro-batch), so restoring the
    shared conf cannot affect the running query.

    CONCURRENCY CONTRACT (r13 ADVICE): Spark session conf is shared
    across driver threads, so the set→restore window here would leak
    the replay's tiny partition count into any query another thread
    plans meanwhile. ``_CONF_LOCK`` serializes concurrent
    ``run_to_memory_sink`` calls; do NOT schedule this under
    ``_run_concurrent`` alongside batch planning — the lock cannot
    protect threads that mutate or read the same conf outside it."""
    spark = stream_df.sparkSession
    q = None
    try:
        with _CONF_LOCK:
            prev: str | None = None
            if shuffle_partitions is not None:
                prev = spark.conf.get("spark.sql.shuffle.partitions")
                spark.conf.set(
                    "spark.sql.shuffle.partitions", str(int(shuffle_partitions))
                )
            try:
                q = (
                    stream_df.writeStream.outputMode(output_mode)
                    .format("memory")
                    .queryName(name)
                    .start()
                )
            finally:
                # start() has already cloned the session, conf
                # included, for the query's StreamExecution; restore
                # now so the lock guards the narrowest possible window.
                if prev is not None:
                    spark.conf.set("spark.sql.shuffle.partitions", prev)
        q.processAllAvailable()
    finally:
        # Also reached when the restore above raises after start(): the
        # started query must not outlive the call.
        if q is not None:
            q.stop()


def streaming_upsert_sink(
    stream: DataFrame,
    snapshot_dir: str,
    key_cols: list[str],
    checkpoint_dir: str,
):
    """foreachBatch MERGE sink: each microbatch upserts into a parquet
    snapshot via operators/merge.py (matched keys update, new keys
    insert, untouched rows carry over) — the streaming half of CDC-style
    table maintenance.

    The merged snapshot is materialized (localCheckpoint) BEFORE the
    overwrite: Spark reads lazily, so overwriting the directory that the
    base DataFrame still reads from would corrupt the very files being
    scanned. On a real deployment the sink is a table format whose
    MERGE INTO handles snapshot isolation (Delta/Iceberg) — this mirrors
    those semantics on plain parquet with an atomic-enough swap; batches
    arrive serially per the foreachBatch contract, so no two merges
    interleave.

    Within-batch duplicate keys are the caller's contract to resolve
    (same precondition as ``upsert`` itself and the as-of join's right
    side).
    """
    from supplier_performance_data_pipeline_spark.operators.merge import (
        upsert,
    )

    def _apply(batch: DataFrame, batch_id: int) -> None:
        from pyspark.errors import AnalysisException

        spark = batch.sparkSession
        try:
            base = spark.read.parquet(snapshot_dir)
            has_base = True
        except AnalysisException:
            # Missing snapshot (first batch) only. Any other read
            # failure — corrupt footer, permissions, transient FS error
            # — must FAIL the batch so the checkpoint retries it;
            # treating those as "no base yet" would overwrite the
            # snapshot with just this microbatch and silently discard
            # every previously merged key.
            has_base = False
        merged = upsert(base, batch, key_cols) if has_base else batch
        merged = merged.localCheckpoint()
        merged.write.mode("overwrite").parquet(snapshot_dir)

    return (
        stream.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
