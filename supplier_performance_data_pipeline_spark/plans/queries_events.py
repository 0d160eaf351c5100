"""Event-time queries over the ``events`` table (engine extension;
reference has no streaming/event operators — SURVEY.md §2.8).

Batch forms here; the same shapes run under Structured Streaming in
streaming/events.py. Timestamps are naive (UTC-pinned session) so the
DuckDB oracle agrees.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from supplier_performance_data_pipeline_spark.functions.scalar import round_doubles
from supplier_performance_data_pipeline_spark.operators.asof import asof_join
from supplier_performance_data_pipeline_spark.operators.rangejoin import point_in_interval_join
from supplier_performance_data_pipeline_spark.operators.skew import salted_distinct_count
from supplier_performance_data_pipeline_spark.operators.windows import (
    hourly_rollup,
    sessionize,
)
from supplier_performance_data_pipeline_spark.plans.registry import register
from supplier_performance_data_pipeline_spark.session import tune_session
from supplier_performance_data_pipeline_spark.streaming.events import (
    normalize_event_ts,
)


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Load events. Driver parquet generations store ``ts`` either as
    TIMESTAMP(NANOS) — which Spark's vectorized reader rejects, so we
    read nanos as long — or as plain µs TIMESTAMP; normalize_event_ts
    exposes µs timestamps either way. The oracle SQL applies the same
    µs truncation via CAST(ts AS TIMESTAMP) so both engines agree."""
    tune_session(spark)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    return normalize_event_ts(raw)


@register(
    "events_hourly_rollup",
    oracle="""
SELECT
    date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour,
    event_type,
    COUNT(*) AS n_events,
    ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 6) AS sum_value,
    ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(value), 6) AS avg_value
FROM events
GROUP BY date_trunc('hour', CAST(ts AS TIMESTAMP)), event_type
""".strip(),
)
def q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour rollup — single hash agg keyed by (hour, type)."""
    return round_doubles(hourly_rollup(_events(spark, sf_dir)))


@register(
    "events_sessionize",
    oracle="""
WITH base AS (
    SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts FROM events
),
ordered AS (
    SELECT user_id, event_id, ts,
        CASE WHEN lag(ts) OVER w IS NULL
                  OR ts > lag(ts) OVER w + INTERVAL 30 MINUTE
             THEN 1 ELSE 0 END AS is_new
    FROM base
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
    SELECT user_id, ts,
        CAST(SUM(is_new) OVER (
            PARTITION BY user_id ORDER BY ts, event_id
            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
    FROM ordered
)
SELECT user_id, session_id,
       COUNT(*) AS n_events,
       MIN(ts) AS session_start,
       MAX(ts) AS session_end
FROM sess
GROUP BY user_id, session_id
""".strip(),
)
def q_events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min idle gap): lag + cumulative sum
    per user — bounded per-user state, no global window."""
    return sessionize(_events(spark, sf_dir), gap_minutes=30)


@register(
    "events_json_props",
    oracle="""
SELECT
    event_type,
    COUNT(*) AS n_events,
    ROUND(AVG(CAST(json_extract_string(props, '$.k') AS INTEGER)), 6) AS avg_k
FROM events
GROUP BY event_type
""".strip(),
)
def q_events_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured path: JSON property extraction inside the agg —
    stays JVM-side via get_json_object (no Python)."""
    ev = _events(spark, sf_dir)
    return round_doubles(
        ev.groupBy("event_type").agg(
            F.count("*").alias("n_events"),
            F.avg(
                F.get_json_object(F.col("props"), "$.k").cast("int")
            ).alias("avg_k"),
        )
    )


@register(
    "events_asof_purchase_view",
    oracle="""
WITH base AS (
    SELECT user_id, event_id, event_type, value, CAST(ts AS TIMESTAMP) AS ts
    FROM events
),
purchases AS (SELECT user_id, ts, event_id, value FROM base WHERE event_type = 'purchase'),
views AS (
    SELECT user_id, ts, MAX(value) AS value
    FROM base WHERE event_type = 'view' GROUP BY user_id, ts
)
SELECT p.user_id, p.ts, p.event_id, p.value,
       v.ts AS prior_ts, v.value AS prior_value,
       CASE WHEN v.ts IS NULL THEN NULL
            ELSE CAST(DATE_DIFF('second', v.ts, p.ts) AS BIGINT) END AS seconds_since_view
FROM purchases p ASOF LEFT JOIN views v
  ON p.user_id = v.user_id AND p.ts >= v.ts
""".strip(),
)
def q_events_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase matched to the user's most recent prior
    'view' event (inclusive backward). Union-trick implementation — one
    shuffle on user_id, no range explosion (operators/asof.py); the
    oracle uses DuckDB's native ASOF JOIN, so two independent
    implementations must agree."""
    ev = _events(spark, sf_dir).select(
        "user_id", "ts", "event_id", "event_type", "value"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").drop("event_type")
    # asof_join requires (key, ts) unique on the right; duplicate view
    # timestamps (possible after ns→µs truncation) would make the match
    # unspecified in BOTH engines. Pre-aggregate to a deterministic
    # winner (max value) and mirror it in the oracle.
    views = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("value"))
    )
    out = asof_join(purchases, views, on="user_id", ts_col="ts",
                    value_cols=["value"], prefix="prior_")
    return out.select(
        "user_id", "ts", "event_id", "value",
        F.col("prior_ts"),
        F.col("prior_value"),
        F.when(
            F.col("prior_ts").isNotNull(),
            (F.unix_timestamp("ts") - F.unix_timestamp("prior_ts")).cast("long"),
        ).alias("seconds_since_view"),
    )


@register(
    "distinct_users_per_type_salted",
    oracle="""
SELECT event_type, COUNT(DISTINCT user_id) AS n_distinct_user_id
FROM events GROUP BY event_type
""".strip(),
)
def q_salted_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe exact distinct count: salt = hash(user_id) % 16 splits
    each event_type's user space into disjoint buckets, per-bucket
    countDistinct sums to the exact answer (operators/skew.py). The
    oracle is the plain COUNT(DISTINCT) — two shapes, one result."""
    return salted_distinct_count(
        _events(spark, sf_dir), key="event_type", col="user_id"
    )


@register(
    "errors_recent_purchase_count",
    oracle="""
WITH e AS (
    SELECT event_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events
),
err AS (SELECT event_id, ts FROM e WHERE event_type = 'error'),
p AS (SELECT ts FROM e WHERE event_type = 'purchase')
SELECT err.event_id, err.ts, COUNT(p.ts) AS n_recent_purchases
FROM err LEFT JOIN p
  ON p.ts BETWEEN err.ts - INTERVAL 10 MINUTE AND err.ts
GROUP BY err.event_id, err.ts
""".strip(),
)
def q_errors_recent_purchases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join: purchases inside each error's trailing 10-minute
    window, counted per error. Spark side bucketizes time so the range
    join is an equi-join on the bucket (operators/rangejoin.py); the
    oracle is DuckDB's plain BETWEEN join — two strategies, one result."""
    ev = _events(spark, sf_dir).select("event_id", "event_type", "ts")
    errors = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id"),
        F.col("ts"),
        (F.col("ts") - F.expr("INTERVAL 10 MINUTES")).alias("w_start"),
        F.col("ts").alias("w_end"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("ts").alias("p_ts")
    )
    pairs = point_in_interval_join(
        purchases, errors, point_ts="p_ts",
        start_ts="w_start", end_ts="w_end", bucket_seconds=600,
    )
    counts = pairs.groupBy("event_id").agg(
        F.count("*").alias("n_recent_purchases")
    )
    return (
        errors.select("event_id", "ts")
        .join(counts, "event_id", "left")
        .select(
            "event_id",
            "ts",
            F.coalesce("n_recent_purchases", F.lit(0)).alias(
                "n_recent_purchases"
            ),
        )
    )


# --- time-series resample + forward fill ------------------------------------

from supplier_performance_data_pipeline_spark.operators.windows import (  # noqa: E402
    resample_ffill,
)


@register(
    "events_resample_ffill",
    oracle="""
WITH pe AS (
    SELECT user_id, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS bucket,
           CAST(value AS DECIMAL(18,6)) AS v
    FROM events WHERE event_type = 'purchase' AND user_id % 10 = 0
),
ag AS (
    SELECT user_id, bucket, CAST(SUM(v) AS DOUBLE) AS v
    FROM pe GROUP BY user_id, bucket
),
span AS (
    SELECT user_id, MIN(bucket) AS h0, MAX(bucket) AS h1
    FROM ag GROUP BY user_id
),
grid AS (
    SELECT user_id, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS bucket
    FROM span
),
j AS (
    SELECT g.user_id, g.bucket, a.v
    FROM grid g LEFT JOIN ag a
      ON g.user_id = a.user_id AND g.bucket = a.bucket
)
SELECT user_id, bucket,
       last_value(v IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY bucket
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value,
       CASE WHEN v IS NULL THEN 1 ELSE 0 END AS is_gap
FROM j
""".strip(),
)
def q_events_resample_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense hourly resample of purchase values with last-observation
    forward fill (the hypertable time_bucket_gapfill + locf shape) for
    a deterministic user subset. Grid size is bounded by time span, not
    data volume; observations join pre-aggregated; the fill is a
    per-user running last-non-null — no global sort. Bucket sums are
    DECIMAL-exact so both engines fill identical values."""
    ev = _events(spark, sf_dir).filter(
        (F.col("event_type") == "purchase") & (F.col("user_id") % 10 == 0)
    )
    return resample_ffill(ev, "user_id", "ts", "value")


# --- mergeable HLL sketch rollup (incremental distinct-count tables) --------


@register(
    "events_user_sketch_rollup",
    oracle="""
SELECT event_type,
       COUNT(DISTINCT user_id) AS n_users_exact,
       TRUE AS sketch_within_5pct
FROM events GROUP BY event_type
""".strip(),
)
def q_events_user_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The incremental-pipeline distinct-count pattern: per-(type, day)
    HLL sketches (DataSketches binary partials — what a daily job would
    MATERIALIZE) are re-aggregated with hll_union_agg to the per-type
    estimate WITHOUT touching raw events again. approx_count_distinct
    can't do this — its partials are query-internal; sketch columns make
    the rollup composable across jobs/days. Hash-verified like the other
    approx queries: the driver checks the exact count plus a
    within-5%-of-exact flag computed next to the union."""
    ev = _events(spark, sf_dir)
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.hll_sketch_agg("user_id").alias("sk"))
    merged = daily.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("n_est")
    )
    exact = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("n_users_exact")
    )
    return exact.join(F.broadcast(merged), "event_type").select(
        "event_type",
        "n_users_exact",
        (
            F.abs(F.col("n_est") - F.col("n_users_exact"))
            <= 0.05 * F.col("n_users_exact")
        ).alias("sketch_within_5pct"),
    )


# --- funnel analysis ---------------------------------------------------------


@register(
    "events_view_purchase_funnel",
    oracle="""
WITH v AS (
    SELECT user_id, MIN(CAST(ts AS TIMESTAMP)) AS t_view
    FROM events WHERE event_type = 'view' GROUP BY user_id
),
conv AS (
    SELECT v.user_id,
           MAX(CASE WHEN p.ts IS NOT NULL THEN 1 ELSE 0 END) AS converted
    FROM v LEFT JOIN (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS ts
        FROM events WHERE event_type = 'purchase'
    ) p ON v.user_id = p.user_id AND p.ts >= v.t_view
    GROUP BY v.user_id
)
SELECT COUNT(*) AS n_viewers,
       CAST(SUM(converted) AS BIGINT) AS n_converted,
       ROUND(CAST(SUM(converted) AS DOUBLE) / COUNT(*), 6) AS conversion_rate
FROM conv
""".strip(),
)
def q_events_view_purchase_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage funnel: users whose first 'view' is later followed by a
    'purchase'. First-touch per user is one agg; the conversion test is
    a user-keyed left join with the time condition IN the join (so
    non-qualifying purchases never survive to the agg) — both stages
    co-keyed on user_id, one shuffle chain, no window over raw events.
    The rate is a ratio of integers: deterministic in both engines."""
    ev = _events(spark, sf_dir)
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
    )
    conv = (
        v.join(
            p,
            (F.col("user_id") == F.col("p_user"))
            & (F.col("p_ts") >= F.col("t_view")),
            "left",
        )
        .groupBy("user_id")
        .agg(
            F.max(
                F.when(F.col("p_ts").isNotNull(), 1).otherwise(0)
            ).alias("converted")
        )
    )
    return conv.agg(
        F.count("*").alias("n_viewers"),
        F.sum("converted").cast("long").alias("n_converted"),
        F.round(
            F.sum("converted").cast("double") / F.count("*"), 6
        ).alias("conversion_rate"),
    )


# --- cohort retention --------------------------------------------------------


@register(
    "events_cohort_retention",
    oracle="""
WITH act AS (
    SELECT DISTINCT user_id,
           CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day
    FROM events
),
cohort AS (
    SELECT user_id, MIN(day) AS cohort_day FROM act GROUP BY user_id
)
SELECT c.cohort_day,
       CAST(a.day - c.cohort_day AS INTEGER) AS day_offset,
       COUNT(DISTINCT a.user_id) AS n_active_users
FROM act a JOIN cohort c ON a.user_id = c.user_id
WHERE a.day - c.cohort_day <= 7
GROUP BY c.cohort_day, a.day - c.cohort_day
""".strip(),
)
def q_events_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users grouped by first-active day, then
    distinct-active counts per day offset (first week). Activity is
    pre-deduplicated to one row per (user, day) BEFORE the cohort join,
    so the join and both aggs run on the compacted table — at 100 TB
    that's the difference between joining events and joining user-days.
    All output integer/date."""
    ev = _events(spark, sf_dir)
    act = ev.select(
        "user_id",
        F.date_trunc("day", F.col("ts")).cast("date").alias("day"),
    ).distinct()
    cohort = act.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    offset = F.datediff(F.col("day"), F.col("cohort_day"))
    return (
        act.join(cohort, "user_id")
        .filter(offset <= 7)
        .groupBy("cohort_day", offset.alias("day_offset"))
        .agg(F.count_distinct("user_id").alias("n_active_users"))
    )


# --- streaming/batch equivalence (driver-checkable watermark semantics) ------

# Memory-sink query names must be unique per build: the sink registers a
# temp view under the query name, and bench/test sessions build the same
# query repeatedly.
_STREAM_EQ_SEQ = iter(range(1_000_000))


def _replay_partitions(
    spark: SparkSession, sf_dir: str, factor: int = 1
) -> int:
    """Scale-adaptive state-partition count for a bounded events
    replay (r13): size the stream's shuffle partitions to the input it
    will actually replay (``factor`` for replays that duplicate the
    table) instead of the session's cluster-wide default — streaming
    state stores are one per shuffle partition per micro-batch and
    never coalesce, so the fixed 32 was pure per-batch overhead at
    fixture scale.

    Sized from the input's on-disk BYTES (file metadata, no Spark job)
    rather than a ``count()`` job per replay, and capped at 4x the
    cluster's default parallelism, so a huge replay gets a
    cluster-sized state fan-out."""
    from supplier_performance_data_pipeline_spark.streaming.events import (
        replay_state_bytes_partitions,
    )

    path = os.path.join(sf_dir, "events.parquet")
    return replay_state_bytes_partitions(
        _input_bytes(spark, path) * factor,
        cap=4 * spark.sparkContext.defaultParallelism,
    )


def _input_bytes(spark: SparkSession, path: str) -> int:
    """Total bytes of a parquet file or directory tree, skipping
    ``.``/``_``-prefixed side files (checksums, _SUCCESS). Driver-side
    Hadoop FileSystem metadata — works on any filesystem Spark reads,
    never a Spark job."""
    from supplier_performance_data_pipeline_spark.operators.clustering import (
        _hadoop_fs,
    )

    fs, jpath, _ = _hadoop_fs(spark, path)
    files = fs.listFiles(jpath, True)
    total = 0
    while files.hasNext():
        st = files.next()
        if not st.getPath().getName().startswith((".", "_")):
            total += st.getLen()
    return total


@register(
    "streaming_batch_equivalence",
    oracle="""
WITH r AS (
    SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour, event_type
    FROM events
    GROUP BY 1, 2
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
       CAST(0 AS BIGINT) AS n_mismatched,
       TRUE AS streaming_equals_batch
FROM r
""".strip(),
)
def q_streaming_batch_equivalence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming semantics on the driver's board: replay the events
    parquet through the Structured Streaming hourly rollup
    (streaming/events.py — watermarked tumbling window, memory sink,
    availableNow-style synchronous drain), then full-outer-join the
    result against the batch twin (operators/windows.hourly_rollup) and
    report (n_groups, n_mismatched, streaming_equals_batch). The oracle
    computes the batch group count and asserts zero mismatches / TRUE —
    so any divergence between the streaming and batch planners (window
    boundary, late-row handling, count or sum drift) flips the booleans
    and hash-fails the driver row. Counts compare exactly; the float
    sum compares to 1e-6 (streaming and batch sum in different orders).
    """
    from supplier_performance_data_pipeline_spark.streaming.events import (
        read_event_stream,
        run_to_memory_sink,
        streaming_hourly_rollup,
    )

    tune_session(spark)
    app = spark.sparkContext.applicationId.replace("-", "_")
    name = f"stream_eq_{app}_{next(_STREAM_EQ_SEQ)}"
    stream = read_event_stream(spark, sf_dir)
    run_to_memory_sink(
        streaming_hourly_rollup(stream),
        name,
        "complete",
        shuffle_partitions=_replay_partitions(spark, sf_dir),
    )
    streamed = spark.table(name)
    batch = hourly_rollup(_events(spark, sf_dir))
    j = batch.alias("b").join(
        streamed.alias("s"), ["hour", "event_type"], "full_outer"
    )
    mism = (
        F.col("b.n_events").isNull()
        | F.col("s.n_events").isNull()
        | (F.col("b.n_events") != F.col("s.n_events"))
        | (F.abs(F.col("b.sum_value") - F.col("s.sum_value")) > 1e-6)
    )
    n_mism = F.sum(F.when(mism, 1).otherwise(0)).cast("bigint")
    return j.agg(
        F.count(F.lit(1)).alias("n_groups"),
        n_mism.alias("n_mismatched"),
        (n_mism == 0).alias("streaming_equals_batch"),
    )


# --- rolling engagement: DAU + trailing-7-day WAU per day -------------------


@register(
    "events_rolling_wau",
    oracle="""
WITH act AS (
    SELECT DISTINCT user_id,
           CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day
    FROM events
),
days AS (SELECT DISTINCT day FROM act),
ex AS (
    SELECT a.user_id, a.day + CAST(i.i AS INTEGER) AS target_day
    FROM act a CROSS JOIN (SELECT unnest(range(0, 7)) AS i) i
),
wau AS (
    SELECT d.day, COUNT(DISTINCT e.user_id) AS wau
    FROM ex e JOIN days d ON e.target_day = d.day
    GROUP BY d.day
),
dau AS (SELECT day, COUNT(DISTINCT user_id) AS dau FROM act GROUP BY day)
SELECT d.day, d.dau, w.wau
FROM dau d JOIN wau w ON d.day = w.day
""".strip(),
)
def q_events_rolling_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily active users plus EXACT trailing-7-day weekly active users
    per day. A rolling COUNT(DISTINCT) cannot be windowed from daily
    counts (users overlap across days), so each (user, day) activity
    row is exploded to the 7 window-end days it contributes to and
    distinct-counted per end day — the standard exact-WAU expansion.

    Scale: activity is compacted to one row per (user, day) FIRST, so
    the x7 explode multiplies the compacted table, not raw events; the
    distinct counts are two-phase hash aggs keyed by day; the grid join
    keeps only observed days (no partial-window phantom days past the
    data's edge)."""
    ev = _events(spark, sf_dir)
    act = ev.select(
        "user_id",
        F.date_trunc("day", F.col("ts")).cast("date").alias("day"),
    ).distinct()
    days = act.select("day").distinct()
    ex = act.select(
        "user_id",
        F.explode(F.sequence(F.lit(0), F.lit(6))).alias("i"),
        "day",
    ).select(
        "user_id", F.date_add(F.col("day"), F.col("i")).alias("target_day")
    )
    wau = (
        ex.join(days, ex["target_day"] == days["day"])
        .groupBy("day")
        .agg(F.count_distinct("user_id").alias("wau"))
    )
    dau = act.groupBy("day").agg(F.count_distinct("user_id").alias("dau"))
    return dau.join(wau, "day")


# --- rolling z-score anomaly detection over the hourly series ---------------

_ANOM_FRAME = 24  # trailing observed hours in the baseline window
_ANOM_MIN_N = 12  # don't flag until the baseline has this many hours
_ANOM_SIGMA = 3.0


@register(
    "events_hourly_anomalies",
    oracle=f"""
WITH hourly AS (
    SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour,
           COUNT(*) AS n_events
    FROM events GROUP BY date_trunc('hour', CAST(ts AS TIMESTAMP))
),
stats AS (
    SELECT hour, n_events,
           COUNT(*) OVER w AS n,
           SUM(n_events) OVER w AS s,
           SUM(n_events * n_events) OVER w AS ss
    FROM hourly
    WINDOW w AS (ORDER BY hour ROWS BETWEEN {_ANOM_FRAME} PRECEDING
                 AND 1 PRECEDING)
)
SELECT hour, n_events,
       ROUND(CAST(s AS DOUBLE) / nullif(n, 0), 6) AS trail_mean,
       CASE WHEN n >= {_ANOM_MIN_N}
             AND greatest((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE)
                 * CAST(s AS DOUBLE) / nullif(n, 0)) / nullif(n - 1, 0),
                 0.0) > 0.0
            THEN ROUND((n_events - CAST(s AS DOUBLE) / nullif(n, 0))
                 / nullif(sqrt(greatest((CAST(ss AS DOUBLE)
                     - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / nullif(n, 0))
                     / nullif(n - 1, 0), 0.0)), 0.0), 6)
       END AS z_score,
       CASE WHEN n >= {_ANOM_MIN_N}
             AND greatest((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE)
                 * CAST(s AS DOUBLE) / nullif(n, 0)) / nullif(n - 1, 0),
                 0.0) > 0.0
             AND abs((n_events - CAST(s AS DOUBLE) / nullif(n, 0))
                 / nullif(sqrt(greatest((CAST(ss AS DOUBLE)
                     - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / nullif(n, 0))
                     / nullif(n - 1, 0), 0.0)), 0.0))
                 > {_ANOM_SIGMA}
            THEN 1 ELSE 0 END AS is_anomaly
FROM stats
""".strip(),
)
def q_events_hourly_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score anomaly flags over the hourly event-count series
    — the monitoring query every ingest pipeline runs. Aggregate FIRST
    (one fact shuffle down to one row per hour), then a bounded
    trailing frame (ROWS {frame} PRECEDING..1 PRECEDING — excludes the
    current hour so a spike can't mask itself) over the calendar-
    bounded series; the baseline must have ≥{minn} observed hours
    before anything is flagged. Mean/variance come from exact integer
    window sums (counts are small enough that s and ss stay exact in
    doubles) with a greatest(...,0) guard against catastrophic-
    cancellation negatives; every double expression is written
    identically in both engines, so the rounded outputs agree
    bit-for-bit."""
    from pyspark.sql.window import Window

    ev = _events(spark, sf_dir)
    hourly = ev.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hour")
    ).agg(F.count("*").alias("n_events"))
    w = (
        Window.orderBy("hour").rowsBetween(-_ANOM_FRAME, -1)
    )
    n = F.count("*").over(w)
    s = F.sum("n_events").over(w)
    ss = F.sum(F.col("n_events") * F.col("n_events")).over(w)
    stats = hourly.select("hour", "n_events", n.alias("n"),
                          s.alias("s"), ss.alias("ss"))
    # nullif on every divisor, not CASE guards: under ANSI mode a zero
    # divisor raises even inside an unselected CASE branch (codegen's
    # subexpression elimination evaluates it unconditionally); dividing
    # by NULL is well-defined NULL on both engines.
    nz = F.nullif(F.col("n"), F.lit(0))
    mean = F.col("s").cast("double") / nz
    var = F.greatest(
        (
            F.col("ss").cast("double")
            - F.col("s").cast("double") * F.col("s").cast("double") / nz
        )
        / F.nullif(F.col("n") - 1, F.lit(0)),
        F.lit(0.0),
    )
    z = (F.col("n_events") - mean) / F.nullif(F.sqrt(var), F.lit(0.0))
    gate = (F.col("n") >= _ANOM_MIN_N) & (var > 0.0)
    return stats.select(
        "hour",
        "n_events",
        F.round(mean, 6).alias("trail_mean"),
        F.when(gate, F.round(z, 6)).alias("z_score"),
        F.when(gate & (F.abs(z) > _ANOM_SIGMA), F.lit(1))
        .otherwise(F.lit(0))
        .alias("is_anomaly"),
    )


q_events_hourly_anomalies.__doc__ = q_events_hourly_anomalies.__doc__.format(
    frame=_ANOM_FRAME, minn=_ANOM_MIN_N
)


# --- hive-partitioned layout: write → partition-pruned scan -----------------


@register(
    "events_partitioned_write_scan",
    oracle="""
SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(ROUND(value, 6) AS DECIMAL(18,6))) AS DOUBLE)
           AS total_value
FROM events
WHERE event_type = 'purchase'
GROUP BY date_trunc('day', CAST(ts AS TIMESTAMP))
""".strip(),
)
def q_events_partitioned_write_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-partitioned layout as a driver-verified identity: rewrite
    events partitioned BY event_type (directory-per-value layout), then
    answer a purchase-only daily rollup FROM THE PARTITIONED COPY. The
    oracle computes the same rollup from the original table, proving
    the partitioned write is lossless AND the pruned scan reads a
    complete partition — while the scan-side benefit (the event_type
    predicate resolves at the DIRECTORY level, touching 1/5 of the
    files; plan shows PartitionFilters, not a data filter) is pinned in
    tests/test_plans.py.

    This is the canonical 100 TB ingest layout: low-cardinality
    routing keys (type/date/source) become hive partitions so the
    dominant predicate never scans a byte it discards; per-partition
    value sums use the DECIMAL-of-rounded trick so both engines agree
    exactly."""
    import tempfile

    from supplier_performance_data_pipeline_spark.sources.writers import (
        write_parquet,
    )

    from supplier_performance_data_pipeline_spark.sources.writers import (
        sweep_stale_artifacts,
    )

    sweep_stale_artifacts(tempfile.gettempdir(), "spark_graft_events_by_type_")
    ev = _events(spark, sf_dir)
    path = os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_events_by_type_{spark.sparkContext.applicationId}",
    )
    write_parquet(ev, path, partition_by=["event_type"])
    back = spark.read.parquet(path).filter(F.col("event_type") == "purchase")
    return (
        back.groupBy(
            F.date_trunc("day", F.col("ts")).cast("date").alias("day")
        )
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.round(F.col("value"), 6).cast("decimal(18,6)"))
            .cast("double")
            .alias("total_value"),
        )
    )


# --- streaming dedup / batch equivalence ------------------------------------


@register(
    "streaming_dedup_equivalence",
    oracle="""
SELECT CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_unique,
       CAST(0 AS BIGINT) AS n_extra_rows,
       TRUE AS dedup_equals_batch
FROM events
""".strip(),
)
def q_streaming_dedup_equivalence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark-bounded streaming dedup on the driver's board: the
    events feed is doubled (every event twice — the at-least-once
    delivery a real ingest pipeline must absorb), written to a replay
    directory, and drained through
    ``streaming/events.py::streaming_dedup``
    (dropDuplicatesWithinWatermark on event_id, memory sink). The
    result must collapse to exactly the batch COUNT(DISTINCT
    event_id) of the original feed; any duplicate the streaming
    operator leaks (or row it wrongly drops) shows up in
    ``n_extra_rows`` and flips ``dedup_equals_batch`` — which the
    oracle pins at (0, TRUE).

    State scale: dedup state is keyed by event_id and reclaimed once
    the watermark passes an event's hour — bounded by the lateness
    window × arrival rate, not the stream length."""
    import tempfile

    from supplier_performance_data_pipeline_spark.streaming.events import (
        read_event_stream,
        run_to_memory_sink,
        streaming_dedup,
    )

    ev = _events(spark, sf_dir)
    app = spark.sparkContext.applicationId.replace("-", "_")
    from supplier_performance_data_pipeline_spark.sources.writers import (
        sweep_stale_artifacts,
    )

    sweep_stale_artifacts(tempfile.gettempdir(), "spark_graft_dedup_replay_")
    replay = os.path.join(
        tempfile.gettempdir(), f"spark_graft_dedup_replay_{app}"
    )
    ev.unionByName(ev).write.mode("overwrite").parquet(replay)
    stream = read_event_stream(spark, replay, glob="*.parquet")
    name = f"stream_dedup_{app}_{next(_STREAM_EQ_SEQ)}"
    run_to_memory_sink(
        streaming_dedup(stream, keys=["event_id"]),
        name,
        "append",
        shuffle_partitions=_replay_partitions(spark, sf_dir, factor=2),
    )
    s = spark.table(name).agg(F.count("*").alias("n_s"))
    b = ev.agg(F.count_distinct("event_id").alias("n_u"))
    return b.crossJoin(F.broadcast(s)).select(
        F.col("n_u").cast("long").alias("n_unique"),
        (F.col("n_s") - F.col("n_u")).cast("long").alias("n_extra_rows"),
        (F.col("n_s") == F.col("n_u")).alias("dedup_equals_batch"),
    )


# --- per-user event-type transition matrix ----------------------------------


@register(
    "events_type_transition_matrix",
    oracle="""
WITH seq AS (
    SELECT user_id, event_type,
           LEAD(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
           ) AS next_type
    FROM events
),
trans AS (
    SELECT event_type AS from_type, next_type AS to_type, COUNT(*) AS n
    FROM seq WHERE next_type IS NOT NULL
    GROUP BY 1, 2
)
SELECT from_type, to_type,
       CAST(n AS BIGINT) AS n_transitions,
       ROUND(CAST(n AS DOUBLE)
             / SUM(n) OVER (PARTITION BY from_type), 6) AS p_transition
FROM trans
""".strip(),
)
def q_events_type_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event-type
    sequences — the behavioral-sequence statistic that feeds
    next-action models and funnel anomaly detection (a sudden shift in
    P(purchase | view) is a product incident). ``lead()`` over
    (user, time) forms consecutive pairs WITHOUT a self-join —
    sessionize's window shape reused for sequence modeling; ties on
    ``ts`` break on event_id, so the sequence (and the matrix) is
    deterministic in both engines.

    Plan: one user-keyed window pass over the fact scan, a
    (from, to)-keyed agg of the pairs, then the row-probability
    normalization as a window over the TINY type×type matrix — the
    second window costs nothing at any scale."""
    from pyspark.sql.window import Window

    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        "event_type",
        F.lead("event_type").over(w).alias("next_type"),
    )
    trans = (
        seq.filter(F.col("next_type").isNotNull())
        .groupBy(
            F.col("event_type").alias("from_type"),
            F.col("next_type").alias("to_type"),
        )
        .agg(F.count("*").alias("n"))
    )
    wf = Window.partitionBy("from_type")
    return trans.select(
        "from_type",
        "to_type",
        F.col("n").cast("long").alias("n_transitions"),
        F.round(
            F.col("n").cast("double") / F.sum("n").over(wf), 6
        ).alias("p_transition"),
    )


# --- stream-static enrichment equivalence -----------------------------------


@register(
    "streaming_enrichment_equivalence",
    oracle="""
WITH r AS (
    SELECT c.c_mktsegment
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
       CAST(0 AS BIGINT) AS n_mismatched,
       TRUE AS streaming_equals_batch
FROM r
""".strip(),
)
def q_streaming_enrichment_equivalence(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Stream-static JOIN on the driver's board: replay the events
    parquet through ``streaming_enriched_segment_rollup`` (per
    microbatch, the stream joins the static broadcast customer dim and
    rolls up per market segment), then full-outer-join the drained
    memory sink against the batch twin and report (n_groups,
    n_mismatched, streaming_equals_batch) — the same verdict pattern
    as streaming_batch_equivalence, extended from windowed aggs to the
    third streaming join mode (stream-static; stream-stream interval
    join and dedup already board-proven). Counts compare exactly; the
    float sum to 1e-6 (different reduction orders)."""
    from supplier_performance_data_pipeline_spark.streaming.events import (
        read_event_stream,
        run_to_memory_sink,
        streaming_enriched_segment_rollup,
    )

    tune_session(spark)
    app = spark.sparkContext.applicationId.replace("-", "_")
    name = f"stream_enrich_{app}_{next(_STREAM_EQ_SEQ)}"
    cust = _t_customer(spark, sf_dir)
    stream = read_event_stream(spark, sf_dir)
    run_to_memory_sink(
        streaming_enriched_segment_rollup(stream, cust),
        name,
        "complete",
        shuffle_partitions=_replay_partitions(spark, sf_dir),
    )
    streamed = spark.table(name)
    batch = (
        _events(spark, sf_dir)
        .join(
            F.broadcast(cust.select("c_custkey", "c_mktsegment")),
            F.col("user_id") == F.col("c_custkey"),
        )
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("value").alias("sum_value"),
        )
    )
    j = batch.alias("b").join(
        streamed.alias("s"), ["c_mktsegment"], "full_outer"
    )
    mism = (
        F.col("b.n_events").isNull()
        | F.col("s.n_events").isNull()
        | (F.col("b.n_events") != F.col("s.n_events"))
        | (F.abs(F.col("b.sum_value") - F.col("s.sum_value")) > 1e-6)
    )
    n_mism = F.sum(F.when(mism, 1).otherwise(0)).cast("bigint")
    return j.agg(
        F.count(F.lit(1)).alias("n_groups"),
        n_mism.alias("n_mismatched"),
        (n_mism == 0).alias("streaming_equals_batch"),
    )


def _t_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune_session(spark)
    return spark.read.parquet(os.path.join(sf_dir, "customer.parquet"))


# --- streaming sliding-window equivalence -----------------------------------


@register(
    "streaming_sliding_equivalence",
    oracle="""
WITH w AS (
    SELECT DISTINCT
        CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 900) * 900
             - i.i * 900 AS BIGINT) AS wstart_epoch,
        event_type
    FROM events CROSS JOIN (SELECT unnest(range(0, 4)) AS i) i
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
       CAST(0 AS BIGINT) AS n_mismatched,
       TRUE AS streaming_equals_batch
FROM w
""".strip(),
)
def q_streaming_sliding_equivalence(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Fourth streaming verdict row: the watermarked SLIDING-window
    rollup (1h window / 15min slide — 4 overlapping windows per event)
    replayed through a memory sink and full-outer-joined against its
    batch twin (the same F.window expression in batch mode). Counts
    compare exactly and sums are DECIMAL-exact on both arms, so any
    divergence in window ALIGNMENT (the failure mode tumbling windows
    can't catch: a slide-offset bug changes which 4 windows an event
    lands in), late-row handling, or accumulation flips the booleans
    and hash-fails the driver row. The oracle derives the expected
    group count from epoch arithmetic — floor-to-slide minus i*slide
    for i in 0..3 — independently of either Spark arm."""
    from supplier_performance_data_pipeline_spark.streaming.events import (
        read_event_stream,
        run_to_memory_sink,
        streaming_sliding_rollup,
    )

    tune_session(spark)
    app = spark.sparkContext.applicationId.replace("-", "_")
    name = f"stream_slide_{app}_{next(_STREAM_EQ_SEQ)}"
    stream = read_event_stream(spark, sf_dir)
    run_to_memory_sink(
        streaming_sliding_rollup(stream),
        name,
        "complete",
        shuffle_partitions=_replay_partitions(spark, sf_dir),
    )
    streamed = spark.table(name)
    ev = _events(spark, sf_dir)
    vdec = F.col("value").cast("decimal(18,6)")
    batch = (
        ev.groupBy(
            F.window("ts", "1 hour", "15 minutes").alias("w"), "event_type"
        )
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
    j = batch.alias("b").join(
        streamed.alias("s"), ["window_start", "event_type"], "full_outer"
    )
    mism = (
        F.col("b.n_events").isNull()
        | F.col("s.n_events").isNull()
        | (F.col("b.n_events") != F.col("s.n_events"))
        | (F.col("b.sum_value") != F.col("s.sum_value"))
    )
    n_mism = F.sum(F.when(mism, 1).otherwise(0)).cast("bigint")
    return j.agg(
        F.count(F.lit(1)).alias("n_groups"),
        n_mism.alias("n_mismatched"),
        (n_mism == 0).alias("streaming_equals_batch"),
    )


# --- forward as-of: next error after each purchase --------------------------


@register(
    "events_asof_next_error",
    oracle="""
WITH base AS (
    SELECT user_id, event_id, event_type, value, CAST(ts AS TIMESTAMP) AS ts
    FROM events
),
purchases AS (
    SELECT user_id, ts, event_id, value FROM base WHERE event_type = 'purchase'
),
errors AS (
    SELECT user_id, ts, MAX(value) AS value
    FROM base WHERE event_type = 'error' GROUP BY user_id, ts
)
SELECT p.user_id, p.ts, p.event_id, p.value,
       e.ts AS next_ts, e.value AS next_value,
       CASE WHEN e.ts IS NULL THEN NULL
            ELSE CAST(DATE_DIFF('second', p.ts, e.ts) AS BIGINT) END
           AS seconds_until_error
FROM purchases p ASOF LEFT JOIN errors e
  ON p.user_id = e.user_id AND p.ts <= e.ts
""".strip(),
)
def q_events_asof_next_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of join: each purchase matched to the user's nearest
    UPCOMING 'error' event (inclusive) — the "did this purchase precede
    a failure" lookup, the mirror of events_asof_purchase_view's
    backward match. Same union-trick plan, one shuffle on user_id, with
    the window frame flipped to (currentRow, unboundedFollowing); the
    oracle uses DuckDB's native ASOF JOIN with the reversed inequality,
    so two independent implementations must agree on every row. Errors
    pre-aggregate to one row per (user_id, ts) — the operator's
    right-side uniqueness contract — mirrored in the oracle."""
    from supplier_performance_data_pipeline_spark.operators.asof import (
        asof_join,
    )

    ev = _events(spark, sf_dir).select(
        "user_id", "ts", "event_id", "event_type", "value"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").drop("event_type")
    errors = (
        ev.filter(F.col("event_type") == "error")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("value"))
    )
    out = asof_join(
        purchases,
        errors,
        on="user_id",
        ts_col="ts",
        value_cols=["value"],
        prefix="next_",
        direction="forward",
    )
    return out.select(
        "user_id",
        "ts",
        "event_id",
        "value",
        F.col("next_ts"),
        F.col("next_value"),
        F.when(
            F.col("next_ts").isNotNull(),
            (F.unix_timestamp("next_ts") - F.unix_timestamp("ts")).cast(
                "long"
            ),
        ).alias("seconds_until_error"),
    )


# --- streaming session-window equivalence -----------------------------------


@register(
    "streaming_session_equivalence",
    oracle="""
WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
g AS (
    SELECT user_id, ts,
           CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                  OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                     >= INTERVAL 30 MINUTE
                THEN 1 ELSE 0 END AS new_s
    FROM e
),
s AS (
    SELECT user_id, ts,
           SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                            ROWS UNBOUNDED PRECEDING) AS sid
    FROM g
),
agg AS (
    SELECT user_id, sid, MAX(ts) AS last_ts FROM s GROUP BY 1, 2
),
mx AS (SELECT MAX(ts) AS max_ts FROM e)
SELECT CAST(COUNT(*) AS BIGINT) AS n_closed_sessions,
       CAST(0 AS BIGINT) AS n_mismatched,
       TRUE AS streaming_equals_batch
FROM agg, mx
WHERE last_ts + INTERVAL 30 MINUTE
      <= max_ts - INTERVAL 2 HOUR - INTERVAL 1 SECOND
""".strip(),
)
def q_streaming_session_equivalence(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Fifth streaming verdict row, and the hardest stateful shape on
    the board: NATIVE SESSION WINDOWS under watermark eviction. The
    event stream replays through streaming_sessionize (session_window
    + append mode — merging session state emits only when the
    watermark passes a session's end), full-outer-joined against the
    batch twin (the same session_window expression in batch mode) over
    the CLOSED region: sessions whose end (last event + gap) precedes
    the final watermark minus a 1s guard — the only region append-mode
    streaming promises to have emitted; both arms filter identically,
    so a mismatch means streaming session MERGE or EVICTION dropped or
    split a session batch mode kept. The oracle counts closed sessions
    via the lag-gap-cumsum construction — a third, independent
    implementation of session semantics (it must agree with
    session_window on where every session boundary falls)."""
    from supplier_performance_data_pipeline_spark.streaming.events import (
        read_event_stream,
        run_to_memory_sink,
        streaming_sessionize,
    )

    tune_session(spark)
    app = spark.sparkContext.applicationId.replace("-", "_")
    name = f"stream_sess_{app}_{next(_STREAM_EQ_SEQ)}"
    stream = read_event_stream(spark, sf_dir)
    run_to_memory_sink(
        streaming_sessionize(stream),
        name,
        "append",
        shuffle_partitions=_replay_partitions(spark, sf_dir),
    )
    ev = _events(spark, sf_dir)
    max_ts = ev.agg(F.max("ts").alias("max_ts"))
    cutoff = (
        F.col("max_ts")
        - F.expr("INTERVAL 2 HOURS")
        - F.expr("INTERVAL 1 SECONDS")
    )
    batch = (
        ev.groupBy(
            F.session_window("ts", "30 minutes").alias("w"), "user_id"
        )
        .agg(
            F.count("*").alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
        )
        .select("user_id", "n_events", "session_start", "session_end")
    )

    def closed(df: DataFrame) -> DataFrame:
        return (
            df.crossJoin(F.broadcast(max_ts))
            .filter(
                F.col("session_end") + F.expr("INTERVAL 30 MINUTES") <= cutoff
            )
            .drop("max_ts")
        )

    j = closed(batch).alias("b").join(
        closed(spark.table(name)).alias("s"),
        ["user_id", "session_start"],
        "full_outer",
    )
    mism = (
        F.col("b.n_events").isNull()
        | F.col("s.n_events").isNull()
        | (F.col("b.n_events") != F.col("s.n_events"))
        | (F.col("b.session_end") != F.col("s.session_end"))
    )
    n_mism = F.sum(F.when(mism, 1).otherwise(0)).cast("bigint")
    return j.agg(
        F.count(F.lit(1)).alias("n_closed_sessions"),
        n_mism.alias("n_mismatched"),
        (n_mism == 0).alias("streaming_equals_batch"),
    )


# --- distribution drift: PSI between time halves ----------------------------

_PSI_BUCKETS = 10


@register(
    "events_value_drift_psi",
    oracle=f"""
WITH e AS (
    SELECT value, epoch_us(CAST(ts AS TIMESTAMP)) AS us
    FROM events WHERE value IS NOT NULL
),
b AS (
    SELECT MIN(value) AS mn, MAX(value) AS mx,
           (MIN(us) + MAX(us)) // 2 AS cutoff
    FROM e
),
sided AS (
    SELECT CAST(least(floor((value - mn) * {_PSI_BUCKETS}
                            / nullif(mx - mn, 0)),
                      {_PSI_BUCKETS - 1}) AS INTEGER) AS bucket,
           (us <= cutoff) AS is_before
    FROM e CROSS JOIN b
),
cnt AS (
    SELECT COALESCE(bucket, 0) AS bucket,
           SUM(CASE WHEN is_before THEN 1 ELSE 0 END) AS n_before,
           SUM(CASE WHEN is_before THEN 0 ELSE 1 END) AS n_after
    FROM sided GROUP BY 1
),
spine AS (SELECT unnest(range(0, {_PSI_BUCKETS})) AS bucket),
dense AS (
    SELECT CAST(s.bucket AS INTEGER) AS bucket,
           COALESCE(c.n_before, 0) AS n_before,
           COALESCE(c.n_after, 0) AS n_after
    FROM spine s LEFT JOIN cnt c ON s.bucket = c.bucket
),
tot AS (
    SELECT SUM(n_before) AS tb, SUM(n_after) AS ta FROM dense
)
SELECT bucket,
       CAST(n_before AS BIGINT) AS n_before,
       CAST(n_after AS BIGINT) AS n_after,
       ROUND((CAST(n_before + 1 AS DOUBLE) / (tb + {_PSI_BUCKETS})
              - CAST(n_after + 1 AS DOUBLE) / (ta + {_PSI_BUCKETS}))
             * ln((CAST(n_before + 1 AS DOUBLE) / (tb + {_PSI_BUCKETS}))
                  / (CAST(n_after + 1 AS DOUBLE) / (ta + {_PSI_BUCKETS}))),
             6) AS psi_term
FROM dense CROSS JOIN tot
""".strip(),
)
def q_events_value_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population-stability-index drift check between the first and
    second time halves of the event stream — the standard ML-ops
    monitor for "has this feature's distribution moved" (PSI > 0.2 is
    the conventional alarm; the per-bucket terms localize WHERE the
    mass moved). Both the value range and the time split derive from
    the table itself (fixed-width buckets over [min,max] value;
    integer-µs midpoint cutoff), so the check is parameter-free and
    reproducible. Laplace add-one smoothing keeps empty buckets finite
    AND integer-exact: every PSI input is a ratio of exact integers,
    so the single (p-q)·ln(p/q) float expression per bucket is
    deterministic on both engines, rounded once at the edge.

    Plan: one bounds aggregate (map-side combined 1-row) broadcast
    onto the scan, one bucket-keyed count aggregate ({b} groups), one
    1-row total broadcast back — at 100 TB: two scans of one column,
    three dimension-sized exchanges, nothing else."""
    ev = _events(spark, sf_dir).filter(F.col("value").isNotNull())
    e = ev.select("value", F.unix_micros(F.col("ts")).alias("us"))
    b = e.agg(
        F.min("value").alias("mn"),
        F.max("value").alias("mx"),
        ((F.min("us") + F.max("us")) / 2).cast("long").alias("cutoff"),
    )
    sided = e.crossJoin(F.broadcast(b)).select(
        F.coalesce(
            F.least(
                F.floor(
                    (F.col("value") - F.col("mn"))
                    * _PSI_BUCKETS
                    / F.nullif(F.col("mx") - F.col("mn"), F.lit(0.0))
                ),
                F.lit(_PSI_BUCKETS - 1),
            ).cast("int"),
            F.lit(0),
        ).alias("bucket"),
        (F.col("us") <= F.col("cutoff")).alias("is_before"),
    )
    cnt = sided.groupBy("bucket").agg(
        F.sum(F.when(F.col("is_before"), 1).otherwise(0)).alias("n_before"),
        F.sum(F.when(F.col("is_before"), 0).otherwise(1)).alias("n_after"),
    )
    # Densify against the full bucket spine: a bucket empty in BOTH
    # halves still owes its Laplace-smoothed PSI term whenever the two
    # half sizes differ — dropping it silently underestimates drift.
    spine = spark.range(_PSI_BUCKETS).select(
        F.col("id").cast("int").alias("bucket")
    )
    cnt = (
        spine.join(cnt, "bucket", "left")
        .na.fill({"n_before": 0, "n_after": 0})
    )
    # Totals as an unpartitioned window over the ≤B-row bucket table:
    # a second aggregate would recompute the whole fact subtree (the
    # plan is lazy, not materialized) — a window reuses the ONE pass
    # and exchanges only the bucket rows.
    from pyspark.sql.window import Window

    w = Window.partitionBy()
    tcnt = cnt.withColumn("tb", F.sum("n_before").over(w)).withColumn(
        "ta", F.sum("n_after").over(w)
    )
    p = (F.col("n_before") + 1).cast("double") / (
        F.col("tb") + _PSI_BUCKETS
    )
    q = (F.col("n_after") + 1).cast("double") / (F.col("ta") + _PSI_BUCKETS)
    return tcnt.select(
        "bucket",
        F.col("n_before").cast("long").alias("n_before"),
        F.col("n_after").cast("long").alias("n_after"),
        F.round((p - q) * F.log(p / q), 6).alias("psi_term"),
    )


q_events_value_drift_psi.__doc__ = q_events_value_drift_psi.__doc__.format(
    b=_PSI_BUCKETS
)


# --- out-of-orderness profile via distributed prefix max --------------------

_LATE_BLOCK = 1024  # arrival-order block size for the two-level prefix


@register(
    "events_lateness_histogram",
    oracle="""
WITH e AS (
    SELECT event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events
),
run AS (
    SELECT us,
           MAX(us) OVER (ORDER BY event_id
                         ROWS UNBOUNDED PRECEDING) AS run_max
    FROM e
),
lat AS (SELECT run_max - us AS late_us FROM run)
SELECT CASE WHEN late_us = 0 THEN 'in_order'
            WHEN late_us <= 60000000 THEN 'le_1m'
            WHEN late_us <= 600000000 THEN 'le_10m'
            WHEN late_us <= 3600000000 THEN 'le_1h'
            ELSE 'gt_1h' END AS lateness_bucket,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(MAX(late_us) // 1000000 AS BIGINT) AS max_lateness_s
FROM lat GROUP BY 1
""".strip(),
)
def q_events_lateness_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How out-of-order is the stream, really — the histogram that
    SIZES THE WATERMARK: per event, lateness = (running max event time
    over arrival order) - (own event time), bucketed; the tail bucket
    is exactly the mass a given watermark would drop. Arrival order is
    the event_id sequence (ingest-assigned).

    The interesting part is HOW a running max over a global order
    scales: a naive unpartitioned window single-partitions the whole
    fact (the one-reducer trap — fine for top-k output, fatal for a
    per-row prefix). This is the classic two-level PARALLEL PREFIX
    instead: (1) block = event_id div {B}; per-block max — one
    map-side-combined aggregate; (2) running max over the BLOCK table
    shifted one block back — an unpartitioned window over a
    dimension-sized table (n_blocks = n/{B}); (3) per-event prefix =
    greatest(previous blocks' max, running max WITHIN the block) — a
    window PARTITIONED by block, embarrassingly parallel. Identical
    semantics to the oracle's single running max, proven by the
    differential hash; the plan pin asserts no unpartitioned window
    ever touches event grain. Lateness stays in INTEGER µs through
    bucketing — fractional-second lateness is real (0.5s late is
    le_1m, not in_order), and a divide-then-truncate before the
    buckets would silently disagree with the oracle's exact integers.

    Honest coverage note: the driver's generated events are perfectly
    in-order, so oracle parity exercises only the in_order bucket;
    the bucket thresholds, cross-block prev_max path, and sub-second
    lateness are proven by the brute-force test on synthetic
    out-of-order data (tests/test_edge_inputs.py).

    {B} is the scale knob: the block table is n/{B} rows and is
    broadcast here, so size the block so that stays dimension-sized
    (≲10M rows — at n=10^12 use a ~10^6 block). Past broadcast scale,
    drop the hint: the block join keys on the SAME column the
    intra-block window shuffles on, so AQE co-partitions the two into
    one exchange — or add a third level (blocks of blocks), the
    general log-depth parallel-prefix construction."""
    from pyspark.sql.window import Window

    ev = _events(spark, sf_dir)
    e = ev.select(
        "event_id",
        F.unix_micros(F.col("ts")).alias("us"),
        (F.col("event_id") / _LATE_BLOCK).cast("long").alias("block"),
    )
    blocks = e.groupBy("block").agg(F.max("us").alias("block_max"))
    wprev = (
        Window.orderBy("block")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prev = blocks.withColumn("prev_max", F.max("block_max").over(wprev))
    win_block = (
        Window.partitionBy("block")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    # greatest() skips NULLs in Spark, so the first block (prev_max
    # NULL) needs no coalesce. Lateness stays in INTEGER microseconds
    # through bucketing — a divide-then-truncate here would disagree
    # with the oracle on fractional-second lateness (0.5s late is
    # le_1m, not in_order).
    lat = (
        e.join(F.broadcast(prev.select("block", "prev_max")), "block")
        .withColumn("intra_max", F.max("us").over(win_block))
        .select(
            (
                F.greatest(F.col("prev_max"), F.col("intra_max"))
                - F.col("us")
            ).alias("late_us")
        )
    )
    bucket = (
        F.when(F.col("late_us") == 0, "in_order")
        .when(F.col("late_us") <= 60_000_000, "le_1m")
        .when(F.col("late_us") <= 600_000_000, "le_10m")
        .when(F.col("late_us") <= 3_600_000_000, "le_1h")
        .otherwise("gt_1h")
    )
    return lat.groupBy(bucket.alias("lateness_bucket")).agg(
        F.count("*").cast("long").alias("n_events"),
        F.floor(F.max("late_us") / 1_000_000).cast("long")
        .alias("max_lateness_s"),
    )


q_events_lateness_histogram.__doc__ = q_events_lateness_histogram.__doc__.format(
    B=_LATE_BLOCK
)


# --- streaming left-outer interval-join equivalence -------------------------


@register(
    "streaming_left_outer_equivalence",
    oracle="""
WITH e AS (
    SELECT event_id, user_id, event_type, CAST(ts AS TIMESTAMP) AS ts
    FROM events
),
p AS (SELECT user_id, event_id AS purchase_id, ts AS p_ts
      FROM e WHERE event_type = 'purchase'),
er AS (SELECT user_id, event_id AS error_id, ts AS e_ts
       FROM e WHERE event_type = 'error'),
wm AS (
    SELECT CASE WHEN mp IS NULL OR me IS NULL THEN NULL
                ELSE least(mp, me) - INTERVAL 2 HOUR
                     - INTERVAL 10 MINUTE - INTERVAL 1 SECOND END AS cutoff
    FROM (SELECT (SELECT MAX(ts) FROM e WHERE event_type = 'purchase') AS mp,
                 (SELECT MAX(ts) FROM e WHERE event_type = 'error') AS me)
),
j AS (
    SELECT p.purchase_id, er.error_id
    FROM p CROSS JOIN wm
    LEFT JOIN er ON p.user_id = er.user_id
        AND er.e_ts >= p.p_ts - INTERVAL 10 MINUTE
        AND er.e_ts <= p.p_ts
    WHERE p.p_ts <= wm.cutoff
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COALESCE(SUM(CASE WHEN error_id IS NULL THEN 1 ELSE 0 END), 0)
            AS BIGINT) AS n_unmatched,
       CAST(0 AS BIGINT) AS n_mismatched,
       TRUE AS streaming_equals_batch
FROM j
""".strip(),
)
def q_streaming_left_outer_equivalence(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Sixth streaming verdict row, completing the join matrix: the
    stream-stream LEFT OUTER interval join — unmatched purchases must
    emit with NULL error columns, but only once the watermark PROVES no
    match can still arrive (the failure modes are emitting too early —
    phantom unmatched rows that later match — or never emitting at
    all). Both arms (append-mode streaming replay, batch twin) filter
    to the closed region: purchases older than the joint watermark
    (min of the two sides' max ts, minus delay, interval, and a 1s
    guard), the only region append mode promises complete. The compare
    is a full-outer join on (purchase_id, error_id-or-sentinel) — a
    phantom or missing unmatched row breaks the pair-set equality, and
    the oracle independently recomputes the closed-region LEFT JOIN
    with its unmatched count."""
    from supplier_performance_data_pipeline_spark.streaming.events import (
        interval_join,
        read_event_stream,
        run_to_memory_sink,
        streaming_interval_join,
    )

    tune_session(spark)
    app = spark.sparkContext.applicationId.replace("-", "_")
    name = f"stream_lo_{app}_{next(_STREAM_EQ_SEQ)}"
    stream = read_event_stream(spark, sf_dir)
    run_to_memory_sink(
        streaming_interval_join(
            stream.filter(F.col("event_type") == "purchase"),
            stream.filter(F.col("event_type") == "error"),
            how="left_outer",
        ),
        name,
        "append",
        shuffle_partitions=_replay_partitions(spark, sf_dir),
    )
    ev = _events(spark, sf_dir)
    purchases = ev.filter(F.col("event_type") == "purchase")
    errors = ev.filter(F.col("event_type") == "error")
    # ONE bounded collect (a single scalar — the IVF-probe precedent):
    # an uncollected wm DataFrame would be re-derived inside BOTH
    # closed() arms, re-scanning events four times. NULL-safe on
    # purpose: least() SKIPS NULLs, so with one side absent it would
    # fabricate a cutoff while the joint streaming watermark (min over
    # both sides' nodes) never advances — the closed region must be
    # EMPTY when either side is empty, matching the oracle's CASE.
    # Collect INTEGER microseconds, not datetimes: PySpark converts
    # TimestampType through the OS local timezone on collect()/lit(),
    # so naive datetime arithmetic here would drift an hour across DST
    # transitions while the oracle does instant arithmetic. Integer µs
    # round-trips exactly via unix_micros/timestamp_micros.
    mp_us, me_us = (
        purchases.agg(F.max(F.unix_micros("ts")).alias("mp"))
        .crossJoin(errors.agg(F.max(F.unix_micros("ts")).alias("me")))
        .first()
    )
    if mp_us is None or me_us is None:
        cutoff_lit = F.lit(None).cast("timestamp")
    else:
        cutoff_us = min(mp_us, me_us) - (2 * 3600 + 10 * 60 + 1) * 1_000_000
        cutoff_lit = F.timestamp_micros(F.lit(cutoff_us))

    def closed(df: DataFrame) -> DataFrame:
        return df.filter(F.col("p_ts") <= cutoff_lit).select(
            "purchase_id",
            F.coalesce(F.col("error_id"), F.lit(-1)).alias("err_key"),
            F.col("error_id"),
        )

    batch = closed(interval_join(purchases, errors, how="left_outer"))
    streamed = closed(spark.table(name))
    j = batch.alias("b").join(
        streamed.alias("s"), ["purchase_id", "err_key"], "full_outer"
    )
    mism = F.col("b.err_key").isNull() | F.col("s.err_key").isNull()
    # SUM over zero rows is NULL — an EMPTY closed region (short-span
    # data) must still report (0, 0, 0, TRUE), matching the oracle.
    n_mism = F.coalesce(
        F.sum(F.when(mism, 1).otherwise(0)), F.lit(0)
    ).cast("bigint")
    return j.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.coalesce(
            F.sum(
                F.when(F.col("b.error_id").isNull() & ~mism, 1).otherwise(0)
            ),
            F.lit(0),
        )
        .cast("bigint")
        .alias("n_unmatched"),
        n_mism.alias("n_mismatched"),
        (n_mism == 0).alias("streaming_equals_batch"),
    )


# --- Count-Min sketch frequency audit ---------------------------------------

from supplier_performance_data_pipeline_spark.operators.sampling import (  # noqa: E402
    md5_mod_sql,
)
from supplier_performance_data_pipeline_spark.operators.sketch import (  # noqa: E402
    CM_DEPTH,
    CM_WIDTH,
    cm_cell_table,
    cm_estimates,
)

_CM_PROBES_SQL = "\n    UNION ALL ".join(
    f"SELECT event_type, {r} AS row, "
    + md5_mod_sql("event_type", f"cm{r}|", CM_WIDTH)
    + " AS pos FROM events WHERE event_type IS NOT NULL"
    for r in range(CM_DEPTH)
)


@register(
    "events_cm_frequency_audit",
    oracle=f"""
WITH probes AS (
    {_CM_PROBES_SQL}
),
cells AS (
    SELECT row, pos, COUNT(*) AS cnt FROM probes GROUP BY row, pos
),
items AS (
    SELECT DISTINCT event_type FROM events WHERE event_type IS NOT NULL
),
iprobes AS (
    SELECT p.event_type, p.row, p.pos FROM (
        {_CM_PROBES_SQL.replace("FROM events", "FROM items")}
    ) p
),
est AS (
    SELECT i.event_type AS item, MIN(COALESCE(c.cnt, 0)) AS est
    FROM (SELECT DISTINCT event_type, row, pos FROM iprobes) i
    LEFT JOIN cells c ON i.row = c.row AND i.pos = c.pos
    GROUP BY i.event_type
),
truth AS (
    SELECT event_type AS item, COUNT(*) AS true_cnt
    FROM events WHERE event_type IS NOT NULL GROUP BY event_type
)
SELECT t.item,
       CAST(t.true_cnt AS BIGINT) AS true_cnt,
       CAST(e.est AS BIGINT) AS est,
       CAST(e.est - t.true_cnt AS BIGINT) AS overestimate,
       e.est >= t.true_cnt AS never_undercounts
FROM truth t JOIN est e ON t.item = e.item
""".strip(),
)
def q_events_cm_frequency_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch frequency audit (Cormode & Muthukrishnan '05):
    build the mergeable (row, pos, cnt) cell table over event_type,
    point-query every distinct type back through the sketch, and emit
    estimate vs exact count with the overestimate margin — the
    structural guarantee (est >= truth ALWAYS; cells only ever add)
    surfaces as a per-item boolean the driver hash-verifies. The cell
    table uses the engine's portable md5_mod recipe, so the oracle
    reproduces every cell bit-for-bit — unlike Misra-Gries (whose
    candidate set is arrival-order-dependent and only superset-
    verifiable), the CM sketch is a reproducible VALUE.

    Plan: one fact scan → ×depth generator expansion (projection) →
    ONE (row, pos)-keyed agg whose map-side combine collapses each
    partition to <= depth×width cells BEFORE the shuffle: the exchange
    carries the sketch, not the data. The estimate pass never rescans
    the fact table — the sketch (<= 4096 rows) broadcasts into the
    distinct-item probe join. At 100 TB this is the shape that counts
    a quadrillion events in ~32 KB of shuffled state per partition;
    widen CM_WIDTH to bound the additive error 2n/width."""
    ev = _events(spark, sf_dir)
    cells = cm_cell_table(ev, "event_type")
    items = ev.filter(F.col("event_type").isNotNull()).select(
        "event_type"
    ).distinct()
    est = cm_estimates(cells, items, "event_type")
    truth = (
        ev.filter(F.col("event_type").isNotNull())
        .groupBy(F.col("event_type").alias("item"))
        .agg(F.count("*").alias("true_cnt"))
    )
    return truth.join(est, "item").select(
        "item",
        F.col("true_cnt").cast("long").alias("true_cnt"),
        F.col("est").cast("long").alias("est"),
        (F.col("est") - F.col("true_cnt")).cast("long").alias("overestimate"),
        (F.col("est") >= F.col("true_cnt")).alias("never_undercounts"),
    )


# --- debounce: time-axis dedup (burst openers) ------------------------------

from supplier_performance_data_pipeline_spark.operators.windows import (  # noqa: E402
    debounce,
)

_DEBOUNCE_QUIET_S = 86400  # 1 day: events are sparse per user


@register(
    "events_debounce",
    oracle=f"""
WITH e AS (
    SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
    FROM events WHERE ts IS NOT NULL
),
g AS (
    SELECT event_id, user_id, ts,
           epoch(ts) - LAG(epoch(ts)) OVER (
               PARTITION BY user_id ORDER BY epoch(ts), event_id
           ) AS gap
    FROM e
)
SELECT user_id, event_id, epoch_us(ts) AS ts_us
FROM g WHERE gap IS NULL OR gap > {_DEBOUNCE_QUIET_S}
""".strip(),
)
def q_events_debounce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Debounce: keep only the OPENING event of each per-user burst
    (quiet window {quiet}s) — the time-axis member of the dedup family:
    exact dedup collapses identical payloads, debounce collapses
    temporal repeats regardless of payload. Semantically identical to
    "sessionize with gap=quiet and keep each session's first event",
    which is the operator's cross-validation contract
    (tests/test_windows.py).

    Plan: ONE user-keyed shuffle for the lag window, then a pure
    filter — no join, no second scan. The epoch-seconds gap is
    µs/1e6 in both engines (exact division, identical doubles);
    event_id breaks ts ties so the kept set is a total-order cut.
    Output pins timestamps as integer epoch-µs, keeping the hashed
    surface integer-only. At 100 TB the window partitions by the
    (high-cardinality) user key — no global sort anywhere."""
    ev = _events(spark, sf_dir)
    kept = debounce(
        ev,
        ["user_id"],
        ts_col="ts",
        quiet_seconds=_DEBOUNCE_QUIET_S,
        order_col="event_id",
    )
    return kept.select(
        "user_id",
        "event_id",
        F.unix_micros(F.col("ts")).alias("ts_us"),
    )


q_events_debounce.__doc__ = q_events_debounce.__doc__.format(
    quiet=_DEBOUNCE_QUIET_S
)


# --- interval-interval overlap join (bucketized temporal join) --------------

from supplier_performance_data_pipeline_spark.operators.rangejoin import (  # noqa: E402
    interval_overlap_join,
)

_OVL_GAP_MIN = 30
_OVL_BUCKET_S = 3600


def _session_intervals_sql(etype: str, alias: str) -> str:
    """Session CTE chain for one event type: the events_sessionize
    lag/cumsum recipe, reduced to half-open [start, end+1s) intervals."""
    return f"""
{alias}_o AS (
    SELECT user_id, event_id, ts,
        CASE WHEN lag(ts) OVER w IS NULL
                  OR ts > lag(ts) OVER w + INTERVAL {_OVL_GAP_MIN} MINUTE
             THEN 1 ELSE 0 END AS is_new
    FROM (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts
          FROM events WHERE event_type = '{etype}' AND ts IS NOT NULL) b
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
{alias}_s AS (
    SELECT user_id, ts,
        CAST(SUM(is_new) OVER (
            PARTITION BY user_id ORDER BY ts, event_id
            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid
    FROM {alias}_o
),
{alias} AS (
    SELECT user_id, sid, MIN(ts) AS s,
           MAX(ts) + INTERVAL 1 SECOND AS e
    FROM {alias}_s GROUP BY user_id, sid
)""".strip()


@register(
    "error_purchase_session_overlap",
    oracle=f"""
WITH {_session_intervals_sql("error", "err")},
{_session_intervals_sql("purchase", "pur")}
SELECT a.user_id AS err_user, a.sid AS err_session,
       b.user_id AS pur_user, b.sid AS pur_session,
       epoch_us(LEAST(a.e, b.e)) - epoch_us(GREATEST(a.s, b.s))
           AS overlap_us
FROM err a JOIN pur b ON a.s < b.e AND b.s < a.e
""".strip(),
)
def q_error_purchase_session_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-INTERVAL overlap join: which error bursts (per-user
    30-min-gap sessions of 'error' events) overlap in time with
    purchase sessions of ANY user — the "were purchases happening
    while things were on fire" temporal-correlation query. Spark plans
    a bare ``a.s < b.e AND b.s < a.e`` join as a broadcast nested loop
    (O(L·R)); ``interval_overlap_join`` bucketizes BOTH interval sets
    ({_OVL_BUCKET_S}s buckets ≈ session length, ≤2 buckets/interval),
    equi-joins on the bucket, and dedups pairs that share several
    buckets by the OWNER-bucket rule (only the bucket containing
    greatest(start) emits — bucket math in exact integer µs so
    sub-second overlap starts can't round out of the touched range).
    Session construction is the engine's lag/cumsum sessionize —
    user-partitioned windows, bounded state.

    Plan: two session aggs (user-keyed), one bucket-keyed shuffle
    equi-join, exact half-open predicates on candidates; no nested
    loop anywhere. At 100 TB candidate volume per bucket is bounded by
    burst density, not table size; hot buckets are AQE skew-join
    territory like any other key."""
    ev = _events(spark, sf_dir)

    def intervals(etype: str, prefix: str) -> DataFrame:
        # ts IS NOT NULL in BOTH arms: a NULL-ts event would shift
        # every session id in Spark (NULLS FIRST opens a session) but
        # fold into the LAST session in DuckDB (NULLS LAST, NULL gap) —
        # the debounce/asof NULL-time contract applies here too.
        s = sessionize(
            ev.filter(
                (F.col("event_type") == etype) & F.col("ts").isNotNull()
            ),
            gap_minutes=_OVL_GAP_MIN,
        )
        return s.select(
            F.col("user_id").alias(f"{prefix}_user"),
            F.col("session_id").alias(f"{prefix}_session"),
            F.col("session_start").alias(f"{prefix}_s"),
            (F.col("session_end") + F.expr("INTERVAL 1 SECOND")).alias(
                f"{prefix}_e"
            ),
        )

    err = intervals("error", "err")
    pur = intervals("purchase", "pur")
    out = interval_overlap_join(
        err, pur, "err_s", "err_e", "pur_s", "pur_e", _OVL_BUCKET_S
    )
    overlap = F.unix_micros(
        F.least(F.col("err_e"), F.col("pur_e"))
    ) - F.unix_micros(F.greatest(F.col("err_s"), F.col("pur_s")))
    return out.select(
        "err_user",
        "err_session",
        "pur_user",
        "pur_session",
        overlap.alias("overlap_us"),
    )


# --- streaming throttle equivalence (custom sequential keyed state) ---------

_THROTTLE_QUIET_S = 86400


@register(
    "streaming_throttle_equivalence",
    oracle=f"""
WITH RECURSIVE e AS (
    SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
           ROW_NUMBER() OVER (PARTITION BY user_id
               ORDER BY ts, event_id) AS rn
    FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
),
walk AS (
    SELECT user_id, rn, us, TRUE AS kept, us AS last_kept
    FROM e WHERE rn = 1
    UNION ALL
    SELECT n.user_id, n.rn, n.us,
           n.us > w.last_kept + {_THROTTLE_QUIET_S * 1_000_000} AS kept,
           CASE WHEN n.us > w.last_kept + {_THROTTLE_QUIET_S * 1_000_000}
                THEN n.us ELSE w.last_kept END
    FROM walk w JOIN e n ON n.user_id = w.user_id AND n.rn = w.rn + 1
)
SELECT CAST(COUNT(*) FILTER (WHERE kept) AS BIGINT) AS n_kept,
       CAST(0 AS BIGINT) AS n_mismatched,
       TRUE AS throttle_equals_batch
FROM walk
""".strip(),
)
def q_streaming_throttle_equivalence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom SEQUENTIAL keyed state on the driver's board: throttle
    (keep an event iff > {q}s after the last KEPT event of its user —
    rate limiting, the inherently-sequential sibling of the batch
    lag-based ``debounce``) runs through the REAL streaming engine
    (``applyInPandasWithState``, 8-byte state per user) over a
    TIME-SPLIT two-file replay (mtime-ordered, one file per trigger),
    so kept decisions in batch 2 depend on state carried from batch 1.
    The kept set must equal the batch twin — the same ``_throttle_core``
    scan over each user's full history via ``applyInPandas`` — row for
    row; the oracle independently re-derives the kept count with a
    recursive CTE walking each user's (ts, event_id) sequence (depth =
    max events/user), and pins (n_kept, 0 mismatches, TRUE).

    This is the third verification arm: streaming state machinery vs
    batch Arrow scan vs pure-SQL recursion — three executions of one
    spec. State scale: one integer per active user; the replay split
    preserves per-key event-time order across batches, the operator's
    documented contract."""
    import tempfile
    import time as _time

    from supplier_performance_data_pipeline_spark.sources.writers import (
        sweep_stale_artifacts,
        write_replay_file,
    )
    from supplier_performance_data_pipeline_spark.streaming.events import (
        read_event_stream,
        run_to_memory_sink,
    )
    from supplier_performance_data_pipeline_spark.streaming.stateful import (
        batch_throttle,
        streaming_throttle,
    )

    ev = _events(spark, sf_dir)
    app = spark.sparkContext.applicationId.replace("-", "_")
    sweep_stale_artifacts(tempfile.gettempdir(), "spark_graft_throttle_replay_")
    replay = os.path.join(
        tempfile.gettempdir(), f"spark_graft_throttle_replay_{app}"
    )
    os.makedirs(replay, exist_ok=True)
    # time-split halves, mtime-sequenced: per-key event-time order holds
    # ACROSS micro-batches (the operator's contract). The split point
    # crosses the driver as INTEGER microseconds (the left-outer
    # verdict's recipe) — a datetime collect()/lit() round-trip is
    # OS-timezone-dependent in a DST fall-back hour.
    mid_us = ev.agg(
        F.expr("CAST(percentile(unix_micros(ts), 0.5D) AS BIGINT)")
    ).collect()[0][0]
    mid = F.timestamp_micros(F.lit(mid_us))
    t0 = _time.time() - 100
    for i, half in enumerate(
        [ev.filter(F.col("ts") <= mid), ev.filter(F.col("ts") > mid)]
    ):
        write_replay_file(
            half, replay, f"half{i}.events.file", t0 + i * 10
        )
    stream = read_event_stream(
        spark, replay, glob="*.file", max_files_per_trigger=1
    )
    name = f"stream_throttle_{app}_{next(_STREAM_EQ_SEQ)}"
    run_to_memory_sink(
        streaming_throttle(stream, _THROTTLE_QUIET_S),
        name,
        "append",
        shuffle_partitions=_replay_partitions(spark, sf_dir),
    )
    s = spark.table(name).select(
        F.col("event_id").alias("s_eid"), F.lit(1).alias("s_tag")
    )
    b = batch_throttle(ev, _THROTTLE_QUIET_S).select(
        "event_id", F.lit(1).alias("b_tag")
    )
    j = b.join(s, b.event_id == s.s_eid, "full_outer")
    mism = F.col("b_tag").isNull() | F.col("s_tag").isNull()
    n_mism = F.coalesce(F.sum(F.when(mism, 1).otherwise(0)), F.lit(0))
    return j.agg(
        F.coalesce(
            F.sum(F.when(~mism, 1).otherwise(0)), F.lit(0)
        ).cast("long").alias("n_kept"),
        n_mism.cast("long").alias("n_mismatched"),
        (n_mism == 0).alias("throttle_equals_batch"),
    )


q_streaming_throttle_equivalence.__doc__ = (
    q_streaming_throttle_equivalence.__doc__.format(q=_THROTTLE_QUIET_S)
)


# --- streaming state TTL eviction (event-time timeout) ----------------------

_TTL_S = 21600  # 6h idle TTL
_TTL_WM_DELAY_S = 3600  # 1h watermark delay


@register(
    "streaming_state_ttl_eviction",
    oracle=f"""
WITH e AS (
    SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us
    FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
),
b AS (SELECT MAX(us) // 1000 AS max_ms FROM e),
pu AS (
    SELECT user_id, MAX(us) // 1000 AS last_ms, COUNT(*) AS n
    FROM e GROUP BY user_id
)
SELECT user_id, CAST(n AS BIGINT) AS n_events, TRUE AS evicted
FROM pu CROSS JOIN b
WHERE last_ms + {_TTL_S * 1000} < max_ms - {_TTL_WM_DELAY_S * 1000}
""".strip(),
)
def q_streaming_state_ttl_eviction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """State TTL eviction proof — the 8th streaming verdict, and the
    property that makes unbounded key spaces safe at 100 TB: per-user
    state (16 bytes) is reclaimed by an EVENT-TIME timeout once a user
    has been idle past the TTL, and the operator emits a tombstone row
    at eviction. Event-time timeouts are DETERMINISTIC (the watermark
    is a pure function of ingested data), unlike processing-time
    expiry, so the evicted set is exactly checkable.

    Replay: time-split halves (split at the integer-µs midpoint of the
    span — (min+max)//2, trivially identical in any engine) feed two
    micro-batches; a third file carries ONE sentinel event (user −1) at
    the max real timestamp, whose only job is to trigger the batch that
    evaluates timeouts against the final watermark (max real ms − 1h
    delay). Its equal-to-max timestamp does NOT advance the watermark,
    so the stream settles (no further timeout batches). A user is
    evicted iff last_event_ms + 6h < max_ms − 1h — which the oracle
    derives independently from per-user max(ts), in the same integer-ms
    domain Spark's watermark uses (µs//1000; strict <).

    Three-way check like the throttle verdict: streaming state
    machinery (applyInPandasWithState + EventTimeTimeout) vs the
    oracle's relational derivation, per-user row for row including the
    event count frozen into each tombstone."""
    import tempfile
    import time as _time

    from supplier_performance_data_pipeline_spark.sources.writers import (
        sweep_stale_artifacts,
        write_replay_file,
    )
    from supplier_performance_data_pipeline_spark.streaming.events import (
        read_event_stream,
        run_to_memory_sink,
    )
    from supplier_performance_data_pipeline_spark.streaming.stateful import (
        streaming_profiles_event_ttl,
    )

    ev = _events(spark, sf_dir).filter(
        F.col("ts").isNotNull() & F.col("user_id").isNotNull()
    )
    app = spark.sparkContext.applicationId.replace("-", "_")
    sweep_stale_artifacts(tempfile.gettempdir(), "spark_graft_ttl_replay_")
    replay = os.path.join(
        tempfile.gettempdir(), f"spark_graft_ttl_replay_{app}"
    )
    os.makedirs(replay, exist_ok=True)
    # integer-µs bounds cross the driver (tz-safe, same recipe as the
    # throttle split); midpoint split needs no percentile at all.
    mn_us, mx_us = ev.agg(
        F.min(F.unix_micros("ts")), F.max(F.unix_micros("ts"))
    ).collect()[0]
    mid = F.timestamp_micros(F.lit((mn_us + mx_us) // 2))
    sentinel = spark.range(1).select(
        F.lit(-1).cast("long").alias("event_id"),
        F.timestamp_micros(F.lit(mx_us)).alias("ts"),
        F.lit(-1).cast("long").alias("user_id"),
        F.lit("sentinel").alias("event_type"),
        F.lit(0.0).alias("value"),
        F.lit(None).cast("string").alias("props"),
    )
    cols = [f.name for f in ev.schema.fields]
    t0 = _time.time() - 100
    batches = [
        ev.filter(F.col("ts") <= mid),
        ev.filter(F.col("ts") > mid),
        sentinel.select(*cols),
    ]
    for i, part in enumerate(batches):
        write_replay_file(part, replay, f"b{i}.events.file", t0 + i * 10)
    stream = read_event_stream(
        spark, replay, glob="*.file", max_files_per_trigger=1
    )
    name = f"stream_ttl_{app}_{next(_STREAM_EQ_SEQ)}"
    run_to_memory_sink(
        streaming_profiles_event_ttl(stream, _TTL_S, _TTL_WM_DELAY_S),
        name,
        "append",
        shuffle_partitions=_replay_partitions(spark, sf_dir),
    )
    return spark.table(name).filter(F.col("user_id") >= 0).select(
        "user_id", "n_events", "evicted"
    )


# --- hourly cadence autocorrelation -----------------------------------------

_AC_LAGS = (1, 24)  # adjacent-hour persistence + daily seasonality


def _autocorr_oracle(lags: tuple[int, ...]) -> str:
    arms = []
    for lag in lags:
        arms.append(f"""
SELECT {lag} AS lag_hours,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       ROUND((COUNT(*) * SUM(a.x * b.x) - SUM(a.x) * SUM(b.x))
             / (sqrt(CAST(COUNT(*) * SUM(a.x * a.x) - SUM(a.x) * SUM(a.x)
                     AS DOUBLE))
              * sqrt(CAST(COUNT(*) * SUM(b.x * b.x) - SUM(b.x) * SUM(b.x)
                     AS DOUBLE))), 6) AS autocorr
FROM hourly a JOIN hourly b ON b.bucket = a.bucket + INTERVAL {lag} HOUR
""".strip())
    return (
        "WITH hourly AS (\n"
        "    SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS bucket,\n"
        "           COUNT(*) AS x\n"
        "    FROM events WHERE ts IS NOT NULL GROUP BY 1\n"
        ")\n" + "\nUNION ALL\n".join(arms)
    )


@register(
    "events_hourly_autocorrelation",
    oracle=_autocorr_oracle(_AC_LAGS),
)
def q_events_hourly_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cadence detection over the event stream: Pearson autocorrelation
    of hourly event counts at lag 1 (adjacent-hour persistence) and lag
    24 (daily seasonality — the signal a traffic-shaping or
    anomaly-detection job keys on). Pairs are (t, t+lag) hours that
    both observed events — the lag alignment is an exact timestamp
    EQUI-join on the pre-aggregated hourly table, never a window over
    raw events.

    Portability: counts are integers, so every aggregate (n, Σx, Σy,
    Σxy, Σx², Σy²) is exact integer math in both engines, and the
    Pearson formula collapses to ONE double expression at the output
    edge built from those integers — sqrt/multiply/divide are
    IEEE-mandated correctly rounded (the no-libm rule: no ln/exp
    anywhere).

    Plan: one scan → hour-keyed hash agg (map-side combined) → two
    self-equi-joins on the tiny aggregate table → 1-row aggs. At
    100 TB only the first agg touches data; the series length is
    hours, not rows. Scale note: the second-moment sums live in BIGINT
    (DuckDB promotes to HUGEINT); past ~1e9 events/hour promote them
    to DECIMAL(38,0) in both arms before the edge expression — same
    plan, wider agg cells."""
    ev = _events(spark, sf_dir).filter(F.col("ts").isNotNull())
    hourly = ev.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("bucket")
    ).agg(F.count("*").alias("x"))
    out = None
    for lag in _AC_LAGS:
        a = hourly.select(F.col("bucket").alias("ab"), F.col("x").alias("ax"))
        b = hourly.select(F.col("bucket").alias("bb"), F.col("x").alias("bx"))
        j = a.join(
            b, F.col("bb") == F.col("ab") + F.expr(f"INTERVAL {lag} HOURS")
        )
        arm = j.agg(
            F.lit(lag).cast("int").alias("lag_hours"),
            F.count("*").cast("long").alias("n_pairs"),
            F.round(
                (
                    F.count("*") * F.sum(F.col("ax") * F.col("bx"))
                    - F.sum("ax") * F.sum("bx")
                )
                / (
                    F.sqrt(
                        (
                            F.count("*") * F.sum(F.col("ax") * F.col("ax"))
                            - F.sum("ax") * F.sum("ax")
                        ).cast("double")
                    )
                    * F.sqrt(
                        (
                            F.count("*") * F.sum(F.col("bx") * F.col("bx"))
                            - F.sum("bx") * F.sum("bx")
                        ).cast("double")
                    )
                ),
                6,
            ).alias("autocorr"),
        )
        out = arm if out is None else out.unionAll(arm)
    return out


# --- KMV/theta distinct-intersection sketch audit ----------------------------

from supplier_performance_data_pipeline_spark.operators.sampling import (  # noqa: E402
    md5_mod as _kmv_md5_mod,
    md5_mod_sql as _kmv_md5_mod_sql,
)

KMV_K = 32
KMV_M = 1 << 40  # hash range; collisions ~ n^2/2M, negligible
_KMV_SALT = "kmv1|"
_KMV_BUCKETS = 256  # per-type parallel prefilter fan-out


@register(
    "events_kmv_intersection_audit",
    oracle=f"""
WITH uh AS (
    SELECT DISTINCT event_type,
           {_kmv_md5_mod_sql("CAST(user_id AS VARCHAR)", _KMV_SALT, KMV_M)} AS h
    FROM events
    WHERE event_type IN ('view', 'purchase') AND user_id IS NOT NULL
),
ranked AS (
    SELECT event_type, h, ROW_NUMBER() OVER (
        PARTITION BY event_type ORDER BY h) AS rn
    FROM uh
),
th AS (
    SELECT event_type, MAX(CASE WHEN rn = {KMV_K} THEN h END) AS hk,
           COUNT(*) AS n_h
    FROM ranked GROUP BY event_type
),
theta AS (
    SELECT event_type,
           CASE WHEN n_h <= {KMV_K} THEN CAST({KMV_M} AS BIGINT) ELSE hk END
               AS theta
    FROM th
),
samp AS (
    SELECT r.event_type, r.h, t.theta
    FROM ranked r JOIN theta t USING (event_type)
    WHERE r.h < t.theta
),
est AS (
    SELECT event_type, COUNT(*) AS ns, MAX(theta) AS theta
    FROM samp GROUP BY event_type
),
tmin AS (SELECT MIN(theta) AS tm FROM theta),
inter AS (
    SELECT COUNT(*) AS ni FROM samp a JOIN samp b ON a.h = b.h
    CROSS JOIN tmin
    WHERE a.event_type = 'view' AND b.event_type = 'purchase'
      AND a.h < tmin.tm
),
ex AS (
    SELECT COUNT(DISTINCT CASE WHEN event_type = 'view' THEN user_id END)
               AS nv,
           COUNT(DISTINCT CASE WHEN event_type = 'purchase' THEN user_id END)
               AS np
    FROM events WHERE event_type IN ('view', 'purchase')
),
exb AS (
    SELECT COUNT(*) AS nb FROM (
        SELECT user_id FROM events WHERE event_type = 'view'
        INTERSECT
        SELECT user_id FROM events WHERE event_type = 'purchase') t
)
SELECT CAST({KMV_K} AS BIGINT) AS k,
       CAST(ex.nv AS BIGINT) AS n_exact_view,
       CAST(ex.np AS BIGINT) AS n_exact_purchase,
       CAST(exb.nb AS BIGINT) AS n_exact_both,
       ROUND((CAST(ev.ns AS DOUBLE) * {KMV_M}) / ev.theta, 6) AS est_view,
       ROUND((CAST(ep.ns AS DOUBLE) * {KMV_M}) / ep.theta, 6)
           AS est_purchase,
       ROUND((CAST(inter.ni AS DOUBLE) * {KMV_M}) / tmin.tm, 6) AS est_both
FROM ex
CROSS JOIN exb CROSS JOIN inter CROSS JOIN tmin
CROSS JOIN (SELECT * FROM est WHERE event_type = 'view') ev
CROSS JOIN (SELECT * FROM est WHERE event_type = 'purchase') ep
""".strip(),
)
def q_events_kmv_intersection_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV / theta-sketch SET OPERATIONS (Beyer et al. SIGMOD '07;
    Dasgupta et al. theta sketches): the k MINIMUM hash values of each
    side's distinct-user set summarize it, theta = the k-th minimum is
    the effective sampling threshold, distinct ~= |{{h < theta}}| * M /
    theta, and — the part HLL cannot do — the INTERSECTION is estimated
    from the retained samples below min(theta_a, theta_b). Estimates
    ship NEXT TO the exact distinct counts (the verified-estimator
    pattern of `events_user_count_approx` / `lsh_estimator_error`), so
    the sketch error is measured, not trusted. When a side has <= k
    distinct users, theta = M and its estimate is exact by
    construction — the sf0.001 regime exercises exactly that branch.

    Determinism: hashes are the engine-wide md5_mod recipe (pure
    integers), ranks are total (h is distinct within a type), and the
    only doubles are the output-edge divisions of exact integers.
    Plan: distinct (type, h) collapses first (hash agg); the k-minima
    then come from a TWO-LEVEL tournament — per (type, h mod
    {buckets}) bucket a windowed top-k over bucket-sized groups, then
    one tiny window over the <= {buckets}*k survivors — so no engine
    ever sorts a full type partition (the single-window form would
    serialize a billion-user type through one task at 100 TB; the
    k-smallest of per-bucket k-smallest is the same set by a
    pigeonhole argument). Everything downstream is 1-row aggs."""
    from pyspark.sql.window import Window

    # NULL user_id never reaches the hash (md5_mod's engine twins
    # disagree on NULL: Spark concat propagates, DuckDB concat skips).
    ev = (
        _events(spark, sf_dir)
        .filter(
            F.col("event_type").isin("view", "purchase")
            & F.col("user_id").isNotNull()
        )
        .select(
            "event_type",
            _kmv_md5_mod(F.col("user_id"), _KMV_SALT, KMV_M).alias("h"),
        )
        .distinct()
    )
    n_h = ev.groupBy("event_type").agg(F.count("*").alias("n_h"))
    w1 = Window.partitionBy(
        "event_type", F.pmod(F.col("h"), F.lit(_KMV_BUCKETS))
    ).orderBy("h")
    cand = (
        ev.withColumn("brn", F.row_number().over(w1))
        .filter(F.col("brn") <= KMV_K)
        .drop("brn")
    )
    w2 = Window.partitionBy("event_type").orderBy("h")
    ranked = cand.withColumn("rn", F.row_number().over(w2)).filter(
        F.col("rn") <= KMV_K
    )
    th = ranked.groupBy("event_type").agg(
        F.max(F.when(F.col("rn") == KMV_K, F.col("h"))).alias("hk")
    ).join(n_h, "event_type")
    theta = th.select(
        "event_type",
        F.when(F.col("n_h") <= KMV_K, F.lit(KMV_M))
        .otherwise(F.col("hk"))
        .cast("long")
        .alias("theta"),
    )
    samp = (
        ranked.join(theta, "event_type")
        .filter(F.col("h") < F.col("theta"))
        .select("event_type", "h", "theta")
    )
    est = samp.groupBy("event_type").agg(
        F.count("*").alias("ns"), F.max("theta").alias("theta")
    )
    tmin = theta.agg(F.min("theta").alias("tm"))
    inter = (
        samp.filter(F.col("event_type") == "view")
        .select("h")
        .join(
            samp.filter(F.col("event_type") == "purchase").select(
                F.col("h").alias("h2")
            ),
            F.col("h") == F.col("h2"),
        )
        .crossJoin(F.broadcast(tmin))
        .filter(F.col("h") < F.col("tm"))
        .agg(F.count("*").alias("ni"))
    )
    base = _events(spark, sf_dir).filter(
        F.col("event_type").isin("view", "purchase")
    )
    ex = base.agg(
        F.countDistinct(
            F.when(F.col("event_type") == "view", F.col("user_id"))
        ).alias("nv"),
        F.countDistinct(
            F.when(F.col("event_type") == "purchase", F.col("user_id"))
        ).alias("np"),
    )
    exb = (
        base.filter(F.col("event_type") == "view")
        .select("user_id")
        .intersect(
            base.filter(F.col("event_type") == "purchase").select("user_id")
        )
        .agg(F.count("*").alias("nb"))
    )
    ev_est = est.filter(F.col("event_type") == "view").select(
        F.col("ns").alias("ns_v"), F.col("theta").alias("th_v")
    )
    ep_est = est.filter(F.col("event_type") == "purchase").select(
        F.col("ns").alias("ns_p"), F.col("theta").alias("th_p")
    )
    m = float(KMV_M)
    return (
        ex.crossJoin(exb)
        .crossJoin(inter)
        .crossJoin(tmin)
        .crossJoin(ev_est)
        .crossJoin(ep_est)
        .select(
            F.lit(KMV_K).cast("long").alias("k"),
            F.col("nv").cast("long").alias("n_exact_view"),
            F.col("np").cast("long").alias("n_exact_purchase"),
            F.col("nb").cast("long").alias("n_exact_both"),
            F.round(
                (F.col("ns_v").cast("double") * F.lit(m)) / F.col("th_v"), 6
            ).alias("est_view"),
            F.round(
                (F.col("ns_p").cast("double") * F.lit(m)) / F.col("th_p"), 6
            ).alias("est_purchase"),
            F.round(
                (F.col("ni").cast("double") * F.lit(m)) / F.col("tm"), 6
            ).alias("est_both"),
        )
    )


q_events_kmv_intersection_audit.__doc__ = (
    q_events_kmv_intersection_audit.__doc__.format(buckets=_KMV_BUCKETS)
)


# --- seasonal-naive forecast backtest ----------------------------------------


@register(
    "events_seasonal_backtest",
    oracle="""
WITH hourly AS (
    SELECT event_type, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour,
           SUM(CAST(value AS DECIMAL(18,6))) AS v
    FROM events GROUP BY 1, 2
),
paired AS (
    SELECT c.event_type, c.v AS actual, p.v AS pred
    FROM hourly c JOIN hourly p
      ON p.event_type = c.event_type
     AND p.hour = c.hour - INTERVAL 24 HOUR
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_hours,
       ROUND(CAST(SUM(ABS(actual - pred)) AS DOUBLE) / COUNT(*), 6) AS mae,
       ROUND(CAST(SUM(actual - pred) AS DOUBLE) / COUNT(*), 6) AS bias,
       ROUND(CAST(SUM(ABS(actual)) AS DOUBLE) / COUNT(*), 6)
           AS mean_abs_actual
FROM paired GROUP BY event_type
""".strip(),
)
def q_events_seasonal_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast BACKTEST: predict each hour's per-type
    value total with the same hour yesterday (the 24-hour-lag
    persistence model — the baseline every real forecaster must beat),
    and score MAE, signed bias, and the actual-scale reference
    (mean|actual|, so MAE is interpretable as a fraction) per event
    type over the whole history. The join-on-(hour - 24h) form scores
    only hours whose seasonal ancestor EXISTS — a lag-24-ROWS window
    would silently pair across gaps.

    Determinism: hourly totals accumulate in DECIMAL(18,6) (the
    engine-wide hourly-rollup recipe — order-free), differences and
    ABS stay DECIMAL-exact, and the only doubles are the three
    output-edge divisions. Plan: one scan -> (type, hour) hash agg;
    the self-join is an equi-join on the shifted key over the
    already-aggregated hourly table (hours-per-type rows, tiny vs the
    event table); final agg is 5 keys. At 100 TB the event scan
    dominates and happens once; everything after is hour-grain."""
    hourly = (
        _events(spark, sf_dir)
        .groupBy(
            "event_type", F.date_trunc("hour", F.col("ts")).alias("hour")
        )
        .agg(F.sum(F.col("value").cast("decimal(18,6)")).alias("v"))
    )
    pred = hourly.select(
        "event_type",
        F.expr("hour + INTERVAL 24 HOURS").alias("hour"),
        F.col("v").alias("pred"),
    )
    paired = hourly.join(pred, ["event_type", "hour"]).select(
        "event_type", F.col("v").alias("actual"), "pred"
    )
    return paired.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_hours"),
        F.round(
            F.sum(F.abs(F.col("actual") - F.col("pred"))).cast("double")
            / F.count("*"),
            6,
        ).alias("mae"),
        F.round(
            F.sum(F.col("actual") - F.col("pred")).cast("double")
            / F.count("*"),
            6,
        ).alias("bias"),
        F.round(
            F.sum(F.abs(F.col("actual"))).cast("double") / F.count("*"), 6
        ).alias("mean_abs_actual"),
    )


# --- hash-randomized A/B test analysis ---------------------------------------

_AB_SALT = "ab1|"


@register(
    "events_ab_test_analysis",
    oracle=f"""
WITH users AS (
    SELECT DISTINCT user_id FROM events WHERE user_id IS NOT NULL
),
pc AS (
    SELECT user_id, COUNT(*) AS c FROM events
    WHERE event_type = 'purchase' GROUP BY user_id
),
metric AS (
    SELECT u.user_id,
           CASE WHEN {_kmv_md5_mod_sql("CAST(u.user_id AS VARCHAR)", _AB_SALT, 2)} = 0
                THEN 'A' ELSE 'B' END AS variant,
           COALESCE(pc.c, 0) AS c
    FROM users u LEFT JOIN pc ON pc.user_id = u.user_id
),
s AS (
    SELECT variant, COUNT(*) AS n, SUM(c) AS sc,
           SUM(c * c) AS scc
    FROM metric GROUP BY variant
),
w AS (
    SELECT a.n AS na, a.sc AS sca, a.scc AS scca,
           b.n AS nb, b.sc AS scb, b.scc AS sccb
    FROM (SELECT * FROM s WHERE variant = 'A') a
    CROSS JOIN (SELECT * FROM s WHERE variant = 'B') b
)
SELECT CAST(na AS BIGINT) AS users_a,
       CAST(nb AS BIGINT) AS users_b,
       ROUND(CAST(sca AS DOUBLE) / na, 6) AS mean_a,
       ROUND(CAST(scb AS DOUBLE) / nb, 6) AS mean_b,
       ROUND(CAST(sca AS DOUBLE) / na - CAST(scb AS DOUBLE) / nb, 6)
           AS lift,
       ROUND((CAST(sca AS DOUBLE) / na - CAST(scb AS DOUBLE) / nb)
             / sqrt(((na * CAST(scca AS DOUBLE) - CAST(sca AS DOUBLE) * sca)
                     / (CAST(na AS DOUBLE) * (na - 1))) / na
                  + ((nb * CAST(sccb AS DOUBLE) - CAST(scb AS DOUBLE) * scb)
                     / (CAST(nb AS DOUBLE) * (nb - 1))) / nb), 6)
           AS z_score
FROM w
""".strip(),
)
def q_events_ab_test_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout with HASH-randomized assignment: every
    user deterministically lands in variant A or B via the engine-wide
    md5_mod recipe (the industry-standard bucketing that makes
    assignment reproducible across sessions and engines — no stored
    assignment table), the per-user metric is purchase count
    (zero-activity users INCLUDED via the left join — dropping them
    biases the mean), and the readout is the Welch z statistic on the
    mean difference from exact integer sufficient statistics (n, sum,
    sum-of-squares per arm).

    Determinism: assignment and the three statistics are pure integers;
    the mean/variance/z formula is fixed-order double arithmetic on
    those exact integers (sums below 2^53), sqrt is IEEE-exact. Plan:
    one scan builds the user universe, one filtered scan counts
    purchases, both collapse at user grain before anything else; the
    z computation is a 2-row cross of 1-row aggregates. At 100 TB both
    aggs are map-side-combinable hash aggs on user_id.

    NULL user_id is filtered in BOTH arms before hashing: md5_mod's
    engine twins disagree on NULL (Spark concat propagates NULL →
    variant 'B'; DuckDB concat skips NULL args → a real hash), so an
    anonymous event must never reach the bucketing hash."""
    users = (
        _events(spark, sf_dir)
        .filter(F.col("user_id").isNotNull())
        .select("user_id")
        .distinct()
    )
    pc = (
        _events(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.count("*").alias("c"))
    )
    metric = users.join(pc, "user_id", "left").select(
        F.when(
            _kmv_md5_mod(F.col("user_id"), _AB_SALT, 2) == 0, "A"
        )
        .otherwise("B")
        .alias("variant"),
        F.coalesce("c", F.lit(0)).alias("c"),
    )
    s = metric.groupBy("variant").agg(
        F.count("*").alias("n"),
        F.sum("c").alias("sc"),
        F.sum(F.col("c") * F.col("c")).alias("scc"),
    )
    a = s.filter(F.col("variant") == "A").select(
        F.col("n").alias("na"), F.col("sc").alias("sca"),
        F.col("scc").alias("scca"),
    )
    b = s.filter(F.col("variant") == "B").select(
        F.col("n").alias("nb"), F.col("sc").alias("scb"),
        F.col("scc").alias("sccb"),
    )
    w = a.crossJoin(b)
    mean_a = F.col("sca").cast("double") / F.col("na")
    mean_b = F.col("scb").cast("double") / F.col("nb")
    var_a = (
        F.col("na") * F.col("scca").cast("double")
        - F.col("sca").cast("double") * F.col("sca")
    ) / (F.col("na").cast("double") * (F.col("na") - F.lit(1)))
    var_b = (
        F.col("nb") * F.col("sccb").cast("double")
        - F.col("scb").cast("double") * F.col("scb")
    ) / (F.col("nb").cast("double") * (F.col("nb") - F.lit(1)))
    z = (mean_a - mean_b) / F.sqrt(
        var_a / F.col("na") + var_b / F.col("nb")
    )
    return w.select(
        F.col("na").cast("long").alias("users_a"),
        F.col("nb").cast("long").alias("users_b"),
        F.round(mean_a, 6).alias("mean_a"),
        F.round(mean_b, 6).alias("mean_b"),
        F.round(mean_a - mean_b, 6).alias("lift"),
        F.round(z, 6).alias("z_score"),
    )


# --- time-to-convert quantiles -----------------------------------------------


@register(
    "events_time_to_purchase_quantiles",
    oracle="""
WITH firsts AS (
    SELECT user_id,
           MIN(CASE WHEN event_type = 'view'
                    THEN CAST(ts AS TIMESTAMP) END) AS fv,
           MIN(CASE WHEN event_type = 'purchase'
                    THEN CAST(ts AS TIMESTAMP) END) AS fp
    FROM events GROUP BY user_id
),
deltas AS (
    SELECT epoch(fp) - epoch(fv) AS delta_s
    FROM firsts
    WHERE fv IS NOT NULL AND fp IS NOT NULL AND fp >= fv
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_users_converted,
       ROUND(quantile_cont(delta_s, 0.25), 6) AS p25,
       ROUND(quantile_cont(delta_s, 0.50), 6) AS p50,
       ROUND(quantile_cont(delta_s, 0.75), 6) AS p75,
       ROUND(quantile_cont(delta_s, 0.95), 6) AS p95
FROM deltas
""".strip(),
)
def q_events_time_to_purchase_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert distribution: per user the gap between the FIRST
    view and the FIRST purchase (users whose first purchase precedes
    any view are excluded — they converted through another channel),
    summarized as exact interpolated quantiles of the delta in seconds
    — the funnel-latency readout behind 'how long does the pipeline
    have to attribute a conversion'.

    Determinism: firsts are MIN over integer-microsecond timestamps;
    the delta uses the epoch()/cast('double') bit-parity every
    timestamp oracle relies on; ONE percentile(col, array(...)) call
    computes all four quantiles in a single sort buffer (two separate
    percentile aggs measurably double the sort cost) and matches
    DuckDB's quantile_cont interpolation exactly. Plan: user-grain
    conditional-MIN hash agg off one scan, then a single global
    ordered-set aggregate over converted-user-count rows. At 100 TB
    swap percentile -> approx_percentile (same call shape, t-digest)."""
    firsts = (
        _events(spark, sf_dir)
        .groupBy("user_id")
        .agg(
            F.min(
                F.when(F.col("event_type") == "view", F.col("ts"))
            ).alias("fv"),
            F.min(
                F.when(F.col("event_type") == "purchase", F.col("ts"))
            ).alias("fp"),
        )
    )
    deltas = firsts.filter(
        F.col("fv").isNotNull()
        & F.col("fp").isNotNull()
        & (F.col("fp") >= F.col("fv"))
    ).select(
        (F.col("fp").cast("double") - F.col("fv").cast("double")).alias(
            "delta_s"
        )
    )
    pct = F.expr("percentile(delta_s, array(0.25D, 0.50D, 0.75D, 0.95D))")
    return deltas.agg(
        F.count("*").cast("long").alias("n_users_converted"),
        pct.alias("pcts"),
    ).select(
        "n_users_converted",
        F.round(F.col("pcts")[0], 6).alias("p25"),
        F.round(F.col("pcts")[1], 6).alias("p50"),
        F.round(F.col("pcts")[2], 6).alias("p75"),
        F.round(F.col("pcts")[3], 6).alias("p95"),
    )


# --- Markov next-event backtest (train/test user split) -----------------------

from supplier_performance_data_pipeline_spark.operators.sampling import (  # noqa: E402
    md5_mod,
)

_MKV_SALT = "markov|"
_MKV_M = 5  # 1-in-5 users held out


@register(
    "events_markov_backtest",
    oracle=f"""
WITH seq AS (
    SELECT user_id, event_type,
           LEAD(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
           ) AS next_type
    FROM events WHERE user_id IS NOT NULL
),
labeled AS (
    SELECT event_type, next_type,
           {md5_mod_sql("user_id", _MKV_SALT, _MKV_M)} AS b
    FROM seq WHERE next_type IS NOT NULL
),
tc AS (
    SELECT event_type, next_type, COUNT(*) AS n
    FROM labeled WHERE b > 0 GROUP BY 1, 2
),
pred AS (
    SELECT event_type, next_type AS predicted_next FROM (
        SELECT event_type, next_type, ROW_NUMBER() OVER (
            PARTITION BY event_type ORDER BY n DESC, next_type) AS rn
        FROM tc
    ) t WHERE rn = 1
)
SELECT l.event_type AS cur_event,
       p.predicted_next,
       CAST(COUNT(*) AS BIGINT) AS n_test_transitions,
       CAST(SUM(CASE WHEN l.next_type = p.predicted_next
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
       ROUND(CAST(SUM(CASE WHEN l.next_type = p.predicted_next
                           THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6)
           AS accuracy
FROM labeled l JOIN pred p ON p.event_type = l.event_type
WHERE l.b = 0
GROUP BY 1, 2
""".strip(),
)
def q_events_markov_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backtest of the first-order Markov next-event predictor on HELD-
    OUT USERS: train the argmax-transition table on 4/5 of users (the
    portable md5_mod split — user-level, so no within-sequence leakage),
    predict each held-out transition, and report per-current-event
    accuracy — the eval loop that turns
    ``events_type_transition_matrix`` from a statistic into a model.

    Determinism: sequences order by (ts, event_id) (total), the argmax
    breaks count ties on next_type asc, membership is the engine-wide
    md5_mod recipe, counts are integers, one double division at the
    edge. Plan: ONE user-keyed window pass materializes the labeled
    transition table (localCheckpoint — both the train agg and the test
    scoring read it; without it the fact-scale window recomputes per
    consumer); train counts collapse to a 5x5 table, the 5-row argmax
    broadcast-joins onto held-out transitions, and scoring is one
    cur-event-keyed agg. At 100 TB the only fact-scale shuffles are the
    window sort and the two tiny-key aggs.

    NULL user_id is filtered in BOTH arms before hashing: md5_mod's
    engine twins disagree on NULL (Spark concat propagates NULL so the
    anonymous sequence drops out of both folds; DuckDB concat skips
    NULL args and assigns it a real fold)."""
    from pyspark.sql.window import Window

    ev = _events(spark, sf_dir).filter(F.col("user_id").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    labeled = (
        ev.select(
            "user_id",
            "event_type",
            F.lead("event_type").over(w).alias("next_type"),
        )
        .filter(F.col("next_type").isNotNull())
        .select(
            "event_type",
            "next_type",
            md5_mod(F.col("user_id"), _MKV_SALT, _MKV_M).alias("b"),
        )
        .localCheckpoint()
    )
    tc = (
        labeled.filter(F.col("b") > 0)
        .groupBy("event_type", "next_type")
        .agg(F.count("*").alias("n"))
    )
    wp = Window.partitionBy("event_type").orderBy(
        F.desc("n"), "next_type"
    )
    pred = (
        tc.withColumn("rn", F.row_number().over(wp))
        .filter(F.col("rn") == 1)
        .select("event_type", F.col("next_type").alias("predicted_next"))
    )
    hit = F.when(
        F.col("next_type") == F.col("predicted_next"), 1
    ).otherwise(0)
    return (
        labeled.filter(F.col("b") == 0)
        .join(F.broadcast(pred), "event_type")
        .groupBy(
            F.col("event_type").alias("cur_event"), "predicted_next"
        )
        .agg(
            F.count("*").alias("n_test_transitions"),
            F.sum(hit).cast("long").alias("n_correct"),
            F.round(
                F.sum(hit).cast("double") / F.count("*"), 6
            ).alias("accuracy"),
        )
    )


# --- Kolmogorov-Smirnov drift statistic (exact-ECDF twin of the PSI) ----------

_KS_BLOCKS = 64  # value-range blocks for the two-level ECDF prefix


@register(
    "events_value_ks_drift",
    oracle="""
WITH e AS (
    SELECT value, epoch_us(CAST(ts AS TIMESTAMP)) AS us
    FROM events WHERE value IS NOT NULL
),
b AS (SELECT (MIN(us) + MAX(us)) // 2 AS cutoff FROM e),
sided AS (
    SELECT value, (us <= cutoff) AS is_before FROM e CROSS JOIN b
),
pv AS (
    SELECT value,
           SUM(CASE WHEN is_before THEN 1 ELSE 0 END) AS na,
           SUM(CASE WHEN is_before THEN 0 ELSE 1 END) AS nb
    FROM sided GROUP BY value
),
cums AS (
    SELECT value,
           SUM(na) OVER (ORDER BY value ROWS UNBOUNDED PRECEDING) AS ca,
           SUM(nb) OVER (ORDER BY value ROWS UNBOUNDED PRECEDING) AS cb
    FROM pv
),
tot AS (SELECT SUM(na) AS ta, SUM(nb) AS tb FROM pv)
SELECT CAST(ta AS BIGINT) AS n_before,
       CAST(tb AS BIGINT) AS n_after,
       CAST(abs(ca * tb - cb * ta) AS BIGINT) AS ks_numerator,
       ROUND(CAST(abs(ca * tb - cb * ta) AS DOUBLE)
             / (CAST(ta AS DOUBLE) * CAST(tb AS DOUBLE)), 6) AS ks_stat,
       value AS ks_at_value
FROM cums CROSS JOIN tot
WHERE ta > 0 AND tb > 0
ORDER BY abs(ca * tb - cb * ta) DESC, value
LIMIT 1
""".strip(),
)
def q_events_value_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov drift statistic between the first
    and second time halves of the event stream — the EXACT-ECDF twin of
    ``events_value_drift_psi`` (PSI bins and can hide within-bin moves;
    KS is the sup-distance over the full empirical CDFs, the other
    standard drift monitor). KS stays INTEGER until the edge: at every
    distinct value v the deviation is |CA(v)*NB - CB(v)*NA| (exact
    BIGINT cross-multiplication; exact while each side is < ~3e9 rows —
    past that, bin first), the max picks the supremum, and the single
    double division happens once in the output row. ``ks_at_value``
    (tie-break: smallest value) localizes WHERE the CDFs diverge most.

    Plan: cumulative counts over distinct values use the lateness
    histogram's two-level PARALLEL PREFIX — value-range blocks (the PSI
    bucket map, monotone in v) aggregate map-side, a window over the
    {b}-row block table carries the cross-block offsets, and the
    within-block cumulative is a window PARTITIONED by block — no
    unpartitioned window ever touches value grain. The distinct-value
    table materializes once (localCheckpoint) because the block table,
    the intra-block pass, and the totals all read it. TakeOrdered
    returns the single sup row."""
    from pyspark.sql.window import Window

    ev = _events(spark, sf_dir).filter(F.col("value").isNotNull())
    e = ev.select("value", F.unix_micros(F.col("ts")).alias("us"))
    b = e.agg(
        F.min("value").alias("mn"),
        F.max("value").alias("mx"),
        ((F.min("us") + F.max("us")) / 2).cast("long").alias("cutoff"),
    )
    sided = e.crossJoin(F.broadcast(b)).select(
        "value",
        F.coalesce(
            F.least(
                F.floor(
                    (F.col("value") - F.col("mn"))
                    * _KS_BLOCKS
                    / F.nullif(F.col("mx") - F.col("mn"), F.lit(0.0))
                ),
                F.lit(_KS_BLOCKS - 1),
            ).cast("int"),
            F.lit(0),
        ).alias("block"),
        (F.col("us") <= F.col("cutoff")).alias("is_before"),
    )
    pv = (
        sided.groupBy("block", "value")
        .agg(
            F.sum(F.when(F.col("is_before"), 1).otherwise(0)).alias("na"),
            F.sum(F.when(F.col("is_before"), 0).otherwise(1)).alias("nb"),
        )
        .localCheckpoint()
    )
    blocks = pv.groupBy("block").agg(
        F.sum("na").alias("ba"), F.sum("nb").alias("bb")
    )
    wprev = Window.orderBy("block").rowsBetween(
        Window.unboundedPreceding, -1
    )
    prev = blocks.select(
        "block",
        F.coalesce(F.sum("ba").over(wprev), F.lit(0)).alias("pa"),
        F.coalesce(F.sum("bb").over(wprev), F.lit(0)).alias("pb"),
    )
    wib = (
        Window.partitionBy("block")
        .orderBy("value")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cums = pv.join(F.broadcast(prev), "block").select(
        "value",
        (F.col("pa") + F.sum("na").over(wib)).alias("ca"),
        (F.col("pb") + F.sum("nb").over(wib)).alias("cb"),
    )
    tot = blocks.agg(F.sum("ba").alias("ta"), F.sum("bb").alias("tb"))
    d_num = F.abs(
        F.col("ca") * F.col("tb") - F.col("cb") * F.col("ta")
    )
    scored = (
        cums.crossJoin(F.broadcast(tot))
        .filter((F.col("ta") > 0) & (F.col("tb") > 0))
        .select("value", "ta", "tb", d_num.alias("d_num"))
    )
    return (
        scored.orderBy(F.desc("d_num"), "value")
        .limit(1)
        .select(
            F.col("ta").cast("long").alias("n_before"),
            F.col("tb").cast("long").alias("n_after"),
            F.col("d_num").cast("long").alias("ks_numerator"),
            F.round(
                F.col("d_num").cast("double")
                / (F.col("ta").cast("double") * F.col("tb").cast("double")),
                6,
            ).alias("ks_stat"),
            F.col("value").alias("ks_at_value"),
        )
    )


q_events_value_ks_drift.__doc__ = q_events_value_ks_drift.__doc__.format(
    b=_KS_BLOCKS
)


# --- growth accounting: DAU / new users / cumulative uniques ------------------


@register(
    "events_user_growth_accounting",
    oracle="""
WITH e AS (
    SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day, user_id FROM events
),
dau AS (
    SELECT day, COUNT(DISTINCT user_id) AS dau FROM e GROUP BY day
),
first_seen AS (
    SELECT user_id, MIN(day) AS first_day FROM e GROUP BY user_id
),
new_u AS (
    SELECT first_day AS day, COUNT(*) AS new_users
    FROM first_seen GROUP BY first_day
)
SELECT d.day,
       CAST(d.dau AS BIGINT) AS dau,
       CAST(COALESCE(n.new_users, 0) AS BIGINT) AS new_users,
       CAST(SUM(COALESCE(n.new_users, 0)) OVER (
           ORDER BY d.day ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS cumulative_users
FROM dau d LEFT JOIN new_u n ON n.day = d.day
""".strip(),
)
def q_events_user_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Growth accounting over the event stream: per day, the DAU, the
    NEW users (first-ever appearance that day), and the cumulative
    unique-user count — the standard product-growth triple. The trick
    is that a naive 'cumulative COUNT(DISTINCT)' needs the full user
    set per day; first-appearance attribution makes it one integer
    running sum instead: cum(day) = sum of new_users over days <= day,
    exactly because each user is counted once, on their first day.

    Plan: two fact-keyed aggs (day-grain distinct via user,day; user-
    grain min) and a LEFT join of two day-grain tables; the running sum
    is an unpartitioned window over the CALENDAR-BOUNDED day table —
    the monthly_revenue_growth exemption (a post-aggregate series the
    calendar caps, never fact grain). All integers, no floats."""
    from pyspark.sql.window import Window

    ev = _events(spark, sf_dir)
    e = ev.select(
        F.col("ts").cast("date").alias("day"), "user_id"
    )
    dau = e.groupBy("day").agg(
        F.countDistinct("user_id").alias("dau")
    )
    first_seen = e.groupBy("user_id").agg(F.min("day").alias("first_day"))
    new_u = first_seen.groupBy(
        F.col("first_day").alias("day")
    ).agg(F.count("*").alias("new_users"))
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    joined = dau.join(new_u, "day", "left").select(
        "day",
        F.col("dau").cast("long").alias("dau"),
        F.coalesce("new_users", F.lit(0)).alias("nu"),
    )
    return joined.select(
        "day",
        "dau",
        F.col("nu").cast("long").alias("new_users"),
        F.sum("nu").over(w).cast("long").alias("cumulative_users"),
    )


# --- AMS tug-of-war F2 sketch audit ------------------------------------------

_AMS_K = 16  # independent +/-1 estimators; relative error ~ 1/sqrt(K)
_AMS_SALT = "ams"


@register(
    "events_ams_f2_audit",
    oracle=f"""
WITH cu AS (
    SELECT user_id, COUNT(*) AS c FROM events
    WHERE user_id IS NOT NULL GROUP BY user_id
),
s AS (
    SELECT js.j,
           CAST(SUM((1 - 2 * {md5_mod_sql("concat(js.j, '|', CAST(cu.user_id AS VARCHAR))", _AMS_SALT, 2)}) * cu.c) AS BIGINT) AS sj
    FROM cu CROSS JOIN (SELECT unnest(range(0, {_AMS_K})) AS j) js
    GROUP BY js.j
),
est AS (
    SELECT CAST(SUM(sj * sj) AS BIGINT) AS tot, COUNT(*) AS k FROM s
),
ex AS (SELECT CAST(SUM(c * c) AS BIGINT) AS f2 FROM cu)
SELECT CAST(ex.f2 AS BIGINT) AS exact_f2,
       CAST(est.k AS BIGINT) AS n_estimators,
       ROUND(CAST(est.tot AS DOUBLE) / est.k, 6) AS est_f2_mean,
       ROUND(abs(CAST(est.tot AS DOUBLE) / est.k - ex.f2)
             / CAST(ex.f2 AS DOUBLE), 6) AS rel_error
FROM ex CROSS JOIN est
""".strip(),
)
def q_events_ams_f2_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AMS "tug-of-war" sketch (Alon, Matias & Szegedy STOC '96) for
    the SECOND FREQUENCY MOMENT of per-user activity — F2 = Σ c_u²,
    the statistic behind self-join size estimation, skew detection,
    and repeat-rate monitoring. Each of {k} estimators hashes every
    user to a ±1 sign (the engine-wide md5_mod recipe over a per-
    estimator salt), accumulates S_j = Σ sign_j(u)·c_u, and E[S_j²] =
    F2; the audit ships the estimate NEXT TO the exact F2 (the
    verified-estimator pattern of the KMV/CM/HLL family) so sketch
    error is measured, not trusted.

    Determinism: signs and sums are pure integers (|S_j| ≤ Σc < 2^31,
    S_j² fits BIGINT comfortably); the two output-edge divisions are
    the only doubles. NULL user_id is filtered before hashing (the
    engine-concat-on-NULL rule). Plan: one user-grain hash agg, then a
    {k}-way explode of the (user, count) table — K rows per user, all
    map-side — into a {k}-group agg; everything after is 1-row. At
    100 TB this is the textbook mergeable sketch: per-partition
    partial sums combine associatively, and the user-grain agg is the
    only fact-scale shuffle."""
    cu = (
        _events(spark, sf_dir)
        .filter(F.col("user_id").isNotNull())
        .groupBy("user_id")
        .agg(F.count("*").alias("c"))
    )
    j = F.explode(F.array(*[F.lit(i) for i in range(_AMS_K)])).alias("j")
    signed = cu.select("user_id", "c", j).select(
        "j",
        (
            (
                F.lit(1)
                - F.lit(2)
                * md5_mod(
                    F.concat_ws(
                        "", F.col("j").cast("string"), F.lit("|"),
                        F.col("user_id").cast("string"),
                    ),
                    _AMS_SALT,
                    2,
                )
            )
            * F.col("c")
        ).alias("t"),
    )
    s = signed.groupBy("j").agg(F.sum("t").cast("long").alias("sj"))
    est = s.agg(
        F.sum(F.col("sj") * F.col("sj")).cast("long").alias("tot"),
        F.count("*").alias("k"),
    )
    ex = cu.agg(F.sum(F.col("c") * F.col("c")).cast("long").alias("f2"))
    mean = F.col("tot").cast("double") / F.col("k")
    return ex.crossJoin(est).select(
        F.col("f2").cast("long").alias("exact_f2"),
        F.col("k").cast("long").alias("n_estimators"),
        F.round(mean, 6).alias("est_f2_mean"),
        F.round(
            F.abs(mean - F.col("f2")) / F.col("f2").cast("double"), 6
        ).alias("rel_error"),
    )


q_events_ams_f2_audit.__doc__ = q_events_ams_f2_audit.__doc__.format(k=_AMS_K)


# --- time-RANGE window frame: trailing-window activity per user -------------

from supplier_performance_data_pipeline_spark.functions.money import (  # noqa: E402
    cents,
    cents_sql,
)

_RANGE_FRAME_SECS = 21600  # trailing 6 hours (sparse per-user streams
# at demo SF need the wider frame for multi-event windows to be common)


@register(
    "events_range_frame_velocity",
    oracle=f"""
WITH base AS (
    SELECT event_id, user_id, event_type,
           epoch_us(ts) AS ep,
           {cents_sql("value")} AS vc
    FROM events
),
wnd AS (
    SELECT event_id, user_id, event_type,
           CAST(COUNT(*) OVER w AS BIGINT) AS n_in_window,
           SUM(vc) OVER w AS sc
    FROM base
    WINDOW w AS (PARTITION BY user_id ORDER BY ep
                 RANGE BETWEEN CAST({_RANGE_FRAME_SECS} AS BIGINT) * 1000000
                 PRECEDING AND CURRENT ROW)
)
SELECT event_id, user_id, n_in_window,
       CAST(sc AS DOUBLE) / 100 AS value_in_window
FROM wnd WHERE event_type = 'purchase'
""".strip(),
)
def q_events_range_frame_velocity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Time-RANGE window frame — the velocity feature real-time risk
    and recommendation systems attach to conversion events: for every
    purchase, how many events (and how much value) the SAME user
    produced in the trailing 6-hour window, computed over the user's FULL event
    stream with a RANGE frame on exact integer epoch-microseconds
    (seconds-rounding drifts cross-engine on sub-second timestamps:
    DuckDB's epoch() CAST rounds, Spark's long cast truncates). ROWS
    frames (the rest
    of the window surface) count physical rows; the RANGE frame is the
    time-semantic sibling — peers at the same timestamp are included
    symmetrically no matter the partition order, which is exactly what
    makes it deterministic under duplicate timestamps where a ROWS
    frame would not be.

    Money discipline: values sum as integer cents inside the frame
    (order-free), ONE double division at the output edge — a float
    frame-sum would be reduction-order-dependent across engines.

    Plan at scale: one shuffle on user_id, per-user sort, single pass
    with a sliding two-pointer frame (Spark's WindowExec evicts rows
    falling out of range incrementally — no per-row rescan); the
    purchase filter projects AFTER the window so the frame sees every
    event. User-grain partitions bound memory; no SinglePartition
    anywhere."""
    from pyspark.sql.window import Window

    ev = _events(spark, sf_dir)
    base = ev.select(
        "event_id",
        "user_id",
        "event_type",
        F.unix_micros("ts").alias("ep"),
        cents("value").alias("vc"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ep")
        .rangeBetween(-_RANGE_FRAME_SECS * 1_000_000, 0)
    )
    wnd = base.select(
        "event_id",
        "user_id",
        "event_type",
        F.count(F.lit(1)).over(w).cast("long").alias("n_in_window"),
        F.sum("vc").over(w).alias("sc"),
    )
    return wnd.filter(F.col("event_type") == "purchase").select(
        "event_id",
        "user_id",
        "n_in_window",
        (F.col("sc").cast("double") / F.lit(100)).alias(
            "value_in_window"
        ),
    )


# --- exact ROC-AUC of engagement predicting purchase -------------------------

_AUC_SCORE_TYPES = ("view", "click")  # engagement signal = the score


@register(
    "events_engagement_auc",
    oracle=f"""
WITH users AS (
    SELECT user_id, CAST(ts AS DATE) AS d,
           CAST(SUM(CASE WHEN event_type IN {_AUC_SCORE_TYPES}
                    THEN 1 ELSE 0 END) AS BIGINT) AS s,
           MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS y
    FROM events WHERE user_id IS NOT NULL GROUP BY user_id, CAST(ts AS DATE)
),
per_score AS (
    SELECT s, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(y) AS BIGINT) AS p
    FROM users GROUP BY s
),
cum AS (
    SELECT s, n, p,
           COALESCE(SUM(n) OVER (ORDER BY s
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cum_lower
    FROM per_score
),
agg AS (
    SELECT SUM(p * (2 * cum_lower + n + 1)) AS rank2,
           SUM(p) AS n_pos, SUM(n) AS n_users
    FROM cum
)
SELECT CAST(n_users AS BIGINT) AS n_units,
       CAST(n_pos AS BIGINT) AS n_pos,
       CAST(n_users - n_pos AS BIGINT) AS n_neg,
       ROUND(CAST(rank2 - n_pos * (n_pos + 1) AS DOUBLE)
             / NULLIF(CAST(2 * n_pos * (n_users - n_pos) AS DOUBLE), 0.0),
             6) AS auc,
       ROUND(CAST(rank2 - n_pos * (n_pos + 1) AS DOUBLE)
             / NULLIF(CAST(n_pos * (n_users - n_pos) AS DOUBLE), 0.0)
             - 1.0, 6) AS gini
FROM agg
""".strip(),
)
def q_events_engagement_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT ROC-AUC of an engagement score (view+click count per
    USER-DAY) predicting same-day conversion — the model-eval
    primitive every propensity/ranking pipeline needs, computed via the
    Mann-Whitney rank-sum identity instead of threshold sweeping:
    AUC = (R_pos - n_pos(n_pos+1)/2) / (n_pos * n_neg), with TIED
    scores handled by average ranks (the textbook correction — a naive
    ROW_NUMBER rank is order-dependent under ties and would not be
    reproducible, let alone correct).

    Integer discipline end-to-end: the tied-rank sum is computed on the
    SCORE-GRAIN table as p * (2*cum_lower + n + 1) — everything doubled
    to keep half-integer average ranks in BIGINT — and the only doubles
    are the two output-edge divisions (AUC and its Gini twin 2*AUC-1).

    Plan at scale: one user-grain agg over the fact scan (the only
    data-scale shuffle), then a score-grain table (cardinality =
    distinct score values, bounded ~1e4 for count scores) where the
    unpartitioned cumulative window is a deliberate, documented
    SinglePartition over a TINY input — the same two-level pattern as
    the ECDF/KS machinery. At 100 TB nothing changes: the rank
    statistic never materializes per-user ranks."""
    ev = _events(spark, sf_dir)
    users = (
        ev.filter(F.col("user_id").isNotNull())
        .groupBy("user_id", F.col("ts").cast("date").alias("d"))
        .agg(
            F.sum(
                F.when(F.col("event_type").isin(*_AUC_SCORE_TYPES), 1)
                .otherwise(0)
            )
            .cast("long")
            .alias("s"),
            F.max(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("y"),
        )
    )
    per_score = users.groupBy("s").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("p"),
    )
    from pyspark.sql.window import Window

    w = Window.orderBy("s").rowsBetween(Window.unboundedPreceding, -1)
    cum = per_score.select(
        "s",
        "n",
        "p",
        F.coalesce(F.sum("n").over(w), F.lit(0)).alias("cum_lower"),
    )
    agg = cum.agg(
        F.sum(
            F.col("p") * (2 * F.col("cum_lower") + F.col("n") + 1)
        ).alias("rank2"),
        F.sum("p").alias("n_pos"),
        F.sum("n").alias("n_users"),
    )
    num = F.col("rank2") - F.col("n_pos") * (F.col("n_pos") + 1)
    n_neg = F.col("n_users") - F.col("n_pos")
    return agg.select(
        F.col("n_users").cast("long").alias("n_units"),
        F.col("n_pos").cast("long").alias("n_pos"),
        n_neg.cast("long").alias("n_neg"),
        F.round(
            num.cast("double")
            / F.nullif(
                (2 * F.col("n_pos") * n_neg).cast("double"), F.lit(0.0)
            ),
            6,
        ).alias("auc"),
        F.round(
            num.cast("double")
            / F.nullif((F.col("n_pos") * n_neg).cast("double"), F.lit(0.0))
            - 1.0,
            6,
        ).alias("gini"),
    )


# --- decile gains table for the same engagement score ------------------------

_GAINS_BUCKETS = 10


@register(
    "events_engagement_gains",
    oracle=f"""
WITH users AS (
    SELECT user_id, CAST(ts AS DATE) AS d,
           CAST(SUM(CASE WHEN event_type IN {_AUC_SCORE_TYPES}
                    THEN 1 ELSE 0 END) AS BIGINT) AS s,
           MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS y
    FROM events WHERE user_id IS NOT NULL GROUP BY user_id, CAST(ts AS DATE)
),
ranked AS (
    SELECT s, y,
           ROW_NUMBER() OVER (ORDER BY s DESC, user_id, d) AS rn,
           COUNT(*) OVER () AS nt
    FROM users
),
bucketed AS (
    SELECT CAST(((rn - 1) * {_GAINS_BUCKETS}) // nt AS BIGINT) AS decile,
           s, y
    FROM ranked
),
per_decile AS (
    SELECT decile, CAST(COUNT(*) AS BIGINT) AS n_units,
           CAST(SUM(y) AS BIGINT) AS n_pos,
           CAST(MIN(s) AS BIGINT) AS min_score
    FROM bucketed GROUP BY decile
),
tot AS (SELECT SUM(n_pos) AS tp FROM per_decile)
SELECT decile, n_units, n_pos, min_score,
       ROUND(CAST(n_pos AS DOUBLE) / n_units, 6) AS pos_rate,
       ROUND(CAST(SUM(n_pos) OVER (ORDER BY decile
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS DOUBLE) / NULLIF(CAST(tp AS DOUBLE), 0.0), 6)
           AS cum_capture
FROM per_decile CROSS JOIN tot
""".strip(),
)
def q_events_engagement_gains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile gains table for the engagement->conversion score — the
    campaign-targeting readout next to ``events_engagement_auc``: rank
    users by score, cut into {B} equal-population buckets, and report
    per-bucket conversion plus the cumulative capture curve ("the top
    2 deciles hold X% of all converters"). Equal-POPULATION buckets by
    explicit FLOOR integer division ((rn-1)*{B}) div n — never NTILE, whose
    remainder-distribution convention is engine-specific lore, and the
    rank's (score DESC, user_id) total order makes tie placement
    deterministic in both engines.

    Plan: user-day-grain agg (the only fact-scale shuffle), then the
    rank from operators/ranking.py's two-level parallel prefix — the
    score is a bounded-domain event tally, so every distinct score IS
    a block: per-score offsets over the tiny score table, a
    PARTITIONED row_number within each score group. No unpartitioned
    window ever touches user grain (the lesson of its sibling
    ``events_engagement_auc``, which ranks the same way). Cumulative
    capture is a {B}-row window."""
    ev = _events(spark, sf_dir)
    users = (
        ev.filter(F.col("user_id").isNotNull())
        .groupBy("user_id", F.col("ts").cast("date").alias("d"))
        .agg(
            F.sum(
                F.when(F.col("event_type").isin(*_AUC_SCORE_TYPES), 1)
                .otherwise(0)
            )
            .cast("long")
            .alias("s"),
            F.max(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("y"),
        )
    )
    from pyspark.sql.window import Window

    from supplier_performance_data_pipeline_spark.operators.ranking import (
        blocked_row_number,
    )

    ranked = blocked_row_number(
        users.withColumn("_blk", -F.col("s")),
        [F.desc("s"), F.asc("user_id"), F.asc("d")],
        rn="rn",
        total="nt",
    )
    bucketed = ranked.select(
        F.expr(f"((rn - 1) * {_GAINS_BUCKETS}) div nt")
        .cast("long")
        .alias("decile"),
        "s",
        "y",
    )
    per_decile = bucketed.groupBy("decile").agg(
        F.count(F.lit(1)).cast("long").alias("n_units"),
        F.sum("y").cast("long").alias("n_pos"),
        F.min("s").cast("long").alias("min_score"),
    )
    tot = per_decile.agg(F.sum("n_pos").alias("tp"))
    wcum = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        per_decile.crossJoin(F.broadcast(tot))
        .select(
            "decile",
            "n_units",
            "n_pos",
            "min_score",
            F.round(
                F.col("n_pos").cast("double") / F.col("n_units"), 6
            ).alias("pos_rate"),
            F.round(
                F.sum("n_pos").over(wcum).cast("double")
                / F.nullif(F.col("tp").cast("double"), F.lit(0.0)),
                6,
            ).alias("cum_capture"),
        )
    )


q_events_engagement_gains.__doc__ = q_events_engagement_gains.__doc__.format(
    B=_GAINS_BUCKETS
)


# --- Kaplan-Meier time-to-conversion within the user-day ---------------------

_KM_LOG_SCALE = 12  # per-term LN rounding before the exact DECIMAL sum


@register(
    "events_km_time_to_purchase",
    oracle=f"""
WITH ud AS (
    SELECT user_id, CAST(ts AS DATE) AS d,
           MIN(epoch_us(ts)) AS t0,
           MAX(epoch_us(ts)) AS t_last,
           MIN(CASE WHEN event_type = 'purchase'
               THEN epoch_us(ts) END) AS t_buy
    FROM events WHERE user_id IS NOT NULL
    GROUP BY user_id, CAST(ts AS DATE)
),
subj AS (
    SELECT CASE WHEN t_buy IS NOT NULL THEN (t_buy - t0) // 60000000
           ELSE (t_last - t0) // 60000000 END AS dur,
           CASE WHEN t_buy IS NOT NULL THEN 1 ELSE 0 END AS ev
    FROM ud
),
grid AS (
    SELECT dur, CAST(SUM(ev) AS BIGINT) AS d,
           CAST(SUM(1 - ev) AS BIGINT) AS c
    FROM subj GROUP BY dur
),
tot AS (SELECT COUNT(*) AS n FROM subj),
risk AS (
    SELECT dur, d, c,
           n - COALESCE(SUM(d + c) OVER (ORDER BY dur
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS n_risk
    FROM grid CROSS JOIN tot
),
terms AS (
    SELECT dur, d, c, n_risk,
           CASE WHEN n_risk - d > 0 THEN
               CAST(ROUND(LN(CAST(n_risk - d AS DOUBLE) / n_risk),
                          {_KM_LOG_SCALE}) AS DECIMAL(28,12))
           END AS lg,
           CASE WHEN n_risk - d = 0 THEN 1 ELSE 0 END AS hit0
    FROM risk
),
surv AS (
    SELECT dur, d, c, n_risk,
           CASE WHEN SUM(hit0) OVER (ORDER BY dur
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) > 0
                THEN CAST(0.0 AS DOUBLE)
                ELSE ROUND(EXP(CAST(SUM(lg) OVER (ORDER BY dur
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS DOUBLE)), 6) END AS survival
    FROM terms
)
SELECT CAST(dur AS BIGINT) AS t_minutes,
       CAST(n_risk AS BIGINT) AS n_risk,
       d AS n_events, c AS n_censored, survival
FROM surv WHERE d > 0
""".strip(),
)
def q_events_km_time_to_purchase(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Kaplan-Meier survival curve for time-to-first-purchase within a
    user-day, right-CENSORED at the day's last observed event when no
    purchase happens — the estimator every churn/conversion-latency
    analysis needs, and the one naive "average time to purchase among
    converters" gets wrong (it throws away censored subjects and biases
    the latency down). Subjects are user-days (same grain as the
    engagement AUC/gains family); durations are whole minutes from the
    day's first event, floored from exact integer epoch-microseconds
    (seconds-grain epochs drift cross-engine on sub-second
    timestamps).

    Determinism with libm in the loop: each KM factor (n_i - d_i)/n_i
    is an exact rational; its LN rounds to {S}dp BEFORE entering the
    exact DECIMAL cumulative sum (libm's 1-ulp cross-engine wiggle is
    ~1e-16 relative — three orders below the rounding grain), and the
    final EXP is one double call on an exact operand, rounded to 6dp
    with 1e9x margin. A factor of zero (everyone at risk converts at
    the last event time) short-circuits to survival 0.0 via an integer
    flag, never LN(0).

    Plan: one user-day agg over the fact scan (the only data-scale
    shuffle), then every window runs on the DURATION-GRAIN grid —
    bounded by 1440 minutes/day, a deliberate documented
    SinglePartition over a tiny table (the ECDF/KS pattern). Output
    rows are the event times only, per KM convention; censored-only
    times participate in n_risk but print nothing."""
    ev = _events(spark, sf_dir)
    ud = (
        ev.filter(F.col("user_id").isNotNull())
        .groupBy("user_id", F.col("ts").cast("date").alias("d"))
        .agg(
            F.min(F.unix_micros("ts")).alias("t0"),
            F.max(F.unix_micros("ts")).alias("t_last"),
            F.min(
                F.when(
                    F.col("event_type") == "purchase",
                    F.unix_micros("ts"),
                )
            ).alias("t_buy"),
        )
    )
    subj = ud.select(
        F.when(
            F.col("t_buy").isNotNull(),
            F.expr("(t_buy - t0) div 60000000"),
        )
        .otherwise(F.expr("(t_last - t0) div 60000000"))
        .alias("dur"),
        F.when(F.col("t_buy").isNotNull(), 1).otherwise(0).alias("ev"),
    )
    grid = subj.groupBy("dur").agg(
        F.sum("ev").cast("long").alias("d"),
        F.sum(1 - F.col("ev")).cast("long").alias("c"),
    )
    tot = subj.agg(F.count(F.lit(1)).alias("n"))
    from pyspark.sql.window import Window

    wprev = Window.orderBy("dur").rowsBetween(Window.unboundedPreceding, -1)
    wcum = Window.orderBy("dur").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    risk = grid.crossJoin(F.broadcast(tot)).select(
        "dur",
        "d",
        "c",
        (
            F.col("n")
            - F.coalesce(F.sum(F.col("d") + F.col("c")).over(wprev), F.lit(0))
        ).alias("n_risk"),
    )
    terms = risk.select(
        "dur",
        "d",
        "c",
        "n_risk",
        F.when(
            F.col("n_risk") - F.col("d") > 0,
            F.round(
                F.log(
                    (F.col("n_risk") - F.col("d")).cast("double")
                    / F.col("n_risk")
                ),
                _KM_LOG_SCALE,
            ).cast("decimal(28,12)"),
        ).alias("lg"),
        F.when(F.col("n_risk") - F.col("d") == 0, 1).otherwise(0).alias(
            "hit0"
        ),
    )
    surv = terms.select(
        "dur",
        "d",
        "c",
        "n_risk",
        F.when(F.sum("hit0").over(wcum) > 0, F.lit(0.0))
        .otherwise(
            F.round(F.exp(F.sum("lg").over(wcum).cast("double")), 6)
        )
        .alias("survival"),
    )
    return surv.filter(F.col("d") > 0).select(
        F.col("dur").cast("long").alias("t_minutes"),
        F.col("n_risk").cast("long").alias("n_risk"),
        F.col("d").alias("n_events"),
        F.col("c").alias("n_censored"),
        "survival",
    )


q_events_km_time_to_purchase.__doc__ = (
    q_events_km_time_to_purchase.__doc__.format(S=_KM_LOG_SCALE)
)


# --- multi-touch purchase attribution (round-8) -------------------------------

_ATTR_WINDOW_H = 168      # 7-day lookback
_ATTR_CREDIT_SCALE = 1_000_000  # linear credit quantum: 1e-6 per touch


@register(
    "events_purchase_attribution",
    oracle=f"""
WITH e AS (
    SELECT event_id, user_id, event_type,
           epoch_us(CAST(ts AS TIMESTAMP)) AS us
    FROM events WHERE user_id IS NOT NULL
),
p AS (SELECT event_id AS pid, user_id, us AS pus
      FROM e WHERE event_type = 'purchase'),
t AS (SELECT event_id AS tid, user_id, event_type, us AS tus
      FROM e WHERE event_type <> 'purchase'),
touch AS (
    SELECT p.pid, t.event_type, t.tus, t.tid,
           ROW_NUMBER() OVER (PARTITION BY p.pid
                              ORDER BY t.tus, t.tid) AS rn_first,
           ROW_NUMBER() OVER (PARTITION BY p.pid
                              ORDER BY t.tus DESC, t.tid DESC) AS rn_last,
           COUNT(*) OVER (PARTITION BY p.pid) AS n_in_path
    FROM p JOIN t
      ON p.user_id = t.user_id
     AND t.tus < p.pus
     AND t.tus >= p.pus - {_ATTR_WINDOW_H} * 3600000000
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_touches,
       CAST(SUM(CASE WHEN rn_first = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS first_touch_wins,
       CAST(SUM(CASE WHEN rn_last = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS last_touch_wins,
       CAST(SUM({_ATTR_CREDIT_SCALE} // n_in_path) AS BIGINT)
           AS linear_credit_e6
FROM touch GROUP BY event_type
""".strip(),
)
def q_events_purchase_attribution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """MULTI-TOUCH ATTRIBUTION over purchase paths — which event types
    get credit for conversions under the three classic models at once:
    first-touch (the acquisition readout), last-touch (the closer
    readout), and linear (equal split). Path = every non-purchase
    event by the same user strictly before the purchase, within a
    {h}-hour lookback.

    Exactness discipline (ORACLES.md): first/last are integer win
    counts decided by ROW_NUMBER over the (ts, event_id) TOTAL order —
    simultaneous touches tie-break identically in both engines, and
    min_by/arg_min (whose tie semantics are engine lore) never appear.
    Linear credit is QUANTIZED to integer micro-credits per touch
    ({scale} div path_length, floor) so the per-type sum is an exact
    integer — a float 1/n sum would be partition-order dependent and
    could never hash-match. Event times compare in integer µs.

    Scale: purchases join touches on user_id (equi) with the lookback
    as a residual range predicate — never a cartesian; the ranking
    windows partition by purchase id (entity-grain PARTITIONED, the
    allowed shape); the output agg is a bounded event-type rollup. A
    very hot user fans out purchases x touches within one key — the
    bucketed interval-join machinery (operators/rangejoin.py) bolts on
    if user-grain skew ever dominates."""
    ev = _events(spark, sf_dir)
    from pyspark.sql.window import Window

    e = ev.filter(F.col("user_id").isNotNull()).select(
        "event_id",
        "user_id",
        "event_type",
        F.unix_micros(F.col("ts")).alias("us"),
    )
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("pid"),
        "user_id",
        F.col("us").alias("pus"),
    )
    t = e.filter(F.col("event_type") != "purchase").select(
        F.col("event_id").alias("tid"),
        "user_id",
        "event_type",
        F.col("us").alias("tus"),
    )
    touch = p.join(
        t,
        (p["user_id"] == t["user_id"])
        & (F.col("tus") < F.col("pus"))
        & (
            F.col("tus")
            >= F.col("pus") - F.lit(_ATTR_WINDOW_H * 3_600_000_000)
        ),
    ).select("pid", "event_type", "tus", "tid")
    w_first = Window.partitionBy("pid").orderBy(
        F.asc("tus"), F.asc("tid")
    )
    w_last = Window.partitionBy("pid").orderBy(
        F.desc("tus"), F.desc("tid")
    )
    w_n = Window.partitionBy("pid")
    scored = touch.select(
        "event_type",
        F.row_number().over(w_first).alias("rn_first"),
        F.row_number().over(w_last).alias("rn_last"),
        F.count(F.lit(1)).over(w_n).alias("n_in_path"),
    )
    return scored.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_touches"),
        F.sum(F.when(F.col("rn_first") == 1, 1).otherwise(0))
        .cast("long")
        .alias("first_touch_wins"),
        F.sum(F.when(F.col("rn_last") == 1, 1).otherwise(0))
        .cast("long")
        .alias("last_touch_wins"),
        F.sum(
            F.expr(f"{_ATTR_CREDIT_SCALE} div n_in_path")
        ).cast("long").alias("linear_credit_e6"),
    )


q_events_purchase_attribution.__doc__ = (
    q_events_purchase_attribution.__doc__.format(
        h=_ATTR_WINDOW_H, scale=_ATTR_CREDIT_SCALE
    )
)
