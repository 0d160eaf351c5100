"""Custom stateful streaming operator via ``applyInPandasWithState``.

The built-in windowed aggregations (streaming/events.py) cover
tumbling/session shapes; this is the escape hatch for state machines
they can't express — here a per-user running activity profile (event
count, value sum, last-seen timestamp) that emits an updated row per
user per micro-batch and expires idle users' state on processing-time
timeout.

Scale notes: state is keyed by user_id — partitioned across executors
like any keyed state; the timeout bounds state size to active users.
Arrow batches carry the grouped rows, so the Python hop is vectorized.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql import types as T

PROFILE_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
        T.StructField("last_seen", T.TimestampType()),
    ]
)

STATE_SCHEMA = T.StructType(
    [
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
        T.StructField("last_seen", T.TimestampType()),
    ]
)


def _make_update_profile(expire_ms: int | None):
    def _update_profile(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            state.remove()
            return
        n, total, last = state.get if state.exists else (0, 0.0, None)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
            mx = pdf["ts"].max()
            last = mx if last is None or mx > last else last
        state.update((n, total, last))
        if expire_ms is not None:
            state.setTimeoutDuration(expire_ms)
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "total_value": [total],
                "last_seen": [last],
            }
        )

    return _update_profile


def streaming_user_profiles(
    events: DataFrame, expire_ms: int | None = None
) -> DataFrame:
    """Per-user running profile — custom keyed state.

    ``expire_ms`` turns on processing-time state expiry for idle users —
    the production setting for unbounded key spaces. Leave it ``None``
    for bounded/batch-style runs: with a timeout configured, Spark keeps
    scheduling timeout-handling micro-batches after the source drains,
    so drive-to-completion harnesses (processAllAvailable) never settle.
    """
    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if expire_ms is not None
        else GroupStateTimeout.NoTimeout
    )
    return events.groupBy("user_id").applyInPandasWithState(
        _make_update_profile(expire_ms),
        outputStructType=PROFILE_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=timeout,
    )


# --- event-time TTL state eviction ------------------------------------------

TTL_EVICT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("evicted", T.BooleanType()),
    ]
)

_TTL_STATE_SCHEMA = T.StructType(
    [
        T.StructField("n_events", T.LongType()),
        T.StructField("last_us", T.LongType()),
    ]
)


def streaming_profiles_event_ttl(
    events: DataFrame, ttl_seconds: int, wm_delay_seconds: int
) -> DataFrame:
    """Per-user state with EVENT-TIME TTL eviction — the deterministic
    sibling of ``streaming_user_profiles``' processing-time expiry
    (which is wall-clock-dependent and keeps scheduling timeout
    micro-batches, so drive-to-completion harnesses never settle).

    EventTimeTimeout is driven by the WATERMARK, which is a pure
    function of the ingested data (max event-time ms − delay ms), so
    the evicted set is exactly reproducible: a user's state times out
    in the first micro-batch where it receives no input and
    ``last_event_ms + ttl_ms < watermark_ms``. On timeout the operator
    emits a TOMBSTONE row (user_id, n_events at eviction, evicted=TRUE)
    and removes the state — the emitted rows ARE the eviction proof the
    equivalence query pins against a batch-derived oracle.

    State scale: 16 bytes per ACTIVE user — the TTL is what makes an
    unbounded key space safe at 100 TB (idle keys are reclaimed as the
    watermark passes them); without it state grows with lifetime
    distinct keys. Timestamp math: Spark's watermark truncates event
    time to ms (µs//1000) before subtracting the delay, and the
    timeout fires on strict ``timeout_ms < watermark_ms`` — the batch
    oracle reproduces both exactly in integer ms."""
    ttl_ms = ttl_seconds * 1000

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            n, _last = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "evicted": [True],
                }
            )
            return
        n, last_us = state.get if state.exists else (0, None)
        for pdf in pdfs:
            if len(pdf) == 0:  # Arrow may deliver empty chunks
                continue
            n += len(pdf)
            mx = int(pdf["ts_us"].max())
            last_us = mx if last_us is None or mx > last_us else last_us
        if last_us is None:  # pragma: no cover - data-less non-timeout call
            return
        state.update((n, int(last_us)))
        # timeout at last event-time + TTL, in the watermark's ms domain
        state.setTimeoutTimestamp(int(last_us) // 1000 + ttl_ms)

    prepped = (
        events.filter(F.col("ts").isNotNull() & F.col("user_id").isNotNull())
        .withWatermark("ts", f"{wm_delay_seconds} seconds")
        .select("user_id", "ts", F.unix_micros("ts").alias("ts_us"))
    )
    return prepped.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=TTL_EVICT_SCHEMA,
        stateStructType=_TTL_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


# --- throttle: keep-relative-to-last-KEPT rate limiting ---------------------

THROTTLE_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("event_id", T.LongType()),
        T.StructField("ts_us", T.LongType()),
    ]
)

_THROTTLE_STATE_SCHEMA = T.StructType(
    [T.StructField("last_kept_us", T.LongType())]
)


def _throttle_core(
    pdf: "pd.DataFrame", last_kept_us: int | None, quiet_us: int
) -> tuple["pd.DataFrame", int | None]:
    """The shared sequential state machine: scan (ts, event_id)-sorted
    rows, keep a row iff it is strictly more than ``quiet_us`` after
    the last KEPT row — one function used by BOTH the streaming
    operator and the batch twin, so the equivalence verdict tests the
    state plumbing, not two reimplementations."""
    pdf = pdf.sort_values(["ts_us", "event_id"], kind="mergesort")
    keep = []
    for us in pdf["ts_us"]:
        us = int(us)
        if last_kept_us is None or us > last_kept_us + quiet_us:
            keep.append(True)
            last_kept_us = us
        else:
            keep.append(False)
    return pdf[pd.Series(keep, index=pdf.index)], last_kept_us


def _throttle_prepped(events: DataFrame) -> DataFrame:
    """Shared input contract for BOTH throttle arms: NULL ts has no
    time position and NULL user_id no state key — both are dropped
    (Arrow would otherwise deliver a NULL-key group as NaN and crash
    the int64 cast, while the recursive-CTE oracle's equality walk
    silently drops NULL keys after rn=1 — three different behaviors
    instead of one documented rule)."""
    return events.filter(
        F.col("ts").isNotNull() & F.col("user_id").isNotNull()
    ).select("user_id", "event_id", F.unix_micros("ts").alias("ts_us"))


def streaming_throttle(events: DataFrame, quiet_seconds: int) -> DataFrame:
    """Streaming THROTTLE — the sequential sibling of the batch
    ``debounce`` (which keeps burst OPENERS via a lag gap): keep an
    event iff it is more than ``quiet_seconds`` after the last KEPT
    event of its key. That reference-to-last-KEPT makes it an
    inherently sequential running state (a long burst emits one event
    per quiet window, where debounce emits only the opener), which is
    exactly what ``applyInPandasWithState`` exists for: per-user state
    is one integer (last kept µs), micro-batch rows arrive as Arrow
    batches and are sorted (ts, event_id) before the scan.

    Correctness contract: per-key event-time order must hold ACROSS
    micro-batches (in-batch disorder is sorted away) — the replay
    harness feeds time-split files in mtime order; a production feed
    would pair this with a watermark-delayed upstream sort.

    State scale: 8 bytes per active key, keyed and partitioned like
    any grouped state; with an expiry timeout idle keys would be
    reclaimed (left off here so drive-to-completion harnesses
    settle)."""
    quiet_us = quiet_seconds * 1_000_000

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:  # pragma: no cover - no timeout configured
            state.remove()
            return
        (last,) = state.get if state.exists else (None,)
        batch = pd.concat(list(pdfs), ignore_index=True)
        kept, last = _throttle_core(batch, last, quiet_us)
        if last is not None:
            state.update((int(last),))
        yield pd.DataFrame(
            {
                "user_id": kept["user_id"].astype("int64"),
                "event_id": kept["event_id"].astype("int64"),
                "ts_us": kept["ts_us"].astype("int64"),
            }
        )

    prepped = _throttle_prepped(events)
    return prepped.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=THROTTLE_SCHEMA,
        stateStructType=_THROTTLE_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def batch_throttle(events: DataFrame, quiet_seconds: int) -> DataFrame:
    """Batch twin of ``streaming_throttle``: the SAME ``_throttle_core``
    run once per key over the fully-sorted history (the sequential
    scan is irreducible — this is the documented reason
    ``operators/windows.debounce`` implements burst-opener semantics
    instead; per-key groups bound the scan).

    r13 plan note: this is ``mapInPandas`` over a user-hash
    repartition with the per-key split done by pandas ``groupby``
    INSIDE the partition, not ``applyInPandas`` — the latter crosses
    the Arrow boundary once per GROUP, and at fixture scale (1,500
    users) that per-group framing was 2x the total arm cost (guide
    §4.1: one batch per partition, not per key). Per-key results are
    identical: each user's rows land in exactly one partition and
    ``_throttle_core`` still scans each user's full history alone."""
    quiet_us = quiet_seconds * 1_000_000

    def run(it):
        # The partition arrives as Arrow batches of at most
        # ``spark.sql.execution.arrow.maxRecordsPerBatch`` rows, and one
        # user's history can span batches: scan the whole partition.
        pdfs = [pdf for pdf in it if len(pdf)]
        if not pdfs:
            return
        pdf = pd.concat(pdfs, ignore_index=True)
        outs = []
        for _, g in pdf.groupby("user_id", sort=False):
            kept, _last = _throttle_core(g, None, quiet_us)
            outs.append(kept[["user_id", "event_id", "ts_us"]])
        o = pd.concat(outs, ignore_index=True)
        yield pd.DataFrame(
            {
                "user_id": o["user_id"].astype("int64"),
                "event_id": o["event_id"].astype("int64"),
                "ts_us": o["ts_us"].astype("int64"),
            }
        )

    prepped = _throttle_prepped(events)
    return prepped.repartition(F.col("user_id")).mapInPandas(
        run, THROTTLE_SCHEMA
    )
