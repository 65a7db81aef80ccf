"""Custom stateful streaming operator: session assembly with
``applyInPandasWithState`` (SURVEY.md §2.9 [extension]).

``F.session_window`` covers gap-based sessions declaratively; this module
is the escape hatch the engine exposes for session logic the built-in
can't express (per-key custom merge rules, session payload accumulation,
emit-on-close side effects). The operator is the canonical
arbitrary-stateful-processing pattern:

- state per ``user_id`` = the one open session (start, last event time,
  running count/total) — O(keys) state, bounded, evicted by event-time
  timeout as the watermark advances;
- events inside a micro-batch are sorted and folded into sessions
  locally; only the still-open tail session survives in the state store;
- a session is emitted when a gap >= the timeout closes it, or when the
  watermark passes the open session's horizon (``state.hasTimedOut``).

Scale: the shuffle is one hash exchange on ``user_id`` per micro-batch
(identical to the built-in session window); state store size is one
small row per active user, independent of history length.
"""

from __future__ import annotations

import os
from typing import Any, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from jhu_data_parser_spark import cache
from jhu_data_parser_spark.streaming.jobs import (
    _parquet_parts,
    _run_to_memory,
    _stage_symlinks,
)

__all__ = [
    "sessionize_stateful",
    "run_sessionize_stateful",
    "run_builtin_session_windows",
]

_OUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("session_start", TimestampType()),
        StructField("session_end", TimestampType()),
        StructField("n_events", LongType()),
    ]
)

# State rides as epoch-microsecond longs — engine-portable, no tz pitfalls.
# Grouped state (r15): ONE state row per hash group of users, packed
# as parallel arrays. applyInPandasWithState pays a Python round trip
# (state get/update, frame assembly, timeout bookkeeping) PER KEY PER
# MICRO-BATCH — at ~1500 user keys × 3 batches that fixed cost was the
# entire operator (guide §4.5: batch per task, not per key). Grouping
# by pmod(user_id, G) divides the round trips by ~keys/G while the
# kernel regroups per user in pandas; the per-user fold, emission
# horizon (watermark passes last + gap) and output set are IDENTICAL
# for any G (pinned by the batch-equivalence tests and the oracle).
_STATE_SCHEMA = StructType(
    [
        StructField("user_ids", ArrayType(LongType())),
        StructField("start_us", ArrayType(LongType())),
        StructField("last_us", ArrayType(LongType())),
        StructField("n_events", ArrayType(LongType())),
    ]
)

_US = 1_000_000


def _session_fold_grouped(gap_seconds: int):
    gap_us = gap_seconds * _US

    def emit(rows: list[tuple[int, int, int, int]]) -> pd.DataFrame:
        # ONE frame for every session this group closes this batch —
        # a 1-row pd.DataFrame per session costs ~100 µs each, which
        # dominated the whole operator at tens of thousands of
        # sessions per batch (measured 21.6 s → ~7 s at sf0.1).
        return pd.DataFrame(
            {
                "user_id": [r[0] for r in rows],
                "session_start": pd.to_datetime([r[1] for r in rows], unit="us"),
                "session_end": pd.to_datetime([r[2] for r in rows], unit="us"),
                "n_events": [r[3] for r in rows],
            }
        )

    def _rearm_or_remove(state: GroupState, open_sessions: dict) -> None:
        """Persist the packed per-user state and arm the group timeout
        at the EARLIEST open horizon, clamped just past the current
        watermark: a user whose last event arrived barely inside the
        late cutoff can have last + gap already behind the watermark,
        and an un-clamped timestamp raises INVALID_TIMEOUT_TIMESTAMP
        and kills the query (hit on the multi-file 100× layout). The
        clamped session times out on the next batch — the earliest the
        engine allows."""
        if not open_sessions:
            state.remove()
            return
        uids = sorted(open_sessions)
        state.update(
            (
                list(uids),
                [open_sessions[u][0] for u in uids],
                [open_sessions[u][1] for u in uids],
                [open_sessions[u][2] for u in uids],
            )
        )
        wm_ms = state.getCurrentWatermarkMs()
        horizon_ms = min(
            (open_sessions[u][1] + gap_us) // 1000 for u in uids
        )
        state.setTimeoutTimestamp(max(horizon_ms, wm_ms + 1))

    def fold(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        # open_sessions: user_id -> (start_us, last_us, n_events)
        open_sessions: dict = {}
        if state.exists:
            uids, starts, lasts, ns = state.get
            open_sessions = {
                int(u): (int(s), int(lt), int(n))
                for u, s, lt, n in zip(uids, starts, lasts, ns)
            }

        if state.hasTimedOut:
            # Close exactly the users whose horizon the watermark has
            # passed (the same emission condition the per-key variant
            # expressed through its own timeout); keep the rest armed.
            wm_us = state.getCurrentWatermarkMs() * 1000
            closed = []
            for u in sorted(open_sessions):
                start_us, last_us, n = open_sessions[u]
                if last_us + gap_us <= wm_us:
                    closed.append((u, start_us, last_us, n))
                    del open_sessions[u]
            _rearm_or_remove(state, open_sessions)
            if closed:
                yield emit(closed)
            return

        pdf = pd.concat(list(pdfs))
        ts_all = pdf["ts"].astype("int64").floordiv(1000)  # pandas ns → µs
        closed: list[tuple[int, int, int, int]] = []
        for user_id, ts_vals in ts_all.groupby(
            pdf["user_id"].astype("int64"), sort=False
        ):
            user_id = int(user_id)
            ts_us = ts_vals.sort_values().to_list()
            if user_id in open_sessions:
                start_us, last_us, n = open_sessions[user_id]
            else:
                start_us, last_us, n = ts_us[0], ts_us[0] - gap_us, 0
            for t in ts_us:
                if t - last_us >= gap_us and n > 0:
                    closed.append((user_id, start_us, last_us, n))
                    start_us, n = t, 0
                elif n == 0:
                    start_us = t
                last_us = t
                n += 1
            open_sessions[user_id] = (start_us, last_us, n)

        _rearm_or_remove(state, open_sessions)
        if closed:
            yield emit(closed)

    return fold


# Hash-group count for the packed sessionizer. More groups = more
# parallelism across state partitions but more per-batch Python round
# trips; the floor keeps every local core busy, and a deployment
# tracking far larger key spaces sizes it up with the state-partition
# knob (groups scale with stream_state_partitions' ceiling).
_SESSION_GROUPS_FLOOR = 32


def _session_groups(events: DataFrame) -> int:
    try:
        par = events.sparkSession.sparkContext.defaultParallelism
    except Exception:
        par = _SESSION_GROUPS_FLOOR
    return max(_SESSION_GROUPS_FLOOR, par)


def sessionize_stateful(
    events: DataFrame,
    gap_minutes: int = 30,
    watermark: str = "0 seconds",
    groups: int | None = None,
) -> DataFrame:
    """Streaming sessionization of an ``events`` stream (needs ``ts`` and
    ``user_id`` columns). Returns the closed-sessions stream.

    Grouping key is ``pmod(user_id, groups)`` — a hash GROUP of users,
    not one user — so the per-key Python round trip amortizes over
    ~keys/groups users; the kernel regroups per user and folds exactly
    the per-user sessionization (result invariant in ``groups``)."""
    n_groups = _session_groups(events) if groups is None else groups
    return (
        events.withWatermark("ts", watermark)
        .withColumn("grp", F.pmod(F.col("user_id"), F.lit(n_groups)))
        .groupBy("grp")
        .applyInPandasWithState(
            _session_fold_grouped(gap_minutes * 60),
            outputStructType=_OUT_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def _sentinel_events_stream(spark: SparkSession, sf_dir: str) -> tuple:
    """File stream over the events table plus a far-future sentinel
    micro-batch — the finite-stream flush. Returns ``(stream, stage)``.

    A finite file stream ends with event-time state (open sessions,
    unfinalized windows) still held — the watermark never passes its
    horizon. Production streams flush with a punctuation record; this
    staging does the same: a sentinel event (reserved ``user_id`` −1,
    ts 2100-01-01) lands in its own file after the data files, the
    watermark jumps past every open horizon, and the engine's final
    no-data batch finalizes the state. Consumers drop ``user_id < 0``
    rows from results."""
    import glob
    import shutil

    from pyspark.sql.types import LongType

    from jhu_data_parser_spark.sources.tables import _normalize_nanos_ts

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")  # see sources/tables.load_table
    src = os.path.join(sf_dir, "events.parquet")

    # All DATA files land in the first micro-batch, the sentinel in the
    # second (file-source batches follow target mtime; the sentinel is
    # written after the data files are staged). A 1-file-per-trigger
    # split would be WRONG on multi-file layouts: the staged parts
    # overlap in event time, so after the first batch the watermark
    # would discard every later file's rows as late data — correct
    # streaming semantics, wrong harness (a real landing prefix arrives
    # in time order).
    stream, stage = _stage_symlinks(
        spark, src, max_files_per_trigger=len(_parquet_parts(src))
    )
    # ts arrives un-normalized (nanos long or NTZ) in both frames.
    schema = stream.schema
    raw = spark.read.schema(schema).parquet(src)

    # The sentinel file must match the RAW schema byte-for-byte (the
    # stream reads both files with one schema), so build 2100-01-01 in
    # whatever physical type the feed stored ts as.
    ts_type = schema["ts"].dataType
    if isinstance(ts_type, LongType):
        sentinel_ts = F.lit(4102444800 * 1_000_000_000).cast("long")  # epoch ns
    else:
        sentinel_ts = F.lit("2100-01-01 00:00:00").cast(ts_type)
    sentinel = raw.limit(1).select(
        *[
            sentinel_ts.alias("ts")
            if c == "ts"
            else F.lit(-1).cast(schema["user_id"].dataType).alias("user_id")
            if c == "user_id"
            else raw[c]
            for c in raw.columns
        ]
    )
    tmp_out = cache.scratch_dir("sentinel")
    sentinel.coalesce(1).write.mode("overwrite").parquet(tmp_out)
    part = glob.glob(os.path.join(tmp_out, "part-*.parquet"))[0]
    # No ``.parquet`` suffix: the file source still reads it, but the
    # backlog estimate that sizes the run (jobs._input_split_count,
    # which counts ``*.parquet`` parts) leaves the punctuation record
    # out — one more file would add a state partition per operator.
    shutil.move(part, os.path.join(stage, "sentinel"))
    cache.remove_now(tmp_out)
    return _normalize_nanos_ts(stream), stage


def run_sessionize_stateful(
    spark: SparkSession,
    sf_dir: str,
    table: str,
    gap_minutes: int = 30,
) -> DataFrame:
    """Run the stateful sessionizer over the events table to completion
    and return every session (tail sessions flushed by the sentinel —
    see :func:`_sentinel_events_stream`)."""
    ev, stage = _sentinel_events_stream(spark, sf_dir)
    # The sentinel filter goes AFTER the sink: inside the streaming plan
    # Catalyst would push it below the watermark node, the sentinel row
    # would never reach the event-time tracker, and the tail state would
    # never flush.
    sessions = sessionize_stateful(ev, gap_minutes)
    return _run_to_memory(spark, sessions, stage, table, "append").filter(
        "user_id >= 0"
    )


def run_builtin_session_windows(
    spark: SparkSession,
    sf_dir: str,
    table: str,
    gap: str = "30 minutes",
) -> DataFrame:
    """The built-in ``F.session_window`` in a REAL stream (append mode:
    sessions emit only when the watermark finalizes them — the sentinel
    batch finalizes the tail). The declarative twin of
    :func:`sessionize_stateful`; both must agree with the batch
    lag/cumsum sessionization."""
    ev, stage = _sentinel_events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "0 seconds")
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select("user_id", F.col("w.start").alias("session_start"), "n_events")
    )
    # Sentinel filter after the sink — see run_sessionize_stateful.
    return _run_to_memory(spark, agg, stage, table, "append").filter(
        "user_id >= 0"
    )


# ---------------------------------------------------------------------------
# Streaming KMV distinct sketch (bottom-k state per day)
# ---------------------------------------------------------------------------

_KMV_OUT_SCHEMA = StructType(
    [
        StructField("day", StringType()),
        StructField("n_kept", LongType()),
        StructField("kth_hash", LongType()),
        StructField("kmv_estimate", LongType()),
    ]
)

_KMV_STATE_SCHEMA = StructType(
    [
        StructField("hashes", ArrayType(LongType()))
    ]
)

_KMV_DOMAIN = 1 << 48


def _kmv_fold(k: int):
    def fold(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        day = key[0]

        def emit(hs: list[int]) -> pd.DataFrame:
            n = len(hs)
            if n < k:
                kth, est = None, n
            else:
                kth = hs[k - 1]
                # kth == 0 (all of the k smallest 48-bit hashes are 0,
                # ~2^-48 per key) would otherwise crash the WHOLE
                # streaming query with ZeroDivisionError; clamping the
                # divisor to 1 keeps the stream alive and emits the
                # domain-size-order estimate the degenerate sketch
                # implies.
                est = (k - 1) * _KMV_DOMAIN // max(kth, 1)
            return pd.DataFrame(
                {
                    "day": [day],
                    "n_kept": [n],
                    "kth_hash": pd.array([kth], dtype="Int64"),
                    "kmv_estimate": [est],
                }
            )

        if state.hasTimedOut:
            hs = sorted(state.get[0])
            state.remove()
            yield emit(hs)
            return

        cur = list(state.get[0]) if state.exists else []
        # Fold each Arrow chunk through the k-truncation so transient
        # memory stays O(chunk + k), never O(|day|): hashes above the
        # current kth-smallest can never enter the sketch.
        for pdf in pdfs:
            cur = sorted(set(cur) | set(pdf["h"].tolist()))[:k]
        state.update((cur,))
        # Clamp past the current watermark (same INVALID_TIMEOUT_TIMESTAMP
        # guard as the session fold): a day whose horizon already passed
        # times out on the next batch instead of killing the query.
        day_end_ms = pd.Timestamp(day).value // 1_000_000 + 86_400_000
        state.setTimeoutTimestamp(max(day_end_ms, state.getCurrentWatermarkMs() + 1))

    return fold


def kmv_daily_stateful(events: DataFrame, k: int = 32) -> DataFrame:
    """Per-day distinct-user KMV sketch as a custom stateful streaming
    operator: state per day = the k smallest distinct 48-bit user-id
    hashes (the mergeable bottom-k set), emitted with the closed-form
    estimate when the watermark closes the day. ``events`` needs ``ts``
    (watermark column), ``day`` (grouping key) and ``h`` (the portable
    md5-derived hash, computed codegen-side — Python only ever merges
    longs).

    This is the streaming twin of the batch ``agg_kmv_distinct_users``:
    because the bottom-k of a set is arrival-order-independent and the
    hash is deterministic, the stream's answer is BIT-IDENTICAL to the
    batch replay — which is what the oracle checks. State is O(k) per
    open day regardless of traffic (contrast exact distinct: O(users)
    state per day in dropDuplicates), and eviction is by event-time
    timeout as the watermark passes each day's end.
    """
    return (
        events.withWatermark("ts", "0 seconds")
        .groupBy("day")
        .applyInPandasWithState(
            _kmv_fold(k),
            outputStructType=_KMV_OUT_SCHEMA,
            stateStructType=_KMV_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def run_kmv_daily_stream(
    spark: SparkSession,
    sf_dir: str,
    table: str,
    k: int = 32,
) -> DataFrame:
    """Run the streaming KMV sketch over the events table to completion
    (sentinel flush closes every day) and return the per-day estimates."""
    src, stage = _sentinel_events_stream(spark, sf_dir)
    ev = src.select(
        "ts",
        F.date_format("ts", "yyyy-MM-dd").alias("day"),
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 12), 16, 10)
        .cast("long")
        .alias("h"),
    )
    # Sentinel filter after the sink (see run_sessionize_stateful): the
    # sentinel's 2100-01-01 day key must reach the event-time tracker.
    out = _run_to_memory(spark, kmv_daily_stateful(ev, k), stage, table, "append")
    return out.filter("day < '2100-01-01'")
