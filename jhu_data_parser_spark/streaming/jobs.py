"""Structured Streaming jobs over the engine's tables.

The reference re-runs its whole batch daily (systemd timer,
``systemd/jhu-data-parser.timer:5-6``) because a column-per-day feed
can't stream. Over the long/row form, Structured Streaming gives the
incremental version: file source → watermark → windowed agg → sink, with
``trigger(availableNow=True)`` reproducing the "run the timer now, then
exit" cadence. State stays bounded by the watermark at any scale.

Every stream here and in :mod:`.stateful` runs under one contract:

- **Stage.** The file source wants a flat directory of files (a growing
  landing prefix in production). :func:`_stage_symlinks` links a
  table's part files into one; :func:`_stage_chunks` writes
  ``n_chunks`` files with ascending mtimes, so ``maxFilesPerTrigger=1``
  makes each chunk one micro-batch. Both return ``(stream, stage)``.
- **Run.** :func:`_run_stream` starts a writer with an availableNow
  trigger and a fresh checkpoint and waits for it. Shuffle and state
  partitions follow one sizing rule, the stage dir's estimated split
  count (:func:`scoped_state_partitions`); the stage already holds
  every staged copy, and sizes follow symlinks. When the run ends the
  checkpoint and the stage are deleted. Only output dirs that back a
  returned lazy frame stay, removed at interpreter exit.
- **Partials.** :func:`run_partials_stream` is the merge-by-addition
  sink. Each micro-batch lands its partial frame (or several tagged
  frames, through one write) in ``batch_id=N`` under one sink root.
  A batch whose ``_SUCCESS`` marker exists is skipped before any
  recompute, and a torn dir is removed and rewritten, so a
  checkpoint-restart retry neither double-counts nor loses a batch.
  The sink reads back by its declared DDL, so a run with no batch
  returns a typed empty frame. Call sites keep what to compute per
  batch and how to merge the read-back.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import time
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

__all__ = [
    "read_events_stream",
    "daily_counts",
    "run_daily_counts_availablenow",
    "run_dedup_stream",
    "run_stream_sample",
    "run_stream_static_enrich",
    "run_stream_stream_join",
    "write_json_partitioned_stream",
    "write_daily_refresh_stream",
]


_ATEXIT_DIRS: set = set()


def _cleanup_at_exit(path: str) -> str:
    """Register a scratch directory for removal at interpreter exit.
    Output dirs back LAZY DataFrames returned to callers (deleting them
    mid-process would fail pending reads), so they are reclaimed at
    exit rather than leaked one-per-call (ADVICE r6)."""
    import atexit

    if not _ATEXIT_DIRS:
        atexit.register(
            lambda: [shutil.rmtree(p, ignore_errors=True) for p in _ATEXIT_DIRS]
        )
    _ATEXIT_DIRS.add(path)
    return path


def _rmtree_now(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
    _ATEXIT_DIRS.discard(path)


def _tmpdir(kind: str) -> str:
    """A fresh ``jdps_<kind>_*`` scratch dir: every stage, checkpoint
    and sink dir of the streaming package is made here."""
    return tempfile.mkdtemp(prefix=f"jdps_{kind}_")


_STATE_PARTITIONS_ENV = "SPARK_GRAFT_STREAM_STATE_PARTITIONS"
def _conf_bytes(spark: SparkSession, key: str, default: int) -> int:
    """Read a Spark size conf (``128m`` / ``4194304`` / ``1g``) as bytes."""
    raw = spark.conf.get(key, None)
    if raw is None:
        return default
    s = raw.strip().lower().removesuffix("b")
    mult = 1
    for suffix, m in (("k", 1 << 10), ("m", 1 << 20), ("g", 1 << 30), ("t", 1 << 40)):
        if s.endswith(suffix):
            s, mult = s[:-1], m
            break
    try:
        return int(float(s) * mult)
    except ValueError:
        return default


def _input_split_count(spark: SparkSession, input_path: str) -> int:
    """Estimate how many scan splits the file source will produce for
    ``input_path`` (a parquet file or a directory of part files), using
    the same arithmetic as Spark's
    ``FilePartition.maxSplitBytes``: each file is charged
    ``openCostInBytes``, the split size is
    ``min(maxPartitionBytes, max(openCost, totalBytes/defaultParallelism))``,
    and files pack into splits of that size. This is the stream's
    backlog size expressed in tasks — the signal the state-partition
    default scales with."""
    if os.path.isdir(input_path):
        sizes = [
            os.path.getsize(os.path.join(input_path, p))
            for p in os.listdir(input_path)
            if not p.startswith(("_", ".")) and p.endswith(".parquet")
        ]
    elif os.path.exists(input_path):
        sizes = [os.path.getsize(input_path)]
    else:
        return 1
    if not sizes:
        return 1
    open_cost = _conf_bytes(spark, "spark.sql.files.openCostInBytes", 4 * 1024 * 1024)
    max_pb = _conf_bytes(spark, "spark.sql.files.maxPartitionBytes", 128 * 1024 * 1024)
    default_par = max(1, spark.sparkContext.defaultParallelism)
    total = sum(s + open_cost for s in sizes)
    max_split = min(max_pb, max(open_cost, total // default_par + 1))
    return max(1, -(-total // max_split))


def stream_state_partitions(spark: SparkSession, input_path: str) -> int:
    """Shuffle/state partition count for this engine's availableNow
    streaming runs: the micro-batch input's estimated split count
    (:func:`_input_split_count`), clamped to ``[1, defaultParallelism]``.

    Every stateful streaming operator instantiates one state store per
    shuffle partition per micro-batch (a stream-stream join: four), and
    each store pays fixed per-batch commit work regardless of row count:
    checkpoint files created and renamed, and on a host without the
    native Hadoop library one forked ``chmod``/``readlink`` per local
    file operation. On a small backlog the partition count IS the
    latency floor, so the count follows the backlog (more input splits
    → more rows per batch → more state stores pay for themselves) and a
    large deployment still gets scale-out state sizing without a knob.
    Measured on a 4-CPU host (local[4], best of six warm runs in two
    processes; identical oracle-gated results), fixed 8 partitions vs
    this rule (2 for the events backlog, 3 for the two-copy dedup
    backlog):

    ========================== ================ ================
    query (wall)               sf0.01           sf0.1
    ========================== ================ ================
    stream_dedup_watermark     1.97 → 1.66 s    2.65 → 2.32 s
    stream_stateful_sessions   6.62 → 3.61 s    8.07 → 4.68 s
    ========================== ================ ================

    The forks per run fell from about 1,220 to 610 (dedup) and 1,300
    to 530 (sessions), and sessions' process CPU from 28 to 11 s at
    sf0.1.

    The split count is also the lower bound worth going to: one
    partition made sf0.1 ``stream_dedup_watermark`` slower (about
    2.2 → 3.2 s wall). The ``SPARK_GRAFT_STREAM_STATE_PARTITIONS``
    env overrides the rule in both directions; a malformed or
    non-positive value degrades to the rule instead of crashing the
    run.
    """
    raw = os.environ.get(_STATE_PARTITIONS_ENV)
    if raw is not None:
        try:
            n = int(raw)
        except ValueError:
            n = 0
        if n >= 1:
            return n
    splits = _input_split_count(spark, input_path)
    return max(1, min(splits, spark.sparkContext.defaultParallelism))



@contextmanager
def scoped_state_partitions(spark: SparkSession, *, input_path: str):
    """Scope ``spark.sql.shuffle.partitions`` to
    :func:`stream_state_partitions` over ``input_path`` for one
    streaming run, restoring the prior value afterwards. Only
    :func:`_run_stream` calls it, so every stream is sized by the same
    rule and nothing else under ``streaming/`` sets the shuffle
    partition count.
    Placement-only: state partitioning never changes what a stateful
    query computes (grouping keys hash to SOME partition either way),
    only how many state-store instances each micro-batch commits. On a
    4-CPU host a stateful stream over the sf0.01/sf0.1 events backlog
    commits 2–3 stores per operator per batch instead of 8; see
    :func:`stream_state_partitions` for the measured walls.

    NOTE: this mutates the session-global ``spark.sql.shuffle.partitions``
    for the duration of the run — it assumes the single-threaded runner
    discipline this engine uses everywhere (one streaming run at a time
    per SparkSession). A concurrent batch query on the same session
    would silently inherit the scoped value; parallel runners must use
    ``spark.newSession()`` per thread instead."""
    n = stream_state_partitions(spark, input_path)
    prior = spark.conf.get("spark.sql.shuffle.partitions", None)
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        if prior is None:
            spark.conf.unset("spark.sql.shuffle.partitions")
        else:
            spark.conf.set("spark.sql.shuffle.partitions", prior)


def _union_by_tag(frames: list) -> DataFrame:
    """Superset-schema union of several per-batch sink frames, each row
    tagged with its sink name — so one micro-batch lands ALL its sinks
    through ONE write job and ONE ``_SUCCESS`` commit instead of one
    job+commit per sink (guide §1.2: the per-batch job submission +
    file-commit overhead was the measured latency floor of the
    incremental streams, 0.3–1.5 s per sink at harness scale).
    ``frames`` is ``[(tag, df), ...]``; the caller writes the union
    with ``partition_by=["tag"]`` so each logical sink stays separately
    readable with partition pruning. Columns absent from a frame are
    null-padded — null columns encode to almost nothing in parquet.
    ``partitionBy`` on a write never shuffles: each branch's rows carry
    exactly one tag value, so the file layout (and file count) per
    sink is the same as separate writes. Atomicity strictly improves:
    the per-batch sinks commit together or not at all, so a crash can
    no longer leave e.g. segments committed but state missing."""
    cols: list = []  # (name, dataType) in first-appearance order
    seen: set = set()
    for _tag, df in frames:
        for f in df.schema.fields:
            if f.name not in seen:
                seen.add(f.name)
                cols.append((f.name, f.dataType))
    out = None
    for tag, df in frames:
        have = set(df.columns)
        part = df.select(
            F.lit(tag).alias("tag"),
            *[
                F.col(n) if n in have else F.lit(None).cast(t).alias(n)
                for n, t in cols
            ],
        )
        out = part if out is None else out.unionByName(part)
    return out


def _tagged(sink: DataFrame, tag: str, *cols: str) -> DataFrame:
    """ONE logical sink of a tag-partitioned read-back
    (:func:`_union_by_tag` layout ``batch_id=N/tag=X``). The tag
    equality is a partition filter — pruned at the file index, so each
    sink read touches only its own files."""
    return sink.filter(F.col("tag") == tag).select(*cols)


def _rocksdb_provider_available(spark: SparkSession) -> bool:
    """True when the RocksDB state-store provider's JNI bundle is
    loadable in this Spark build — the provider switch must degrade to
    the default (in-heap HDFS-backed) provider instead of failing the
    stream on builds without rocksdbjni (ADVICE r6)."""
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider"
        )
        spark._jvm.org.rocksdb.RocksDB.loadLibrary()
        return True
    except Exception:
        return False


def _parquet_parts(src: str) -> list:
    """The part files of a parquet table path. A multi-file table (the
    production norm) is flattened part by part: the streaming source
    does not recurse into non-partition subdirectories and would
    silently read ZERO rows through a directory symlink (caught on the
    100× layout in r05)."""
    if not os.path.isdir(src):
        return [src]
    parts = [
        os.path.join(src, p)
        for p in sorted(os.listdir(src))
        if not p.startswith(("_", ".")) and p.endswith(".parquet")
    ]
    if not parts:
        raise ValueError(f"no parquet part files under {src}")
    return parts


def _stage_symlinks(
    spark: SparkSession,
    src: str,
    copies: int = 1,
    max_files_per_trigger: int | None = None,
) -> tuple:
    """Stage ``src``'s part files as symlinks in a flat stage dir
    (testdata is read-only) and return ``(stream, stage)``.
    ``copies > 1`` stages every file under N names — an at-least-once
    delivery simulation (checkpoint replay / upstream re-send) where
    every record arrives N times. ``max_files_per_trigger`` bounds the
    files per micro-batch, so a multi-file layout (the 10× scale layout:
    32 part files) exercises real multi-batch merging rather than one
    giant batch. The stream schema is the source's own."""
    parts = _parquet_parts(src)
    schema = spark.read.parquet(src).schema
    stage = _tmpdir("stage")
    for i in range(copies):
        for j, p in enumerate(parts):
            os.symlink(p, os.path.join(stage, f"part_{i}_{j:05d}.parquet"))
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(stage), stage


def _stage_chunks(spark: SparkSession, n_chunks: int, write_chunk) -> tuple:
    """Stage ``n_chunks`` files, chunk k written by
    ``write_chunk(k, path)``, with ascending mtimes: crawl chunk k lands
    after chunk k−1, the ordering a dated landing prefix provides for
    free, so ``maxFilesPerTrigger=1`` + availableNow processes exactly
    one chunk per micro-batch, oldest first. The stream schema is the
    staged files' own. Returns ``(stream, stage)``."""
    stage = _tmpdir("stage")
    now = time.time() - 1000
    for k in range(n_chunks):
        path = os.path.join(stage, f"chunk_{k:03d}.parquet")
        write_chunk(k, path)
        os.utime(path, (now + 30 * k, now + 30 * k))
    schema = spark.read.parquet(stage).schema
    reader = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
    return reader.parquet(stage), stage


def _range_bounds(lo: int, hi: int, n_chunks: int) -> list:
    return [lo + (hi - lo + 1) * k // n_chunks for k in range(n_chunks + 1)]


def _stage_id_chunks(
    spark: SparkSession,
    src: str,
    key: str,
    n_chunks: int,
    columns: list | None = None,
    transform=None,
) -> tuple:
    """:func:`_stage_chunks` over ``key``-contiguous ranges of ``src``.
    Never holds the full table in driver memory: the range is bounded
    from the single ``key`` column, then each chunk is cut with a
    pushed-down dataset filter (one chunk resident at a time) — the
    arrival simulator obeys the same memory posture as the stream it
    feeds. ``transform`` maps each chunk's Arrow table before the
    write."""
    import pyarrow.compute as pc
    import pyarrow.dataset as pads
    import pyarrow.parquet as pq

    dset = pads.dataset(src, format="parquet")
    ids = dset.to_table(columns=[key]).column(key)
    bounds = _range_bounds(pc.min(ids).as_py(), pc.max(ids).as_py(), n_chunks)
    del ids

    def write(k: int, path: str) -> None:
        flt = (pads.field(key) >= bounds[k]) & (pads.field(key) < bounds[k + 1])
        t = dset.to_table(columns=columns, filter=flt)
        pq.write_table(t if transform is None else transform(t), path)

    return _stage_chunks(spark, n_chunks, write)


def _run_stream(spark: SparkSession, writer: DataStreamWriter, stage: str) -> None:
    """Run one stream to completion: availableNow trigger, a fresh
    checkpoint, partitions sized over ``stage`` by
    :func:`scoped_state_partitions`. The checkpoint and the stage are
    deleted afterwards, also on failure: an availableNow run's
    checkpoint is dead weight once it exits, and nothing re-reads the
    staged input."""
    ckpt = _tmpdir("ckpt")
    try:
        with scoped_state_partitions(spark, input_path=stage):
            q = (
                writer.option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
    finally:
        _rmtree_now(ckpt)
        _rmtree_now(stage)


def run_partials_stream(
    spark: SparkSession,
    stream: DataFrame,
    stage: str,
    partials,
    ddl: str,
    work_dir: str | None = None,
    partition_by: list | None = None,
) -> DataFrame:
    """Run ``stream`` through a foreachBatch partials sink and return
    the sink read back with the schema ``ddl`` plus ``batch_id int``.

    ``partials(bdf, batch_id, sink)`` returns the micro-batch's partial
    frame, or ``[(tag, frame), ...]`` landed through ONE write and ONE
    ``_SUCCESS`` commit (:func:`_union_by_tag`; declare ``tag string``
    in ``ddl`` and pass ``partition_by=["tag"]``). ``sink()`` reads
    every committed batch so far, for streams whose batch N carries
    state from batch N−1. ``partition_by`` columns are declared in
    ``ddl`` with their types. The sink root is ``work_dir/sinks`` when
    the caller pins one across calls (a re-run with a fresh checkpoint
    then recomputes batch ids 0..N, finds every committed batch, skips
    it and reads back identical rows), else a scratch dir kept until
    exit because it backs the returned lazy frame."""
    if work_dir is None:
        root = _cleanup_at_exit(_tmpdir("sink"))
    else:
        root = os.path.join(work_dir, "sinks")
        os.makedirs(root, exist_ok=True)
    schema = f"{ddl}, batch_id int"

    def sink() -> DataFrame:
        return spark.read.schema(schema).parquet(root)

    def batch(bdf: DataFrame, batch_id: int) -> None:
        target = os.path.join(root, f"batch_id={batch_id}")
        # Spark's file commit writes _SUCCESS last, so only the marker
        # proves a committed batch: a write that died mid-way leaves the
        # dir with just _temporary/, and skipping on the dir's existence
        # would lose its rows. Skip a committed batch before any
        # recompute; remove a torn one and rewrite it.
        if os.path.exists(os.path.join(target, "_SUCCESS")):
            return
        out = partials(bdf, batch_id, sink)
        if isinstance(out, list):
            out = _union_by_tag(out)
        shutil.rmtree(target, ignore_errors=True)
        w = out.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(target)

    _run_stream(spark, stream.writeStream.foreachBatch(batch), stage)
    return sink()


def _events_stream(spark: SparkSession, sf_dir: str, copies: int = 1) -> tuple:
    """:func:`_stage_symlinks` over the events table with ``ts``
    normalized (see ``sources/tables.load_table``)."""
    from jhu_data_parser_spark.sources.tables import _normalize_nanos_ts

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    stream, stage = _stage_symlinks(
        spark, os.path.join(sf_dir, "events.parquet"), copies=copies
    )
    return _normalize_nanos_ts(stream), stage


def read_events_stream(spark: SparkSession, sf_dir: str, copies: int = 1) -> DataFrame:
    """File-source stream over the events parquet. In production the path
    is a landing prefix that grows; availableNow processes the backlog in
    bounded batches and exits. ``copies`` as in :func:`_stage_symlinks`.
    The caller runs the stream, so its stage dir is removed at exit."""
    stream, stage = _events_stream(spark, sf_dir, copies)
    _cleanup_at_exit(stage)
    return stream


def daily_counts(events: DataFrame, watermark: str = "2 days") -> DataFrame:
    """Watermarked tumbling daily counts per event type. The watermark
    bounds the state store: windows older than max(ts) - watermark are
    finalized and evicted; later-than-watermark data is dropped."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
        )
    )


def _run_to_memory(
    spark: SparkSession, df: DataFrame, stage: str, table: str, mode: str
) -> DataFrame:
    """:func:`_run_stream` into the memory sink ``table``; returns it."""
    writer = df.writeStream.format("memory").queryName(table).outputMode(mode)
    _run_stream(spark, writer, stage)
    return spark.table(table)


def run_daily_counts_availablenow(
    spark: SparkSession, sf_dir: str, table: str
) -> DataFrame:
    """Run the daily-counts stream to completion (availableNow) into a
    memory sink; returns the result as a DataFrame."""
    ev, stage = _events_stream(spark, sf_dir)
    return _run_to_memory(spark, daily_counts(ev), stage, table, "complete")


def run_dedup_stream(
    spark: SparkSession,
    sf_dir: str,
    table: str,
    watermark: str = "1 day",
    copies: int = 1,
) -> DataFrame:
    """Stateful streaming dedup on event_id within the watermark horizon —
    the streaming twin of exact dedup. State = one key per event inside
    the watermark window, evicted as the watermark advances. ``copies``
    plants duplicate deliveries (see :func:`read_events_stream`), which
    the operator must collapse back to exactly-once.

    Memory posture (r06, caught by the 100× probe as a driver-heap
    OOM): the output is row-per-unique-event — unbounded in the data —
    so it goes to a FILE sink (the production landing shape), never the
    memory sink; and the dedup state (every in-horizon key lives
    simultaneously under availableNow) runs on the RocksDB state store
    when the bundled JNI provider is available, keeping key state
    off-heap/on-disk instead of in the 8g executor heap. Both changes
    are invisible to results; the provider conf is restored after the
    run so the (vanilla) session is left untouched."""
    ev, stage = _events_stream(spark, sf_dir, copies=copies)
    deduped = ev.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(["event_id"])
    out_dir = _cleanup_at_exit(_tmpdir("sink"))
    provider_key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(provider_key, None)
    use_rocksdb = _rocksdb_provider_available(spark)
    try:
        if use_rocksdb:
            spark.conf.set(
                provider_key,
                "org.apache.spark.sql.execution.streaming.state."
                "RocksDBStateStoreProvider",
            )
        writer = (
            deduped.writeStream.format("parquet")
            .option("path", out_dir)
            .outputMode("append")
        )
        _run_stream(spark, writer, stage)
    finally:
        if use_rocksdb:
            if prev is None:
                spark.conf.unset(provider_key)
            else:
                spark.conf.set(provider_key, prev)
    return spark.read.schema(deduped.schema).parquet(out_dir)


def run_stream_sample(
    spark: SparkSession, sf_dir: str, table: str, threshold_hex: str = "40000000"
) -> DataFrame:
    """Deterministic Bernoulli sampling INSIDE a stream: keep an event iff
    the first 8 md5-hex chars of its event_id sort below ``threshold_hex``
    (the keep rate rendered as a 32-bit hex threshold — ``"40000000"`` =
    0.25), then count/sum what survived per event type.

    The point being demonstrated: because the draw is a pure function of
    the record key — no seed, no RNG state, no partition dependence — the
    sampled stream is EXACTLY the sampled batch. A restart, a
    repartition, or a micro-batch boundary shift cannot change which
    records are kept, so downstream training-data consumers see one
    stable sample regardless of delivery. (``df.sample`` on a stream has
    none of these properties.) The filter is stateless and evaluated
    map-side per micro-batch; only the keyed aggregate carries state."""
    from jhu_data_parser_spark.functions.exprs import dec_sum

    ev, stage = _events_stream(spark, sf_dir)
    draw = F.substring(F.md5(F.col("event_id").cast("string").cast("binary")), 1, 8)
    kept = ev.filter(draw < F.lit(threshold_hex))
    agg = kept.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_kept"),
        dec_sum("value", scale=4).alias("kept_value"),
    )
    return _run_to_memory(spark, agg, stage, table, "complete")


def run_stream_static_enrich(
    spark: SparkSession, sf_dir: str, table: str
) -> DataFrame:
    """Stream-static join: the events stream enriched per micro-batch
    against the static customer dimension, aggregated by market segment.

    The production shape for dimension enrichment: the static side is
    re-resolved each micro-batch (so a dim refresh is picked up on the
    next trigger) and — being a small dimension — broadcast, so the
    stream side never shuffles for the join. No watermark is needed:
    the static side is bounded, and the segment aggregate runs in
    complete mode."""
    from jhu_data_parser_spark.functions.exprs import dec_sum
    from jhu_data_parser_spark.sources.tables import load_table

    ev, stage = _events_stream(spark, sf_dir)
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    enriched = ev.join(F.broadcast(cust), ev.user_id == cust.c_custkey)
    agg = enriched.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_events"),
        dec_sum("value", scale=4).alias("total_value"),
    )
    return _run_to_memory(spark, agg, stage, table, "complete")


def run_stream_stream_join(
    spark: SparkSession,
    sf_dir: str,
    table: str,
    horizon_min: int = 30,
) -> DataFrame:
    """Stream-stream inner join: each purchase matched to every click by
    the same user in the preceding ``horizon_min`` minutes — the classic
    attribution join, both sides unbounded streams.

    Both sides carry watermarks so the join state is bounded: a click
    can be dropped from state once the purchase-side watermark passes
    click_ts + horizon (Spark derives the state cleanup bound from the
    time-range condition — at 100 TB/day this is the difference between
    O(horizon) and O(stream) state). With availableNow the backlog is
    processed to completion, so the result equals the batch range join
    — which is exactly what the catalog oracle checks.

    Sized like every other stream: a stream-stream join instantiates
    FOUR state stores per shuffle partition per micro-batch, so on a
    small backlog the partition count is the latency floor. Measured on
    a 4-CPU host (local[4], best of six warm runs, identical
    oracle-gated results), the former fixed 4 partitions vs the backlog
    rule (2): 2.88 → 2.09 s at sf0.01, 2.94 → 2.49 s at sf0.1, with
    forks per run down from about 1,720 to 1,020. At 100 TB the same
    rule goes the other way: more input splits size the state up to
    ``defaultParallelism``.
    """
    # ONE staged source feeds both sides: each micro-batch's rows are
    # read once and split by event type
    ev, stage = _events_stream(spark, sf_dir)
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 hour")
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
            F.col("value"),
        )
        .withWatermark("purchase_ts", "1 hour")
    )
    joined = clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("purchase_ts") > F.col("click_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("click_ts") + F.expr(f"INTERVAL {horizon_min} MINUTES")
        ),
    )
    # Row-per-match output is unbounded in the data (same memory-sink
    # hazard the 100× probe caught on the dedup stream) — land it as
    # files, the production sink shape.
    out_dir = _cleanup_at_exit(_tmpdir("sink"))
    writer = (
        joined.writeStream.format("parquet")
        .option("path", out_dir)
        .outputMode("append")
    )
    _run_stream(spark, writer, stage)
    return spark.read.schema(joined.schema).parquet(out_dir)


def write_json_partitioned_stream(
    events: DataFrame, out_dir: str, checkpoint_dir: str | None = None
) -> StreamingQuery:
    """foreachBatch JSON sink partitioned by event_type — the streaming
    mirror of the reference's Hive-partitioned S3 layout
    (``src/parser.py:73-75``): each micro-batch appends part files under
    ``event_type=<v>/`` directories. Returns the RUNNING query, so a
    default checkpoint is removed at exit, not after the run."""
    if checkpoint_dir is None:
        checkpoint_dir = _cleanup_at_exit(_tmpdir("ckpt"))

    def _write_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("append").partitionBy("event_type").json(out_dir)

    return (
        events.writeStream.foreachBatch(_write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def write_daily_refresh_stream(
    events: DataFrame, out_dir: str, checkpoint_dir: str | None = None
) -> StreamingQuery:
    """Idempotent incremental daily refresh: each micro-batch REPLACES
    the day partitions it carries (dynamic partition overwrite) instead
    of appending.

    This is the exactly-once-per-day landing pattern: if a batch
    re-lands (checkpoint replay, upstream re-delivery of a corrected
    day file), the day is rewritten, never duplicated — the streaming
    version of the reference's daily rerun with the blast radius of one
    partition instead of the whole lake. Returns the RUNNING query; a
    default checkpoint is removed at exit."""
    from jhu_data_parser_spark.sink import overwrite_partitions

    if checkpoint_dir is None:
        checkpoint_dir = _cleanup_at_exit(_tmpdir("ckpt"))

    def _write_batch(batch_df: DataFrame, batch_id: int) -> None:
        withday = batch_df.withColumn("day", F.date_format("ts", "yyyy-MM-dd"))
        overwrite_partitions(withday, out_dir, ["day"], fmt="json")

    return (
        events.writeStream.foreachBatch(_write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def run_incremental_dedup_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup dedup as a REAL stream: the incoming crawl
    batch (doc_id % 5 == 0) arrives as a documents stream; each
    micro-batch computes ITS OWN banded MinHash signatures, probes the
    OLD corpus's STORED signature index with one equi-join on
    (band, band_sig), and verifies candidates against the old corpus's
    token table by exact Jaccard.

    The streaming twin of ``dedup_incremental_vs_index`` — same
    signatures, banding, candidates, and verify — so the batch oracle
    gates the stream bit-for-bit (stream ≡ batch ≡ SQL).

    Shape decisions (each measured):
    - The per-batch work runs inside ``foreachBatch``, where the
      micro-batch is a BATCH frame: the signature reuses the exact
      codegen explode→groupBy(min×16) operator the batch twin uses (a
      pre-join aggregation is illegal in a declarative streaming plan,
      and the HOF array_min fallback is interpreted per element).
    - No streaming state at all: a (new, old) pair can only surface in
      the one micro-batch that carries its new document, so band
      multiplicity collapses with a PER-BATCH distinct and results
      append to a file sink — a complete-mode pair aggregate was
      measured 5× slower at the 100× layout (the state store held the
      entire ~10M-pair output and re-emitted it every trigger).
    - Dup-dense corpora (one cached corpus-level probe, shared with the
      batch twin): the static index collapses to DISTINCT old texts and
      each micro-batch collapses its new docs the same way; verified
      rep pairs expand through the member tables — signatures and
      verifies run per distinct text, the expansion join materializes
      only the output listing.
    - Both static sides (signature index, token table) are lazily
      checkpointed once and re-used by every micro-batch;
      ensure_parallelism spreads the md5-heavy index build (a
      single-file layout would hash the stored corpus on one task).
    """
    from jhu_data_parser_spark.operators import dedup as dd
    from jhu_data_parser_spark.sources.tables import load_table

    raw = load_table(spark, sf_dir, "documents")
    d = dd.ensure_parallelism(raw)
    # probe the RAW scan (bare-scan lineage -> fingerprint-cacheable)
    collapse = not dd._corpus_is_distinct(raw, "text")
    old = d.filter(F.col("doc_id") % 5 != 0)
    if collapse:
        # exact_collapse already checkpoints the member table; reps_o
        # is derived lazily, so checkpoint the tokenized form ONCE and
        # let both static consumers (index, token table) share it.
        reps_o, mem_o = dd.exact_collapse(old, adaptive=False)
    else:
        reps_o, mem_o = old, None
    to = reps_o.select(
        "doc_id", F.split(F.lower(F.col("text")), " ").alias("toks")
    ).localCheckpoint(eager=False)
    index = (
        dd.banded_minhash_portable(to)
        .withColumnRenamed("doc_id", "id_old")
        .localCheckpoint(eager=False)
    )
    toks_old = to.select(
        F.col("doc_id").alias("id_old"), F.col("toks").alias("toks_o")
    )
    jac = F.expr(
        "CAST(size(array_intersect(array_distinct(toks_n), array_distinct(toks_o)))"
        " AS DOUBLE) / size(array_distinct(concat(toks_n, toks_o)))"
    )

    def partials(batch_df: DataFrame, batch_id: int, sink) -> DataFrame:
        if collapse:
            reps_n, mem_n = dd.exact_collapse(batch_df, adaptive=False)
        else:
            reps_n, mem_n = batch_df, None
        t_new = reps_n.select(
            "doc_id", F.split(F.lower(F.col("text")), " ").alias("toks")
        )
        probes = dd.banded_minhash_portable(t_new).withColumnRenamed(
            "doc_id", "id_new"
        )
        cand = (
            probes.join(index, ["band", "band_sig"])
            .select("id_new", "id_old")
            .distinct()
        )
        ver = (
            cand.join(
                t_new.select(
                    F.col("doc_id").alias("id_new"), F.col("toks").alias("toks_n")
                ),
                "id_new",
            )
            .join(toks_old, "id_old")
            .withColumn("jaccard", jac)
            .filter(F.col("jaccard") >= 0.5)
            .select("id_new", "id_old", "jaccard")
        )
        if mem_n is not None:
            ver = (
                ver.withColumnRenamed("id_new", "rep")
                .join(mem_n, "rep")
                .drop("rep")
                .withColumnRenamed("member", "id_new")
            )
        if mem_o is not None:
            ver = (
                ver.withColumnRenamed("id_old", "rep")
                .join(mem_o, "rep")
                .drop("rep")
                .withColumnRenamed("member", "id_old")
            )
        return ver.select("id_new", "id_old", "jaccard")

    stream, stage = _stage_symlinks(spark, os.path.join(sf_dir, "documents.parquet"))
    out = run_partials_stream(
        spark,
        stream.filter(F.col("doc_id") % 5 == 0),
        stage,
        partials,
        "id_new long, id_old long, jaccard double",
    )
    return out.select("id_new", "id_old", "jaccard")


def run_cms_heavy_hitters_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch heavy hitters over a REAL documents stream —
    the streaming demonstration of sketch MERGEABILITY (the property
    that makes sketches the right 100 TB summary): each micro-batch
    builds its OWN d×w partial cell table and its own partial token
    counts inside ``foreachBatch``; because CMS is linear, the
    read-back SUM of per-batch cells IS the global sketch, so the
    stream's final (exact top-20, estimate) table is bit-identical to
    the batch twin's (``agg_cms_heavy_hitters``) — stream ≡ batch ≡
    SQL, gated by the shared oracle. Token counts (``tc``) and sketch
    cells (``sk``) land as two tags of one per-batch commit."""
    from jhu_data_parser_spark.plans.pipeline6 import _CMS_D, _CMS_W, _hex_long

    bucket_structs = F.array(
        *[
            F.struct(
                F.lit(j).alias("j"),
                (
                    _hex_long(
                        F.substring(
                            F.md5(F.concat(F.lit(f"{j}:"), F.col("token"))), 1, 4
                        ),
                        4,
                    )
                    % _CMS_W
                ).alias("bucket"),
            )
            for j in range(_CMS_D)
        ]
    )

    def partials(bdf: DataFrame, batch_id: int, sink) -> list:
        tok = bdf.select(
            F.explode(F.split(F.lower(F.col("text")), " ")).alias("token")
        ).filter(F.col("token") != "")
        tc = tok.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
        ex = tc.select("cnt", F.explode(bucket_structs).alias("jb")).select(
            "cnt", F.col("jb.j").alias("j"), F.col("jb.bucket").alias("bucket")
        )
        sk = ex.groupBy("j", "bucket").agg(F.sum("cnt").cast("long").alias("cell"))
        return [("tc", tc), ("sk", sk)]

    stream, stage = _stage_symlinks(spark, os.path.join(sf_dir, "documents.parquet"))
    parts = run_partials_stream(
        spark,
        stream,
        stage,
        partials,
        "token string, cnt long, j int, bucket long, cell long, tag string",
        partition_by=["tag"],
    )
    tc_total = (
        _tagged(parts, "tc", "token", "cnt")
        .groupBy("token")
        .agg(F.sum("cnt").cast("long").alias("cnt"))
    )
    sk_total = (
        _tagged(parts, "sk", "j", "bucket", "cell")
        .groupBy("j", "bucket")
        .agg(F.sum("cell").cast("long").alias("cell"))
    )
    ex = tc_total.select("token", "cnt", F.explode(bucket_structs).alias("jb")).select(
        "token", "cnt", F.col("jb.j").alias("j"), F.col("jb.bucket").alias("bucket")
    )
    cand = tc_total.orderBy(F.desc("cnt"), "token").limit(20)
    probe = ex.join(F.broadcast(cand.select("token")), "token", "left_semi").join(
        F.broadcast(sk_total), ["j", "bucket"]
    )
    return probe.groupBy("token").agg(
        F.max("cnt").cast("long").alias("exact_count"),
        F.min("cell").cast("long").alias("cms_estimate"),
    )


def _ivfpq_append_segments(spark: SparkSession, sf_dir: str):
    """Incremental ANN index maintenance as a REAL stream (r8 verdict
    item 3), the segment-building half shared by the append-serve and
    compaction queries. The base corpus (vec_id % 5 != 0) builds the
    IVF-PQ index and FREEZES its coarse centroids and codebooks;
    newly-arriving vectors (vec_id % 5 == 0, query row excluded) stream
    in as micro-batches (one embeddings file each), get coarse-assigned
    and PQ-encoded under the frozen codebooks by the same Arrow encoder
    the batch build uses, and append as ``batch_id=N`` cell-partitioned
    segments — the index twin of ``run_incremental_dedup_stream``.
    Returns ``(index_union, coarse, books, emb)`` where index_union is
    the LSM view base ∪ appended: serving reads it (the shape every
    real ANN service uses for freshness) and runs the standard pruned
    ADC + re-rank, so the result is IDENTICAL to a batch encode of the
    union under the same codebooks — the shared oracle replays exactly
    that.

    Scale posture: per-batch work is one Arrow encode pass + one
    partitioned write, no fits, no shuffles; the frozen-codebook
    discipline is what production IVF systems do between periodic
    retrains (codebook drift is a monitored, not per-batch, concern)."""
    from jhu_data_parser_spark.operators import similarity as sim
    from jhu_data_parser_spark.plans.pipeline11 import (
        _IP_CELLS,
        _IP_CITERS,
        _IP_ITERS,
        _IP_K,
        _IP_M,
        _IP_SUB,
    )
    from jhu_data_parser_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    old = emb.filter(F.col("vec_id") % 5 != 0)
    path, coarse, books = sim.ivfpq_build_index(
        old,
        n_cells=_IP_CELLS,
        coarse_iters=_IP_CITERS,
        m=_IP_M,
        sub=_IP_SUB,
        pq_k=_IP_K,
        pq_iters=_IP_ITERS,
        cache_tag="embeddings_ivfpq_stream_base",
    )

    def partials(bdf: DataFrame, batch_id: int, sink) -> DataFrame:
        return sim._ivfpq_encode_arrow(
            bdf, coarse, books, _IP_SUB, False, "embedding", "vec_id"
        )

    cols = ["id", "cell"] + [f"code{s}" for s in range(_IP_M)]
    stream, stage = _stage_symlinks(
        spark, os.path.join(sf_dir, "embeddings.parquet"), max_files_per_trigger=1
    )
    appended = run_partials_stream(
        spark,
        stream.filter((F.col("vec_id") % 5 == 0) & (F.col("vec_id") != 0)),
        stage,
        partials,
        ", ".join(f"{c} bigint" for c in cols),
        partition_by=["cell"],
    )

    def as_long(df: DataFrame) -> DataFrame:
        return df.select(*[F.col(c).cast("long").alias(c) for c in cols])

    index = as_long(spark.read.parquet(path)).unionByName(as_long(appended))
    return index, coarse, books, emb


def _ivfpq_serve_union(spark: SparkSession, index: DataFrame, coarse, books, emb):
    from jhu_data_parser_spark.operators import similarity as sim
    from jhu_data_parser_spark.operators.clustering import quantize_vectors
    from jhu_data_parser_spark.plans.pipeline11 import (
        _IP_PROBE,
        _IP_SHORTLIST,
        _IP_SUB,
        _IP_TOPK,
    )

    q_ints = [
        int(v)
        for v in quantize_vectors(emb.filter(F.col("vec_id") == 0))
        .select("q")
        .first()["q"]
    ]
    return sim.ivfpq_adc_rerank(
        index,
        emb.filter(F.col("vec_id") != 0),
        coarse,
        books,
        q_ints,
        k=_IP_TOPK,
        n_probe=_IP_PROBE,
        shortlist=_IP_SHORTLIST,
        sub=_IP_SUB,
    )


def run_ivfpq_index_append_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serve from the LSM view base ∪ appended segments (see
    :func:`_ivfpq_append_segments` for the streaming half)."""
    index, coarse, books, emb = _ivfpq_append_segments(spark, sf_dir)
    return _ivfpq_serve_union(spark, index, coarse, books, emb)


def run_ivfpq_index_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSM COMPACTION for the streamed index: rewrite base ∪ appended
    batch segments into ONE fresh cell-partitioned index directory (no
    re-fit — codes are already under the frozen codebooks; compaction
    is a pure layout rewrite, exactly what an ANN service runs
    periodically so serving reads one segment per cell instead of one
    per micro-batch), then serve from the compacted index. Correctness
    contract: serve(compacted) ≡ serve(base ∪ appends) ≡ batch-encoded
    union — the shared oracle gates all three. The segment-count drop
    is pinned in pytest."""
    index, coarse, books, emb = _ivfpq_append_segments(spark, sf_dir)
    compact_dir = _cleanup_at_exit(_tmpdir("sink"))
    index.write.mode("overwrite").partitionBy("cell").parquet(compact_dir)
    compacted = spark.read.parquet(compact_dir).select(
        *[F.col(c).cast("long").alias(c) for c in index.columns]
    )
    return _ivfpq_serve_union(spark, compacted, coarse, books, emb)


def run_quantile_sketch_stream(
    spark: SparkSession, sf_dir: str, max_files_per_trigger: int = 8
) -> DataFrame:
    """Per-language token-count quantiles over a REAL documents stream
    — the streaming twin of ``agg_quantile_sketch_tokens``, and the
    demonstration that the fixed-bucket histogram's MERGEABILITY is
    exactly what makes it streamable: each micro-batch sinks its OWN
    (lang, bucket) count partial (one map-side-combinable aggregate,
    no state), partials merge by ADDITION on read-back, and the
    quantile query runs once over the merged sketch — so N
    micro-batches ≡ one batch build ≡ the SQL oracle, bit-for-bit
    (the batch query's leaves split by (lang, source), the stream's by
    (lang, batch): a DIFFERENT partition of the same rows, which is
    precisely the associativity claim). Engine-private KLL/GK sketches
    could not share this oracle."""
    from jhu_data_parser_spark.plans.pipeline19 import (
        _QT_QUANTS,
        _QT_WIDTH,
        _sketch_quantiles,
    )

    def partials(bdf: DataFrame, batch_id: int, sink) -> DataFrame:
        return (
            bdf.filter(F.length("text") > 0)
            .select(
                "lang",
                F.expr(
                    f"CAST(size(split(text, ' ')) AS BIGINT) DIV {_QT_WIDTH}"
                ).alias("bucket"),
            )
            .groupBy("lang", "bucket")
            .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        )

    stream, stage = _stage_symlinks(
        spark,
        os.path.join(sf_dir, "documents.parquet"),
        max_files_per_trigger=max_files_per_trigger,
    )
    parts = run_partials_stream(
        spark, stream, stage, partials, "lang string, bucket long, cnt long"
    )
    merged = parts.groupBy("lang", "bucket").agg(
        F.sum("cnt").cast("long").alias("cnt")
    )
    return _sketch_quantiles(merged, "lang", _QT_WIDTH, _QT_QUANTS, "n_docs")


def run_gopher_quality_stream(
    spark: SparkSession, sf_dir: str, max_files_per_trigger: int = 8
) -> DataFrame:
    """The Gopher quality-rule report over a REAL documents stream —
    the streaming twin of ``text_gopher_quality`` and the shape a
    continuously-ingesting curation pipeline actually runs: each
    micro-batch evaluates the per-document rule flags (pure codegen,
    no state) and sinks its OWN per-lang partial counts; counts are
    mergeable by addition, so the read-back SUM is bit-identical to the
    batch report — stream ≡ batch ≡ SQL, gated by the shared oracle.
    maxFilesPerTrigger=8 makes the 32-file scale layout run 4 real
    merges while single-file testdata stays one batch."""
    from jhu_data_parser_spark.plans.pipeline8 import _gopher_flags, _gopher_rollup

    counts = (
        "n_docs",
        "fail_short",
        "fail_meanlen",
        "fail_symbols",
        "fail_alpha",
        "fail_stopwords",
        "n_pass",
    )
    stream, stage = _stage_symlinks(
        spark,
        os.path.join(sf_dir, "documents.parquet"),
        max_files_per_trigger=max_files_per_trigger,
    )
    parts = run_partials_stream(
        spark,
        stream,
        stage,
        lambda bdf, batch_id, sink: _gopher_rollup(_gopher_flags(bdf)),
        "lang string, " + ", ".join(f"{c} long" for c in counts),
    )
    return parts.groupBy("lang").agg(*[F.sum(c).cast("long").alias(c) for c in counts])


def run_wilson_value_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilson-lower-bound quality gate over a REAL events stream — the
    streaming twin of quality_wilson_nonreturn_rank's ranking math:
    each micro-batch sinks its own per-event-type (n, w) partial
    counts (w = high-value events, value > 100); counts merge by
    addition, and the z=2 Wilson bound is applied once at read-back,
    so the result is bit-identical to the batch computation —
    stream ≡ batch ≡ SQL under the shared oracle."""
    from jhu_data_parser_spark.plans.pipeline15 import _WILSON_SQL

    def partials(bdf: DataFrame, batch_id: int, sink) -> DataFrame:
        return bdf.groupBy("event_type").agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.when(F.col("value") > 100.0, 1).otherwise(0))
            .cast("long")
            .alias("w"),
        )

    stream, stage = _events_stream(spark, sf_dir)
    parts = run_partials_stream(
        spark, stream, stage, partials, "event_type string, n long, w long"
    )
    merged = parts.groupBy("event_type").agg(
        F.sum("n").cast("long").alias("n"),
        F.sum("w").cast("long").alias("w"),
    )
    return merged.withColumn("wilson_lb_nano", F.expr(_WILSON_SQL))


def run_holt_forecast_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt 7-day forecast over a REAL events stream — the streaming
    twin of events_holt_forecast: each micro-batch sinks its own
    (event_type, day, n) daily-count partials; counts merge by
    addition, and the dyadic-exact Holt fold runs ONCE at read-back
    over the merged integers, so stream ≡ batch ≡ SQL bit-identically."""
    from jhu_data_parser_spark.plans.pipeline16 import (
        _daily_counts_for_holt,
        holt_forecast_from_daily,
    )

    stream, stage = _events_stream(spark, sf_dir)
    parts = run_partials_stream(
        spark,
        stream,
        stage,
        lambda bdf, batch_id, sink: _daily_counts_for_holt(bdf),
        "event_type string, day long, n long",
    )
    merged = parts.groupBy("event_type", "day").agg(
        F.sum("n").cast("long").alias("n")
    )
    return holt_forecast_from_daily(merged)


def run_quality_lr_serve_stream(
    spark: SparkSession, sf_dir: str, max_files_per_trigger: int = 8
) -> DataFrame:
    """Online inference over a documents stream: the quality classifier
    is trained OFFLINE on the full corpus (lr_fit_artifacts — the
    frozen-model discipline, same as the frozen IVF-PQ codebooks),
    then every arriving micro-batch is scored under the frozen weights
    and sinks its per-language partial report. All aggregates merge by
    sum/min/max, so the read-back combine is bit-identical to the
    batch serve — stream ≡ batch ≡ SQL under text_quality_lr_serve's
    oracle."""
    from jhu_data_parser_spark.operators.text import lr_fit_artifacts
    from jhu_data_parser_spark.plans.pipeline13 import _LR_STEPS, lr_lang_report
    from jhu_data_parser_spark.sources.tables import load_table

    d = load_table(spark, sf_dir, "documents")
    w, _stats, mean1000, _n = lr_fit_artifacts(d, steps=_LR_STEPS)

    stream, stage = _stage_symlinks(
        spark,
        os.path.join(sf_dir, "documents.parquet"),
        max_files_per_trigger=max_files_per_trigger,
    )
    parts = run_partials_stream(
        spark,
        stream,
        stage,
        lambda bdf, batch_id, sink: lr_lang_report(bdf, w, mean1000),
        "lang string, n_docs long, n_keep long, m_sum long, m_min long, m_max long",
    )
    return parts.groupBy("lang").agg(
        F.sum("n_docs").cast("long").alias("n_docs"),
        F.sum("n_keep").cast("long").alias("n_keep"),
        F.sum("m_sum").cast("long").alias("m_sum"),
        F.min("m_min").cast("long").alias("m_min"),
        F.max("m_max").cast("long").alias("m_max"),
    )


def run_video_neardup_probe_stream(
    spark: SparkSession, sf_dir: str, max_files_per_trigger: int = 8
) -> DataFrame:
    """Incremental VIDEO near-dup as a REAL stream — the multimodal
    member of the incremental-probe family (text:
    run_incremental_dedup_stream; vectors: the IVF-PQ append): newly
    arriving videos (doc_id % 5 == 0 — which includes every decade
    head whose trailing-trimmed copy sits in the archive) decode their
    frame signatures per micro-batch and probe the STORED frame-key
    index of the old corpus with one equi-join; containment-verified
    pairs append to the partials sink. The old
    index and its per-video frame counts are built once and lazily
    checkpointed; per-batch work is one Arrow decode + one narrow-key
    join — payloads never shuffle, never re-decode."""
    from jhu_data_parser_spark.operators.multimodal import (
        attach_mp4_mirrored,
        mp4_frame_signature,
    )
    from jhu_data_parser_spark.sources.tables import load_table

    d = load_table(spark, sf_dir, "documents")
    old_sig = (
        mp4_frame_signature(attach_mp4_mirrored(d.filter(F.col("doc_id") % 5 != 0)))
        .localCheckpoint(eager=False)
    )
    old_nf = (
        old_sig.groupBy("doc_id")
        .agg((F.max("frame_no") + 1).cast("int").alias("nf_old"))
        .localCheckpoint(eager=False)
    )
    idx = old_sig.select(
        F.col("doc_id").alias("id_old"), "width", "height", "frame_no", "fkey"
    )
    cols = ["id_new", "id_old", "n_shared", "nf_new", "nf_old"]

    def partials(bdf: DataFrame, batch_id: int, sink) -> DataFrame:
        new_sig = mp4_frame_signature(attach_mp4_mirrored(bdf.select("doc_id")))
        new_nf = new_sig.groupBy("doc_id").agg(
            (F.max("frame_no") + 1).cast("int").alias("nf_new")
        )
        cand = (
            new_sig.select(
                F.col("doc_id").alias("id_new"),
                "width",
                "height",
                "frame_no",
                "fkey",
            )
            .join(idx, ["width", "height", "frame_no", "fkey"])
            .groupBy("id_new", "id_old")
            .agg(F.count(F.lit(1)).cast("int").alias("n_shared"))
        )
        return (
            cand.join(
                new_nf.select(F.col("doc_id").alias("id_new"), "nf_new"), "id_new"
            )
            .join(old_nf.select(F.col("doc_id").alias("id_old"), "nf_old"), "id_old")
            .filter(10 * F.col("n_shared") >= 9 * F.least("nf_new", "nf_old"))
            .select(*cols)
        )

    stream, stage = _stage_symlinks(
        spark,
        os.path.join(sf_dir, "documents.parquet"),
        max_files_per_trigger=max_files_per_trigger,
    )
    pairs = run_partials_stream(
        spark,
        stream.filter(F.col("doc_id") % 5 == 0),
        stage,
        partials,
        "id_new long, id_old long, n_shared int, nf_new int, nf_old int",
    )
    return pairs.select(*cols)


# --------------------------------------------------------------------------
# Incremental packed-batch funnel (r9 verdict item 7): the streaming
# composition of the curation pieces — new crawl chunks arrive as
# micro-batches, pass the FROZEN per-document gates, and extend the
# per-source packed-sequence table incrementally.
# --------------------------------------------------------------------------

_PACK_BUDGET = 512  # tokens per packed training sequence (funnel v3 value)


def _pack_gate_survivors(bdf: DataFrame, bench: DataFrame) -> DataFrame:
    """Frozen per-document gates of the incremental funnel: Gopher-style
    quality thresholds (the funnel-v3 ``gf`` conditions verbatim),
    lang = 'en', and 8-token-shingle decontamination against the frozen
    benchmark set ``bench`` (a bounded static table, broadcast into
    every micro-batch). Pure per-doc logic → valid on any batch slice.
    Corpus-global funnel stages (URL dedup, near-dedup, boilerplate
    statistics, the trained-LR threshold, mixing allocation) are NOT in
    this gate by design — each needs cross-corpus state and has its own
    incremental operator (stream_incremental_dedup, the stored-index
    probes, stream_quality_lr_serve with frozen weights)."""
    from jhu_data_parser_spark.operators.text import SHINGLE8_TOKS_SQL

    toks = F.split(F.col("text"), " ")
    n_tok = F.size(toks).cast("long")
    letters = (F.length("text") - (F.size(toks) - 1)).cast("long")
    n_hash = (
        F.length("text")
        - F.length(F.replace(F.col("text"), F.lit("#"), F.lit("")))
    ).cast("long")
    n_nonalpha = F.expr(
        "size(filter(split(text, ' '), w -> NOT (w rlike '[a-z]')))"
    ).cast("long")
    n_stop = F.expr(
        "size(array_intersect(split(text, ' '), "
        "array('the', 'and', 'of', 'to', 'in', 'a', 'is')))"
    ).cast("long")
    gq = (
        (n_tok >= 30)
        & (3 * n_tok <= letters)
        & (letters <= 10 * n_tok)
        & (10 * n_hash <= n_tok)
        & (10 * n_nonalpha <= n_tok)
        & (n_stop >= 2)
    )
    base = bdf.select(
        "doc_id",
        "source",
        n_tok.alias("n_tok"),
        ((F.col("lang") == "en") & gq).alias("keep"),
        F.split(F.lower("text"), " ").alias("toks"),
    ).filter("keep")
    shg = base.select(
        "doc_id",
        F.explode(
            F.expr(
                SHINGLE8_TOKS_SQL
            )
        ).alias("g"),
    )
    contam = shg.join(F.broadcast(bench), "g").select("doc_id").distinct()
    return base.join(contam, "doc_id", "left_anti").select(
        "doc_id", "source", "n_tok"
    )



def run_pack_batches_incremental_stream(
    spark: SparkSession,
    sf_dir: str,
    n_chunks: int = 3,
    work_dir: str | None = None,
) -> DataFrame:
    """Incremental packed batches from a REAL documents stream.

    The landing prefix is simulated by splitting the corpus into
    ``n_chunks`` doc_id-CONTIGUOUS chunk files, one micro-batch each,
    oldest first (:func:`_stage_id_chunks`).

    Each micro-batch: frozen gates (:func:`_pack_gate_survivors`) →
    in-batch per-source running token sums (a PARTITIONED window) →
    shifted by the carried per-source token offset → pack_id under the
    same ``(cum − n_tok) DIV 512`` rule as the batch funnel. Cross-batch
    state is the ≤|sources|-row offset table, committed with the
    segments of its batch (a restart retry recomputes batch N from
    state N−1 + the batch's checkpointed file set — deterministic, so
    nothing can double-apply). Because chunks are contiguous
    per source, concatenating the per-batch sequences in batch order
    IS the global per-source doc_id order — so the read-back union is
    bit-identical to the one-shot batch packing, which is exactly what
    the shared oracle replays (stream ≡ batch, the
    stream_ivfpq_index_append discipline applied to packing)."""
    from pyspark.sql import Window

    src = os.path.join(sf_dir, "documents.parquet")
    stream, stage = _stage_id_chunks(spark, src, "doc_id", n_chunks)
    # frozen benchmark set (decontamination reference — static,
    # bounded). Lazily checkpointed: every micro-batch broadcasts it,
    # and without the cut each batch job re-ran the scan + distinct
    # exchange (3 batches = 3 rebuilds of an identical table) — the
    # small-derived-table checkpoint rule. The chunks' schema is the
    # source's, so the read skips schema inference.
    bench = (
        spark.read.schema(stream.schema)
        .parquet(src)
        .filter(F.col("doc_id") % 17 == 0)
        .select(
            F.expr(
                "array_join(slice(split(lower(text), ' '), 1, 8), ' ')"
            ).alias("g")
        )
        .distinct()
        .localCheckpoint(eager=False)
    )

    def partials(bdf: DataFrame, batch_id: int, sink) -> list:
        prev = (
            sink()
            .filter(
                (F.col("batch_id") == batch_id - 1)
                & (F.col("tag") == "state")
            )
            .select("source", "off_tok")
        )
        surv = _pack_gate_survivors(bdf, bench)
        w = (
            Window.partitionBy("source")
            .orderBy("doc_id")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        seg = (
            surv.withColumn("cum_in", F.sum("n_tok").over(w))
            .join(F.broadcast(prev), "source", "left")
            .withColumn(
                "cum", F.col("cum_in") + F.coalesce(F.col("off_tok"), F.lit(0))
            )
            .select(
                "source",
                "doc_id",
                "n_tok",
                F.expr(
                    f"CAST((cum - n_tok) DIV {_PACK_BUDGET} AS BIGINT)"
                ).alias("pack_id"),
            )
        )
        # next-offset table from the SAME lineage as the segment (the
        # per-source window exchange is shared across both branches of
        # the merged write). Restart-exact without the committed-read
        # round trip the two-commit form needed: seg is a deterministic
        # function of (checkpointed batch file set, committed state
        # N−1), and the union write commits seg and state ATOMICALLY —
        # the crash window where segments existed without their state
        # (the reason the read-back existed) is gone.
        bsum = seg.groupBy("source").agg(
            F.sum("n_tok").cast("long").alias("b_tok")
        )
        new_state = (
            prev.join(bsum, "source", "full")
            .select(
                "source",
                (
                    F.coalesce("off_tok", F.lit(0))
                    + F.coalesce("b_tok", F.lit(0))
                )
                .cast("long")
                .alias("off_tok"),
            )
        )
        return [("seg", seg), ("state", new_state)]

    sink = run_partials_stream(
        spark,
        stream,
        stage,
        partials,
        "source string, doc_id long, n_tok long, pack_id long, off_tok long,"
        " tag string",
        work_dir=work_dir,
        partition_by=["tag"],
    )
    segs = _tagged(sink, "seg", "source", "doc_id", "n_tok", "pack_id")
    return segs.groupBy("source", "pack_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tok").cast("long").alias("n_tokens"),
        F.sum("doc_id").cast("long").alias("id_checksum"),
    )

# --------------------------------------------------------------------------
# Incremental dialogue threading: role-run turn merging as a REAL
# stream with carried per-user state. A turn that spans a micro-batch
# boundary is emitted as PARTIAL rows under the same globally-
# consistent (session_no, turn_no) key — consistent because the state
# table carries each user's end-of-batch counters — and the read-back
# groupBy merges the partials. That makes the per-turn table itself
# addition-mergeable, the same property the CMS/Gopher streams exploit
# for counts, applied to a STATEFUL segmentation.
# --------------------------------------------------------------------------


def run_dialog_threads_incremental_stream(
    spark: SparkSession,
    sf_dir: str,
    n_chunks: int = 3,
    work_dir: str | None = None,
) -> DataFrame:
    """Scoped-conf wrapper: the impl sets nanosAsLong + UTC for its own
    reads/formatting; restore the caller's values afterwards so the
    side effect never leaks into later reads in the same session (a
    foreign session with nanosAsLong=false would otherwise see every
    subsequent nanos-timestamp parquet surfaced as long). Safe because
    PySpark analyzes eagerly: the returned DataFrame's time-zone-aware
    expressions are resolved before the restore runs."""
    keys = ("spark.sql.legacy.parquet.nanosAsLong", "spark.sql.session.timeZone")
    prior = {k: spark.conf.get(k, None) for k in keys}
    try:
        return _run_dialog_threads_incremental_impl(
            spark, sf_dir, n_chunks, work_dir
        )
    finally:
        for k, v in prior.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def _run_dialog_threads_incremental_impl(
    spark: SparkSession,
    sf_dir: str,
    n_chunks: int = 3,
    work_dir: str | None = None,
) -> DataFrame:
    """Gap-sessionized role-run dialogue turns from time-contiguous
    event micro-batches (chunk k = the k-th global ts range, so every
    user's chunk-k events follow their chunk-(k−1) events).

    Per batch: in-batch lag flags fall back to the carried per-user
    state (last event's epoch seconds + role) for each user's FIRST
    row, and the in-batch prefix sums are offset by the carried
    session/turn counters — so (session_no, turn_no) are globally
    identical to the one-shot batch computation. Per-turn PARTIALS
    (count, checksum, min/max micros) and next-state (previous state
    full-outer merged with the batch's per-user tail) commit together
    per batch; a restart retry recomputes batch N from state N−1 +
    the checkpointed file set. Read-back merges
    partials by the turn key and derives the within-session turn index
    — bit-identical to ``dialog_thread_turns``'s batch output, which
    is exactly what the shared oracle replays."""
    import duckdb

    from pyspark.sql import Window

    from jhu_data_parser_spark.plans.pipeline18 import _GAP_SEC, dialog_role_expr
    from jhu_data_parser_spark.sources.tables import _normalize_nanos_ts

    src = os.path.join(sf_dir, "events.parquet")
    glob_src = os.path.join(src, "*.parquet") if os.path.isdir(src) else src
    # set BEFORE any Spark schema read — the events parquet has shipped
    # as TIMESTAMP(NANOS) in some driver generations and a plain read
    # throws without nanosAsLong (same order as read_events_stream).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    con = duckdb.connect()
    lo, hi = con.execute(
        f"SELECT MIN(epoch_us(ts)), MAX(epoch_us(ts)) FROM read_parquet('{glob_src}')"
    ).fetchone()
    bounds = _range_bounds(lo, hi, n_chunks)

    # The ts-range chunks are cut by a DuckDB COPY, not by
    # _stage_id_chunks' pyarrow filter: COPY always writes
    # timestamp[us], so the staged schema (which the stream reads) is
    # uniform even when the source parquet is TIMESTAMP(NANOS).
    def write_chunk(k: int, path: str) -> None:
        con.execute(
            f"COPY (SELECT * FROM read_parquet('{glob_src}')"
            f" WHERE epoch_us(ts) >= {bounds[k]} AND epoch_us(ts) < {bounds[k + 1]})"
            f" TO '{path}' (FORMAT PARQUET)"
        )

    stream, stage = _stage_chunks(spark, n_chunks, write_chunk)
    gap = _GAP_SEC

    def partials(bdf: DataFrame, batch_id: int, sink) -> list:
        prev = (
            sink()
            .filter(
                (F.col("batch_id") == batch_id - 1)
                & (F.col("tag") == "state")
            )
            .select("user_id", "st_sec", "st_role", "st_sess", "st_turn")
        )
        role = dialog_role_expr()
        e = bdf.select(
            "user_id",
            "event_id",
            "ts",
            role.alias("role"),
            F.col("ts").cast("timestamp").cast("double").alias("sec"),
            F.expr("unix_micros(ts)").cast("long").alias("us"),
        ).join(prev, "user_id", "left")
        # no broadcast hint on prev: unlike the pack stream's
        # ≤|sources|-row state this table grows with |users|, so the
        # user_id equi-join shuffles (or AQE-broadcasts when small) —
        # a forced broadcast would OOM at large user counts.
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        eff_sec = F.coalesce(F.lag("sec").over(w), F.col("st_sec"))
        eff_role = F.coalesce(F.lag("role").over(w), F.col("st_role"))
        new_sess = F.when(
            eff_sec.isNull() | (F.col("sec") - eff_sec > gap), 1
        ).otherwise(0)
        g = e.withColumn("new_sess", new_sess).withColumn(
            "new_turn",
            F.when(
                (F.col("new_sess") == 1) | (F.col("role") != eff_role), 1
            ).otherwise(0),
        )
        wp = w.rowsBetween(Window.unboundedPreceding, 0)
        s = g.withColumn(
            "session_no",
            F.coalesce(F.col("st_sess"), F.lit(0))
            + F.sum("new_sess").over(wp),
        ).withColumn(
            "turn_no",
            F.coalesce(F.col("st_turn"), F.lit(0))
            + F.sum("new_turn").over(wp),
        )
        seg = s.groupBy("user_id", "session_no", "turn_no", "role").agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum("event_id").cast("long").alias("evt_checksum"),
            F.min("us").cast("long").alias("min_us"),
            F.max("us").cast("long").alias("max_us"),
        )
        # end-of-batch per-user tail (max by (ts, event_id)) + counters
        tail = s.groupBy("user_id").agg(
            F.max(F.struct("ts", "event_id", "sec", "role")).alias("last"),
            F.max("session_no").cast("long").alias("b_sess"),
            F.max("turn_no").cast("long").alias("b_turn"),
        ).select(
            "user_id",
            F.col("last.sec").alias("b_sec"),
            F.col("last.role").alias("b_role"),
            "b_sess",
            "b_turn",
        )
        new_state = prev.join(tail, "user_id", "full").select(
            "user_id",
            F.coalesce("b_sec", "st_sec").alias("st_sec"),
            F.coalesce("b_role", "st_role").alias("st_role"),
            F.coalesce("b_sess", "st_sess").cast("long").alias("st_sess"),
            F.coalesce("b_turn", "st_turn").cast("long").alias("st_turn"),
        )
        # one union-by-tag write: seg and new_state both derive from
        # the same user_id window exchange, so the merged job shares
        # that shuffle across both branches and commits atomically
        return [("seg", seg), ("state", new_state)]

    sink = run_partials_stream(
        spark,
        _normalize_nanos_ts(stream),
        stage,
        partials,
        "user_id long, session_no long, turn_no long, role string,"
        " n_events long, evt_checksum long, min_us long, max_us long,"
        " st_sec double, st_role string, st_sess long, st_turn long,"
        " tag string",
        work_dir=work_dir,
        partition_by=["tag"],
    )
    segs = _tagged(
        sink,
        "seg",
        "user_id",
        "session_no",
        "turn_no",
        "role",
        "n_events",
        "evt_checksum",
        "min_us",
        "max_us",
    )
    t = segs.groupBy("user_id", "session_no", "turn_no", "role").agg(
        F.sum("n_events").cast("long").alias("n_events"),
        F.sum("evt_checksum").cast("long").alias("evt_checksum"),
        F.min("min_us").alias("min_us"),
        F.max("max_us").alias("max_us"),
    )
    w_sess = Window.partitionBy("user_id", "session_no")
    return t.select(
        "user_id",
        F.col("session_no").cast("long").alias("session_no"),
        (F.col("turn_no") - F.min("turn_no").over(w_sess) + 1)
        .cast("long")
        .alias("turn_idx"),
        "role",
        "n_events",
        "evt_checksum",
        F.date_format(F.timestamp_micros(F.col("min_us")), "yyyy-MM-dd HH:mm:ss")
        .alias("turn_start"),
        F.date_format(F.timestamp_micros(F.col("max_us")), "yyyy-MM-dd HH:mm:ss")
        .alias("turn_end"),
    )


def run_substring_spans_incremental_stream(
    spark: SparkSession,
    sf_dir: str,
    n_chunks: int = 3,
    work_dir: str | None = None,
) -> DataFrame:
    """Exact substring-span dedup as a REAL incremental stream: crawl
    chunks (doc_id-contiguous, ascending mtimes) arrive as
    micro-batches; each batch exact-collapses ITS OWN texts, drops
    texts already represented in the accumulated collapse state
    (contiguous ascending ids mean the first-seen copy IS the global
    min-id representative), emits its positional 8-gram postings into
    an append-only ``batch_id=N`` index, and discovers candidate
    SEEDS exactly once by probing the accumulated index (new×old via
    one gram equi-join — old ids are strictly smaller, so orientation
    is by construction — plus the in-batch new×new self-join).
    Everything is append-only: no carried offsets, no full-outer state
    merges — the postings/seeds/state unions across batch dirs ARE the
    state.

    The read-back applies the CORPUS-GLOBAL doc-frequency gate
    (a gram's final df is unknowable mid-stream: a boilerplate gram
    under the cap at batch k may blow past it at batch k+3 — so seeds
    carry their gram hash and the gate filters them against the final
    df table, summed from the per-batch partials). Seed generation is
    ALSO gated mid-stream
    by an over-cap gram stoplist: each batch sinks a per-gram df
    PARTIAL (batches hold disjoint collapsed docs, so partials merge
    by SUM), and the next batch anti-joins its postings against the
    grams whose running df already exceeds the cap — df only grows,
    so a blown gram can never come back under, and its O(df²) seed
    fanout stops one batch after it blows rather than running to the
    end of the stream. The read-back then runs the same diagonal
    gaps-and-islands recovery and top-50 contract as the batch
    operator — so the batch query's oracle gates the stream
    bit-for-bit (stream ≡ batch ≡ SQL, the incremental-index
    discipline applied to positional gram postings)."""
    from pyspark.sql import Window

    from jhu_data_parser_spark.operators.dedup import positional_gram_postings
    from jhu_data_parser_spark.plans.pipeline19 import (
        _SUB_DF_CAP,
        _SUB_K,
        _SUB_MIN_SPAN,
    )

    stream, stage = _stage_id_chunks(
        spark, os.path.join(sf_dir, "documents.parquet"), "doc_id", n_chunks
    )

    def partials(bdf: DataFrame, batch_id: int, sink) -> list:
        # ONE snapshot read serves all three state look-backs (state /
        # index / dfs) — one file listing, no schema-probe job
        snap = sink()
        prev_state = _tagged(snap, "state", "xh", "mh")
        old_index = _tagged(snap, "index", "doc", "pos", "gh")
        reps = (
            bdf.filter(F.length("text") > 0)
            .groupBy(F.xxhash64("text").alias("xh"), F.md5("text").alias("mh"))
            .agg(
                F.min("doc_id").alias("doc"),
                F.min_by("text", "doc_id").alias("text"),
            )
            .join(prev_state, ["xh", "mh"], "anti")
        )
        fresh = reps.select(
            "xh",
            "mh",
            "doc",
            F.split(F.lower("text"), " ").alias("toks"),
        )
        postings = positional_gram_postings(fresh, _SUB_K)
        # over-cap stoplist from the merged df partials (disjoint docs
        # per batch ⇒ running df = SUM of partials): a gram past the
        # cap can only grow, so dropping it from seed generation now
        # is exactly what the read-back gate would do later — minus
        # the O(df²) seed rows it would have emitted meanwhile. Full
        # postings still reach the index so later batches can probe
        # every position; the UNGATED df partials keep the read-back
        # gate's summed df exact.
        stop = (
            snap.filter(F.col("tag") == "dfs")
            .select("gh", "df_part")
            .groupBy("gh")
            .agg(F.sum("df_part").alias("df_run"))
            .filter(F.col("df_run") > _SUB_DF_CAP)
            .select("gh")
        )
        gated = postings.join(stop, "gh", "anti")
        # ONE seed join instead of new×old plus new×new: chunks arrive
        # doc_id-contiguous and ascending, so every old doc id is
        # strictly below every new doc id — a single doc_a < doc_b
        # filter over the (old ∪ new) a-side is exactly the union of
        # the oriented new×old pairs (where the filter never rejects)
        # and the deduped new×new pairs. Halves the gram-join stages
        # per micro-batch (guide §2.4: two operations keyed the same
        # way share one exchange).
        a_side = old_index.unionByName(gated.select("doc", "pos", "gh"))
        seeds_new = (
            a_side.select(
                F.col("doc").alias("doc_a"),
                F.col("pos").alias("pos_a"),
                "gh",
            )
            .join(
                gated.select(
                    F.col("doc").alias("doc_b"),
                    F.col("pos").alias("pos_b"),
                    "gh",
                ),
                "gh",
            )
            .filter(F.col("doc_a") < F.col("doc_b"))
            .select("doc_a", "doc_b", "pos_a", "pos_b", "gh")
        )
        # per-batch per-gram df partial: explode each doc's DISTINCT
        # grams once and count — ONE map-side-partial exchange, vs
        # countDistinct(doc) over the exploded postings which plans a
        # two-round distinct aggregate (an extra AQE stage job on a
        # sub-second batch). Equivalent by construction: a doc counts
        # once per gram either way.
        dfs_part = (
            fresh.filter(F.size("toks") >= _SUB_K)
            .select(
                F.expr("transform(toks, t -> xxhash64(t))").alias("th")
            )
            .select(
                F.explode(
                    F.expr(
                        "array_distinct(transform(sequence(1, size(th)"
                        f" - {_SUB_K - 1}), i -> xxhash64("
                        + ", ".join(
                            f"element_at(th, i + {j})"
                            for j in range(_SUB_K)
                        )
                        + ")))"
                    )
                ).alias("gh")
            )
            .groupBy("gh")
            .agg(F.count(F.lit(1)).cast("long").alias("df_part"))
        )
        # ONE job + ONE commit per micro-batch (was: seeds job+commit,
        # then three concurrent tail commits — 4 sink commits/batch).
        # No lazy checkpoints: every union branch sits on top of the
        # reps exchange, so the expensive stages are shared shuffle
        # reads; the narrow re-tokenization per branch is ~1.6k docs.
        return [
            ("seeds", seeds_new),
            ("index", postings),
            ("state", fresh.select("xh", "mh")),
            ("dfs", dfs_part),
        ]

    # ONE tag-partitioned sink root for all four logical sinks (index /
    # seeds / state / dfs): one write job + _SUCCESS per micro-batch
    # (guide §1.2 — was 4 commits per batch; the commit protocol is
    # sequential driver work, so 4 sinks ≈ 4× the floor).
    sink = run_partials_stream(
        spark,
        stream,
        stage,
        partials,
        "doc long, pos long, gh long, xh long, mh string,"
        " df_part long, doc_a long, doc_b long, pos_a long, pos_b long,"
        " tag string",
        work_dir=work_dir,
        partition_by=["tag"],
    )
    # corpus-global df gate from the per-batch df PARTIALS: batches
    # hold disjoint collapsed docs (a rep is processed in exactly one
    # batch), so a gram's final doc frequency is exactly the SUM of
    # its partials — the same merge rule the mid-stream stoplist uses.
    # Gating off the maintained (gh, df_part) summary instead of
    # re-counting distinct docs over the postings index drops a
    # corpus-wide index scan plus a two-round distinct aggregate from
    # the read-back (guide §1.2): the index only ever APPENDS at
    # scale, while the df table stays one row per (batch, gram).
    mg = (
        _tagged(sink, "dfs", "gh", "df_part")
        .groupBy("gh")
        .agg(F.sum("df_part").alias("df_docs"))
        .filter(
            (F.col("df_docs") >= 2) & (F.col("df_docs") <= _SUB_DF_CAP)
        )
        .select("gh")
    )
    seeds = (
        _tagged(sink, "seeds", "doc_a", "doc_b", "pos_a", "pos_b", "gh")
        .join(mg, "gh")
        .select(
            "doc_a",
            "doc_b",
            "pos_a",
            "pos_b",
            (F.col("pos_a") - F.col("pos_b")).alias("diag"),
        )
    )
    w = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("pos_a")
    isl = seeds.withColumn("grp", F.col("pos_a") - F.row_number().over(w))
    spans = (
        isl.groupBy("doc_a", "doc_b", "diag", "grp")
        .agg(
            F.min("pos_a").cast("long").alias("start_a"),
            F.min("pos_b").cast("long").alias("start_b"),
            (F.max("pos_a") - F.min("pos_a") + _SUB_K)
            .cast("long")
            .alias("span_len"),
        )
        .filter(F.col("span_len") >= _SUB_MIN_SPAN)
        .select("doc_a", "doc_b", "start_a", "start_b", "span_len")
    )
    return spans.orderBy(
        F.desc("span_len"), "doc_a", "doc_b", "start_a", "start_b"
    ).limit(50)


def run_graph_index_append_stream(
    spark: SparkSession,
    sf_dir: str,
    n_chunks: int = 2,
    work_dir: str | None = None,
) -> DataFrame:
    """Arrival-order NSW graph maintenance as a REAL incremental
    stream (the batch twin is ``plans.pipeline20.sim_graph_arrival_edges``
    — shared oracle, hash-gated equivalence): embedding chunks
    (vec_id-contiguous, ascending mtimes) arrive as micro-batches.
    Each batch (a) buckets + unit-quantizes its OWN vectors into
    posting rows, (b) probes the accumulated posting index — old ids
    are strictly smaller by construction, in-batch earlier ids come
    from the same union — for banded candidates with ``dst < src``,
    (c) ranks by exact integer squared-L2 and appends each new node's
    top-m edges to an append-only ``batch_id=N`` dir. A node's edge list is a
    function of earlier ids only (the NSW insertion rule), so the
    unioned appends reproduce the batch graph bit-for-bit — the
    incremental-index discipline applied to graph-ANN maintenance
    (how a deployment keeps an NSW index fresh without rebuilds).
    Two chunks: the second batch's
    old×new probe is the cross-batch property under test; more chunks
    only repeat it while each micro-batch pays a ~3 s scheduling
    floor (same decomposition as the stream-stream join's)."""
    from jhu_data_parser_spark.operators import similarity as sim
    from jhu_data_parser_spark.plans.pipeline20 import (
        _G_DIM,
        _G_PLANES,
        _G_SEED,
        _GA_BANDS,
        _GA_M,
    )

    bands = [f"b{b}" for b in range(_GA_BANDS)]
    stream, stage = _stage_id_chunks(
        spark, os.path.join(sf_dir, "embeddings.parquet"), "vec_id", n_chunks
    )

    def partials(bdf: DataFrame, batch_id: int, sink) -> list:
        corpus = bdf.filter(F.col("vec_id") != 0)
        new_posts = sim.banded_posts(
            corpus, _G_DIM, _G_PLANES, _GA_BANDS, _G_SEED
        ).localCheckpoint(eager=False)
        old_posts = _tagged(sink(), "posts", "id", "q", *bands)
        # the ONE shared ranking implementation (sim.banded_topm) — the
        # stream cannot silently diverge from the batch graph's metric
        # or tie-break: the new posts rank against old and new posts
        # alike (dst < src keeps only earlier ids)
        edges = sim.banded_topm(
            old_posts.withColumn("is_src", F.lit(False)).unionByName(
                new_posts.withColumn("is_src", F.lit(True))
            ),
            _GA_BANDS,
            _GA_M,
            earlier_only=True,
        )
        # per-batch artifacts are a few thousand rows — one file each
        # (a production append would target file sizes, not task count).
        # One union-by-tag write: a commit-free noop materializes the
        # lazily-checkpointed new_posts first so the edges ranking and
        # the posts branch both read the checkpoint cache, then both
        # sinks commit atomically through one job + one _SUCCESS.
        new_posts.write.format("noop").mode("overwrite").save()
        return [("posts", new_posts.coalesce(1)), ("edges", edges.coalesce(1))]

    # ONE tag-partitioned sink root (postings + edges): one write job +
    # one _SUCCESS commit per micro-batch instead of two (guide §1.2)
    sink = run_partials_stream(
        spark,
        stream,
        stage,
        partials,
        ", ".join(f"{b} long" for b in ["id"] + bands)
        + ", q array<bigint>, src long, dst long, rank int, tag string",
        work_dir=work_dir,
        partition_by=["tag"],
    )
    return _tagged(sink, "edges", "src", "dst", "rank")


def _lake_event_chunks(spark: SparkSession, sf_dir: str, n_chunks: int) -> tuple:
    """Event-id chunks for the lakehouse append streams. Timestamps
    travel as epoch-micros ``ts_us`` BIGINTs (cast at staging) so no
    engine TZ semantics are in play."""
    import pyarrow.compute as pc

    def ts_to_us(t):
        i = t.schema.get_field_index("ts")
        return t.set_column(i, "ts_us", pc.cast(t.column("ts"), "int64"))

    return _stage_id_chunks(
        spark,
        os.path.join(sf_dir, "events.parquet"),
        "event_id",
        n_chunks,
        columns=["event_id", "ts", "event_type", "value"],
        transform=ts_to_us,
    )


def _lake_daily_counts(snap: DataFrame) -> DataFrame:
    return snap.groupBy(
        F.expr("ts_us DIV 86400000000").cast("long").alias("day"),
        "event_type",
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum(F.expr("CAST(ROUND(value * 10000) AS BIGINT)"))
        .cast("long")
        .alias("value_fp"),
    )


def run_delta_append_stream(
    spark: SparkSession,
    sf_dir: str,
    n_chunks: int = 2,
    table: str | None = None,
) -> DataFrame:
    """Exactly-once streaming appends into the Delta-lite table via
    the protocol's ``txn`` actions (sources/delta_lite.py): event
    chunks arrive as micro-batches; each foreachBatch appends with
    ``txn=("jdps-events-stream", batch_id)``, so a checkpoint replay
    or upstream re-delivery of a batch is recognized by its (appId,
    version) and SKIPPED — the Delta streaming-sink handshake, which
    is how a real lake gets exactly-once file sinks without
    idempotent file names. The read-back aggregates daily counts from
    the table's LATEST snapshot; the batch oracle recomputes them
    from the source parquet, so the driver hash proves no batch was
    lost OR double-committed. Timestamps travel as epoch-micros
    BIGINTs (computed at staging) so no engine TZ semantics are in
    play. Idempotence is additionally pytest-pinned by re-running the
    stream over the same table."""
    from jhu_data_parser_spark.sources.delta_lite import (
        read_delta,
        write_delta,
    )

    stream, stage = _lake_event_chunks(spark, sf_dir, n_chunks)
    if table is None:
        table = _cleanup_at_exit(_tmpdir("sink"))

    def _batch(bdf: DataFrame, batch_id: int) -> None:
        write_delta(
            bdf, table, mode="append", txn=("jdps-events-stream", batch_id)
        )

    _run_stream(spark, stream.writeStream.foreachBatch(_batch), stage)
    return _lake_daily_counts(read_delta(spark, table))


def run_delta_cdf_merge_stream(
    spark: SparkSession,
    sf_dir: str,
    n_bands: int = 5,
    reprocess_versions: tuple = (),
    results: str | None = None,
) -> DataFrame:
    """The full lakehouse incremental loop: an upstream Delta-lite
    table receives quantity-band APPENDS (one commit per band); a
    downstream consumer tails it with ``read_delta_changes(v, v)``
    (CDF-lite — only the rows each commit added, never a rescan),
    folds each version's partial aggregate into a per-flag running
    total, and MERGEs that into a downstream Delta-lite results table
    with ``txn=("jdps-cdf-rollup", v)`` — so a re-delivered version
    (``reprocess_versions``, the checkpoint-replay simulation the
    idempotence pytest drives) is recognized by its (appId, version)
    high-water mark and skipped BEFORE any join work. CDF + MERGE +
    txn composing is exactly how a production lake keeps a derived
    table exactly-once-fresh off a source table's commit log; the
    batch oracle (one plain aggregate over all bands) certifies no
    version was lost, double-merged, or mis-attributed. At 100 TB the
    consumer's read is one version's files and the merge rewrites
    only the touched aggregate rows."""
    from jhu_data_parser_spark.sources.delta_lite import (
        last_txn_version,
        merge_delta,
        read_delta,
        read_delta_changes,
        write_delta,
    )
    from jhu_data_parser_spark.sources.tables import load_table

    src_table = _cleanup_at_exit(_tmpdir("sink"))
    if results is None:
        results = _cleanup_at_exit(_tmpdir("sink"))
    base = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice", "l_quantity"
    )
    for k in range(n_bands):
        band = base.filter(
            (F.col("l_quantity") >= k * 4 + 1)
            & (F.col("l_quantity") < (k + 1) * 4 + 1)
        )
        write_delta(
            band, src_table, mode="overwrite" if k == 0 else "append"
        )

    app = "jdps-cdf-rollup"

    def consume(v: int) -> None:
        if last_txn_version(results, app) >= v:
            return  # re-delivered version: already merged
        part = (
            read_delta_changes(spark, src_table, v, v)
            .groupBy("l_returnflag")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.sum(
                    F.floor(
                        F.col("l_extendedprice") * 100 + F.lit(0.5)
                    ).cast("long")
                )
                .cast("long")
                .alias("price_cents"),
            )
        )
        try:
            cur = read_delta(spark, results).select(
                F.col("l_returnflag"),
                F.col("n_rows").alias("_n0"),
                F.col("price_cents").alias("_c0"),
            )
        except ValueError:  # first version bootstraps the table
            write_delta(part, results, mode="overwrite", txn=(app, v))
            return
        merged = (
            part.join(cur, "l_returnflag", "left")
            .select(
                "l_returnflag",
                (F.col("n_rows") + F.coalesce(F.col("_n0"), F.lit(0)))
                .cast("long")
                .alias("n_rows"),
                (
                    F.col("price_cents")
                    + F.coalesce(F.col("_c0"), F.lit(0))
                )
                .cast("long")
                .alias("price_cents"),
            )
        )
        merge_delta(
            spark, results, merged, on=["l_returnflag"], txn=(app, v)
        )

    for v in list(range(n_bands)) + list(reprocess_versions):
        consume(v)
    return read_delta(spark, results)

def run_iceberg_append_stream(
    spark: SparkSession,
    sf_dir: str,
    n_chunks: int = 2,
    table: str | None = None,
) -> DataFrame:
    """Exactly-once streaming appends into the Iceberg-lite table —
    the Iceberg twin of :func:`run_delta_append_stream`, with the
    idempotence ledger the spec actually provides: there is no txn
    action, so (exactly like Iceberg's real streaming sink stores its
    epoch id in commit metadata) each foreachBatch stamps
    ``jdps-batch-id`` into the snapshot SUMMARY, and a re-delivered
    batch is recognized by scanning the snapshot log's summaries
    before committing — the snapshot log IS the ledger, driver-side
    and metadata-sized. The read-back aggregates daily counts from
    the current snapshot; the batch oracle recomputes them from the
    source parquet, so the driver hash proves no batch was lost or
    double-committed. Idempotence additionally pytest-pinned by
    re-running the stream over the same table (snapshot count must
    not grow)."""
    from jhu_data_parser_spark.sources.iceberg_lite import (
        iceberg_snapshots,
        read_iceberg,
        table_properties,
        write_iceberg,
    )

    stream, stage = _lake_event_chunks(spark, sf_dir, n_chunks)
    if table is None:
        table = _cleanup_at_exit(_tmpdir("sink"))
        os.rmdir(table)  # write_iceberg creates the tree itself

    def _batch(bdf: DataFrame, batch_id: int) -> None:
        try:
            committed = {
                s["summary"].get("jdps-batch-id")
                for s in iceberg_snapshots(table)
            }
            # the high-water batch id ALSO rides in table properties —
            # snapshot expiration drops expired snapshots' summaries,
            # so a summary-only ledger forgets batches beyond the
            # retention horizon and would re-commit them; properties
            # survive every commit AND expire_snapshots (batch ids are
            # monotonic under structured-streaming replay, so ≤ the
            # high-water mark means already-committed)
            hw = int(
                table_properties(table).get("jdps-batch-high-water", -1)
            )
        except ValueError:  # not a table yet: first commit
            committed, hw = set(), -1
        if batch_id <= hw or str(batch_id) in committed:
            return  # re-delivered batch: the ledger remembers
        write_iceberg(
            bdf,
            table,
            mode="append",
            summary_props={"jdps-batch-id": str(batch_id)},
            table_props={"jdps-batch-high-water": str(batch_id)},
        )

    _run_stream(spark, stream.writeStream.foreachBatch(_batch), stage)
    return _lake_daily_counts(read_iceberg(spark, table))


def run_cusum_drift_stream(
    spark: SparkSession, sf_dir: str, max_files_per_trigger: int = 8
) -> DataFrame:
    """CUSUM drift monitoring over a REAL events stream — the
    streaming twin of ``events_cusum_drift``: each micro-batch sinks
    its OWN (event_type, day) count partial (addition-mergeable, no
    state), the read-back merges partials and folds the clamped
    recurrence ONCE over the merged day-sorted series. The recurrence
    itself is order-dependent and cannot stream incrementally without
    carrying the chart state; merging the mergeable HALF (the counts)
    and folding at read time is exactly how a monitoring service
    recomputes its charts each tick — and makes N micro-batches ≡ one
    batch pass, gated by the shared oracle."""
    from jhu_data_parser_spark.plans.pipeline19 import _cusum_finish

    def partials(bdf: DataFrame, batch_id: int, sink) -> DataFrame:
        return (
            bdf.select(
                "event_type",
                F.expr("unix_micros(ts) DIV 86400000000").alias("day"),
            )
            .groupBy("event_type", "day")
            .agg(F.count(F.lit(1)).cast("long").alias("x"))
        )

    stream, stage = _events_stream(spark, sf_dir)
    parts = run_partials_stream(
        spark, stream, stage, partials, "event_type string, day long, x long"
    )
    merged = parts.groupBy("event_type", "day").agg(
        F.sum("x").cast("long").alias("x")
    )
    return _cusum_finish(merged)
