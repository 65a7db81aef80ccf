"""Structured Streaming tests (SURVEY.md §2.9): availableNow windowed
agg equals the batch answer, stateful dedup, foreachBatch partitioned
JSON sink mirrors the lake layout."""

from __future__ import annotations

import glob
import itertools
import json
import os

import pytest
from pyspark.sql import functions as F

_ids = itertools.count()


def test_stream_daily_counts_equals_batch(spark, sf_dir):
    from jhu_data_parser_spark.sources.tables import load_table
    from jhu_data_parser_spark.streaming.jobs import run_daily_counts_availablenow

    table = f"t_daily_{next(_ids)}"
    streamed = run_daily_counts_availablenow(spark, sf_dir, table)
    batch = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
        )
    )
    assert {tuple(r) for r in streamed.collect()} == {tuple(r) for r in batch.collect()}


def test_stream_dedup(spark, sf_dir):
    from jhu_data_parser_spark.sources.tables import load_table
    from jhu_data_parser_spark.streaming.jobs import run_dedup_stream

    table = f"t_dedup_{next(_ids)}"
    deduped = run_dedup_stream(spark, sf_dir, table)
    n_src = load_table(spark, sf_dir, "events").count()
    n_out = deduped.count()
    assert n_out == n_src  # event_ids are unique in the source
    assert deduped.select("event_id").distinct().count() == n_out


def test_stateful_sessions_across_microbatches(spark, sf_dir, tmp_path):
    """The applyInPandasWithState sessionizer must produce the exact
    batch sessionization when the input arrives as THREE time-ordered
    micro-batches — sessions spanning a batch boundary merge through the
    state store, and the trailing sessions flush via event-time timeout
    (sentinel batch + final no-data batch)."""
    import os

    from pyspark.sql import Window

    from jhu_data_parser_spark.sources.tables import load_table
    from jhu_data_parser_spark.streaming.stateful import sessionize_stateful

    ev = load_table(spark, sf_dir, "events")
    # Three chronological chunks: chunk k's min ts >= chunk k-1's max ts,
    # so nothing is late for the 0-second watermark.
    n = ev.count()
    chunked = ev.orderBy("ts").withColumn(
        "__chunk",
        F.floor(
            (F.row_number().over(Window.orderBy("ts", "event_id")) - 1) * 3 / F.lit(n)
        ),
    )
    stage = tmp_path / "chunks"
    os.makedirs(stage)
    cuts = [r[0] for r in chunked.groupBy("__chunk").agg(F.max("ts")).orderBy("__chunk").collect()]
    for i in range(3):
        part = chunked.filter(F.col("__chunk") == i).drop("__chunk").coalesce(1)
        tmp_out = str(tmp_path / f"w{i}")
        part.write.mode("overwrite").parquet(tmp_out)
        src = glob.glob(os.path.join(tmp_out, "part-*.parquet"))[0]
        os.rename(src, str(stage / f"batch-{i}.parquet"))
    # Sentinel far-future event flushes the open tail sessions.
    sent = (
        ev.limit(1)
        .withColumn("ts", F.timestamp_seconds(F.lit(4102444800)))
        .withColumn("user_id", F.lit(-1).cast(ev.schema["user_id"].dataType))
        .coalesce(1)
    )
    tmp_out = str(tmp_path / "wsent")
    sent.write.mode("overwrite").parquet(tmp_out)
    os.rename(
        glob.glob(os.path.join(tmp_out, "part-*.parquet"))[0],
        str(stage / "batch-3.parquet"),
    )
    for i, fname in enumerate(sorted(os.listdir(stage))):
        os.utime(str(stage / fname), (1_700_000_000 + i, 1_700_000_000 + i))

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(stage))
    )
    table = f"t_sessions_{next(_ids)}"
    q = (
        sessionize_stateful(stream, gap_minutes=30)
        .filter("user_id >= 0")
        .writeStream.format("memory")
        .queryName(table)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    streamed = {tuple(r) for r in spark.table(table).collect()}

    # Batch truth: lag/cumsum sessionization.
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = ev.withColumn(
        "new_s",
        F.when(
            F.col("ts").cast("long") - F.lag("ts").over(w).cast("long") >= 1800, 1
        ).otherwise(F.when(F.lag("ts").over(w).isNull(), 1).otherwise(0)),
    )
    numbered = flagged.withColumn(
        "s_no", F.sum("new_s").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    batch = {
        tuple(r)
        for r in numbered.groupBy("user_id", "s_no")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select("user_id", "session_start", "session_end", "n_events")
        .collect()
    }
    assert streamed == batch
    # Progress proof: more than one micro-batch actually ran.
    assert q.lastProgress is not None


def test_daily_refresh_stream_is_idempotent(spark, sf_dir, tmp_path):
    """Re-running the daily-refresh stream from a FRESH checkpoint (a
    full re-delivery) must leave the lake identical — day partitions are
    replaced, never appended."""
    from jhu_data_parser_spark.streaming.jobs import (
        read_events_stream,
        write_daily_refresh_stream,
    )

    out = str(tmp_path / "daily_lake")

    def run(ck):
        q = write_daily_refresh_stream(
            read_events_stream(spark, sf_dir), out, checkpoint_dir=str(tmp_path / ck)
        )
        q.awaitTermination()
        df = spark.read.option("basePath", out).json(out)
        return df.count(), df.select("event_id").distinct().count()

    n1, d1 = run("ck1")
    n2, d2 = run("ck2")  # full re-delivery: fresh checkpoint, same data
    assert n1 == n2 == d1 == d2  # no duplicates, partitions replaced


def test_stream_restart_is_incremental(spark, sf_dir, tmp_path):
    """The reference reruns its FULL batch daily (systemd timer); the
    streaming replacement must be incremental across restarts: a second
    availableNow run from the same checkpoint processes ONLY files that
    arrived since — no reprocessing, no duplicates."""
    import os
    import shutil

    from jhu_data_parser_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    half_a = ev.filter("user_id % 2 = 0").coalesce(1)
    half_b = ev.filter("user_id % 2 = 1").coalesce(1)
    n_a, n_b = half_a.count(), half_b.count()

    src_dir, out_dir, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))
    os.makedirs(src_dir)

    def land(df, name):
        tmp = str(tmp_path / f"w_{name}")
        df.write.mode("overwrite").parquet(tmp)
        shutil.move(glob.glob(os.path.join(tmp, "part-*.parquet"))[0],
                    os.path.join(src_dir, f"{name}.parquet"))

    def run_once():
        stream = spark.readStream.schema(ev.schema).parquet(src_dir)

        def write_batch(bdf, bid):
            bdf.write.mode("append").parquet(out_dir)

        q = (
            stream.writeStream.foreachBatch(write_batch)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    land(half_a, "day1")
    run_once()
    assert spark.read.parquet(out_dir).count() == n_a

    land(half_b, "day2")
    run_once()  # restart from the same checkpoint
    out = spark.read.parquet(out_dir)
    assert out.count() == n_a + n_b  # day1 NOT reprocessed
    assert out.select("event_id").distinct().count() == n_a + n_b


def test_stream_json_sink_partitioned(spark, sf_dir, tmp_path):
    from jhu_data_parser_spark.streaming.jobs import (
        read_events_stream,
        write_json_partitioned_stream,
    )

    out = str(tmp_path / "stream_lake")
    q = write_json_partitioned_stream(read_events_stream(spark, sf_dir), out)
    q.awaitTermination()
    # Hive-style event_type= partitions, mirroring the reference's
    # type= layout (src/parser.py:73-75).
    parts = {os.path.basename(p) for p in glob.glob(os.path.join(out, "event_type=*"))}
    assert parts == {
        "event_type=click",
        "event_type=error",
        "event_type=purchase",
        "event_type=signup",
        "event_type=view",
    }
    # records are valid JSON with the expected fields
    sample_file = glob.glob(os.path.join(out, "event_type=click", "part-*"))[0]
    with open(sample_file) as f:
        rec = json.loads(f.readline())
    assert {"event_id", "ts", "user_id", "value", "props"} <= set(rec)


def test_kmv_stream_state_merges_across_microbatches(spark, sf_dir, tmp_path):
    """The streaming KMV sketch must produce the exact batch bottom-k
    when a day's events arrive split across THREE micro-batches — the
    k-smallest sets merge through the state store, and every day
    flushes by event-time timeout after the sentinel batch."""
    import os

    from pyspark.sql import Window

    from jhu_data_parser_spark.sources.tables import load_table
    from jhu_data_parser_spark.streaming.stateful import kmv_daily_stateful

    K = 32
    ev = load_table(spark, sf_dir, "events")
    n = ev.count()
    chunked = ev.orderBy("ts").withColumn(
        "__chunk",
        F.floor(
            (F.row_number().over(Window.orderBy("ts", "event_id")) - 1) * 3 / F.lit(n)
        ),
    )
    stage = tmp_path / "kmv_chunks"
    os.makedirs(stage)
    for i in range(3):
        part = chunked.filter(F.col("__chunk") == i).drop("__chunk").coalesce(1)
        tmp_out = str(tmp_path / f"kw{i}")
        part.write.mode("overwrite").parquet(tmp_out)
        src = glob.glob(os.path.join(tmp_out, "part-*.parquet"))[0]
        os.rename(src, str(stage / f"batch-{i}.parquet"))
    sent = (
        ev.limit(1)
        .withColumn("ts", F.timestamp_seconds(F.lit(4102444800)))
        .withColumn("user_id", F.lit(-1).cast(ev.schema["user_id"].dataType))
        .coalesce(1)
    )
    tmp_out = str(tmp_path / "kwsent")
    sent.write.mode("overwrite").parquet(tmp_out)
    os.rename(
        glob.glob(os.path.join(tmp_out, "part-*.parquet"))[0],
        str(stage / "batch-3.parquet"),
    )
    for i, fname in enumerate(sorted(os.listdir(stage))):
        os.utime(str(stage / fname), (1_700_000_000 + i, 1_700_000_000 + i))

    def with_sketch_cols(df):
        return df.select(
            "ts",
            F.date_format("ts", "yyyy-MM-dd").alias("day"),
            F.conv(
                F.substring(F.md5(F.col("user_id").cast("string")), 1, 12), 16, 10
            )
            .cast("long")
            .alias("h"),
        )

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(stage))
    )
    table = f"t_kmv_{next(_ids)}"
    q = (
        kmv_daily_stateful(with_sketch_cols(stream), k=K)
        .filter("day < '2100-01-01'")
        .writeStream.format("memory")
        .queryName(table)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    streamed = {tuple(r) for r in spark.table(table).collect()}

    # Batch truth: distinct hashes per day, bottom-k, closed-form estimate.
    d = with_sketch_cols(ev).select("day", "h").distinct()
    w = Window.partitionBy("day").orderBy("h")
    r = d.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= K)
    batch = {
        tuple(row)
        for row in r.groupBy("day")
        .agg(F.count(F.lit(1)).alias("n_kept"), F.max("h").alias("max_h"))
        .select(
            "day",
            F.col("n_kept").cast("long"),
            F.when(F.col("n_kept") == K, F.col("max_h"))
            .cast("long")
            .alias("kth_hash"),
            F.when(F.col("n_kept") < K, F.col("n_kept"))
            .otherwise(F.expr(f"{(K - 1) * (1 << 48)}L div max_h"))
            .cast("long")
            .alias("kmv_estimate"),
        )
        .collect()
    }
    assert streamed == batch
    # Days split across chunk boundaries actually merged state.
    assert len(streamed) > 0


def test_stream_dedup_falls_back_without_rocksdb(spark, sf_dir, monkeypatch):
    """On a Spark build without the rocksdbjni bundle the dedup stream
    must run on the default state-store provider instead of failing
    (ADVICE r6) — and must not leave the session conf pointing at the
    unavailable provider."""
    from jhu_data_parser_spark.streaming import jobs

    monkeypatch.setattr(jobs, "_rocksdb_provider_available", lambda s: False)
    table = f"t_dedup_fallback_{next(_ids)}"
    deduped = jobs.run_dedup_stream(spark, sf_dir, table)
    assert deduped.select("event_id").distinct().count() == deduped.count()
    key = "spark.sql.streaming.stateStore.providerClass"
    assert "RocksDB" not in (spark.conf.get(key, "") or "")


def test_ivfpq_index_append_stream_segments(spark, sf_dir):
    """The streamed index-append job writes committed (_SUCCESS-gated)
    batch_id segments partitioned by cell and serves the standard
    top-10 from base ∪ appended (oracle parity proves the equivalence
    to a batch-encoded union; this pins the segment layout). The
    segment dirs come from the returned index frame's own input files,
    so dirs left by other calls or processes never count."""
    import glob
    import os
    import re
    from urllib.parse import urlparse

    from jhu_data_parser_spark.streaming import jobs

    index, coarse, books, emb = jobs._ivfpq_append_segments(spark, sf_dir)
    rows = jobs._ivfpq_serve_union(spark, index, coarse, books, emb).collect()
    assert len(rows) == 10
    seg_dirs = sorted(
        {
            re.sub(r"/cell=[^/]*/[^/]*$", "", urlparse(f).path)
            for f in index.inputFiles()
            if "/batch_id=" in f
        }
    )
    assert seg_dirs, "no appended segments written"
    for d in seg_dirs:
        assert os.path.exists(os.path.join(d, "_SUCCESS")), d
        assert glob.glob(os.path.join(d, "cell=*")), d


def test_gopher_stream_multibatch_equals_batch(spark, tmp_path):
    """The streaming Gopher report with REAL multi-batch merging
    (3 part files, maxFilesPerTrigger=1 → 3 micro-batches) must be
    row-identical to the batch report over the same corpus — the
    addition-mergeability claim, exercised where it can actually fail
    (single-file testdata runs one batch and proves nothing)."""
    from pyspark.sql import functions as F

    from jhu_data_parser_spark.plans.pipeline8 import _gopher_flags, _gopher_rollup
    from jhu_data_parser_spark.sources.tables import load_table
    from jhu_data_parser_spark.streaming.jobs import run_gopher_quality_stream

    src = load_table(spark, "/root/testdata/sf0.001", "documents")
    sf_dir = str(tmp_path / "sf")
    src.repartition(3).write.parquet(f"{sf_dir}/documents.parquet")

    got = run_gopher_quality_stream(spark, sf_dir, max_files_per_trigger=1)
    want = _gopher_rollup(_gopher_flags(spark.read.parquet(f"{sf_dir}/documents.parquet")))
    g = {tuple(r) for r in got.orderBy("lang").collect()}
    w = {tuple(r) for r in want.orderBy("lang").collect()}
    assert g == w and len(g) > 0


def test_ivfpq_compaction_reduces_segments_and_preserves_serve(spark):
    """Compaction must (a) collapse the per-micro-batch segment layout
    into one directory level per cell and (b) leave the served top-10
    row-identical to the LSM (base ∪ appends) serve."""
    import glob
    import os
    import tempfile

    from pyspark.sql import functions as F

    from jhu_data_parser_spark.streaming.jobs import (
        _ivfpq_append_segments,
        _ivfpq_serve_union,
    )

    sf = "/root/testdata/sf0.001"
    index, coarse, books, emb = _ivfpq_append_segments(spark, sf)
    lsm = _ivfpq_serve_union(spark, index, coarse, books, emb)

    compact_dir = tempfile.mkdtemp(prefix="jdps_test_compact_")
    index.write.mode("overwrite").partitionBy("cell").parquet(compact_dir)
    compacted = spark.read.parquet(compact_dir).select(
        *[F.col(c).cast("long").alias(c) for c in index.columns]
    )
    srv = _ivfpq_serve_union(spark, compacted, coarse, books, emb)

    a = [tuple(r) for r in lsm.orderBy(lsm.columns[0]).collect()]
    b = [tuple(r) for r in srv.orderBy(srv.columns[0]).collect()]
    assert a == b and len(a) > 0

    # segment accounting: the compacted layout has exactly one
    # partition level (cell=*), no batch_id level
    assert glob.glob(os.path.join(compact_dir, "cell=*"))
    assert not glob.glob(os.path.join(compact_dir, "batch_id=*"))


def test_lr_serve_stream_multibatch_equals_batch(spark, tmp_path):
    """Streaming classifier serving with REAL multi-batch merging
    (3 part files, maxFilesPerTrigger=1) must equal the batch report
    under the same frozen model — the sum/min/max mergeability claim
    exercised where it can fail."""
    from jhu_data_parser_spark.operators.text import lr_fit_artifacts
    from jhu_data_parser_spark.plans.pipeline13 import _LR_STEPS, lr_lang_report
    from jhu_data_parser_spark.sources.tables import load_table
    from jhu_data_parser_spark.streaming.jobs import run_quality_lr_serve_stream

    src = load_table(spark, "/root/testdata/sf0.001", "documents")
    sf_dir = str(tmp_path / "sf")
    src.repartition(3).write.parquet(f"{sf_dir}/documents.parquet")

    got = run_quality_lr_serve_stream(spark, sf_dir, max_files_per_trigger=1)
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    w, _s, mean1000, _n = lr_fit_artifacts(d, steps=_LR_STEPS)
    want = lr_lang_report(d, w, mean1000)
    g = {tuple(r) for r in got.collect()}
    wv = {tuple(r) for r in want.collect()}
    assert g == wv and len(g) > 0


def test_incremental_topology_sequence_with_crash_restart(spark, tmp_path):
    """The composed incremental topology (r10 verdict item 5): the
    three real streams run IN SEQUENCE in one session on a shared work
    root — crawl chunks through the frozen gates into packed batches,
    dialogue threading, then ANN index append — with a simulated crash
    in the middle: after the pack stream completes, its LAST batch's
    segment and state sinks are deleted (a crash between computing and
    committing batch N) and the stream re-runs over the same work dir.
    The restart must recompute ONLY the missing batch (earlier
    _SUCCESS sinks untouched, byte-identical results), and every
    stage's final artifact must hash-match its one-shot batch oracle —
    the micro-batch ≡ batch claim proven for the pipeline as a whole,
    not just each stream in isolation."""
    import shutil

    from jhu_data_parser_spark import plans
    from jhu_data_parser_spark.streaming.jobs import (
        run_dialog_threads_incremental_stream,
        run_pack_batches_incremental_stream,
    )
    from tests.conftest import SF_SMOKE
    from tests.oracle_compare import compare, duckdb_con

    con = duckdb_con(SF_SMOKE)
    work = str(tmp_path)

    # --- stage 1: gates -> packing ------------------------------------
    pack_wd = os.path.join(work, "pack")
    r1 = sorted(
        tuple(r)
        for r in run_pack_batches_incremental_stream(
            spark, SF_SMOKE, work_dir=pack_wd
        ).collect()
    )
    seg_root = os.path.join(pack_wd, "sinks")
    batch_ids = sorted(
        int(d.split("=")[1])
        for d in os.listdir(seg_root)
        if d.startswith("batch_id=") and int(d.split("=")[1]) >= 0
    )
    assert len(batch_ids) >= 2, "need multiple micro-batches to crash between"
    last = batch_ids[-1]
    # crash: batch `last` computed but never committed (segments and
    # state now commit atomically in one tag-partitioned dir)
    shutil.rmtree(os.path.join(seg_root, f"batch_id={last}"))
    first_success = os.path.join(seg_root, "batch_id=0", "_SUCCESS")
    mtime0 = os.path.getmtime(first_success)

    # restart over the same work dir: recomputes only the missing batch
    restarted = run_pack_batches_incremental_stream(
        spark, SF_SMOKE, work_dir=pack_wd
    )
    assert sorted(tuple(r) for r in restarted.collect()) == r1
    assert os.path.getmtime(first_success) == mtime0
    assert os.path.exists(
        os.path.join(seg_root, f"batch_id={last}", "_SUCCESS")
    )
    res = compare(
        restarted, con, plans.ORACLES["stream_pack_batches_incremental"]
    )
    assert res["values_match"], res

    # --- stage 2: dialogue threading on the same work root ------------
    dlg = run_dialog_threads_incremental_stream(
        spark, SF_SMOKE, work_dir=os.path.join(work, "dlg")
    )
    res = compare(
        dlg, con, plans.ORACLES["stream_dialog_threads_incremental"]
    )
    assert res["values_match"], res

    # --- stage 3: ANN index append serving ----------------------------
    idx = plans.QUERIES["stream_ivfpq_index_append"](spark, SF_SMOKE)
    res = compare(idx, con, plans.ORACLES["stream_ivfpq_index_append"])
    assert res["values_match"], res


def test_stream_state_partitions_adaptive(spark, sf_dir, tmp_path, monkeypatch):
    """The state-partition count is the backlog's estimated split
    count, clamped to [1, defaultParallelism]; the env override wins
    when valid and degrades to the rule when malformed."""
    from jhu_data_parser_spark.streaming.jobs import (
        _STATE_PARTITIONS_ENV,
        _input_split_count,
        stream_state_partitions,
    )

    monkeypatch.delenv(_STATE_PARTITIONS_ENV, raising=False)
    par = spark.sparkContext.defaultParallelism
    # A backlog with no data file yet estimates one split: one partition.
    empty = tmp_path / "empty"
    empty.mkdir()
    assert _input_split_count(spark, str(empty)) == 1
    assert stream_state_partitions(spark, str(empty)) == 1
    # A small single-file backlog gives its own split count.
    events = os.path.join(sf_dir, "events.parquet")
    splits = _input_split_count(spark, events)
    assert splits < par
    assert stream_state_partitions(spark, events) == splits
    # A many-file backlog scales the count up to defaultParallelism:
    # 64 staged copies charge openCostInBytes each.
    many = tmp_path / "many"
    many.mkdir()
    for i in range(64):
        os.symlink(events, many / f"ev_{i}.parquet")
    many_splits = _input_split_count(spark, str(many))
    assert many_splits > splits
    assert stream_state_partitions(spark, str(many)) == min(many_splits, par)
    # Valid env override wins in both directions.
    monkeypatch.setenv(_STATE_PARTITIONS_ENV, "3")
    assert stream_state_partitions(spark, str(many)) == 3
    monkeypatch.setenv(_STATE_PARTITIONS_ENV, "200")
    assert stream_state_partitions(spark, events) == 200
    # Malformed / non-positive degrade to the rule.
    for bad in ("zero", "", "0", "-4"):
        monkeypatch.setenv(_STATE_PARTITIONS_ENV, bad)
        assert stream_state_partitions(spark, events) == splits


def test_stream_results_invariant_to_state_partitions(spark, sf_dir, monkeypatch):
    """State partitioning is placement only: each stateful stream
    returns the same row multiset at one state partition and at
    defaultParallelism."""
    from jhu_data_parser_spark import plans
    from jhu_data_parser_spark.streaming.jobs import _STATE_PARTITIONS_ENV
    from tests.oracle_compare import _row_multiset

    par = spark.sparkContext.defaultParallelism
    for name in (
        "stream_dedup_watermark",
        "stream_availablenow_daily",
        "stream_stateful_sessions",
    ):
        got = []
        for n in (1, par):
            monkeypatch.setenv(_STATE_PARTITIONS_ENV, str(n))
            df = plans.QUERIES[name](spark, sf_dir)
            got.append(_row_multiset([tuple(r) for r in df.collect()], df.columns))
        assert got[0] == got[1], name
        assert sum(got[0].values()) > 0, name


def _stage_tiny_source(spark, stage_dir, n_files):
    """``n_files`` parquet files of four ``(id, key)`` rows each, with
    ascending mtimes, read one file per micro-batch."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(stage_dir)
    for k in range(n_files):
        ids = list(range(4 * k, 4 * k + 4))
        path = os.path.join(stage_dir, f"chunk_{k}.parquet")
        pq.write_table(
            pa.table({"id": ids, "key": [f"k{i % 2}" for i in ids]}), path
        )
        os.utime(path, (1_700_000_000 + k, 1_700_000_000 + k))
    stream = (
        spark.readStream.schema("id long, key string")
        .option("maxFilesPerTrigger", 1)
        .parquet(stage_dir)
    )
    return stream, stage_dir


def _plain_partials(bdf, batch_id, sink):
    return bdf.groupBy("key").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("id").cast("long").alias("s"),
    )


def _carried_partials(bdf, batch_id, sink):
    """Tagged partials with state carried from batch N−1: each batch's
    per-key count plus the running total it brings the key to."""
    prev = (
        sink()
        .filter((F.col("batch_id") == batch_id - 1) & (F.col("tag") == "state"))
        .select("key", F.col("total").alias("prev"))
    )
    seg = (
        bdf.groupBy("key")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .join(prev, "key", "full")
        .select(
            "key",
            F.coalesce("n", F.lit(0)).cast("long").alias("n"),
            (F.coalesce("n", F.lit(0)) + F.coalesce("prev", F.lit(0)))
            .cast("long")
            .alias("total"),
        )
    )
    return [("seg", seg.select("key", "n")), ("state", seg.select("key", "total"))]


_PARTIALS_LAYOUTS = {
    "plain": (_plain_partials, "key string, n long, s long", None),
    "tagged": (
        _carried_partials,
        "key string, n long, total long, tag string",
        ["tag"],
    ),
}


@pytest.mark.parametrize("crash", ["delete_last", "torn_last", "zero_batches"])
@pytest.mark.parametrize("layout", sorted(_PARTIALS_LAYOUTS))
def test_partials_stream_crash_restart(spark, tmp_path, layout, crash):
    """``run_partials_stream`` restarts exactly once per batch. After a
    crash that lost the last committed ``batch_id=N`` (deleted, or torn
    to a ``_temporary/`` leftover with no ``_SUCCESS``), a re-run over
    the same work dir with a fresh checkpoint recomputes only batch N:
    same rows, earlier ``_SUCCESS`` markers untouched. A run that sees
    no batch at all reads back a typed empty frame."""
    import shutil

    from jhu_data_parser_spark.streaming.jobs import run_partials_stream

    partials, ddl, partition_by = _PARTIALS_LAYOUTS[layout]
    n_files = 0 if crash == "zero_batches" else 3
    wd = str(tmp_path / "wd")
    sinks = os.path.join(wd, "sinks")

    def run(i):
        stream, stage = _stage_tiny_source(
            spark, str(tmp_path / f"stage{i}"), n_files
        )
        out = run_partials_stream(
            spark, stream, stage, partials, ddl, work_dir=wd,
            partition_by=partition_by,
        )
        assert not os.path.exists(stage)  # the runner removed its stage
        return out, sorted((tuple(r) for r in out.collect()), key=repr)

    first, rows = run(0)
    if crash == "zero_batches":
        assert rows == []
        assert first.schema.simpleString() == spark.createDataFrame(
            [], f"{ddl}, batch_id int"
        ).schema.simpleString()
        assert run(1)[1] == []
        return

    assert sorted(os.listdir(sinks)) == [f"batch_id={b}" for b in range(3)]
    markers = [os.path.join(sinks, f"batch_id={b}", "_SUCCESS") for b in range(3)]
    if layout == "plain":
        merged = first.groupBy("key").agg(F.sum("n"), F.sum("s"))
        assert sorted(tuple(r) for r in merged.collect()) == [
            ("k0", 6, 30),
            ("k1", 6, 36),
        ]
    else:
        final = first.filter("tag = 'state' AND batch_id = 2")
        assert {r.key: r.total for r in final.collect()} == {"k0": 6, "k1": 6}
    last = os.path.join(sinks, "batch_id=2")
    shutil.rmtree(last)
    if crash == "torn_last":
        os.makedirs(os.path.join(last, "_temporary", "0"))
        with open(os.path.join(last, "_temporary", "0", "part-0.parquet"), "w") as f:
            f.write("torn")
    mtimes = [os.path.getmtime(m) for m in markers[:2]]

    assert run(1)[1] == rows
    assert [os.path.getmtime(m) for m in markers[:2]] == mtimes
    assert os.path.exists(markers[2])
    assert not os.path.exists(os.path.join(last, "_temporary"))


def test_stream_runs_leave_no_stage_or_checkpoint_dirs(spark, sf_dir):
    """Three consecutive stream calls — a partials sink, a file sink
    with state and a sentinel-flushed memory sink — leave no
    checkpoint, stage or sentinel dir behind."""
    import tempfile

    from jhu_data_parser_spark import plans

    def scratch():
        return set(
            glob.glob(os.path.join(tempfile.gettempdir(), "*_ckpt_*"))
            + glob.glob(os.path.join(tempfile.gettempdir(), "jdps_stage_*"))
            + glob.glob(os.path.join(tempfile.gettempdir(), "jdps_sentinel_*"))
        )

    before = scratch()
    for name in (
        "stream_wilson_value_rate",
        "stream_dedup_watermark",
        "stream_stateful_sessions",
    ):
        assert plans.QUERIES[name](spark, sf_dir).count() > 0, name
    assert scratch() - before == set()
