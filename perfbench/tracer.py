"""Outside-in tracer for the benchmark's traced run.

Everything here reads the engine from the outside: spans are recorded
around the public calls the benchmark makes (and, for the ETL layers,
around the engine's own public functions, wrapped where they were
imported), and counters are read at operation boundaries from the
Spark status store, the JVM management beans, ``/proc`` and a
``StreamingQueryListener``. No engine source is touched.

Spans stay in memory and are written once, by ``Tracer.dump``, when the
run ends.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import resource
import sys
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError
from pyspark.sql.streaming import StreamingQueryListener

import proc

# (module, function) pairs wrapped during a traced pass, with the layer
# name their spans carry. Every module of the package that imported one
# of these by name gets the wrapper too.
WRAPPED = (
    ("jhu_data_parser_spark.sources.csv_source", "read_csv_dictreader", "sources.load"),
    ("jhu_data_parser_spark.sources.csv_source", "read_csv_with_file_order", "sources.load"),
    ("jhu_data_parser_spark.sources.tables", "load_table", "sources.load"),
    ("jhu_data_parser_spark.sources.lake", "register_lake_view", "sources.load"),
    ("jhu_data_parser_spark.operators.reshape", "wide_to_nested", "reshape.build"),
    ("jhu_data_parser_spark.operators.reshape", "zip_to_nested", "reshape.build"),
    ("jhu_data_parser_spark.sink", "write_partitioned_json", "sink.write"),
    ("jhu_data_parser_spark.sink", "write_flat_json", "sink.write"),
)


class _ProgressListener(StreamingQueryListener):
    """Collects every micro-batch progress, tagged with the operation
    that was running when the batch ended."""

    def __init__(self, tracer: "Tracer"):
        self._tracer = tracer
        self.events: list[dict] = []

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        start = dt.datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp()
        self.events.append({
            "op_id": self._tracer.op_id,
            "run_id": str(p.runId),
            "start_s": start,
            "duration_ms": dict(p.durationMs),
        })

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


class Tracer:
    def __init__(self, spark, tmp_dir: str):
        self.spark = spark
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._jvm = self.sc._jvm
        self._mf = self._jvm.java.lang.management.ManagementFactory
        self.tmp_dir = tmp_dir
        self.spans: list[dict] = []
        self._open: list[dict] = []
        self.op_id: str | None = None
        self._op_counts: dict[str, float] = {}
        self._originals: list[tuple[object, str, object]] = []
        self.listener = _ProgressListener(self)

    # -- spans -------------------------------------------------------------
    @contextmanager
    def span(self, name: str):
        if any(s["name"] == name for s in self._open):
            yield  # a layer re-entering itself is one span, not two
            return
        rec = {
            "name": name,
            "op_id": self.op_id,
            "parent": self._open[-1]["id"] if self._open else None,
            "id": len(self.spans),
            "start": time.perf_counter(),
        }
        self.spans.append(rec)
        self._open.append(rec)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._open.pop()

    def _wrap(self, fn, layer: str):
        tracer = self

        def wrapped(*args, **kwargs):
            with tracer.span(layer):
                out = fn(*args, **kwargs)
            if layer == "sink.write":
                files, size = proc.tree_size(args[1])
                tracer._op_counts["sink.files"] += files
                tracer._op_counts["sink.bytes"] += size
            return out

        wrapped.__wrapped__ = fn
        return wrapped

    def attach(self) -> None:
        """Hooks for a traced pass: the stream listener and the layer
        wrappers. Untraced passes run with none of them."""
        import importlib

        self.spark.streams.addListener(self.listener)
        for mod_name, fname, layer in WRAPPED:
            orig = getattr(importlib.import_module(mod_name), fname)
            wrapper = self._wrap(orig, layer)
            for name, mod in list(sys.modules.items()):
                if name.startswith("jhu_data_parser_spark") and getattr(mod, fname, None) is orig:
                    self._originals.append((mod, fname, orig))
                    setattr(mod, fname, wrapper)

    def detach(self) -> None:
        for mod, fname, orig in reversed(self._originals):
            setattr(mod, fname, orig)
        self._originals.clear()
        self._jsc.listenerBus().waitUntilEmpty()  # the pass's last progress events
        self.spark.streams.removeListener(self.listener)

    # -- operation boundaries ----------------------------------------------
    def _jvm_gc_ms(self) -> int:
        return sum(b.getCollectionTime() for b in self._mf.getGarbageCollectorMXBeans())

    def _heap_pools(self):
        return [p for p in self._mf.getMemoryPoolMXBeans() if p.getType().toString() == "Heap memory"]

    def begin_op(self, op_id: str, name: str) -> dict:
        self._jsc.listenerBus().waitUntilEmpty()  # earlier operations' late events
        self.op_id = op_id
        self.sc.setJobGroup(op_id, name)
        for pool in self._heap_pools():
            pool.resetPeakUsage()
        self._op_counts = {"sink.files": 0, "sink.bytes": 0}
        ru = resource.getrusage(resource.RUSAGE_SELF)
        return {
            "jobs": self._jsc.dagScheduler().numTotalJobs(),
            "gc_ms": self._jvm_gc_ms(),
            "driver_cpu": ru.ru_utime + ru.ru_stime,
            "worker_cpu": proc.python_worker_cpu_s(os.getpid()),
            "tmp_bytes": proc.tree_size(self.tmp_dir)[1],
            "n_events": len(self.listener.events),
        }

    def _stage_counts(self, first_job: int, last_job: int) -> dict[str, float]:
        tracker = self.sc.statusTracker()
        store = self._jsc.statusStore()
        out = {"spark.jobs": 0, "spark.stages": 0, "spark.tasks": 0, "executor.run_s": 0.0,
               "executor.cpu_s": 0.0, "shuffle.read_mb": 0.0, "shuffle.write_mb": 0.0}
        for jid in range(first_job, last_job):
            info = tracker.getJobInfo(jid)
            out["spark.jobs"] += 1
            if info is None:
                continue
            for sid in info.stageIds:
                try:
                    stage = store.lastStageAttempt(sid)
                except Py4JJavaError:  # never submitted, or evicted from the store
                    continue
                if stage.status().toString() == "SKIPPED":
                    continue
                out["spark.stages"] += 1
                out["spark.tasks"] += stage.numCompleteTasks()
                out["executor.run_s"] += stage.executorRunTime() / 1e3
                out["executor.cpu_s"] += stage.executorCpuTime() / 1e9
                out["shuffle.read_mb"] += stage.shuffleReadBytes() / 2**20
                out["shuffle.write_mb"] += stage.shuffleWriteBytes() / 2**20
        return out

    def _catalyst(self, df) -> dict[str, float]:
        out = {"catalyst.analysis_ms": 0.0, "catalyst.optimization_ms": 0.0, "catalyst.planning_ms": 0.0}
        if df is None:
            return out
        qe = df._jdf.queryExecution()
        qe.executedPlan()  # plans now, if the noop write planned its own copy
        phases = self._jvm.scala.jdk.javaapi.CollectionConverters.asJava(qe.tracker().phases())
        for key in phases.keySet():
            name = f"catalyst.{key}_ms"
            if name in out:
                out[name] = float(phases.get(key).durationMs())
        return out

    def _streams(self, first_event: int) -> dict[str, float]:
        events = self.listener.events[first_event:]
        out = {"stream.batches": len(events), "stream.trigger_ms": 0.0, "stream.add_batch_ms": 0.0,
               "stream.wal_commit_ms": 0.0, "stream.query_planning_ms": 0.0}
        keys = {"triggerExecution": "stream.trigger_ms", "addBatch": "stream.add_batch_ms",
                "walCommit": "stream.wal_commit_ms", "queryPlanning": "stream.query_planning_ms"}
        gaps = []
        by_run: dict[str, list[dict]] = {}
        for e in events:
            for k, name in keys.items():
                out[name] += e["duration_ms"].get(k, 0)
            by_run.setdefault(e["run_id"], []).append(e)
        for run in by_run.values():
            run.sort(key=lambda e: e["start_s"])
            for a, b in zip(run, run[1:]):
                end_a = a["start_s"] + a["duration_ms"].get("triggerExecution", 0) / 1e3
                gaps.append(max(0.0, (b["start_s"] - end_a) * 1e3))
        out["stream.gaps_ms"] = gaps
        return out

    def end_op(self, before: dict, df) -> dict[str, float]:
        """Counters for the operation that ``before`` opened. Reads the
        status store only after the listener bus has drained, so every
        micro-batch of the operation has been reported."""
        self._jsc.listenerBus().waitUntilEmpty()
        counts = self._stage_counts(before["jobs"], self._jsc.dagScheduler().numTotalJobs())
        counts.update(self._catalyst(df))
        counts.update(self._streams(before["n_events"]))
        ru = resource.getrusage(resource.RUSAGE_SELF)
        counts["driver.cpu_s"] = ru.ru_utime + ru.ru_stime - before["driver_cpu"]
        counts["pyworker.cpu_s"] = proc.python_worker_cpu_s(os.getpid()) - before["worker_cpu"]
        counts["jvm.gc_s"] = (self._jvm_gc_ms() - before["gc_ms"]) / 1e3
        counts["jvm.heap_peak_mb"] = sum(p.getPeakUsage().getUsed() for p in self._heap_pools()) / 2**20
        counts["tmp.bytes_left"] = proc.tree_size(self.tmp_dir)[1] - before["tmp_bytes"]
        counts.update(self._op_counts)
        self.sc.setJobGroup(None, None)
        self.op_id = None
        return counts

    # -- output ------------------------------------------------------------
    def layer_seconds(self, op_ids: set[str]) -> dict[str, float]:
        """Total duration per layer over the given operations' spans."""
        out: dict[str, float] = {}
        for s in self.spans:
            if s["op_id"] in op_ids and "end" in s:
                out[s["name"]] = out.get(s["name"], 0.0) + s["end"] - s["start"]
        return out

    def self_seconds(self) -> dict[str, float]:
        """Self time per layer: each span's duration minus the time its
        child spans cover (children of one span never overlap here)."""
        child: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None and "end" in s:
                child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            if "end" in s:
                out[s["name"]] = out.get(s["name"], 0.0) + s["end"] - s["start"] - child.get(s["id"], 0.0)
        return out

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, "stream_progress": self.listener.events,
                       "self_s": self.self_seconds(), **extra}, fh, default=str)

