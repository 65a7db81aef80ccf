"""Outside-in benchmark of the jhu_data_parser_spark engine.

    python3 perfbench/run.py --workload etl_lake --seed 1 --seconds 20 --trace 0

Run from the root of a checkout of the repository. One process, one
SparkSession at ``local[<cpus>]``, one client issuing operations back to
back (a closed loop with one client). The run sets up the engine, stages
the workload's inputs (untimed), runs a first pass in the fresh session,
then steady passes until ``--seconds`` of operation time are measured
(at least ``MIN_STEADY``), checks the output of every operation of the
first ``CHECKED_PASSES`` passes outside the timed region, and prints one
JSON object as the last line of standard output. Each operation is timed
in wall seconds and in CPU seconds of the driver process, the JVM and the
Python workers; the gated pass metrics are the CPU ones, since on a
shared host wall time stretches with other guests' load and CPU time
does not.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` reports the
per-layer metrics of a traced run, whose four steady passes run
traced, untraced, untraced, traced so that the tracing overhead is
measured in the same run. Spans and stream progress go to ``.perfbench/trace-<workload>.json``.

All scratch (staged inputs, written lakes, the engine's temp dirs,
Spark's local dirs) lives under ``.perfbench/run-<pid>/`` in the
checkout and is removed before exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import proc  # noqa: E402

WORK_ROOT = os.path.join(ROOT, ".perfbench")
MIN_STEADY = 3
# Outputs are checked in the cold pass and the first steady pass: a check
# re-executes the operation's plan, which would add a fifth to every pass.
CHECKED_PASSES = 2
TRACED_ORDER = (True, False, False, True)  # steady passes of a traced run
PASS_DEADLINE_S = 120.0  # no new pass starts after this much process age
TAIL_BEYOND = 10


def _work_dirs(pid: int) -> dict[str, str]:
    base = os.path.join(WORK_ROOT, f"run-{pid}")
    dirs = {k: os.path.join(base, k) for k in ("tmp", "spark-local", "jvm-tmp", "warehouse", "stage")}
    dirs["base"] = base
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    return dirs


def _remove_stale_work() -> None:
    if not os.path.isdir(WORK_ROOT):
        return
    for name in os.listdir(WORK_ROOT):
        if name.startswith("run-") and not os.path.exists(f"/proc/{name[4:]}"):
            shutil.rmtree(os.path.join(WORK_ROOT, name), ignore_errors=True)


def start_engine(dirs: dict[str, str]):
    """Set-up as a user pays it: SparkSession up, catalog imported.
    Returns ``(spark, seconds for get_spark, seconds for the import)``."""
    import tempfile

    os.environ["TMPDIR"] = dirs["tmp"]
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = dirs["spark-local"]
    # no hsperfdata file under /tmp from spark-submit's launcher JVM either
    os.environ["SPARK_LAUNCHER_OPTS"] = " ".join(
        filter(None, [os.environ.get("SPARK_LAUNCHER_OPTS"), "-XX:-UsePerfData"])
    )
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    cpus = len(os.sched_getaffinity(0))

    t0 = time.perf_counter()
    from jhu_data_parser_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cpus}]",
        extra_conf={
            # no hsperfdata file under /tmp: the run writes only in the checkout
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={dirs['jvm-tmp']} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": dirs["warehouse"],
            "spark.ui.showConsoleProgress": "false",
            # sized to the benchmark's small inputs: with the engine's 8g
            # default the JVM grew to 4.7 GB RSS on a shared host
            "spark.driver.memory": "2g",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.perf_counter()
    from jhu_data_parser_spark import plans  # noqa: F401

    return spark, t1 - t0, time.perf_counter() - t1


def stop_engine(spark) -> None:
    """Stop the session and the JVM it launched, and wait until every
    process this one started has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()  # the JVM exits when its stdin closes
    gateway.proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while proc.descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.1)


def _tail(values: list[float]) -> tuple[float, float, int]:
    """The highest percentile with at least TAIL_BEYOND samples beyond
    it (the smallest value when there are fewer samples):
    ``(value, percentile, samples beyond it)``."""
    s = sorted(values)
    k = max(0, len(s) - TAIL_BEYOND - 1)
    return s[k], 100.0 * (k + 1) / len(s), len(s) - k - 1


class Runner:
    def __init__(self, spark, workload, dirs, tracer=None):
        self.spark = spark
        self.workload = workload
        self.dirs = dirs
        self.tracer = tracer
        self.tracer_on = False
        self.spark_cores = spark.sparkContext.defaultParallelism
        self.records: list[dict] = []
        self.rss_kb: dict[int, int] = {}

    def _span(self, name):
        return self.tracer.span(name) if self.tracer_on else nullcontext()

    def run_pass(self, pass_no: int, traced: bool) -> tuple[float, float]:
        """One pass: ``(summed operation wall seconds, engine CPU seconds
        from the first operation's start to the last one's end)``. The
        CPU window spans the whole pass, so the JIT compilation and GC an
        operation sets off count even when they run on after it returns.
        Outputs are checked after the window."""
        self.tracer_on = traced
        tmp_before = set(os.listdir(self.dirs["tmp"]))
        ops = self.workload.ops(pass_no)
        if traced:
            self.tracer.attach()
        done = []
        cpu0 = proc.tree_cpu_s(os.getpid())
        try:
            for op in ops:
                done.append((op, *self._run_op(pass_no, op, traced)))
        finally:
            cpu = proc.tree_cpu_s(os.getpid()) - cpu0
            if traced:
                self.tracer.detach()
        for op, rec, df in done:
            if rec["ok"] and pass_no < CHECKED_PASSES:
                try:
                    op.check(df)
                except Exception:
                    rec["ok"] = False
                    rec["error"] = traceback.format_exc(limit=3)
            if not rec["ok"]:
                print(f"FAILED {rec['op_id']}: {rec['error']}", file=sys.stderr)
        self.workload.end_pass(pass_no)
        for name in set(os.listdir(self.dirs["tmp"])) - tmp_before:
            path = os.path.join(self.dirs["tmp"], name)
            if os.path.isdir(path) and not os.path.islink(path):
                shutil.rmtree(path, ignore_errors=True)
            else:
                os.remove(path)
        return sum(rec["wall_s"] for _, rec, _ in done), cpu

    def _run_op(self, pass_no: int, op, traced: bool):
        op_id = f"p{pass_no}-{op.name}"
        rec = {"op_id": op_id, "pass": pass_no, "name": op.name, "traced": traced,
               "family_first": op.family_first, "build_s": 0.0, "exec_s": 0.0, "ok": True}
        before = self.tracer.begin_op(op_id, op.name) if traced else None
        df = None
        cpu0 = proc.tree_cpu_s(os.getpid())
        t0 = time.perf_counter()
        try:
            with self._span("op"):
                with self._span("op.build"):
                    df = op.call()
                t1 = time.perf_counter()
                rec["build_s"] = t1 - t0
                if op.materialize:
                    with self._span("op.exec"):
                        df.write.format("noop").mode("overwrite").save()
                    rec["exec_s"] = time.perf_counter() - t1
        except Exception:  # an operation that raises is counted and the run continues
            rec["ok"] = False
            rec["error"] = traceback.format_exc(limit=3)
        rec["wall_s"] = time.perf_counter() - t0
        rec["cpu_s"] = proc.tree_cpu_s(os.getpid()) - cpu0
        if traced:
            rec["counts"] = self.tracer.end_op(before, df if rec["ok"] else None)
        self.records.append(rec)
        pids = [os.getpid()] + [pid for pid, _ in proc.descendants(os.getpid())]
        for pid, kb in proc.peak_rss_kb(pids).items():
            self.rss_kb[pid] = max(self.rss_kb.get(pid, 0), kb)
        return rec, df


def _median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=20.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "jhu_data_parser_spark")):
        print(f"engine package not found under {ROOT}", file=sys.stderr)
        return 2
    import workloads

    if args.workload not in workloads.WORKLOADS:
        ap.error(f"--workload must be one of {sorted(workloads.WORKLOADS)}")
    dirs = _work_dirs(os.getpid())
    try:
        return _run(args, workloads, dirs)
    finally:
        shutil.rmtree(dirs["base"], ignore_errors=True)


def _run(args, workloads, dirs) -> int:
    import checks

    steal0 = proc.cpu_steal_ticks()
    spark, session_s, import_s = start_engine(dirs)
    setup_main = proc.seconds_since_start()

    _remove_stale_work()
    tables_dir = os.path.join(dirs["stage"], "tables")
    shutil.copytree(checks.TABLES, tables_dir)
    workload = workloads.WORKLOADS[args.workload](spark, dirs["stage"], tables_dir, args.seed)
    workload.prepare()

    tracer = None
    if args.trace:
        from tracer import Tracer

        tracer = Tracer(spark, dirs["tmp"])
        workload.paired_passes = True
    runner = Runner(spark, workload, dirs, tracer)

    first, first_cpu = runner.run_pass(0, traced=bool(tracer))
    steady: list[tuple[float, bool]] = []
    steady_cpu: list[float] = []
    if tracer:
        # traced, untraced, untraced, traced: the session's warm-up drift
        # over the four passes cancels out of the tracing overhead
        for traced in TRACED_ORDER:
            steady.append((runner.run_pass(len(steady) + 1, traced)[0], traced))
    else:
        # --seconds counts measured operation time, not staging and checks
        while len(steady) < MIN_STEADY or (
            sum(w for w, _ in steady) < args.seconds and proc.seconds_since_start() < PASS_DEADLINE_S
        ):
            wall, cpu = runner.run_pass(len(steady) + 1, False)
            steady.append((wall, False))
            steady_cpu.append(cpu)
    stop_engine(spark)
    steal = [b - a for a, b in zip(steal0, proc.cpu_steal_ticks())]

    recs = runner.records
    failed = sum(not r["ok"] for r in recs)
    op_walls = [r["wall_s"] for r in recs if r["pass"] > 0 and not r["traced"]]
    tail, pct, beyond = _tail(op_walls)

    print(f"workload {args.workload} seed {args.seed}: {len(steady) + 1} passes, "
          f"{len(recs)} operations, {failed} failed (failed_op_ratio {failed}/{len(recs)})")
    print(f"op_p50_s {_median(op_walls):.6g} s: median of {len(op_walls)} steady operation latencies "
          "(printed, not gated: it falls between a cheap and a dear operation kind)")
    print(f"op_tail_s {tail:.6g} s: p{pct:.1f} of {len(op_walls)} steady operation latencies, "
          f"{beyond} beyond it (printed, not gated: too few samples per run)")
    print(f"peak_rss_mb {sum(runner.rss_kb.values()) / 1024.0:.6g} MB: driver, JVM and Python "
          "workers (printed, not gated: it follows G1's heap growth)")
    print(f"host steal {steal[0] / max(1, steal[1]):.1%} of CPU time during the run (printed, not gated: "
          "time the hypervisor gave other guests; runs above a few percent ran on a contended host)")
    if hasattr(workload, "lake_bytes"):
        print(f"lake_bytes_per_input_byte = {workload.lake_bytes[0]} / {workload.input_bytes}")
    for r in recs:
        print(f"  {r['op_id']:<48} build {r['build_s']:8.3f}s exec {r['exec_s']:7.3f}s cpu {r['cpu_s']:7.2f}s"
              f"{'' if r['ok'] else '  FAILED'}{'  traced' if r['traced'] else ''}")

    print("engine CPU seconds per pass: " + " ".join(f"{c:.2f}" for c in [first_cpu] + steady_cpu))
    print(f"first_pass_s {first:.6g} s: wall time of the cold pass (printed, not gated: wall time "
          "stretches with host load; first_pass_cpu_s is gated)")
    print(f"pass_s {_median([w for w, _ in steady]):.6g} s: median wall time of {len(steady)} steady passes "
          "(printed, not gated: wall time stretches with host load; pass_cpu_s is gated)")
    if not tracer:
        metrics = {
            "setup_s": (setup_main, "s"),
            "first_pass_cpu_s": (first_cpu, "s"),
            # the mean, not the median: JIT work lands in one pass or another
            "pass_cpu_s": (statistics.mean(steady_cpu), "s"),
        }
    else:
        metrics = _layer_metrics(args, runner, workload, steady, session_s, import_s)
    for name, (value, unit) in metrics.items():
        print(f"{name:<32} {value:.6g} {unit}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(recs),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


# Per-layer metrics of a traced run, with their units, in report order.
LAYER_METRICS = [
    ("session.start_s", "s"), ("plans.import_s", "s"),
    ("plans.build_s", "s"), ("plans.exec_s", "s"),
    ("plans.family_first_build_s", "s"), ("plans.family_reuse_build_s", "s"),
    ("catalyst.analysis_ms", "ms"), ("catalyst.optimization_ms", "ms"), ("catalyst.planning_ms", "ms"),
    ("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
    ("executor.run_s", "s"), ("executor.cpu_s", "s"), ("executor.busy_ratio", "ratio"),
    ("shuffle.read_mb", "MB"), ("shuffle.write_mb", "MB"),
    ("pyworker.cpu_s", "s"), ("driver.cpu_s", "s"),
    ("jvm.gc_s", "s"), ("jvm.heap_peak_mb", "MB"),
    ("sources.load_s", "s"), ("reshape.build_s", "s"),
    ("sink.write_s", "s"), ("sink.bytes", "bytes"), ("sink.files", "count"),
    ("lake_bytes_per_input_byte", "ratio"),
    ("stream.batches", "count"), ("stream.trigger_ms", "ms"), ("stream.add_batch_ms", "ms"),
    ("stream.wal_commit_ms", "ms"), ("stream.query_planning_ms", "ms"), ("stream.batch_gap_ms", "ms"),
    ("tmp.bytes_left", "bytes"),
    ("tracing.overhead_s", "s"), ("failed_op_ratio", "ratio"),
]


def _layer_metrics(args, runner, workload, steady, session_s, import_s):
    """Per-layer metrics: per-pass totals (medians over the traced
    steady passes), except where a name says otherwise."""
    tracer = runner.tracer
    traced_passes = sorted({r["pass"] for r in runner.records if r["traced"] and r["pass"] > 0})
    per_pass: dict[str, list[float]] = {}
    gaps: list[float] = []
    heap_peak = 0.0
    for p in traced_passes:
        recs = [r for r in runner.records if r["pass"] == p]
        ids = {r["op_id"] for r in recs}
        sums: dict[str, float] = {"plans.build_s": sum(r["build_s"] for r in recs),
                                  "plans.exec_s": sum(r["exec_s"] for r in recs)}
        for r in recs:
            for k, v in r["counts"].items():
                if k == "stream.gaps_ms":
                    gaps.extend(v)
                elif k == "jvm.heap_peak_mb":
                    heap_peak = max(heap_peak, v)
                else:
                    sums[k] = sums.get(k, 0.0) + v
        layers = tracer.layer_seconds(ids)
        for layer in ("sources.load", "reshape.build", "sink.write"):
            sums[f"{layer}_s"] = layers.get(layer, 0.0)
        wall = sum(r["wall_s"] for r in recs)
        sums["executor.busy_ratio"] = sums["executor.run_s"] / (wall * runner.spark_cores) if wall else 0.0
        for k, v in sums.items():
            per_pass.setdefault(k, []).append(v)
    med = {k: _median(v) for k, v in per_pass.items()}

    traced_recs = [r for r in runner.records if r["traced"] and r["pass"] > 0]
    first_builds = [r["build_s"] for r in traced_recs if r["family_first"] is True]
    reuse_builds = [r["build_s"] for r in traced_recs if r["family_first"] is False]
    untraced = [w for w, t in steady if not t]
    traced = [w for w, t in steady if t]
    attempted = len(runner.records)
    failed = sum(not r["ok"] for r in runner.records)
    lake = workload.lake_bytes[0] / workload.input_bytes if hasattr(workload, "lake_bytes") else 0.0

    tracer.dump(os.path.join(WORK_ROOT, f"trace-{args.workload}.json"), {
        "workload": args.workload, "seed": args.seed, "records": runner.records,
    })
    print("per-operation build/exec (s), traced steady passes:")
    for r in traced_recs:
        print(f"  op.{r['name']}.build_s {r['build_s']:.4f}  op.{r['name']}.exec_s {r['exec_s']:.4f}")
    print("self time per layer over the run (s): "
          + ", ".join(f"{k} {v:.3f}" for k, v in sorted(tracer.self_seconds().items())))

    values = dict(med)
    values.update({
        "session.start_s": session_s,
        "plans.import_s": import_s,
        "plans.family_first_build_s": _median(first_builds),
        "plans.family_reuse_build_s": _median(reuse_builds),
        "jvm.heap_peak_mb": heap_peak,
        "stream.batch_gap_ms": _median(gaps),
        "tracing.overhead_s": _median(traced) - _median(untraced),
        "lake_bytes_per_input_byte": lake,
        "failed_op_ratio": failed / attempted,
    })
    out = {name: (values.get(name, 0.0), unit) for name, unit in LAYER_METRICS}
    return out


if __name__ == "__main__":
    sys.exit(main())
