#!/usr/bin/env python
"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line: {"metric", "value", "unit", "queries", "sf"}.

Each query is materialized with the noop sink (full execution, no
driver-side collect — measuring the engine, not result transfer).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from jhu_data_parser_spark import plans
from jhu_data_parser_spark.session import get_spark

# Headline set: one per operator family — star join+agg, grouped agg,
# top-k join, window, time windows, dedup (exact + MinHash near-dup),
# vector top-k (exact + IVF), rolling-hash fingerprints, unpivot,
# bucketed range join.
LEGACY12 = [
    "join_revenue_by_nation",
    "agg_pricing_summary",
    "join_shipping_priority_top10",
    "window_rank_top_customers",
    "stream_tumbling_daily",
    "dedup_exact_groups",
    "dedup_near_pairs",
    "sim_cosine_topk",
    "sim_cosine_topk_ivf",
    "text_rolling_fingerprints",
    "unpivot_lineitem_metrics",
    "join_range_followup_events",
]

# Flagship capabilities added since r1 (r9 verdict item 4): the full
# curation funnel's packed-batch deliverable + its yield table, batch
# IVF-PQ ANN serving, and (r13) the Delta-lite file-pruned MERGE
# upsert — the lakehouse DML headline. Reported alongside the legacy
# set; the JSON carries value_legacy12 so round-over-round totals
# stay comparable across set changes.
FLAGSHIP = [
    "pipeline_pack_batches",
    "pipeline_curation_funnel_v3",
    "sim_cosine_topk_ivfpq_multi",
    "source_delta_merge_upsert",
]

HEADLINE = LEGACY12 + FLAGSHIP


def materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    # 1-min loadavg BEFORE any Spark work: this reads EXTERNAL
    # contention (the bench's own 32-thread burst would dominate a
    # reading taken at emit time). Self-defense (r13 verdict item 5:
    # BENCH_r13.json went into the record at load1 13.13 and every
    # apparent regression was machine load): if the machine is busy,
    # wait briefly for it to drain — and if it never does, proceed but
    # stamp the artifact "contended": true so no reader mistakes a
    # loaded-machine reading for an engine regression.
    threshold = float(os.environ.get("SPARK_GRAFT_LOAD1_MAX", "2.0"))
    load1_start = round(os.getloadavg()[0], 2)
    waited = 0.0
    while load1_start > threshold and waited < 120.0:
        time.sleep(20.0)
        waited += 20.0
        load1_start = round(os.getloadavg()[0], 2)
    contended = load1_start > threshold
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark(app_name="jdps-bench")
    spark.sparkContext.setLogLevel("ERROR")

    queries = plans.get_queries()

    # Warm-up: run every headline plan once at the smallest SF. This JITs
    # whole-stage codegen for the exact plan shapes, warms the parquet
    # footer cache and broadcast machinery — so the timed section below
    # measures steady-state engine throughput, not JVM cold start.
    warm_dir = "/root/testdata/sf0.001"
    if not os.path.isdir(warm_dir):
        warm_dir = sf_dir
    for name in HEADLINE:
        materialize(queries[name](spark, warm_dir))
    # Cold-cache funnel samples (r12 verdict item 5): the two funnel
    # flagships serve steady state from the artifact cache
    # (jhu_data_parser_spark/cache.py), so min-of-N alone no longer
    # measures the funnel BUILD. Take one timed sample per flagship with
    # every kind cleared, loaded tables included (sf0.001 warm-up above already JIT-warmed the plan shapes, so
    # this reads build cost, not JVM cold start) and report it as
    # "cold" so the build cost stays machine-readable round-over-round.
    from jhu_data_parser_spark import cache

    cold: dict[str, float] = {}
    for name in ("pipeline_curation_funnel_v3", "pipeline_pack_batches"):
        cache.clear()
        t0 = time.perf_counter()
        materialize(queries[name](spark, sf_dir))
        cold[name] = round(time.perf_counter() - t0, 3)
    # One untimed round at the TARGET sf: the sf0.001 warm-up misses
    # sf-keyed caches (adaptive-collapse probe, IVF index registry) and
    # the target files' footer cache, which otherwise land entirely on
    # the first timed round and dominate the per-query spread. Its
    # per-query wall-clock doubles as the PROBE that sizes the sample
    # count below.
    probe: dict[str, float] = {}
    for name in HEADLINE:
        t0 = time.perf_counter()
        materialize(queries[name](spark, sf_dir))
        probe[name] = time.perf_counter() - t0

    # Raise the bench process priority: scheduler preemption by
    # co-tenant processes is a measured source of per-query spread
    # (r6: 27-78% min-to-max). Best-effort — ignored without privilege.
    try:
        os.nice(-10)
    except OSError:
        pass

    # Per-query minimum over N runs: single-shot local timings carry
    # 2-3× noise from Python-worker reuse and GC; the min is the
    # steady-state engine throughput the warm-up is there to expose.
    # Rounds are INTERLEAVED (run the whole headline list N times, not
    # each query N times back-to-back): a co-tenant CPU burst then
    # poisons at most one round of each query instead of every repeat
    # of whichever query it landed on.
    runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "5"))
    # Sample counts are sized per query (and reported per query — the
    # min/median of different queries are NOT computed over the same n):
    # sub-second queries get min-of-9 (their absolute jitter band is a
    # large fraction of the reading, r6 verdict), and the widest-band
    # pair-producing dedup line gets +2 rounds.
    rounds = {
        name: (max(runs, 9) if probe[name] < 1.0 else runs) for name in HEADLINE
    }
    rounds["dedup_near_pairs"] += 2
    # r13 verdict item 5: join_shipping_priority_top10 drifted two
    # rounds quiet-to-quiet with untouched code — pin it at min-of-15
    # so the drift verdict settles on samples, not machine luck.
    rounds["join_shipping_priority_top10"] = max(
        rounds["join_shipping_priority_top10"], 15
    )
    samples: dict[str, list[float]] = {name: [] for name in HEADLINE}

    def run_round(r: int) -> None:
        for name in HEADLINE:
            if r >= rounds[name]:
                continue
            t0 = time.perf_counter()
            materialize(queries[name](spark, sf_dir))
            samples[name].append(time.perf_counter() - t0)

    for r in range(max(rounds.values())):
        run_round(r)
    # Convergence escalation: a query whose median sits >20% above its
    # min was visibly disturbed mid-run — give every such query up to 6
    # more interleaved rounds so the reported pair (min, median) is a
    # claim about the steady state, not about one co-tenant burst. The
    # sub-0.15 s lines bottom out at ~20-30 ms of absolute jitter
    # (Python-worker reuse + GC), so the cap keeps an irreducibly
    # jittery line from looping forever.
    def med(s: list) -> float:
        return sorted(s)[len(s) // 2]

    for _ in range(6):
        noisy = [n for n in HEADLINE if med(samples[n]) > 1.20 * min(samples[n])]
        if not noisy:
            break
        for name in noisy:
            rounds[name] += 1
            t0 = time.perf_counter()
            materialize(queries[name](spark, sf_dir))
            samples[name].append(time.perf_counter() - t0)
    timings = {name: round(min(s), 3) for name, s in samples.items()}
    medians = {name: round(med(s), 3) for name, s in samples.items()}
    n_samples = {name: len(s) for name, s in samples.items()}
    # median-over-min ratio per query: the honest detectability figure —
    # a regression smaller than this band is invisible in one report.
    spread = {
        name: round(med(s) / min(s) - 1.0, 3) for name, s in samples.items()
    }

    # run_id stamps BOTH artifacts from this invocation: the r8 record
    # showed a BENCH json and a samples file with per-query counts that
    # could not have come from one run (the driver invokes bench.py
    # more than once) — correlating by run_id makes any such mismatch
    # self-explaining instead of looking like an aggregation bug.
    run_id = f"{os.getpid()}-{time.monotonic_ns()}"
    sample_path = os.environ.get("SPARK_GRAFT_BENCH_SAMPLES")
    if sample_path:
        with open(sample_path, "w") as fh:
            json.dump(
                {
                    "run_id": run_id,
                    "n_samples": n_samples,
                    "medians": medians,
                    "spread": spread,
                    "samples": {
                        n: [round(x, 3) for x in s] for n, s in samples.items()
                    },
                },
                fh,
            )

    total = round(sum(timings.values()), 3)
    legacy_total = round(sum(timings[n] for n in LEGACY12), 3)
    # The driver captures only the tail of stdout (≈2000 chars) and
    # parses the LAST json-looking line. r10's single detailed line grew
    # past that window and was head-truncated (BENCH_r10.json
    # parsed:null), so emission is now two lines: the full detail first
    # (for humans / logs), then a compact summary line LAST that stays
    # well under the capture window. medians/spread/n_samples live in
    # the run_id-correlated samples file, not the summary line.
    detail = {
        "metric": "headline_queries_total_sec",
        "value": total,
        "value_legacy12": legacy_total,
        "unit": "sec",
        "n": runs,
        "run_id": run_id,
        "load1": load1_start,
        "contended": contended,
        "cold": cold,
        "n_samples": n_samples,
        "queries": timings,
        "medians": medians,
        "spread": spread,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }
    print(json.dumps(detail))
    # load1 makes a contended run machine-readable: r11's 5.551 s
    # legacy-12 was pure machine load (quiet-band A/B 4.15-4.44 s) but
    # the summary line carried no way to tell — now any reader of
    # BENCH_r{N}.json can see the 1-min loadavg the run started under.
    compact = {
        "metric": "headline_queries_total_sec",
        "value": total,
        "value_legacy12": legacy_total,
        "unit": "sec",
        "run_id": run_id,
        "load1": load1_start,
        "contended": contended,
        "cold": cold,
        "n_samples": n_samples,
        "queries": timings,
        "sf": detail["sf"],
    }
    line = json.dumps(compact)
    if len(line) > 1500:  # never regress into the truncation failure mode
        # shrink deterministically (coarser rounding) before dropping
        # the field outright, so the per-query map degrades gracefully
        compact["queries"] = {n: round(v, 2) for n, v in timings.items()}
        line = json.dumps(compact)
        if len(line) > 1500:
            compact.pop("queries")
            line = json.dumps(compact)
    print(line)


if __name__ == "__main__":
    main()
