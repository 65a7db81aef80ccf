"""Time every catalog query at a given SF dir (noop sink, min-of-N).

Usage: python scripts/time_catalog.py [sf_dir] [runs=1] [only=name1,name2]
Prints one line per query sorted slowest-first; used for the PLANS.md
timing passes ("no catalog query > 10 s at sf0.1" gate).
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from jhu_data_parser_spark import plans  # noqa: E402
from jhu_data_parser_spark.session import get_spark  # noqa: E402


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    runs = int(sys.argv[2]) if len(sys.argv) > 2 else 1
    only = set(sys.argv[3].split(",")) if len(sys.argv) > 3 else None
    spark = get_spark(app_name="jdps-time-catalog")
    spark.sparkContext.setLogLevel("ERROR")
    timings: dict[str, float] = {}
    for name, fn in plans.QUERIES.items():
        if only and name not in only:
            continue
        best = float("inf")
        try:
            for _ in range(runs):
                t0 = time.perf_counter()
                fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
                best = min(best, time.perf_counter() - t0)
            timings[name] = best
        except Exception as exc:  # noqa: BLE001
            print(f"ERROR {name}: {exc}", flush=True)
        # Long single-session catalog marathons accumulate lazily-
        # checkpointed blocks whose JVM RDDs are only released when the
        # PYTHON wrappers are collected — after ~100 heavy queries at
        # the 100× layout the block manager bloat OOM'd the JVM. Drop
        # the py4j references eagerly so ContextCleaner can unpersist.
        import gc

        gc.collect()
    for name, t in sorted(timings.items(), key=lambda kv: -kv[1]):
        print(f"{t:8.2f}s  {name}", flush=True)
    worst = max(timings.values(), default=0.0)
    print(f"TOTAL {sum(timings.values()):.1f}s over {len(timings)} queries; worst {worst:.2f}s")
    return 0 if worst <= 10.0 else 1


if __name__ == "__main__":
    raise SystemExit(main())
