#!/usr/bin/env python
"""Per-query cost breakdown: DataFrame construction (driver/py4j/plan
build) vs first noop execution (codegen + compute) vs second execution
(steady state). Usage: python scripts/breakdown.py name1,name2 [sf_dir]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from jhu_data_parser_spark import plans  # noqa: E402
from jhu_data_parser_spark.session import get_spark  # noqa: E402


def main() -> None:
    names = sys.argv[1].split(",")
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    spark = get_spark(app_name="jdps-breakdown")
    spark.sparkContext.setLogLevel("ERROR")
    print(f"{'query':45s} {'build':>7s} {'exec1':>7s} {'exec2':>7s} {'exec3':>7s}")
    for name in names:
        fn = plans.QUERIES[name]
        t0 = time.perf_counter()
        df = fn(spark, sf_dir)
        t1 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        t2 = time.perf_counter()
        times = []
        for _ in range(2):
            ta = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            times.append(time.perf_counter() - ta)
        print(
            f"{name:45s} {t1 - t0:7.2f} {t2 - t1:7.2f} "
            f"{times[0]:7.2f} {times[1]:7.2f}",
            flush=True,
        )


if __name__ == "__main__":
    main()
