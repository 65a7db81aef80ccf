"""Full-catalog oracle sweep at driver scale (sf0.01) — the same
comparison the driver runs for CORRECTNESS_r{N}.json, strict version.

Usage: python scripts/sweep_sf001.py [sf_dir] [name_substring ...]
Prints one line per query; exits nonzero on any failure. Optional
substring args restrict the sweep to matching query names.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession  # noqa: E402

from jhu_data_parser_spark import plans  # noqa: E402
from tests.oracle_compare import compare, duckdb_con  # noqa: E402


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    subs = sys.argv[2:]
    spark = (
        SparkSession.builder.master("local[16]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )
    con = duckdb_con(sf_dir)
    failures = []
    names = [
        n for n in sorted(plans.QUERIES) if not subs or any(s in n for s in subs)
    ]
    for name in names:
        t0 = time.time()
        try:
            df = plans.QUERIES[name](spark, sf_dir)
            if name in plans.ORACLES:
                r = compare(df, con, plans.ORACLES[name])
                ok = r["rows_match"] and r["cols_match"] and r["values_match"]
                status = "PASS" if ok else f"FAIL {r}"
            else:
                n = df.count()
                status = f"ROWS-ONLY n={n}"
                ok = n >= 0
        except Exception as exc:  # noqa: BLE001
            ok, status = False, f"ERROR {type(exc).__name__}: {exc}"
        dt = time.time() - t0
        print(f"{name:45s} {dt:6.2f}s  {status[:200]}", flush=True)
        if not ok:
            failures.append(name)
    print(f"\n{len(names)} queries, {len(failures)} failures: {failures}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
