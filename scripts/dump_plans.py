#!/usr/bin/env python
"""Dump .explain('formatted') for the named queries to plans/r15/.

Usage: python scripts/dump_plans.py suffix name1,name2 [sf_dir]; out dir via $JDPS_PLANS_DIR (default plans/r15)
Writes <out>/<name>_<suffix>.txt for each query.
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from jhu_data_parser_spark import plans  # noqa: E402
from jhu_data_parser_spark.session import get_spark  # noqa: E402


def main() -> None:
    suffix = sys.argv[1]
    names = sys.argv[2].split(",")
    sf_dir = sys.argv[3] if len(sys.argv) > 3 else "/root/testdata/sf0.1"
    spark = get_spark(app_name="jdps-dump-plans")
    spark.sparkContext.setLogLevel("ERROR")
    out_dir = os.environ.get("JDPS_PLANS_DIR", os.path.join(ROOT, "plans", "r15"))
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        df = plans.QUERIES[name](spark, sf_dir)
        txt = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        with open(os.path.join(out_dir, f"{name}_{suffix}.txt"), "w") as fh:
            fh.write(txt)
        print(f"wrote {name}_{suffix}.txt", flush=True)


if __name__ == "__main__":
    main()
