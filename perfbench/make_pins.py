"""Regenerate ``pins.json``: the expected row count and value hash of
every catalog operation the benchmark runs, on the tables in
``data/sf0.01``.

    python3 perfbench/make_pins.py

Where the catalog has a DuckDB oracle for an operation, the pin is the
oracle's answer, and the engine's own answer must match it before the
pin is written. Otherwise the pin is the engine's answer, marked
``engine-run``; review such a pin before committing it.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402


def main() -> int:
    from tests.oracle_compare import duckdb_con

    dirs = run._work_dirs(os.getpid())
    try:
        spark, _, _ = run.start_engine(dirs)
        from jhu_data_parser_spark import plans

        tables_dir = os.path.join(dirs["stage"], "tables")
        shutil.copytree(checks.TABLES, tables_dir)
        con = duckdb_con(tables_dir)

        oracles = plans.get_oracles()
        pins, bad = {}, []
        for names in workloads.PINNED_OPS.values():
            for name in names:
                engine = checks.df_hash(plans.QUERIES[name](spark, tables_dir))
                if name in oracles:
                    rel = con.sql(oracles[name])
                    oracle = checks.rows_hash([tuple(r) for r in rel.fetchall()], list(rel.columns))
                    if oracle != engine:
                        bad.append(name)
                    pins[name] = {"rows": oracle[0], "hash": oracle[1], "source": "duckdb-oracle"}
                else:
                    pins[name] = {"rows": engine[0], "hash": engine[1], "source": "engine-run"}
                print(name, pins[name], "MISMATCH" if name in bad else "", flush=True)
        run.stop_engine(spark)
        if bad:
            print(f"engine disagrees with the oracle on {bad}; pins not written", file=sys.stderr)
            return 1
        with open(checks.PINS_PATH, "w") as fh:
            json.dump({"tables": os.path.relpath(checks.TABLES, HERE), "ops": pins}, fh, indent=1)
            fh.write("\n")
        return 0
    finally:
        shutil.rmtree(dirs["base"], ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
