"""Measure the lakehouse DML paths' scale posture (r13 verdict item 4).

The MERGE/DELETE/OPTIMIZE docstrings claim "write cost scales with the
update footprint, not the table" — this script turns that claim into
measured numbers at the 10×/100× multi-file layouts
(scripts/make_scale_layout.py): for each op, the table's total file
count vs the files the op actually removed+added, and wall-clock for
a FIXED-footprint update as the table grows 10×.

Usage:
  python scripts/measure_lakehouse_dml.py /tmp/jdps_sf1_full 10x
  python scripts/measure_lakehouse_dml.py /tmp/jdps_sf100 100x

Prints one JSON line per (format, op) with:
  rows, files_total, files_removed, files_added, seconds (min-of-2).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from jhu_data_parser_spark.session import get_spark  # noqa: E402
from jhu_data_parser_spark.sources.tables import load_table  # noqa: E402


def timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return out, time.perf_counter() - t0


def delta_probe(spark, base, label):
    from jhu_data_parser_spark.sources import delta_lite as dl

    results = []
    for op in ("merge", "delete", "optimize"):
        best = None
        keep = None
        for _rep in range(2):
            t = tempfile.mkdtemp(prefix=f"jdps_dmlprobe_{op}_")
            _, t_build = timed(
                lambda: dl.write_delta(
                    base.repartitionByRange(32, "k"), t, mode="overwrite"
                )
            )
            v0 = dl.latest_version(t)
            n_files = len(dl._replay(t, v0).active)
            if op == "merge":
                # fixed footprint: update ~1/1000 of keys + 100 inserts
                src = base.filter(F.col("k") % 1000 == 3).select(
                    "k", (F.col("cents") - 50).alias("cents")
                ).unionByName(
                    base.filter(F.col("k") % 150_000 == 1).select(
                        (F.col("k") + 10_000_000_000).alias("k"),
                        F.lit(42).cast("long").alias("cents"),
                    )
                )
                _, secs = timed(lambda: dl.merge_delta(spark, t, src, on=["k"]))
            elif op == "delete":
                lo = base.agg(F.min("k")).collect()[0][0]
                hi = lo + (base.agg(F.max("k")).collect()[0][0] - lo) // 32
                _, secs = timed(
                    lambda: dl.delete_delta(
                        spark,
                        t,
                        f"k >= {lo} AND k < {hi}",
                        skip=[("k", ">=", lo), ("k", "<", hi)],
                    )
                )
            else:
                _, secs = timed(
                    lambda: dl.optimize_delta(spark, t, target_files=8)
                )
            v1 = dl.latest_version(t)
            removed = added = 0
            with open(dl._log_path(t, v1)) as fh:
                for line in fh:
                    a = json.loads(line)
                    removed += "remove" in a
                    added += "add" in a
            if best is None or secs < best["seconds"]:
                best = {
                    "layout": label,
                    "format": "delta",
                    "op": op,
                    "rows": base.count(),
                    "files_total": n_files,
                    "files_removed": removed,
                    "files_added": added,
                    "build_seconds": round(t_build, 2),
                    "seconds": round(secs, 2),
                }
            if keep:
                shutil.rmtree(keep, ignore_errors=True)
            keep = t
        shutil.rmtree(keep, ignore_errors=True)
        best["seconds"] = round(best["seconds"], 2)
        print(json.dumps(best), flush=True)
        results.append(best)
    return results


def iceberg_probe(spark, base, label):
    from jhu_data_parser_spark.sources import iceberg_lite as il

    results = []
    for op in ("merge", "delete"):
        best = None
        keep = None
        for _rep in range(2):
            t = tempfile.mkdtemp(prefix=f"jdps_iceprobe_{op}_")
            _, t_build = timed(
                lambda: il.write_iceberg(
                    base.repartitionByRange(32, "k"), t, mode="overwrite"
                )
            )
            meta = il._load_metadata(t)
            entries0 = il._snapshot_entries(
                t, meta, meta["current-snapshot-id"]
            )
            n_files = len(entries0)
            if op == "merge":
                src = base.filter(F.col("k") % 1000 == 3).select(
                    "k", (F.col("cents") - 50).alias("cents")
                ).unionByName(
                    base.filter(F.col("k") % 150_000 == 1).select(
                        (F.col("k") + 10_000_000_000).alias("k"),
                        F.lit(42).cast("long").alias("cents"),
                    )
                )
                _, secs = timed(
                    lambda: il.merge_iceberg(spark, t, src, on=["k"])
                )
            else:
                lo = base.agg(F.min("k")).collect()[0][0]
                hi = lo + (base.agg(F.max("k")).collect()[0][0] - lo) // 32
                _, secs = timed(
                    lambda: il.delete_iceberg(
                        spark,
                        t,
                        f"k >= {lo} AND k < {hi}",
                        bounds_filter=[("k", ">=", lo), ("k", "<", hi)],
                    )
                )
            meta1 = il._load_metadata(t)
            snap = next(
                s
                for s in meta1["snapshots"]
                if s["snapshot-id"] == meta1["current-snapshot-id"]
            )
            summ = snap["summary"]
            if best is None or secs < best["seconds"]:
                best = {
                    "layout": label,
                    "format": "iceberg",
                    "op": op,
                    "rows": base.count(),
                    "files_total": n_files,
                    "files_removed": int(summ.get("deleted-data-files", 0)),
                    "files_added": int(summ.get("added-data-files", 0)),
                    "build_seconds": round(t_build, 2),
                    "seconds": round(secs, 2),
                }
            if keep:
                shutil.rmtree(keep, ignore_errors=True)
            keep = t
        shutil.rmtree(keep, ignore_errors=True)
        print(json.dumps(best), flush=True)
        results.append(best)
    return results


def main() -> None:
    layout = sys.argv[1] if len(sys.argv) > 1 else "/tmp/jdps_sf1_full"
    label = sys.argv[2] if len(sys.argv) > 2 else os.path.basename(layout)
    spark = get_spark(app_name="dml-probe")
    spark.sparkContext.setLogLevel("ERROR")
    base = load_table(spark, layout, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("cents"),
    )
    delta_probe(spark, base, label)
    iceberg_probe(spark, base, label)


if __name__ == "__main__":
    main()
