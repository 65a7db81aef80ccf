"""Build a differential ALT layout of a testdata scale dir.

Every oracle in the catalog is replayed against ONE synthetic layout
per scale factor — a query whose correctness silently depends on
incidental PHYSICAL properties (single file per table, writer row
order, one big row group) would never surface. This rewrites each
table with the DATA unchanged but the physics changed:

- rows permuted with a seeded RNG (kills row-order luck: min_by ties,
  first()-without-order, collect_list order assumptions),
- split into several part files under ``<name>.parquet/`` (kills
  single-file/single-task assumptions; both Spark and the DuckDB view
  glob read directories),
- small row groups (kills one-row-group scan accidents).

The DuckDB oracles recompute from the same rewritten files, so a
PASS/FAIL diff against the canonical layout isolates layout
sensitivity from data sensitivity.

Usage: python scripts/make_alt_layout.py [src=/root/testdata/sf0.001]
           [out=/tmp/jdps_alt_sf0001] [seed=20260816] [files=4]
Then:  python scripts/sweep_sf001.py <out>
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tests.oracle_compare import TABLE_NAMES  # noqa: E402


def main() -> None:
    src = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    out = sys.argv[2] if len(sys.argv) > 2 else "/tmp/jdps_alt_sf0001"
    seed = int(sys.argv[3]) if len(sys.argv) > 3 else 20260816
    n_files = int(sys.argv[4]) if len(sys.argv) > 4 else 4
    os.makedirs(out, exist_ok=True)
    rng = np.random.RandomState(seed)
    for name in TABLE_NAMES:
        tbl = pq.read_table(os.path.join(src, f"{name}.parquet"))
        n = tbl.num_rows
        perm = rng.permutation(n)
        tbl = tbl.take(perm)
        tdir = os.path.join(out, f"{name}.parquet")
        os.makedirs(tdir, exist_ok=True)
        k = min(n_files, max(1, n))
        bounds = [n * i // k for i in range(k + 1)]
        for i in range(k):
            part = tbl.slice(bounds[i], bounds[i + 1] - bounds[i])
            pq.write_table(
                part,
                os.path.join(tdir, f"part-{i:03d}.parquet"),
                row_group_size=max(64, part.num_rows // 3 or 1),
            )
        print(f"{name}: {n} rows -> {k} files (permuted)")


if __name__ == "__main__":
    main()
