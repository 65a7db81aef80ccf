"""A/B the graph-ANN edge layout at the 10× scale layout: flat vs
src-bucketed (DPP-pruned hop joins). Measures one-time index build and
warm serving (min/median of N beam searches) for each layout.

Usage: python scripts/measure_graph_100x.py [sf_dir] [n_serves]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from jhu_data_parser_spark.operators import similarity as sim  # noqa: E402
from jhu_data_parser_spark.plans.pipeline20 import (  # noqa: E402
    _G_BANDS,
    _G_BEAM,
    _G_DEPTH,
    _G_DIM,
    _G_HOPS,
    _G_M,
    _G_PLANES,
    _G_SEED,
)
from jhu_data_parser_spark.session import get_spark  # noqa: E402
from jhu_data_parser_spark.sources.tables import load_table  # noqa: E402


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/jdps_sf1_full"
    n_serves = int(sys.argv[2]) if len(sys.argv) > 2 else 5
    spark = get_spark(app_name="jdps-graph-100x")
    spark.sparkContext.setLogLevel("ERROR")
    e = load_table(spark, sf_dir, "embeddings")
    corpus = e.filter(F.col("vec_id") != 0)
    n = corpus.count()
    print(f"corpus vectors: {n}")

    qz = sim.quantize_unit_vectors(corpus).localCheckpoint(eager=False)
    qq = sim.quantize_unit_vectors(
        e.filter(F.col("vec_id") == 0).limit(1)
    ).select("q")
    bucketed = corpus.select(
        F.col("vec_id").alias("id"),
        *[
            sim.rp_bucket_expr("embedding", _G_PLANES, _G_DIM, _G_SEED + b)
            .alias(f"b{b}")
            for b in range(_G_BANDS)
        ],
    )
    qb = (
        e.filter(F.col("vec_id") == 0)
        .limit(1)
        .select(
            *[
                sim.rp_bucket_expr(
                    "embedding", _G_PLANES, _G_DIM, _G_SEED + b
                ).alias(f"qb{b}")
                for b in range(_G_BANDS)
            ]
        )
    )
    pred = None
    for b in range(_G_BANDS):
        p = F.col(f"b{b}") == F.col(f"qb{b}")
        pred = p if pred is None else (pred | p)
    seeds = bucketed.crossJoin(F.broadcast(qb)).filter(pred).select("id")

    results = None  # cross-layout: both layouts must serve THE SAME beam
    for label, sb in (("flat", 0), ("bucketed16", 16)):
        t0 = time.perf_counter()
        path = sim.knn_graph_index(
            corpus,
            dim=_G_DIM,
            m=_G_M,
            n_planes=_G_PLANES,
            bands=_G_BANDS,
            seed=_G_SEED,
            cache_tag=f"m100x_{label}",
            src_buckets=sb,
        )
        build = time.perf_counter() - t0
        edges = spark.read.parquet(path)
        n_edges = edges.count()
        times = []
        for _ in range(n_serves):
            t0 = time.perf_counter()
            bm = sim.graph_beam_search(
                qz,
                edges,
                qq,
                beam=_G_BEAM,
                hops=_G_HOPS,
                depth=_G_DEPTH,
                entry_ids=seeds,
            )
            rows = sorted((r.id, r.d2) for r in bm.collect())
            times.append(time.perf_counter() - t0)
            if results is None:
                results = rows
            else:
                assert rows == results, "layouts must serve identical beams"
        times.sort()
        print(
            f"{label}: edges={n_edges} build={build:.1f}s "
            f"serve min={times[0]:.2f}s med={times[len(times) // 2]:.2f}s "
            f"all={[round(t, 2) for t in times]}"
        )


if __name__ == "__main__":
    main()
