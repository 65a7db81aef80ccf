"""Interleaved in-session A/B: sim_cosine_topk_ivfpq_multi serve via
the old in-plan re-rank vs the new driver-resident re-rank, same
session, same cached index — min-of-N each, alternating rounds.

Usage: python scripts/ab_ivfpq_multi.py [sf_dir] [rounds=7]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import Window  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from jhu_data_parser_spark.operators import similarity as sim  # noqa: E402
from jhu_data_parser_spark.operators.clustering import quantize_vectors  # noqa: E402
from jhu_data_parser_spark.session import get_spark  # noqa: E402
from jhu_data_parser_spark.sources.tables import load_table  # noqa: E402


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    rounds = int(sys.argv[2]) if len(sys.argv) > 2 else 7
    spark = get_spark(app_name="jdps-ab-ivfpq")
    spark.sparkContext.setLogLevel("ERROR")
    nq, k = 5, 10
    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.filter(F.col("vec_id") >= nq)
    queries = sorted(
        (int(r["id"]), [int(v) for v in r["q"]])
        for r in quantize_vectors(emb.filter(F.col("vec_id") < nq))
        .select("id", "q")
        .collect()
    )

    def arr_lit(vals):
        return "array(" + ",".join(str(int(v)) + "L" for v in vals) + ")"

    def old_serve():
        short = sim.ivfpq_multi_shortlist(
            corpus, queries, cache_tag="embeddings_ivfpq_multi"
        )
        qmap = ", ".join(
            f"{int(qid)}L, " + arr_lit(list(qi)) for qid, qi in queries
        )
        base = corpus.select(
            F.col("vec_id").alias("id"),
            F.expr(
                "transform(embedding, x -> "
                "CAST(ROUND(CAST(x AS DOUBLE) * 1000000, 0) AS BIGINT))"
            ).alias("qv"),
        )
        rr = base.join(F.broadcast(short), "id").withColumn(
            "exact_dist",
            F.expr(
                f"aggregate(zip_with(qv, element_at(map({qmap}), query_id), "
                "(a, b) -> (a - b) * (a - b)), CAST(0 AS BIGINT), "
                "(acc, x) -> acc + x)"
            ).cast("long"),
        )
        wr = Window.partitionBy("query_id").orderBy("exact_dist", "id")
        return (
            rr.withColumn("rank", F.row_number().over(wr))
            .filter(F.col("rank") <= k)
            .select(
                "query_id",
                F.col("id").alias("vec_id"),
                F.col("rank").cast("int").alias("rank"),
                "cell",
                F.col("adc_dist").cast("long").alias("adc_dist"),
                "exact_dist",
            )
        )

    def new_serve():
        return sim.topk_ivfpq_indexed_multi(
            corpus, queries, k=k, cache_tag="embeddings_ivfpq_multi"
        )

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    # warm both once (index build + JIT)
    noop(old_serve())
    noop(new_serve())
    olds, news = [], []
    for r in range(rounds):
        t0 = time.perf_counter()
        noop(old_serve())
        olds.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        noop(new_serve())
        news.append(time.perf_counter() - t0)
    print("old in-plan rerank :", [round(x, 3) for x in olds], "min", round(min(olds), 3))
    print("new driver rerank  :", [round(x, 3) for x in news], "min", round(min(news), 3))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
