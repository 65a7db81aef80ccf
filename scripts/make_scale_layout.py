"""Build the 10× multi-file scaling layout at /tmp/jdps_sf1_full.

The driver's sf0.1 parquet is ONE row group per table — a Spark scan
cannot parallelize within a row group, so single-file timings hide all
scan parallelism. This replicates every table N× with remapped keys
into a 32-file layout, matching how a real lake would be laid out, so
the PLANS.md scaling series measures the PLANS, not the file layout.

Usage: python scripts/make_scale_layout.py [copies=10] [out=/tmp/jdps_sf1_full]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from jhu_data_parser_spark.session import get_spark  # noqa: E402
from jhu_data_parser_spark.sources.tables import load_table  # noqa: E402

SRC = "/root/testdata/sf0.1"

# key columns shifted by copy_index * stride so replicated rows get
# disjoint key spaces (joins keep 1:N cardinality instead of N²)
OFFSETS = {
    "customer": ["c_custkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}
KEEP = ["region", "nation", "supplier", "part"]  # dims stay as-is
STRIDE = 100_000_000


def main() -> None:
    copies = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    out = sys.argv[2] if len(sys.argv) > 2 else "/tmp/jdps_sf1_full"
    spark = get_spark(app_name="make-scale-layout")
    spark.sparkContext.setLogLevel("ERROR")
    for name in KEEP:
        df = load_table(spark, SRC, name)
        df.write.mode("overwrite").parquet(f"{out}/{name}.parquet")
        print(name, "copied")
    for name, keys in OFFSETS.items():
        df = load_table(spark, SRC, name)
        rep = df.crossJoin(
            spark.range(copies).select(F.col("id").alias("__copy"))
        )
        for k in keys:
            rep = rep.withColumn(k, F.col(k) + F.col("__copy") * STRIDE)
        rep = rep.drop("__copy").repartition(32)
        rep.write.mode("overwrite").parquet(f"{out}/{name}.parquet")
        print(name, f"replicated {copies}x ->", rep.count(), "rows")
    spark.stop()


if __name__ == "__main__":
    main()
