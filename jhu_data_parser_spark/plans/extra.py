"""Second-wave catalog queries: as-of join, skew-safe salted agg,
min/max/stddev stats, map & explode functions, ntile/first/last windows,
the pure-SQL surface (S6), and unionByName with missing columns.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from jhu_data_parser_spark.functions.exprs import DEC_SUM_SQL, dec_sum, scaled_long
from jhu_data_parser_spark.plans.catalog import query
from jhu_data_parser_spark.session import local_frame
from jhu_data_parser_spark.sources.tables import load_table, register_views


# J6 — as-of (backward) join: for each purchase, the user's most recent
# click at-or-before it. DuckDB has native ASOF JOIN; Spark doesn't —
# the operator is the union+window construction (one shuffle on the key,
# no nested loop; operators/joins.py:asof_join).
@query(
    "join_asof_last_click",
    oracle="""
    SELECT p.event_id,
           strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS last_click_ts
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
)
def join_asof_last_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jhu_data_parser_spark.operators.joins import asof_join

    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("ts").alias("click_ts")
    )
    out = asof_join(
        purchases, clicks, key="user_id", left_ts="ts", right_ts="ts", right_cols=["click_ts"]
    )
    return out.select(
        "event_id",
        F.date_format("click_ts", "yyyy-MM-dd HH:mm:ss").alias("last_click_ts"),
    )


# Skew posture — salted two-phase aggregation; must give EXACTLY the
# plain GROUP BY answer (the oracle is the plain form).
@query(
    "agg_salted_skew",
    oracle=f"""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           {DEC_SUM_SQL('value', 4)} AS total_value
    FROM events GROUP BY event_type
    """,
)
def agg_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jhu_data_parser_spark.operators.skew import salted_agg

    ev = load_table(spark, sf_dir, "events")
    out = salted_agg(
        ev,
        ["event_type"],
        {
            "n_events": F.count(F.lit(1)),
            "total_value": F.sum(scaled_long("value", 4)),
        },
        salt_buckets=16,
    )
    return out.select(
        "event_type",
        F.col("n_events").cast("long").alias("n_events"),
        (F.col("total_value").cast("double") / F.lit(10000.0)).alias("total_value"),
    )


# A3 completion — min/max plus a deterministic stddev assembled from
# decimal power sums (engine-native stddev is FP-order-dependent and
# never cross-engine reproducible; sample stddev from exact sums is).
@query(
    "agg_minmax_stddev",
    oracle="""
    SELECT l_returnflag,
           MIN(l_extendedprice) AS min_price,
           MAX(l_extendedprice) AS max_price,
           CAST(COUNT(*) AS BIGINT) AS n,
           round(sqrt(greatest(
             (CAST(SUM(CAST(l_extendedprice * l_extendedprice AS DECIMAL(28,4))) AS DOUBLE)
              - CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                * CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*))
             / (COUNT(*) - 1), 0.0)), 4) AS stddev_price
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_minmax_stddev(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = F.col("l_extendedprice")
    n = F.count(F.lit(1))
    s1 = F.sum(p.cast("decimal(18,2)")).cast("double")
    s2 = F.sum((p * p).cast("decimal(28,4)")).cast("double")
    return li.groupBy("l_returnflag").agg(
        F.min(p).alias("min_price"),
        F.max(p).alias("max_price"),
        n.alias("n"),
        F.round(
            F.sqrt(F.greatest((s2 - s1 * s1 / n) / (n - F.lit(1)), F.lit(0.0))), 4
        ).alias("stddev_price"),
    )


# A4 completion — explicit GROUPING SETS (rollup/cube's general form);
# both engines emit NULL markers for non-grouped columns.
@query(
    "agg_grouping_sets",
    oracle=f"""
    SELECT o_orderstatus, o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           {DEC_SUM_SQL('o_totalprice')} AS total
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
    """,
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("orders",))
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS LONG)) AS DOUBLE)
                 / 100.0 AS total
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
        """
    )


# A3 completion — exact percentiles. Spark's `percentile` and DuckDB's
# `quantile_cont` share linear-interpolation semantics; verified
# bit-identical. (approx_percentile stays engine-specific → the HLL-style
# rows-only bucket.)
@query(
    "agg_percentiles",
    oracle="""
    SELECT l_returnflag,
           quantile_cont(l_extendedprice, 0.5) AS p50,
           quantile_cont(l_extendedprice, 0.9) AS p90,
           quantile_cont(l_extendedprice, 0.99) AS p99
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = F.col("l_extendedprice")
    # ONE percentile buffer evaluated at three points, not three
    # independent buffers each holding the full value multiset —
    # measured 2.9 → 1.2 s at sf0.1, bit-identical output.
    ps = F.percentile(p, F.array(F.lit(0.5), F.lit(0.9), F.lit(0.99)))
    return li.groupBy("l_returnflag").agg(ps.alias("ps")).select(
        "l_returnflag",
        F.col("ps")[0].alias("p50"),
        F.col("ps")[1].alias("p90"),
        F.col("ps")[2].alias("p99"),
    )


# A3 completion — string aggregation (LISTAGG shape). Deterministic via
# sorted collect; capped to the first 5 keys per group so the result
# stays bounded however large the group gets (the 100 TB guard for any
# collect_list: always bound it).
@query(
    "agg_string_concat",
    oracle="""
    SELECT o_orderstatus,
           array_to_string(list_sort(list(o_orderkey))[1:5], ',') AS first_keys
    FROM orders GROUP BY o_orderstatus
    """,
)
def agg_string_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.array_join(
            F.slice(F.sort_array(F.collect_list("o_orderkey")), 1, 5), ","
        ).alias("first_keys")
    )


# approx_count_distinct: HLL sketches are engine-specific → rows-only;
# the exact twin (agg_distinct_customers) is the oracle-checked pair.
# Data profiling — per-column null and distinct counts in ONE scan
# (the schema-health check any ingestion pipeline runs first). Spark
# computes all columns' stats in a single aggregate pass; the oracle
# unions per-column queries.
@query(
    "profile_orders_columns",
    oracle="""
    SELECT 'o_orderstatus' AS column_name,
           CAST(COUNT(*) FILTER (WHERE o_orderstatus IS NULL) AS BIGINT) AS n_nulls,
           CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT) AS n_distinct
    FROM orders
    UNION ALL
    SELECT 'o_orderpriority',
           CAST(COUNT(*) FILTER (WHERE o_orderpriority IS NULL) AS BIGINT),
           CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT) FROM orders
    UNION ALL
    SELECT 'o_custkey',
           CAST(COUNT(*) FILTER (WHERE o_custkey IS NULL) AS BIGINT),
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) FROM orders
    """,
)
def profile_orders_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    cols = ["o_orderstatus", "o_orderpriority", "o_custkey"]
    aggs = []
    for c in cols:
        aggs.append(F.count(F.when(F.col(c).isNull(), 1)).alias(f"__n_{c}"))
        aggs.append(F.countDistinct(c).alias(f"__d_{c}"))
    one = o.agg(*aggs)
    stacked = one.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("column_name"),
                        F.col(f"__n_{c}").alias("n_nulls"),
                        F.col(f"__d_{c}").alias("n_distinct"),
                    )
                    for c in cols
                ]
            )
        ).alias("p")
    )
    return stacked.select("p.column_name", "p.n_nulls", "p.n_distinct")


# A3 completion — conditional aggregation (FILTER-clause shape):
# several differently-filtered aggregates in ONE scan pass.
@query(
    "agg_conditional",
    oracle=f"""
    SELECT c_mktsegment,
           CAST(COUNT(*) FILTER (WHERE c_acctbal > 5000.0) AS BIGINT) AS n_rich,
           CAST(COUNT(*) FILTER (WHERE c_acctbal < 0.0) AS BIGINT) AS n_negative,
           COALESCE(CAST(SUM(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT))
             FILTER (WHERE c_acctbal > 5000.0) AS DOUBLE) / 100.0, 0.0) AS rich_total
    FROM customer GROUP BY c_mktsegment
    """,
)
def agg_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    rich = F.col("c_acctbal") > 5000.0
    return c.groupBy("c_mktsegment").agg(
        F.count(F.when(rich, 1)).alias("n_rich"),
        F.count(F.when(F.col("c_acctbal") < 0.0, 1)).alias("n_negative"),
        F.coalesce(
            F.sum(F.when(rich, scaled_long("c_acctbal", 2))).cast("double")
            / F.lit(100.0),
            F.lit(0.0),
        ).alias("rich_total"),
    )


@query("agg_approx_percentile", oracle=None)
def agg_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile (t-digest-style sketch): engine-specific
    interpolation → rows-only; the exact twin (agg_percentiles) is the
    oracle-checked pair."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.approx_percentile("l_extendedprice", F.lit(0.5), F.lit(1000)).alias("p50_approx")
    )


@query("agg_approx_distinct", oracle=None)
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.approx_count_distinct("o_custkey", rsd=0.02).alias("approx_customers")
    )


# F9 maps — JSON → map<string,bigint>, explode to key/value rows.
@query(
    "scalar_map_funcs",
    oracle="""
    SELECT event_id, e.key AS prop_key, e.value AS prop_value
    FROM (
      SELECT event_id,
             unnest(map_entries(CAST(json_transform(props,
               '"MAP(VARCHAR, BIGINT)"') AS MAP(VARCHAR, BIGINT)))) AS e
      FROM events
    ) t
    """,
)
def scalar_map_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    m = F.from_json("props", "map<string,bigint>")
    return ev.select("event_id", F.explode(m).alias("prop_key", "prop_value"))


# F9 explode/posexplode — token position rows for the first 5 tokens.
@query(
    "scalar_posexplode_tokens",
    oracle="""
    SELECT doc_id, CAST(p.pos AS INT) AS pos, t.toks[p.pos + 1] AS token
    FROM (SELECT doc_id, string_split(text, ' ')[1:5] AS toks FROM documents) t
    CROSS JOIN (SELECT unnest([0, 1, 2, 3, 4]) AS pos) p
    WHERE p.pos < len(t.toks)
    """,
)
def scalar_posexplode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks5 = F.slice(F.split("text", " "), 1, 5)
    return d.select("doc_id", F.posexplode(toks5).alias("pos", "token"))


# §2.5 completion — ntile / first_value / last_value over a running
# frame with a unique ordering.
@query(
    "window_ntile_first_last",
    oracle="""
    SELECT o_orderkey,
           CAST(ntile(4) OVER w AS INT) AS quartile,
           first_value(o_orderkey) OVER w AS first_key,
           last_value(o_orderkey) OVER
             (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey
              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_key
    FROM orders
    WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey)
    """,
)
def window_ntile_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderstatus").orderBy("o_totalprice", "o_orderkey")
    w_full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return o.select(
        "o_orderkey",
        F.ntile(4).over(w).alias("quartile"),
        F.first("o_orderkey").over(w).alias("first_key"),
        F.last("o_orderkey").over(w_full).alias("last_key"),
    )


# S6 — the pure-SQL surface over registered views (the Athena
# replacement): CTE + join + agg, executed via spark.sql.
@query(
    "sql_surface_cte",
    oracle=f"""
    WITH big_orders AS (
      SELECT o_custkey, o_totalprice FROM orders WHERE o_totalprice > 250000.0
    )
    SELECT c.c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_big_orders,
           {DEC_SUM_SQL('b.o_totalprice')} AS total
    FROM big_orders b JOIN customer c ON b.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
)
def sql_surface_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("orders", "customer"))
    return spark.sql(
        """
        WITH big_orders AS (
          SELECT o_custkey, o_totalprice FROM orders WHERE o_totalprice > 250000.0
        )
        SELECT c.c_mktsegment,
               CAST(COUNT(*) AS BIGINT) AS n_big_orders,
               CAST(SUM(CAST(FLOOR(b.o_totalprice * 100 + 0.5) AS LONG)) AS DOUBLE)
                 / 100.0 AS total
        FROM big_orders b JOIN customer c ON b.o_custkey = c.c_custkey
        GROUP BY c.c_mktsegment
        """
    )


# P4 completion — null-safe equality join (<=> / IS NOT DISTINCT FROM):
# NULL keys match NULL, unlike plain equality which drops them.
@query(
    "join_null_safe_eq",
    oracle="""
    SELECT o.o_orderkey, m.label
    FROM (SELECT o_orderkey, NULLIF(o_orderstatus, 'O') AS s FROM orders) o
    LEFT JOIN (VALUES ('F', 'final'), ('P', 'partial'), (NULL, 'open')) m(s, label)
      ON o.s IS NOT DISTINCT FROM m.s
    """,
)
def join_null_safe_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.nullif("o_orderstatus", F.lit("O")).alias("s")
    )
    m = local_frame(
        spark,
        [("F", "final"), ("P", "partial"), (None, "open")], "s string, label string"
    )
    # Explicit broadcast: the 3-row local mapping arrives without
    # catalog stats, and a null-safe-equality SMJ sorts the whole fact
    # side (measured 2.8 s → 0.3 s at sf0.1 with the hint).
    return o.join(F.broadcast(m), o.s.eqNullSafe(m.s), "left").select(
        "o_orderkey", "label"
    )


# P5/A3 completion — HAVING over a grouped subquery joined back to the
# dimension (the TPC-H Q18 shape: find big aggregates, then enrich).
@query(
    "agg_having_big_customers",
    oracle=f"""
    SELECT c.c_custkey, c.c_name, c.c_mktsegment, t.total_spend
    FROM (
      SELECT o_custkey, {DEC_SUM_SQL('o_totalprice')} AS total_spend
      FROM orders
      GROUP BY o_custkey
      HAVING {DEC_SUM_SQL('o_totalprice')} > 1500000.0
    ) t
    JOIN customer c ON c.c_custkey = t.o_custkey
    """,
)
def agg_having_big_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    big = (
        o.groupBy("o_custkey")
        .agg(dec_sum("o_totalprice").alias("total_spend"))
        .filter(F.col("total_spend") > 1500000.0)
    )
    return big.join(c, big.o_custkey == c.c_custkey).select(
        "c_custkey", "c_name", "c_mktsegment", "total_spend"
    )


# Bucketed co-located join [extension] — both fact tables written
# hash-clustered + sorted on the join key (sink.write_bucketed_table),
# so the join itself needs no exchange and no sort: the one-time layout
# shuffle replaces a per-query fact-table shuffle. The oracle is the
# plain join — bucketing must be invisible to results.
@query(
    "join_bucketed_colocated",
    oracle=f"""
    SELECT o.o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           {DEC_SUM_SQL('l.l_extendedprice * (1.0 - l.l_discount)', 4)} AS revenue
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderpriority
    """,
)
def join_bucketed_colocated(spark: SparkSession, sf_dir: str) -> DataFrame:
    joined = _bucketed_join_pair(spark, sf_dir)
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_items"),
        dec_sum(
            F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")), 4
        ).alias("revenue"),
    )


def _bucketed_join_pair(spark: SparkSession, sf_dir: str, num_buckets: int = 8) -> DataFrame:
    """Write lineitem/orders bucketed+sorted on the order key, return
    their exchange-free merge join (shared by the catalog query and the
    physical-plan test)."""
    import hashlib
    import tempfile

    from jhu_data_parser_spark.sink import write_bucketed_table

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    li_tbl, o_tbl = f"li_bkt_{tag}", f"o_bkt_{tag}"
    if not spark.catalog.tableExists(li_tbl):
        base = tempfile.mkdtemp(prefix=f"jdps_bucketed_{tag}_")
        # Repartition on the bucket key first → exactly one file per
        # bucket (otherwise every writing task emits a file per bucket
        # it touches — at 1000 executors that's 1000 small files per
        # bucket). The join still re-sorts locally per bucket: OSS
        # Spark has no sorted-bucket-scan elision (SPARK-19256); the
        # shuffle elimination is the scale win.
        li = (
            load_table(spark, sf_dir, "lineitem")
            .select("l_orderkey", "l_extendedprice", "l_discount")
            .repartition(num_buckets, "l_orderkey")
        )
        o = (
            load_table(spark, sf_dir, "orders")
            .select("o_orderkey", "o_orderpriority")
            .repartition(num_buckets, "o_orderkey")
        )
        import os

        write_bucketed_table(
            li, li_tbl, ["l_orderkey"], num_buckets, ["l_orderkey"],
            path=os.path.join(base, li_tbl),
        )
        write_bucketed_table(
            o, o_tbl, ["o_orderkey"], num_buckets, ["o_orderkey"],
            path=os.path.join(base, o_tbl),
        )
    li_b, o_b = spark.table(li_tbl), spark.table(o_tbl)
    return li_b.hint("merge").join(o_b, li_b.l_orderkey == o_b.o_orderkey)


# §2.7 — unionByName with missing columns (schema evolution union).
@query(
    "set_union_by_name",
    oracle="""
    SELECT * FROM (
      SELECT s_name AS name, s_acctbal AS acctbal, NULL::VARCHAR AS brand FROM supplier
      UNION ALL BY NAME
      SELECT p_name AS name, p_brand AS brand FROM part
    )
    """,
)
def set_union_by_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = load_table(spark, sf_dir, "supplier").select(
        F.col("s_name").alias("name"), F.col("s_acctbal").alias("acctbal")
    )
    p = load_table(spark, sf_dir, "part").select(
        F.col("p_name").alias("name"), F.col("p_brand").alias("brand")
    )
    return s.unionByName(p, allowMissingColumns=True)
