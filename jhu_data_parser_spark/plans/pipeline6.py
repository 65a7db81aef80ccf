"""Round-4 fourth-context wave: portable mergeable sketches (KMV
distinct — batch AND as a custom stateful stream — count-min heavy
hitters, fixed-grid histogram quantiles), a bloom-filter runtime-pruned
join, a point-in-time temporal join, per-source cap sampling,
integer-exact linear interpolation, and product-quantization ANN with
its gated recall report.

Reference parity note: the reference (/root/reference) stops at flat
JSON records; these are the sketch / runtime-filter / feature-store
primitives a 100 TB curation pipeline needs on top of the same tables.

Oracle discipline (same rules as pipeline2-5): integer counts summed as
BIGINT; portable hashes are md5-hex re-derived as integers with the
SAME explicit polynomial arithmetic in both engines; every division is
either exact integer `div` or one explicitly-written IEEE op.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from jhu_data_parser_spark import cache
from jhu_data_parser_spark.functions.exprs import (
    DEC_SUM_SQL,
    REVENUE_SQL,
    dec_sum,
    revenue,
)
from jhu_data_parser_spark.plans.catalog import query
from jhu_data_parser_spark.sources.tables import load_table


def _hexpoly_sql(hexpr: str, nchars: int) -> str:
    """DuckDB: first ``nchars`` hex chars of ``hexpr`` as a BIGINT, via an
    explicit positional polynomial (DuckDB has no ``conv``). The Spark
    twin is ``conv(substring(h, 1, n), 16, 10)`` — different spelling,
    same integer, and the integer is what both plans compare on."""
    terms = " + ".join(
        f"(strpos('0123456789abcdef', substr({hexpr}, {i + 1}, 1)) - 1) * {16 ** (nchars - 1 - i)}"
        for i in range(nchars)
    )
    return f"CAST({terms} AS BIGINT)"


def _hex_long(col: F.Column, nchars: int) -> F.Column:
    """Spark: first ``nchars`` hex chars of an md5 column as a long."""
    return F.conv(F.substring(col, 1, nchars), 16, 10).cast("long")


# --------------------------------------------------------------------------
# KMV (K-minimum-values / bottom-k) distinct sketch — the mergeable
# cardinality estimator (Bar-Yossef et al. 2002). Unlike the engine-private
# HLL registers behind agg_approx_distinct / agg_hll_sketch_merge (rows-only
# by necessity), KMV over a portable md5-derived 48-bit hash is replayable
# bit-for-bit in ANSI SQL — so the ESTIMATE ITSELF is value-hash gated.
# --------------------------------------------------------------------------

_KMV_K = 32
_KMV_DOMAIN = 1 << 48  # 12 hex chars


@query(
    "agg_kmv_distinct_users",
    oracle=f"""
    WITH d AS (
      SELECT DISTINCT event_type,
             {_hexpoly_sql("md5(CAST(user_id AS VARCHAR))", 12)} AS h
      FROM events),
    r AS (
      SELECT event_type, h,
             row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
      FROM d),
    a AS (
      SELECT event_type, COUNT(*) AS n_exact,
             MAX(CASE WHEN rn = {_KMV_K} THEN h END) AS kth_hash
      FROM r GROUP BY 1)
    SELECT event_type,
           CAST(n_exact AS BIGINT) AS n_exact,
           CAST(kth_hash AS BIGINT) AS kth_hash,
           CAST(CASE WHEN n_exact < {_KMV_K} THEN n_exact
                     ELSE ({_KMV_K - 1} * {_KMV_DOMAIN}) // kth_hash
                END AS BIGINT) AS kmv_estimate
    FROM a
    """,
)
def agg_kmv_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-user cardinality per event_type via a K-minimum-values
    sketch (k=32, 48-bit md5-derived hashes), reported NEXT TO the exact
    count so the driver gate certifies the estimator's arithmetic AND
    its input: estimate = (k-1)·2^48 div h_(k) — exact integer division
    in both engines, never a float.

    Scale posture: KMV is a MERGEABLE sketch — at 100 TB each partition
    keeps its k smallest hashes and the combine step is a k-way merge
    (constant state per group, one map-side-combined shuffle), exactly
    how approx_count_distinct's HLL registers merge. Locally the bottom-k
    is expressed as the declarative row_number-over-hash window (two
    exchanges: the distinct and the per-group sort) — the point of the
    query is the value-hash-gated estimator; the engine-private fast
    path is agg_approx_distinct.
    """
    ev = load_table(spark, sf_dir, "events")
    # Distinct on the HASH, not the user id: KMV is defined over the set
    # of distinct hash VALUES (the oracle does the same), so a 48-bit
    # collision collapses on both sides instead of diverging.
    d = (
        ev.select(
            "event_type",
            _hex_long(F.md5(F.col("user_id").cast("string")), 12).alias("h"),
        )
        .distinct()
    )
    w = Window.partitionBy("event_type").orderBy("h")
    r = d.withColumn("rn", F.row_number().over(w))
    a = r.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_exact"),
        F.max(F.when(F.col("rn") == _KMV_K, F.col("h"))).alias("kth_hash"),
    )
    return a.select(
        "event_type",
        F.col("n_exact").cast("long").alias("n_exact"),
        F.col("kth_hash").cast("long").alias("kth_hash"),
        F.when(F.col("n_exact") < _KMV_K, F.col("n_exact"))
        .otherwise(F.expr(f"{(_KMV_K - 1) * _KMV_DOMAIN}L div kth_hash"))
        .cast("long")
        .alias("kmv_estimate"),
    )


# --------------------------------------------------------------------------
# Count-min sketch heavy hitters (Cormode & Muthukrishnan 2005): d=4
# hash rows × w=256 buckets over the corpus token counts, probed for the
# exact top-20 tokens. CMS guarantees estimate >= exact; the oracle
# replays the sketch build AND the probes, so the driver gate certifies
# the (over-)estimates themselves.
# --------------------------------------------------------------------------

_CMS_D = 4
_CMS_W = 256


# Shared by the batch query below and its REAL-stream twin
# (pipeline12.stream_cms_heavy_hitters — CMS linearity makes per-batch
# partial cells merge to the identical global sketch).
_CMS_ORACLE = f"""
    WITH tok AS (
      SELECT unnest(string_split(lower(text), ' ')) AS token FROM documents),
    tc AS (
      SELECT token, COUNT(*) AS cnt FROM tok WHERE token <> '' GROUP BY 1),
    ex AS (
      SELECT tc.token, tc.cnt, js.j,
             ({_hexpoly_sql("substr(md5(CAST(js.j AS VARCHAR) || ':' || tc.token), 1, 4)", 4)}
              % {_CMS_W}) AS bucket
      FROM tc CROSS JOIN (VALUES (0), (1), (2), (3)) js(j)),
    sk AS (
      SELECT j, bucket, CAST(SUM(cnt) AS BIGINT) AS cell
      FROM ex GROUP BY 1, 2),
    cand AS (
      SELECT token, cnt FROM tc ORDER BY cnt DESC, token LIMIT 20),
    probe AS (
      SELECT e.token, e.cnt, s.cell
      FROM ex e
      JOIN sk s ON s.j = e.j AND s.bucket = e.bucket
      WHERE e.token IN (SELECT token FROM cand))
    SELECT token,
           CAST(MAX(cnt) AS BIGINT) AS exact_count,
           CAST(MIN(cell) AS BIGINT) AS cms_estimate
    FROM probe GROUP BY 1
    """


@query("agg_cms_heavy_hitters", oracle=_CMS_ORACLE)
def agg_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter token counts via a count-min sketch (d=4 rows ×
    w=256 buckets, md5-derived bucket hashes) probed for the exact
    top-20 tokens, exact count alongside — the CMS overestimate
    (min over rows of the bucket sums) is value-hash gated because both
    engines replay the identical sketch arithmetic.

    Scale posture: the sketch is built FROM the token-count table, not
    from the raw token stream — one token shuffle (shared with any
    vocab/tf-idf pass), then the sketch build aggregates ≤ |vocab|·d
    rows down to ≤ d·w cells (a map-side-combined shuffle of ~1 KB of
    state per partition; CMS cells are counters, so partial aggregation
    is exact). Probing joins the 20 candidates against ≤1024 sketch
    cells — broadcast, no shuffle. At 100 TB the sketch is the thing
    you ship to the driver / dashboard INSTEAD of the vocab table.
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        F.explode(F.split(F.lower(F.col("text")), " ")).alias("token")
    ).filter(F.col("token") != "")
    tc = tok.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))

    bucket_structs = F.array(
        *[
            F.struct(
                F.lit(j).alias("j"),
                (
                    _hex_long(
                        F.substring(
                            F.md5(F.concat(F.lit(f"{j}:"), F.col("token"))), 1, 4
                        ),
                        4,
                    )
                    % _CMS_W
                ).alias("bucket"),
            )
            for j in range(_CMS_D)
        ]
    )
    ex = tc.select("token", "cnt", F.explode(bucket_structs).alias("jb")).select(
        "token", "cnt", F.col("jb.j").alias("j"), F.col("jb.bucket").alias("bucket")
    )
    sk = ex.groupBy("j", "bucket").agg(F.sum("cnt").cast("long").alias("cell"))
    cand = tc.orderBy(F.desc("cnt"), "token").limit(20)
    probe = (
        ex.join(F.broadcast(cand.select("token")), "token", "left_semi")
        .join(F.broadcast(sk), ["j", "bucket"])
    )
    return probe.groupBy("token").agg(
        F.max("cnt").cast("long").alias("exact_count"),
        F.min("cell").cast("long").alias("cms_estimate"),
    )


# --------------------------------------------------------------------------
# Bloom-filter runtime-pruned join: the explicit form of Spark's AQE
# runtime row-group filtering. The filter keys (URGENT orders) are
# hashed into a 2^20-bit bloom (k=3, split into 64-bit words held as a
# ≤16384-row broadcast dim); the fact side is pre-filtered map-side
# BEFORE the shuffle join, then a final exact semi-join removes the
# false positives — so the RESULT is exact and the oracle is the plain
# join (no bloom internals to replay; the bloom uses native xxhash64).
# --------------------------------------------------------------------------

_BLOOM_BITS = 1 << 20
_BLOOM_K = 3


def _bloom_positions(key: F.Column) -> list[F.Column]:
    # Double hashing (Kirsch & Mitzenmacher): p_i = h1 + i*h2 (mod m).
    # Each hash is reduced mod m BEFORE combining — (a + i*b) mod m is
    # unchanged and the sums stay < 3m, so ANSI overflow checks pass.
    h1 = F.pmod(F.xxhash64(key), F.lit(_BLOOM_BITS))
    h2 = F.pmod(F.xxhash64(key, F.lit("bloom-salt-2")), F.lit(_BLOOM_BITS))
    return [F.pmod(h1 + F.lit(i) * h2, F.lit(_BLOOM_BITS)) for i in range(_BLOOM_K)]


@query(
    "join_bloom_filtered_revenue",
    oracle=f"""
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           {DEC_SUM_SQL(REVENUE_SQL)} AS urgent_revenue
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE o_orderpriority = '1-URGENT'
    GROUP BY 1
    """,
)
def join_bloom_filtered_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue of lineitems belonging to URGENT orders, computed with an
    explicit bloom-filter runtime prune: the urgent order keys build a
    2^20-bit / k=3 bloom held as a broadcast (word → 64-bit mask) dim;
    every lineitem tests its 3 bit positions map-side and only
    survivors (true matches + ~0.05% false positives at sf0.1 fill)
    reach the exact semi-join that removes the FPs. The final aggregate
    is EXACT — the oracle is the plain join, which is the point: the
    bloom is a physical optimization, not a semantics change.

    Scale posture: this is the hand-rolled version of runtime filter
    pushdown for the case AQE can't see (filter derived from a
    different pipeline stage, or the build side too big to broadcast as
    ROWS but fine as BITS: 2^20 bits = 128 KB regardless of key count).
    At 100 TB the map-side prune cuts the fact-side shuffle by the
    build-side selectivity (~80% here) — the shuffle is the bottleneck,
    the three broadcast-hash probes are free (word dim ≤ 16384 rows).
    The bloom build itself is one map-side-combined bit_or aggregate.
    """
    orders = load_table(spark, sf_dir, "orders")
    urgent = orders.filter(F.col("o_orderpriority") == "1-URGENT").select("o_orderkey")

    pos = _bloom_positions(F.col("o_orderkey"))
    build = urgent.select(F.explode(F.array(*pos)).alias("p")).select(
        (F.col("p") / 64).cast("long").alias("word"),
        F.expr("shiftleft(1L, CAST(p % 64 AS INT))").alias("mask"),
    )
    words = build.groupBy("word").agg(F.expr("bit_or(mask)").alias("bw"))

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_extendedprice", "l_discount"
    )
    lpos = _bloom_positions(F.col("l_orderkey"))
    probe = li
    for i, p in enumerate(lpos):
        probe = probe.withColumn(f"p{i}", p).withColumn(
            f"w{i}", (F.col(f"p{i}") / 64).cast("long")
        ).withColumn(f"m{i}", F.expr(f"shiftleft(1L, CAST(p{i} % 64 AS INT))"))
    for i in range(_BLOOM_K):
        wdim = words.select(
            F.col("word").alias(f"word_{i}"), F.col("bw").alias(f"bw_{i}")
        )
        probe = probe.join(
            F.broadcast(wdim), F.col(f"w{i}") == F.col(f"word_{i}"), "left"
        ).filter(F.col(f"bw_{i}").bitwiseAND(F.col(f"m{i}")) == F.col(f"m{i}"))

    exact = probe.join(
        urgent, probe["l_orderkey"] == urgent["o_orderkey"], "left_semi"
    )
    return exact.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("long").alias("n_items"),
        dec_sum(revenue()).alias("urgent_revenue"),
    )


# --------------------------------------------------------------------------
# Point-in-time (temporal) join — the feature-store correctness
# primitive: enrich each probe event with the dimension state that was
# valid AT ITS OWN timestamp (never a later one — the training-data
# leakage guard). Re-expressed Spark-first as union + forward-fill
# window instead of a BETWEEN range join: one user-clustered sort pass,
# no interval explosion, immune to validity-interval skew.
# --------------------------------------------------------------------------


@query(
    "join_temporal_pit_state",
    oracle="""
    WITH s0 AS (
      SELECT user_id, event_type, ts, event_id,
             CASE WHEN lag(event_type) OVER w IS DISTINCT FROM event_type
                  THEN 1 ELSE 0 END AS chg
      FROM events WHERE event_type <> 'purchase'
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    v AS (
      SELECT *, SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS version
      FROM s0),
    h AS (
      SELECT user_id, version, MIN(event_type) AS state, MIN(ts) AS vf
      FROM v GROUP BY 1, 2),
    u AS (
      SELECT user_id, vf AS ts, 0 AS src, CAST(version AS BIGINT) AS version,
             state, CAST(NULL AS BIGINT) AS event_id
      FROM h
      UNION ALL
      SELECT user_id, ts, 1, NULL, NULL, event_id
      FROM events WHERE event_type = 'purchase'),
    f AS (
      SELECT *,
             last_value(state IGNORE NULLS) OVER pit AS state_at,
             last_value(version IGNORE NULLS) OVER pit AS version_at
      FROM u
      WINDOW pit AS (PARTITION BY user_id
                     ORDER BY ts, src, coalesce(version, 0)
                     ROWS UNBOUNDED PRECEDING))
    SELECT event_id, user_id, epoch_us(ts) AS ts_us, state_at,
           CAST(version_at AS BIGINT) AS version_at
    FROM f WHERE src = 1
    """,
)
def join_temporal_pit_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time join: each purchase event is enriched with the SCD2
    state (the user's last non-purchase activity run, versioned by the
    gaps-and-islands build shared with scd2_event_state_history) that
    was valid at the purchase's OWN timestamp — the feature-store /
    training-set assembly primitive that prevents future-state leakage.
    Purchases before any state row surface NULL state (genuinely
    occurring cold-start shape).

    Plan shape: instead of the textbook ``BETWEEN valid_from AND
    valid_to`` range join (interval explosion, skew-fragile), the state
    rows and probe rows are UNIONED and forward-filled with one
    ``last(ignorenulls)`` window ordered by (ts, src, version) — state
    rows sort before probes at equal ts, so valid_from is inclusive.
    ONE exchange clusters the union by user_id; the history build's
    windows/agg cluster on the same key. At 100 TB this is the as-of
    machinery (operators/joins.asof_join) applied to dimension history:
    linear in |states| + |probes|, no pair blowup, skew bounded by the
    busiest user.
    """
    ev = load_table(spark, sf_dir, "events")
    st = ev.filter(F.col("event_type") != "purchase").select(
        "user_id", "event_type", "ts", "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    o = st.withColumn(
        "chg",
        F.when(
            ~F.lag("event_type").over(w).eqNullSafe(F.col("event_type")), 1
        ).otherwise(0),
    )
    v = o.withColumn(
        "version", F.sum("chg").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    h = v.groupBy("user_id", "version").agg(
        F.min("event_type").alias("state"), F.min("ts").alias("vf")
    )
    states = h.select(
        "user_id",
        F.col("vf").alias("ts"),
        F.lit(0).alias("src"),
        F.col("version").cast("long").alias("version"),
        "state",
        F.lit(None).cast("long").alias("event_id"),
    )
    probes = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.lit(1).alias("src"),
        F.lit(None).cast("long").alias("version"),
        F.lit(None).cast("string").alias("state"),
        "event_id",
    )
    u = states.unionByName(probes)
    pit = (
        Window.partitionBy("user_id")
        .orderBy("ts", "src", F.coalesce(F.col("version"), F.lit(0)))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    f = u.withColumn(
        "state_at", F.last("state", ignorenulls=True).over(pit)
    ).withColumn("version_at", F.last("version", ignorenulls=True).over(pit))
    return f.filter(F.col("src") == 1).select(
        "event_id",
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        "state_at",
        F.col("version_at").cast("long").alias("version_at"),
    )


# --------------------------------------------------------------------------
# Per-source document cap — the Common-Crawl-style curation step that
# bounds any single domain's contribution to the corpus, keeping each
# source's highest-quality documents.
# --------------------------------------------------------------------------

_SOURCE_CAP = 10


@query(
    "sample_per_source_cap",
    oracle=f"""
    WITH r AS (
      SELECT doc_id, source, n_chars,
             row_number() OVER (PARTITION BY source
                                ORDER BY n_chars DESC, doc_id) AS rn
      FROM documents)
    SELECT doc_id, source, n_chars, CAST(rn AS BIGINT) AS rank_in_source
    FROM r WHERE rn <= {_SOURCE_CAP}
    """,
)
def sample_per_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source contribution cap: keep at most 10 documents per
    source, preferring the longest (quality proxy; ties broken by
    doc_id so the kept set is deterministic) — the anti-domination
    guard that stops one crawl domain from flooding the training mix
    (complement of sample_stratified_by_lang's rate-based draw: a cap
    is a HARD bound, a rate is not).

    Plan shape: one hash exchange on source + WindowGroupLimit — Spark
    pushes the rn <= cap filter INTO the window sort as a per-group
    top-k (no full per-group sort materialized), which is exactly the
    100 TB posture: per-source state is O(cap), skew bounded by the
    biggest source's scan share, and the filter prunes before any
    downstream stage.
    """
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(F.desc("n_chars"), "doc_id")
    return (
        docs.select("doc_id", "source", "n_chars")
        .withColumn("rank_in_source", F.row_number().over(w))
        .filter(F.col("rank_in_source") <= _SOURCE_CAP)
        .withColumn("rank_in_source", F.col("rank_in_source").cast("long"))
    )


# --------------------------------------------------------------------------
# Fixed-grid histogram quantile sketch — the mergeable quantile
# estimator (the portable stand-in for t-digest/KLL, which are
# engine-private like HLL). The histogram is a plain groupBy — fully
# mergeable across partitions/days — and the bin-edge estimate is pure
# integer arithmetic, so the ESTIMATE is value-hash gated next to the
# exact interpolated quantile it approximates.
# --------------------------------------------------------------------------

_HQ_BIN = 2500  # o_totalprice grid width
_HQ_MAX_BIN = 255
_HQ_QS = (50, 95, 99)


@query(
    "agg_histogram_quantiles",
    oracle=f"""
    WITH hist AS (
      SELECT CAST(least(floor(o_totalprice / {_HQ_BIN}), {_HQ_MAX_BIN}) AS INT) AS bin,
             COUNT(*) AS cnt
      FROM orders GROUP BY 1),
    cum AS (
      SELECT bin, SUM(cnt) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cum
      FROM hist),
    ranked AS (
      SELECT o_totalprice, row_number() OVER (ORDER BY o_totalprice) AS rn
      FROM orders),
    nn AS (SELECT COUNT(*) AS n FROM orders),
    qp AS (
      SELECT q_pct,
             (q_pct * (n - 1)) // 100 + 1 AS lo_rn,
             (q_pct * (n - 1) + 99) // 100 + 1 AS hi_rn,
             (q_pct * (n - 1)) % 100 AS frac_num,
             (q_pct * n + 99) // 100 AS target,
             n
      FROM nn CROSS JOIN (VALUES (50), (95), (99)) v(q_pct)),
    qs AS (
      SELECT q.q_pct, q.target, q.n,
             l.o_totalprice
               + (h.o_totalprice - l.o_totalprice) * (q.frac_num / 100.0)
               AS exact_value
      FROM qp q
      JOIN ranked l ON l.rn = q.lo_rn
      JOIN ranked h ON h.rn = q.hi_rn)
    SELECT q.q_pct,
           CAST(q.n AS BIGINT) AS n_total,
           CAST((MIN(c.bin) + 1) * {_HQ_BIN} AS BIGINT) AS est_upper,
           q.exact_value
    FROM qs q JOIN cum c ON c.cum >= q.target
    GROUP BY q.q_pct, q.n, q.exact_value
    """,
)
def agg_histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile estimation from a fixed-grid histogram sketch (256 bins
    of width 2500 over o_totalprice), reported next to the EXACT
    interpolated quantile: the estimate is the upper edge of the first
    bin whose cumulative count reaches ceil(q·n) — computed with pure
    integer arithmetic ((q·n + 99) div 100), so the driver gate
    certifies the sketch's answer, not just its row count. The
    engine-native approximate path is agg_approx_percentile (rows-only,
    like all engine-private sketches); this is the portable mergeable
    formulation.

    The exact column spells out type-7 linear interpolation explicitly
    on BOTH engines (row_number lookup at ⌊q(n−1)/100⌋ and ⌈·⌉, then
    one written-out lerp — integer index arithmetic plus three IEEE
    double ops), instead of hashing Spark ``percentile`` against DuckDB
    ``quantile_cont``: those agree today but are engine-native
    internals, and the repo's oracle discipline only hashes doubles
    whose every operation is written in both dialects.

    Scale posture: the histogram IS a groupBy — mergeable across
    partitions, files, days (sum the cnt columns), the property t-digest
    / KLL provide with bounded error and this fixed grid provides with
    bounded RANGE error (one bin width). One map-side-combined exchange
    on ≤256 bins; the cumulative window runs over ≤256 rows (a singleton
    partition by construction, not a scale risk); the quantile probe is
    a broadcast join of 3 rows against ≤256. The exact-quantile column
    is the expensive one (full sort per group at scale) — that's the
    point of shipping the sketch instead.
    """
    o = load_table(spark, sf_dir, "orders").select("o_totalprice")
    hist = (
        o.select(
            F.least(F.floor(F.col("o_totalprice") / _HQ_BIN), F.lit(_HQ_MAX_BIN))
            .cast("int")
            .alias("bin")
        )
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    cum = hist.withColumn(
        "cum",
        F.sum("cnt").over(
            Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    ranked = o.withColumn(
        "rn", F.row_number().over(Window.orderBy("o_totalprice"))
    )
    ex = o.agg(F.count(F.lit(1)).alias("n"))
    qp = ex.selectExpr(
        "inline(array("
        + ", ".join(
            f"named_struct('q_pct', {q}, "
            f"'lo_rn', ({q} * (n - 1)) div 100 + 1, "
            f"'hi_rn', ({q} * (n - 1) + 99) div 100 + 1, "
            f"'frac_num', ({q} * (n - 1)) % 100, "
            f"'target', ({q} * n + 99) div 100, 'n', n)"
            for q in _HQ_QS
        )
        + "))"
    )
    lo = ranked.join(F.broadcast(qp), F.col("rn") == F.col("lo_rn")).select(
        "q_pct", "target", "n", "frac_num", F.col("o_totalprice").alias("x_lo")
    )
    hi = ranked.join(
        F.broadcast(qp.select("q_pct", "hi_rn")), F.col("rn") == F.col("hi_rn")
    ).select("q_pct", F.col("o_totalprice").alias("x_hi"))
    qs = lo.join(hi, "q_pct").withColumn(
        "exact_value",
        F.col("x_lo")
        + (F.col("x_hi") - F.col("x_lo")) * (F.col("frac_num") / F.lit(100.0)),
    )
    return (
        qs.join(F.broadcast(cum), F.col("cum") >= F.col("target"))
        .groupBy("q_pct", "n", "exact_value")
        .agg(((F.min("bin") + 1) * _HQ_BIN).cast("long").alias("est_upper"))
        .select(
            "q_pct",
            F.col("n").cast("long").alias("n_total"),
            "est_upper",
            "exact_value",
        )
    )


# --------------------------------------------------------------------------
# Streaming KMV — the bottom-k sketch as a custom stateful streaming
# operator (applyInPandasWithState): O(k) state per open day, emitted on
# watermark close. The stream's answer is bit-identical to the batch
# replay (bottom-k of a set is arrival-order independent), so the oracle
# is the full batch KMV grouped by day — a REAL stream gated by value
# hash, not rows-only.
# --------------------------------------------------------------------------

import itertools as _itertools

_kmv_mem_counter = _itertools.count()


@query(
    "stream_kmv_daily_users",
    oracle=f"""
    WITH d AS (
      SELECT DISTINCT strftime(ts, '%Y-%m-%d') AS day,
             {_hexpoly_sql("md5(CAST(user_id AS VARCHAR))", 12)} AS h
      FROM events),
    r AS (
      SELECT day, h,
             row_number() OVER (PARTITION BY day ORDER BY h) AS rn
      FROM d),
    a AS (
      SELECT day, COUNT(*) AS n_distinct,
             MAX(CASE WHEN rn = {_KMV_K} THEN h END) AS kth
      FROM r GROUP BY 1)
    SELECT day,
           CAST(LEAST(n_distinct, {_KMV_K}) AS BIGINT) AS n_kept,
           CAST(kth AS BIGINT) AS kth_hash,
           CAST(CASE WHEN n_distinct < {_KMV_K} THEN n_distinct
                     ELSE ({_KMV_K - 1} * {_KMV_DOMAIN}) // kth
                END AS BIGINT) AS kmv_estimate
    FROM a
    """,
)
def stream_kmv_daily_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day distinct-user estimates from a REAL availableNow stream
    carrying a custom stateful KMV sketch: bottom-32 distinct hashes per
    open day held in the state store (`streaming/stateful.kmv_daily_stateful`),
    each day's estimate emitted when the watermark passes its end (the
    sentinel batch closes the tail). The oracle replays the ENTIRE
    sketch in batch SQL — hash, bottom-k, estimator — so the driver
    gate proves the stream computed the same sketch the batch would,
    the property that makes KMV safe for incremental/backfill parity.

    Scale posture: the day-key shuffle is the only exchange per
    micro-batch; state is O(k)=32 longs per open day (an exact
    streaming distinct would hold every user id); hashes are computed
    codegen-side before the Python worker, which only merges sorted
    longs. At 100 TB the same operator keys by (day, shard) and the
    shards' bottom-k sets merge downstream — KMV's mergeability is
    exactly what the batch twin `agg_kmv_distinct_users` gates.
    """
    from jhu_data_parser_spark.streaming.stateful import run_kmv_daily_stream

    table = f"stream_kmv_daily_{next(_kmv_mem_counter)}"
    return run_kmv_daily_stream(spark, sf_dir, table, k=_KMV_K)


# --------------------------------------------------------------------------
# Linear-interpolation gap fill — the time-series resample the zero-fill
# (events_fill_gaps) can't express: missing interior days get the
# straight line between the neighboring observed days. All arithmetic is
# scaled-integer (cents) with ONE integer division per filled day —
# bit-portable, no float accumulation anywhere.
# --------------------------------------------------------------------------


@query(
    "events_interpolate_linear",
    oracle="""
    WITH daily AS (
      SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
             SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS v
      FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
    spans AS (
      SELECT user_id, MIN(day) AS d0, MAX(day) AS d1 FROM daily GROUP BY 1),
    spine AS (
      SELECT user_id, CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
      FROM spans),
    g AS (
      SELECT s.user_id, s.day, d.v FROM spine s
      LEFT JOIN daily d USING (user_id, day)),
    f AS (
      SELECT user_id, day, v,
             last_value(v IGNORE NULLS) OVER
               (PARTITION BY user_id ORDER BY day ROWS UNBOUNDED PRECEDING) AS v0,
             last_value(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS) OVER
               (PARTITION BY user_id ORDER BY day ROWS UNBOUNDED PRECEDING) AS t0,
             first_value(v IGNORE NULLS) OVER
               (PARTITION BY user_id ORDER BY day
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS v1,
             first_value(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS) OVER
               (PARTITION BY user_id ORDER BY day
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS t1
      FROM g)
    SELECT user_id, strftime(day, '%Y-%m-%d') AS day,
           CAST(CASE WHEN v IS NOT NULL THEN v
                     ELSE (v0 * date_diff('day', day, t1)
                           + v1 * date_diff('day', t0, day))
                          // date_diff('day', t0, t1)
                END AS BIGINT) AS filled_e2,
           (v IS NOT NULL) AS is_observed
    FROM f
    """,
)
def events_interpolate_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user daily purchase series resampled onto a dense daily spine
    with LINEAR interpolation across interior gaps — the time-series
    cleaning step zero-fill can't express (a user who spends 100 then
    300 two days later reads 200 on the silent day, not 0). Values ride
    as exact cents; the interpolated value is
    (v0·(t1−t) + v1·(t−t0)) div (t1−t0) — pure integer arithmetic, one
    integer division, bit-identical in both engines. Spine endpoints are
    each user's own first/last observed day, so v0/v1 always exist.

    PRECONDITION (enforced): daily sums must be non-negative. Spark's
    ``div`` truncates toward zero while DuckDB's ``//`` floors, so the
    two only agree because the interpolation numerator is ≥ 0 — which
    holds iff v0, v1 ≥ 0 (the day weights are positive). Purchase
    values are non-negative by domain; ``assert_true`` on the daily
    aggregate turns a future domain change into a loud failure instead
    of a silent floor-vs-truncate oracle mismatch on odd negative
    quotients.

    Plan shape: every stage — daily aggregate, span aggregate, spine
    generate, observed join, both fill windows — clusters on user_id,
    so the forward and backward fills share one sort within one
    exchange chain (the generate is shuffle-free). At 100 TB this stays
    linear in |spine| and skew-bounded by the busiest user; the
    windows never widen beyond the user's own span.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", F.to_date(F.date_trunc("day", "ts")).alias("day"))
        .agg(F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")).alias("v"))
        # assert_true yields NULL when the precondition holds (and
        # raises otherwise); folding it through coalesce keeps the
        # check inside the consumed column so the optimizer can't
        # prune it away.
        .select(
            "user_id",
            "day",
            F.coalesce(
                F.assert_true(
                    F.col("v") >= 0,
                    F.lit(
                        "events_interpolate_linear requires non-negative daily "
                        "sums: Spark div truncates, DuckDB // floors — they "
                        "diverge on negative quotients"
                    ),
                ).cast("long"),
                F.col("v"),
            ).alias("v"),
        )
    )
    spans = daily.groupBy("user_id").agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    spine = spans.select(
        "user_id",
        F.explode(F.sequence("d0", "d1", F.expr("INTERVAL 1 DAY"))).alias("day"),
    )
    g = spine.join(daily, ["user_id", "day"], "left")
    back = Window.partitionBy("user_id").orderBy("day").rowsBetween(
        Window.unboundedPreceding, 0
    )
    fwd = Window.partitionBy("user_id").orderBy("day").rowsBetween(
        0, Window.unboundedFollowing
    )
    obs_day = F.when(F.col("v").isNotNull(), F.col("day"))
    f = (
        g.withColumn("v0", F.last("v", ignorenulls=True).over(back))
        .withColumn("t0", F.last(obs_day, ignorenulls=True).over(back))
        .withColumn("v1", F.first("v", ignorenulls=True).over(fwd))
        .withColumn("t1", F.first(obs_day, ignorenulls=True).over(fwd))
    )
    return f.select(
        "user_id",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.when(F.col("v").isNotNull(), F.col("v"))
        .otherwise(
            F.expr(
                "(v0 * datediff(t1, day) + v1 * datediff(day, t0)) div datediff(t1, t0)"
            )
        )
        .cast("long")
        .alias("filled_e2"),
        F.col("v").isNotNull().alias("is_observed"),
    )


# --------------------------------------------------------------------------
# Product quantization (PQ) ANN — the memory-compression path of the
# similarity family (Jégou et al., TPAMI 2011): the 64-dim vector
# becomes 4 sub-codes (one int in 0..15 per 16-dim subspace, each fit
# by the integer-exact k-means), and query scoring is ADC — a 4×16
# lookup table of query-to-centroid distances, one table lookup + add
# per subspace per vector. Completes the ANN set: brute force ✓ RP-LSH
# ✓ IVF ✓ int8 ✓ PQ ✓.
# --------------------------------------------------------------------------

_PQ_M = 4
_PQ_SUB = 16
_PQ_K = 16
_PQ_ITERS = 2
_PQ_TOPK = 10
_PQ_SCALE = 1_000_000


def _pq_oracle_sql(limit: int = _PQ_TOPK, src: str = "embeddings") -> str:
    from jhu_data_parser_spark.plans.clustering import _kmeans_ctes

    chains = ",".join(
        _kmeans_ctes(
            _PQ_K,
            _PQ_ITERS,
            where="WHERE vec_id <> 0",
            prefix=f"p{s}_",
            dim=_PQ_SUB,
            lo=s * _PQ_SUB + 1,
            src=src,
        )
        for s in range(_PQ_M)
    )
    qluts = ",".join(
        f"""
    qq{s} AS (SELECT list_transform(CAST(embedding AS DOUBLE[])
                                    [{s * _PQ_SUB + 1}:{(s + 1) * _PQ_SUB}],
                                    x -> CAST(ROUND(x * {_PQ_SCALE}) AS BIGINT)) AS q
              FROM {src} WHERE vec_id = 0),
    lut{s} AS (SELECT c.cid,
                      CAST(list_sum(list_transform(list_zip(q.q, c.c),
                           z -> (z[1] - z[2]) * (z[1] - z[2]))) AS BIGINT) AS d
               FROM p{s}_c{_PQ_ITERS - 1} c CROSS JOIN qq{s} q)"""
        for s in range(_PQ_M)
    )
    return f"""
    WITH {chains},{qluts},
    codes AS (
      SELECT a0.id AS vec_id, a0.cid AS code0, a1.cid AS code1,
             a2.cid AS code2, a3.cid AS code3
      FROM p0_a{_PQ_ITERS} a0
      JOIN p1_a{_PQ_ITERS} a1 USING (id)
      JOIN p2_a{_PQ_ITERS} a2 USING (id)
      JOIN p3_a{_PQ_ITERS} a3 USING (id)),
    adc AS (
      SELECT c.vec_id,
             CAST(c.code0 AS BIGINT) AS code0, CAST(c.code1 AS BIGINT) AS code1,
             CAST(c.code2 AS BIGINT) AS code2, CAST(c.code3 AS BIGINT) AS code3,
             CAST(l0.d + l1.d + l2.d + l3.d AS BIGINT) AS adc_dist
      FROM codes c
      JOIN lut0 l0 ON l0.cid = c.code0
      JOIN lut1 l1 ON l1.cid = c.code1
      JOIN lut2 l2 ON l2.cid = c.code2
      JOIN lut3 l3 ON l3.cid = c.code3)
    SELECT vec_id, code0, code1, code2, code3, adc_dist
    FROM adc ORDER BY adc_dist, vec_id LIMIT {limit}
    """


def _pq_adc_frame(spark: SparkSession, sf_dir: str):
    """Shared PQ serving core: fit/cache the codebook, inline it and
    the ADC LUT as literals, and return ``(adc_frame, q_ints)`` where
    the frame is the full (vec_id, code0..3, adc_dist) projection over
    one shuffle-free scan. sim_pq_topk and sim_pq_rerank are its two
    heads (compressed-only ranking vs. ADC-shortlist + exact refine).

    PQ-compressed scoring for query vec_id=0: each database
    vector is 4 sub-codes (16-dim subspaces × 16 integer-exact k-means
    centroids — 2 bytes total instead of 256 bytes of floats, the
    memory ratio that makes billion-vector serving fit in RAM), scored
    by ADC: a 4×16 query-to-centroid lookup table, one element_at + add
    per subspace. The oracle replays all four subspace fits, the
    encoding, the LUT and the ranking — the driver gate certifies the
    whole index, codes included.

    Scale posture: fitting is the index build (ONE joint chain for all
    four subspaces — kmeans_fit_multi); the codebook and ADC LUT are
    bounded index artifacts (M·K sub-dim int vectors, KBs by params
    not data) collected to the driver once and inlined as literals, so
    SERVING is exactly one shuffle-free scan — all four argmins and
    LUT adds in a single projection, then TakeOrderedAndProject. No
    join touches the vector table at query time; the float vectors
    never leave the scan.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    return _pq_adc_over(spark, emb, cache_tag="embeddings")


def _pq_adc_over(spark: SparkSession, emb, cache_tag: str):
    """The corpus-agnostic body of :func:`_pq_adc_frame`: fit/serve PQ
    over any (vec_id, embedding) frame — the clustered-recall report
    runs the identical pipeline over a synthetic clustered corpus.
    ``cache_tag`` namespaces the fit cache per corpus derivation (two
    frames can share input files but differ in content)."""
    from jhu_data_parser_spark.operators.clustering import (
        KM_SCALE,
        kmeans_fit_multi,
        quantize_vectors,
    )

    # All four subspace codebooks fit JOINTLY in one chain of Spark
    # jobs (kmeans_fit_multi): one scan quantizes the full vector and
    # explodes it into (subspace, id, sub-vector) rows, then each
    # Lloyd iteration is ONE broadcast-argmin projection plus ONE
    # (g, cid, pos) update shuffle — per-subspace thread fans paid ~77
    # sequential tiny stages of scheduler latency (r5: 8.2 s wall);
    # the joint fit is a handful of stages regardless of M. Results
    # are bit-identical to per-subspace kmeans_fit (same seeding,
    # argmin, floor-mean — the unrolled DuckDB oracle re-proves it).
    # Fits are an INDEX BUILD (same once-per-corpus lifecycle as the
    # IVF index), a ``pq_fit`` artifact of jhu_data_parser_spark.cache,
    # so the recall report and repeated serving queries reuse them.
    db = emb.filter(F.col("vec_id") != 0)

    def build() -> tuple[list, list]:
        pts = db.select(
            F.col("vec_id").alias("id"),
            F.explode(
                F.expr(
                    f"transform(sequence(0, {_PQ_M - 1}), s -> named_struct("
                    "'g', s, "
                    f"'q', transform(slice(embedding, s * {_PQ_SUB} + 1, {_PQ_SUB}), "
                    f"x -> CAST(ROUND(CAST(x AS DOUBLE) * {KM_SCALE}, 0) AS BIGINT))))"
                )
            ).alias("e"),
        ).select(F.col("e.g").alias("g"), "id", F.col("e.q").alias("q"))
        rows = kmeans_fit_multi(
            pts, k=_PQ_K, iterations=_PQ_ITERS, collapse_duplicates=True
        ).collect()
        # The codebook is the index artifact: M·K rows of SUB-dim int
        # vectors (4 KB here, bounded by params not data) — collect it
        # to the driver like the IVF centroid fit does, so serving can
        # inline it as literals. The query vector is one more bounded
        # (single-row) collect.
        cents_data = [
            sorted(
                ((r["cid"], list(r["c"])) for r in rows if r["g"] == s),
            )
            for s in range(_PQ_M)
        ]
        q_ints = list(
            quantize_vectors(emb.filter(F.col("vec_id") == 0)).select("q").first()["q"]
        )
        return cents_data, q_ints

    params = (_PQ_M, _PQ_SUB, _PQ_K, _PQ_ITERS)
    cents_data, q_ints = cache.get_or_build("pq_fit", emb, params, build, cache_tag)

    # ADC lookup tables, computed driver-side in exact integer math
    # (identical to the oracle's per-subspace (q_i - c_i)² sums).
    lut = [
        [
            sum(
                (q_ints[s * _PQ_SUB + i] - c[i]) ** 2
                for i in range(_PQ_SUB)
            )
            for (_cid, c) in cents_data[s]
        ]
        for s in range(_PQ_M)
    ]

    def carr_lit(s: int) -> str:
        return (
            "array("
            + ",".join(
                f"named_struct('cid', {cid}L, 'c', "
                f"array({','.join(str(v) + 'L' for v in c)}))"
                for cid, c in cents_data[s]
            )
            + ")"
        )

    def lut_lit(s: int) -> str:
        return "array(" + ",".join(str(v) + "L" for v in lut[s]) + ")"

    # Single-scan encode + ADC: quantize all four subspaces, argmin
    # each against its LITERAL centroid array, and index the LITERAL
    # LUT by the code — one projection over the scan with zero joins,
    # zero extra jobs. (The previous broadcast-dim formulation paid
    # ~8 tiny broadcast-materialization jobs of pure scheduler latency
    # per serve — ~4 s at sf0.1 — for dims that are literals by
    # nature.) Codes are contiguous 0..K-1 by the row_number seeding,
    # so the LUT lookup is element_at(lut, code + 1).
    enc = db.select(
        "vec_id",
        *[
            F.expr(
                f"transform(slice(embedding, {s * _PQ_SUB + 1}, {_PQ_SUB}), "
                f"x -> CAST(ROUND(CAST(x AS DOUBLE) * {_PQ_SCALE}, 0) AS BIGINT))"
            ).alias(f"q{s}")
            for s in range(_PQ_M)
        ],
    )
    for s in range(_PQ_M):
        enc = enc.withColumn(
            f"code{s}",
            F.expr(
                f"array_min(transform({carr_lit(s)}, ctr -> named_struct("
                f"'d', aggregate(zip_with(q{s}, ctr.c, (a, b) -> (a - b) * (a - b)), "
                "CAST(0 AS BIGINT), (acc, x) -> acc + x), "
                "'cid', ctr.cid))).cid"
            ),
        )
    adc = enc.select(
        "vec_id",
        *[F.col(f"code{s}").cast("long").alias(f"code{s}") for s in range(_PQ_M)],
        sum(
            F.expr(f"element_at({lut_lit(s)}, CAST(code{s} + 1 AS INT))")
            for s in range(_PQ_M)
        )
        .cast("long")
        .alias("adc_dist"),
    )
    return adc, q_ints


@query("sim_pq_topk", oracle=_pq_oracle_sql())
def sim_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-compressed top-10 (see :func:`_pq_adc_frame` for the full
    index story): ranking is by the 2-byte codes' ADC distance alone —
    the float vectors never leave the scan."""
    adc, _ = _pq_adc_frame(spark, sf_dir)
    return adc.orderBy("adc_dist", "vec_id").limit(_PQ_TOPK)


_PQ_RERANK_SHORTLIST = 50


def _pq_rerank_oracle_sql() -> str:
    q_int = (
        f"list_transform(CAST(embedding AS DOUBLE[]), "
        f"x -> CAST(ROUND(x * {_PQ_SCALE}) AS BIGINT))"
    )
    return f"""
    WITH pq AS ({_pq_oracle_sql(limit=_PQ_RERANK_SHORTLIST)}),
    qf AS (SELECT {q_int} AS q FROM embeddings WHERE vec_id = 0),
    ef AS (SELECT vec_id, {q_int} AS q FROM embeddings WHERE vec_id <> 0)
    SELECT p.vec_id, p.adc_dist,
           CAST(list_sum(list_transform(list_zip(e.q, qf.q),
                z -> (z[1] - z[2]) * (z[1] - z[2]))) AS BIGINT) AS exact_dist
    FROM pq p JOIN ef e USING (vec_id) CROSS JOIN qf
    ORDER BY exact_dist, p.vec_id LIMIT {_PQ_TOPK}
    """


@query("sim_pq_rerank", oracle=_pq_rerank_oracle_sql())
def sim_pq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage PQ serving — ADC shortlist + EXACT re-rank (the refine
    step of Jégou et al. §IV-C, and how every production IVF-PQ stack
    actually answers queries): the compressed codes rank ALL vectors
    (one shuffle-free scan, 2 bytes/vector of index state), the top-50
    shortlist joins back to the full vectors, and only those 50 pay the
    exact 64-dim integer-L2 score. Returns the exact-ranked top-10 with
    both distances, so the output shows what the refine step corrected.

    Scale posture: this is the 100 TB query shape — the full-precision
    vectors are touched for R rows per query regardless of corpus size
    (broadcast 50-row shortlist into the vector scan; no shuffle of the
    vector table). The oracle replays the fits, ADC ranking, shortlist
    cut, and the exact re-rank — the driver gate certifies the whole
    two-stage pipeline including the tie-broken shortlist boundary."""
    adc, q_ints = _pq_adc_frame(spark, sf_dir)
    shortlist = (
        adc.orderBy("adc_dist", "vec_id")
        .limit(_PQ_RERANK_SHORTLIST)
        .select("vec_id", "adc_dist")
    )
    emb = load_table(spark, sf_dir, "embeddings")
    q_lit = "array(" + ",".join(str(v) + "L" for v in q_ints) + ")"
    ef = emb.filter(F.col("vec_id") != 0).select(
        "vec_id",
        F.expr(
            f"transform(embedding, x -> "
            f"CAST(ROUND(CAST(x AS DOUBLE) * {_PQ_SCALE}, 0) AS BIGINT))"
        ).alias("q"),
    )
    rr = ef.join(F.broadcast(shortlist), "vec_id").select(
        "vec_id",
        "adc_dist",
        F.expr(
            f"aggregate(zip_with(q, {q_lit}, (a, b) -> (a - b) * (a - b)), "
            "CAST(0 AS BIGINT), (acc, x) -> acc + x)"
        ).alias("exact_dist"),
    )
    return rr.orderBy("exact_dist", "vec_id").limit(_PQ_TOPK)


# --------------------------------------------------------------------------
# PQ recall report — measures what the 128x compression costs: overlap
# of the PQ-ADC top-10 with the EXACT full-dimension top-10 under the
# same integer-L2 metric. Completes the index-evaluation trio
# (sim_lsh_recall_report, sim_ivf_recall_report, this) — every ANN
# approximation in the catalog ships with a driver-gated measurement of
# its own accuracy.
# --------------------------------------------------------------------------


def _pq_recall_oracle_sql(src: str = "embeddings") -> str:
    q_int = (
        f"list_transform(CAST(embedding AS DOUBLE[]), "
        f"x -> CAST(ROUND(x * {_PQ_SCALE}) AS BIGINT))"
    )
    dist = (
        "CAST(list_sum(list_transform(list_zip(e.q, qf.q), "
        "z -> (z[1] - z[2]) * (z[1] - z[2]))) AS BIGINT)"
    )
    return f"""
    WITH pq AS ({_pq_oracle_sql(src=src)}),
    qf AS (SELECT {q_int} AS q FROM {src} WHERE vec_id = 0),
    ef AS (SELECT vec_id, {q_int} AS q FROM {src} WHERE vec_id <> 0),
    exact AS (
      SELECT e.vec_id FROM ef e CROSS JOIN qf
      ORDER BY {dist}, e.vec_id LIMIT {_PQ_TOPK})
    SELECT CAST({_PQ_TOPK} AS INT) AS k,
           CAST(COUNT(*) AS BIGINT) AS n_overlap,
           CAST(COUNT(*) AS DOUBLE) / CAST({_PQ_TOPK} AS DOUBLE) AS recall
    FROM exact JOIN pq USING (vec_id)
    """


@query("sim_pq_recall_report", oracle=_pq_recall_oracle_sql())
def sim_pq_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@10 of PQ-ADC against the exact full-dimension integer-L2
    ranking — the accuracy number a deployment watches before swapping
    256-byte vectors for 2-byte codes. Both rankings and the overlap
    replay in the oracle, so the driver gate certifies the measured
    recall itself (the trio's contract: every ANN path ships with its
    own gated evaluation).

    Plan shape: the exact arm is one scan + codegen integer distance +
    TakeOrderedAndProject; the PQ arm reuses sim_pq_topk's plan; the
    overlap is a 10-row broadcast join + 1-row aggregate.

    Expected value on THIS data: low (~0.1). The testdata embeddings
    are i.i.d. uniform, so pairwise distances concentrate tightly and
    the 4×16 quantization error swamps the tiny true-distance spread —
    the textbook failure mode PQ papers warn about (real embedding
    manifolds cluster, which is what makes PQ work). The report exists
    to MEASURE that honestly; the gate certifies the measurement.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    return _pq_recall_over(spark, emb, cache_tag="embeddings")


def _pq_recall_over(spark: SparkSession, emb, cache_tag: str) -> DataFrame:
    """recall@k of PQ-ADC vs the exact integer-L2 ranking over any
    (vec_id, embedding) frame — shared by the i.i.d.-uniform report
    (honest ~0.1) and the clustered report (the ~0.9 regime)."""
    adc, _ = _pq_adc_over(spark, emb, cache_tag=cache_tag)
    pq = adc.orderBy("adc_dist", "vec_id").limit(_PQ_TOPK).select("vec_id")
    q_int = (
        f"transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * {_PQ_SCALE}, 0) AS BIGINT))"
    )
    qf = emb.filter(F.col("vec_id") == 0).select(F.expr(q_int).alias("qq"))
    ef = emb.filter(F.col("vec_id") != 0).select("vec_id", F.expr(q_int).alias("q"))
    exact = (
        ef.crossJoin(F.broadcast(qf))
        .select(
            "vec_id",
            F.expr(
                "aggregate(zip_with(q, qq, (a, b) -> (a - b) * (a - b)), "
                "CAST(0 AS BIGINT), (acc, x) -> acc + x)"
            ).alias("d"),
        )
        .orderBy("d", "vec_id")
        .limit(_PQ_TOPK)
        .select("vec_id")
    )
    overlap = exact.join(F.broadcast(pq), "vec_id")
    return overlap.agg(
        F.lit(_PQ_TOPK).cast("int").alias("k"),
        F.count(F.lit(1)).cast("long").alias("n_overlap"),
        (F.count(F.lit(1)).cast("double") / F.lit(float(_PQ_TOPK))).alias("recall"),
    )


# --------------------------------------------------------------------------
# PQ recall on CLUSTERED data — the regime PQ is actually built for.
# The uniform report above honestly measures ~0.1: i.i.d. vectors
# concentrate pairwise distances and the 4×16 quantization error
# swamps the tiny true spread. Real embedding manifolds cluster, which
# is what makes PQ work — this report plants a deterministic clustered
# corpus (16 well-separated centers, ±0.05 noise) and runs the
# IDENTICAL fit/encode/ADC/overlap pipeline, demonstrating the ~0.9
# regime; the oracle replays corpus synthesis, all four subspace fits,
# both rankings, and the overlap.
# --------------------------------------------------------------------------

# 160 ids in 16 planted clusters (cluster = vec_id % 16). Center value
# of dim i for cluster c is ((c*37 + i*11) % 16) — integer-grid centers
# ≥1.0 apart — plus per-(id, dim) noise in ±0.05. All arithmetic is
# integer-derived, so ROUND(x * 1e6) re-quantizes both engines to the
# identical integers. The k-means seeding (first 16 ids, 1..16) lands
# one seed in every cluster, so the planted structure is recovered
# deterministically.
_SYNTH_N = 160
_SYNTH_VEC = (
    "CAST(((vec_id % 16) * 37 + (i + 1) * 11) % 16 AS DOUBLE) + "
    "CAST(((vec_id * 7919 + (i + 1) * 104729) % 100001) - 50000 AS DOUBLE) / "
    "CAST(1000000 AS DOUBLE)"
)
_SYNTH_SRC = (
    f"(SELECT vec_id, list_transform(range(64), i -> {_SYNTH_VEC}) "
    f"AS embedding FROM embeddings WHERE vec_id < {_SYNTH_N}) synth"
)


def _synth_clustered(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.filter(F.col("vec_id") < _SYNTH_N).select(
        "vec_id",
        F.expr(f"transform(sequence(0, 63), i -> {_SYNTH_VEC})").alias(
            "embedding"
        ),
    )


@query("sim_pq_recall_clustered", oracle=_pq_recall_oracle_sql(src=_SYNTH_SRC))
def sim_pq_recall_clustered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@10 of PQ-ADC on the planted-cluster corpus — the second
    row of the PQ evaluation story: ~0.1 on i.i.d.-uniform vectors
    (distance concentration, the textbook failure mode), ~0.9 here,
    where inter-cluster distances dwarf quantization error. Same
    pipeline end to end as :func:`sim_pq_recall_report` (joint subspace
    fits, literal codebook + ADC LUT, shuffle-free encode scan, exact
    arm, overlap) over the synthesized frame; the oracle replays the
    synthesis and everything after it, so the driver gate certifies
    the measured recall itself."""
    return _pq_recall_over(
        spark, _synth_clustered(spark, sf_dir), cache_tag="synth_clustered_v1"
    )
