"""Catalog wave 22 — round 9 continuation: experiment/audit statistics.

Reference parity note: the reference (/root/reference) has no analytics
surface — [extension] operators of the analytics family. Exactness:
all inputs to floating expressions are exact int64 (micro-scaled sums,
counts) or shared decimal literals, and both engines evaluate the
IDENTICAL expression tree — IEEE ops are deterministic functions, so
fixed-point floors of the results hash-match.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from jhu_data_parser_spark import cache
from jhu_data_parser_spark.plans.catalog import query
from jhu_data_parser_spark.sources.tables import load_table

# --------------------------------------------------------------------------
# Welch's t statistic for an A/B readout — 'click' (A) vs 'view' (B)
# event values. Group moments come from exact integer Σ floor(1e3·v)
# and Σ floor(1e3·v)² sums — MILLI scaling, because the micro-squared
# sum overflows int64 after ~40 rows at v≈500 (caught by Spark's ANSI
# overflow check at sf0.01): v_milli < 5·10^5, squares < 2.5·10^11,
# Σ safe to ~3·10^7 rows per group (document the bound; a larger
# corpus pre-aggregates per partition into HUGEINT-free decimal
# sums). t is scale-invariant, so the statistic is unchanged; the
# t computation is a FIXED chain of
# IEEE ops over those exact integers, identical in both engines, and
# the gate rides on floor(1e6·t).
#
#   var_i = (Σx² − (Σx)²/n) / (n − 1)      [micro² units]
#   t     = (m1 − m2) / sqrt(v1/n1 + v2/n2)
# --------------------------------------------------------------------------

# Degenerate-input guard (r9 ADVICE): a single-row group makes the
# (n − 1) variance divisor zero, and two zero-variance groups make the
# pooled denominator zero — either way the raw chain yields NaN/inf
# whose BIGINT cast throws under Spark ANSI while DuckDB would error
# differently. Pin the degenerate case to NULL with the SAME predicate
# in both engines (the variance positivity test reuses the identical
# IEEE subexpression the t chain itself computes, so the branch choice
# is consistent by construction).
_WELCH_GUARD = (
    "n1 > 1 AND n2 > 1 AND ("
    "(CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)"
    " / CAST(n1 AS DOUBLE)) > 0.0"
    " OR (CAST(q2 AS DOUBLE) - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE)"
    " / CAST(n2 AS DOUBLE)) > 0.0)"
)

_WELCH_RAW = (
    "CAST(floor(1000000.0 * ("
    "(CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)"
    " - CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE))"
    " / sqrt("
    "((CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)"
    " / CAST(n1 AS DOUBLE)) / CAST(n1 - 1 AS DOUBLE)) / CAST(n1 AS DOUBLE)"
    " + ((CAST(q2 AS DOUBLE) - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE)"
    " / CAST(n2 AS DOUBLE)) / CAST(n2 - 1 AS DOUBLE)) / CAST(n2 AS DOUBLE)"
    "))) AS BIGINT)"
)

_WELCH_EXPR = f"CASE WHEN {_WELCH_GUARD} THEN {_WELCH_RAW} ELSE NULL END"

_WELCH_ORACLE = f"""
    WITH g AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(floor(1000.0 * value) AS BIGINT)) AS BIGINT)
               AS s,
             CAST(SUM(CAST(floor(1000.0 * value) AS BIGINT)
                      * CAST(floor(1000.0 * value) AS BIGINT)) AS BIGINT)
               AS q
      FROM events WHERE event_type IN ('click', 'view') GROUP BY 1),
    w AS (
      SELECT a.n AS n1, a.s AS s1, a.q AS q1,
             b.n AS n2, b.s AS s2, b.q AS q2
      FROM (SELECT * FROM g WHERE event_type = 'click') a,
           (SELECT * FROM g WHERE event_type = 'view') b)
    SELECT n1, n2,
           CAST(s1 // n1 - s2 // n2 AS BIGINT) AS mean_diff_milli,
           {_WELCH_EXPR} AS t_micro
    FROM w
    """


@query("events_ab_welch_t", oracle=_WELCH_ORACLE)
def events_ab_welch_t(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's t for click-vs-view values from exact integer group
    moments; one map-side-combined aggregate, 1-row output."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "view")
    )
    g = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.expr("CAST(floor(1000.0 * value) AS BIGINT)"))
        .cast("long")
        .alias("s"),
        F.sum(
            F.expr(
                "CAST(floor(1000.0 * value) AS BIGINT)"
                " * CAST(floor(1000.0 * value) AS BIGINT)"
            )
        )
        .cast("long")
        .alias("q"),
    )
    a = g.filter(F.col("event_type") == "click").select(
        F.col("n").alias("n1"), F.col("s").alias("s1"), F.col("q").alias("q1")
    )
    b = g.filter(F.col("event_type") == "view").select(
        F.col("n").alias("n2"), F.col("s").alias("s2"), F.col("q").alias("q2")
    )
    w = a.crossJoin(F.broadcast(b))
    return w.select(
        "n1",
        "n2",
        F.expr("CAST(s1 DIV n1 - s2 DIV n2 AS BIGINT)").alias(
            "mean_diff_milli"
        ),
        F.expr(_WELCH_EXPR).alias("t_micro"),
    )


# --------------------------------------------------------------------------
# Benford first-digit audit — the classic fraud screen over
# o_totalprice: observed first-digit counts vs the Benford expectation
# n·log10(1+1/d), with the chi-square statistic. The log10 values are
# PRE-COMPUTED python double literals inlined into BOTH plans (one
# shared literal per digit — no cross-engine transcendental calls);
# expected counts and chi² are then fixed IEEE chains over exact
# integers and those literals, gated at floor(1e6·x).
# --------------------------------------------------------------------------

_BENFORD_P = {d: math.log10(1.0 + 1.0 / d) for d in range(1, 10)}


def _benford_oracle() -> str:
    cases = " ".join(
        f"WHEN {d} THEN {_BENFORD_P[d]!r}" for d in range(1, 10)
    )
    return f"""
    WITH fd AS (
      SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR),
                         1, 1) AS BIGINT) AS digit
      FROM orders WHERE o_totalprice >= 1.0),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM fd),
    obs AS (SELECT digit, CAST(COUNT(*) AS BIGINT) AS c FROM fd GROUP BY 1)
    SELECT obs.digit,
           obs.c AS observed,
           CAST(floor(1000000.0 * (CAST(n.n AS DOUBLE)
                * (CASE obs.digit {cases} END))) AS BIGINT)
             AS expected_micro,
           CAST(floor(1000000.0 *
                ((CAST(obs.c AS DOUBLE) - CAST(n.n AS DOUBLE)
                    * (CASE obs.digit {cases} END))
                 * (CAST(obs.c AS DOUBLE) - CAST(n.n AS DOUBLE)
                    * (CASE obs.digit {cases} END))
                 / (CAST(n.n AS DOUBLE) * (CASE obs.digit {cases} END))))
             AS BIGINT) AS chi2_term_micro
    FROM obs, n
    """


@query("quality_benford_audit", oracle=_benford_oracle())
def quality_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-digit Benford screen over order totals: per digit the
    observed count, the Benford expectation, and the chi-square term
    (all micro-fixed-point; log10 probabilities are shared literals)."""
    cases = " ".join(
        f"WHEN {d} THEN {_BENFORD_P[d]!r}" for d in range(1, 10)
    )
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_totalprice") >= 1.0
    )
    fd = o.select(
        F.expr(
            "CAST(substring(CAST(CAST(floor(o_totalprice) AS BIGINT)"
            " AS STRING), 1, 1) AS BIGINT)"
        ).alias("digit")
    )
    n = fd.agg(F.count(F.lit(1)).cast("long").alias("n"))
    obs = fd.groupBy("digit").agg(F.count(F.lit(1)).cast("long").alias("c"))
    j = obs.crossJoin(F.broadcast(n))
    p = f"(CASE digit {cases} END)"
    return j.select(
        "digit",
        F.col("c").alias("observed"),
        F.expr(
            f"CAST(floor(1000000.0 * (CAST(n AS DOUBLE) * {p})) AS BIGINT)"
        ).alias("expected_micro"),
        F.expr(
            "CAST(floor(1000000.0 * ("
            f"(CAST(c AS DOUBLE) - CAST(n AS DOUBLE) * {p})"
            f" * (CAST(c AS DOUBLE) - CAST(n AS DOUBLE) * {p})"
            f" / (CAST(n AS DOUBLE) * {p}))) AS BIGINT)"
        ).alias("chi2_term_micro"),
    )


# --------------------------------------------------------------------------
# Video scene-cut detection — the video member of the segmentation
# family (VAD is the audio member): per-frame pixel sums through the
# REAL ISO BMFF walk, a cut where the mean-byte delta between adjacent
# frames exceeds 64 (integer-exact: |Δ fsum| > 64·w·h·3), scenes =
# cuts + 1. The oracle replays every frame byte from the LCG
# recurrence without seeing a container.
# --------------------------------------------------------------------------

_SCENE_ORACLE = """
    WITH dims AS (
      SELECT doc_id,
             (doc_id % 4 + 1) * 8 AS w,
             (doc_id % 3 + 1) * 8 AS h,
             doc_id % 5 + 2 AS nf
      FROM documents),
    fr AS (
      SELECT d.doc_id, d.w, d.h, d.nf, g.f,
             ((((g.f + d.doc_id)::HUGEINT * 6364136223846793005
                + 1442695040888963407) % 18446744073709551616::HUGEINT)
              // 8589934592) % 256 AS v
      FROM dims d CROSS JOIN generate_series(0, 6) g(f)
      WHERE g.f < d.nf),
    de AS (
      SELECT doc_id, w, h, nf, f,
             v * w * h * 3 AS fsum,
             lag(v * w * h * 3) OVER (PARTITION BY doc_id ORDER BY f) AS pv
      FROM fr),
    cuts AS (
      SELECT doc_id, MAX(nf) AS n_frames,
             CAST(COUNT(*) FILTER (pv IS NOT NULL
                    AND abs(fsum - pv) > 64 * w * h * 3) AS BIGINT) AS n_cuts
      FROM de GROUP BY doc_id)
    SELECT doc_id,
           CAST(n_frames AS INT) AS n_frames,
           n_cuts,
           CAST(n_cuts + 1 AS BIGINT) AS n_scenes
    FROM cuts
    """


@query("multimodal_video_scene_cuts", oracle=_SCENE_ORACLE)
def multimodal_video_scene_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scene cuts per clip: adjacent-frame mean-byte delta > 64 over
    the real MP4 decode; per doc the frame count, cut count, and scene
    count."""
    from pyspark.sql import Window

    from jhu_data_parser_spark.operators.multimodal import (
        attach_mp4_raw,
        extract_mp4_frame_sums,
    )

    d = attach_mp4_raw(load_table(spark, sf_dir, "documents"))
    fs = extract_mp4_frame_sums(d)
    w = Window.partitionBy("doc_id").orderBy("f")
    de = fs.withColumn("pv", F.lag("fsum").over(w))
    return de.groupBy("doc_id").agg(
        F.max(F.col("f") + 1).cast("int").alias("n_frames"),
        F.sum(
            F.when(
                F.col("pv").isNotNull()
                & (
                    F.abs(F.col("fsum") - F.col("pv"))
                    > 64 * F.col("width") * F.col("height") * 3
                ),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_cuts"),
    ).withColumn("n_scenes", (F.col("n_cuts") + 1).cast("long"))


# --------------------------------------------------------------------------
# Schema-evolution merge read — two parquet snapshots of the "same"
# table across a column migration (v1 carries o_custkey, v2 carries
# o_orderstatus; disjoint key ranges), read back in ONE scan with
# mergeSchema; the report pins the unified-schema semantics: per
# snapshot version, row counts and null counts of each migrated
# column. The oracle replays the union-with-NULL-padding semantics
# from the base table.
# --------------------------------------------------------------------------

_EVOLVE_ORACLE = """
    WITH v1 AS (
      SELECT o_orderkey, o_custkey, CAST(NULL AS VARCHAR) AS o_orderstatus
      FROM orders WHERE o_orderkey % 2 = 0),
    v2 AS (
      SELECT o_orderkey, CAST(NULL AS BIGINT) AS o_custkey, o_orderstatus
      FROM orders WHERE o_orderkey % 2 = 1),
    u AS (SELECT *, 1 AS v FROM v1 UNION ALL SELECT *, 2 AS v FROM v2)
    SELECT CAST(v AS INT) AS snapshot_version,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(*) - COUNT(o_custkey) AS BIGINT) AS null_custkey,
           CAST(COUNT(*) - COUNT(o_orderstatus) AS BIGINT) AS null_status,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_checksum
    FROM u GROUP BY 1
    """


@query("source_schema_evolution_merge", oracle=_EVOLVE_ORACLE)
def source_schema_evolution_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write two schema-divergent parquet snapshots, read them back in
    one mergeSchema scan, and report the unified-schema null
    accounting per snapshot version."""
    o = load_table(spark, sf_dir, "orders")
    out = cache.scratch_dir("evolve")
    o.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_custkey", F.lit(1).alias("v")
    ).write.mode("overwrite").parquet(f"{out}/v=1")
    o.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", "o_orderstatus", F.lit(2).alias("v")
    ).write.mode("overwrite").parquet(f"{out}/v=2")
    u = spark.read.option("mergeSchema", "true").parquet(
        f"{out}/v=1", f"{out}/v=2"
    )
    return u.groupBy(F.col("v").cast("int").alias("snapshot_version")).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        (F.count(F.lit(1)) - F.count("o_custkey")).cast("long").alias(
            "null_custkey"
        ),
        (F.count(F.lit(1)) - F.count("o_orderstatus")).cast("long").alias(
            "null_status"
        ),
        F.sum("o_orderkey").cast("long").alias("key_checksum"),
    )


# --------------------------------------------------------------------------
# Feature-store point-in-time assembly — the training-set build every
# feature platform serves: for each label event (purchase), three
# leakage-safe features strictly BEFORE the label instant, all from
# ONE user-clustered sort (three window frames share the single
# exchange + sort — the plan shape that makes PIT assembly linear):
#   f_last_click_milli  last click value before ts (ROWS, ignore nulls)
#   f_events_7d         events in [ts-7d, ts)      (RANGE on epoch-us)
#   f_cum_spend_milli   all-history spend before ts (ROWS running sum)
# Exactness: milli-scaled integer values, integer epoch-us bounds,
# (ts, event_id) deterministic order shared by both engines.
# --------------------------------------------------------------------------

_FSTORE_ORACLE = """
    WITH e AS (
      SELECT event_id, user_id, event_type, epoch_us(ts) AS us,
             CAST(floor(1000.0 * value) AS BIGINT) AS vm
      FROM events),
    w AS (
      SELECT event_id, user_id, event_type,
             last_value(CASE WHEN event_type = 'click' THEN vm END
                        IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY us, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS f_last_click_milli,
             COUNT(*) OVER (PARTITION BY user_id ORDER BY us
                            RANGE BETWEEN 604800000000 PRECEDING
                                      AND 1 PRECEDING)
               AS f_events_7d,
             COALESCE(SUM(vm) OVER (PARTITION BY user_id
                        ORDER BY us, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS f_cum_spend_milli
      FROM e)
    SELECT event_id, user_id,
           CAST(f_last_click_milli AS BIGINT) AS f_last_click_milli,
           CAST(f_events_7d AS BIGINT) AS f_events_7d,
           CAST(f_cum_spend_milli AS BIGINT) AS f_cum_spend_milli
    FROM w WHERE event_type = 'purchase'
    """


@query("join_feature_store_multi", oracle=_FSTORE_ORACLE)
def join_feature_store_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe multi-feature PIT assembly for purchase labels —
    three as-of features off one user-clustered sort (one exchange,
    three shared-frame windows)."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        F.expr("unix_micros(ts)").alias("us"),
        F.expr("CAST(floor(1000.0 * value) AS BIGINT)").alias("vm"),
    )
    wrows = (
        Window.partitionBy("user_id")
        .orderBy("us", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wrange = (
        Window.partitionBy("user_id")
        .orderBy("us")
        .rangeBetween(-604_800_000_000, -1)
    )
    w = e.select(
        "event_id",
        "user_id",
        "event_type",
        F.last(
            F.when(F.col("event_type") == "click", F.col("vm")), ignorenulls=True
        )
        .over(wrows)
        .cast("long")
        .alias("f_last_click_milli"),
        F.count(F.lit(1)).over(wrange).cast("long").alias("f_events_7d"),
        F.coalesce(F.sum("vm").over(wrows), F.lit(0))
        .cast("long")
        .alias("f_cum_spend_milli"),
    )
    return w.filter(F.col("event_type") == "purchase").drop("event_type")


# --------------------------------------------------------------------------
# Bag-semantics set ops — INTERSECT ALL / EXCEPT ALL complete the §2.7
# family (the distinct variants landed in r5/r6). Multiplicity matters
# here: the orders side repeats customers, so the ALL results differ
# from the set forms and the driver's multiset value-hash pins the
# per-row multiplicities.
# --------------------------------------------------------------------------

_SETQ_A = "SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING'"
_SETQ_B = "SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 300000.0"


def _set_a(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select(F.col("c_custkey").alias("custkey"))
    )


def _set_b(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 300000.0)
        .select(F.col("o_custkey").alias("custkey"))
    )


@query("set_intersect_all", oracle=f"{_SETQ_A} INTERSECT ALL {_SETQ_B}")
def set_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _set_a(spark, sf_dir).intersectAll(_set_b(spark, sf_dir))


@query("set_except_all", oracle=f"{_SETQ_B} EXCEPT ALL {_SETQ_A}")
def set_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _set_b(spark, sf_dir).exceptAll(_set_a(spark, sf_dir))


# --------------------------------------------------------------------------
# Deterministic Poisson bootstrap — the scalable bootstrap (each row's
# replicate weight ~ Poisson(1), drawn independently per (row,
# replicate) from an md5 uniform through the inverse CDF, so no
# resampling pass touches the data twice and the whole procedure is
# one linear scan). Thresholds are SHARED double literals
# (e^{-1}·Σ 1/k!); the metric per replicate is the weighted mean
# quality proxy (n_chars), exact by integer weighted sums with one
# final fixed-point divide.
# --------------------------------------------------------------------------

_BOOT_REPS = 8
# cumulative Poisson(1) CDF thresholds for k = 0..5 (shared literals)
_POIS_CDF = []
_acc = 0.0
_fact = 1
for _k in range(6):
    if _k > 0:
        _fact *= _k
    _acc += math.exp(-1.0) / _fact
    _POIS_CDF.append(_acc)


def _pois_case(u_expr: str) -> str:
    branches = " ".join(
        f"WHEN {u_expr} < {_POIS_CDF[k]!r} THEN {k}" for k in range(6)
    )
    return f"(CASE {branches} ELSE 6 END)"


# SUM(wt) = 0 guard (r9 ADVICE): an all-zero-weight replicate (possible
# on tiny inputs) would divide by zero — NaN cast to BIGINT throws under
# Spark ANSI while DuckDB returns NULL. Pin the degenerate case to NULL
# with the same CASE in both engines.
_BOOT_MEAN_EXPR = (
    "CASE WHEN SUM(wt) > 0 THEN"
    " CAST(floor(1000000.0 * (CAST(SUM(wt * n_chars) AS DOUBLE)"
    " / CAST(SUM(wt) AS DOUBLE))) AS BIGINT)"
    " ELSE NULL END"
)


def _bootstrap_oracle() -> str:
    u = (
        "(CAST(("
        + " + ".join(
            f"(strpos('0123456789abcdef', substr(md5('boot:' || CAST(r.r AS VARCHAR)"
            f" || ':' || CAST(doc_id AS VARCHAR)), {i + 1}, 1)) - 1)"
            f" * {16 ** (11 - i)}"
            for i in range(12)
        )
        + ") AS DOUBLE) / 281474976710656.0)"
    )
    return f"""
    WITH r AS (SELECT unnest(range(0, {_BOOT_REPS})) AS r),
    w AS (
      SELECT r.r AS replicate, d.doc_id, d.n_chars,
             {_pois_case(u)} AS wt
      FROM documents d CROSS JOIN r)
    SELECT CAST(replicate AS INT) AS replicate,
           CAST(SUM(wt) AS BIGINT) AS n_eff,
           CAST(SUM(wt * n_chars) AS BIGINT) AS wsum_chars,
           {_BOOT_MEAN_EXPR} AS mean_chars_micro
    FROM w GROUP BY 1
    """


@query("sample_poisson_bootstrap", oracle=_bootstrap_oracle())
def sample_poisson_bootstrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """8-replicate Poisson(1) bootstrap of mean document length in ONE
    linear scan: per-(row, replicate) weights from md5 uniforms through
    shared inverse-CDF literals; exact integer weighted sums, one
    fixed-point divide per replicate."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    reps = F.explode(F.sequence(F.lit(0), F.lit(_BOOT_REPS - 1))).alias(
        "replicate"
    )
    u = (
        "(CAST(conv(substring(md5(concat('boot:', CAST(replicate AS STRING),"
        " ':', CAST(doc_id AS STRING))), 1, 12), 16, 10) AS DOUBLE)"
        " / 281474976710656.0)"
    )
    w = d.select("doc_id", "n_chars", reps).withColumn(
        "wt", F.expr(_pois_case(u))
    )
    return w.groupBy(F.col("replicate").cast("int").alias("replicate")).agg(
        F.sum("wt").cast("long").alias("n_eff"),
        F.sum(F.col("wt") * F.col("n_chars")).cast("long").alias("wsum_chars"),
        F.expr(_BOOT_MEAN_EXPR).alias("mean_chars_micro"),
    )


# --------------------------------------------------------------------------
# First-touch attribution — the second standard attribution model
# (events_attribution_linear is the linear one): each purchase's full
# 1e6 micro-credits go to the EARLIEST click/view touch in the 3-day
# window. Same pairing join; the per-purchase argmin is a
# WindowGroupLimit (rank 1 per purchase), so no per-key sort survives
# to the shuffle.
# --------------------------------------------------------------------------

_FT_WINDOW_SEC = 3 * 86400

_FT_ORACLE = f"""
    WITH p AS (
      SELECT event_id AS p_id, user_id, ts AS p_ts
      FROM events WHERE event_type = 'purchase'),
    t AS (
      SELECT event_id AS t_id, user_id, ts AS t_ts, event_type AS touch_type
      FROM events WHERE event_type IN ('click', 'view')),
    pairs AS (
      SELECT p.p_id, t.t_id, t.touch_type,
             row_number() OVER (PARTITION BY p.p_id
                                ORDER BY t.t_ts, t.t_id) AS rk
      FROM p JOIN t USING (user_id)
      WHERE t.t_ts < p.p_ts
        AND t.t_ts >= p.p_ts - INTERVAL {_FT_WINDOW_SEC} SECONDS)
    SELECT touch_type,
           CAST(COUNT(*) * 1000000 AS BIGINT) AS micro_credits,
           CAST(COUNT(*) AS BIGINT) AS n_first_touches,
           CAST(SUM(t_id) AS BIGINT) AS id_checksum
    FROM pairs WHERE rk = 1 GROUP BY 1
    """


@query("events_attribution_first_touch", oracle=_FT_ORACLE)
def events_attribution_first_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch attribution: 1e6 micro-credits per purchase to the
    earliest in-window touch; per touch type the credit mass, first-
    touch counts, and id checksum."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"), "user_id", F.col("ts").alias("p_ts")
    )
    t = ev.filter(F.col("event_type").isin("click", "view")).select(
        F.col("event_id").alias("t_id"),
        "user_id",
        F.col("ts").alias("t_ts"),
        F.col("event_type").alias("touch_type"),
    )
    pairs = p.join(t, "user_id").filter(
        (F.col("t_ts") < F.col("p_ts"))
        & (
            F.col("t_ts")
            >= F.col("p_ts") - F.expr(f"INTERVAL {_FT_WINDOW_SEC} SECONDS")
        )
    )
    w = Window.partitionBy("p_id").orderBy("t_ts", "t_id")
    first = pairs.withColumn("rk", F.row_number().over(w)).filter(
        F.col("rk") == 1
    )
    return first.groupBy("touch_type").agg(
        (F.count(F.lit(1)) * 1_000_000).cast("long").alias("micro_credits"),
        F.count(F.lit(1)).cast("long").alias("n_first_touches"),
        F.sum("t_id").cast("long").alias("id_checksum"),
    )


# --------------------------------------------------------------------------
# Daily bounce rate — the product-analytics staple: per day (of session
# start), sessions, single-event bounces, and the fixed-point bounce
# rate. One sessionization window + one rollup; integers end to end.
# --------------------------------------------------------------------------

_BOUNCE_ORACLE = """
    WITH e AS (
      SELECT user_id, epoch_us(ts) AS us, event_id,
             CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER
                         (PARTITION BY user_id ORDER BY ts, event_id)
                       > 1800000000
                   OR lag(epoch_us(ts)) OVER
                         (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS brk
      FROM events),
    s AS (
      SELECT user_id,
             SUM(brk) OVER (PARTITION BY user_id ORDER BY us, event_id
                            ROWS UNBOUNDED PRECEDING) AS sid,
             us
      FROM e),
    sess AS (
      SELECT user_id, sid,
             MIN(us) // 86400000000 AS day,
             CAST(COUNT(*) AS BIGINT) AS n_events
      FROM s GROUP BY 1, 2)
    SELECT CAST(day AS BIGINT) AS day,
           CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(COUNT(*) FILTER (n_events = 1) AS BIGINT) AS n_bounces,
           CAST(floor(1000000.0 *
                (CAST(COUNT(*) FILTER (n_events = 1) AS DOUBLE)
                 / CAST(COUNT(*) AS DOUBLE))) AS BIGINT) AS bounce_rate_micro
    FROM sess GROUP BY 1
    """


@query("events_bounce_rate_daily", oracle=_BOUNCE_ORACLE)
def events_bounce_rate_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day session counts, single-event bounces, and the
    fixed-point bounce rate (30-minute gap sessionization)."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", F.expr("unix_micros(ts)").alias("us")
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    brk = F.when(
        F.lag("us").over(w).isNull()
        | ((F.col("us") - F.lag("us").over(w)) > 1_800_000_000),
        1,
    ).otherwise(0)
    s = ev.withColumn("brk", brk).withColumn(
        "sid",
        F.sum("brk").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    sess = s.groupBy("user_id", "sid").agg(
        F.expr("MIN(us) DIV 86400000000").alias("day"),
        F.count(F.lit(1)).cast("long").alias("n_events"),
    )
    return sess.groupBy(F.col("day").cast("long").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("n_sessions"),
        F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_bounces"),
        F.expr(
            "CAST(floor(1000000.0 * (CAST(SUM(IF(n_events = 1, 1, 0)) AS DOUBLE)"
            " / CAST(COUNT(*) AS DOUBLE))) AS BIGINT)"
        ).alias("bounce_rate_micro"),
    )


# --------------------------------------------------------------------------
# Deterministic per-group mode — most-frequent event type per user
# with the (count DESC, type ASC) tiebreak spelled out (engine-native
# mode() functions leave ties implementation-defined, so the catalog
# form pins them); rolled up to mode-type populations.
# --------------------------------------------------------------------------

_MODE_ORACLE = """
    WITH c AS (
      SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2),
    m AS (
      SELECT user_id, event_type AS mode_type FROM (
        SELECT user_id, event_type,
               row_number() OVER (PARTITION BY user_id
                 ORDER BY n DESC, event_type) AS rk
        FROM c)
      WHERE rk = 1)
    SELECT mode_type,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(user_id) AS BIGINT) AS user_checksum
    FROM m GROUP BY 1
    """


@query("agg_mode_per_user", oracle=_MODE_ORACLE)
def agg_mode_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-user modal event type (count DESC, type ASC
    tiebreak), rolled up per mode; the per-user argmax compiles to
    WindowGroupLimit."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    c = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    w = Window.partitionBy("user_id").orderBy(
        F.col("n").desc(), F.col("event_type")
    )
    m = c.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") == 1)
    return m.groupBy(F.col("event_type").alias("mode_type")).agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("user_id").cast("long").alias("user_checksum"),
    )


# --------------------------------------------------------------------------
# DAU / WAU / MAU — rolling distinct actives per day. Distinct counts
# do not slide, so the exact linear form CONTRIBUTES each (user, day)
# observation to the [day, day+6] / [day, day+29] target windows via a
# bounded explode and dedups (user, target) once — never a windowed
# COUNT(DISTINCT) (unsupported / quadratic). 7x + 30x row expansion of
# the per-user-day table (users·days, already tiny next to events).
# --------------------------------------------------------------------------

_ACTIVE_ORACLE = """
    WITH ud AS (
      SELECT DISTINCT user_id,
             CAST(floor(epoch_us(ts) / 86400000000.0) AS BIGINT) AS day
      FROM events),
    days AS (SELECT DISTINCT day FROM ud),
    dau AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS dau FROM ud GROUP BY 1),
    wau AS (
      SELECT t.day, CAST(COUNT(DISTINCT u.user_id) AS BIGINT) AS wau
      FROM days t JOIN ud u ON u.day BETWEEN t.day - 6 AND t.day
      GROUP BY 1),
    mau AS (
      SELECT t.day, CAST(COUNT(DISTINCT u.user_id) AS BIGINT) AS mau
      FROM days t JOIN ud u ON u.day BETWEEN t.day - 29 AND t.day
      GROUP BY 1)
    SELECT d.day, d.dau, w.wau, m.mau
    FROM dau d JOIN wau w USING (day) JOIN mau m USING (day)
    """


@query("events_dau_wau_mau", oracle=_ACTIVE_ORACLE)
def events_dau_wau_mau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily / trailing-7d / trailing-30d distinct actives per day via
    the contribute-and-dedup expansion (each user-day feeds its target
    windows; one distinct per horizon; observed days only)."""
    ev = load_table(spark, sf_dir, "events")
    ud = ev.select(
        "user_id",
        F.expr("unix_micros(ts) DIV 86400000000").alias("day"),
    ).distinct()
    days = ud.select("day").distinct()
    dau = ud.groupBy("day").agg(F.count(F.lit(1)).cast("long").alias("dau"))

    def trailing(width: int, alias: str) -> DataFrame:
        contrib = (
            ud.select(
                "user_id",
                F.explode(
                    F.expr(f"sequence(day, day + {width - 1})")
                ).alias("day"),
            )
            .distinct()
            .join(F.broadcast(days), "day", "left_semi")
        )
        return contrib.groupBy("day").agg(
            F.count(F.lit(1)).cast("long").alias(alias)
        )

    return (
        dau.join(trailing(7, "wau"), "day")
        .join(trailing(30, "mau"), "day")
        .select(F.col("day").cast("long").alias("day"), "dau", "wau", "mau")
    )


# --------------------------------------------------------------------------
# Systematic sampling — every k-th document in a deterministic total
# order (the stratification-free fallback every sampling toolkit
# carries); rolled up per language for the gate.
# --------------------------------------------------------------------------

_SYSTEMATIC_ORACLE = """
    WITH r AS (
      SELECT doc_id, lang,
             row_number() OVER (ORDER BY doc_id) AS rk
      FROM documents)
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_kept,
           CAST(SUM(doc_id) AS BIGINT) AS id_checksum
    FROM r WHERE rk % 10 = 1 GROUP BY 1
    """


@query("sample_systematic_every_k", oracle=_SYSTEMATIC_ORACLE)
def sample_systematic_every_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every 10th document by doc_id order (systematic sample), per-
    language kept counts and checksums. The global rank over doc_id is
    ADAPTIVE (operators/intervals.adaptive_global_rank, r10 verdict
    stretch): at or under the documented ~10⁸-row crossover one
    single-task running sum wins (the honest 100× A/B: the distributed
    form's three extra exchanges cost 2-3× at layouts a single sort
    task still holds); above it the distributed two-level prefix sum
    (quantile-literal range buckets + per-bucket running sums +
    broadcast offsets) is the only shape that works at all. Both
    branches rank identically (pinned by tests/test_plans_physical.py,
    which exercises each side of the threshold). doc_id is unique, so
    the inclusive weight-1 running sum IS row_number."""
    from jhu_data_parser_spark.operators.intervals import adaptive_global_rank

    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    r = adaptive_global_rank(
        d.withColumn("__w", F.lit(1)), ["doc_id"], "__w", n_rows=d.count()
    )
    return (
        r.filter(F.col("rank") % 10 == 1)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_kept"),
            F.sum("doc_id").cast("long").alias("id_checksum"),
        )
    )


# --------------------------------------------------------------------------
# Pearson correlation from exact integer moments — corr(value, hour of
# day) per event_type (the "does spend correlate with time of day"
# readout). x = milli-scaled value (the Welch scale bound applies:
# Σx² safe to ~3.7e7 rows/group at v≈500), y = hour derived by pure
# micros arithmetic (no engine TZ/extract involved). All six moments
# are exact int64 aggregates; r is one fixed IEEE chain over them,
# gated at floor(1e6·r), with the same degenerate-variance NULL guard
# as Welch (shared predicate shape in both engines).
# --------------------------------------------------------------------------

_CORR_RAW = (
    "CAST(floor(1000000.0 * ("
    "(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)"
    " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
    " / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)"
    " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
    " * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)"
    " - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))"
    ")) AS BIGINT)"
)

_CORR_GUARD = (
    "(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)"
    " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) > 0.0"
    " AND (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)"
    " - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) > 0.0"
)

_CORR_EXPR = f"CASE WHEN {_CORR_GUARD} THEN {_CORR_RAW} ELSE NULL END"

_CORR_ORACLE = f"""
    WITH m AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(floor(1000.0 * value) AS BIGINT)) AS BIGINT)
               AS sx,
             CAST(SUM((epoch_us(ts) // 3600000000) % 24) AS BIGINT) AS sy,
             CAST(SUM(CAST(floor(1000.0 * value) AS BIGINT)
                      * ((epoch_us(ts) // 3600000000) % 24)) AS BIGINT)
               AS sxy,
             CAST(SUM(CAST(floor(1000.0 * value) AS BIGINT)
                      * CAST(floor(1000.0 * value) AS BIGINT)) AS BIGINT)
               AS sxx,
             CAST(SUM(((epoch_us(ts) // 3600000000) % 24)
                      * ((epoch_us(ts) // 3600000000) % 24)) AS BIGINT)
               AS syy
      FROM events GROUP BY 1)
    SELECT event_type, n, {_CORR_EXPR} AS corr_micro
    FROM m
    """


@query("agg_corr_pearson", oracle=_CORR_ORACLE)
def agg_corr_pearson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson corr(milli value, hour-of-day) per event_type from exact
    integer moments; one map-side-combined aggregate, ≤|event_type|
    rows, NULL on degenerate variance."""
    ev = load_table(spark, sf_dir, "events")
    x = "CAST(floor(1000.0 * value) AS BIGINT)"
    y = "(unix_micros(ts) DIV 3600000000) % 24"
    m = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.expr(x)).cast("long").alias("sx"),
        F.sum(F.expr(y)).cast("long").alias("sy"),
        F.sum(F.expr(f"{x} * ({y})")).cast("long").alias("sxy"),
        F.sum(F.expr(f"{x} * {x}")).cast("long").alias("sxx"),
        F.sum(F.expr(f"({y}) * ({y})")).cast("long").alias("syy"),
    )
    return m.select("event_type", "n", F.expr(_CORR_EXPR).alias("corr_micro"))


# --------------------------------------------------------------------------
# Seasonal decomposition (seasonal-means / "classical" additive form):
# daily event counts split into a day-of-week seasonal component and a
# residual — the standard pre-step before anomaly thresholds on
# business metrics. dow = day % 7 (pure integer arithmetic on the
# epoch-day, calendar/TZ-free); seasonal mean is milli-fixed-point by
# integer division, residual = count·1000 − seasonal_milli. Output is
# one row per day (bounded by the corpus' day span). One aggregate +
# a broadcast join of the 7-row seasonal table.
# --------------------------------------------------------------------------

_SEASONAL_ORACLE = """
    WITH d AS (
      SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
             CAST(COUNT(*) AS BIGINT) AS n_events
      FROM events GROUP BY 1),
    s AS (
      SELECT day % 7 AS dow,
             CAST((SUM(n_events) * 1000) // COUNT(*) AS BIGINT)
               AS seasonal_milli
      FROM d GROUP BY 1)
    SELECT d.day, CAST(d.day % 7 AS BIGINT) AS dow, d.n_events,
           s.seasonal_milli,
           CAST(d.n_events * 1000 - s.seasonal_milli AS BIGINT)
             AS residual_milli
    FROM d JOIN s ON s.dow = d.day % 7
    """


@query("events_seasonal_decompose", oracle=_SEASONAL_ORACLE)
def events_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive seasonal-means decomposition of the daily event count:
    per day its dow-seasonal component (milli fixed-point) and
    residual. One shuffle to daily counts; the seasonal table is 7
    rows, broadcast back."""
    ev = load_table(spark, sf_dir, "events")
    d = ev.groupBy(
        F.expr("CAST(unix_micros(ts) DIV 86400000000 AS BIGINT)").alias("day")
    ).agg(F.count(F.lit(1)).cast("long").alias("n_events"))
    s = d.groupBy((F.col("day") % 7).alias("dow")).agg(
        F.expr("CAST((SUM(n_events) * 1000) DIV COUNT(*) AS BIGINT)").alias(
            "seasonal_milli"
        )
    )
    return (
        d.withColumn("dow", (F.col("day") % 7).cast("long"))
        .join(F.broadcast(s), "dow")
        .select(
            "day",
            "dow",
            "n_events",
            "seasonal_milli",
            (F.col("n_events") * 1000 - F.col("seasonal_milli"))
            .cast("long")
            .alias("residual_milli"),
        )
    )


# --------------------------------------------------------------------------
# Multi-step conversion funnel — the classic product-analytics STEP
# funnel (distinct from attribution and conversion latency): within
# each (user, day), step 1 = saw a view, step 2 = clicked strictly
# AFTER the first view, step 3 = purchased strictly after that first
# click. Strict ordering on exact micros; histogram of max step
# reached. Three aggregates over the SAME (user, day) key with two
# co-partitioned joins — Catalyst reuses one exchange.
# --------------------------------------------------------------------------

_FUNNEL_STEPS_ORACLE = """
    WITH e AS (
      SELECT user_id,
             CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
             event_type, CAST(epoch_us(ts) AS BIGINT) AS us
      FROM events),
    s1 AS (
      SELECT user_id, day, MIN(CASE WHEN event_type = 'view' THEN us END)
               AS t_view
      FROM e GROUP BY 1, 2),
    s2 AS (
      SELECT e.user_id, e.day,
             MIN(CASE WHEN e.event_type = 'click' AND e.us > s1.t_view
                      THEN e.us END) AS t_click,
             MIN(s1.t_view) AS t_view
      FROM e JOIN s1 ON e.user_id = s1.user_id AND e.day = s1.day
      GROUP BY 1, 2),
    s3 AS (
      SELECT e.user_id, e.day, MIN(s2.t_view) AS t_view,
             MIN(s2.t_click) AS t_click,
             MIN(CASE WHEN e.event_type = 'purchase' AND e.us > s2.t_click
                      THEN e.us END) AS t_purchase
      FROM e JOIN s2 ON e.user_id = s2.user_id AND e.day = s2.day
      GROUP BY 1, 2)
    SELECT CAST(CASE WHEN t_purchase IS NOT NULL THEN 3
                     WHEN t_click IS NOT NULL THEN 2
                     WHEN t_view IS NOT NULL THEN 1
                     ELSE 0 END AS INT) AS step,
           CAST(COUNT(*) AS BIGINT) AS n_user_days,
           CAST(SUM(user_id) AS BIGINT) AS user_checksum
    FROM s3 GROUP BY 1
    """


@query("events_funnel_steps", oracle=_FUNNEL_STEPS_ORACLE)
def events_funnel_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """view → click → purchase step funnel per (user, day) with strict
    exact-micros ordering; histogram of the max step reached."""
    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        "user_id",
        F.expr("CAST(unix_micros(ts) DIV 86400000000 AS BIGINT)").alias("day"),
        "event_type",
        F.expr("unix_micros(ts)").cast("long").alias("us"),
    )
    s1 = e.groupBy("user_id", "day").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("us"))).alias(
            "t_view"
        )
    )
    s2 = (
        e.join(s1, ["user_id", "day"])
        .groupBy("user_id", "day")
        .agg(
            F.min(
                F.when(
                    (F.col("event_type") == "click")
                    & (F.col("us") > F.col("t_view")),
                    F.col("us"),
                )
            ).alias("t_click"),
            F.min("t_view").alias("t_view"),
        )
    )
    s3 = (
        e.join(s2, ["user_id", "day"])
        .groupBy("user_id", "day")
        .agg(
            F.min("t_view").alias("t_view"),
            F.min("t_click").alias("t_click"),
            F.min(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("us") > F.col("t_click")),
                    F.col("us"),
                )
            ).alias("t_purchase"),
        )
    )
    step = (
        F.when(F.col("t_purchase").isNotNull(), 3)
        .when(F.col("t_click").isNotNull(), 2)
        .when(F.col("t_view").isNotNull(), 1)
        .otherwise(0)
        .cast("int")
    )
    return s3.groupBy(step.alias("step")).agg(
        F.count(F.lit(1)).cast("long").alias("n_user_days"),
        F.sum("user_id").cast("long").alias("user_checksum"),
    )


# --------------------------------------------------------------------------
# First-order Markov transition matrix over event types — per user's
# time-ordered stream, count (from_type → to_type) transitions and the
# exact milli transition probability (n·1000 DIV from-total). The
# sequence-analytics companion to the sessions→paths top-k: one lag
# window partitioned by user_id, a ≤|types|²-row pair aggregate, and a
# ≤|types|-row broadcast of the from-totals.
# --------------------------------------------------------------------------

_MARKOV_ORACLE = """
    WITH s AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events),
    p AS (
      SELECT prev_type AS from_type, event_type AS to_type,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM s WHERE prev_type IS NOT NULL GROUP BY 1, 2),
    t AS (SELECT from_type, CAST(SUM(n) AS BIGINT) AS tot
          FROM p GROUP BY 1)
    SELECT p.from_type, p.to_type, p.n,
           CAST((p.n * 1000) // t.tot AS BIGINT) AS prob_milli
    FROM p JOIN t USING (from_type)
    """


@query("events_markov_transitions", oracle=_MARKOV_ORACLE)
def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-type transition matrix with exact milli probabilities;
    one user_id lag window, bounded pair/total aggregates."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = ev.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    ).filter(F.col("prev_type").isNotNull())
    p = s.groupBy(
        F.col("prev_type").alias("from_type"),
        F.col("event_type").alias("to_type"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    t = p.groupBy("from_type").agg(F.sum("n").cast("long").alias("tot"))
    return p.join(F.broadcast(t), "from_type").select(
        "from_type",
        "to_type",
        "n",
        F.expr("CAST((n * 1000) DIV tot AS BIGINT)").alias("prob_milli"),
    )
