"""Catalog wave 13 — round 9: funnel v3 — raw crawl to PACKED
pretraining batches in one oracle-gated pipeline.

Reference parity note: the reference (/root/reference) has no curation
surface; this is the [extension] end-to-end integration the r8 verdict
ranked first: the curation funnel extended through every remaining
verified stage so ONE query emits the artifact a pretraining run
actually consumes — the packed-sequence training table — from raw
``documents``. Stage order (each reuses its standalone query's rule
text):

    raw → URL-canonical dedup (pipeline4 canonicalization; v3 synthesis
          — every 10th doc is a MIRROR of its decade head: same
          site/path/param key, different scheme/www/port/tracking
          decoration, so the canonicalizer has real work and the stage
          removes exactly the mirrors)
        → language filter (lang = 'en')
        → Gopher quality rules (pipeline8 integer-rational battery)
        → 8-gram benchmark decontamination
        → MinHash near-dedup (dedup_minhash_portable_pairs, larger-id
          drop)
        → boilerplate-line removal (pipeline8 repeated-line rule over
          the SURVIVOR set: lines repeating in ≥ max(3, n/20) docs are
          stripped; token counts become CLEANED counts)
        → hashed-LR quality filter (pipeline8 linear scorer over the
          CLEANED text; keep = score strictly above the corpus MEAN —
          integer-exact ``score·n > Σscore``, self-calibrating where a
          fixed 0 cut is vocabulary-biased)
        → temperature mixing (pipeline10 alpha=0.5 rule over CLEANED
          per-source token masses; budget = half the surviving docs;
          per-source selection by deterministic md5 rank)
        → sequence packing (pipeline3 offset rule, 512-token budget,
          per-source partitions)

The v2 difference that matters: v2's URL synthesis keyed on
``doc_id % 40`` collapses any corpus to ≤40 survivors — fine for a
yield table, starvation for a pipeline. v3's mirror synthesis keeps
9/10 of the corpus flowing so every downstream stage operates at
realistic volume.

Scale posture: the three per-doc artifacts the chain re-reads (stage
flags, cleaned text, scored survivors) are lazily checkpointed ONCE
each — they are linear, per-document tables (the 100 TB deployment
would persist them to reliable storage between stages; localCheckpoint
is the single-process stand-in). The near-dup arm is the banded
one-shuffle pipeline; the boilerplate/LR stats are broadcast-joined
1-row or small aggregates; mixing arithmetic runs on a ≤|sources|-row
table; packing is the per-partition offset rule with no global sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from jhu_data_parser_spark import cache
from jhu_data_parser_spark.plans.catalog import query
from jhu_data_parser_spark.plans.llm import _PORTABLE_MH_ORACLE
from jhu_data_parser_spark.plans.pipeline4 import (
    _URL_CANON_STEPS,
    _url_raw_spark,
    _url_raw_sql,
    canonicalize_urls,
)
from jhu_data_parser_spark.plans.pipeline6 import _hexpoly_sql
from jhu_data_parser_spark.plans.pipeline8 import _BOILER_LINES_SPARK
from jhu_data_parser_spark.operators.text import SHINGLE8_TOKS_SQL
from jhu_data_parser_spark.session import local_frame
from jhu_data_parser_spark.sources.tables import load_table

# Every 10th document is a URL mirror of its decade head: the raw URLs
# differ (decoration variants key on doc_id) but canonicalize equal.
_V3_UID = "CASE WHEN doc_id % 10 = 9 THEN doc_id - 9 ELSE doc_id END"

_V3_PACK_BUDGET = 512  # tokens per packed training sequence

_V3_STAGES = (
    "raw",
    "url_dedup",
    "lang_en",
    "gopher_quality",
    "decontaminate",
    "near_dedup",
    "boilerplate_clean",
    "quality_lr",
    "mix_sampled",
)


def _v3_ctes() -> str:
    """The WITH-body shared by both v3 oracles: the full chain from raw
    documents to the packed selection (CTE ``packed``)."""
    return f"""raw AS (
      SELECT doc_id, {_url_raw_sql(_V3_UID)} AS url FROM documents),
    {_URL_CANON_STEPS},
    uk AS (
      SELECT doc_id,
             row_number() OVER (PARTITION BY canonical_url ORDER BY doc_id) = 1
               AS url_keep
      FROM canon),
    gm AS (
      SELECT doc_id, lang,
             len(string_split(text, ' ')) AS n_tok,
             length(text) - (len(string_split(text, ' ')) - 1) AS letters,
             length(text) - length(replace(text, '#', '')) AS n_hash,
             len(list_filter(string_split(text, ' '),
                             w -> NOT regexp_matches(w, '[a-z]'))) AS n_nonalpha,
             len(list_intersect(string_split(text, ' '),
                                ['the', 'and', 'of', 'to', 'in', 'a', 'is']))
               AS n_stop
      FROM documents),
    gf AS (
      SELECT doc_id, lang, n_tok,
             (n_tok >= 30
              AND 3 * n_tok <= letters AND letters <= 10 * n_tok
              AND 10 * n_hash <= n_tok
              AND 10 * n_nonalpha <= n_tok
              AND n_stop >= 2) AS gq
      FROM gm),
    lt AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
    bench AS (
      SELECT DISTINCT array_to_string(toks[1:8], ' ') AS g
      FROM lt WHERE doc_id % 17 = 0),
    shg AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(toks) - 6),
                                   i -> array_to_string(toks[i:i+7], ' '))) AS g
      FROM lt),
    contam_ids AS (SELECT DISTINCT shg.doc_id FROM shg JOIN bench USING (g)),
    np AS ({_PORTABLE_MH_ORACLE}),
    nd_ids AS (SELECT DISTINCT id_b AS doc_id FROM np),
    flags AS (
      SELECT gf.doc_id, gf.lang, gf.n_tok, uk.url_keep, gf.gq,
             (c.doc_id IS NOT NULL) AS contam,
             (nd.doc_id IS NOT NULL) AS nd
      FROM gf JOIN uk USING (doc_id)
      LEFT JOIN contam_ids c ON c.doc_id = gf.doc_id
      LEFT JOIN nd_ids nd ON nd.doc_id = gf.doc_id),
    surv AS (
      SELECT doc_id FROM flags
      WHERE url_keep AND lang = 'en' AND gq AND NOT contam AND NOT nd),
    built AS (
      SELECT d.doc_id, d.source,
             list_filter([CASE WHEN d.doc_id % 4 = 0
                               THEN 'subscribe to our newsletter today' END],
                         x -> x IS NOT NULL)
             || list_transform(
                  generate_series(0,
                    CAST(ceil(len(string_split(d.text, ' ')) / 6.0) AS INT) - 1),
                  i -> array_to_string(string_split(d.text, ' ')[i*6+1 : i*6+6], ' '))
             || list_filter([CASE WHEN d.doc_id % 6 = 0
                                  THEN 'copyright 2024 all rights reserved' END,
                             CASE WHEN d.doc_id % 9 = 0
                                  THEN 'click here to read more' END],
                            x -> x IS NOT NULL)
               AS lines
      FROM documents d JOIN surv USING (doc_id)),
    ex AS (
      SELECT doc_id, source,
             unnest(lines) AS line,
             unnest(generate_series(0, len(lines) - 1)) AS pos
      FROM built),
    btot AS (SELECT COUNT(*) AS n FROM built),
    bstats AS (SELECT line, COUNT(DISTINCT doc_id) AS ndl FROM ex GROUP BY 1),
    boiler AS (SELECT line FROM bstats, btot WHERE ndl >= GREATEST(3, n // 20)),
    bkept AS (SELECT * FROM ex WHERE line NOT IN (SELECT line FROM boiler)),
    clean AS (
      SELECT doc_id, source,
             string_agg(line, ' ' ORDER BY pos) AS ctext
      FROM bkept GROUP BY 1, 2),
    cw AS (SELECT doc_id, source, string_split(ctext, ' ') AS w FROM clean),
    cfeats AS (
      SELECT doc_id,
             unnest(w || list_transform(
               list_zip(w[1:len(w)-1], w[2:len(w)]),
               z -> z[1] || '_' || z[2])) AS feat
      FROM cw),
    csc AS (
      SELECT doc_id,
             CAST(SUM((({_hexpoly_sql("md5(feat)", 8)}) % 1024 * 37 + 11)
                      % 201 - 100) AS BIGINT) AS score
      FROM cfeats GROUP BY 1),
    cst AS (SELECT CAST(COUNT(*) AS BIGINT) AS sc_n,
                   CAST(SUM(score) AS BIGINT) AS sc_sum FROM csc),
    final AS (
      SELECT cw.doc_id, cw.source, CAST(len(cw.w) AS BIGINT) AS n_tok
      FROM cw JOIN csc USING (doc_id), cst
      WHERE csc.score * cst.sc_n > cst.sc_sum),
    srcn AS (
      SELECT source, CAST(SUM(n_tok) AS BIGINT) AS src_tokens,
             CAST(COUNT(*) AS BIGINT) AS src_docs
      FROM final GROUP BY 1),
    sfp AS (
      SELECT source, src_docs,
             CAST(floor(1000000.0 * sqrt(CAST(src_tokens AS DOUBLE)))
                  AS BIGINT) AS s_fp
      FROM srcn),
    mtot AS (SELECT CAST(SUM(s_fp) AS BIGINT) AS sum_s,
                    CAST(SUM(src_docs) AS BIGINT) AS tot_docs FROM sfp),
    alloc AS (
      SELECT source,
             LEAST(src_docs,
                   CAST(((tot_docs // 2) * s_fp) // sum_s AS BIGINT))
               AS alloc_docs
      FROM sfp, mtot),
    ranked AS (
      SELECT f.*,
             row_number() OVER (PARTITION BY source
                                ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
               AS rk
      FROM final f),
    sel AS (
      SELECT r.doc_id, r.source, r.n_tok
      FROM ranked r JOIN alloc a USING (source)
      WHERE r.rk <= a.alloc_docs),
    packed AS (
      SELECT source, doc_id, n_tok,
             (SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                               ROWS UNBOUNDED PRECEDING) - n_tok)
               // {_V3_PACK_BUDGET} AS pack_id
      FROM sel)"""


_PACK_ORACLE = f"""
    WITH {_v3_ctes()}
    SELECT source, CAST(pack_id AS BIGINT) AS pack_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
           CAST(SUM(doc_id) AS BIGINT) AS id_checksum
    FROM packed GROUP BY 1, 2
    """


def _v3_yield_oracle() -> str:
    conds = [
        "TRUE",
        "url_keep",
        "url_keep AND lang = 'en'",
        "url_keep AND lang = 'en' AND gq",
        "url_keep AND lang = 'en' AND gq AND NOT contam",
        "url_keep AND lang = 'en' AND gq AND NOT contam AND NOT nd",
    ]
    aggs = ",\n             ".join(
        f"CAST(COUNT(*) FILTER (WHERE {c}) AS BIGINT) AS c{i},\n             "
        f"CAST(COALESCE(SUM(n_tok) FILTER (WHERE {c}), 0) AS BIGINT) AS t{i}"
        for i, c in enumerate(conds)
    )
    flag_stack = "\n    UNION ALL ".join(
        f"SELECT CAST({i} AS INT) AS stage, '{name}' AS stage_name, "
        f"c{i} AS n_docs, t{i} AS n_tokens FROM s"
        for i, name in enumerate(_V3_STAGES[:6])
    )
    chain = {
        6: ("boilerplate_clean", "SELECT CAST(COUNT(*) AS BIGINT), "
            "CAST(COALESCE(SUM(len(w)), 0) AS BIGINT) FROM cw"),
        7: ("quality_lr", "SELECT CAST(COUNT(*) AS BIGINT), "
            "CAST(COALESCE(SUM(n_tok), 0) AS BIGINT) FROM final"),
        8: ("mix_sampled", "SELECT CAST(COUNT(*) AS BIGINT), "
            "CAST(COALESCE(SUM(n_tok), 0) AS BIGINT) FROM sel"),
    }
    chain_stack = "\n    UNION ALL ".join(
        f"SELECT CAST({i} AS INT) AS stage, '{name}' AS stage_name, "
        f"cc.c AS n_docs, cc.t AS n_tokens FROM ({q}) AS cc(c, t)"
        for i, (name, q) in chain.items()
    )
    return f"""
    WITH {_v3_ctes()},
    s AS (SELECT {aggs} FROM flags)
    {flag_stack}
    UNION ALL {chain_stack}
    """


def _v3_frames(spark: SparkSession, sf_dir: str) -> dict:
    """Build the funnel v3 chain once; returns the per-doc frames each
    query aggregates. ``flags``, ``clean`` and ``final`` are lazily
    checkpointed: each is a LINEAR per-document artifact read by 2-3
    downstream consumers (the 100 TB shape persists them to reliable
    storage between pipeline stages; lineage-truncation here keeps the
    heavy MinHash/boilerplate subtrees single-evaluation).

    The frames dict is ALSO a ``v3_frames`` artifact of
    :mod:`jhu_data_parser_spark.cache` — the two flagship queries
    (yield table, packed batches) are reads of the SAME stage
    artifacts, and a real pipeline materializes the funnel once and
    serves every downstream deliverable from it."""
    d = load_table(spark, sf_dir, "documents")
    return cache.get_or_build("v3_frames", d, (), lambda: _v3_build(spark, sf_dir, d))


def _v3_build(spark: SparkSession, sf_dir: str, d: DataFrame) -> dict:
    """:func:`_v3_frames`'s build over the documents frame ``d``."""
    from jhu_data_parser_spark.plans.llm import dedup_minhash_portable_pairs

    rawu = d.select("doc_id", F.expr(_url_raw_spark(_V3_UID)).alias("url"))
    w = Window.partitionBy("canonical_url").orderBy("doc_id")
    uk = canonicalize_urls(rawu).select(
        "doc_id", (F.row_number().over(w) == 1).alias("url_keep")
    )
    toks = F.split(F.col("text"), " ")
    n_tok = F.size(toks).cast("long")
    letters = (F.length("text") - (F.size(toks) - 1)).cast("long")
    n_hash = (
        F.length("text")
        - F.length(F.replace(F.col("text"), F.lit("#"), F.lit("")))
    ).cast("long")
    n_nonalpha = F.expr(
        "size(filter(split(text, ' '), w -> NOT (w rlike '[a-z]')))"
    ).cast("long")
    n_stop = F.expr(
        "size(array_intersect(split(text, ' '), "
        "array('the', 'and', 'of', 'to', 'in', 'a', 'is')))"
    ).cast("long")
    gf = d.select(
        "doc_id",
        "lang",
        n_tok.alias("n_tok"),
        (
            (n_tok >= 30)
            & (3 * n_tok <= letters)
            & (letters <= 10 * n_tok)
            & (10 * n_hash <= n_tok)
            & (10 * n_nonalpha <= n_tok)
            & (n_stop >= 2)
        ).alias("gq"),
    )
    lt = d.select("doc_id", F.split(F.lower("text"), " ").alias("toks"))
    bench = (
        lt.filter(F.col("doc_id") % 17 == 0)
        .select(F.expr("array_join(slice(toks, 1, 8), ' ')").alias("g"))
        .distinct()
    )
    shg = lt.select(
        "doc_id",
        F.explode(
            F.expr(
                SHINGLE8_TOKS_SQL
            )
        ).alias("g"),
    )
    contam_ids = (
        shg.join(F.broadcast(bench), "g")
        .select("doc_id")
        .distinct()
        .withColumn("contam", F.lit(True))
    )
    nd_ids = (
        dedup_minhash_portable_pairs(spark, sf_dir)
        .select(F.col("id_b").alias("doc_id"))
        .distinct()
        .withColumn("nd", F.lit(True))
    )
    flags = (
        gf.join(uk, "doc_id")
        .join(contam_ids, "doc_id", "left")
        .join(nd_ids, "doc_id", "left")
        .select(
            "doc_id",
            "n_tok",
            "url_keep",
            (F.col("lang") == "en").alias("is_en"),
            "gq",
            F.coalesce("contam", F.lit(False)).alias("contam"),
            F.coalesce("nd", F.lit(False)).alias("nd"),
        )
        .localCheckpoint(eager=False)
    )
    surv = flags.filter(
        F.col("url_keep")
        & F.col("is_en")
        & F.col("gq")
        & ~F.col("contam")
        & ~F.col("nd")
    ).select("doc_id")
    doc_lines = (
        d.join(surv, "doc_id")
        .select("doc_id", "source", F.split("text", " ").alias("w"))
        .select("doc_id", "source", F.expr(_BOILER_LINES_SPARK).alias("lines"))
    )
    ex = doc_lines.select(
        "doc_id", "source", F.posexplode("lines").alias("pos", "line")
    )
    btot = doc_lines.agg(F.count(F.lit(1)).alias("n"))
    bstats = ex.groupBy("line").agg(F.countDistinct("doc_id").alias("ndl"))
    boiler = (
        bstats.crossJoin(F.broadcast(btot))
        .filter(F.col("ndl") >= F.greatest(F.lit(3), F.expr("n DIV 20")))
        .select("line")
    )
    bkept = ex.join(F.broadcast(boiler), "line", "left_anti")
    clean = (
        bkept.groupBy("doc_id", "source")
        .agg(
            F.array_join(
                F.expr(
                    "transform(array_sort(collect_list(struct(pos, line))), "
                    "s -> s.line)"
                ),
                " ",
            ).alias("ctext")
        )
        .localCheckpoint(eager=False)
    )
    cw = clean.select(
        "doc_id", "source", F.split("ctext", " ").alias("w")
    )
    cfeats = cw.select(
        "doc_id",
        F.explode(
            F.expr(
                "concat(w, zip_with(slice(w, 1, size(w) - 1), "
                "slice(w, 2, size(w) - 1), (a, b) -> concat(a, '_', b)))"
            )
        ).alias("feat"),
    )
    csc = cfeats.select(
        "doc_id",
        (
            (
                F.conv(F.substring(F.md5("feat"), 1, 8), 16, 10).cast("long")
                % 1024
            )
            * 37
            + 11
        ).alias("wt"),
    ).groupBy("doc_id").agg(
        F.sum((F.col("wt") % 201 - 100)).cast("long").alias("score")
    )
    cst = csc.agg(
        F.count(F.lit(1)).cast("long").alias("sc_n"),
        F.sum("score").cast("long").alias("sc_sum"),
    )
    final = (
        cw.join(csc, "doc_id")
        .crossJoin(F.broadcast(cst))
        .filter(F.col("score") * F.col("sc_n") > F.col("sc_sum"))
        .select("doc_id", "source", F.size("w").cast("long").alias("n_tok"))
        .localCheckpoint(eager=False)
    )
    srcn = final.groupBy("source").agg(
        F.sum("n_tok").cast("long").alias("src_tokens"),
        F.count(F.lit(1)).cast("long").alias("src_docs"),
    )
    sfp = srcn.select(
        "source",
        "src_docs",
        F.floor(1_000_000.0 * F.sqrt(F.col("src_tokens").cast("double")))
        .cast("long")
        .alias("s_fp"),
    )
    mtot = sfp.agg(
        F.sum("s_fp").cast("long").alias("sum_s"),
        F.sum("src_docs").cast("long").alias("tot_docs"),
    )
    alloc = sfp.crossJoin(F.broadcast(mtot)).select(
        "source",
        F.least(
            F.col("src_docs"),
            F.expr("CAST(((tot_docs DIV 2) * s_fp) DIV sum_s AS BIGINT)"),
        ).alias("alloc_docs"),
    )
    wr = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string").cast("binary")), "doc_id"
    )
    ranked = final.withColumn("rk", F.row_number().over(wr))
    sel = (
        ranked.join(F.broadcast(alloc), "source")
        .filter(F.col("rk") <= F.col("alloc_docs"))
        .select("doc_id", "source", "n_tok")
    )
    wp = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    packed = sel.withColumn(
        "pack_id",
        (
            (F.sum("n_tok").over(wp) - F.col("n_tok"))
            / F.lit(_V3_PACK_BUDGET)
        ).cast("long"),
    )
    return {
        "flags": flags,
        "cw": cw,
        "final": final,
        "sel": sel,
        "packed": packed,
    }


@query("pipeline_pack_batches", oracle=_PACK_ORACLE)
def pipeline_pack_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE pretraining deliverable: the packed-sequence training table
    produced by the complete curation funnel (module docstring) — per
    (source, pack_id): document count, token count, and a doc-id
    checksum pinning the exact pack composition. The oracle replays
    every stage, portable-MinHash arm included, so the driver hash
    certifies the whole raw-crawl → training-batches pipeline.

    Scale posture: packing is the pipeline3 offset rule — per-source
    running sums, no global sort; the mix arithmetic runs on a
    ≤|sources| table; selection is a broadcast join on the tiny alloc
    table over the md5-ranked survivors."""
    fr = _v3_frames(spark, sf_dir)
    return fr["packed"].groupBy("source", "pack_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tok").cast("long").alias("n_tokens"),
        F.sum("doc_id").cast("long").alias("id_checksum"),
    )


@query("pipeline_curation_funnel_v3", oracle=_v3_yield_oracle())
def pipeline_curation_funnel_v3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 9-stage yield table of funnel v3: per stage, surviving
    document and token counts — raw tokens through near_dedup, CLEANED
    tokens from the boilerplate stage on (the honest accounting of what
    each stage costs the token budget). Stages 0-5 come from ONE
    conditional aggregate over the per-doc flag table (the v2
    discipline); stages 6-8 are 1-row aggregates over the chain's
    checkpointed artifacts, cross-joined and stacked with inline()."""
    fr = _v3_frames(spark, sf_dir)
    conds = [
        F.lit(True),
        F.col("url_keep"),
        F.col("url_keep") & F.col("is_en"),
        F.col("url_keep") & F.col("is_en") & F.col("gq"),
        F.col("url_keep") & F.col("is_en") & F.col("gq") & ~F.col("contam"),
        F.col("url_keep")
        & F.col("is_en")
        & F.col("gq")
        & ~F.col("contam")
        & ~F.col("nd"),
    ]
    s = fr["flags"].agg(
        *[
            a
            for i, c in enumerate(conds)
            for a in (
                F.count_if(c).cast("long").alias(f"c{i}"),
                F.coalesce(F.sum(F.when(c, F.col("n_tok"))), F.lit(0))
                .cast("long")
                .alias(f"t{i}"),
            )
        ]
    )
    chain_aggs = {
        6: fr["cw"].agg(
            F.count(F.lit(1)).cast("long").alias("c6"),
            F.coalesce(F.sum(F.size("w").cast("long")), F.lit(0))
            .cast("long")
            .alias("t6"),
        ),
        7: fr["final"].agg(
            F.count(F.lit(1)).cast("long").alias("c7"),
            F.coalesce(F.sum("n_tok"), F.lit(0)).cast("long").alias("t7"),
        ),
        8: fr["sel"].agg(
            F.count(F.lit(1)).cast("long").alias("c8"),
            F.coalesce(F.sum("n_tok"), F.lit(0)).cast("long").alias("t8"),
        ),
    }
    for df in chain_aggs.values():
        s = s.crossJoin(F.broadcast(df))
    structs = ", ".join(
        f"named_struct('stage', CAST({i} AS INT), 'stage_name', '{name}', "
        f"'n_docs', c{i}, 'n_tokens', t{i})"
        for i, name in enumerate(_V3_STAGES)
    )
    return s.selectExpr(f"inline(array({structs}))")


# --------------------------------------------------------------------------
# Trained quality classifier — text_quality_train_lr (r8 verdict item
# 4): full-batch logistic regression distilling the Gopher rule labels
# into hashed-feature weights, every gradient step exact-replayable
# (operators/text.lr_train_quality). The oracle unrolls ALL steps:
# feature build → integer centering → per-step margin/quantized
# sigmoid/error/gradient/update, each as a MATERIALIZED CTE (the
# unigram lesson: DuckDB inlines CTEs by default and an inlined
# DP chain blows up).
# --------------------------------------------------------------------------

_LR_STEPS = 6


def _lr_oracle(steps: int = _LR_STEPS) -> str:
    from jhu_data_parser_spark.operators.text import _LR_STOPWORDS, LR_CLAMP

    stops = ", ".join(f"'{s}'" for s in _LR_STOPWORDS)
    parts = [
        f"""st AS MATERIALIZED (
      SELECT doc_id,
             len(string_split(text, ' ')) AS n,
             length(text) - (len(string_split(text, ' ')) - 1) AS letters,
             length(text) - length(replace(text, '#', '')) AS nh,
             len(list_filter(string_split(text, ' '),
                             w -> NOT regexp_matches(w, '[a-z]'))) AS nna,
             len(list_intersect(string_split(text, ' '), [{stops}])) AS ns
      FROM documents),
    y AS MATERIALIZED (
      SELECT doc_id,
             CASE WHEN n >= 30 AND 3 * n <= letters AND letters <= 10 * n
                       AND 10 * nh <= n AND 10 * nna <= n AND ns >= 2
                  THEN 1 ELSE 0 END AS y
      FROM st),
    fw AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    feats AS (
      SELECT doc_id, 2 * len(w) - 1 AS nf,
             unnest(w || list_transform(
               list_zip(w[1:len(w)-1], w[2:len(w)]),
               z -> z[1] || '_' || z[2])) AS feat
      FROM fw),
    fb AS (SELECT doc_id, nf,
                  ({_hexpoly_sql("md5(feat)", 8)}) % 64 AS j
           FROM feats),
    bc AS (SELECT doc_id, j,
                  (1000 * COUNT(*)) // ANY_VALUE(nf) AS x
           FROM fb GROUP BY doc_id, j),
    sx AS (
      SELECT doc_id, 64 AS j, LEAST(n, 2000) AS x FROM st
      UNION ALL SELECT doc_id, 65, (1000 * letters) // n FROM st
      UNION ALL SELECT doc_id, 66, (1000 * nh) // n FROM st
      UNION ALL SELECT doc_id, 67, (1000 * nna) // n FROM st
      UNION ALL SELECT doc_id, 68, ns * 100 FROM st),
    xraw AS (SELECT * FROM bc UNION ALL SELECT * FROM sx),
    dense AS MATERIALIZED (
      SELECT d.doc_id, r.j, CAST(COALESCE(x.x, 0) AS BIGINT) AS x
      FROM (SELECT doc_id FROM documents) d
      CROSS JOIN (SELECT unnest(range(0, 69)) AS j) r
      LEFT JOIN xraw x ON x.doc_id = d.doc_id AND x.j = r.j),
    nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
    mu AS MATERIALIZED (
      SELECT j, (1000 * SUM(x)) // (SELECT n_docs FROM nd) AS m1000
      FROM dense GROUP BY j),
    xl AS MATERIALIZED (
      SELECT doc_id, dense.j, 1000 * x - m1000 AS cx
      FROM dense JOIN mu USING (j)
      UNION ALL SELECT doc_id, 69, CAST(1000 AS BIGINT) FROM documents),
    w0 AS (SELECT CAST(unnest(range(0, 70)) AS BIGINT) AS j,
                  CAST(0 AS BIGINT) AS w)"""
    ]
    stats_parts = []
    for k in range(1, steps + 1):
        parts.append(f"""m{k} AS MATERIALIZED (
      SELECT doc_id, CAST(SUM(cx * w) AS BIGINT) AS m
      FROM xl JOIN w{k - 1} USING (j) GROUP BY doc_id),
    e{k} AS MATERIALIZED (
      SELECT m.doc_id,
             CAST(floor(1000000.0 / (1.0 + exp(-(CAST(LEAST({LR_CLAMP},
               GREATEST(-{LR_CLAMP}, m.m)) AS DOUBLE) / 1000000.0))))
               AS BIGINT) AS p,
             y.y
      FROM m{k} m JOIN y USING (doc_id)),
    e2{k} AS MATERIALIZED (
      SELECT doc_id, p, y, p - y * 1000000 AS err FROM e{k}),
    g{k} AS MATERIALIZED (
      SELECT xl.j, CAST(SUM(e.err * xl.cx) AS BIGINT) AS g
      FROM xl JOIN e2{k} e USING (doc_id) GROUP BY xl.j),
    w{k} AS MATERIALIZED (
      SELECT w.j,
             CAST(w.w - CAST(floor(CAST(g.g AS DOUBLE)
               / (1000000.0 * (SELECT n_docs FROM nd))) AS BIGINT)
               AS BIGINT) AS w
      FROM w{k - 1} w JOIN g{k} g USING (j))""")
        stats_parts.append(f"""s{k} AS (
      SELECT CAST({k} AS INT) AS step,
             CAST((SELECT COUNT(*) FILTER (WHERE p >= 500000) FROM e2{k})
                  AS BIGINT) AS n_pos_pred,
             CAST((SELECT COUNT(*) FILTER (WHERE (p >= 500000) = (y = 1))
                   FROM e2{k}) AS BIGINT) AS n_correct,
             CAST((SELECT SUM(ABS(err)) FROM e2{k}) AS BIGINT) AS err_abs_sum,
             CAST((SELECT SUM(w) FROM w{k}) AS BIGINT) AS w_sum,
             CAST((SELECT SUM(ABS(w)) FROM w{k}) AS BIGINT) AS w_abs_sum)""")
    stack = "\n    UNION ALL ".join(f"SELECT * FROM s{k}" for k in range(1, steps + 1))
    return (
        "WITH " + ",\n    ".join(parts + stats_parts) + "\n    " + stack
    )


def _lr_chain_ctes(steps: int = _LR_STEPS) -> str:
    """The training chain's WITH-body WITHOUT the per-step stats CTEs
    or the final stack — shared by the serve oracle."""
    body = _lr_oracle(steps)
    # chain parts end right before the first stats CTE "s1 AS ("
    cut = body.index("s1 AS (")
    return body[len("WITH "):cut].rstrip().rstrip(",")


def _lr_serve_oracle(steps: int = _LR_STEPS) -> str:
    """The trained-weight SERVE: reuse the full training chain's CTEs
    (everything up to ``w{steps}``), score every doc's centered feature
    vector with the final weights, and roll keep-rates and margin stats
    up per language."""
    from jhu_data_parser_spark.operators.text import LR_CLAMP

    chain = _lr_chain_ctes(steps)
    return f"""WITH {chain},
    ms AS (
      SELECT doc_id, CAST(SUM(cx * w) AS BIGINT) AS m
      FROM xl JOIN w{steps} USING (j) GROUP BY doc_id),
    ps AS (
      SELECT doc_id, m,
             CAST(floor(1000000.0 / (1.0 + exp(-(CAST(LEAST({LR_CLAMP},
               GREATEST(-{LR_CLAMP}, m)) AS DOUBLE) / 1000000.0))))
               AS BIGINT) AS p
      FROM ms)
    SELECT d.lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(*) FILTER (WHERE p >= 500000) AS BIGINT) AS n_keep,
           CAST(SUM(m) AS BIGINT) AS m_sum,
           CAST(MIN(m) AS BIGINT) AS m_min,
           CAST(MAX(m) AS BIGINT) AS m_max
    FROM ps JOIN documents d USING (doc_id)
    GROUP BY d.lang
    """


@query("text_quality_train_lr", oracle=_lr_oracle())
def text_quality_train_lr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRAIN the quality classifier (text_quality_linear_score scores
    with fixed weights; this fits them): full-batch logistic regression
    on hashed unigram+bigram per-mille features plus the five Gopher
    rule inputs, integer mean-centered, labels from the Gopher rules —
    six exact-replay gradient steps, each ONE distributed aggregation
    with a ≤feature-dim (70-long) driver artifact. Emits the per-step
    training curve (predictions, accuracy, absolute error mass, weight
    sums); the oracle unrolls every step. Local == distributed is
    pinned by pytest against an independent pure-python twin."""
    from jhu_data_parser_spark.operators.text import lr_train_quality

    d = load_table(spark, sf_dir, "documents")
    _, stats = lr_train_quality(d, steps=_LR_STEPS)
    return local_frame(
        spark,
        [
            (
                s["step"],
                s["n_pos_pred"],
                s["n_correct"],
                s["err_abs_sum"],
                s["w_sum"],
                s["w_abs_sum"],
            )
            for s in stats
        ],
        "step int, n_pos_pred long, n_correct long, err_abs_sum long, "
        "w_sum long, w_abs_sum long",
    )


# --------------------------------------------------------------------------
# Batch IVF-PQ serving — sim_cosine_topk_ivfpq_multi (r8 verdict item
# 2): the single-query composed index (pipeline11) served at the REAL
# request shape, a query batch. One pruned scan of the union of all
# probed cells; per-query LUTs as literal maps keyed by query_id;
# WindowGroupLimit shortlists; one driver re-rank. The oracle
# replays both fits and the complete per-query pipeline (probe choice,
# ADC, shortlist, exact rank) for every query in the batch.
# --------------------------------------------------------------------------

_IPM_NQUERIES = 5


def _ivfpq_multi_oracle(residual: bool = False) -> str:
    from jhu_data_parser_spark.plans.clustering import _kmeans_ctes
    from jhu_data_parser_spark.plans.pipeline11 import (
        _IP_CELLS,
        _IP_CITERS,
        _IP_ITERS,
        _IP_K,
        _IP_M,
        _IP_PROBE,
        _IP_SHORTLIST,
        _IP_SUB,
        _IP_TOPK,
        _Q_INT,
        _ZDIST,
    )

    nq = _IPM_NQUERIES
    where = f"WHERE vec_id >= {nq}"

    def res_pts(lo: int, hi: int) -> str:
        return (
            f"SELECT a.id, list_transform(list_zip(a.q[{lo}:{hi}], "
            f"c.c[{lo}:{hi}]), z -> z[1] - z[2]) AS q "
            f"FROM cc_a{_IP_CITERS} a "
            f"JOIN cc_c{_IP_CITERS - 1} c ON c.cid = a.cid"
        )

    chains = ",".join(
        [_kmeans_ctes(_IP_CELLS, _IP_CITERS, where=where, prefix="cc_")]
        + [
            _kmeans_ctes(
                _IP_K,
                _IP_ITERS,
                where=where,
                prefix=f"p{s}_",
                dim=_IP_SUB,
                lo=s * _IP_SUB + 1,
                pts_body=(
                    res_pts(s * _IP_SUB + 1, (s + 1) * _IP_SUB)
                    if residual
                    else None
                ),
            )
            for s in range(_IP_M)
        ]
    )
    if residual:
        luts = (
            f""",
    qres AS (SELECT q.query_id, c.cid AS cell,
                    list_transform(list_zip(q.q, c.c), z -> z[1] - z[2]) AS r
             FROM qs q CROSS JOIN cc_c{_IP_CITERS - 1} c)"""
            + ","
            + ",".join(
                f"""
    lut{s} AS (SELECT qr.query_id, qr.cell, b.cid AS code,
                      {_ZDIST.format(
                          a=f"qr.r[{s * _IP_SUB + 1}:{(s + 1) * _IP_SUB}]",
                          b="b.c")} AS d
               FROM qres qr CROSS JOIN p{s}_c{_IP_ITERS - 1} b)"""
                for s in range(_IP_M)
            )
        )
        code_joins = " ".join(
            f"JOIN lut{s} l{s} ON l{s}.query_id = pr.query_id "
            f"AND l{s}.cell = x.cell AND l{s}.code = c.code{s}"
            for s in range(_IP_M)
        )
    else:
        luts = "," + ",".join(
            f"""
    lut{s} AS (SELECT q.query_id, c.cid AS code,
                      {_ZDIST.format(
                          a=f"q.q[{s * _IP_SUB + 1}:{(s + 1) * _IP_SUB}]",
                          b="c.c")} AS d
               FROM p{s}_c{_IP_ITERS - 1} c CROSS JOIN qs q)"""
            for s in range(_IP_M)
        )
        code_joins = " ".join(
            f"JOIN lut{s} l{s} ON l{s}.query_id = pr.query_id "
            f"AND l{s}.code = c.code{s}"
            for s in range(_IP_M)
        )
    adc_sum = " + ".join(f"l{s}.d" for s in range(_IP_M))
    return f"""
    WITH {chains},
    qs AS (SELECT vec_id AS query_id, {_Q_INT} AS q
           FROM embeddings WHERE vec_id < {nq}),
    cd AS (SELECT q.query_id, c.cid, {_ZDIST.format(a="q.q", b="c.c")} AS d
           FROM cc_c{_IP_CITERS - 1} c CROSS JOIN qs q),
    probes AS (
      SELECT query_id, cid FROM cd
      QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY d, cid)
              <= {_IP_PROBE}){luts},
    codes AS (
      SELECT a0.id AS vid, a0.cid AS code0, a1.cid AS code1,
             a2.cid AS code2, a3.cid AS code3
      FROM p0_a{_IP_ITERS} a0
      JOIN p1_a{_IP_ITERS} a1 USING (id)
      JOIN p2_a{_IP_ITERS} a2 USING (id)
      JOIN p3_a{_IP_ITERS} a3 USING (id)),
    cells AS (SELECT id AS vid, cid AS cell FROM cc_a{_IP_CITERS}),
    adc AS (
      SELECT pr.query_id, c.vid, x.cell, CAST({adc_sum} AS BIGINT) AS adc_dist
      FROM codes c
      JOIN cells x ON x.vid = c.vid
      JOIN probes pr ON pr.cid = x.cell
      {code_joins}),
    short AS (
      SELECT * FROM adc
      QUALIFY row_number() OVER (PARTITION BY query_id
                                 ORDER BY adc_dist, vid) <= {_IP_SHORTLIST}),
    ef AS (SELECT vec_id, {_Q_INT} AS q FROM embeddings WHERE vec_id >= {nq})
    SELECT query_id, vec_id, CAST(rank AS INT) AS rank,
           CAST(cell AS BIGINT) AS cell, adc_dist, exact_dist
    FROM (
      SELECT s.query_id, s.vid AS vec_id, s.cell, s.adc_dist,
             {_ZDIST.format(a="e.q", b="qf.q")} AS exact_dist,
             row_number() OVER (
               PARTITION BY s.query_id
               ORDER BY {_ZDIST.format(a="e.q", b="qf.q")}, s.vid) AS rank
      FROM short s
      JOIN ef e ON e.vec_id = s.vid
      JOIN qs qf ON qf.query_id = s.query_id)
    WHERE rank <= {_IP_TOPK}
    """


@query("sim_cosine_topk_ivfpq_multi", oracle=_ivfpq_multi_oracle())
def sim_cosine_topk_ivfpq_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch IVF-PQ top-10: queries vec_id < 5, corpus vec_id >= 5,
    3/8-cell probe per query, one pruned index scan for the whole batch
    (operators/similarity.topk_ivfpq_indexed_multi). The oracle replays
    everything per query; the plan test pins single-scan + pruning."""
    from jhu_data_parser_spark.operators import similarity as sim
    from jhu_data_parser_spark.operators.clustering import quantize_vectors
    from jhu_data_parser_spark.plans.pipeline11 import (
        _IP_CELLS,
        _IP_CITERS,
        _IP_ITERS,
        _IP_K,
        _IP_M,
        _IP_PROBE,
        _IP_SHORTLIST,
        _IP_SUB,
        _IP_TOPK,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.filter(F.col("vec_id") >= _IPM_NQUERIES)
    qrows = (
        quantize_vectors(emb.filter(F.col("vec_id") < _IPM_NQUERIES))
        .select("id", "q")
        .collect()
    )
    queries = sorted(
        (int(r["id"]), [int(v) for v in r["q"]]) for r in qrows
    )
    return sim.topk_ivfpq_indexed_multi(
        corpus,
        queries,
        k=_IP_TOPK,
        n_probe=_IP_PROBE,
        shortlist=_IP_SHORTLIST,
        n_cells=_IP_CELLS,
        coarse_iters=_IP_CITERS,
        m=_IP_M,
        sub=_IP_SUB,
        pq_k=_IP_K,
        pq_iters=_IP_ITERS,
        cache_tag="embeddings_ivfpq_multi",
    )


# --------------------------------------------------------------------------
# Streaming IVF-PQ index maintenance — stream_ivfpq_index_append (r8
# verdict item 3): new vectors arrive as micro-batches, are encoded
# under the FROZEN base-corpus codebooks, and append as idempotent
# batch_id=N cell-partitioned segments; serving reads base ∪ appended
# (streaming/jobs.run_ivfpq_index_append_stream). Because the encode is
# deterministic under frozen codebooks, the served result is IDENTICAL
# to a batch encode of the union — the oracle replays the base-only
# fits, the union assignment, and the full probe/ADC/re-rank.
# --------------------------------------------------------------------------


def _ivfpq_append_oracle() -> str:
    from jhu_data_parser_spark.plans.clustering import _kmeans_ctes
    from jhu_data_parser_spark.plans.pipeline11 import (
        _IP_CELLS,
        _IP_CITERS,
        _IP_ITERS,
        _IP_K,
        _IP_M,
        _IP_PROBE,
        _IP_SHORTLIST,
        _IP_SUB,
        _IP_TOPK,
        _Q_INT,
        _ZDIST,
    )

    where = "WHERE vec_id % 5 <> 0"
    chains = ",".join(
        [_kmeans_ctes(_IP_CELLS, _IP_CITERS, where=where, prefix="cc_")]
        + [
            _kmeans_ctes(
                _IP_K,
                _IP_ITERS,
                where=where,
                prefix=f"p{s}_",
                dim=_IP_SUB,
                lo=s * _IP_SUB + 1,
            )
            for s in range(_IP_M)
        ]
    )
    ucodes = ",".join(
        f"""
    ucode{s} AS (
      SELECT p.id, b.cid AS code{s},
             {_ZDIST.format(
                 a=f"p.q[{s * _IP_SUB + 1}:{(s + 1) * _IP_SUB}]",
                 b="b.c")} AS d
      FROM up p CROSS JOIN p{s}_c{_IP_ITERS - 1} b
      QUALIFY row_number() OVER (PARTITION BY p.id ORDER BY d, b.cid) = 1)"""
        for s in range(_IP_M)
    )
    luts = ",".join(
        f"""
    lut{s} AS (SELECT c.cid,
                      {_ZDIST.format(a="q.sq", b="c.c")} AS d
               FROM p{s}_c{_IP_ITERS - 1} c CROSS JOIN
                    (SELECT q[{s * _IP_SUB + 1}:{(s + 1) * _IP_SUB}] AS sq
                     FROM qq) q)"""
        for s in range(_IP_M)
    )
    code_joins = " ".join(
        f"JOIN ucode{s} c{s} ON c{s}.id = uc.id "
        f"JOIN lut{s} l{s} ON l{s}.cid = c{s}.code{s}"
        for s in range(_IP_M)
    )
    adc_sum = " + ".join(f"l{s}.d" for s in range(_IP_M))
    return f"""
    WITH {chains},
    up AS (SELECT vec_id AS id, {_Q_INT} AS q
           FROM embeddings WHERE vec_id <> 0),
    ucell AS (
      SELECT p.id, c.cid AS cell,
             {_ZDIST.format(a="p.q", b="c.c")} AS d
      FROM up p CROSS JOIN cc_c{_IP_CITERS - 1} c
      QUALIFY row_number() OVER (PARTITION BY p.id ORDER BY d, c.cid) = 1),{ucodes},
    qq AS (SELECT {_Q_INT} AS q FROM embeddings WHERE vec_id = 0),
    cd AS (SELECT c.cid, {_ZDIST.format(a="q.q", b="c.c")} AS d
           FROM cc_c{_IP_CITERS - 1} c CROSS JOIN qq q),
    probes AS (SELECT cid FROM cd ORDER BY d, cid LIMIT {_IP_PROBE}),{luts},
    adc AS (
      SELECT uc.id AS vid, uc.cell, CAST({adc_sum} AS BIGINT) AS adc_dist
      FROM ucell uc
      JOIN probes pr ON pr.cid = uc.cell
      {code_joins}),
    short AS (SELECT * FROM adc ORDER BY adc_dist, vid LIMIT {_IP_SHORTLIST}),
    ef AS (SELECT vec_id, {_Q_INT} AS q FROM embeddings WHERE vec_id <> 0)
    SELECT s.vid AS vec_id, CAST(s.cell AS BIGINT) AS cell, s.adc_dist,
           {_ZDIST.format(a="e.q", b="qf.q")} AS exact_dist
    FROM short s JOIN ef e ON e.vec_id = s.vid CROSS JOIN qq qf
    ORDER BY exact_dist, vec_id LIMIT {_IP_TOPK}
    """


@query("stream_ivfpq_index_append", oracle=_ivfpq_append_oracle())
def stream_ivfpq_index_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serve query vec_id=0 from an index maintained BY A STREAM: base
    corpus (vec_id % 5 != 0) builds and freezes the codebooks; the rest
    arrives as micro-batches, is encoded under the frozen books, and
    appends idempotently; the serve reads base ∪ appended. The oracle
    replays base-only fits + union assignment + probe/ADC/re-rank, so
    the driver hash proves stream-appended ≡ batch-encoded union."""
    from jhu_data_parser_spark.streaming.jobs import run_ivfpq_index_append_stream

    return run_ivfpq_index_append_stream(spark, sf_dir)


# --------------------------------------------------------------------------
# OPQ-style balanced dimension allocation — sim_ivfpq_recall_opq (r8
# verdict item 8, stretch): a DATA-DERIVED, integer-exact coordinate
# permutation before subspace splitting (the practical core of OPQ, Ge
# et al. CVPR 2013 — full OPQ learns a rotation; the deterministic
# variance-BALANCING allocation is the replayable special case real
# systems ship as "dimension shuffling"). Rank dimensions by integer
# energy Σq² (desc, dim asc) and deal them round-robin into subspaces:
# newpos(rank r) = (r % M)·sub + r DIV M. The eval corpus concentrates
# 32 cluster patterns in dims 0..15 (energy-skewed): contiguous
# slicing gives ONE 16-code subspace all the signal (16 codes cannot
# separate 32 centers) while balanced allocation spreads signal dims 4
# per subspace and the 4 independent code collisions multiply apart.
# The query emits BOTH arms' recall@10 so the driver hash gates the
# measured improvement itself.
# --------------------------------------------------------------------------

# 32 planted clusters whose signal lives ONLY in dims 0..15 as BINARY
# bit patterns: cluster c = vec_id % 32 is a 5-bit code and signal dim
# i carries bit (i % 5) of c scaled to 8.0 — so ANY allocation of ≤4
# signal dims per subspace yields ≤16 distinct subspace patterns (a
# 16-entry codebook can represent them) while contiguous slicing gives
# subspace 0 all 32 patterns for its 16 codes (must merge cluster
# pairs). Dims 16+ are 1e-8-scale noise that quantizes to 0. The same
# string is valid Spark SQL and DuckDB (both support & and <<).
_SKEW_N = 160
_SKEW_NOISE = (
    "(CAST(((vec_id * 7919 + (i + 1) * 104729) % 100001) - 50000 AS DOUBLE) "
    "/ CAST(1000000 AS DOUBLE))"
)
_SKEW_VEC = (
    f"CASE WHEN i < 16 THEN "
    f"CAST(CASE WHEN ((vec_id % 32) & (1 << CAST(i % 5 AS INT))) > 0 "
    f"THEN 8 ELSE 0 END AS DOUBLE) + {_SKEW_NOISE} "
    f"ELSE {_SKEW_NOISE} * CAST(0.01 AS DOUBLE) END"
)

# Tight shortlist (just above k): with the default 50-of-~60-candidate
# shortlist the exact re-rank rescues any ADC ordering and both arms
# read 1.0 — the measurement must make ADC quality load-bearing.
_OPQ_SHORTLIST = 12
# The real partial-probe serving config; the coarse stage is
# permutation-invariant, so probe misses hit both arms identically and
# the recall DELTA isolates ADC ordering either way.
_OPQ_PROBE = 3


def _ivfpq_opq_oracle() -> str:
    from jhu_data_parser_spark.plans.pipeline11 import (
        _IP_TOPK,
        _Q_INT,
        _ZDIST,
        _ivfpq_oracle_sql,
    )

    skew_src = "(SELECT vec_id, embedding FROM skew) sk"
    opq_src = (
        "(SELECT s.vec_id, list(s.embedding[p.dim + 1] ORDER BY p.newpos) "
        "AS embedding FROM skew s CROSS JOIN pmap p GROUP BY s.vec_id) opq"
    )
    return f"""
    WITH skew AS MATERIALIZED (
      SELECT vec_id,
             list_transform(range(64), i -> {_SKEW_VEC}) AS embedding
      FROM embeddings WHERE vec_id < {_SKEW_N}),
    en AS (
      SELECT t.i AS dim,
             CAST(SUM(CAST(ROUND(CAST(s.embedding[t.i + 1] AS DOUBLE)
                                 * 1000000) AS BIGINT)
                      * CAST(ROUND(CAST(s.embedding[t.i + 1] AS DOUBLE)
                                   * 1000000) AS BIGINT)) AS BIGINT) AS e
      FROM skew s, range(64) t(i)
      WHERE s.vec_id <> 0
      GROUP BY t.i),
    pmap AS MATERIALIZED (
      SELECT dim, CAST((r % 4) * 16 + r // 4 AS BIGINT) AS newpos
      FROM (SELECT dim, row_number() OVER (ORDER BY e DESC, dim) - 1 AS r
            FROM en)),
    naive AS MATERIALIZED ({_ivfpq_oracle_sql(src=skew_src, shortlist=_OPQ_SHORTLIST, n_probe=_OPQ_PROBE)}),
    balanced AS MATERIALIZED ({_ivfpq_oracle_sql(src=opq_src, shortlist=_OPQ_SHORTLIST, n_probe=_OPQ_PROBE)}),
    qf AS (SELECT {_Q_INT} AS q FROM skew WHERE vec_id = 0),
    ef2 AS (SELECT vec_id, {_Q_INT} AS q FROM skew WHERE vec_id <> 0),
    exact AS MATERIALIZED (
      SELECT e.vec_id FROM ef2 e CROSS JOIN qf
      ORDER BY {_ZDIST.format(a="e.q", b="qf.q")}, e.vec_id LIMIT {_IP_TOPK})
    SELECT 'contiguous' AS variant, CAST({_IP_TOPK} AS INT) AS k,
           CAST(COUNT(*) AS BIGINT) AS n_overlap,
           CAST(COUNT(*) AS DOUBLE) / CAST({_IP_TOPK} AS DOUBLE) AS recall
    FROM exact JOIN naive USING (vec_id)
    UNION ALL
    SELECT 'balanced', CAST({_IP_TOPK} AS INT),
           CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(*) AS DOUBLE) / CAST({_IP_TOPK} AS DOUBLE)
    FROM exact JOIN balanced USING (vec_id)
    """


def _synth_skewed(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.filter(F.col("vec_id") < _SKEW_N).select(
        "vec_id",
        F.expr(f"transform(sequence(0, 63), i -> {_SKEW_VEC})").alias(
            "embedding"
        ),
    )


@query("sim_ivfpq_recall_opq", oracle=_ivfpq_opq_oracle())
def sim_ivfpq_recall_opq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@10 of the composed IVF-PQ serve on the energy-skewed
    32-cluster corpus, contiguous vs balanced dimension allocation —
    both arms run the UNMODIFIED index pipeline (the permutation is a
    pure corpus projection, exactly how a deployment ships it: permute
    once at ingest, build/serve untouched; L2 distances are permutation
    -invariant so the exact arm is computed once and shared). The
    balanced permutation itself is a ≤D-int driver artifact derived
    from one integer energy aggregation (operators/similarity.
    pq_balanced_perm); the oracle re-derives it and replays BOTH
    composed pipelines end to end."""
    from jhu_data_parser_spark.operators import similarity as sim
    from jhu_data_parser_spark.plans.pipeline11 import _IP_TOPK, _ivfpq_serve

    skew = _synth_skewed(spark, sf_dir)
    P = sim.pq_balanced_perm(skew.filter(F.col("vec_id") != 0), m=4, sub=16)
    perm_lit = ", ".join(str(int(d)) for d in P)
    opq = skew.select(
        "vec_id",
        F.expr(
            f"transform(array({perm_lit}), d -> element_at(embedding, d + 1))"
        ).alias("embedding"),
    )
    naive = _ivfpq_serve(
        spark, skew, cache_tag="synth_skew_naive_v1",
        shortlist=_OPQ_SHORTLIST, n_probe=_OPQ_PROBE
    ).select("vec_id")
    balanced = _ivfpq_serve(
        spark, opq, cache_tag="synth_skew_opq_v1",
        shortlist=_OPQ_SHORTLIST, n_probe=_OPQ_PROBE
    ).select("vec_id")
    qf = skew.filter(F.col("vec_id") == 0).select(
        F.expr(
            "transform(embedding, x -> "
            "CAST(ROUND(CAST(x AS DOUBLE) * 1000000, 0) AS BIGINT))"
        ).alias("qq")
    )
    ef = skew.filter(F.col("vec_id") != 0).select(
        "vec_id",
        F.expr(
            "transform(embedding, x -> "
            "CAST(ROUND(CAST(x AS DOUBLE) * 1000000, 0) AS BIGINT))"
        ).alias("q"),
    )
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
        .limit(_IP_TOPK)
        .select("vec_id")
        .localCheckpoint(eager=False)
    )
    arms = [("contiguous", naive), ("balanced", balanced)]
    outs = [
        exact.join(F.broadcast(arm), "vec_id").agg(
            F.lit(name).alias("variant"),
            F.lit(_IP_TOPK).cast("int").alias("k"),
            F.count(F.lit(1)).cast("long").alias("n_overlap"),
            (F.count(F.lit(1)).cast("double") / F.lit(float(_IP_TOPK))).alias(
                "recall"
            ),
        )
        for name, arm in arms
    ]
    return outs[0].unionByName(outs[1])


@query("text_quality_lr_serve", oracle=_lr_serve_oracle())
def text_quality_lr_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SERVE the trained classifier: score every document's centered
    feature vector with the step-6 weights (train → broadcast weights →
    filter, the full model lifecycle in two catalog rows) and report
    per-language keep rates and margin stats. The fit is cached per
    corpus fingerprint (lr_fit_artifacts), so this query reuses
    text_quality_train_lr's fit when both run in one session — exactly
    the train-once/serve-many lifecycle; scoring itself is one scan +
    one language aggregate, weights and means folded in as literals."""
    from jhu_data_parser_spark.operators.text import lr_fit_artifacts

    d = load_table(spark, sf_dir, "documents")
    w, _stats, mean1000, _n = lr_fit_artifacts(d, steps=_LR_STEPS)
    return lr_lang_report(d, w, mean1000)


def lr_doc_margins(d: DataFrame, w: list, mean1000: list) -> DataFrame:
    """Per-document (doc_id, m, p) under FROZEN weights + feature
    means — the scoring core shared by the lang report (batch serve +
    streaming twin) and the curriculum phases."""
    from jhu_data_parser_spark.operators.text import (
        LR_CLAMP,
        lr_quality_raw_frame,
    )

    mean_lits = ", ".join(f"CAST({m} AS BIGINT)" for m in mean1000)
    w_lit = ", ".join(f"CAST({v} AS BIGINT)" for v in w)
    raw = lr_quality_raw_frame(d)
    return raw.select(
        "doc_id",
        F.expr(
            f"aggregate(zip_with(concat(zip_with(x, array({mean_lits}), "
            f"(a, m) -> 1000 * a - m), array(CAST(1000 AS BIGINT))), "
            f"array({w_lit}), (a, b) -> a * b), "
            "CAST(0 AS BIGINT), (acc, v) -> acc + v)"
        ).alias("m"),
    ).select(
        "doc_id",
        "m",
        F.expr(
            "CAST(floor(1000000.0 / (1.0 + exp(-(CAST(LEAST("
            f"CAST({LR_CLAMP} AS BIGINT), GREATEST(CAST(-{LR_CLAMP} AS BIGINT), m)) "
            "AS DOUBLE) / 1000000.0)))) AS BIGINT)"
        ).alias("p"),
    )


def lr_lang_report(d: DataFrame, w: list, mean1000: list) -> DataFrame:
    """Per-language keep/margin report of a documents frame scored
    under FROZEN weights + feature means — shared by the batch serve
    and its streaming twin (every aggregate merges by sum/min/max,
    which is what lets the stream re-combine per-batch partials into
    the exact batch report)."""
    from jhu_data_parser_spark.operators.text import LR_SCALE

    scored = lr_doc_margins(d, w, mean1000)
    return (
        scored.join(d.select("doc_id", "lang"), "doc_id")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.count_if(F.col("p") >= LR_SCALE // 2).cast("long").alias("n_keep"),
            F.sum("m").cast("long").alias("m_sum"),
            F.min("m").cast("long").alias("m_min"),
            F.max("m").cast("long").alias("m_max"),
        )
    )


@query(
    "sim_cosine_topk_ivfpq_multi_residual",
    oracle=_ivfpq_multi_oracle(residual=True),
)
def sim_cosine_topk_ivfpq_multi_residual(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Batch serving of the RESIDUAL-encoded index (FAISS-default
    by_residual): same one-pruned-scan batch plan as
    sim_cosine_topk_ivfpq_multi, with the ADC LUTs keyed by the probed
    (query_id, cell) pair — the cell-relative query residual's
    distances to the codebook, O(Q·n_probe·m·pq_k·sub) driver ints.
    Completes the serving matrix: {single, batch} × {raw, residual},
    every cell oracle-replayed."""
    from jhu_data_parser_spark.operators import similarity as sim
    from jhu_data_parser_spark.operators.clustering import quantize_vectors
    from jhu_data_parser_spark.plans.pipeline11 import (
        _IP_CELLS,
        _IP_CITERS,
        _IP_ITERS,
        _IP_K,
        _IP_M,
        _IP_PROBE,
        _IP_SHORTLIST,
        _IP_SUB,
        _IP_TOPK,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.filter(F.col("vec_id") >= _IPM_NQUERIES)
    qrows = (
        quantize_vectors(emb.filter(F.col("vec_id") < _IPM_NQUERIES))
        .select("id", "q")
        .collect()
    )
    queries = sorted(
        (int(r["id"]), [int(v) for v in r["q"]]) for r in qrows
    )
    return sim.topk_ivfpq_indexed_multi(
        corpus,
        queries,
        k=_IP_TOPK,
        n_probe=_IP_PROBE,
        shortlist=_IP_SHORTLIST,
        n_cells=_IP_CELLS,
        coarse_iters=_IP_CITERS,
        m=_IP_M,
        sub=_IP_SUB,
        pq_k=_IP_K,
        pq_iters=_IP_ITERS,
        cache_tag="embeddings_ivfpq_multi_res",
        residual=True,
    )
