"""Catalog wave 11 — round 8: the composed IVF-PQ serving index.

Reference parity note: the reference (/root/reference, 247 LoC of
row-loop ETL — `src/parser.py:28-102`, `src/parser2.py:28-139`) has no
similarity surface; this is the [extension] ANN family's capstone
(SURVEY.md §2.12), composing the two separately-verified index parts —
IVF cell pruning (`operators/similarity.py:topk_cosine_ivf_indexed`)
and PQ/ADC compression (`plans/pipeline6.py`) — into the standard
billion-vector layout (Jégou et al., TPAMI 2011 §V; FAISS `IVFx,PQy`):

    coarse cells (partition pruning) → ADC over 2-byte codes inside the
    probed cells → exact re-rank of the shortlist.

Oracle discipline: both trained parts use the INTEGER-EXACT k-means
(lowest-id seeding, int64-L2 argmin with lowest-cid tie-break,
floor-mean updates), so the DuckDB twin unrolls the coarse fit, all M
subspace fits, the cell assignment, the query's probe choice, the ADC
LUTs, the shortlist cut and the exact re-rank as chained CTEs — the
driver gate certifies the ENTIRE composed pipeline bit-for-bit,
including the partial (n_probe < n_cells) probe, which is the real
serving configuration rather than the degenerate exhaustive one.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from jhu_data_parser_spark.plans.catalog import query
from jhu_data_parser_spark.plans.clustering import _kmeans_ctes
from jhu_data_parser_spark.session import local_frame
from jhu_data_parser_spark.sources.tables import load_table

_IP_CELLS = 8
_IP_CITERS = 2
_IP_PROBE = 3
_IP_M = 4
_IP_SUB = 16
_IP_K = 16
_IP_ITERS = 2
_IP_SHORTLIST = 50
_IP_TOPK = 10
_IP_SCALE = 1_000_000

_Q_INT = (
    f"list_transform(CAST(embedding AS DOUBLE[]), "
    f"x -> CAST(ROUND(x * {_IP_SCALE}) AS BIGINT))"
)
_ZDIST = (
    "CAST(list_sum(list_transform(list_zip({a}, {b}), "
    "z -> (z[1] - z[2]) * (z[1] - z[2]))) AS BIGINT)"
)


def _ivfpq_oracle_sql(
    src: str = "embeddings",
    residual: bool = False,
    shortlist: int = _IP_SHORTLIST,
    n_probe: int = _IP_PROBE,
) -> str:
    """Full DuckDB replay of the composed index + one serving query:
    coarse chain (cc_), M subspace chains (p{s}_ — over raw subvectors,
    or cell residuals when ``residual``), probe selection, ADC inside
    probed cells (per-cell LUTs in residual mode), shortlist, exact
    re-rank."""
    def res_pts(lo: int, hi: int) -> str:
        return (
            f"SELECT a.id, list_transform(list_zip(a.q[{lo}:{hi}], "
            f"c.c[{lo}:{hi}]), z -> z[1] - z[2]) AS q "
            f"FROM cc_a{_IP_CITERS} a "
            f"JOIN cc_c{_IP_CITERS - 1} c ON c.cid = a.cid"
        )

    chains = ",".join(
        [
            _kmeans_ctes(
                _IP_CELLS,
                _IP_CITERS,
                where="WHERE vec_id <> 0",
                prefix="cc_",
                src=src,
            )
        ]
        + [
            _kmeans_ctes(
                _IP_K,
                _IP_ITERS,
                where="WHERE vec_id <> 0",
                prefix=f"p{s}_",
                dim=_IP_SUB,
                lo=s * _IP_SUB + 1,
                src=src,
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
            """,
    qres AS (SELECT c.cid AS cell,
                    list_transform(list_zip(q.q, c.c), z -> z[1] - z[2]) AS r
             FROM qq q CROSS JOIN cc_c"""
            + str(_IP_CITERS - 1)
            + " c),"
            + ",".join(
                f"""
    lut{s} AS (SELECT qr.cell, b.cid AS code,
                      {_ZDIST.format(
                          a=f"qr.r[{s * _IP_SUB + 1}:{(s + 1) * _IP_SUB}]",
                          b="b.c")} AS d
               FROM qres qr CROSS JOIN p{s}_c{_IP_ITERS - 1} b)"""
                for s in range(_IP_M)
            )
        )
        code_joins = " ".join(
            f"JOIN lut{s} l{s} ON l{s}.cell = x.cell AND l{s}.code = c.code{s}"
            for s in range(_IP_M)
        )
    else:
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
            f"JOIN lut{s} l{s} ON l{s}.cid = c.code{s}" for s in range(_IP_M)
        )
    adc_sum = " + ".join(f"l{s}.d" for s in range(_IP_M))
    sep = "" if residual else ","
    return f"""
    WITH {chains},
    qq AS (SELECT {_Q_INT} AS q FROM {src} WHERE vec_id = 0),
    cd AS (SELECT c.cid, {_ZDIST.format(a="q.q", b="c.c")} AS d
           FROM cc_c{_IP_CITERS - 1} c CROSS JOIN qq q),
    probes AS (SELECT cid FROM cd ORDER BY d, cid LIMIT {n_probe}){sep}{luts},
    codes AS (
      SELECT a0.id AS vid, a0.cid AS code0, a1.cid AS code1,
             a2.cid AS code2, a3.cid AS code3
      FROM p0_a{_IP_ITERS} a0
      JOIN p1_a{_IP_ITERS} a1 USING (id)
      JOIN p2_a{_IP_ITERS} a2 USING (id)
      JOIN p3_a{_IP_ITERS} a3 USING (id)),
    cells AS (SELECT id AS vid, cid AS cell FROM cc_a{_IP_CITERS}),
    adc AS (
      SELECT c.vid, x.cell, CAST({adc_sum} AS BIGINT) AS adc_dist
      FROM codes c
      JOIN cells x ON x.vid = c.vid
      JOIN probes pr ON pr.cid = x.cell
      {code_joins}),
    short AS (SELECT * FROM adc ORDER BY adc_dist, vid LIMIT {shortlist}),
    ef AS (SELECT vec_id, {_Q_INT} AS q FROM {src} WHERE vec_id <> 0)
    SELECT s.vid AS vec_id, CAST(s.cell AS BIGINT) AS cell, s.adc_dist,
           {_ZDIST.format(a="e.q", b="qf.q")} AS exact_dist
    FROM short s JOIN ef e ON e.vec_id = s.vid CROSS JOIN qq qf
    ORDER BY exact_dist, vec_id LIMIT {_IP_TOPK}
    """


def _ivfpq_serve(
    spark: SparkSession,
    emb: DataFrame,
    cache_tag: str,
    residual: bool = False,
    shortlist: int = _IP_SHORTLIST,
    n_probe: int = _IP_PROBE,
) -> DataFrame:
    """Shared serving body: build/cache the index over the corpus
    (query row excluded from fits AND storage, matching the oracle's
    ``WHERE vec_id <> 0``), quantize the query Spark-side (HALF_UP —
    Python round() is banker's), and serve it as a batch of one: the
    pruned-scan ADC shortlist + driver re-rank."""
    from jhu_data_parser_spark.operators import similarity as sim
    from jhu_data_parser_spark.operators.clustering import quantize_vectors

    db = emb.filter(F.col("vec_id") != 0)
    q_ints = [
        int(v)
        for v in quantize_vectors(emb.filter(F.col("vec_id") == 0))
        .select("q")
        .first()["q"]
    ]
    return sim.topk_ivfpq_indexed_multi(
        db,
        [(0, q_ints)],
        k=_IP_TOPK,
        n_probe=n_probe,
        shortlist=shortlist,
        n_cells=_IP_CELLS,
        coarse_iters=_IP_CITERS,
        m=_IP_M,
        sub=_IP_SUB,
        pq_k=_IP_K,
        pq_iters=_IP_ITERS,
        cache_tag=cache_tag,
        residual=residual,
    ).select("vec_id", "cell", "adc_dist", "exact_dist")


@query("sim_cosine_topk_ivfpq", oracle=_ivfpq_oracle_sql())
def sim_cosine_topk_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ top-10 for query vec_id=0 with a PARTIAL probe (3 of 8
    cells) — the real serving shape, fully oracle-replayed (coarse fit,
    4 subspace fits, cell assignment, probe choice, ADC, shortlist,
    exact re-rank all bit-for-bit in DuckDB).

    Scale posture: the serving plan touches (a) n_probe/K of the index
    by partition PRUNING (plan-tested), reading only the 2-byte codes
    (column pruning — the floats aren't in the index), (b) exactly
    ``shortlist`` full vectors via one id-pruned fetch for the driver
    re-rank. Per-query driver work is probe choice + LUTs — O(K·D + M·k·sub)
    integer ops, independent of corpus size. The index build is a
    once-per-corpus artifact (same registry lifecycle as the IVF
    index); repeated queries measure the probe, not the build."""
    emb = load_table(spark, sf_dir, "embeddings")
    return _ivfpq_serve(spark, emb, cache_tag="embeddings_ivfpq")


# --------------------------------------------------------------------------
# IVF-PQ recall on the planted-cluster corpus — the measurement row the
# index-evaluation contract requires (every ANN path ships a gated
# recall report: LSH, IVF, PQ, PQ-clustered — and now the composition).
# Reuses pipeline6's deterministic 16-cluster synthesis so the number
# is comparable with sim_pq_recall_clustered: composition adds cell
# pruning ON TOP of PQ, so recall ≤ the flat-PQ row by construction —
# the report quantifies what the 8/3-cell probe costs.
# --------------------------------------------------------------------------


def _ivfpq_recall_oracle_sql(src: str) -> str:
    return f"""
    WITH ivfpq AS ({_ivfpq_oracle_sql(src=src)}),
    qf AS (SELECT {_Q_INT} AS q FROM {src} WHERE vec_id = 0),
    ef2 AS (SELECT vec_id, {_Q_INT} AS q FROM {src} WHERE vec_id <> 0),
    exact AS (
      SELECT e.vec_id FROM ef2 e CROSS JOIN qf
      ORDER BY {_ZDIST.format(a="e.q", b="qf.q")}, e.vec_id LIMIT {_IP_TOPK})
    SELECT CAST({_IP_TOPK} AS INT) AS k,
           CAST(COUNT(*) AS BIGINT) AS n_overlap,
           CAST(COUNT(*) AS DOUBLE) / CAST({_IP_TOPK} AS DOUBLE) AS recall
    FROM exact JOIN ivfpq USING (vec_id)
    """


def _synth_src() -> str:
    from jhu_data_parser_spark.plans.pipeline6 import _SYNTH_SRC

    return _SYNTH_SRC


@query("sim_ivfpq_recall_clustered", oracle=_ivfpq_recall_oracle_sql(_synth_src()))
def sim_ivfpq_recall_clustered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@10 of the composed IVF-PQ serving path (3/8-cell probe +
    ADC shortlist + exact re-rank) against the exact integer-L2 top-10
    on the planted 16-cluster corpus — the regime the index is built
    for. The oracle replays corpus synthesis, both fits, the probe,
    both rankings and the overlap, so the driver gate certifies the
    measured recall itself."""
    from jhu_data_parser_spark.plans.pipeline6 import _synth_clustered

    emb = _synth_clustered(spark, sf_dir)
    ivfpq = _ivfpq_serve(spark, emb, cache_tag="synth_clustered_ivfpq_v1").select(
        "vec_id"
    )
    qf = emb.filter(F.col("vec_id") == 0).select(
        F.expr(
            f"transform(embedding, x -> "
            f"CAST(ROUND(CAST(x AS DOUBLE) * {_IP_SCALE}, 0) AS BIGINT))"
        ).alias("qq")
    )
    ef = emb.filter(F.col("vec_id") != 0).select(
        "vec_id",
        F.expr(
            f"transform(embedding, x -> "
            f"CAST(ROUND(CAST(x AS DOUBLE) * {_IP_SCALE}, 0) AS BIGINT))"
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
    )
    overlap = exact.join(F.broadcast(ivfpq), "vec_id")
    return overlap.agg(
        F.lit(_IP_TOPK).cast("int").alias("k"),
        F.count(F.lit(1)).cast("long").alias("n_overlap"),
        (F.count(F.lit(1)).cast("double") / F.lit(float(_IP_TOPK))).alias("recall"),
    )


# --------------------------------------------------------------------------
# Unigram-LM (SentencePiece-style) tokenizer — train + encode
# (operators/text.py:unigram_fit). BPE+unigram are the two tokenizers
# real pretraining pipelines train; this completes the pair (verdict
# r7 item 2). Hard-EM with integer Viterbi and the
# floor(1e6·ln(ratio)) fixed-point cost the bigram-perplexity query
# already proved engine-portable; the DuckDB twin unrolls the seed
# counts, every EM round's DP (one CTE per word position, argmin via
# QUALIFY row_number ORDER BY cost, piece-length DESC — the operator's
# exact tie-break), the backtrack walk, the recount, and the final
# costs — so the driver gate certifies the whole fit, not a summary.
# --------------------------------------------------------------------------

_UNI_VMULTI = 40
_UNI_MAXP = 4
_UNI_MINCNT = 3
_UNI_ITERS = 2
_UNI_CAP = 16


def _unigram_cost_ctes(r: int) -> str:
    return f"""
    utot{r} AS (SELECT CAST(SUM(cnt) AS BIGINT) AS t,
                       CAST(COUNT(*) AS BIGINT) AS v FROM ucnt{r}),
    uc{r} AS MATERIALIZED (SELECT piece,
                     CAST(floor(1000000 * ln(CAST(t + v AS DOUBLE)
                          / CAST(cnt + 1 AS DOUBLE))) AS BIGINT) AS nll
              FROM ucnt{r}, utot{r})"""


def _unigram_seg_ctes(r: int, cap: int = _UNI_CAP, maxp: int = _UNI_MAXP) -> str:
    """One Viterbi pass under uc{r}: dp chain (one CTE per position,
    4-way UNION over piece lengths, QUALIFY argmin), backtrack chain,
    per-word segment listing useg{r}."""
    parts = [
        f"""udp{r}_0 AS (SELECT w, wc, CAST(0 AS BIGINT) AS d, 0 AS bl FROM uw)"""
    ]
    for i in range(1, cap + 1):
        branches = " UNION ALL ".join(
            f"""SELECT x.w, x.wc, p.d + c.nll AS dd, {piece_len} AS l
            FROM uw x
            JOIN udp{r}_{i - piece_len} p ON p.w = x.w
            JOIN uc{r} c ON c.piece = substr(x.w, {i - piece_len + 1}, {piece_len})
            WHERE length(x.w) >= {i}"""
            for piece_len in range(1, min(maxp, i) + 1)
        )
        parts.append(f"""udp{r}_{i} AS MATERIALIZED (
      SELECT u.w, u.wc, u.dd AS d, u.l AS bl
      FROM ({branches}) u
      QUALIFY row_number() OVER (PARTITION BY u.w ORDER BY u.dd, u.l DESC) = 1)""")
    dpa = " UNION ALL ".join(
        f"SELECT w, {i} AS i, bl FROM udp{r}_{i}" for i in range(1, cap + 1)
    )
    parts.append(f"udpa{r} AS MATERIALIZED ({dpa})")
    parts.append(f"ubt{r}_0 AS (SELECT w, wc, length(w) AS pos FROM uw)")
    for k in range(1, cap + 1):
        parts.append(f"""ubt{r}_{k} AS MATERIALIZED (
      SELECT b.w, b.wc, b.pos - d.bl AS pos,
             substr(b.w, b.pos - d.bl + 1, d.bl) AS piece
      FROM ubt{r}_{k - 1} b JOIN udpa{r} d ON d.w = b.w AND d.i = b.pos
      WHERE b.pos > 0)""")
    seg = " UNION ALL ".join(
        f"SELECT w, wc, pos, piece FROM ubt{r}_{k}" for k in range(1, cap + 1)
    )
    parts.append(f"useg{r} AS MATERIALIZED ({seg})")
    return ",\n    ".join(parts)


def _unigram_base_ctes() -> str:
    return f"""
    uw AS MATERIALIZED (SELECT tok AS w, CAST(COUNT(*) AS BIGINT) AS wc
           FROM (SELECT unnest(string_split_regex(lower(text), '\\s+')) AS tok
                 FROM documents)
           WHERE tok <> '' AND length(tok) <= {_UNI_CAP} GROUP BY tok),
    uchars AS (SELECT substr(w, g.i, 1) AS piece, CAST(SUM(wc) AS BIGINT) AS cnt
               FROM uw, LATERAL (SELECT unnest(range(1, length(w) + 1)) AS i) g
               GROUP BY 1),
    ucand AS (SELECT substr(w, g.i, ll.l) AS piece, CAST(SUM(wc) AS BIGINT) AS cnt
              FROM uw,
                   LATERAL (SELECT unnest(range(2, {_UNI_MAXP + 1})) AS l) ll,
                   LATERAL (SELECT unnest(range(1, length(w) - ll.l + 2)) AS i) g
              GROUP BY 1),
    umulti AS (SELECT piece, cnt FROM ucand WHERE cnt >= {_UNI_MINCNT}
               ORDER BY cnt DESC, piece LIMIT {_UNI_VMULTI}),
    ucnt0 AS MATERIALIZED (SELECT piece, cnt FROM uchars
              UNION ALL SELECT piece, cnt FROM umulti)"""


def _unigram_recount_cte(r: int) -> str:
    return f"""
    ucnt{r + 1} AS MATERIALIZED (
      SELECT v.piece, CAST(COALESCE(SUM(s.wc), 0) AS BIGINT) AS cnt
      FROM (SELECT piece FROM ucnt0) v
      LEFT JOIN useg{r} s USING (piece) GROUP BY v.piece)"""


def _unigram_chain(through_seg_round: int) -> str:
    """Base + cost/seg/recount CTEs: cost rounds 0..N, seg rounds
    0..through_seg_round, recounts after seg rounds < the final one."""
    parts = [_unigram_base_ctes()]
    for r in range(_UNI_ITERS):
        parts.append(_unigram_cost_ctes(r))
        parts.append(_unigram_seg_ctes(r))
        parts.append(_unigram_recount_cte(r))
    parts.append(_unigram_cost_ctes(_UNI_ITERS))
    if through_seg_round >= _UNI_ITERS:
        parts.append(_unigram_seg_ctes(_UNI_ITERS))
    return ",\n    ".join(parts)


def _unigram_train_oracle() -> str:
    return (
        "WITH "
        + _unigram_chain(through_seg_round=_UNI_ITERS - 1)
        + f"""
    SELECT n.piece, n.cnt, c.nll AS nll_fp
    FROM ucnt{_UNI_ITERS} n JOIN uc{_UNI_ITERS} c USING (piece)
    """
    )


def _unigram_encode_oracle() -> str:
    return (
        "WITH "
        + _unigram_chain(through_seg_round=_UNI_ITERS)
        + f""",
    uenc AS MATERIALIZED (SELECT w, string_agg(piece, chr(1) ORDER BY pos) AS s,
                    CAST(COUNT(*) AS BIGINT) AS n_tok
             FROM useg{_UNI_ITERS} GROUP BY w),
    udt AS (SELECT t.doc_id, g.i AS pos, t.toks[g.i] AS w
            FROM (SELECT doc_id,
                         list_filter(string_split_regex(lower(text), '\\s+'),
                                     x -> x <> '' AND length(x) <= {_UNI_CAP})
                           AS toks
                  FROM documents) t,
            LATERAL (SELECT unnest(range(1, len(t.toks) + 1)) AS i) g)
    SELECT udt.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(uenc.n_tok) AS BIGINT) AS n_pieces,
           md5(string_agg(uenc.s, chr(2) ORDER BY udt.pos)) AS stream_md5
    FROM udt JOIN uenc USING (w)
    GROUP BY udt.doc_id
    """
    )


@query("text_unigram_train", oracle=_unigram_train_oracle())
def text_unigram_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM tokenizer training over the documents corpus: the
    final vocab with hard-EM segment counts and fixed-point costs. The
    model is a bounded artifact (|vocab| rows — same class as the BPE
    merge table and the k-means centroid collects); the corpus-sized
    work is one word-frequency pass plus, per EM round, one JVM-side
    Viterbi projection over the DISTINCT-WORD table and one piece-key
    aggregate. The oracle replays seeding, every DP cell, every
    backtrack step, the recounts and the final costs."""
    from jhu_data_parser_spark.operators.text import unigram_fit

    d = load_table(spark, sf_dir, "documents")
    rows, _costs = unigram_fit(
        d,
        vocab_multi=_UNI_VMULTI,
        max_piece_len=_UNI_MAXP,
        min_count=_UNI_MINCNT,
        em_iters=_UNI_ITERS,
        word_len_cap=_UNI_CAP,
    )
    return local_frame(spark, rows, "piece string, cnt bigint, nll_fp bigint")


@query("text_unigram_encode", oracle=_unigram_encode_oracle())
def text_unigram_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encode every document with the unigram LM TRAINED on this corpus
    (train → Viterbi-segment, end to end — the unigram twin of
    text_bpe_encode): per doc the word count, total piece count, and an
    md5 over the in-order piece stream, so the gate proves the exact
    segmentation of every document. Segmentation runs once per DISTINCT
    word (JVM HOF Viterbi under the literal cost map) and broadcast-
    joins back to word instances; words longer than the fit cap are
    excluded on both engines."""
    from jhu_data_parser_spark.operators.text import (
        unigram_fit,
        unigram_viterbi_expr,
    )

    d = load_table(spark, sf_dir, "documents")
    _rows, costs = unigram_fit(
        d,
        vocab_multi=_UNI_VMULTI,
        max_piece_len=_UNI_MAXP,
        min_count=_UNI_MINCNT,
        em_iters=_UNI_ITERS,
        word_len_cap=_UNI_CAP,
    )
    toks = F.expr(
        f"filter(split(lower(text), '\\\\s+'), "
        f"x -> x <> '' AND length(x) <= {_UNI_CAP})"
    )
    dt = d.select("doc_id", F.posexplode(toks).alias("pos", "w"))
    vocab = dt.select("w").distinct()
    enc = vocab.select(
        "w",
        F.expr(unigram_viterbi_expr("w", costs, _UNI_MAXP)).alias("ps"),
    ).select(
        "w",
        F.array_join("ps", "\x01").alias("s"),
        F.size("ps").cast("long").alias("n_tok"),
    )
    joined = dt.join(F.broadcast(enc), "w")
    stream = F.expr(
        "concat_ws('\x02', transform(array_sort(collect_list(struct(pos, s))), "
        "x -> x.s))"
    )
    return joined.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_words"),
        F.sum("n_tok").alias("n_pieces"),
        F.md5(stream).alias("stream_md5"),
    )


# --------------------------------------------------------------------------
# Residual IVF-PQ — the FAISS-default (by_residual=true) encoding:
# codes quantize the vector MINUS its coarse centroid, concentrating
# the codebook on within-cell spread. Residual subtraction is exact
# integer math, so the full-replay oracle discipline carries over
# unchanged — the chains just fit over residual point sets and the ADC
# LUT becomes per-(probed cell, subspace). Same partial 3-of-8 probe.
# --------------------------------------------------------------------------


@query("sim_cosine_topk_ivfpq_residual", oracle=_ivfpq_oracle_sql(residual=True))
def sim_cosine_topk_ivfpq_residual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ top-10 with RESIDUAL codes (see module comment): the
    serving plan is identical to sim_cosine_topk_ivfpq — pruned
    code-only scan, ADC shortlist, exact re-rank — except the ADC
    expression picks a per-cell lookup table (one literal-map lookup by
    query and cell, still O(n_probe·m·k·sub) driver ints per query). The oracle
    replays the residual fits, the per-cell LUTs, and everything
    downstream bit-for-bit."""
    emb = load_table(spark, sf_dir, "embeddings")
    return _ivfpq_serve(
        spark, emb, cache_tag="embeddings_ivfpq_res", residual=True
    )
