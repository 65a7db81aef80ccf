"""Catalog wave 14 — round 9 continuation: binary-signature ANN,
multi-dimensional z-order layout pruning, and format-matrix close-out.

Reference parity note: the reference (/root/reference) has no
similarity or layout surface; these are [extension] operators of the
LLM-data-pipeline family the brief ranks first-class. Everything here
follows the house exactness discipline: integer-exact arithmetic
everywhere an ordering or hash crosses engines, the 1e9·(dot/denom)
fixed-point floor for the one float score, and DuckDB oracles that
replay every step.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from jhu_data_parser_spark import cache, sink
from jhu_data_parser_spark.operators import similarity as sim
from jhu_data_parser_spark.plans.catalog import query
from jhu_data_parser_spark.plans.llm import _query_vec
from jhu_data_parser_spark.session import local_frame
from jhu_data_parser_spark.sources.tables import load_table

_BIN_SHORTLIST = 16

# Binary ANN: 1-bit sign quantization (the degenerate-but-ubiquitous
# member of the quantization matrix: float32 → int8 → PQ → sign bits).
# Index = two 32-bit words per vector (16 bytes with the id); shortlist
# = Hamming distance (XOR + popcount); recall = exact re-rank of the
# shortlist, the same refine shape as PQ/ADC. The oracle replays the
# packing (sum of disjoint powers of two), the Hamming ranking, the
# shortlist boundary, and the fixed-point exact re-rank bit-for-bit.
_BINARY_ORACLE = f"""
    WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qe
               FROM embeddings WHERE vec_id = 0),
    qw AS (SELECT
             CAST(list_sum(list_transform(range(32),
                  i -> CASE WHEN qe[i+1] > 0.0 THEN (1::BIGINT << i)
                            ELSE 0::BIGINT END)) AS BIGINT) AS qlo,
             CAST(list_sum(list_transform(range(32),
                  i -> CASE WHEN qe[i+33] > 0.0 THEN (1::BIGINT << i)
                            ELSE 0::BIGINT END)) AS BIGINT) AS qhi
           FROM q),
    w AS (SELECT vec_id, label,
             CAST(list_sum(list_transform(range(32),
                  i -> CASE WHEN emb[i+1] > 0.0 THEN (1::BIGINT << i)
                            ELSE 0::BIGINT END)) AS BIGINT) AS lo,
             CAST(list_sum(list_transform(range(32),
                  i -> CASE WHEN emb[i+33] > 0.0 THEN (1::BIGINT << i)
                            ELSE 0::BIGINT END)) AS BIGINT) AS hi
          FROM (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb
                FROM embeddings WHERE vec_id <> 0)),
    h AS (SELECT vec_id, label,
                 CAST(bit_count(xor(lo, qlo)) + bit_count(xor(hi, qhi)) AS INT)
                   AS hamming
          FROM w, qw),
    short AS (SELECT * FROM h ORDER BY hamming, vec_id LIMIT {_BIN_SHORTLIST}),
    rr AS (SELECT s.vec_id, s.label, s.hamming,
                  CAST(floor(1000000000.0 *
                    (list_dot_product(CAST(e.embedding AS DOUBLE[]), q.qe)
                     / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                              CAST(e.embedding AS DOUBLE[])))
                        * sqrt(list_dot_product(q.qe, q.qe))))) AS BIGINT)
                    AS sim_nano
           FROM short s JOIN embeddings e USING (vec_id), q)
    SELECT vec_id, label, hamming, sim_nano,
           CAST(row_number() OVER (ORDER BY sim_nano DESC, vec_id) AS INT)
             AS rank
    FROM rr ORDER BY sim_nano DESC, vec_id LIMIT 10
    """


@query("sim_cosine_topk_binary", oracle=_BINARY_ORACLE)
def sim_cosine_topk_binary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 by exact cosine over a Hamming-distance shortlist of the
    1-bit sign signatures. Scale posture: the signature scan reads
    (vec_id, label, sig words) only — at 100 TB the words are STORED at
    ingest (binary_signature is a shuffle-free projection), the
    shortlist is a TakeOrderedAndProject (no full sort), and the exact
    re-rank broadcasts the ≤16-row shortlist back into the base scan —
    the full vectors are never shuffled."""
    e = load_table(spark, sf_dir, "embeddings")
    corpus = e.filter(F.col("vec_id") != 0)
    qv = _query_vec(spark, sf_dir, 0)
    qlo, qhi = sim.binary_query_words(qv)
    short = (
        sim.binary_signature(corpus)
        .select(
            "vec_id",
            sim.hamming64(F.col("sig_lo"), F.col("sig_hi"), qlo, qhi).alias(
                "hamming"
            ),
        )
        .orderBy("hamming", "vec_id")
        .limit(_BIN_SHORTLIST)
    )
    qlit = F.array(*[F.lit(float(x)) for x in qv])
    qn = sum(float(x) * float(x) for x in qv) ** 0.5
    rr = e.join(F.broadcast(short), "vec_id").select(
        "vec_id",
        "label",
        "hamming",
        # Rounding order matches the oracle: 1e9 * (dot/denom) — see the
        # retrieval_hard_negatives ulp note (plans/pipeline10.py).
        F.floor(
            1_000_000_000.0
            * (
                sim.dot(F.col("embedding"), qlit)
                / (sim.l2_norm(F.col("embedding")) * F.lit(qn))
            )
        )
        .cast("long")
        .alias("sim_nano"),
    )
    w = Window.orderBy(F.col("sim_nano").desc(), "vec_id")
    return (
        rr.orderBy(F.col("sim_nano").desc(), "vec_id")
        .limit(10)
        .select(
            "vec_id",
            "label",
            "hamming",
            "sim_nano",
            F.row_number().over(w).cast("int").alias("rank"),
        )
    )


# ---------------------------------------------------------------------------
# Z-order layout pruning — the data-clustering decision every 100 TB
# lake makes (Delta/Iceberg OPTIMIZE ZORDER BY): interleaving the bits
# of two filter dimensions clusters rows so that a file's min/max
# column stats (what parquet row-group pruning actually consults) cover
# a RECTANGLE of the key space instead of a thin stripe. The query
# materializes both candidate layouts — lexicographic (x, y) and
# z-order — assigns rows to equal-size files, computes each file's
# min/max stats, and counts the files a stats-pruned scan must read
# for three probe boxes. Everything is integer arithmetic (bit shifts,
# row_number, floor division), so the oracle replays layout assignment,
# stats, and pruning bit-for-bit.
#
# Scale posture: layout assignment is the one-time OPTIMIZE job, not
# the serving path — at 100 TB the global order comes from
# repartitionByRange on the clustering key (sampled range boundaries)
# with partition-local row numbering, the same quantile-literal bucket
# machinery as window_global_rank_distributed (operators/intervals.py).
# The per-file stats table (n_files rows) and the probe-box grid are
# metadata-sized; pruning decisions never touch the data again.
# ---------------------------------------------------------------------------
_Z_FILES = 16
_Z_BITS = 6

# probe boxes: small/medium square + a half-space stripe (stripes are
# where lexicographic wins on the leading dim — the honest comparison)
_Z_BOXES = [(1, 8, 15, 8, 15), (2, 16, 31, 16, 31), (3, 0, 31, 0, 63)]


def _z_boxes_sql() -> str:
    rows = ", ".join(f"({b}, {x0}, {x1}, {y0}, {y1})" for b, x0, x1, y0, y1 in _Z_BOXES)
    return f"(VALUES {rows}) AS b(box_id, x0, x1, y0, y1)"


def _z_interleave_sql(x: str, y: str) -> str:
    terms = []
    for i in range(_Z_BITS):
        terms.append(f"((({x} >> {i}) & 1) << {2 * i + 1})")
        terms.append(f"((({y} >> {i}) & 1) << {2 * i})")
    return " + ".join(terms)


_ZORDER_ORACLE = f"""
    WITH pts AS (
      SELECT o_orderkey,
             CAST(o_custkey % 64 AS BIGINT) AS x,
             CAST(CAST(floor(o_totalprice / 1000.0) AS BIGINT) % 64 AS BIGINT) AS y
      FROM orders),
    keyed AS (
      SELECT l.layout, p.o_orderkey, p.x, p.y,
             CASE WHEN l.layout = 'zorder'
                  THEN {_z_interleave_sql('p.x', 'p.y')}
                  ELSE p.x * 64 + p.y END AS sort_key
      FROM pts p CROSS JOIN (VALUES ('zorder'), ('lexico')) AS l(layout)),
    filed AS (
      SELECT layout, x, y,
             CAST(floor((row_number() OVER (PARTITION BY layout
                                            ORDER BY sort_key, o_orderkey) - 1)
                        * {_Z_FILES}.0
                        / (COUNT(*) OVER (PARTITION BY layout)))
                  AS BIGINT) AS file_id
      FROM keyed),
    stats AS (
      SELECT layout, file_id,
             min(x) AS min_x, max(x) AS max_x,
             min(y) AS min_y, max(y) AS max_y
      FROM filed GROUP BY layout, file_id),
    pruned AS (
      SELECT s.layout, b.box_id,
             CAST(SUM(CASE WHEN s.min_x <= b.x1 AND s.max_x >= b.x0
                            AND s.min_y <= b.y1 AND s.max_y >= b.y0
                           THEN 1 ELSE 0 END) AS INT) AS files_scanned
      FROM stats s CROSS JOIN {_z_boxes_sql()}
      GROUP BY s.layout, b.box_id),
    matched AS (
      SELECT b.box_id, CAST(COUNT(*) AS BIGINT) AS rows_matched
      FROM pts p CROSS JOIN {_z_boxes_sql()}
      WHERE p.x BETWEEN b.x0 AND b.x1 AND p.y BETWEEN b.y0 AND b.y1
      GROUP BY b.box_id)
    SELECT p.layout, p.box_id, p.files_scanned, m.rows_matched
    FROM pruned p JOIN matched m USING (box_id)
    """


@query("layout_zorder_pruning", oracle=_ZORDER_ORACLE)
def layout_zorder_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compare z-order vs lexicographic file clustering by the number
    of files a min/max-stats-pruned scan reads per probe box."""
    o = load_table(spark, sf_dir, "orders")
    pts = o.select(
        "o_orderkey",
        (F.col("o_custkey") % 64).cast("long").alias("x"),
        (F.floor(F.col("o_totalprice") / 1000.0).cast("long") % 64)
        .cast("long")
        .alias("y"),
    )
    layouts = local_frame(spark, [("zorder",), ("lexico",)], "layout string")
    keyed = pts.crossJoin(F.broadcast(layouts)).withColumn(
        "sort_key",
        F.when(
            # y first: x bit i lands at bit 2i+1, y bit i at bit 2i
            F.col("layout") == "zorder", sink.zorder_key("y", "x", bits=_Z_BITS)
        ).otherwise(F.col("x") * 64 + F.col("y")),
    )
    w = Window.partitionBy("layout").orderBy("sort_key", "o_orderkey")
    wc = Window.partitionBy("layout")
    filed = keyed.select(
        "layout",
        "x",
        "y",
        # floor of the double quotient on BOTH engines — DuckDB's
        # CAST(double AS BIGINT) rounds while Spark's truncates, so the
        # bare-cast form diverges at the file boundary rows.
        F.floor(
            (F.row_number().over(w) - 1).cast("double")
            * float(_Z_FILES)
            / F.count(F.lit(1)).over(wc)
        )
        .cast("long")
        .alias("file_id"),
    )
    stats = filed.groupBy("layout", "file_id").agg(
        F.min("x").alias("min_x"),
        F.max("x").alias("max_x"),
        F.min("y").alias("min_y"),
        F.max("y").alias("max_y"),
    )
    boxes = local_frame(
        spark, _Z_BOXES, "box_id int, x0 long, x1 long, y0 long, y1 long"
    )
    pruned = (
        stats.crossJoin(F.broadcast(boxes))
        .groupBy("layout", "box_id")
        .agg(
            F.sum(
                F.when(
                    (F.col("min_x") <= F.col("x1"))
                    & (F.col("max_x") >= F.col("x0"))
                    & (F.col("min_y") <= F.col("y1"))
                    & (F.col("max_y") >= F.col("y0")),
                    1,
                ).otherwise(0)
            )
            .cast("int")
            .alias("files_scanned")
        )
    )
    matched = (
        pts.crossJoin(F.broadcast(boxes))
        .filter(
            F.col("x").between(F.col("x0"), F.col("x1"))
            & F.col("y").between(F.col("y0"), F.col("y1"))
        )
        .groupBy("box_id")
        .agg(F.count(F.lit(1)).alias("rows_matched"))
    )
    return pruned.join(F.broadcast(matched), "box_id").select(
        "layout", "box_id", "files_scanned", "rows_matched"
    )


# ---------------------------------------------------------------------------
# JSON-lines roundtrip — closes the format matrix (parquet ✓ ORC ✓
# CSV ✓ JSON ✓; Avro remains env-blocked: the spark-avro jar is absent
# from this distribution, recorded in PLANS.md round 8). JSON is the
# interchange format crawl pipelines actually land (WARC-extract →
# JSONL), so the typed roundtrip through Spark's native JSON
# writer/reader belongs in the source matrix. Explicit schema on
# read — never inferSchema (one pass, deterministic types); doubles
# survive bit-exactly because Spark emits shortest-roundtrip decimal
# reprs. Shares the cents-exact aggregate oracle of the ORC/CSV twins.
# ---------------------------------------------------------------------------
def _json_rt_oracle() -> str:
    from jhu_data_parser_spark.plans.pipeline12 import _ROUNDTRIP_ORACLE

    return _ROUNDTRIP_ORACLE


@query("source_json_roundtrip", oracle=_json_rt_oracle())
def source_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem projection → JSON-lines files → read back with an
    explicit schema → cents-exact aggregate, hash-gated against the
    parquet-sourced oracle shared with the ORC/CSV twins."""

    from jhu_data_parser_spark.plans.pipeline12 import _roundtrip_agg, _roundtrip_cols

    out = cache.scratch_dir("json_rt")
    # NOT _spread (see pipeline12._spread): JVM-native JSON write is
    # faster single-task than paying the spread shuffle (measured r14:
    # 1.09 s plain vs 1.79 s spread).
    _roundtrip_cols(spark, sf_dir).write.mode("overwrite").json(out)
    back = spark.read.schema(
        "l_returnflag string, l_extendedprice double, l_quantity double"
    ).json(out)
    return _roundtrip_agg(back)


# ---------------------------------------------------------------------------
# Streaming Gopher quality — the curation filter as a REAL stream
# (streaming/jobs.run_gopher_quality_stream): stateless per-batch rule
# flags + addition-mergeable per-lang partial counts, idempotent
# batch_id sinks, read-back re-sum. Shares text_gopher_quality's
# oracle: the driver hash proves stream ≡ batch ≡ SQL.
# ---------------------------------------------------------------------------
def _gopher_oracle() -> str:
    from jhu_data_parser_spark.plans.pipeline8 import _GOPHER_ORACLE

    return _GOPHER_ORACLE


@query("stream_gopher_quality", oracle=_gopher_oracle())
def stream_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language Gopher rule report built from a documents stream —
    the continuously-ingesting form of the curation filter. Each
    micro-batch contributes its own per-lang partial counts (counts
    merge by addition, the same mergeability discipline as the CMS
    stream); the read-back sum is bit-identical to the batch report."""
    from jhu_data_parser_spark.streaming.jobs import run_gopher_quality_stream

    return run_gopher_quality_stream(spark, sf_dir)


# ---------------------------------------------------------------------------
# WordPiece tokenizer (Schuster & Nakajima 2012; the BERT tokenizer) —
# the third tokenizer family real pipelines train (BPE: pipeline2/5,
# unigram-LM: pipeline11). Training maximizes the likelihood-gain
# score count(ab)/(count(a)·count(b)) per merge instead of BPE's raw
# pair count; encoding is greedy longest-match-first against the
# learned vocab with the '##' continuation marker and whole-word [UNK]
# fallback (no merge replay, no DP). The oracle unrolls every round —
# symbol counts, pair scores, argmax, merge rewrite — with the same
# \x01-delimited symbol-string trick as the BPE oracle, and replays
# the greedy encode as a precomputed best-match table + recursive walk.
# ---------------------------------------------------------------------------
_WP_MERGES = 8
_WP_MIN_WC = 2


def _wp_trainer_parts(num_merges: int = _WP_MERGES, min_word_count: int = _WP_MIN_WC) -> list[str]:
    sep = "chr(1)"
    parts = [
        f"""w AS MATERIALIZED (
      SELECT tok AS w, COUNT(*) AS wc
      FROM (SELECT unnest(string_split_regex(lower(text), '\\s+')) AS tok
            FROM documents)
      WHERE tok <> '' GROUP BY tok HAVING COUNT(*) >= {min_word_count}),
    s0 AS MATERIALIZED (
      SELECT wc,
             {sep} || array_to_string(
               list_transform(range(1, length(w) + 1),
                 i -> CASE WHEN i = 1 THEN substr(w, i, 1)
                           ELSE '##' || substr(w, i, 1) END),
               {sep} || {sep}) || {sep} AS s
      FROM w)"""
    ]
    for r in range(1, num_merges + 1):
        parts.append(f"""sy{r} AS MATERIALIZED (
      SELECT wc, string_split(substr(s, 2, length(s) - 2), {sep} || {sep}) AS L
      FROM s{r - 1}),
    c{r} AS MATERIALIZED (
      SELECT u.sym, SUM(wc) AS c
      FROM sy{r}, LATERAL unnest(L) u(sym) GROUP BY 1),
    p{r} AS MATERIALIZED (
      SELECT L[g.i] AS a, L[g.i + 1] AS b, SUM(wc) AS n
      FROM sy{r}, LATERAL (SELECT unnest(range(1, len(L))) AS i) g
      GROUP BY 1, 2),
    b{r} AS MATERIALIZED (
      SELECT p.a, p.b, CAST(p.n AS BIGINT) AS n,
             CAST(ca.c AS BIGINT) AS ca, CAST(cb.c AS BIGINT) AS cb,
             CAST(p.n AS DOUBLE) / (CAST(ca.c AS DOUBLE) * CAST(cb.c AS DOUBLE))
               AS score
      FROM p{r} p JOIN c{r} ca ON p.a = ca.sym JOIN c{r} cb ON p.b = cb.sym
      ORDER BY score DESC, p.a, p.b LIMIT 1),
    s{r} AS MATERIALIZED (
      SELECT wc, replace(s, {sep} || b{r}.a || {sep} || {sep} || b{r}.b || {sep},
                            {sep} || b{r}.a || substr(b{r}.b, 3) || {sep}) AS s
      FROM s{r - 1}, b{r})""")
    return parts


def _wp_merges_oracle(num_merges: int = _WP_MERGES, min_word_count: int = _WP_MIN_WC) -> str:
    parts = _wp_trainer_parts(num_merges, min_word_count)
    unions = "\n    UNION ALL ".join(
        f"""SELECT CAST({r - 1} AS INT) AS merge_rank, a AS "left", b AS "right",
               a || substr(b, 3) AS merged, n AS pair_count,
               ca AS left_count, cb AS right_count, score FROM b{r}"""
        for r in range(1, num_merges + 1)
    )
    return "WITH " + ",\n    ".join(parts) + "\n    " + unions


@query("text_wordpiece_train", oracle=_wp_merges_oracle())
def text_wordpiece_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learn the 8-merge WordPiece table from the corpus: per round the
    merge with the best likelihood-gain score count(ab)/(count(a)·
    count(b)) wins (ties: a, b ascending — binary string order in both
    engines). The score itself is hash-gated: exact integer counts,
    one double multiply + one double divide in the same order in both
    engines. Adaptive local/distributed fit (bit-identical, pinned in
    tests); at 100 TB each round is two word-table shuffles, the
    corpus is read once."""
    from jhu_data_parser_spark.operators.text import wordpiece_train_merges

    d = load_table(spark, sf_dir, "documents")
    return wordpiece_train_merges(
        d, num_merges=_WP_MERGES, min_word_count=_WP_MIN_WC
    )


def _wp_encode_parts(num_merges: int = _WP_MERGES, min_word_count: int = _WP_MIN_WC) -> list[str]:
    parts = _wp_trainer_parts(num_merges, min_word_count)
    merged_unions = "\n        UNION ".join(
        f"SELECT a || substr(b, 3) AS sym FROM b{r}" for r in range(1, num_merges + 1)
    )
    parts.append(f"""vinit AS MATERIALIZED (
      SELECT DISTINCT CASE WHEN g.i = 1 THEN substr(w.w, g.i, 1)
                           ELSE '##' || substr(w.w, g.i, 1) END AS sym
      FROM w, LATERAL (SELECT unnest(range(1, length(w.w) + 1)) AS i) g),
    vall AS MATERIALIZED (
      SELECT sym FROM vinit UNION {merged_unions}),
    maxraw AS (
      SELECT MAX(CASE WHEN sym LIKE '##%' THEN length(sym) - 2
                      ELSE length(sym) END) AS m
      FROM vall),
    vocabw AS MATERIALIZED (
      SELECT DISTINCT tok AS w
      FROM (SELECT unnest(string_split_regex(lower(text), '\\s+')) AS tok
            FROM documents)
      WHERE tok <> ''),
    cand AS MATERIALIZED (
      SELECT vw.w, g.pos, CAST(MAX(l.l) AS BIGINT) AS bl
      FROM vocabw vw,
           LATERAL (SELECT unnest(range(1, length(vw.w) + 1)) AS pos) g,
           LATERAL (SELECT unnest(range(1, (SELECT m FROM maxraw) + 1)) AS l) l
      WHERE g.pos + l.l - 1 <= length(vw.w)
        AND (CASE WHEN g.pos = 1 THEN substr(vw.w, g.pos, CAST(l.l AS INT))
                  ELSE '##' || substr(vw.w, g.pos, CAST(l.l AS INT)) END)
            IN (SELECT sym FROM vall)
      GROUP BY 1, 2),
    walk AS (
      SELECT w, CAST(1 AS BIGINT) AS pos, CAST('' AS VARCHAR) AS stream,
             CAST(0 AS BIGINT) AS ntok, false AS bad
      FROM vocabw
      UNION ALL
      SELECT wk.w,
             CASE WHEN c.bl IS NULL THEN length(wk.w) + 1
                  ELSE wk.pos + c.bl END,
             CASE WHEN c.bl IS NULL THEN wk.stream
                  ELSE wk.stream
                       || CASE WHEN wk.pos > 1 THEN chr(2) ELSE '' END
                       || CASE WHEN wk.pos = 1
                               THEN substr(wk.w, CAST(wk.pos AS INT),
                                           CAST(c.bl AS INT))
                               ELSE '##' || substr(wk.w, CAST(wk.pos AS INT),
                                                   CAST(c.bl AS INT)) END
                  END,
             wk.ntok + CASE WHEN c.bl IS NULL THEN 0 ELSE 1 END,
             c.bl IS NULL
      FROM walk wk LEFT JOIN cand c ON c.w = wk.w AND c.pos = wk.pos
      WHERE wk.pos <= length(wk.w) AND NOT wk.bad),
    enc AS MATERIALIZED (
      SELECT w,
             CASE WHEN bad THEN '[UNK]' ELSE stream END AS s,
             CAST(CASE WHEN bad THEN 1 ELSE ntok END AS BIGINT) AS n_tok,
             CASE WHEN bad THEN 1 ELSE 0 END AS unk
      FROM walk WHERE pos > length(w)),
    dt AS (
      SELECT t.doc_id, t.lang, g.i AS pos, t.toks[g.i] AS w
      FROM (SELECT doc_id, lang,
                   list_filter(string_split_regex(lower(text), '\\s+'),
                               x -> x <> '') AS toks
            FROM documents) t,
           LATERAL (SELECT unnest(range(1, len(t.toks) + 1)) AS i) g)""")
    return parts


def _wp_encode_oracle(num_merges: int = _WP_MERGES, min_word_count: int = _WP_MIN_WC) -> str:
    parts = _wp_encode_parts(num_merges, min_word_count)
    return (
        "WITH RECURSIVE "
        + ",\n    ".join(parts)
        + """
    SELECT dt.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(enc.n_tok) AS BIGINT) AS n_wp_tokens,
           CAST(SUM(enc.unk) AS BIGINT) AS n_unk_words,
           md5(string_agg(enc.s, chr(3) ORDER BY dt.pos)) AS stream_md5
    FROM dt JOIN enc USING (w)
    GROUP BY dt.doc_id
    """
    )


@query("text_wordpiece_encode", oracle=_wp_encode_oracle())
def text_wordpiece_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encode every document with the WordPiece vocabulary LEARNED from
    this corpus (train → encode, end to end): per doc the word count,
    total piece count, [UNK]-word count, and an md5 over the in-order
    piece stream — the driver gate proves the exact piece sequence of
    every document.

    The greedy longest-match fold runs as a pure-JVM HOF over the
    DISTINCT-WORD table only (vocab-bounded literal map, same class as
    the unigram cost map), then broadcast-joins back to word instances
    — no Python worker, no corpus-sized shuffle beyond the one doc-key
    aggregation. The oracle replays training, vocabulary assembly, AND
    the greedy walk (precomputed best-match table + recursive CTE)."""
    from jhu_data_parser_spark.operators.text import (
        WP_UNK,
        wordpiece_encode_expr,
        wordpiece_vocab,
    )

    d = load_table(spark, sf_dir, "documents")
    vocab = wordpiece_vocab(
        d, num_merges=_WP_MERGES, min_word_count=_WP_MIN_WC
    )
    toks = F.expr("filter(split(lower(text), '\\\\s+'), x -> x <> '')")
    dt = d.select("doc_id", F.posexplode(toks).alias("pos", "w"))
    vw = dt.select("w").distinct()
    enc = vw.select(
        "w", F.expr(wordpiece_encode_expr("w", vocab)).alias("ps")
    ).select(
        "w",
        F.array_join("ps", "\x02").alias("s"),
        F.size("ps").cast("long").alias("n_tok"),
        F.when(
            (F.size("ps") == 1) & (F.element_at("ps", 1) == WP_UNK), 1
        )
        .otherwise(0)
        .alias("unk"),
    )
    joined = dt.join(F.broadcast(enc), "w")
    stream = F.expr(
        "concat_ws('\x03', transform(array_sort(collect_list(struct(pos, s))), "
        "x -> x.s))"
    )
    return joined.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_words"),
        F.sum("n_tok").cast("long").alias("n_wp_tokens"),
        F.sum("unk").cast("long").alias("n_unk_words"),
        F.md5(stream).alias("stream_md5"),
    )


# ---------------------------------------------------------------------------
# Video near-duplicate detection — the missing VIDEO member of the
# dedup family (images: multimodal_phash_*): per-frame content keys
# from a REAL container decode, an inverted-index equi-join on the
# frame key, and a containment threshold — the shot-hash design every
# production video-dedup service uses (an exact payload hash misses a
# re-upload trimmed by one frame; this catches it). The corpus plants
# exactly that: every 10th doc is a trailing-trimmed copy of its
# decade head's video. The oracle replays synthesis (frame byte = the
# _fill_bytes LCG, emulated with HUGEINT wraparound), the frame join,
# and the containment rule from doc_id arithmetic — it never sees a
# payload, so a hash match proves the Spark side genuinely walked the
# MP4 box tree and sample tables for every frame of every video.
# ---------------------------------------------------------------------------
_VID_ORACLE = """
    WITH v AS (
      SELECT doc_id,
             CAST(CASE WHEN doc_id % 10 = 9 THEN doc_id - 9 ELSE doc_id END
                  AS HUGEINT) AS uid,
             CAST((CASE WHEN doc_id % 10 = 9 THEN doc_id - 9 ELSE doc_id END)
                  % 4 + 1 AS INT) * 8 AS w,
             CAST((CASE WHEN doc_id % 10 = 9 THEN doc_id - 9 ELSE doc_id END)
                  % 3 + 1 AS INT) * 8 AS h,
             CAST((CASE WHEN doc_id % 10 = 9 THEN doc_id - 9 ELSE doc_id END)
                  % 5 + CASE WHEN doc_id % 10 = 9 THEN 1 ELSE 2 END
                  AS INT) AS nf
      FROM documents),
    fr AS (
      SELECT v.doc_id, v.w, v.h, CAST(g.f AS INT) AS frame_no,
             CAST((((g.f + v.uid) * 6364136223846793005
                    + 1442695040888963407)
                   % 170141183460469231731687303715884105728
                   % 18446744073709551616) // 8589934592 % 256 AS INT)
               AS fkey
      FROM v, generate_series(0, 5) g(f)
      WHERE g.f < v.nf),
    cand AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(COUNT(*) AS INT) AS n_shared
      FROM fr a JOIN fr b
        ON a.w = b.w AND a.h = b.h AND a.frame_no = b.frame_no
       AND a.fkey = b.fkey AND a.doc_id < b.doc_id
      GROUP BY 1, 2)
    SELECT c.id_a, c.id_b, c.n_shared,
           va.nf AS nf_a, vb.nf AS nf_b
    FROM cand c
    JOIN v va ON va.doc_id = c.id_a
    JOIN v vb ON vb.doc_id = c.id_b
    WHERE 10 * c.n_shared >= 9 * least(va.nf, vb.nf)
    """


@query("multimodal_video_neardup_pairs", oracle=_VID_ORACLE)
def multimodal_video_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate video pairs by frame-content containment: ≥90% of
    the shorter video's frames must match the longer's at the same
    position, dims, and content key. Scale posture: payloads never
    shuffle — the decode emits (doc_id, frame_no, dims, key) narrow
    rows (Arrow-batched mapInPandas, ensure_parallelism on the attach
    site); the candidate stage is ONE equi-join on the frame key (the
    inverted-index shape — never an all-pairs video join); the frame
    table is checkpointed once and reused by both the join and the
    per-video frame counts."""
    from jhu_data_parser_spark.operators.multimodal import (
        attach_mp4_mirrored,
        mp4_frame_signature,
    )

    d = load_table(spark, sf_dir, "documents")
    sig = mp4_frame_signature(attach_mp4_mirrored(d)).localCheckpoint(eager=False)
    nf = sig.groupBy("doc_id").agg(
        (F.max("frame_no") + 1).cast("int").alias("nf")
    )
    a = sig.select(
        F.col("doc_id").alias("id_a"), "width", "height", "frame_no", "fkey"
    )
    b = sig.select(
        F.col("doc_id").alias("id_b"), "width", "height", "frame_no", "fkey"
    )
    cand = (
        a.join(b, ["width", "height", "frame_no", "fkey"])
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("int").alias("n_shared"))
    )
    return (
        cand.join(nf.select(F.col("doc_id").alias("id_a"), F.col("nf").alias("nf_a")), "id_a")
        .join(nf.select(F.col("doc_id").alias("id_b"), F.col("nf").alias("nf_b")), "id_b")
        .filter(10 * F.col("n_shared") >= 9 * F.least("nf_a", "nf_b"))
        .select("id_a", "id_b", "n_shared", "nf_a", "nf_b")
    )


# ---------------------------------------------------------------------------
# KMV sketch SET OPERATIONS (Beyer et al. 2007) — the mergeable-sketch
# answer to "how much do two corpora overlap?" (cross-snapshot
# contamination / dedup-rate estimation at 100 TB, where the exact
# distinct-join is the thing you can't afford). Bottom-k sketches of
# the 'click' and 'purchase' user sets combine into the union sketch
# by a k-way merge; Jaccard is estimated by the fraction of the union
# sketch's k hashes present in BOTH input sketches, intersection by
# scaling the union estimate. Every quantity is an exact integer
# (md5-derived 48-bit hashes, integer division), so the ESTIMATES
# themselves are value-hash gated next to the exact counts they
# approximate — same discipline as agg_kmv_distinct_users.
# ---------------------------------------------------------------------------
_KMV_SO_K = 32
_KMV_SO_DOMAIN = 1 << 48


def _kmv_setops_oracle() -> str:
    from jhu_data_parser_spark.plans.pipeline6 import _hexpoly_sql

    h = _hexpoly_sql("md5(CAST(user_id AS VARCHAR))", 12)
    k, dom = _KMV_SO_K, _KMV_SO_DOMAIN
    return f"""
    WITH a AS (SELECT DISTINCT {h} AS h FROM events
               WHERE event_type = 'click' AND user_id % 3 <> 0),
    b AS (SELECT DISTINCT {h} AS h FROM events
              WHERE event_type = 'purchase' AND user_id % 4 <> 0),
    ka AS (SELECT h FROM a ORDER BY h LIMIT {k}),
    kb AS (SELECT h FROM b ORDER BY h LIMIT {k}),
    ku AS (SELECT DISTINCT h FROM (SELECT h FROM ka UNION ALL SELECT h FROM kb)
           ORDER BY h LIMIT {k}),
    kth AS (SELECT MAX(h) AS kth_hash, COUNT(*) AS nu FROM ku),
    ov AS (SELECT COUNT(*) AS k_overlap
           FROM ku WHERE h IN (SELECT h FROM ka) AND h IN (SELECT h FROM kb)),
    ex AS (SELECT
             (SELECT COUNT(*) FROM a) AS n_a_exact,
             (SELECT COUNT(*) FROM b) AS n_b_exact,
             (SELECT COUNT(*) FROM a WHERE h IN (SELECT h FROM b)) AS inter_exact)
    SELECT CAST(ex.n_a_exact AS BIGINT) AS n_a_exact,
           CAST(ex.n_b_exact AS BIGINT) AS n_b_exact,
           CAST(ex.inter_exact AS BIGINT) AS inter_exact,
           CAST(ex.n_a_exact + ex.n_b_exact - ex.inter_exact AS BIGINT)
             AS union_exact,
           CAST(ov.k_overlap AS BIGINT) AS k_overlap,
           CAST(CASE WHEN kth.nu < {k} THEN kth.nu
                     ELSE ({k - 1} * {dom}) // kth.kth_hash END AS BIGINT)
             AS union_est,
           CAST(ov.k_overlap
                * (CASE WHEN kth.nu < {k} THEN kth.nu
                        ELSE ({k - 1} * {dom}) // kth.kth_hash END)
                // {k} AS BIGINT) AS intersect_est
    FROM ex, kth, ov
    """


@query("sketch_kmv_set_ops", oracle=_kmv_setops_oracle())
def sketch_kmv_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Union/intersection cardinality estimation from two bottom-k
    sketches, gated next to the exact answers. Scale posture: each
    side's sketch is a bottom-k over its distinct hashes (map-side
    combinable; at 100 TB per-partition bottom-k then a k-way merge —
    constant state), the combine and estimate run on ≤2k rows; the
    exact arm here exists only to certify the estimator and would be
    dropped in production."""
    from jhu_data_parser_spark.plans.pipeline6 import _hex_long

    k, dom = _KMV_SO_K, _KMV_SO_DOMAIN
    ev = load_table(spark, sf_dir, "events")

    def side(et: str, mod: int) -> DataFrame:
        return (
            ev.filter((F.col("event_type") == et) & (F.col("user_id") % mod != 0))
            .select(_hex_long(F.md5(F.col("user_id").cast("string")), 12).alias("h"))
            .distinct()
        )

    # Two PARTIALLY-overlapping snapshots (different user-id slices of
    # different event types) — full-overlap sets would leave the
    # intersection estimator untested. Each side is consumed by five
    # plan branches (bottom-k, union sketch, overlap, exact count,
    # exact intersection); checkpoint once or the fact table scans 10×
    # (caught by the round-9 plan audit).
    a = side("click", 3).localCheckpoint(eager=False)
    b = side("purchase", 4).localCheckpoint(eager=False)
    ka = a.orderBy("h").limit(k)
    kb = b.orderBy("h").limit(k)
    ku = (
        ka.unionAll(kb)
        .distinct()
        .orderBy("h")
        .limit(k)
    )
    kth = ku.agg(F.max("h").alias("kth_hash"), F.count(F.lit(1)).alias("nu"))
    ov = (
        ku.join(ka, "h", "left_semi")
        .join(kb, "h", "left_semi")
        .agg(F.count(F.lit(1)).alias("k_overlap"))
    )
    ex = (
        a.agg(F.count(F.lit(1)).alias("n_a_exact"))
        .crossJoin(b.agg(F.count(F.lit(1)).alias("n_b_exact")))
        .crossJoin(
            a.join(b, "h", "left_semi")
            .agg(F.count(F.lit(1)).alias("inter_exact"))
        )
    )
    est = F.when(F.col("nu") < k, F.col("nu")).otherwise(
        F.expr(f"{(k - 1) * dom}L div kth_hash")
    )
    return (
        ex.crossJoin(F.broadcast(kth))
        .crossJoin(F.broadcast(ov))
        .select(
            F.col("n_a_exact").cast("long").alias("n_a_exact"),
            F.col("n_b_exact").cast("long").alias("n_b_exact"),
            F.col("inter_exact").cast("long").alias("inter_exact"),
            (F.col("n_a_exact") + F.col("n_b_exact") - F.col("inter_exact"))
            .cast("long")
            .alias("union_exact"),
            F.col("k_overlap").cast("long").alias("k_overlap"),
            est.cast("long").alias("union_est"),
        )
        .withColumn(
            "intersect_est",
            F.expr(f"(k_overlap * union_est) div {_KMV_SO_K}").cast("long"),
        )
    )


# ---------------------------------------------------------------------------
# Deterministic global shuffle → shard export — the data-ORDERING step
# of a pretraining run: examples must be drawn in an order that is (a)
# statistically uniform, (b) bit-reproducible across reruns and
# engines, and (c) computable WITHOUT a global sort. The standard
# design: shard = hash-bucket of a salted key (one hash-partition
# pass, embarrassingly parallel), within-shard order = the hash value
# itself. The query certifies the full assignment: per-shard counts,
# token mass, and an md5 over the in-order doc_id stream — the driver
# hash proves every document's shard AND position.
# ---------------------------------------------------------------------------
_SHUF_SHARDS = 8
_SHUF_SALT = "epoch0"


def _shuffle_shards_oracle() -> str:
    from jhu_data_parser_spark.plans.pipeline6 import _hexpoly_sql

    h = _hexpoly_sql(f"md5('{_SHUF_SALT}:' || CAST(doc_id AS VARCHAR))", 12)
    return f"""
    WITH keyed AS (
      SELECT doc_id,
             len(list_filter(string_split_regex(lower(text), '\\s+'),
                             x -> x <> '')) AS n_tokens,
             {h} AS hkey
      FROM documents)
    SELECT CAST(hkey % {_SHUF_SHARDS} AS INT) AS shard_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
           md5(string_agg(CAST(doc_id AS VARCHAR), ','
                          ORDER BY hkey, doc_id)) AS order_md5
    FROM keyed GROUP BY 1
    """


@query("sample_shuffle_shards", oracle=_shuffle_shards_oracle())
def sample_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assign every document to one of 8 epoch-salted shuffle shards
    and certify the within-shard order. Scale posture: ONE hash
    partition pass (the md5 key is the shuffle key — at 100 TB this is
    ``repartition(S, hkey)`` + ``sortWithinPartitions(hkey)`` writing
    shard files directly); no global sort, no row_number, no driver
    state. A new epoch = a new salt — the reshuffle costs exactly one
    pass, which is why production loaders salt the hash rather than
    permuting indices."""
    from jhu_data_parser_spark.plans.pipeline6 import _hex_long

    d = load_table(spark, sf_dir, "documents")
    keyed = d.select(
        "doc_id",
        F.expr("size(filter(split(lower(text), '\\\\s+'), x -> x <> ''))")
        .alias("n_tokens"),
        _hex_long(
            F.md5(F.concat(F.lit(f"{_SHUF_SALT}:"), F.col("doc_id").cast("string"))),
            12,
        ).alias("hkey"),
    )
    stream = F.expr(
        "concat_ws(',', transform(array_sort(collect_list(struct(hkey, doc_id))), "
        "x -> CAST(x.doc_id AS STRING)))"
    )
    return keyed.groupBy((F.col("hkey") % _SHUF_SHARDS).cast("int").alias("shard_id")).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
        F.md5(stream).alias("order_md5"),
    )


# ---------------------------------------------------------------------------
# Decode-normalized AUDIO dedup — hash the DECODED waveform, not the
# bytes: a re-encoded upload (same PCM, different container metadata)
# defeats raw-byte dedup, and audio corpora are full of them. The
# corpus plants both duplicate kinds per decade (uid+5 byte-exact,
# uid+9 re-encoded with an extra LIST/INFO chunk); this query groups
# by the exact integer fingerprint of the decoded samples, so both
# kinds land in the head's group. The oracle replays the PCM
# recurrence ((seed·7919 + i·104729) mod 2^16 − 2^15) and the
# position-weighted fingerprint from doc_id arithmetic — it never
# sees a byte, so the hash match proves the RIFF chunk walk genuinely
# skipped the planted metadata chunk and read the same samples.
# The byte-vs-content contrast (raw-md5 dedup finds only the exact
# twin; content dedup finds both) is pinned in pytest.
# ---------------------------------------------------------------------------
_AUDIO_DEDUP_ORACLE = """
    WITH v AS (
      SELECT doc_id,
             CASE WHEN doc_id % 10 = 5 THEN doc_id - 5
                  WHEN doc_id % 10 = 9 THEN doc_id - 9
                  ELSE doc_id END AS uid
      FROM documents),
    p AS (
      SELECT doc_id, uid,
             CAST(uid % 192 + 64 AS INT) AS n_samples,
             CAST(CASE uid % 3 WHEN 0 THEN 8000 WHEN 1 THEN 16000
                  ELSE 44100 END AS INT) AS sample_rate
      FROM v),
    fp AS (
      SELECT p.doc_id, p.sample_rate, p.n_samples,
             CAST(SUM((g.i + 1) *
                      ((p.uid * 7919 + g.i * 104729) % 65536 - 32768))
                  AS BIGINT) AS pcm_fp
      FROM p, LATERAL (SELECT unnest(range(0, p.n_samples)) AS i) g
      GROUP BY 1, 2, 3)
    SELECT doc_id, sample_rate, n_samples, pcm_fp,
           CAST(COUNT(*) OVER (PARTITION BY sample_rate, n_samples, pcm_fp)
                AS BIGINT) AS group_size,
           COUNT(*) OVER (PARTITION BY sample_rate, n_samples, pcm_fp) > 1
             AS is_duplicate
    FROM fp
    """


@query("multimodal_audio_content_dedup", oracle=_AUDIO_DEDUP_ORACLE)
def multimodal_audio_content_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact audio dedup on the decoded-PCM fingerprint. Scale posture:
    decode + fingerprint is Arrow-batched mapInPandas (no shuffle,
    payloads projected away immediately); the only shuffled columns are
    the 20-byte key triple — the same narrow-key discipline as the
    image phash family."""
    from jhu_data_parser_spark.operators.multimodal import (
        attach_wav_mirrored,
        wav_content_fingerprint,
    )

    d = load_table(spark, sf_dir, "documents")
    fp = wav_content_fingerprint(attach_wav_mirrored(d)).drop("raw_md5")
    w = Window.partitionBy("sample_rate", "n_samples", "pcm_fp")
    n = F.count(F.lit(1)).over(w)
    return fp.select(
        "doc_id",
        "sample_rate",
        "n_samples",
        "pcm_fp",
        n.cast("long").alias("group_size"),
        (n > 1).alias("is_duplicate"),
    )


# ---------------------------------------------------------------------------
# Batch serving for the binary index — the request shape production
# ANN runs (mirrors sim_cosine_topk_ivfpq_multi): one signature scan
# scores every query in the batch (queries broadcast as packed words),
# per-query Hamming shortlists via WindowGroupLimit, one broadcast
# exact re-rank. Completes the serving matrix for the 1-bit index.
# ---------------------------------------------------------------------------
_BIN_MULTI_Q = 5
_BIN_MULTI_K = 10


def _bin_words_sql(src: str) -> str:
    return f"""
      SELECT vec_id,
             CAST(list_sum(list_transform(range(32),
                  i -> CASE WHEN emb[i+1] > 0.0 THEN (1::BIGINT << i)
                            ELSE 0::BIGINT END)) AS BIGINT) AS lo,
             CAST(list_sum(list_transform(range(32),
                  i -> CASE WHEN emb[i+33] > 0.0 THEN (1::BIGINT << i)
                            ELSE 0::BIGINT END)) AS BIGINT) AS hi
      FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
            FROM embeddings WHERE {src})"""


_BIN_MULTI_ORACLE = f"""
    WITH qw AS ({_bin_words_sql(f"vec_id < {_BIN_MULTI_Q}")}),
    w AS ({_bin_words_sql(f"vec_id >= {_BIN_MULTI_Q}")}),
    h AS (
      SELECT qw.vec_id AS query_id, w.vec_id,
             CAST(bit_count(xor(w.lo, qw.lo)) + bit_count(xor(w.hi, qw.hi))
                  AS INT) AS hamming,
             row_number() OVER (PARTITION BY qw.vec_id
                                ORDER BY bit_count(xor(w.lo, qw.lo))
                                       + bit_count(xor(w.hi, qw.hi)),
                                         w.vec_id) AS rn
      FROM w, qw),
    short AS (SELECT query_id, vec_id, hamming FROM h WHERE rn <= {_BIN_SHORTLIST}),
    rr AS (
      SELECT s.query_id, s.vec_id, s.hamming,
             CAST(floor(1000000000.0 *
               (list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                 CAST(q.embedding AS DOUBLE[]))
                / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                         CAST(e.embedding AS DOUBLE[])))
                   * sqrt(list_dot_product(CAST(q.embedding AS DOUBLE[]),
                                           CAST(q.embedding AS DOUBLE[]))))))
               AS BIGINT) AS sim_nano
      FROM short s
      JOIN embeddings e ON e.vec_id = s.vec_id
      JOIN embeddings q ON q.vec_id = s.query_id)
    SELECT query_id, vec_id, hamming, sim_nano,
           CAST(row_number() OVER (PARTITION BY query_id
                                   ORDER BY sim_nano DESC, vec_id) AS INT)
             AS rank
    FROM rr
    QUALIFY rank <= {_BIN_MULTI_K}
    """


@query("sim_cosine_topk_binary_multi", oracle=_BIN_MULTI_ORACLE)
def sim_cosine_topk_binary_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A 5-query batch served by the binary index with ONE signature
    scan: queries ride as a broadcast 5-row packed-word table, the
    per-query shortlist compiles to WindowGroupLimit (per-task partial
    top-k before the shuffle), and the exact re-rank broadcasts the
    ≤80-row shortlist into the base scan joined with the broadcast
    query vectors — corpus vectors never shuffle."""
    e = load_table(spark, sf_dir, "embeddings")
    corpus = e.filter(F.col("vec_id") >= _BIN_MULTI_Q)
    queries = e.filter(F.col("vec_id") < _BIN_MULTI_Q)
    qw = sim.binary_signature(queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("sig_lo").alias("qlo"),
        F.col("sig_hi").alias("qhi"),
    )
    w = sim.binary_signature(corpus).select("vec_id", "sig_lo", "sig_hi")
    ham = (
        F.bit_count(F.col("sig_lo").bitwiseXOR(F.col("qlo")))
        + F.bit_count(F.col("sig_hi").bitwiseXOR(F.col("qhi")))
    ).cast("int")
    h = w.crossJoin(F.broadcast(qw)).select(
        "query_id", "vec_id", ham.alias("hamming")
    )
    ws = Window.partitionBy("query_id").orderBy("hamming", "vec_id")
    short = (
        h.withColumn("rn", F.row_number().over(ws))
        .filter(F.col("rn") <= _BIN_SHORTLIST)
        .drop("rn")
    )
    qe = queries.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    rr = (
        corpus.select("vec_id", "embedding")
        .join(F.broadcast(short), "vec_id")
        .join(F.broadcast(qe), "query_id")
        .select(
            "query_id",
            "vec_id",
            "hamming",
            F.floor(
                1_000_000_000.0
                * (
                    sim.dot(F.col("embedding"), F.col("q_emb"))
                    / (
                        sim.l2_norm(F.col("embedding"))
                        * sim.l2_norm(F.col("q_emb"))
                    )
                )
            )
            .cast("long")
            .alias("sim_nano"),
        )
    )
    wr = Window.partitionBy("query_id").orderBy(F.col("sim_nano").desc(), "vec_id")
    return (
        rr.withColumn("rank", F.row_number().over(wr).cast("int"))
        .filter(F.col("rank") <= _BIN_MULTI_K)
    )


# ---------------------------------------------------------------------------
# Binary-index recall on a CENTERED planted-cluster corpus — the
# evaluation row of the binary story (siblings: sim_lsh/ivf/pq_recall).
# Sign quantization needs zero-centered dimensions: on the raw
# (all-positive) synthetic embeddings every signature is ~all-ones and
# the index is blind — so the eval corpus centers the cluster pattern
# at zero ((pattern % 16) − 8 ± 5e-5 noise). Each of the 16 clusters
# then owns a distinct 64-bit sign pattern; members differ only on the
# ~4 dims whose base is exactly 0 (noise-sign bits). recall@10 of the
# Hamming-shortlist + exact re-rank against the exact arm is itself
# value-hash gated — the oracle replays synthesis, packing, shortlist,
# re-rank, the exact arm, and the overlap count.
# ---------------------------------------------------------------------------
_BINC_N = 160
_BINC_VEC = (
    "CAST(((vec_id % 16) * 37 + (i + 1) * 11) % 16 - 8 AS DOUBLE) + "
    "CAST(((vec_id * 7919 + (i + 1) * 104729) % 100001) - 50000 AS DOUBLE) / "
    "CAST(1000000000 AS DOUBLE)"
)


def _binary_recall_oracle() -> str:
    src = (
        f"(SELECT vec_id, list_transform(range(64), i -> {_BINC_VEC}) "
        f"AS embedding FROM embeddings WHERE vec_id < {_BINC_N})"
    )
    return f"""
    WITH synth AS MATERIALIZED ({src.strip("()")}),
    q AS (SELECT embedding AS qe FROM synth WHERE vec_id = 0),
    qw AS (SELECT
             CAST(list_sum(list_transform(range(32),
                  i -> CASE WHEN qe[i+1] > 0.0 THEN (1::BIGINT << i)
                            ELSE 0::BIGINT END)) AS BIGINT) AS qlo,
             CAST(list_sum(list_transform(range(32),
                  i -> CASE WHEN qe[i+33] > 0.0 THEN (1::BIGINT << i)
                            ELSE 0::BIGINT END)) AS BIGINT) AS qhi
           FROM q),
    w AS (SELECT vec_id,
             CAST(list_sum(list_transform(range(32),
                  i -> CASE WHEN embedding[i+1] > 0.0 THEN (1::BIGINT << i)
                            ELSE 0::BIGINT END)) AS BIGINT) AS lo,
             CAST(list_sum(list_transform(range(32),
                  i -> CASE WHEN embedding[i+33] > 0.0 THEN (1::BIGINT << i)
                            ELSE 0::BIGINT END)) AS BIGINT) AS hi
          FROM synth WHERE vec_id <> 0),
    short AS (
      SELECT w.vec_id
      FROM w, qw
      ORDER BY bit_count(xor(w.lo, qw.qlo)) + bit_count(xor(w.hi, qw.qhi)),
               w.vec_id
      LIMIT {_BIN_SHORTLIST}),
    approx AS (
      SELECT s.vec_id
      FROM short s JOIN synth e USING (vec_id), q
      ORDER BY list_dot_product(e.embedding, q.qe)
               / (sqrt(list_dot_product(e.embedding, e.embedding))
                  * sqrt(list_dot_product(q.qe, q.qe))) DESC, s.vec_id
      LIMIT 10),
    exact AS (
      SELECT e.vec_id
      FROM synth e, q WHERE e.vec_id <> 0
      ORDER BY list_dot_product(e.embedding, q.qe)
               / (sqrt(list_dot_product(e.embedding, e.embedding))
                  * sqrt(list_dot_product(q.qe, q.qe))) DESC, e.vec_id
      LIMIT 10)
    SELECT CAST(10 AS INT) AS k,
           CAST({_BIN_SHORTLIST} AS INT) AS shortlist,
           CAST((SELECT COUNT(*) FROM approx WHERE vec_id IN
                 (SELECT vec_id FROM exact)) AS INT) AS n_overlap
    """


@query("sim_binary_recall_clustered", oracle=_binary_recall_oracle())
def sim_binary_recall_clustered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@10 of the binary Hamming-shortlist index on the centered
    planted-cluster corpus, gated as a value (not just asserted in
    pytest). Same serving pipeline as sim_cosine_topk_binary over the
    synthesized frame."""
    emb = load_table(spark, sf_dir, "embeddings")
    synth = emb.filter(F.col("vec_id") < _BINC_N).select(
        "vec_id",
        F.expr(f"transform(sequence(0, 63), i -> {_BINC_VEC})").alias("embedding"),
    )
    corpus = synth.filter(F.col("vec_id") != 0)
    qv = [
        float(x)
        for x in synth.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    ]
    qlo, qhi = sim.binary_query_words(qv)
    short = (
        sim.binary_signature(corpus)
        .select(
            "vec_id",
            sim.hamming64(F.col("sig_lo"), F.col("sig_hi"), qlo, qhi).alias("h"),
        )
        .orderBy("h", "vec_id")
        .limit(_BIN_SHORTLIST)
        .select("vec_id")
    )
    qlit = F.array(*[F.lit(float(x)) for x in qv])
    qn = sum(float(x) * float(x) for x in qv) ** 0.5
    score = sim.dot(F.col("embedding"), qlit) / (
        sim.l2_norm(F.col("embedding")) * F.lit(qn)
    )
    approx = (
        corpus.join(F.broadcast(short), "vec_id")
        .orderBy(score.desc(), "vec_id")
        .limit(10)
        .select("vec_id")
    )
    exact = corpus.orderBy(score.desc(), "vec_id").limit(10).select("vec_id")
    overlap = approx.join(exact, "vec_id", "left_semi").agg(
        F.count(F.lit(1)).cast("int").alias("n_overlap")
    )
    return overlap.select(
        F.lit(10).cast("int").alias("k"),
        F.lit(_BIN_SHORTLIST).cast("int").alias("shortlist"),
        "n_overlap",
    )


# ---------------------------------------------------------------------------
# Snapshot diff — the reconciliation every versioned lake runs between
# two table versions (CDC validation, backfill audit, replication
# check): classify every key as added / removed / changed / unchanged
# with one FULL OUTER join, and checksum the changed payloads. v2 is
# derived deterministically from v1 (keys %13==4 deleted, %11==3
# repriced +100, %17==5 re-keyed as inserts), so the oracle replays
# the version synthesis and the classification.
# ---------------------------------------------------------------------------
_DIFF_ORACLE = """
    WITH v1 AS (SELECT o_orderkey AS k, o_totalprice AS p FROM orders),
    v2 AS (
      SELECT o_orderkey AS k,
             CASE WHEN o_orderkey % 11 = 3 THEN o_totalprice + 100.0
                  ELSE o_totalprice END AS p
      FROM orders WHERE o_orderkey % 13 <> 4
      UNION ALL
      SELECT o_orderkey + 1000000000 AS k, o_totalprice AS p
      FROM orders WHERE o_orderkey % 17 = 5),
    d AS (
      SELECT COALESCE(v1.k, v2.k) AS k,
             CASE WHEN v1.k IS NULL THEN 'added'
                  WHEN v2.k IS NULL THEN 'removed'
                  WHEN v1.p <> v2.p THEN 'changed'
                  ELSE 'unchanged' END AS change_type,
             COALESCE(v2.p, v1.p) AS p
      FROM v1 FULL OUTER JOIN v2 ON v1.k = v2.k)
    SELECT change_type,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(floor(p * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS price_cents
    FROM d GROUP BY change_type
    """


@query("etl_snapshot_diff", oracle=_DIFF_ORACLE)
def etl_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classify every key across two table versions with one full
    outer join on the key. Scale posture: the join shuffles both
    versions once on the key (or reads shuffle-free from bucketed
    layouts — test_bucketed_join_is_exchange_free pins that shape);
    the classification is pure codegen; output is |change_types|
    rows."""
    o = load_table(spark, sf_dir, "orders")
    v1 = o.select(F.col("o_orderkey").alias("k"), F.col("o_totalprice").alias("p"))
    v2 = (
        o.filter(F.col("o_orderkey") % 13 != 4)
        .select(
            F.col("o_orderkey").alias("k"),
            F.when(
                F.col("o_orderkey") % 11 == 3, F.col("o_totalprice") + 100.0
            )
            .otherwise(F.col("o_totalprice"))
            .alias("p"),
        )
        .unionAll(
            o.filter(F.col("o_orderkey") % 17 == 5).select(
                (F.col("o_orderkey") + 1_000_000_000).alias("k"),
                F.col("o_totalprice").alias("p"),
            )
        )
    )
    d = v1.alias("a").join(v2.alias("b"), F.col("a.k") == F.col("b.k"), "full_outer")
    classified = d.select(
        F.when(F.col("a.k").isNull(), "added")
        .when(F.col("b.k").isNull(), "removed")
        .when(F.col("a.p") != F.col("b.p"), "changed")
        .otherwise("unchanged")
        .alias("change_type"),
        F.coalesce(F.col("b.p"), F.col("a.p")).alias("p"),
    )
    return classified.groupBy("change_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(F.floor(F.col("p") * 100 + F.lit(0.5)).cast("long"))
        .cast("long")
        .alias("price_cents"),
    )


# ---------------------------------------------------------------------------
# Sequence-packing efficiency report — the padding-waste accounting a
# training team runs before choosing a packing strategy. Three
# strategies in closed form (NO sequential bin state — the point of
# the design is that each is a pure groupBy arithmetic, which is what
# makes it computable at 100 TB):
#   stream:   concatenate and split at the budget (crosses document
#             boundaries; bins = ceil(total/B), minimal waste);
#   harmonic: doc-boundary-preserving HARMONIC-class packing (Lee &
#             Lee 1985): a doc's full B-token pieces fill whole bins,
#             its remainder of size r joins class k = B div r, where
#             bins hold exactly k remainders → ceil(n_k / k) bins per
#             class;
#   per_doc:  one document per sequence run, bins = Σ ceil(n/B),
#             maximal waste.
# waste = bins·B − total tokens. Integer arithmetic end to end.
# ---------------------------------------------------------------------------
_PACK_B = 512

_PACK_EFF_ORACLE = f"""
    WITH t AS (
      SELECT source,
             len(list_filter(string_split_regex(lower(text), '\\s+'),
                             x -> x <> '')) AS n
      FROM documents),
    per_doc AS (
      SELECT source, n,
             n // {_PACK_B} AS full_bins,
             n % {_PACK_B} AS rem
      FROM t),
    classes AS (
      SELECT source, {_PACK_B} // rem AS k, COUNT(*) AS n_k
      FROM per_doc WHERE rem > 0 GROUP BY 1, 2),
    harmonic AS (
      SELECT source,
             CAST(SUM((n_k + k - 1) // k) AS BIGINT) AS rem_bins
      FROM classes GROUP BY source),
    agg AS (
      SELECT source,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n) AS BIGINT) AS total_tokens,
             CAST(SUM(full_bins) AS BIGINT) AS full_bins,
             CAST(SUM((n + {_PACK_B} - 1) // {_PACK_B}) AS BIGINT)
               AS bins_per_doc
      FROM per_doc GROUP BY source)
    SELECT a.source, a.n_docs, a.total_tokens,
           CAST((a.total_tokens + {_PACK_B} - 1) // {_PACK_B} AS BIGINT)
             AS bins_stream,
           CAST(a.full_bins + COALESCE(h.rem_bins, 0) AS BIGINT)
             AS bins_harmonic,
           a.bins_per_doc,
           CAST((a.full_bins + COALESCE(h.rem_bins, 0)) * {_PACK_B}
                - a.total_tokens AS BIGINT) AS waste_harmonic,
           CAST(a.bins_per_doc * {_PACK_B} - a.total_tokens AS BIGINT)
             AS waste_per_doc
    FROM agg a LEFT JOIN harmonic h USING (source)
    """


@query("text_pack_efficiency", oracle=_PACK_EFF_ORACLE)
def text_pack_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source padding-waste accounting for three packing
    strategies (stream / harmonic doc-boundary / per-doc). Everything
    is closed-form integer arithmetic over two small aggregations —
    no sequential bin state, no sort, no window."""
    d = load_table(spark, sf_dir, "documents")
    B = _PACK_B
    t = d.select(
        "source",
        F.expr("size(filter(split(lower(text), '\\\\s+'), x -> x <> ''))")
        .alias("n"),
    )
    per_doc = t.select(
        "source",
        "n",
        F.expr(f"n div {B}").alias("full_bins"),
        (F.col("n") % B).alias("rem"),
    )
    classes = (
        per_doc.filter(F.col("rem") > 0)
        .groupBy("source", F.expr(f"{B} div rem").alias("k"))
        .agg(F.count(F.lit(1)).alias("n_k"))
    )
    harmonic = classes.groupBy("source").agg(
        F.sum(F.expr("(n_k + k - 1) div k")).cast("long").alias("rem_bins")
    )
    agg = per_doc.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n").cast("long").alias("total_tokens"),
        F.sum("full_bins").cast("long").alias("full_bins"),
        F.sum(F.expr(f"(n + {B} - 1) div {B}")).cast("long").alias("bins_per_doc"),
    )
    j = agg.join(harmonic, "source", "left").na.fill({"rem_bins": 0})
    return j.select(
        "source",
        "n_docs",
        "total_tokens",
        F.expr(f"(total_tokens + {B} - 1) div {B}").cast("long").alias("bins_stream"),
        (F.col("full_bins") + F.col("rem_bins")).cast("long").alias("bins_harmonic"),
        "bins_per_doc",
        ((F.col("full_bins") + F.col("rem_bins")) * B - F.col("total_tokens"))
        .cast("long")
        .alias("waste_harmonic"),
        (F.col("bins_per_doc") * B - F.col("total_tokens"))
        .cast("long")
        .alias("waste_per_doc"),
    )


# ---------------------------------------------------------------------------
# Index compaction — the LSM follow-up to stream_ivfpq_index_append:
# periodically rewrite base ∪ appended micro-batch segments into one
# fresh cell-partitioned index (pure layout rewrite under the frozen
# codebooks — no re-fit), so serving reads one segment per cell
# instead of one per batch. Serve(compacted) must equal serve(LSM
# view) must equal the batch-encoded union — all three share one
# oracle, and the segment-count drop is pinned in pytest.
# ---------------------------------------------------------------------------
def _ivfpq_compact_oracle() -> str:
    from jhu_data_parser_spark.plans.pipeline13 import _ivfpq_append_oracle

    return _ivfpq_append_oracle()


@query("stream_ivfpq_index_compact", oracle=_ivfpq_compact_oracle())
def stream_ivfpq_index_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serve the streamed index AFTER compaction (one partitioned
    rewrite of base ∪ appends) — hash-gated against the same oracle as
    the pre-compaction LSM serve, proving compaction is a pure layout
    change."""
    from jhu_data_parser_spark.streaming.jobs import run_ivfpq_index_compact

    return run_ivfpq_index_compact(spark, sf_dir)


# ---------------------------------------------------------------------------
# Retrieval evaluation metrics — the scorecard every retrieval system
# ships with: recall@k, MRR, and NDCG@10 of the binary-index ranking
# against the exact-cosine gold top-10, over the centered clustered
# corpus. Fixed-point discipline makes the METRICS hash-gatable:
# reciprocal-rank contributions are integer 1e6 div rank; the NDCG
# discount floor(1e6 / (ln(r+1)/ln 2)) is a function of the integer
# rank alone (identical IEEE ops in both engines); NDCG is reported
# in integer millis via (1000·DCG) div IDCG.
# ---------------------------------------------------------------------------
_EVAL_SHORT = 12  # tight: at 32 the system is perfect and the metrics are vacuous
_EVAL_K = 20


def _retrieval_eval_oracle() -> str:
    src = (
        f"SELECT vec_id, list_transform(range(64), i -> {_BINC_VEC}) "
        f"AS embedding FROM embeddings WHERE vec_id < {_BINC_N}"
    )
    disc = "floor(1000000.0 / (ln(CAST(rank_s + 1 AS DOUBLE)) / ln(2.0)))"
    return f"""
    WITH synth AS MATERIALIZED ({src}),
    q AS (SELECT embedding AS qe FROM synth WHERE vec_id = 0),
    qw AS (SELECT
             CAST(list_sum(list_transform(range(32),
                  i -> CASE WHEN qe[i+1] > 0.0 THEN (1::BIGINT << i)
                            ELSE 0::BIGINT END)) AS BIGINT) AS qlo,
             CAST(list_sum(list_transform(range(32),
                  i -> CASE WHEN qe[i+33] > 0.0 THEN (1::BIGINT << i)
                            ELSE 0::BIGINT END)) AS BIGINT) AS qhi
           FROM q),
    w AS (SELECT vec_id,
             CAST(list_sum(list_transform(range(32),
                  i -> CASE WHEN embedding[i+1] > 0.0 THEN (1::BIGINT << i)
                            ELSE 0::BIGINT END)) AS BIGINT) AS lo,
             CAST(list_sum(list_transform(range(32),
                  i -> CASE WHEN embedding[i+33] > 0.0 THEN (1::BIGINT << i)
                            ELSE 0::BIGINT END)) AS BIGINT) AS hi
          FROM synth WHERE vec_id <> 0),
    short AS (
      SELECT w.vec_id FROM w, qw
      ORDER BY bit_count(xor(w.lo, qw.qlo)) + bit_count(xor(w.hi, qw.qhi)),
               w.vec_id
      LIMIT {_EVAL_SHORT}),
    system AS (
      SELECT s.vec_id,
             row_number() OVER (
               ORDER BY list_dot_product(e.embedding, q.qe)
                 / (sqrt(list_dot_product(e.embedding, e.embedding))
                    * sqrt(list_dot_product(q.qe, q.qe))) DESC, s.vec_id
             ) AS rank_s
      FROM short s JOIN synth e USING (vec_id), q
      QUALIFY rank_s <= {_EVAL_K}),
    gold AS (
      SELECT e.vec_id FROM synth e, q WHERE e.vec_id <> 0
      ORDER BY list_dot_product(e.embedding, q.qe)
               / (sqrt(list_dot_product(e.embedding, e.embedding))
                  * sqrt(list_dot_product(q.qe, q.qe))) DESC, e.vec_id
      LIMIT 10),
    found AS (
      SELECT s.rank_s FROM system s JOIN gold g USING (vec_id)),
    idcg AS (
      SELECT CAST(SUM(floor(1000000.0
                            / (ln(CAST(r + 1 AS DOUBLE)) / ln(2.0))))
                  AS BIGINT) AS idcg_fp
      FROM generate_series(1, 10) t(r)),
    m AS (
      SELECT CAST(COUNT(*) FILTER (WHERE rank_s <= 5) AS INT) AS recall_5,
             CAST(COUNT(*) FILTER (WHERE rank_s <= 10) AS INT) AS recall_10,
             CAST(COUNT(*) AS INT) AS recall_20,
             CAST(SUM(1000000 // rank_s) AS BIGINT) AS mrr_fp,
             CAST(SUM(CASE WHEN rank_s <= 10 THEN {disc} ELSE 0 END)
                  AS BIGINT) AS dcg_fp
      FROM found)
    SELECT m.recall_5, m.recall_10, m.recall_20, m.mrr_fp, m.dcg_fp,
           idcg.idcg_fp,
           CAST((1000 * m.dcg_fp) // idcg.idcg_fp AS BIGINT) AS ndcg_milli
    FROM m, idcg
    """


@query("retrieval_eval_metrics", oracle=_retrieval_eval_oracle())
def retrieval_eval_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@5/10/20, MRR, and NDCG@10 of the binary index against
    the exact gold top-10 — the metrics themselves are hash-gated.
    Scale posture: system + gold rankings are the standard shortlist/
    TakeOrdered shapes; the metric arithmetic runs on ≤20 rows."""
    emb = load_table(spark, sf_dir, "embeddings")
    synth = emb.filter(F.col("vec_id") < _BINC_N).select(
        "vec_id",
        F.expr(f"transform(sequence(0, 63), i -> {_BINC_VEC})").alias("embedding"),
    )
    corpus = synth.filter(F.col("vec_id") != 0)
    qv = [
        float(x)
        for x in synth.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    ]
    qlo, qhi = sim.binary_query_words(qv)
    short = (
        sim.binary_signature(corpus)
        .select(
            "vec_id",
            sim.hamming64(F.col("sig_lo"), F.col("sig_hi"), qlo, qhi).alias("h"),
        )
        .orderBy("h", "vec_id")
        .limit(_EVAL_SHORT)
        .select("vec_id")
    )
    qlit = F.array(*[F.lit(float(x)) for x in qv])
    qn = sum(float(x) * float(x) for x in qv) ** 0.5
    score = sim.dot(F.col("embedding"), qlit) / (
        sim.l2_norm(F.col("embedding")) * F.lit(qn)
    )
    wsys = Window.orderBy(score.desc(), "vec_id")
    system = (
        corpus.join(F.broadcast(short), "vec_id")
        .withColumn("rank_s", F.row_number().over(wsys))
        .filter(F.col("rank_s") <= _EVAL_K)
        .select("vec_id", "rank_s")
    )
    gold = corpus.orderBy(score.desc(), "vec_id").limit(10).select("vec_id")
    found = system.join(gold, "vec_id", "left_semi")
    disc = F.floor(
        1_000_000.0 / (F.log(F.col("rank_s").cast("double") + 1.0) / F.log(F.lit(2.0)))
    )
    m = found.agg(
        F.sum(F.when(F.col("rank_s") <= 5, 1).otherwise(0)).cast("int").alias("recall_5"),
        F.sum(F.when(F.col("rank_s") <= 10, 1).otherwise(0)).cast("int").alias("recall_10"),
        F.count(F.lit(1)).cast("int").alias("recall_20"),
        F.sum(F.expr("1000000 div rank_s")).cast("long").alias("mrr_fp"),
        F.sum(F.when(F.col("rank_s") <= 10, disc).otherwise(0))
        .cast("long")
        .alias("dcg_fp"),
    )
    idcg = spark.range(1, 11).agg(
        F.sum(
            F.floor(
                1_000_000.0
                / (F.log(F.col("id").cast("double") + 1.0) / F.log(F.lit(2.0)))
            )
        )
        .cast("long")
        .alias("idcg_fp")
    )
    return m.crossJoin(F.broadcast(idcg)).select(
        "recall_5",
        "recall_10",
        "recall_20",
        "mrr_fp",
        "dcg_fp",
        "idcg_fp",
        F.expr("(1000 * dcg_fp) div idcg_fp").cast("long").alias("ndcg_milli"),
    )


# ---------------------------------------------------------------------------
# Normalization-aware TEXT dedup — the text member of the
# normalize-then-dedup trio (URL-canonical: pipeline4; decoded-PCM
# audio: above). Adversarial or sloppy re-posts swap Latin letters for
# Cyrillic homoglyphs (а е о с р), defeating byte-level dedup while
# reading identically; folding confusables before hashing catches
# them. Every 10th doc carries its decade head's text with the five
# homoglyph substitutions applied — raw md5 differs, normalized md5
# matches. Synthesis, folding (translate is character-wise unicode in
# both engines), and grouping all replay in SQL, so the normalized
# hashes themselves are gated.
# ---------------------------------------------------------------------------
_HOMOGLYPH_LATIN = "aeocp"
_HOMOGLYPH_CYRIL = "аеоср"

_NORM_DEDUP_ORACLE = f"""
    WITH aug AS (
      SELECT d.doc_id,
             CASE WHEN d.doc_id % 10 = 9
                  THEN translate(h.text, '{_HOMOGLYPH_LATIN}', '{_HOMOGLYPH_CYRIL}')
                  ELSE d.text END AS text
      FROM documents d
      LEFT JOIN documents h
        ON h.doc_id = d.doc_id - 9 AND d.doc_id % 10 = 9),
    n AS (
      SELECT doc_id,
             md5(translate(lower(text), '{_HOMOGLYPH_CYRIL}',
                           '{_HOMOGLYPH_LATIN}')) AS norm_md5
      FROM aug)
    SELECT doc_id, norm_md5,
           CAST(COUNT(*) OVER (PARTITION BY norm_md5) AS BIGINT) AS group_size,
           COUNT(*) OVER (PARTITION BY norm_md5) > 1 AS is_duplicate
    FROM n
    """


@query("text_normalized_dedup", oracle=_NORM_DEDUP_ORACLE)
def text_normalized_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on confusable-folded text: homoglyph-disguised
    re-posts group with their originals (the raw-vs-normalized
    contrast is pinned in pytest). Scale posture: the mirror synthesis
    is one self-equi-join on the decade key; folding + hashing are
    codegen string ops; only the 16-byte hash shuffles."""
    d = load_table(spark, sf_dir, "documents")
    heads = d.select(
        (F.col("doc_id") + 9).alias("doc_id"), F.col("text").alias("head_text")
    )
    aug = (
        d.join(heads, "doc_id", "left")
        .select(
            "doc_id",
            F.when(
                F.col("doc_id") % 10 == 9,
                F.translate(
                    F.col("head_text"), _HOMOGLYPH_LATIN, _HOMOGLYPH_CYRIL
                ),
            )
            .otherwise(F.col("text"))
            .alias("text"),
        )
    )
    n = aug.select(
        "doc_id",
        F.md5(
            F.translate(F.lower(F.col("text")), _HOMOGLYPH_CYRIL, _HOMOGLYPH_LATIN)
        ).alias("norm_md5"),
    )
    w = Window.partitionBy("norm_md5")
    c = F.count(F.lit(1)).over(w)
    return n.select(
        "doc_id",
        "norm_md5",
        c.cast("long").alias("group_size"),
        (c > 1).alias("is_duplicate"),
    )


# ---------------------------------------------------------------------------
# Vocabulary coverage report — the acceptance check run after training
# any tokenizer: per language, how many word INSTANCES fall to [UNK],
# how many pieces per word, and the distinct-word OOV rate. Reuses the
# WordPiece train + greedy-encode oracle chain end to end.
# ---------------------------------------------------------------------------
def _wp_coverage_oracle() -> str:
    parts = _wp_encode_parts()
    return (
        "WITH RECURSIVE "
        + ",\n    ".join(parts)
        + """
    SELECT dt.lang,
           CAST(COUNT(*) AS BIGINT) AS n_word_instances,
           CAST(COUNT(DISTINCT dt.w) AS BIGINT) AS n_distinct_words,
           CAST(SUM(enc.unk) AS BIGINT) AS n_oov_instances,
           CAST(COUNT(DISTINCT CASE WHEN enc.unk = 1 THEN dt.w END)
                AS BIGINT) AS n_oov_distinct,
           CAST(SUM(enc.n_tok) AS BIGINT) AS n_pieces,
           CAST((1000 * SUM(enc.unk)) // COUNT(*) AS BIGINT)
             AS oov_per_mille
    FROM dt JOIN enc USING (w)
    GROUP BY dt.lang
    """
    )


@query("text_wordpiece_coverage", oracle=_wp_coverage_oracle())
def text_wordpiece_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language [UNK]/coverage report under the corpus-trained
    WordPiece vocabulary — instance and distinct-word OOV rates plus
    piece mass. Same bounded-artifact encode as text_wordpiece_encode;
    one extra doc-key-free aggregation on (lang)."""
    from jhu_data_parser_spark.operators.text import (
        WP_UNK,
        wordpiece_encode_expr,
        wordpiece_vocab,
    )

    d = load_table(spark, sf_dir, "documents")
    vocab = wordpiece_vocab(d, num_merges=_WP_MERGES, min_word_count=_WP_MIN_WC)
    toks = F.expr("filter(split(lower(text), '\\\\s+'), x -> x <> '')")
    dt = d.select("doc_id", "lang", F.posexplode(toks).alias("pos", "w"))
    vw = dt.select("w").distinct()
    enc = vw.select(
        "w", F.expr(wordpiece_encode_expr("w", vocab)).alias("ps")
    ).select(
        "w",
        F.size("ps").cast("long").alias("n_tok"),
        F.when(
            (F.size("ps") == 1) & (F.element_at("ps", 1) == WP_UNK), 1
        )
        .otherwise(0)
        .alias("unk"),
    )
    j = dt.join(F.broadcast(enc), "w")
    return j.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_word_instances"),
        F.countDistinct("w").cast("long").alias("n_distinct_words"),
        F.sum("unk").cast("long").alias("n_oov_instances"),
        F.countDistinct(F.when(F.col("unk") == 1, F.col("w")))
        .cast("long")
        .alias("n_oov_distinct"),
        F.sum("n_tok").cast("long").alias("n_pieces"),
        F.expr("(1000 * sum(unk)) div count(*)").cast("long").alias("oov_per_mille"),
    )


# ---------------------------------------------------------------------------
# Streaming classifier serving — online inference under the frozen
# offline-trained model (the production lifecycle: train offline,
# score the stream). Per-batch per-language partial reports merge by
# sum/min/max; shares text_quality_lr_serve's oracle, so the driver
# hash proves stream ≡ batch ≡ SQL.
# ---------------------------------------------------------------------------
def _lr_serve_stream_oracle() -> str:
    from jhu_data_parser_spark.plans.pipeline13 import _lr_serve_oracle

    return _lr_serve_oracle()


@query("stream_quality_lr_serve", oracle=_lr_serve_stream_oracle())
def stream_quality_lr_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language keep/margin report built by scoring a REAL
    documents stream under the frozen corpus-trained weights (the fit
    is cached per corpus fingerprint, so train + batch serve + stream
    serve in one session fit exactly once)."""
    from jhu_data_parser_spark.streaming.jobs import run_quality_lr_serve_stream

    return run_quality_lr_serve_stream(spark, sf_dir)


# ---------------------------------------------------------------------------
# Session path analysis — the product-analytics op over event streams:
# split each user's events into sessions (the events_sessionize rule),
# read each session's ordered event-type sequence, and count every
# 3-step path; report the top 15. One user_id shuffle (windows + the
# session rollup share it), then a path-key aggregation; the ordered
# per-session sequence rides an in-row array, never a sort per group.
# ---------------------------------------------------------------------------
def _path_oracle() -> str:
    from jhu_data_parser_spark.plans.pipeline2 import _SESSION_GAP_SEC

    return f"""
    WITH g AS (
      SELECT user_id, event_id, ts, event_type,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR epoch(ts) - lag(epoch(ts)) OVER w > {_SESSION_GAP_SEC}
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    s AS (
      SELECT *, SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS session_no
      FROM g),
    seq AS (
      SELECT user_id, session_no,
             list(event_type ORDER BY ts, event_id) AS tps
      FROM s GROUP BY user_id, session_no),
    paths AS (
      SELECT array_to_string(tps[u.i:u.i+2], '>') AS path
      FROM seq, UNNEST(range(1, len(tps) - 1)) AS u(i))
    SELECT path, CAST(COUNT(*) AS BIGINT) AS n
    FROM paths GROUP BY path
    ORDER BY n DESC, path LIMIT 15
    """


@query("events_path_topk", oracle=_path_oracle())
def events_path_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-15 3-step event-type paths across user sessions."""
    from jhu_data_parser_spark.plans.pipeline2 import _SESSION_GAP_SEC

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    sec = F.col("ts").cast("timestamp").cast("double")
    prev = F.lag(sec).over(w)
    new_sess = F.when(prev.isNull() | (sec - prev > _SESSION_GAP_SEC), 1).otherwise(0)
    s = ev.withColumn(
        "session_no",
        F.sum(new_sess).over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    seq = s.groupBy("user_id", "session_no").agg(
        F.expr(
            "transform(array_sort(collect_list(struct(ts, event_id, event_type))), "
            "x -> x.event_type)"
        ).alias("tps")
    )
    paths = seq.select(
        F.explode(
            # sequence(1, 0) DESCENDS in Spark (yields [1, 0]) — short
            # sessions need the explicit empty-array guard.
            F.expr(
                "IF(size(tps) >= 3, transform(sequence(1, size(tps) - 2), "
                "i -> array_join(slice(tps, i, 3), '>')), "
                "CAST(array() AS array<string>))"
            )
        ).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .orderBy(F.col("n").desc(), "path")
        .limit(15)
    )


# ---------------------------------------------------------------------------
# MinHash Jaccard-estimate certification — the estimator-accuracy row
# the CMS and KMV sketches already have: for every banded candidate
# pair, the signature-agreement estimate (matching minhashes / 16)
# reported NEXT TO the exact Jaccard as integer per-milles, so the
# driver hash certifies the estimator's arithmetic AND its input.
# Uses the engine-portable md5 MinHash (dedup_minhash_portable_pairs'
# signature pass), so every stage replays in DuckDB.
# ---------------------------------------------------------------------------
_MH_EST_ORACLE = """
    WITH t AS (
      SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
    s AS (
      SELECT doc_id,
             CASE WHEN len(toks) >= 3
                  THEN list_transform(range(1, len(toks) - 1),
                         i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2])
                  ELSE [array_to_string(toks, ' ')] END AS sh
      FROM t),
    hs AS (
      SELECT doc_id,
             list_transform(sh, x ->
               md5('0:' || x) || md5('1:' || x)
               || md5('2:' || x) || md5('3:' || x)) AS hs
      FROM s),
    m AS (
      SELECT doc_id,
             list_transform(range(0, 16), j ->
               list_min(list_transform(hs, h -> substr(h, j * 8 + 1, 8)))) AS mh
      FROM hs),
    b AS (
      SELECT doc_id, g.b AS band,
             md5(array_to_string(mh[g.b * 4 + 1 : g.b * 4 + 4], '|')) AS band_sig
      FROM m, (SELECT unnest(range(0, 4)) AS b) g),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b
      FROM b a JOIN b c
        ON a.band = c.band AND a.band_sig = c.band_sig AND a.doc_id < c.doc_id),
    sigm AS (
      SELECT cand.id_a, cand.id_b,
             CAST(len(list_filter(range(0, 16),
                  j -> ma.mh[j + 1] = mb.mh[j + 1])) AS INT) AS n_sig_match
      FROM cand JOIN m ma ON ma.doc_id = cand.id_a
                JOIN m mb ON mb.doc_id = cand.id_b),
    ex AS (
      SELECT s2.id_a, s2.id_b, s2.n_sig_match,
             CAST(len(list_intersect(list_distinct(ta.toks),
                                     list_distinct(tb.toks))) AS BIGINT) AS inter,
             CAST(len(list_distinct(list_concat(ta.toks, tb.toks))) AS BIGINT)
               AS uni
      FROM sigm s2 JOIN t ta ON ta.doc_id = s2.id_a
                   JOIN t tb ON tb.doc_id = s2.id_b)
    SELECT id_a, id_b, n_sig_match, inter, uni,
           CAST((1000 * n_sig_match) // 16 AS BIGINT) AS est_per_mille,
           CAST((1000 * inter) // uni AS BIGINT) AS jac_per_mille
    FROM ex
    """


@query("dedup_minhash_jaccard_estimate", oracle=_MH_EST_ORACLE)
def dedup_minhash_jaccard_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-candidate-pair MinHash estimate vs exact Jaccard (integer
    per-milles) — the sketch-accuracy certification for the near-dup
    family. Scale posture: the signature pass is the codegen
    explode+min-aggregate form; candidates come from the banded
    equi-join; the exact arm exists to certify the estimator and would
    be sampled, not exhaustive, in production."""
    from jhu_data_parser_spark.operators import dedup as dd

    d = load_table(spark, sf_dir, "documents")
    t = d.select("doc_id", F.split(F.lower(F.col("text")), " ").alias("toks"))
    sigs = dd.minhash_signature_portable(t).localCheckpoint(eager=False)
    bs = F.expr(
        "transform(sequence(0, 3), b -> "
        "md5(cast(concat_ws('|', slice(mh, b * 4 + 1, 4)) AS binary)))"
    )
    banded = sigs.select(
        F.col("doc_id").alias("id"), F.posexplode(bs).alias("band", "band_sig")
    )
    cand = (
        banded.alias("a")
        .join(
            banded.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_sig") == F.col("b.band_sig"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    ma = sigs.select(F.col("doc_id").alias("id_a"), F.col("mh").alias("mh_a"))
    mb = sigs.select(F.col("doc_id").alias("id_b"), F.col("mh").alias("mh_b"))
    sigm = (
        cand.join(ma, "id_a")
        .join(mb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.expr("size(filter(zip_with(mh_a, mh_b, (x, y) -> x = y), z -> z))")
            .cast("int")
            .alias("n_sig_match"),
        )
    )
    ta = t.select(F.col("doc_id").alias("id_a"), F.col("toks").alias("toks_a"))
    tb = t.select(F.col("doc_id").alias("id_b"), F.col("toks").alias("toks_b"))
    ex = (
        sigm.join(ta, "id_a")
        .join(tb, "id_b")
        .select(
            "id_a",
            "id_b",
            "n_sig_match",
            F.expr(
                "size(array_intersect(array_distinct(toks_a), array_distinct(toks_b)))"
            )
            .cast("long")
            .alias("inter"),
            F.expr("size(array_distinct(concat(toks_a, toks_b)))")
            .cast("long")
            .alias("uni"),
        )
    )
    return ex.select(
        "id_a",
        "id_b",
        "n_sig_match",
        "inter",
        "uni",
        F.expr("(1000 * n_sig_match) div 16").cast("long").alias("est_per_mille"),
        F.expr("(1000 * inter) div uni").cast("long").alias("jac_per_mille"),
    )


# ---------------------------------------------------------------------------
# Exact Hamming RADIUS search via multi-index hashing (Norouzi, Punjani
# & Fleet 2012) — the stored-index scale story for the binary
# signatures: split the 64-bit signature into 8 chunks of 8 bits; by
# pigeonhole, any vector within Hamming radius 7 of the query matches
# the query EXACTLY in at least one chunk, so the candidate set is the
# union of 8 exact-match probes on a (chunk_no, chunk_value)-keyed
# index — at 100 TB that index is STORED partitioned by (chunk_no,
# chunk_value) and each probe is pure partition pruning; the radius
# verify is one XOR+popcount per candidate. Runs on the centered
# clustered corpus (intra-cluster Hamming is small, inter ~32, so
# radius 7 retrieves exactly the query's cluster). The oracle is the
# brute-force all-rows Hamming filter — the hash match proves 100%
# recall of the chunk-probe scheme at radius ≤ 7, which is the
# pigeonhole guarantee itself.
# ---------------------------------------------------------------------------
_MIH_RADIUS = 7
_MIH_CHUNKS = 8  # 8 chunks × 8 bits; pigeonhole holds for radius < 8


def _mih_oracle() -> str:
    src = (
        f"SELECT vec_id, list_transform(range(64), i -> {_BINC_VEC}) "
        f"AS embedding FROM embeddings WHERE vec_id < {_BINC_N}"
    )
    return f"""
    WITH synth AS MATERIALIZED ({src}),
    words AS MATERIALIZED (
      SELECT vec_id,
             CAST(list_sum(list_transform(range(32),
                  i -> CASE WHEN embedding[i+1] > 0.0 THEN (1::BIGINT << i)
                            ELSE 0::BIGINT END)) AS BIGINT) AS lo,
             CAST(list_sum(list_transform(range(32),
                  i -> CASE WHEN embedding[i+33] > 0.0 THEN (1::BIGINT << i)
                            ELSE 0::BIGINT END)) AS BIGINT) AS hi
      FROM synth),
    q AS (SELECT lo AS qlo, hi AS qhi FROM words WHERE vec_id = 0)
    SELECT w.vec_id,
           CAST(bit_count(xor(w.lo, q.qlo)) + bit_count(xor(w.hi, q.qhi))
                AS INT) AS hamming
    FROM words w, q
    WHERE w.vec_id <> 0
      AND bit_count(xor(w.lo, q.qlo)) + bit_count(xor(w.hi, q.qhi))
          <= {_MIH_RADIUS}
    """


@query("sim_hamming_radius_mih", oracle=_mih_oracle())
def sim_hamming_radius_mih(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All vectors within Hamming radius 7 of the query signature,
    found by 8 exact chunk probes + verify — NEVER by scanning every
    signature's full Hamming distance. The oracle brute-forces the
    radius filter, so the driver hash certifies the pigeonhole
    completeness of the chunk-probe scheme."""
    emb = load_table(spark, sf_dir, "embeddings")
    synth = emb.filter(F.col("vec_id") < _BINC_N).select(
        "vec_id",
        F.expr(f"transform(sequence(0, 63), i -> {_BINC_VEC})").alias("embedding"),
    )
    words = sim.binary_signature(synth).select("vec_id", "sig_lo", "sig_hi")
    # chunk c (0..7): bits [8c, 8c+8) of the 64-bit signature — chunks
    # 0..3 from lo, 4..7 from hi.
    def chunks(lo_col: str, hi_col: str):
        return F.expr(
            "transform(sequence(0, 7), c -> named_struct("
            "'chunk_no', c, "
            f"'chunk_val', CASE WHEN c < 4 THEN shiftright({lo_col}, c * 8) "
            f"ELSE shiftright({hi_col}, (c - 4) * 8) END % 256))"
        )

    qrow = (
        words.filter(F.col("vec_id") == 0)
        .select("sig_lo", "sig_hi")
        .first()
    )
    qlo, qhi = int(qrow["sig_lo"]), int(qrow["sig_hi"])
    q_chunks = [
        (c, (qlo >> (c * 8)) % 256 if c < 4 else (qhi >> ((c - 4) * 8)) % 256)
        for c in range(_MIH_CHUNKS)
    ]
    # the stored MIH index: one row per (vec_id, chunk_no, chunk_val) —
    # at scale written partitionBy(chunk_no, chunk_val); each probe
    # below is then a partition-pruned read.
    index = words.filter(F.col("vec_id") != 0).select(
        "vec_id",
        "sig_lo",
        "sig_hi",
        F.explode(chunks("sig_lo", "sig_hi")).alias("ch"),
    ).select("vec_id", "sig_lo", "sig_hi", "ch.chunk_no", "ch.chunk_val")
    probes = local_frame(spark, q_chunks, "chunk_no int, chunk_val long")
    cand = (
        index.join(F.broadcast(probes), ["chunk_no", "chunk_val"])
        .select("vec_id", "sig_lo", "sig_hi")
        .distinct()
    )
    ham = (
        F.bit_count(F.col("sig_lo").bitwiseXOR(F.lit(qlo).cast("long")))
        + F.bit_count(F.col("sig_hi").bitwiseXOR(F.lit(qhi).cast("long")))
    ).cast("int")
    return cand.select("vec_id", ham.alias("hamming")).filter(
        F.col("hamming") <= _MIH_RADIUS
    )


# ---------------------------------------------------------------------------
# Curriculum phases — order the corpus into easy→hard training phases
# by the TRAINED quality score (curriculum learning's data prep):
# documents sort by classifier margin, split into 3 equal-rank
# terciles, and each phase reports its size, token mass, margin range,
# and an id checksum pinning exact membership. The tercile boundary is
# rank arithmetic (floor(3·(rn−1)/n)) — integer-exact. Scale posture:
# the global rank would come from the quantile-literal bucket
# machinery (window_global_rank_distributed) at 100 TB; phase
# accounting is a 3-row rollup.
# ---------------------------------------------------------------------------
def _curriculum_oracle() -> str:
    from jhu_data_parser_spark.plans.pipeline13 import _LR_STEPS, _lr_chain_ctes

    return (
        "WITH "
        + _lr_chain_ctes()
        + f""",
    ms AS (
      SELECT doc_id, CAST(SUM(cx * w) AS BIGINT) AS m
      FROM xl JOIN w{_LR_STEPS} USING (j) GROUP BY doc_id)"""
        + """,
    scored AS (
      SELECT f.doc_id, f.m,
             len(list_filter(string_split_regex(lower(d.text), '\\s+'),
                             x -> x <> '')) AS n_tokens,
             row_number() OVER (ORDER BY f.m, f.doc_id) AS rn,
             COUNT(*) OVER () AS n
      FROM ms f JOIN documents d USING (doc_id)),
    phased AS (
      SELECT *, CAST((3 * (rn - 1)) // n AS INT) AS phase
      FROM scored)
    SELECT phase,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
           CAST(MIN(m) AS BIGINT) AS m_min,
           CAST(MAX(m) AS BIGINT) AS m_max,
           md5(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY rn))
             AS member_md5
    FROM phased GROUP BY phase
    """
    )


@query("sample_curriculum_phases", oracle=_curriculum_oracle())
def sample_curriculum_phases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Easy→hard curriculum terciles under the trained quality score,
    with hash-pinned phase membership and order."""
    from jhu_data_parser_spark.operators.text import lr_fit_artifacts
    from jhu_data_parser_spark.plans.pipeline13 import _LR_STEPS, lr_doc_margins

    d = load_table(spark, sf_dir, "documents")
    w, _stats, mean1000, _n = lr_fit_artifacts(d, steps=_LR_STEPS)
    scored = lr_doc_margins(d, w, mean1000).drop("p").join(
        d.select(
            "doc_id",
            F.expr("size(filter(split(lower(text), '\\\\s+'), x -> x <> ''))")
            .alias("n_tokens"),
        ),
        "doc_id",
    )
    wr = Window.orderBy("m", "doc_id")
    wn = Window.partitionBy()
    phased = scored.select(
        "doc_id",
        "m",
        "n_tokens",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    ).withColumn("phase", F.expr("CAST((3 * (rn - 1)) div n AS INT)"))
    stream = F.expr(
        "concat_ws(',', transform(array_sort(collect_list(struct(rn, doc_id))), "
        "x -> CAST(x.doc_id AS STRING)))"
    )
    return phased.groupBy("phase").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
        F.min("m").cast("long").alias("m_min"),
        F.max("m").cast("long").alias("m_max"),
        F.md5(stream).alias("member_md5"),
    )


# ---------------------------------------------------------------------------
# Audio downsampling — the audio member of the media-TRANSFORM family
# (images: resize_image_real / resize_png_roundtrip): decode the RIFF
# container, decimate the PCM by 2, and fingerprint the downsampled
# waveform. The oracle replays the sample recurrence AT EVEN INDICES
# from doc_id arithmetic, so the hash match proves the decode→
# transform→fingerprint chain ran on the genuine byte-stream samples.
# ---------------------------------------------------------------------------
_AUDIO_DS_ORACLE = """
    WITH p AS (
      SELECT doc_id,
             CAST(doc_id % 192 + 64 AS INT) AS n_samples,
             CAST(CASE doc_id % 3 WHEN 0 THEN 8000 WHEN 1 THEN 16000
                  ELSE 44100 END AS INT) AS sample_rate
      FROM documents),
    fp AS (
      SELECT p.doc_id,
             CAST(p.sample_rate // 2 AS INT) AS out_rate,
             CAST((p.n_samples + 1) // 2 AS INT) AS out_samples,
             CAST(SUM((g.i + 1) *
                      ((p.doc_id * 7919 + (2 * g.i) * 104729) % 65536 - 32768))
                  AS BIGINT) AS ds_fp
      FROM p, LATERAL (SELECT unnest(range(0, (p.n_samples + 1) // 2)) AS i) g
      GROUP BY 1, 2, 3)
    SELECT doc_id, out_rate, out_samples, ds_fp FROM fp
    """


@query("multimodal_audio_downsample", oracle=_AUDIO_DS_ORACLE)
def multimodal_audio_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decimate-by-2 PCM downsampling with a fingerprint of the output
    waveform — Arrow-batched decode, narrow output, no shuffle."""
    from jhu_data_parser_spark.operators.multimodal import (
        attach_audio,
        wav_downsample_fingerprint,
    )

    d = load_table(spark, sf_dir, "documents")
    return wav_downsample_fingerprint(attach_audio(d), factor=2)


# ---------------------------------------------------------------------------
# Incremental video near-dup as a REAL stream — the multimodal member
# of the incremental-probe family (text: stream_incremental_dedup;
# vectors: stream_ivfpq_index_append): arriving videos decode their
# frame signatures per micro-batch and probe the STORED frame-key
# index of the archive; containment-verified pairs append to
# idempotent batch_id sinks. The new side (doc_id % 5 == 0) contains
# every decade head whose trailing-trimmed copy sits in the archive,
# so the planted re-uploads all surface. The oracle replays the batch
# equivalent of the split from doc_id arithmetic — stream ≡ batch ≡
# SQL.
# ---------------------------------------------------------------------------
_VID_PROBE_ORACLE = """
    WITH v AS (
      SELECT doc_id,
             CAST(CASE WHEN doc_id % 10 = 9 THEN doc_id - 9 ELSE doc_id END
                  AS HUGEINT) AS uid,
             CAST((CASE WHEN doc_id % 10 = 9 THEN doc_id - 9 ELSE doc_id END)
                  % 4 + 1 AS INT) * 8 AS w,
             CAST((CASE WHEN doc_id % 10 = 9 THEN doc_id - 9 ELSE doc_id END)
                  % 3 + 1 AS INT) * 8 AS h,
             CAST((CASE WHEN doc_id % 10 = 9 THEN doc_id - 9 ELSE doc_id END)
                  % 5 + CASE WHEN doc_id % 10 = 9 THEN 1 ELSE 2 END
                  AS INT) AS nf
      FROM documents),
    fr AS (
      SELECT v.doc_id, v.w, v.h, CAST(g.f AS INT) AS frame_no,
             CAST((((g.f + v.uid) * 6364136223846793005
                    + 1442695040888963407)
                   % 170141183460469231731687303715884105728
                   % 18446744073709551616) // 8589934592 % 256 AS INT)
               AS fkey
      FROM v, generate_series(0, 5) g(f)
      WHERE g.f < v.nf),
    cand AS (
      SELECT a.doc_id AS id_new, b.doc_id AS id_old,
             CAST(COUNT(*) AS INT) AS n_shared
      FROM fr a JOIN fr b
        ON a.w = b.w AND a.h = b.h AND a.frame_no = b.frame_no
       AND a.fkey = b.fkey AND a.doc_id % 5 = 0 AND b.doc_id % 5 <> 0
      GROUP BY 1, 2)
    SELECT c.id_new, c.id_old, c.n_shared,
           va.nf AS nf_new, vb.nf AS nf_old
    FROM cand c
    JOIN v va ON va.doc_id = c.id_new
    JOIN v vb ON vb.doc_id = c.id_old
    WHERE 10 * c.n_shared >= 9 * least(va.nf, vb.nf)
    """


@query("stream_video_neardup_probe", oracle=_VID_PROBE_ORACLE)
def stream_video_neardup_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arriving videos probed against the stored archive frame-key
    index, one micro-batch at a time (idempotent sinks, checkpointed
    static index) — hash-gated against the batch replay."""
    from jhu_data_parser_spark.streaming.jobs import run_video_neardup_probe_stream

    return run_video_neardup_probe_stream(spark, sf_dir)


# ---------------------------------------------------------------------------
# Robust (MAD) outliers — the median-based twin of
# events_zscore_outliers: a 3-sigma rule collapses when the outliers
# themselves inflate sigma, so production monitors flag on
# |x − median| > 3·MAD. Everything runs in integer cents with
# doubled/quadrupled fixed points (med2 = 2·median, mad4 = 4·MAD —
# medians of integers are exact halves, so the doubling keeps every
# comparison in int64 and the cross-engine gate exact).
# ---------------------------------------------------------------------------
_MAD_ORACLE = """
    WITH c AS (
      SELECT event_id, event_type,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
      FROM events),
    med AS (
      SELECT event_type, CAST(2 * median(cents) AS BIGINT) AS med2
      FROM c GROUP BY event_type),
    adev AS (
      SELECT c.event_id, c.event_type, c.cents, med.med2,
             abs(2 * c.cents - med.med2) AS adev2
      FROM c JOIN med USING (event_type)),
    mad AS (
      SELECT event_type, CAST(2 * median(adev2) AS BIGINT) AS mad4
      FROM adev GROUP BY event_type)
    SELECT a.event_id, a.event_type, a.cents, a.med2, mad.mad4,
           CAST(a.adev2 AS BIGINT) AS adev2
    FROM adev a JOIN mad USING (event_type)
    WHERE 2 * a.adev2 > 3 * mad.mad4
    """


@query("events_mad_outliers", oracle=_MAD_ORACLE)
def events_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events whose |value − median| exceeds 3·MAD within their type.
    Two small per-type aggregates broadcast back into the scan; the
    doubled fixed points keep medians of integers exact in both
    engines."""
    ev = load_table(spark, sf_dir, "events")
    c = ev.select(
        "event_id",
        "event_type",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cents"),
    )
    med = c.groupBy("event_type").agg(
        (2 * F.median("cents")).cast("long").alias("med2")
    )
    adev = c.join(F.broadcast(med), "event_type").withColumn(
        "adev2", F.abs(2 * F.col("cents") - F.col("med2"))
    )
    mad = adev.groupBy("event_type").agg(
        (2 * F.median("adev2")).cast("long").alias("mad4")
    )
    return (
        adev.join(F.broadcast(mad), "event_type")
        .filter(2 * F.col("adev2") > 3 * F.col("mad4"))
        .select(
            "event_id",
            "event_type",
            "cents",
            "med2",
            "mad4",
            F.col("adev2").cast("long").alias("adev2"),
        )
    )


# ---------------------------------------------------------------------------
# Time-decayed engagement — the feature-engineering staple (half-life-
# weighted activity): each event contributes floor(1e6·e^(−Δdays))
# where Δdays is the age against the corpus frontier; the per-event
# exp is one IEEE op on the same double in both engines, so the summed
# integer scores hash-gate. One 1-row frontier broadcast + one user
# aggregation; top-20 by score.
# ---------------------------------------------------------------------------
_DECAY_ORACLE = """
    WITH mx AS (SELECT MAX(epoch(ts)) AS tmax FROM events),
    s AS (
      SELECT e.user_id,
             SUM(CAST(floor(1000000.0 *
                 exp(-((mx.tmax - epoch(e.ts)) / 86400.0))) AS BIGINT))
               AS decayed_fp,
             CAST(COUNT(*) AS BIGINT) AS n_events
      FROM events e, mx GROUP BY e.user_id)
    SELECT user_id, CAST(decayed_fp AS BIGINT) AS decayed_fp, n_events
    FROM s ORDER BY decayed_fp DESC, user_id LIMIT 20
    """


@query("events_decayed_engagement", oracle=_DECAY_ORACLE)
def events_decayed_engagement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 users by exponentially time-decayed event mass (1-day
    half-life scale), the engagement feature every ranking/feature
    store keeps fresh."""
    ev = load_table(spark, sf_dir, "events")
    sec = F.col("ts").cast("timestamp").cast("double")
    mx = ev.agg(F.max(sec).alias("tmax"))
    contrib = F.floor(
        1_000_000.0 * F.exp(-((F.col("tmax") - sec) / F.lit(86400.0)))
    ).cast("long")
    return (
        ev.crossJoin(F.broadcast(mx))
        .groupBy("user_id")
        .agg(
            F.sum(contrib).cast("long").alias("decayed_fp"),
            F.count(F.lit(1)).cast("long").alias("n_events"),
        )
        .orderBy(F.col("decayed_fp").desc(), "user_id")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Canonical selection — the last mile of dedup: after clustering
# near-duplicates (the embedding-CC components, shared oracle chain),
# a pipeline must pick WHICH member survives. The standard keep-rule
# is richest-content (most tokens; ties to the lowest id for
# determinism); everything else in the component is dropped. Output
# reports per component the canonical member, its token count, and
# the drop count — the accounting a curation run logs.
# ---------------------------------------------------------------------------
def _canonical_oracle() -> str:
    from jhu_data_parser_spark.plans.llm import _EMB_GROUPS_ORACLE

    groups = _EMB_GROUPS_ORACLE.strip()
    assert groups.startswith("WITH RECURSIVE")
    body = groups[len("WITH RECURSIVE"):].strip()
    # the groups oracle ends with its SELECT — wrap it as a CTE
    sel = body.rindex("SELECT n.x AS id")
    return (
        "WITH RECURSIVE "
        + body[:sel].rstrip().rstrip(",")
        + """,
    comp AS (
      SELECT n.x AS id, LEAST(n.x, MIN(r.y)) AS component
      FROM nodes n LEFT JOIN reach r ON r.x = n.x
      GROUP BY n.x),
    toks AS (
      SELECT c.component, c.id,
             len(list_filter(string_split_regex(lower(d.text), '\\s+'),
                             x -> x <> '')) AS n_tokens
      FROM comp c JOIN documents d ON d.doc_id = c.id),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY component
                                   ORDER BY n_tokens DESC, id) AS rn
      FROM toks)
    SELECT component,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           CAST(MAX(CASE WHEN rn = 1 THEN id END) AS BIGINT) AS canonical_id,
           CAST(MAX(CASE WHEN rn = 1 THEN n_tokens END) AS BIGINT)
             AS canonical_tokens,
           CAST(COUNT(*) - 1 AS BIGINT) AS n_dropped
    FROM ranked GROUP BY component
    """
    )


@query("dedup_canonical_selection", oracle=_canonical_oracle())
def dedup_canonical_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per near-dup component: the surviving (richest-content) member
    and the drop accounting. Composition of the CC groups (shared
    machinery) with a per-component WindowGroupLimit argmax."""
    from jhu_data_parser_spark.operators.dedup import connected_components
    from jhu_data_parser_spark.plans.llm import dedup_embedding_pairs

    comp = connected_components(dedup_embedding_pairs(spark, sf_dir))
    d = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("id"),
        F.expr("size(filter(split(lower(text), '\\\\s+'), x -> x <> ''))")
        .alias("n_tokens"),
    )
    toks = comp.join(d, "id")
    w = Window.partitionBy("component").orderBy(F.col("n_tokens").desc(), "id")
    ranked = toks.withColumn("rn", F.row_number().over(w))
    return ranked.groupBy("component").agg(
        F.count(F.lit(1)).cast("long").alias("n_members"),
        F.max(F.when(F.col("rn") == 1, F.col("id"))).cast("long").alias("canonical_id"),
        F.max(F.when(F.col("rn") == 1, F.col("n_tokens")))
        .cast("long")
        .alias("canonical_tokens"),
        (F.count(F.lit(1)) - 1).cast("long").alias("n_dropped"),
    )


# ---------------------------------------------------------------------------
# Multimodal curation funnel — the media-corpus twin of the text
# funnel: decode with quarantine (corrupt payloads contained, not
# fatal) → content dedup on the perceptual hash of the GENUINELY
# decoded pixels (keep-first) → dimension floor — one yield table, the
# accounting a media-corpus curation run logs. Every stage replays in
# the oracle from doc_id arithmetic: the corruption rule, the pixel
# LCG → grid → dHash chain (valid docs only), the keep-first rule, and
# the dims floor.
# ---------------------------------------------------------------------------
_MMF_SEED_MOD = 23
_MMF_MIN_W = 28
_MMF_MIN_H = 24


def _mmf_oracle() -> str:
    powers = ", ".join(str(1 << i) for i in range(64))

    def byte(i: str) -> str:
        return (
            f"CAST((((({i}) + s) * 6364136223846793005 + 1442695040888963407)"
            f" % 170141183460469231731687303715884105728"
            f" % 18446744073709551616) // 8589934592 % 256 AS BIGINT)"
        )

    base = "((sy * w + sx) * 3)"
    return f"""
    WITH d AS (
      SELECT doc_id,
             CAST(doc_id % {_MMF_SEED_MOD} AS HUGEINT) AS s,
             CAST(doc_id % {_MMF_SEED_MOD} % 64 + 16 AS BIGINT) AS w,
             CAST(doc_id % {_MMF_SEED_MOD} % 48 + 16 AS BIGINT) AS h,
             (doc_id % 7 NOT IN (3, 5)) AS ok
      FROM documents),
    grid AS (
      SELECT d.*, gy.y, gx.x,
             (gx.x * d.w) // 9 AS sx,
             (gy.y * d.h) // 8 AS sy
      FROM d, generate_series(0, 7) gy(y), generate_series(0, 8) gx(x)
      WHERE d.ok),
    gray AS (
      SELECT doc_id, y, x,
             ({byte(base)} + {byte(base + " + 1")} + {byte(base + " + 2")}) // 3
               AS g
      FROM grid),
    bits AS (
      SELECT doc_id, y, x,
             CASE WHEN g > lead(g) OVER (PARTITION BY doc_id, y ORDER BY x)
                  THEN 1 ELSE 0 END AS bit
      FROM gray),
    ph AS (
      SELECT doc_id,
             SUM(CAST(bit AS HUGEINT)
                 * ([{powers}]::HUGEINT[])[y * 8 + x + 1]) AS pu
      FROM bits WHERE x < 8 GROUP BY doc_id),
    surv AS (
      SELECT doc_id FROM (
        SELECT doc_id,
               row_number() OVER (PARTITION BY pu ORDER BY doc_id) AS rn
        FROM ph) WHERE rn = 1),
    dims AS (
      SELECT surv.doc_id
      FROM surv JOIN d USING (doc_id)
      WHERE d.w >= {_MMF_MIN_W} AND d.h >= {_MMF_MIN_H})
    SELECT 'raw' AS stage, CAST(COUNT(*) AS BIGINT) AS n_docs FROM d
    UNION ALL
    SELECT 'decode_ok', CAST(COUNT(*) AS BIGINT) FROM d WHERE ok
    UNION ALL
    SELECT 'phash_dedup', CAST(COUNT(*) AS BIGINT) FROM surv
    UNION ALL
    SELECT 'dims_floor', CAST(COUNT(*) AS BIGINT) FROM dims
    """


@query("pipeline_multimodal_curation", oracle=_mmf_oracle())
def pipeline_multimodal_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stage-by-stage yield of the media curation funnel: quarantine →
    perceptual-hash keep-first dedup → dimension floor. The decode and
    hash run on genuine bytes (corruption planted per the quarantine
    rule, content keyed by doc_id % 23 so the dedup stage has real
    work); the payloads never leave the Arrow decode stages."""
    from pyspark.sql import functions as SF

    from jhu_data_parser_spark.operators.multimodal import (
        attach_png_bucketed,
        extract_png_meta_quarantine,
        perceptual_dhash_png,
    )

    d = load_table(spark, sf_dir, "documents")
    pngs = attach_png_bucketed(d, seed_mod=_MMF_SEED_MOD, perturb_odd=False)
    corrupted = pngs.select(
        "doc_id",
        SF.when(
            SF.col("doc_id") % 7 == 3,
            SF.expr("substring(media, 1, octet_length(media) - 20)"),
        )
        .when(
            SF.col("doc_id") % 7 == 5,
            SF.expr(
                "concat(substring(media, 1, 60), "
                "CASE WHEN substring(media, 61, 1) = X'FF' THEN X'00' "
                "ELSE X'FF' END, "
                "substring(media, 62, octet_length(media) - 61))"
            ),
        )
        .otherwise(SF.col("media"))
        .alias("media"),
    )
    meta = extract_png_meta_quarantine(corrupted).localCheckpoint(eager=False)
    valid_ids = meta.filter(F.col("status") == "ok").select("doc_id")
    valid = pngs.join(valid_ids, "doc_id", "left_semi")
    hashed = perceptual_dhash_png(valid)
    w = Window.partitionBy("phash").orderBy("doc_id")
    surv = (
        hashed.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id")
        .localCheckpoint(eager=False)
    )
    dims = surv.join(
        d.select(
            "doc_id",
            (F.col("doc_id") % _MMF_SEED_MOD % 64 + 16).alias("w"),
            (F.col("doc_id") % _MMF_SEED_MOD % 48 + 16).alias("h"),
        ),
        "doc_id",
    ).filter((F.col("w") >= _MMF_MIN_W) & (F.col("h") >= _MMF_MIN_H))

    def stage(name: str, frame: DataFrame) -> DataFrame:
        return frame.agg(
            F.lit(name).alias("stage"),
            F.count(F.lit(1)).cast("long").alias("n_docs"),
        )

    return (
        stage("raw", d)
        .unionByName(stage("decode_ok", valid_ids))
        .unionByName(stage("phash_dedup", surv))
        .unionByName(stage("dims_floor", dims))
    )


# ---------------------------------------------------------------------------
# Corrupt-record JSON ingestion — the text-side analog of the PNG
# quarantine: a landing prefix of JSON lines where some records are
# malformed (planted: every 11th line truncated mid-object, every
# 13th given a bare-word value) must load with the bad lines ROUTED,
# not fatal. Spark's PERMISSIVE mode + columnNameOfCorruptRecord is
# the engine-native containment; the oracle replays which doc_ids were
# corrupted and the cents-exact aggregate over the survivors.
# ---------------------------------------------------------------------------
_JSON_CORRUPT_ORACLE = """
    WITH status AS (
      SELECT doc_id,
             (doc_id % 11 = 3 OR doc_id % 13 = 4) AS bad,
             CAST(floor(n_chars * 100 + 0.5) AS BIGINT) AS chars_cents
      FROM documents)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(COUNT(*) FILTER (WHERE bad) AS BIGINT) AS n_corrupt,
           CAST(COUNT(*) FILTER (WHERE NOT bad) AS BIGINT) AS n_loaded,
           CAST(SUM(chars_cents) FILTER (WHERE NOT bad) AS BIGINT)
             AS loaded_chars_cents
    FROM status
    """


@query("source_json_corrupt_records", oracle=_JSON_CORRUPT_ORACLE)
def source_json_corrupt_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write a JSON-lines landing file with planted malformed records,
    read it back PERMISSIVE with a corrupt-record column, and certify
    the routing: corrupt counts and the exact aggregate over clean
    rows. At 100 TB this is the difference between one bad crawl
    record poisoning a job and a quarantine table to triage."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    line = F.concat(
        F.lit('{"doc_id": '),
        F.col("doc_id").cast("string"),
        F.lit(', "n_chars": '),
        F.col("n_chars").cast("string"),
        F.lit("}"),
    )
    corrupted = F.when(
        F.col("doc_id") % 11 == 3, F.expr("substring(line, 1, 12)")
    ).when(
        F.col("doc_id") % 13 == 4,
        F.concat(
            F.lit('{"doc_id": '),
            F.col("doc_id").cast("string"),
            F.lit(', "n_chars": oops}'),
        ),
    ).otherwise(F.col("line"))
    out = cache.scratch_dir("json_corrupt")
    d.withColumn("line", line).select(corrupted.alias("value")).write.mode(
        "overwrite"
    ).text(out)
    back = (
        spark.read.schema(
            "doc_id long, n_chars double, _corrupt string"
        )
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .json(out)
    )
    return back.agg(
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        F.count_if(F.col("_corrupt").isNotNull()).cast("long").alias("n_corrupt"),
        F.count_if(F.col("_corrupt").isNull()).cast("long").alias("n_loaded"),
        F.sum(
            F.when(
                F.col("_corrupt").isNull(),
                F.floor(F.col("n_chars") * 100 + F.lit(0.5)).cast("long"),
            )
        )
        .cast("long")
        .alias("loaded_chars_cents"),
    )


# ---------------------------------------------------------------------------
# Gaps-and-islands: activity streaks — the classic consecutive-day
# analysis (retention's sibling): a user's distinct active days group
# into islands where day − dense_rank(day) is constant; report each
# user's longest streak and streak count. One user shuffle; the
# island key is pure integer arithmetic.
# ---------------------------------------------------------------------------
_STREAK_ORACLE = """
    WITH days AS (
      -- explicit floor: DuckDB's // is NOT floor division on DOUBLE
      -- (it returns the plain quotient, and the BIGINT cast ROUNDS)
      SELECT DISTINCT user_id, CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day
      FROM events),
    islands AS (
      SELECT user_id, day,
             day - dense_rank() OVER (PARTITION BY user_id ORDER BY day)
               AS grp
      FROM days),
    streaks AS (
      SELECT user_id, grp, CAST(COUNT(*) AS BIGINT) AS len
      FROM islands GROUP BY user_id, grp)
    SELECT user_id,
           CAST(MAX(len) AS BIGINT) AS longest_streak,
           CAST(COUNT(*) AS BIGINT) AS n_streaks,
           CAST(SUM(len) AS BIGINT) AS active_days
    FROM streaks GROUP BY user_id
    """


@query("events_activity_streaks", oracle=_STREAK_ORACLE)
def events_activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-day activity streak per user (gaps and
    islands via the day − dense_rank constant-group identity)."""
    ev = load_table(spark, sf_dir, "events")
    days = ev.select(
        "user_id",
        F.floor(F.col("ts").cast("timestamp").cast("double") / 86400)
        .cast("long")
        .alias("day"),
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    islands = days.withColumn("grp", F.col("day") - F.dense_rank().over(w))
    streaks = islands.groupBy("user_id", "grp").agg(
        F.count(F.lit(1)).cast("long").alias("len")
    )
    return streaks.groupBy("user_id").agg(
        F.max("len").cast("long").alias("longest_streak"),
        F.count(F.lit(1)).cast("long").alias("n_streaks"),
        F.sum("len").cast("long").alias("active_days"),
    )


# ---------------------------------------------------------------------------
# K-fold assignment — the cross-validation counterpart of the
# train/test split: deterministic md5 fold draw per document, fold
# accounting + per-fold membership checksum, plus the rotation
# identity (every doc in exactly one fold) that makes CV folds
# reproducible across engines and reruns.
# ---------------------------------------------------------------------------
_KFOLD_K = 5


def _kfold_oracle() -> str:
    from jhu_data_parser_spark.plans.pipeline6 import _hexpoly_sql

    h = _hexpoly_sql("md5('fold:' || CAST(doc_id AS VARCHAR))", 12)
    return f"""
    WITH f AS (
      SELECT doc_id,
             CAST({h} % {_KFOLD_K} AS INT) AS fold,
             len(list_filter(string_split_regex(lower(text), '\\s+'),
                             x -> x <> '')) AS n_tokens
      FROM documents)
    SELECT fold,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
           md5(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id))
             AS member_md5
    FROM f GROUP BY fold
    """


@query("sample_kfold_assignment", oracle=_kfold_oracle())
def sample_kfold_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 5-fold CV assignment with hash-pinned membership —
    one scan, one fold-key aggregation, no sort, no state."""
    from jhu_data_parser_spark.plans.pipeline6 import _hex_long

    d = load_table(spark, sf_dir, "documents")
    f = d.select(
        "doc_id",
        (
            _hex_long(
                F.md5(F.concat(F.lit("fold:"), F.col("doc_id").cast("string"))), 12
            )
            % _KFOLD_K
        )
        .cast("int")
        .alias("fold"),
        F.expr("size(filter(split(lower(text), '\\\\s+'), x -> x <> ''))")
        .alias("n_tokens"),
    )
    stream = F.expr(
        "concat_ws(',', transform(array_sort(collect_list(doc_id)), "
        "x -> CAST(x AS STRING)))"
    )
    return f.groupBy("fold").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
        F.md5(stream).alias("member_md5"),
    )
