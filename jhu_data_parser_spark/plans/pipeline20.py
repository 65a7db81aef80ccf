"""Catalog wave 46 — round 12: graph ANN (HNSW-family).

Closes the r11 verdict's "next" item 2: the index matrix had
LSH / IVF / PQ / IVF-PQ / OPQ / binary-sign+MIH but not the
industry-default GRAPH index (HNSW/NSW). Sequential HNSW insertion is
inherently serial and insertion-order-dependent — the wrong shape for
a distributed engine — so the family is re-expressed Spark-first as
two deterministic, oracle-replayable stages:

- ``knn_graph_banded`` (operators/similarity.py): a fixed-fanout kNN
  graph from BANDED RP-LSH candidates (independent bucketings; rows
  sharing a bucket in any band, never all-pairs) ranked by exact
  integer squared-L2 over quantized UNIT vectors (monotone in cosine)
  — one shuffle into (band, bucket) groups, a per-bucket top-m Arrow
  kernel and one bounded merge per src; order-independent, edge table
  ≤ n·m rows.
- ``graph_beam_search``: greedy best-first beam search from the
  minimum-id entry point — per hop, the ≤ beam-row id list broadcasts
  against the edge table and only the visited candidates are scored
  (O(hops·beam·m) distance evaluations, never a corpus scan).

Reference parity note: the reference (/root/reference) has no vector
surface — [extension] operators (SURVEY.md §2.12).

Oracle discipline: buckets are the plane-literal CASE sums (the
sim_lsh_recall_report pattern), quantization is the shared
ROUND(x·1e6) HALF_UP expression, distances are BIGINT sums of integer
squares, ties break by id everywhere — the DuckDB oracle replays the
ENTIRE pipeline (banding, edge selection, every hop of the search,
the exact-cosine re-rank and the recall arithmetic), so the driver
hash certifies the measured recall number itself. Hop CTEs are
MATERIALIZED (each is referenced twice by the next hop — the
exponential-inlining rule).

Scale posture (100 TB): build work is Σ_buckets |b|² per band — the
``n_planes`` knob holds bucket size ~constant as the corpus grows
(planes ≈ log2(n/target)); the per-src merge moves ≤ bands·m rows;
search hops touch beam·m edge rows and score ≤ beam(1+m) vectors per
hop via id-pruned fetches — a partitionBy(src) edge layout turns the
hop fetch into partition pruning. 100× probe recorded in PLANS.md
round 12.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from jhu_data_parser_spark.operators import similarity as sim
from jhu_data_parser_spark.plans.catalog import query
from jhu_data_parser_spark.session import local_frame
from jhu_data_parser_spark.sources.tables import load_table

# Parameters tuned by a measured sweep (numpy replica, ROUND_NOTES r12):
# weakly-clustered random embeddings make greedy search basin-prone, so
# the working point is a wider beam than textbook HNSW defaults —
# recall@10 = 1.0 / 1.0 / 0.9 at sf0.001 / 0.01 / 0.1 (the report
# query MEASURES it per corpus; m=6/beam=16/hops=4 scored 0.1-0.3).
_G_DIM = 64
_G_M = 16  # graph fanout
_G_PLANES = 6  # RP planes per band (64 buckets)
_G_BANDS = 4
_G_SEED = 42
_G_BEAM = 64  # efSearch analogue
_G_HOPS = 2  # re-rank rounds (r12 sweep: 2×depth-2 already 1.0 recall)
_G_DEPTH = 2  # edge levels expanded per round
_G_TOPK = 10

# quantized UNIT vectors (ROUND(1e6·x/‖x‖)): integer squared-L2 is then
# monotone in cosine — the beam ranks by the same order the exact
# re-rank and the brute-force arm use (without the normalization the
# L2 beam chases large-norm vectors and recall collapses)
def _qz_sql(where: str) -> str:
    """Quantized-unit-vector subquery (vec_id, q): the norm computes
    ONCE per row in its own projection level — the SQL twin of the
    Spark side's join-barrier hoist (an in-lambda norm would be the
    same O(d²)-per-row shape there)."""
    return (
        "SELECT vec_id, list_transform(emb, x -> "
        "CAST(ROUND(x * 1000000 / n) AS BIGINT)) AS q "
        "FROM (SELECT vec_id, emb, "
        "sqrt(list_dot_product(emb, emb)) AS n "
        "FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb "
        f"FROM embeddings WHERE {where}) t1) t2"
    )
_D2_SQL = (
    "CAST(list_sum(list_transform(list_zip({a}, {b}), "
    "v -> (v[1] - v[2]) * (v[1] - v[2]))) AS BIGINT)"
)


def _planes_lit(seed: int) -> str:
    planes = sim._rp_planes(_G_DIM, _G_PLANES, seed)
    return (
        "["
        + ", ".join(
            "[" + ", ".join(repr(float(x)) for x in row) + "]"
            for row in planes
        )
        + "]::DOUBLE[][]"
    )


def _bucket_sql(col: str, ptbl: str) -> str:
    return " + ".join(
        f"(CASE WHEN list_dot_product({col}, {ptbl}[{i + 1}]) > 0.0 "
        f"THEN {1 << i} ELSE 0 END)"
        for i in range(_G_PLANES)
    )


def _graph_ctes() -> str:
    plane_cols = ", ".join(
        f"{_planes_lit(_G_SEED + b)} AS p{b}" for b in range(_G_BANDS)
    )
    bucket_cols = ", ".join(
        f"({_bucket_sql('e.emb', f'pl.p{b}')}) AS b{b}"
        for b in range(_G_BANDS)
    )
    pair_arms = "\n      UNION\n".join(
        f"      SELECT a.id AS src, b.id AS dst FROM bks a JOIN bks b "
        f"ON a.b{b} = b.b{b} AND a.id <> b.id"
        for b in range(_G_BANDS)
    )
    qbucket_cols = ", ".join(
        f"({_bucket_sql('e.emb', f'pl.p{b}')}) AS qb{b}"
        for b in range(_G_BANDS)
    )
    seed_pred = " OR ".join(f"b.b{b} = qb.qb{b}" for b in range(_G_BANDS))
    hops = []
    prev = "h0"
    for k in range(1, _G_HOPS + 1):
        # depth-level frontier arms: f1 = N(beam), f2 = N(N(beam)), ...
        arms = [f"        SELECT id FROM {prev}"]
        frontier = f"(SELECT e1.dst AS id FROM edges e1 JOIN {prev} p ON e1.src = p.id)"
        for _d in range(_G_DEPTH):
            arms.append(f"        SELECT id FROM {frontier} f{_d}")
            frontier = (
                f"(SELECT e{_d + 2}.dst AS id FROM edges e{_d + 2} "
                f"JOIN {frontier} g{_d} ON e{_d + 2}.src = g{_d}.id)"
            )
        union = "\n        UNION\n".join(arms)
        hops.append(
            f"""h{k} AS MATERIALIZED (
      SELECT c.id FROM (
{union}) c
      JOIN qz z ON z.id = c.id CROSS JOIN qq
      ORDER BY {_D2_SQL.format(a='z.q', b='qq.qv')}, c.id
      LIMIT {_G_BEAM})"""
        )
        prev = f"h{k}"
    hop_ctes = ",\n    ".join(hops)
    return f"""pl AS (SELECT {plane_cols}),
    emb AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS emb
            FROM embeddings WHERE vec_id <> 0),
    bks AS MATERIALIZED (SELECT e.id, {bucket_cols} FROM emb e, pl),
    qz AS MATERIALIZED (
      SELECT vec_id AS id, q FROM ({_qz_sql("vec_id <> 0")}) zz),
    pairs AS (
{pair_arms}),
    pd AS (
      SELECT p.src, p.dst, {_D2_SQL.format(a='qa.q', b='qb.q')} AS d2
      FROM pairs p JOIN qz qa ON qa.id = p.src JOIN qz qb ON qb.id = p.dst),
    edges AS MATERIALIZED (
      SELECT src, dst FROM (
        SELECT src, dst,
               row_number() OVER (PARTITION BY src ORDER BY d2, dst) AS rn
        FROM pd) t
      WHERE rn <= {_G_M}),
    qq AS (SELECT q AS qv FROM ({_qz_sql("vec_id = 0")}) zq),
    qb AS (SELECT {qbucket_cols}
           FROM (SELECT CAST(embedding AS DOUBLE[]) AS emb
                 FROM embeddings WHERE vec_id = 0) e, pl),
    seeds AS (
      SELECT b.id FROM bks b, qb WHERE {seed_pred}
      UNION
      SELECT MIN(id) FROM qz),
    h0 AS MATERIALIZED (
      SELECT c.id FROM seeds c
      JOIN qz z ON z.id = c.id CROSS JOIN qq
      ORDER BY {_D2_SQL.format(a='z.q', b='qq.qv')}, c.id
      LIMIT {_G_BEAM}),
    {hop_ctes},
    qd AS (SELECT CAST(embedding AS DOUBLE[]) AS qe
           FROM embeddings WHERE vec_id = 0),
    gtop AS (
      SELECT e.vec_id, e.label
      FROM embeddings e JOIN h{_G_HOPS} ON e.vec_id = h{_G_HOPS}.id, qd
      ORDER BY list_dot_product(CAST(e.embedding AS DOUBLE[]), qd.qe)
                 / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                          CAST(e.embedding AS DOUBLE[])))
                    * sqrt(list_dot_product(qd.qe, qd.qe))) DESC, e.vec_id
      LIMIT {_G_TOPK})"""


_GRAPH_TOPK_ORACLE = f"""
    WITH {_graph_ctes()}
    SELECT vec_id, label FROM gtop
"""


def _graph_recall_oracle() -> str:
    from jhu_data_parser_spark.plans.llm import _TOPK_ORACLE

    return f"""
    WITH {_graph_ctes()},
    bf AS ({_TOPK_ORACLE})
    SELECT CAST({_G_TOPK} AS INT) AS k,
           CAST({_G_BEAM} AS INT) AS beam,
           CAST({_G_HOPS} AS INT) AS n_rounds,
           CAST({_G_DEPTH} AS INT) AS depth,
           CAST(COUNT(*) AS BIGINT) AS n_overlap,
           CAST(COUNT(*) AS DOUBLE) / CAST({_G_TOPK} AS DOUBLE) AS recall
    FROM bf JOIN gtop USING (vec_id)
    """


def _graph_beam(spark: SparkSession, sf_dir: str):
    """Shared build+search: returns (corpus, final beam)."""
    from jhu_data_parser_spark.operators.similarity import (
        quantize_unit_vectors,
    )

    e = load_table(spark, sf_dir, "embeddings")
    corpus = e.filter(F.col("vec_id") != 0)
    # PRE-BUILT graph index (the IVF-indexed serving discipline): the
    # banded build runs once per process per corpus fingerprint; the
    # serving query reads the ≤ n·m-row edge parquet — a graph index
    # is prebuilt in any real deployment, and the oracle still replays
    # the full build so the hash certifies it
    edges = sim.read_graph_index(
        spark,
        sim.knn_graph_index(
            corpus,
            dim=_G_DIM,
            m=_G_M,
            n_planes=_G_PLANES,
            bands=_G_BANDS,
            seed=_G_SEED,
            cache_tag="ne0",
        ),
    )
    # the quantized table feeds every search round (iterative consumer;
    # n×(64 ints) — at scale this materialization IS the quantized
    # column of the index artifact, built alongside the edge table)
    qz = quantize_unit_vectors(corpus).localCheckpoint(eager=False)
    qq = quantize_unit_vectors(e.filter(F.col("vec_id") == 0)).select("q")
    # LSH-seeded entry: the query's bucket mates across all bands (a
    # banded kNN graph is not guaranteed connected — seeding inside
    # the query's neighborhood is the graph-ANN analogue of HNSW's
    # upper-layer descent; graph hops then recover what banding lost)
    bucketed = corpus.select(
        F.col("vec_id").alias("id"),
        *[
            sim.rp_bucket_expr("embedding", _G_PLANES, _G_DIM, _G_SEED + b)
            .alias(f"b{b}")
            for b in range(_G_BANDS)
        ],
    )
    qb = e.filter(F.col("vec_id") == 0).select(
        *[
            sim.rp_bucket_expr("embedding", _G_PLANES, _G_DIM, _G_SEED + b)
            .alias(f"qb{b}")
            for b in range(_G_BANDS)
        ]
    )
    seed_pred = None
    for b in range(_G_BANDS):
        p = F.col(f"b{b}") == F.col(f"qb{b}")
        seed_pred = p if seed_pred is None else (seed_pred | p)
    seeds = bucketed.crossJoin(F.broadcast(qb)).filter(seed_pred).select("id")
    bm = sim.graph_beam_search(
        qz,
        edges,
        qq,
        beam=_G_BEAM,
        hops=_G_HOPS,
        depth=_G_DEPTH,
        entry_ids=seeds,
    )
    return corpus, bm


@query("sim_cosine_topk_graph", oracle=_GRAPH_TOPK_ORACLE)
def sim_cosine_topk_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{k} by graph ANN: banded kNN-graph build + {hops}-hop beam
    search (integer-exact distances), then an exact-cosine re-rank of
    the ≤ beam-row shortlist (the PQ-rerank discipline — the
    approximate stage only SHORTLISTS; the reported order is exact).
    The oracle replays build, search, and re-rank end-to-end."""
    from jhu_data_parser_spark.plans.llm import _query_vec

    corpus, bm = _graph_beam(spark, sf_dir)
    qv = _query_vec(spark, sf_dir, 0)
    shortlist = corpus.join(
        F.broadcast(bm.select(F.col("id").alias("vec_id"))), "vec_id"
    )
    return sim.topk_cosine(shortlist, qv, k=_G_TOPK).select("vec_id", "label")


@query("sim_graph_recall_report", oracle=_graph_recall_oracle())
def sim_graph_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@{k} of the graph-ANN path against exact brute force —
    the acceptance number a graph index must clear before serving
    retrieval, as a driver-gated catalog entry (same contract as the
    LSH/IVF/PQ recall reports: the oracle recomputes BOTH arms, so
    the hash certifies the measured recall itself)."""
    from jhu_data_parser_spark.plans.llm import _query_vec

    corpus, bm = _graph_beam(spark, sf_dir)
    qv = _query_vec(spark, sf_dir, 0)
    shortlist = corpus.join(
        F.broadcast(bm.select(F.col("id").alias("vec_id"))), "vec_id"
    )
    gtop = sim.topk_cosine(shortlist, qv, k=_G_TOPK).select("vec_id")
    bf = sim.topk_cosine(corpus, qv, k=_G_TOPK).select("vec_id")
    return bf.join(gtop, "vec_id").agg(
        F.lit(_G_TOPK).cast("int").alias("k"),
        F.lit(_G_BEAM).cast("int").alias("beam"),
        F.lit(_G_HOPS).cast("int").alias("n_rounds"),
        F.lit(_G_DEPTH).cast("int").alias("depth"),
        F.count(F.lit(1)).alias("n_overlap"),
        (
            F.count(F.lit(1)).cast("double") / F.lit(_G_TOPK).cast("double")
        ).alias("recall"),
    )


# --------------------------------------------------------------------------
# Batch graph serving — the multi-query twin (the shape a retrieval
# service actually runs: one request batch, one job sequence). Corpus
# and query split mirror sim_cosine_topk_multi (queries vec_id < 5,
# corpus vec_id >= 5); the per-query beam is the same bounded state,
# and the final exact-cosine re-rank runs on the driver.
# --------------------------------------------------------------------------

_GM_K = 5
_GM_WHERE = "vec_id >= 5"
_GM_QWHERE = "vec_id < 5"


def _graph_multi_ctes() -> str:
    plane_cols = ", ".join(
        f"{_planes_lit(_G_SEED + b)} AS p{b}" for b in range(_G_BANDS)
    )
    bucket_cols = ", ".join(
        f"({_bucket_sql('e.emb', f'pl.p{b}')}) AS b{b}"
        for b in range(_G_BANDS)
    )
    pair_arms = "\n      UNION\n".join(
        f"      SELECT a.id AS src, b.id AS dst FROM mbks a JOIN mbks b "
        f"ON a.b{b} = b.b{b} AND a.id <> b.id"
        for b in range(_G_BANDS)
    )
    qbucket_cols = ", ".join(
        f"({_bucket_sql('e.emb', f'pl.p{b}')}) AS qb{b}"
        for b in range(_G_BANDS)
    )
    seed_pred = " OR ".join(f"b.b{b} = q.qb{b}" for b in range(_G_BANDS))
    d2 = _D2_SQL.format(a="z.q", b="qm.qv")
    hops = []
    prev = "mh0"
    for k in range(1, _G_HOPS + 1):
        arms = [f"        SELECT query_id, id FROM {prev}"]
        frontier = (
            f"(SELECT p.query_id, e1.dst AS id FROM medges e1 "
            f"JOIN {prev} p ON e1.src = p.id)"
        )
        for _d in range(_G_DEPTH):
            arms.append(f"        SELECT query_id, id FROM {frontier} f{_d}")
            frontier = (
                f"(SELECT g{_d}.query_id, e{_d + 2}.dst AS id "
                f"FROM medges e{_d + 2} "
                f"JOIN {frontier} g{_d} ON e{_d + 2}.src = g{_d}.id)"
            )
        union = "\n        UNION\n".join(arms)
        hops.append(
            f"""mh{k} AS MATERIALIZED (
      SELECT query_id, id FROM (
        SELECT c.query_id, c.id,
               row_number() OVER (PARTITION BY c.query_id
                                  ORDER BY {d2}, c.id) AS rn
        FROM (
{union}) c
        JOIN mqz z ON z.id = c.id
        JOIN mqq qm ON qm.query_id = c.query_id) t
      WHERE rn <= {_G_BEAM})"""
        )
        prev = f"mh{k}"
    hop_ctes = ",\n    ".join(hops)
    return f"""pl AS (SELECT {plane_cols}),
    memb AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS emb
             FROM embeddings WHERE {_GM_WHERE}),
    mbks AS MATERIALIZED (SELECT e.id, {bucket_cols} FROM memb e, pl),
    mqz AS MATERIALIZED (
      SELECT vec_id AS id, q FROM ({_qz_sql(_GM_WHERE)}) zz),
    mpairs AS (
{pair_arms}),
    mpd AS (
      SELECT p.src, p.dst, {_D2_SQL.format(a='qa.q', b='qb.q')} AS d2
      FROM mpairs p JOIN mqz qa ON qa.id = p.src
      JOIN mqz qb ON qb.id = p.dst),
    medges AS MATERIALIZED (
      SELECT src, dst FROM (
        SELECT src, dst,
               row_number() OVER (PARTITION BY src ORDER BY d2, dst) AS rn
        FROM mpd) t
      WHERE rn <= {_G_M}),
    mqq AS (SELECT vec_id AS query_id, q AS qv
            FROM ({_qz_sql(_GM_QWHERE)}) zq),
    mqb AS (SELECT e.query_id, {qbucket_cols}
            FROM (SELECT vec_id AS query_id,
                         CAST(embedding AS DOUBLE[]) AS emb
                  FROM embeddings WHERE {_GM_QWHERE}) e, pl),
    mseeds AS (
      SELECT q.query_id, b.id FROM mbks b, mqb q WHERE {seed_pred}
      UNION
      SELECT q.query_id, (SELECT MIN(id) FROM mqz) AS id FROM mqb q),
    mh0 AS MATERIALIZED (
      SELECT query_id, id FROM (
        SELECT c.query_id, c.id,
               row_number() OVER (PARTITION BY c.query_id
                                  ORDER BY {d2}, c.id) AS rn
        FROM mseeds c
        JOIN mqz z ON z.id = c.id
        JOIN mqq qm ON qm.query_id = c.query_id) t
      WHERE rn <= {_G_BEAM}),
    {hop_ctes},
    mqd AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe
            FROM embeddings WHERE {_GM_QWHERE})"""


_GRAPH_MULTI_ORACLE = f"""
    WITH {_graph_multi_ctes()}
    SELECT query_id, vec_id, CAST(rank AS INT) AS rank
    FROM (
      SELECT t.query_id, e.vec_id,
             row_number() OVER (
               PARTITION BY t.query_id
               ORDER BY list_dot_product(CAST(e.embedding AS DOUBLE[]), qd.qe)
                 / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                          CAST(e.embedding AS DOUBLE[])))
                    * sqrt(list_dot_product(qd.qe, qd.qe))) DESC,
                 e.vec_id
             ) AS rank
      FROM mh{_G_HOPS} t
      JOIN embeddings e ON e.vec_id = t.id
      JOIN mqd qd ON qd.query_id = t.query_id)
    WHERE rank <= {_GM_K}
"""


@query("sim_graph_topk_multi", oracle=_GRAPH_MULTI_ORACLE)
def sim_graph_topk_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch graph-ANN serving: top-{k} for EVERY query in the request
    batch (vec_id < 5) from one index + one job sequence. The batch
    (quantized vector, raw vector, band codes) is collected once; the
    LSH seeds (bucket mates in any band) and the min-id fallback come
    from one aggregate; the per-query beams advance together in the
    driver-resident loop; the final order is an exact-cosine re-rank of
    each beam on the driver over one id-pruned fetch (the PQ-rerank
    discipline, bit-identical to ``sim.cosine``). The oracle replays
    the build and every per-query hop."""
    e = load_table(spark, sf_dir, "embeddings")
    corpus = e.filter(F.expr(_GM_WHERE))
    queries = e.filter(F.expr(_GM_QWHERE))
    index = sim.knn_graph_index(
        corpus,
        dim=_G_DIM,
        m=_G_M,
        n_planes=_G_PLANES,
        bands=_G_BANDS,
        seed=_G_SEED,
        cache_tag="ge5",
    )
    qz = sim.quantize_unit_vectors(corpus).localCheckpoint(eager=False)
    codes = [
        sim.rp_bucket_expr("embedding", _G_PLANES, _G_DIM, _G_SEED + b)
        for b in range(_G_BANDS)
    ]
    batch = sim.quantize_unit_vectors(
        queries,
        extra=[F.col("embedding")]
        + [c.alias(f"b{b}") for b, c in enumerate(codes)],
    ).collect()
    qcodes = {
        int(r["id"]): [r[f"b{b}"] for b in range(_G_BANDS)] for r in batch
    }
    # bucket mates of ANY batch query in any band, plus the fallback
    mate = None
    for b in range(_G_BANDS):
        p = F.col(f"b{b}").isin(sorted({v[b] for v in qcodes.values()}))
        mate = p if mate is None else (mate | p)
    agg = (
        corpus.select(
            F.col("vec_id").alias("id"),
            *[c.alias(f"b{b}") for b, c in enumerate(codes)],
        )
        .agg(
            F.min("id").alias("min_id"),
            F.collect_list(
                F.when(
                    mate,
                    F.array("id", *[f"b{b}" for b in range(_G_BANDS)]),
                )
            ).alias("mates"),
        )
        .head()
    )
    entries = {
        qid: {agg["min_id"]}
        | {
            r[0]
            for r in agg["mates"]
            if any(r[1 + b] == v[b] for b in range(_G_BANDS))
        }
        for qid, v in qcodes.items()
    }
    beams = sim._beam_loop_local(
        qz,
        sim.read_graph_index(spark, index),
        {int(r["id"]): np.asarray(r["q"], dtype=np.int64) for r in batch},
        entries,
        _G_BEAM,
        _G_HOPS,
        _G_DEPTH,
    )
    ranked = sim.rerank_cosine_local(
        corpus,
        {qid: [i for i, _d2 in beam] for qid, beam in beams.items()},
        {int(r["id"]): r["embedding"] for r in batch},
        _GM_K,
        f"graph index {index}",
    )
    return local_frame(
        spark, ranked, "query_id long, vec_id long, rank int"
    )


# --------------------------------------------------------------------------
# Arrival-order NSW graph + its incremental stream twin. The classic
# NSW insertion rule (each point links to its nearest ALREADY-INSERTED
# points) makes the edge list of a node a function of earlier ids
# only — so an append-only incremental builder reproduces the batch
# graph bit-for-bit (stream ≡ batch ≡ SQL), which is how a real
# deployment keeps a graph index fresh without rebuilds.
# --------------------------------------------------------------------------

_GA_M = 8
_GA_BANDS = 3


def _arrival_ctes() -> str:
    plane_cols = ", ".join(
        f"{_planes_lit(_G_SEED + b)} AS p{b}" for b in range(_GA_BANDS)
    )
    bucket_cols = ", ".join(
        f"({_bucket_sql('e.emb', f'pl.p{b}')}) AS b{b}"
        for b in range(_GA_BANDS)
    )
    pair_arms = "\n      UNION\n".join(
        f"      SELECT a.id AS src, b.id AS dst FROM abks a JOIN abks b "
        f"ON a.b{b} = b.b{b} AND b.id < a.id"
        for b in range(_GA_BANDS)
    )
    return f"""pl AS (SELECT {plane_cols}),
    aemb AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS emb
             FROM embeddings WHERE vec_id <> 0),
    abks AS MATERIALIZED (SELECT e.id, {bucket_cols} FROM aemb e, pl),
    aqz AS MATERIALIZED (
      SELECT vec_id AS id, q FROM ({_qz_sql("vec_id <> 0")}) zz),
    apairs AS (
{pair_arms}),
    apd AS (
      SELECT p.src, p.dst, {_D2_SQL.format(a='qa.q', b='qb.q')} AS d2
      FROM apairs p JOIN aqz qa ON qa.id = p.src
      JOIN aqz qb ON qb.id = p.dst),
    aedges AS (
      SELECT src, dst, CAST(rn AS INT) AS rank FROM (
        SELECT src, dst,
               row_number() OVER (PARTITION BY src ORDER BY d2, dst) AS rn
        FROM apd) t
      WHERE rn <= {_GA_M})"""


_ARRIVAL_ORACLE = f"""
    WITH {_arrival_ctes()}
    SELECT src, dst, rank FROM aedges
"""


@query("sim_graph_arrival_edges", oracle=_ARRIVAL_ORACLE)
def sim_graph_arrival_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The arrival-order NSW edge table itself (src, dst, rank ≤ {m}):
    every node's links to its nearest EARLIER-id banded candidates —
    the graph an insertion-order index build produces, hash-gated in
    full (the oracle replays banding, candidate generation, distance
    ranking and the fanout cut for every node). The streaming twin
    (``stream_graph_index_append``) must reproduce this table
    bit-for-bit from per-batch appends."""
    corpus = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") != 0
    )
    return sim.knn_graph_arrival(
        corpus,
        dim=_G_DIM,
        m=_GA_M,
        n_planes=_G_PLANES,
        bands=_GA_BANDS,
        seed=_G_SEED,
    )


@query("stream_graph_index_append", oracle=_ARRIVAL_ORACLE)
def stream_graph_index_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The arrival-order NSW graph built as a REAL incremental stream:
    embedding chunks (id-contiguous, ascending) arrive as
    micro-batches; each batch buckets+quantizes its own vectors,
    probes the ACCUMULATED posting index for earlier-id candidates,
    ranks, and appends its nodes' edges to a ``batch_id=N`` dir —
    append-only, no carried offsets. Because a node's edges depend
    only on earlier ids, the unioned appends ARE the batch graph:
    shares ``sim_graph_arrival_edges``'s oracle, so the driver hash
    proves stream ≡ batch ≡ SQL."""
    from jhu_data_parser_spark.streaming.jobs import (
        run_graph_index_append_stream,
    )

    return run_graph_index_append_stream(spark, sf_dir)


_MULTI_BF = f"""
      SELECT query_id, vec_id FROM (
        SELECT q.vec_id AS query_id, e.vec_id,
               row_number() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY list_dot_product(e.emb, q.emb)
                   / (sqrt(list_dot_product(e.emb, e.emb))
                      * sqrt(list_dot_product(q.emb, q.emb))) DESC,
                   e.vec_id
               ) AS rank
        FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
              FROM embeddings WHERE {_GM_WHERE}) e,
             (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
              FROM embeddings WHERE {_GM_QWHERE}) q)
      WHERE rank <= {_GM_K}
"""


def _graph_multi_recall_oracle() -> str:
    return f"""
    WITH {_graph_multi_ctes()},
    gsel AS (
      SELECT t.query_id, t.id AS vec_id
      FROM mh{_G_HOPS} t
      JOIN mqd qd ON qd.query_id = t.query_id
      JOIN embeddings e ON e.vec_id = t.id
      QUALIFY row_number() OVER (
        PARTITION BY t.query_id
        ORDER BY list_dot_product(CAST(e.embedding AS DOUBLE[]), qd.qe)
          / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                   CAST(e.embedding AS DOUBLE[])))
             * sqrt(list_dot_product(qd.qe, qd.qe))) DESC, e.vec_id
      ) <= {_GM_K}),
    bf AS ({_MULTI_BF}),
    hit AS (
      SELECT query_id, vec_id FROM bf
      INTERSECT
      SELECT query_id, vec_id FROM gsel)
    SELECT q.vec_id AS query_id,
           CAST({_GM_K} AS INT) AS k,
           CAST(COUNT(h.vec_id) AS BIGINT) AS n_overlap,
           CAST(COUNT(h.vec_id) AS DOUBLE) / CAST({_GM_K} AS DOUBLE)
             AS recall
    FROM (SELECT vec_id FROM embeddings WHERE {_GM_QWHERE}) q
    LEFT JOIN hit h ON h.query_id = q.vec_id
    GROUP BY 1
    """


@query("sim_graph_recall_multi", oracle=_graph_multi_recall_oracle())
def sim_graph_recall_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query recall@{k} of the BATCH graph-serving path against
    per-query brute force — the quality table a retrieval service
    publishes next to its latency: one row per request-batch query,
    zeros preserved (a query whose beam missed everything still
    reports). Both arms replay in the oracle, so the driver hash
    certifies every per-query recall number."""
    e = load_table(spark, sf_dir, "embeddings")
    corpus = e.filter(F.expr(_GM_WHERE))
    queries = e.filter(F.expr(_GM_QWHERE)).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    gsel = sim_graph_topk_multi(spark, sf_dir).select("query_id", "vec_id")
    bf = sim.topk_cosine_many(corpus, queries, k=_GM_K).select(
        "query_id", "vec_id"
    )
    hit = bf.join(gsel, ["query_id", "vec_id"])
    counts = hit.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_hit")
    )
    return (
        queries.select("query_id")
        .join(counts, "query_id", "left")
        .select(
            "query_id",
            F.lit(_GM_K).cast("int").alias("k"),
            F.coalesce("n_hit", F.lit(0)).cast("long").alias("n_overlap"),
            (
                F.coalesce("n_hit", F.lit(0)).cast("double")
                / F.lit(_GM_K).cast("double")
            ).alias("recall"),
        )
    )
