"""Vector similarity search over embedding columns (SURVEY.md §2.12).

- :func:`cosine_to_query` / :func:`topk_cosine` — brute-force exact
  scoring against ONE query vector. Linear scan, pure column expressions
  (``zip_with`` dot product), top-k via ``orderBy().limit()`` which
  Catalyst rewrites to ``TakeOrderedAndProject`` (per-task heaps, no
  global sort). This is the correctness baseline and is genuinely the
  right plan at 100 TB for single-query scoring.
- :func:`topk_cosine_lsh` — score only the query's random-hyperplane
  LSH bucket (plus multiprobe neighbours), bucketed by the
  sequential-double column expression :func:`rp_bucket_expr`.
- :func:`topk_cosine_ivf_indexed` — IVF: score only the probed cells of
  a ``partitionBy(cell)`` index (:func:`ivf_build_index`).
- IVF-PQ — one serving path for single, batch and streamed queries: a
  single query is a batch of one. :func:`ivfpq_shortlist` is the
  distributed half (probe choice, literal-map ADC lookup tables, one
  cell-pruned index scan, a per-query ``row_number`` shortlist) and
  :func:`ivfpq_serve` re-ranks the collected shortlist on the driver
  (one id-pruned vector fetch, exact int64 L2, ``(d2, id)`` ties).
  :func:`topk_ivfpq_indexed_multi` builds or loads the index and serves.
- Binary sign signatures (:func:`binary_signature`) and the graph-ANN
  build and beam search (:func:`knn_graph_banded`,
  :func:`graph_beam_search`), whose driver-resident loop shares the
  fetch, lookup and rank helpers with the IVF-PQ re-rank.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from jhu_data_parser_spark import cache
from jhu_data_parser_spark.session import local_frame

__all__ = [
    "dot",
    "l2_norm",
    "cosine",
    "cosine_to_query",
    "topk_cosine",
    "rp_bucket_expr",
    "topk_cosine_lsh",
    "topk_cosine_many",
    "ivf_fit_centroids",
    "ivf_assign",
    "ivf_build_index",
    "topk_cosine_ivf_indexed",
    "ivfpq_build_index",
    "ivfpq_shortlist",
    "ivfpq_serve",
    "topk_ivfpq_indexed_multi",
]


def dot(a: Column, b: Column) -> Column:
    """Dot product of two array<numeric> columns; sequential left-to-right
    double accumulation (deterministic, matches DuckDB's list math)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


# --- SQL-string expression builders ------------------------------------
# Folding a literal vector (or a K x D centroid matrix) into a plan via
# `F.array(*[F.lit(x) ...])` costs one py4j round-trip per element —
# seconds of DRIVER time per query for 16 planes x 64 dims. Emitting the
# identical expression as ONE SQL string parsed by `F.expr` is ~300x
# faster to construct and yields the same Catalyst tree (verified
# bit-identical vs the Column-API forms; `repr(float)` is the shortest
# round-trip decimal, parsed back to the exact same IEEE double by
# Spark's literal parser).


def _dlit(x: float) -> str:
    """Exact round-trip Spark SQL DOUBLE literal."""
    return repr(float(x)) + "D"


def _darr_sql(values) -> str:
    """SQL array<double> literal."""
    return "array(" + ",".join(_dlit(v) for v in values) + ")"


def _dot_sql(a_sql: str, b_sql: str) -> str:
    """SQL twin of :func:`dot` — same sequential-double accumulation."""
    return (
        f"aggregate(zip_with({a_sql}, {b_sql}, (x, y) -> CAST(x AS DOUBLE)"
        f" * CAST(y AS DOUBLE)), 0.0D, (acc, v) -> acc + v)"
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def cosine_to_query(
    df: DataFrame, query_vec: list[float], vec_col: str = "embedding", alias: str = "sim"
) -> DataFrame:
    """Score every row against a literal query vector — the vector is
    folded into the plan as an array literal (broadcast by closure; no
    join, no shuffle). Built as one SQL string (see `_dot_sql`) — the
    same expression tree as `cosine(col, F.array(lits))` without the
    per-element py4j cost."""
    v = f"`{vec_col}`"
    qarr = _darr_sql(query_vec)
    sim_sql = (
        f"{_dot_sql(v, qarr)} / (SQRT({_dot_sql(v, v)})"
        f" * SQRT({_dot_sql(qarr, qarr)}))"
    )
    return df.withColumn(alias, F.expr(sim_sql))


def topk_cosine(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact top-k by cosine; unique id tiebreak for determinism."""
    scored = cosine_to_query(df, query_vec, vec_col)
    return scored.orderBy(F.col("sim").desc(), F.col(id_col)).limit(k)


def topk_cosine_many(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Batch top-k: exact cosine top-k of the corpus for EVERY query row
    at once — the ANN serving shape (score a request batch, not one
    vector).

    The query set broadcasts (requests are small); scoring is a
    broadcast nested-loop producing |corpus|·|queries| scored rows
    streamed straight into a per-query partial top-k: ``row_number() <=
    k`` compiles to WindowGroupLimit, so each task forwards at most k
    rows per query to the shuffle. Cost is one corpus scan regardless of
    batch size; at index scale, pre-filter the corpus by LSH/IVF cell
    per query first."""
    from pyspark.sql import Window

    q = queries.select(
        F.col(query_id_col), F.col(vec_col).alias("__qvec")
    )
    scored = corpus.join(F.broadcast(q)).withColumn(
        "__sim", cosine(F.col(vec_col), F.col("__qvec"))
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("__sim").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .select(query_id_col, id_col, F.col("__rn").alias("rank"))
    )


def _rp_planes(dim: int, n_planes: int, seed: int = 42) -> np.ndarray:
    """Deterministic random hyperplanes (shared by index build and probe)."""
    rng = np.random.RandomState(seed)
    return rng.standard_normal((n_planes, dim)).astype(np.float64)


def rp_bucket_expr(
    vec_col: Column | str, n_planes: int = 16, dim: int = 64, seed: int = 42
) -> Column:
    """RP-LSH bucket as a PURE column expression: per plane, a
    sequential left-to-right double dot product (``dot``) → sign bit.

    Numerically exact twin of re-evaluating the plane literals in SQL —
    a numpy/BLAS matmul's accumulation order can flip the sign of a
    near-zero projection, so bucket ids stay reproducible across
    engines (the oracle-gated queries) only in this form.

    Built as one SQL string: the P x D plane matrix folds into the plan
    as ~P*D double literals, and doing that element-by-element through
    py4j cost >1 s of driver time per call (this function is called once
    per LSH band). `F.expr` of the equivalent SQL is ~300x faster and
    bit-identical."""
    if isinstance(vec_col, str):
        c_sql = f"`{vec_col}`"
    else:
        # Column input: fall back to the Column-API form (no SQL name).
        planes = _rp_planes(dim, n_planes, seed)
        total = F.lit(0)
        for i, row in enumerate(planes):
            plane = F.array(*[F.lit(float(x)) for x in row])
            total = total + F.when(dot(vec_col, plane) > 0.0, F.lit(1 << i)).otherwise(
                F.lit(0)
            )
        return total
    planes = _rp_planes(dim, n_planes, seed)
    terms = ["0"]
    for i, row in enumerate(planes):
        terms.append(
            f"(CASE WHEN {_dot_sql(c_sql, _darr_sql(row))} > 0.0D"
            f" THEN {1 << i} ELSE 0 END)"
        )
    return F.expr(" + ".join(terms))


def _bucket_of(query_vec: list[float], n_planes: int, seed: int = 42) -> int:
    """Query-vector bucket with the same sequential-double accumulation
    as :func:`rp_bucket_expr` / SQL list_dot_product (plain Python sum,
    not numpy — BLAS order differs at sign boundaries)."""
    planes = _rp_planes(len(query_vec), n_planes, seed)
    bucket = 0
    for i, row in enumerate(planes):
        acc = 0.0
        for a, b in zip(row.tolist(), query_vec):
            acc += a * float(b)
        if acc > 0.0:
            bucket |= 1 << i
    return bucket


def topk_cosine_lsh(
    df: DataFrame,
    query_vec: list[float],
    dim: int,
    k: int = 10,
    n_planes: int = 8,
    multiprobe_bits: int = 1,
    seed: int = 42,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Approximate top-k: restrict the exact scorer to the query's LSH
    bucket plus all buckets within ``multiprobe_bits`` Hamming distance
    (multiprobe recovers recall lost at bucket boundaries). The bucket
    filter is a pushable IN-list predicate — at scale it becomes
    partition pruning, reading a tiny fraction of the index. Buckets
    come from the sequential-double expression (:func:`rp_bucket_expr`),
    so they are cross-engine reproducible."""
    qb = _bucket_of(query_vec, n_planes, seed)
    probe = {qb}
    if multiprobe_bits >= 1:
        probe |= {qb ^ (1 << i) for i in range(n_planes)}
    bucketed = df.withColumn("bucket", rp_bucket_expr(vec_col, n_planes, dim, seed))
    candidates = bucketed.filter(F.col("bucket").isin([int(b) for b in probe]))
    return topk_cosine(candidates, query_vec, k, vec_col, id_col).drop("bucket")


def _normalize_rows(mat: np.ndarray) -> np.ndarray:
    norms = np.linalg.norm(mat, axis=1, keepdims=True)
    norms[norms == 0.0] = 1.0
    return mat / norms


def ivf_fit_centroids(
    df: DataFrame,
    n_centroids: int = 16,
    sample_size: int = 10_000,
    n_iter: int = 10,
    seed: int = 42,
    vec_col: str = "embedding",
) -> np.ndarray:
    """Train IVF centroids: spherical k-means on a bounded sample.

    The sample collect is an *index-build* step, not a data-path collect —
    it is capped at ``sample_size`` rows regardless of table size (the
    same train-on-sample discipline FAISS IVF uses), so the driver
    transfer is O(sample · dim) at 100 TB exactly as at sf0.001. Fitting
    is a few numpy matmuls; the returned (K, D) matrix ships to executors
    by closure (tiny) for assignment.
    """
    sample = (
        df.select(vec_col).limit(sample_size).toPandas()[vec_col].to_numpy()
    )
    mat = _normalize_rows(np.vstack(sample).astype(np.float64))
    rng = np.random.RandomState(seed)
    k = min(n_centroids, len(mat))
    cent = mat[rng.choice(len(mat), size=k, replace=False)].copy()
    for _ in range(n_iter):
        cent_n = _normalize_rows(cent)
        assign = np.argmax(mat @ cent_n.T, axis=1)
        for j in range(k):
            members = mat[assign == j]
            if len(members):
                cent[j] = members.mean(axis=0)
    return _normalize_rows(cent)


def ivf_assign(
    df: DataFrame,
    centroids: np.ndarray,
    vec_col: str = "embedding",
    cell_col: str = "cell",
) -> DataFrame:
    """Attach each vector's nearest-centroid (by cosine) cell id.

    One Arrow-batched matmul per batch. At 100 TB the assignment runs
    once at index-build time and the table is written
    ``partitionBy(cell)`` — queries then prune to ``n_probe`` partitions.
    """
    cent = centroids  # (K, D), unit-normalized

    @pandas_udf("int")
    def _cell(vecs: pd.Series) -> pd.Series:
        mat = _normalize_rows(np.vstack(vecs.to_numpy()).astype(np.float64))
        return pd.Series(np.argmax(mat @ cent.T, axis=1).astype(np.int32))

    return df.withColumn(cell_col, _cell(F.col(vec_col)))


def ivf_build_index(
    df: DataFrame,
    n_centroids: int = 16,
    sample_size: int = 10_000,
    seed: int = 42,
    vec_col: str = "embedding",
) -> tuple[str, np.ndarray]:
    """Fit centroids, assign every vector its cell (Arrow matmul), and
    write the corpus ``partitionBy(cell)``; returns (path, centroids).
    An ``ivf_index`` artifact of :mod:`jhu_data_parser_spark.cache`, so
    the build runs once per session per corpus — the index lifecycle
    of a real deployment, where every serving query probes the layout
    with an IN-list the scanner turns into partition pruning."""

    def build(path: str) -> tuple[str, np.ndarray]:
        cent = ivf_fit_centroids(
            df, n_centroids, sample_size, seed=seed, vec_col=vec_col
        )
        ivf_assign(df, cent, vec_col).write.partitionBy("cell").parquet(
            path, mode="overwrite"
        )
        return path, cent

    return cache.get_or_build(
        "ivf_index", df, (n_centroids, sample_size, seed, vec_col), build
    )


def topk_cosine_ivf_indexed(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    sample_size: int = 10_000,
    seed: int = 42,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    row_filter: Column | None = None,
) -> DataFrame:
    """IVF top-k against the PRE-BUILT partitionBy(cell) index: the
    serving query is a pruned parquet scan of the probed cells plus the
    exact scorer — zero per-query assignment work (no K·D expression,
    no Python round-trip). ``row_filter`` applies post-scan (e.g.
    excluding the query row itself) so the index can serve filtered
    views without a rebuild. With ``n_probe >= n_centroids`` the probe
    is exhaustive and the result is exact."""
    path, cent = ivf_build_index(df, n_centroids, sample_size, seed, vec_col)
    spark = df.sparkSession
    q = np.asarray(query_vec, dtype=np.float64)
    qn = q / (np.linalg.norm(q) or 1.0)
    probe = np.argsort(-(cent @ qn))[: min(n_probe, len(cent))]
    index = spark.read.parquet(path)
    candidates = index.filter(F.col("cell").isin([int(c) for c in probe]))
    if row_filter is not None:
        candidates = candidates.filter(row_filter)
    return topk_cosine(candidates, query_vec, k, vec_col, id_col).drop("cell")


def quantize_int8(
    df: DataFrame,
    vec_col: str = "embedding",
    q_col: str = "qvec",
    scale_col: str = "qscale",
) -> DataFrame:
    """Symmetric int8 quantization per vector: ``q_i = floor(x_i·127/m +
    0.5)`` with ``m = max|x|``, ``scale = m/127``. 4× smaller vectors,
    integer dot products (exact, order-independent), recovered score =
    ``int_dot · scale_a · scale_b``.

    The scale story: at 100 TB of embeddings the index shrinks 4× and
    the scoring hot loop becomes integer multiply-adds; the quantization
    itself is a shuffle-free projection. Every arithmetic step (abs,
    max, one multiply, one divide, floor) is a single IEEE op identical
    in DuckDB — so quantized scores are bit-portable and oracle-checkable
    (unlike float-sum cosines, which need the sequential-double dance).
    """
    maxabs = F.array_max(
        F.transform(F.col(vec_col), lambda x: F.abs(x.cast("double")))
    )
    safe = F.when(maxabs > 0.0, maxabs).otherwise(F.lit(1.0))
    q = F.transform(
        F.col(vec_col),
        lambda x: F.floor(x.cast("double") * 127.0 / safe + 0.5).cast("long"),
    )
    return df.withColumn(q_col, q).withColumn(scale_col, safe / 127.0)


def int_dot(a: Column, b: Column) -> Column:
    """Exact integer dot product of two array<long> columns."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0).cast("long"), lambda acc, v: acc + v
    )


def topk_quantized(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Top-k by int8-quantized dot product against a literal query
    vector. Scores = qdot·scale_row·scale_query; ranking matches exact
    cosine up to quantization error (recall pinned in tests)."""
    import math

    m = max((abs(float(x)) for x in query_vec), default=0.0) or 1.0
    qq = [int(math.floor(float(x) * 127.0 / m + 0.5)) for x in query_vec]
    q_lit = F.expr("array(" + ",".join(f"{v}L" for v in qq) + ")")
    quant = quantize_int8(df, vec_col)
    scored = quant.withColumn(
        "qscore", int_dot(F.col("qvec"), q_lit) * F.col("qscale") * F.lit(m / 127.0)
    )
    return scored.orderBy(F.col("qscore").desc(), F.col(id_col)).limit(k)


# ---------------------------------------------------------------------------
# Composed IVF-PQ index — the standard billion-vector serving layout
# (Jégou et al., TPAMI 2011 §V; the FAISS `IVFx,PQy` factory shape):
# a coarse quantizer buckets vectors into cells (written
# partitionBy(cell), so probing is partition PRUNING), and inside each
# cell vectors are stored as M sub-codes (2 bytes here instead of
# 256 bytes of floats). Serving = prune to n_probe cells → ADC-score
# the codes (one LUT lookup + add per subspace) → exact re-rank of the
# shortlist against the full vectors, one path for single, batch and
# streamed queries (ivfpq_shortlist, ivfpq_serve). Both trained parts reuse the
# INTEGER-EXACT k-means (operators/clustering.py: lowest-id seeding,
# int64 L2 argmin with lowest-cid tie-break, floor-mean updates), so a
# DuckDB oracle replays the entire index build and every serving step
# bit-for-bit — cells, codes, probe choice, shortlist boundary, rerank.
#
# By default no residual encoding (FAISS by_residual=false): codes
# quantize the raw vector, not vector-minus-centroid. That keeps one PQ codebook
# shared across cells (residual PQ needs per-cell rotation to pay off)
# and keeps the oracle a pure composition of the two verified fits.
# ---------------------------------------------------------------------------


def ivfpq_build_index(
    df: DataFrame,
    n_cells: int = 8,
    coarse_iters: int = 2,
    m: int = 4,
    sub: int = 16,
    pq_k: int = 16,
    pq_iters: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    cache_tag: str = "",
    residual: bool = False,
) -> tuple[str, list, list]:
    """Build (or serve from cache) the IVF-PQ index: returns
    ``(path, coarse_centroids, codebooks)`` where the parquet at
    ``path`` holds ``(id, code0..code{m-1})`` partitioned by ``cell``,
    ``coarse_centroids`` is the K×D int-centroid list (cid-ascending)
    and ``codebooks[s]`` the k×sub int codebook of subspace s.

    ``residual=True`` is the FAISS-default ``by_residual`` encoding:
    PQ codebooks are fit over (and codes quantize) the vector MINUS its
    coarse centroid — exact integer subtraction, so the oracle replay
    discipline is unchanged — which concentrates the code range on the
    within-cell spread real clustered corpora have.

    Index-build lifecycle mirrors :func:`ivf_build_index`: the fits are
    bounded-collect model builds (centroid tables are KBs by params,
    not data), the encode pass is ONE scan computing cell + all M codes
    as codegen/HOF projections, and the write is the partitioned layout
    a 100 TB deployment serves from. An ``ivfpq_index`` artifact of
    :mod:`jhu_data_parser_spark.cache`; a derived (filtered or
    synthesized) frame is cached only under a ``cache_tag``."""
    _require_integral_id(df, id_col, "ivfpq_build_index")
    params = (
        n_cells, coarse_iters, m, sub, pq_k, pq_iters, vec_col, id_col, residual
    )
    return cache.get_or_build(
        "ivfpq_index", df, params, lambda path: _ivfpq_build(df, path, *params), cache_tag
    )


def _ivfpq_build(
    df, path, n_cells, coarse_iters, m, sub, pq_k, pq_iters, vec_col, id_col, residual
) -> tuple[str, list, list]:
    """:func:`ivfpq_build_index`'s build: fits, encode pass, write."""
    from jhu_data_parser_spark.operators.clustering import (
        KM_SCALE,
        kmeans_fit,
        kmeans_fit_multi,
        quantize_vectors,
    )

    pts = quantize_vectors(df, id_col=id_col, vec_col=vec_col)
    # collapse_duplicates: replicated corpora fit over distinct vectors
    # (bit-identical — the clustering equivalence test pins it; only
    # probed when the plain local bound overflows)
    _, cents_df = kmeans_fit(
        pts, k=n_cells, iterations=coarse_iters, collapse_duplicates=True
    )
    coarse = [
        [int(v) for v in r["c"]]
        for r in sorted(cents_df.collect(), key=lambda r: r["cid"])
    ]

    def carr_lit(cents: list) -> str:
        return (
            "array("
            + ",".join(
                f"named_struct('cid', {cid}L, 'c', "
                f"array({','.join(str(v) + 'L' for v in c)}))"
                for cid, c in enumerate(cents)
            )
            + ")"
        )

    def argmin_expr(q_expr: str, cents: list) -> str:
        # Lowest distance, lowest-cid tie-break — identical to the
        # clustering _ARGMIN_EXPR rule (struct min orders by d, cid).
        return (
            f"array_min(transform({carr_lit(cents)}, ctr -> named_struct("
            f"'d', aggregate(zip_with({q_expr}, ctr.c, (a, b) -> (a - b) * (a - b)), "
            "CAST(0 AS BIGINT), (acc, x) -> acc + x), "
            "'cid', ctr.cid))).cid"
        )

    # The PQ fit's point set: raw subvectors, or (residual=True) the
    # vector minus its coarse centroid — an exact integer subtraction,
    # with the cell recomputed by the same argmin rule the final
    # assignment uses (bit-identical to kmeans_fit's assignment).
    qcol = (
        f"transform({vec_col}, x -> "
        f"CAST(ROUND(CAST(x AS DOUBLE) * {KM_SCALE}, 0) AS BIGINT))"
    )
    if residual:
        base = df.select(F.col(id_col).alias("id"), F.expr(qcol).alias("q"))
        base = base.withColumn(
            "r",
            F.expr(
                f"zip_with(q, element_at({carr_lit(coarse)}, "
                f"CAST({argmin_expr('q', coarse)} + 1 AS INT)).c, "
                "(a, b) -> a - b)"
            ),
        )
        sub_pts = base.select(
            "id",
            F.explode(
                F.expr(
                    f"transform(sequence(0, {m - 1}), s -> named_struct("
                    f"'g', s, 'q', slice(r, s * {sub} + 1, {sub})))"
                )
            ).alias("e"),
        ).select(F.col("e.g").alias("g"), "id", F.col("e.q").alias("q"))
    else:
        sub_pts = df.select(
            F.col(id_col).alias("id"),
            F.explode(
                F.expr(
                    f"transform(sequence(0, {m - 1}), s -> named_struct("
                    "'g', s, "
                    f"'q', transform(slice({vec_col}, s * {sub} + 1, {sub}), "
                    f"x -> CAST(ROUND(CAST(x AS DOUBLE) * {KM_SCALE}, 0) AS BIGINT))))"
                )
            ).alias("e"),
        ).select(F.col("e.g").alias("g"), "id", F.col("e.q").alias("q"))
    rows = kmeans_fit_multi(
        sub_pts, k=pq_k, iterations=pq_iters, collapse_duplicates=True
    ).collect()
    books = [
        [
            [int(v) for v in c]
            for _cid, c in sorted(
                (r["cid"], r["c"]) for r in rows if r["g"] == s
            )
        ]
        for s in range(m)
    ]

    enc = _ivfpq_encode_arrow(
        df, coarse, books, sub, residual, vec_col, id_col
    )
    enc.write.partitionBy("cell").parquet(path, mode="overwrite")
    return path, coarse, books


def _ivfpq_quantize_np(mat):
    """ROUND-HALF-AWAY-FROM-ZERO int64 quantization of a float (N, D)
    matrix at 1e6 — exactly Spark's ROUND(x, 0) (numpy rint would be
    banker's and diverge on .5 ties)."""
    import numpy as np

    x = mat.astype(np.float64) * 1_000_000.0
    return np.where(x >= 0, np.floor(x + 0.5), np.ceil(x - 0.5)).astype(np.int64)


def _ivfpq_encode_arrow(
    df: DataFrame,
    coarse: list,
    books: list,
    sub: int,
    residual: bool,
    vec_col: str,
    id_col: str,
) -> DataFrame:
    """The index-build encode pass as Arrow-batched numpy: quantize,
    assign cells and all M codes with integer-exact matmul argmins.
    Bit-identical to the expression encoder (same HALF_UP quantization;
    int64 squared-L2; np.argmin's first-minimum rule == the lowest-cid
    tie-break) — pinned by test_ivfpq_arrow_encoder_matches_expression.
    Exists because the interpreted-HOF argmin costs ~(K + M·k) 16-term
    folds per ROW on the build path (~20 s of the 35 s 100× build);
    numpy does the same integer math in a few matmuls per batch."""
    import numpy as np

    coarse_np = np.asarray(coarse, dtype=np.int64)
    books_np = [np.asarray(b, dtype=np.int64) for b in books]
    m = len(books_np)

    def _argmin_sq(Q, C):
        # int64-exact squared L2 argmin; first minimum = lowest cid.
        d = (
            (Q * Q).sum(axis=1)[:, None]
            + (C * C).sum(axis=1)[None, :]
            - 2 * (Q @ C.T)
        )
        return d.argmin(axis=1)

    def _map(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            Q = _ivfpq_quantize_np(np.vstack(pdf[vec_col].to_numpy()))
            cells = _argmin_sq(Q, coarse_np)
            R = Q - coarse_np[cells] if residual else Q
            out = {"id": pdf[id_col].astype("int64"), "cell": cells.astype("int64")}
            for sp in range(m):
                out[f"code{sp}"] = _argmin_sq(
                    R[:, sp * sub : (sp + 1) * sub], books_np[sp]
                ).astype("int64")
            yield pd.DataFrame(out)

    schema = "id bigint, cell bigint, " + ", ".join(
        f"code{sp} bigint" for sp in range(m)
    )
    return df.select(F.col(id_col), F.col(vec_col)).mapInPandas(_map, schema)


def ivfpq_shortlist(
    index: DataFrame,
    coarse: list,
    books: list,
    queries: list,
    n_probe: int = 3,
    shortlist: int = 50,
    residual: bool = False,
) -> DataFrame:
    """The DISTRIBUTED half of IVF-PQ serving: the per-query ADC
    shortlist ``(query_id, id, cell, adc_dist)`` over an already-loaded
    index frame ``(id, cell, code0..code{m-1})`` — the stored
    :func:`ivfpq_build_index` layout, or a stream's base ∪ appended
    segments. ``queries`` is a list of ``(query_id, q_ints)`` with q_ints
    the ROUND(x·1e6) quantized vectors (produce them Spark-side via
    ``clustering.quantize_vectors`` — Python's round() is banker's and
    would diverge on .5 ties); one query is a batch of one.

    The driver picks each query's ``n_probe`` integer-L2-nearest coarse
    cells (ties to the lowest cid) and builds the ADC lookup tables as
    literal maps: flat PQ keys them by ``query_id`` (the LUT is
    cell-independent), residual PQ by ``query_id * len(coarse) + cell``
    (distances of the CELL-RELATIVE query residual to the codebook) —
    O(Q·n_probe·m·pq_k·sub) driver ints, corpus-independent. The index
    scan prunes to the union of probed cells and reads only the code
    columns; a broadcast join against the tiny (query_id, cell) probe
    table fans each row out to the queries that probed its cell; the
    shortlist is a ``row_number() <= shortlist`` window per query over
    (adc_dist, id) — WindowGroupLimit, so each task keeps its partial
    top-n before the one narrow exchange."""
    from pyspark.sql import Window

    m, sub, n_cells = len(books), len(books[0][0]), len(coarse)
    probes = {}
    for qid, q_ints in queries:
        cell_d = sorted(
            (sum((qi - ci) ** 2 for qi, ci in zip(q_ints, c)), cid)
            for cid, c in enumerate(coarse)
        )
        probes[int(qid)] = [cid for _d, cid in cell_d[:n_probe]]

    def lut(q_ints: list, cid: int | None, sp: int) -> str:
        off = [0] * sub if cid is None else coarse[cid][sp * sub : (sp + 1) * sub]
        r = [q_ints[sp * sub + i] - off[i] for i in range(sub)]
        dists = (sum((a - b) ** 2 for a, b in zip(r, c)) for c in books[sp])
        return "array(" + ",".join(f"{d}L" for d in dists) + ")"

    adc_terms = []
    for sp in range(m):
        if residual:
            entries = ", ".join(
                f"{int(qid) * n_cells + cid}L, {lut(q_ints, cid, sp)}"
                for qid, q_ints in queries
                for cid in probes[int(qid)]
            )
            key = f"query_id * {n_cells} + cell"
        else:
            entries = ", ".join(
                f"{int(qid)}L, {lut(q_ints, None, sp)}" for qid, q_ints in queries
            )
            key = "query_id"
        adc_terms.append(
            f"element_at(element_at(map({entries}), {key}), CAST(code{sp} + 1 AS INT))"
        )

    pairs = [(qid, cid) for qid, cells in probes.items() for cid in cells]
    pairs_df = local_frame(index.sparkSession, pairs, "query_id long, cell long")
    cand = (
        index.filter(F.col("cell").isin(sorted({cid for _q, cid in pairs})))
        .select(
            "id", F.col("cell").cast("long").alias("cell"), *[f"code{s}" for s in range(m)]
        )
        .join(F.broadcast(pairs_df), "cell")
    )
    adc = cand.select(
        "query_id",
        "id",
        "cell",
        sum(F.expr(t) for t in adc_terms).cast("long").alias("adc_dist"),
    )
    ws = Window.partitionBy("query_id").orderBy("adc_dist", "id")
    return (
        adc.withColumn("rn", F.row_number().over(ws))
        .filter(F.col("rn") <= shortlist)
        .drop("rn")
    )


def ivfpq_serve(
    index: DataFrame,
    df: DataFrame,
    coarse: list,
    books: list,
    queries: list,
    label: str,
    k: int = 10,
    n_probe: int = 3,
    shortlist: int = 50,
    residual: bool = False,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF-PQ top-k: the :func:`ivfpq_shortlist` of ``index`` plus a
    DRIVER-RESIDENT exact re-rank against the corpus ``df``. Returns
    ``(query_id, <id_col>, rank, cell, adc_dist, exact_dist)`` as a
    driver-built frame.

    The shortlist is parameter-bounded (≤ Q·shortlist rows — exactly
    what an ANN serving node holds), so it is collected and the
    surviving ids' quantized vectors arrive by ONE bounded id-pruned
    fetch (:func:`_fetch_id_vecs`), never a corpus scan. Quantization
    stays Spark-side (the same ROUND(x·1e6) expression); the re-rank is
    exact int64 squared-L2 with (exact_dist, id) ties (:func:`_rank`),
    the arithmetic the oracle replays. A shortlisted id the corpus no
    longer holds raises :class:`StaleIndexError` naming ``label``."""
    srows = ivfpq_shortlist(
        index, coarse, books, queries, n_probe, shortlist, residual
    ).collect()
    base_qz = df.select(
        F.col(id_col).alias("id"),
        F.expr(
            f"transform({vec_col}, x -> "
            "CAST(ROUND(CAST(x AS DOUBLE) * 1000000, 0) AS BIGINT))"
        ).alias("q"),
    )
    vecs: dict = {}
    _fetch_id_vecs(base_qz, {int(r["id"]) for r in srows}, vecs)
    by_q: dict = {}
    for r in srows:
        by_q.setdefault(int(r["query_id"]), {})[int(r["id"])] = (
            int(r["cell"]),
            int(r["adc_dist"]),
        )
    qvecs = {int(qid): np.asarray(list(q), dtype=np.int64) for qid, q in queries}
    out_rows = [
        (qid, vid, rank, *by_q[qid][vid], d2)
        for qid in sorted(by_q)
        for rank, (vid, d2) in enumerate(
            _rank(vecs, label, qvecs[qid], by_q[qid], k), start=1
        )
    ]
    return local_frame(
        df.sparkSession,
        out_rows,
        f"query_id long, {id_col} long, rank int, cell long, "
        "adc_dist long, exact_dist long",
    )


def topk_ivfpq_indexed_multi(
    df: DataFrame,
    queries: list,
    k: int = 10,
    n_probe: int = 3,
    shortlist: int = 50,
    n_cells: int = 8,
    coarse_iters: int = 2,
    m: int = 4,
    sub: int = 16,
    pq_k: int = 16,
    pq_iters: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    cache_tag: str = "",
    residual: bool = False,
) -> DataFrame:
    """IVF-PQ top-k serving for a batch of ``(query_id, q_ints)``
    queries (one query is a batch of one): build or load the
    :func:`ivfpq_build_index` artifact over ``df`` and :func:`ivfpq_serve`
    it — one cell-pruned index scan for the whole batch, then the
    driver re-rank."""
    _require_integral_id(df, id_col, "topk_ivfpq_indexed_multi")
    path, coarse, books = ivfpq_build_index(
        df,
        n_cells,
        coarse_iters,
        m,
        sub,
        pq_k,
        pq_iters,
        vec_col,
        id_col,
        cache_tag,
        residual,
    )
    return ivfpq_serve(
        read_ivfpq_index(df.sparkSession, path, m),
        df,
        coarse,
        books,
        queries,
        f"IVF-PQ index cache_tag={cache_tag!r}",
        k,
        n_probe,
        shortlist,
        residual,
        vec_col,
        id_col,
    )


def pq_balanced_perm(
    df: DataFrame,
    m: int = 4,
    sub: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> list[int]:
    """OPQ-style balanced dimension allocation (the deterministic,
    integer-exact special case of Ge et al.'s rotation learning):
    rank dimensions by total integer energy Σq² over the fit set
    (desc, dim asc) and deal them round-robin into the M subspaces —
    ``newpos(rank r) = (r % m)·sub + r DIV m`` — so each subspace gets
    an equal share of high-variance dims. Returns the permutation P
    with ``P[newpos] = old_dim`` (a ≤D-int driver artifact from ONE
    distributed aggregation); apply it as a corpus projection
    ``transform(array(P...), d -> element_at(vec, d + 1))`` and run the
    unmodified PQ/IVF-PQ pipeline — L2 is permutation-invariant, so
    only the subspace SPLIT changes."""
    from jhu_data_parser_spark.operators.clustering import quantize_vectors

    pts = quantize_vectors(df, id_col=id_col, vec_col=vec_col)
    en = (
        pts.select(F.posexplode("q").alias("dim", "v"))
        .groupBy("dim")
        .agg(F.sum(F.col("v") * F.col("v")).cast("long").alias("e"))
        .collect()
    )
    ranked = sorted(((int(r["e"]), int(r["dim"])) for r in en), key=lambda t: (-t[0], t[1]))
    n_dims = len(ranked)
    if n_dims != m * sub:
        raise ValueError(f"dim count {n_dims} != m*sub = {m * sub}")
    perm = [0] * n_dims
    for r, (_e, dim) in enumerate(ranked):
        perm[(r % m) * sub + r // m] = dim
    return perm


# ---------------------------------------------------------------------------
# Binary (1-bit sign) quantization — the cheapest index layout in the
# quantization matrix (float32 → int8 → PQ codes → sign bits): 8 bytes
# per 64-dim vector, a 32× reduction over float32, and the shortlist
# metric (Hamming distance = XOR + popcount per word) is the fastest
# scoring loop hardware can run. Recall comes from the exact re-rank
# of the Hamming shortlist — the same refine discipline as PQ/ADC
# (ivfpq_serve above). Everything is integer-exact and
# engine-portable: packing is a sum of DISJOINT powers of two kept
# under 2^32 (two half-words instead of one 64-bit word, because bit
# 63 would need the sign bit and engines disagree on unsigned shifts),
# and the sign test is `x > 0.0` on the same IEEE doubles everywhere.
# ---------------------------------------------------------------------------
def binary_signature(
    df: DataFrame,
    vec_col: str = "embedding",
    lo_col: str = "sig_lo",
    hi_col: str = "sig_hi",
) -> DataFrame:
    """Append the packed sign-bit signature of a 64-dim vector column:
    bit i of ``lo`` is set iff dim i (0-based, dims 0..31) is strictly
    positive; ``hi`` packs dims 32..63. Shuffle-free projection; at
    100 TB the signature is computed once at ingest and STORED — the
    serving scan then reads 16 bytes/row instead of 260."""

    emb = F.transform(F.col(vec_col), lambda x: x.cast("double"))

    def word(offset: int):
        bits = F.zip_with(
            F.slice(emb, offset + 1, 32),
            F.sequence(F.lit(0), F.lit(31)),
            # 2^i via pow: exact in IEEE doubles for i ≤ 31, cast exact.
            lambda x, i: F.when(x > 0.0, F.pow(F.lit(2.0), i).cast("long"))
            .otherwise(F.lit(0).cast("long")),
        )
        return F.aggregate(bits, F.lit(0).cast("long"), lambda a, b: a + b)

    return df.withColumn(lo_col, word(0)).withColumn(hi_col, word(32))


def binary_query_words(query_vec: list[float]) -> tuple[int, int]:
    """Driver-side twin of :func:`binary_signature` for the ≤64-float
    query vector (the query input, not a data-path collect)."""
    if len(query_vec) != 64:
        raise ValueError(f"binary signature expects 64 dims, got {len(query_vec)}")
    lo = sum(1 << i for i in range(32) if float(query_vec[i]) > 0.0)
    hi = sum(1 << i for i in range(32) if float(query_vec[32 + i]) > 0.0)
    return lo, hi


def hamming64(lo: Column, hi: Column, qlo: int, qhi: int) -> Column:
    """Hamming distance between a stored two-word signature and the
    query's literal words: two XORs + two popcounts, whole-stage
    codegen, no shuffle."""
    return (
        F.bit_count(lo.bitwiseXOR(F.lit(qlo).cast("long")))
        + F.bit_count(hi.bitwiseXOR(F.lit(qhi).cast("long")))
    ).cast("int")


def embedding_moment_partials(
    df: DataFrame,
    emb_col: str = "embedding",
    scale: int = 100_000,
) -> DataFrame:
    """Exact fixed-point first/second-moment PARTIALS of an embedding
    column — the covariance analogue of the mergeable histogram
    sketch: each Arrow batch contributes ONE D×D integer Gram partial
    (a numpy int64 ``Xᵀ·X`` — the matmul is where Python pays for
    itself), emitted as
    D(D+1)/2 + D + 1 narrow rows per BATCH (upper-triangle products,
    per-dim sums, a count row) — never per input row. Partials merge
    by ADDITION (one groupBy over (i, j)), so per-partition builds
    equal the global build exactly; covariance/PCA consumers derive
    n·Sxy − Sx·Sy from the merged moments.

    Fixed-point discipline: elements are ``floor(x · scale)`` int64;
    with |x| ≲ 1 the summed-squares bound (verify-skill rule: bound
    Σ(scale·v)², not scale·v) allows ~3·10⁹ rows at scale = 1e5
    before int64 overflow — ANSI mode would throw, not corrupt,
    beyond it. Rows encode: (i, j, s) with 1-based dims for
    Σ fp_i·fp_j (i ≤ j), (i, -1, s) for Σ fp_i, and (-1, -1, n).
    1-based so the DuckDB oracle's ``fp[i]`` list indexing replays
    the same positions."""
    schema = "i int, j int, s long"

    def _part(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack(pdf[emb_col].values).astype(np.float64)
            Xi = np.floor(X * scale).astype(np.int64)
            g = Xi.T @ Xi
            s1 = Xi.sum(axis=0)
            d = Xi.shape[1]
            iu, ju = np.triu_indices(d)
            out_i = np.concatenate([iu + 1, np.arange(1, d + 1), [-1]])
            out_j = np.concatenate([ju + 1, np.full(d, -1), [-1]])
            out_s = np.concatenate([g[iu, ju], s1, [len(pdf)]])
            yield pd.DataFrame({"i": out_i, "j": out_j, "s": out_s})

    return (
        df.select(emb_col)
        .mapInPandas(_part, schema)
        .groupBy("i", "j")
        .agg(F.sum("s").cast("long").alias("s"))
    )


# ---------------------------------------------------------------------------
# Graph ANN (HNSW-family): banded kNN-graph build + greedy beam search.
# ---------------------------------------------------------------------------


def quantize_unit_vectors(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1_000_000,
    extra: list | tuple = (),
) -> DataFrame:
    """``(id, q)`` with ``q_i = ROUND(scale · x_i / ‖x‖)`` — quantized
    UNIT vectors, so integer squared-L2 is monotone in cosine
    (``‖a−b‖² ≈ 2·scale² − 2·a·b`` at unit norm): the metric contract
    graph/beam ANN needs when the corpus ranks by cosine but the
    search wants exact integer comparisons. The norm is the
    sequential-double dot (bit-identical to DuckDB
    ``list_dot_product`` on DOUBLE[]), the division one IEEE op, and
    ROUND is HALF_UP in both engines — bit-portable like
    ``clustering.quantize_vectors``. ``extra`` (aliased columns of
    ``df``) ride along after ``q``, so callers that need more per-row
    columns (bucket codes, the raw vector) pay no second join."""
    # The norm must be HOISTED behind a join barrier: HOF lambdas get
    # no loop-invariant CSE, and CollapseProject re-inlines a plain
    # alias straight back into the lambda (verified on the optimized
    # plan), so an in-lambda norm recomputes the O(d) dot per ELEMENT
    # — O(d²)/row, 64× redundant at d=64 (~12 s vs ~2 s for the 200k-
    # row 100× corpus). The id-equi self-join is the cheap side of
    # that trade and AQE picks its strategy.
    norm = (
        f"sqrt(aggregate(zip_with({vec_col}, {vec_col}, "
        "(a, b) -> CAST(a AS DOUBLE) * CAST(b AS DOUBLE)), "
        "CAST(0.0 AS DOUBLE), (s, x) -> s + x))"
    )
    vecs = df.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("__v"), *extra
    )
    # Zero/NULL-norm guard: an all-zero (or NULL) embedding has no
    # cosine direction; dividing through would emit NULL/NaN q arrays
    # whose NULL ordering DIVERGES between Spark (NULLS FIRST asc) and
    # DuckDB (NULLS LAST) — a silent oracle break. Fail loudly instead
    # (fail-loudly rule): filter zero vectors upstream if they are
    # expected.
    norms = df.select(
        F.col(id_col).alias("id"), F.expr(norm).alias("__n0")
    ).select(
        "id",
        F.expr(
            "CASE WHEN __n0 IS NULL OR __n0 = CAST(0.0 AS DOUBLE) "
            "THEN CAST(raise_error('quantize_unit_vectors: zero- or "
            "null-norm embedding (cosine undefined); filter upstream') "
            "AS DOUBLE) ELSE __n0 END"
        ).alias("__n"),
    )
    return vecs.join(norms, "id").select(
        "id",
        F.expr(
            f"transform(__v, x -> "
            f"CAST(ROUND(CAST(x AS DOUBLE) * {scale} / __n, 0) "
            "AS BIGINT))"
        ).alias("q"),
        *vecs.columns[2:],
    )


def _require_integral_id(df: DataFrame, id_col: str, caller: str) -> None:
    """Fail before any job when ``id_col`` is not an integer type: the
    graph and IVF-PQ paths order ties by id, fetch by IN-list and (the
    graph) mask ``dst < src``, all of which assume exact integral ids."""
    from pyspark.sql.types import IntegralType

    dt = df.schema[id_col].dataType
    if not isinstance(dt, IntegralType):
        raise ValueError(
            f"{caller}: id column {id_col!r} has type {dt.simpleString()}; "
            "ANN indexes need an integral id (tinyint/smallint/int/bigint)"
        )


def banded_posts(
    corpus: DataFrame,
    dim: int,
    n_planes: int,
    bands: int,
    seed: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """``(id, q, b0..b{bands-1})`` — the quantized unit vector and one
    bigint RP-LSH bucket code per band (seeds ``seed + band``; bigint so
    stored posting rows read back with one type), in one pass. Buckets
    come from the sequential-double column expression
    (:func:`rp_bucket_expr`), so the build replays in SQL."""
    codes = [rp_bucket_expr(vec_col, n_planes, dim, seed + b) for b in range(bands)]
    return quantize_unit_vectors(
        corpus,
        id_col=id_col,
        vec_col=vec_col,
        extra=[c.cast("long").alias(f"b{b}") for b, c in enumerate(codes)],
    )


# Entries of one src-chunk × dst distance block in the bucket kernel
# (int64: 32 MB) — bounds a worker's memory for any bucket size.
_TOPM_BLOCK = 1 << 22
_D2_NONE = np.iinfo(np.int64).max


def _bucket_topm(
    ids: np.ndarray,
    q: np.ndarray,
    is_src: np.ndarray,
    m: int,
    earlier_only: bool,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Each src row's ``m`` nearest rows of ONE bucket by exact integer
    squared-L2, ties by dst id — the kNN-graph build's local top-m
    (pure numpy, no Spark). ``ids`` (n,) and ``q`` (n, d) int64 are
    the bucket's rows, all of them candidate dsts; ``is_src`` marks
    the rows that want neighbours. A dst qualifies when
    ``dst < src`` (``earlier_only``, the arrival-order rule) or else
    ``dst != src``. Returns ``(src, dst, d2)`` int64 arrays.

    ``‖s‖² + ‖d‖² − 2·s·d`` is the same integer as ``Σ(s_i − d_i)²``
    (int64 matmul is exact; unit-quantized rows keep every term far
    from overflow), and the dsts are id-sorted before a stable sort, so
    equal distances keep dst order. Src rows are processed in chunks
    of ≤ ``_TOPM_BLOCK`` distance entries."""
    empty = np.empty(0, dtype=np.int64)
    src_rows = np.flatnonzero(is_src)
    if len(src_rows) == 0:
        return empty, empty, empty
    order = np.argsort(ids, kind="stable")
    dst_ids, dst_q = ids[order], q[order]
    dst_n = np.einsum("ij,ij->i", dst_q, dst_q)
    k = min(m, len(dst_ids))
    step = max(1, _TOPM_BLOCK // len(dst_ids))
    out_s, out_d, out_k = [], [], []
    for lo in range(0, len(src_rows), step):
        rows = src_rows[lo : lo + step]
        s_ids, s_q = ids[rows], q[rows]
        d2 = (
            np.einsum("ij,ij->i", s_q, s_q)[:, None]
            + dst_n[None, :]
            - 2 * (s_q @ dst_q.T)
        )
        if earlier_only:
            d2[dst_ids[None, :] >= s_ids[:, None]] = _D2_NONE
        else:
            d2[dst_ids[None, :] == s_ids[:, None]] = _D2_NONE
        top = np.argsort(d2, axis=1, kind="stable")[:, :k]
        top_d2 = np.take_along_axis(d2, top, axis=1)
        keep = top_d2 != _D2_NONE
        out_s.append(np.broadcast_to(s_ids[:, None], top.shape)[keep])
        out_d.append(dst_ids[top][keep])
        out_k.append(top_d2[keep])
    return np.concatenate(out_s), np.concatenate(out_d), np.concatenate(out_k)


def _list_matrix(col) -> np.ndarray:
    """A non-empty Arrow list<int64> column of equal-length rows as an
    (n, d) int64 matrix (NULL elements and ragged rows raise)."""
    import pyarrow.compute as pc

    arr = col.combine_chunks()
    widths = pc.list_value_length(arr).to_numpy(zero_copy_only=False)
    if (widths != widths[0]).any():
        raise ValueError("kNN-graph build: vectors of different lengths")
    return arr.flatten().to_numpy().reshape(len(arr), int(widths[0]))


def banded_topm(
    posts: DataFrame, bands: int, m: int, earlier_only: bool = False
) -> DataFrame:
    """Each src's top-``m`` banded neighbours by exact integer
    squared-L2, ties by dst — the ONE ranking implementation behind the
    batch builds and the streaming index append (a tie-break or metric
    change here cannot silently diverge the hash-gated stream ≡ batch
    equivalence). ``posts`` is ``(id, q, b0..b{bands-1}, is_src)``;
    every post is a candidate dst, ``is_src`` rows get edges.
    Returns ``(src, dst, rank)`` with 1-based ranks.

    Partition, rank locally, merge bounded lists (the REPOSE shape):
    the posts explode to one row per ``(band, bucket)`` and shuffle
    once; a grouped Arrow kernel (:func:`_bucket_topm`) computes every
    bucket's all-pairs int64 d2 and per-src top-m; one ``groupBy(src)``
    merges the ≤ bands·m local winners per src (the same pair found in
    several bands dedups, as it carries the same d2). The top-m of the
    union of band candidates is the top-m of the union of per-bucket
    top-m lists, since anything a bucket drops is beaten by m of its
    own candidates."""
    import pyarrow as pa

    def kernel(table):
        src, dst, d2 = _bucket_topm(
            table.column("id").to_numpy().astype(np.int64, copy=False),
            _list_matrix(table.column("q")),
            table.column("is_src").to_numpy(zero_copy_only=False),
            m,
            earlier_only,
        )
        return pa.table({"src": src, "dst": dst, "d2": d2})

    band_buckets = F.array(
        *[
            F.struct(F.lit(b).alias("band"), F.col(f"b{b}").alias("bucket"))
            for b in range(bands)
        ]
    )
    per_bucket = (
        posts.select("id", "q", "is_src", F.inline(band_buckets))
        .groupBy("band", "bucket")
        .applyInArrow(kernel, "src long, dst long, d2 long")
    )
    nn = per_bucket.groupBy("src").agg(
        F.slice(
            F.array_sort(F.collect_set(F.struct("d2", "dst"))), 1, m
        ).alias("nn")
    )
    return nn.select("src", F.posexplode("nn")).select(
        "src",
        F.col("col.dst").alias("dst"),
        (F.col("pos") + 1).cast("int").alias("rank"),
    )


def knn_graph_banded(
    corpus: DataFrame,
    dim: int,
    m: int = 6,
    n_planes: int = 6,
    bands: int = 3,
    seed: int = 42,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Deterministic fixed-fanout kNN graph ``(src, dst)`` — the
    navigable-small-world index build (the industry-default graph-ANN
    family: HNSW/NSW), expressed Spark-first and integer-exact so the
    whole build replays in SQL.

    Candidates come from ``bands`` independent RP-LSH bucketings
    (:func:`rp_bucket_expr`, seeds ``seed + band``), never all-pairs:
    per band, vectors sharing a bucket are candidates; the union across
    bands recovers neighbors a single hyperplane cut separated (the
    same band-union recall argument as MinHash LSH). Each node keeps
    its ``m`` nearest candidates by SQUARED L2 over quantized UNIT
    vectors (:func:`quantize_unit_vectors` — monotone in cosine; exact
    BIGINT arithmetic, ties by id) — fanout is exactly ≤ m, so the edge
    table is ≤ n·m rows. The ranking is :func:`banded_topm`: one
    shuffle into ``(band, bucket)`` groups, a per-bucket top-m Arrow
    kernel, one bounded merge per src.

    Scale posture (100 TB): the kernel's work per band is
    Σ_buckets |b|² — bounded by bucket size, which the ``n_planes``
    knob holds ~constant as the corpus grows (planes ≈ log2(n/target)
    keeps |b| ≈ target; the catalog queries pin planes for their
    fixture so the oracle's plane literals stay static) — and the merge
    moves ≤ bands·m rows per src. Unlike sequential HNSW insertion
    (inherently serial, order-dependent), the banded build is order-
    independent — the Spark-native construction.
    """
    _require_integral_id(corpus, id_col, "knn_graph_banded")
    posts = banded_posts(corpus, dim, n_planes, bands, seed, vec_col, id_col)
    return banded_topm(
        posts.withColumn("is_src", F.lit(True)), bands, m
    ).select("src", "dst")


def knn_graph_arrival(
    corpus: DataFrame,
    dim: int,
    m: int = 8,
    n_planes: int = 6,
    bands: int = 3,
    seed: int = 42,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Arrival-order NSW graph ``(src, dst, rank)``: each node links to
    its ``m`` nearest banded candidates among EARLIER ids only
    (``dst < src``) — exactly the classic NSW insertion rule (each
    inserted point links to nearest already-inserted points), with id
    order standing in for arrival order. The decisive property: a
    node's edge list depends only on nodes before it, so an
    INCREMENTAL builder that appends per-batch edges (ids ascending
    across batches) reproduces this graph bit-for-bit — stream ≡
    batch ≡ SQL, the incremental-index discipline applied to a graph.
    Candidates and ranking are the SAME shared helpers as
    :func:`knn_graph_banded` (:func:`banded_topm` over
    :func:`banded_posts`) — one implementation, so a metric/tie-break
    change cannot silently diverge the two graphs."""
    _require_integral_id(corpus, id_col, "knn_graph_arrival")
    posts = banded_posts(
        corpus, dim, n_planes, bands, seed, vec_col, id_col
    )
    return banded_topm(
        posts.withColumn("is_src", F.lit(True)), bands, m, earlier_only=True
    )


def knn_graph_index(
    corpus: DataFrame,
    dim: int,
    m: int = 6,
    n_planes: int = 6,
    bands: int = 3,
    seed: int = 42,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    cache_tag: str = "",
    src_buckets: int = 16,
) -> str:
    """Build-once graph index: :func:`knn_graph_banded` written to a
    parquet dir, a ``knng_index`` artifact of
    :mod:`jhu_data_parser_spark.cache` (a graph index is prebuilt in
    any real ANN deployment; serving never pays the build); a derived
    frame is cached only under a ``cache_tag``. Returns the index path.

    The edge table is written ``partitionBy(src_pt{N})`` with
    ``src_pt{N} = pmod(src, src_buckets)`` (the bucket count rides in
    the COLUMN NAME so a fetch can never bucket the frontier with a
    mismatched modulus) — the src-keyed layout that lets every
    per-hop adjacency fetch prune file groups: :func:`_fetch_adjacency`
    knows the frontier's buckets driver-side and filters the partition
    column with a literal ``isin``, a planning-time ``PartitionFilters``
    entry on the edge scan (plan-pinned in tests). At 100 TB the hop
    then reads O(beam) partitions of an n·m-row table instead of the
    whole table. ``src_buckets=0`` writes the flat layout."""
    _require_integral_id(corpus, id_col, "knn_graph_index")

    def build(path: str) -> str:
        edges = knn_graph_banded(
            corpus, dim, m, n_planes, bands, seed, vec_col, id_col
        )
        if src_buckets > 0:
            # the bucket count rides IN the column name (src_pt16): the
            # adjacency fetch derives it from the read-back schema, so a
            # caller can never bucket the frontier with a mismatched
            # modulus (which would silently drop edges from every hop)
            pt = f"src_pt{src_buckets}"
            edges.withColumn(
                pt, F.pmod(F.col("src"), F.lit(src_buckets)).cast("int")
            ).write.partitionBy(pt).parquet(path, mode="overwrite")
        else:
            edges.write.parquet(path, mode="overwrite")
        return path

    params = (
        dim, m, n_planes, bands, seed, vec_col, id_col, src_buckets
    )
    return cache.get_or_build("knng_index", corpus, params, build, cache_tag)


def read_graph_index(spark, path: str) -> DataFrame:
    """The edge table at a :func:`knn_graph_index` path. Its schema is
    known (``src``/``dst`` bigint, plus the ``src_pt{N}`` partition
    column when the layout has one), so it is declared rather than
    inferred — inference reads the footers in a Spark job of its own."""
    import os

    pt = next(
        (d.split("=")[0] for d in os.listdir(path) if d.startswith("src_pt")),
        None,
    )
    schema = "src long, dst long" + (f", {pt} int" if pt else "")
    return spark.read.schema(schema).parquet(path)


def read_ivfpq_index(spark, path: str, m: int) -> DataFrame:
    """The code table at an :func:`ivfpq_build_index` path with ``m``
    subspaces: ``id`` and ``code0..code{m-1}`` bigint plus the ``cell``
    partition column, declared rather than inferred for the same reason
    as :func:`read_graph_index`."""
    codes = "".join(f", code{s} bigint" for s in range(m))
    return spark.read.schema(f"id bigint{codes}, cell int").parquet(path)


# ---------------------------------------------------------------------------
# Driver-resident beam loop (r15). The beam STATE is parameter-bounded
# (≤ |batch|·beam ids; an ANN serving node holds exactly this), and the
# per-hop work touches only O(beam·m^depth) rows of corpus-sized tables
# — so the loop runs on the driver and issues one bounded, pruned Spark
# job per fetch, instead of composing a Catalyst plan per rank stage.
# Why: the previous localCheckpoint-per-rank shape paid a FULL
# analyze/optimize/plan pass per stage (measured 4.4 s driver planning
# per sim_graph_topk_multi call, execution 0.48 s), and swapping the
# checkpoint for a collected LocalRelation just moved the cost into
# per-action AQE/window/broadcast overhead (~1.5 s × 3 ranks). Fetching
# ids is ONE broadcast-join job; ranking ≤ a few thousand candidates is
# exact int64 numpy (identical d2 arithmetic, ties by id — the oracle
# replays every hop bit-for-bit). Every fetch recomputes from the
# parquet inputs; nothing persists across invocations.
# ---------------------------------------------------------------------------
# Above this many ids, a fetch predicate switches from a single parsed
# IN-list string (one stage, no broadcast build — measured 0.5-0.8 s
# per broadcast-join fetch vs ~0.15 s single-stage at harness scale)
# to a broadcast semi-join (bounded plan size at 100 TB candidate
# volumes: beam·m^depth·|batch| can reach ~10^5).
_FETCH_INLIST_MAX = 8192


def _id_filter(df: DataFrame, col: str, ids: list):
    """``df`` restricted to ``col`` ∈ ids: ONE parsed IN-list predicate
    for small sets (no per-element py4j traffic, no broadcast-build
    sub-job), a broadcast semi-join above the threshold."""
    if len(ids) <= _FETCH_INLIST_MAX:
        return df.filter(F.expr(f"{col} IN ({','.join(map(str, ids))})"))
    ids_df = local_frame(df.sparkSession, [(i,) for i in ids], f"{col} long")
    return df.join(F.broadcast(ids_df), col)


def _fetch_id_vecs(corpus_qz: DataFrame, ids, acc: dict) -> None:
    """Fetch quantized vectors for the ids missing from ``acc``
    (id → np.int64[dim]) with one bounded job."""
    import numpy as np

    need = sorted(int(i) for i in ids if int(i) not in acc)
    if not need:
        return
    rows = _id_filter(corpus_qz, "id", need).select("id", "q").collect()
    for r in rows:
        acc[int(r["id"])] = np.asarray(r["q"], dtype=np.int64)


class StaleIndexError(LookupError):
    """An index artifact names ids its corpus no longer holds."""


def _lookup(acc: dict, ids, index: str) -> list:
    """``[acc[i] for i in ids]`` for rows fetched by id — the one lookup
    behind every driver-side re-rank. An id the fetch did not return
    means the index was built over a different corpus (a stale cache
    entry, or one ``cache_tag`` shared by two frames), so
    this raises :class:`StaleIndexError` naming the missing ids and the
    index rather than a bare ``KeyError``."""
    try:
        return [acc[i] for i in ids]
    except KeyError:
        missing = sorted({i for i in ids if i not in acc})
        raise StaleIndexError(
            f"{len(missing)} id(s) from {index} are missing from the "
            f"corpus (first: {missing[:8]}): the index was built over a "
            "different corpus; rebuild it or give this corpus its own "
            "cache_tag"
        ) from None


def _rank(vecs: dict, index: str, qvec, cand_ids, beam: int) -> list:
    """The ``beam`` candidates nearest ``qvec`` as ``[(id, d2), ...]``:
    exact int64 squared-L2 over the vectors fetched into ``vecs``, ties
    by id — the one ranking behind the graph beam loop and the IVF-PQ
    re-rank."""
    if not cand_ids:
        return []
    ids = np.fromiter(sorted(cand_ids), dtype=np.int64)
    mat = np.stack(_lookup(vecs, ids.tolist(), index))
    diff = mat - qvec
    d2 = np.einsum("ij,ij->i", diff, diff)
    order = np.lexsort((ids, d2))[:beam]
    return [(int(ids[o]), int(d2[o])) for o in order]


def _index_label(edges: DataFrame) -> str:
    """Where an edge table came from, for error messages."""
    import os

    files = edges.inputFiles()
    if not files:
        return "an in-memory graph index"
    return "graph index " + os.path.commonpath(
        [f[len("file:"):] if f.startswith("file:") else f for f in files]
    )


def _seq_dot(a, b) -> float:
    """:func:`dot`'s arithmetic on the driver: products of doubles
    summed left to right from 0.0 (never BLAS/``np.dot``, whose
    summation order differs in the last bits)."""
    acc = 0.0
    for x, y in zip(a, b):
        acc += x * y
    return acc


def rerank_cosine_local(
    corpus: DataFrame,
    shortlists: dict,
    query_vecs: dict,
    k: int,
    index: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> list:
    """Exact-cosine top-``k`` of each query's shortlist, on the driver:
    ONE id-pruned fetch of the shortlisted vectors, then
    :func:`cosine`'s arithmetic bit for bit (sequential double dots,
    IEEE sqrt and division), ordered by (cosine desc, id). The
    shortlists are parameter-bounded (≤ |batch|·beam ids), so this is
    the IVF-PQ re-rank's serving posture. ``shortlists`` maps
    query_id → candidate ids, ``query_vecs`` query_id → raw vector.
    Returns ``[(query_id, id, rank), ...]`` with 1-based ranks."""
    import math

    ids = sorted({int(i) for c in shortlists.values() for i in c})
    vecs = {
        int(r[0]): [float(x) for x in r[1]]
        for r in _id_filter(corpus, id_col, ids)
        .select(id_col, vec_col)
        .collect()
    }
    out = []
    for qid in sorted(shortlists):
        qv = [float(x) for x in query_vecs[qid]]
        qn = math.sqrt(_seq_dot(qv, qv))
        cand = sorted({int(i) for i in shortlists[qid]})
        scored = sorted(
            (-(_seq_dot(v, qv) / (math.sqrt(_seq_dot(v, v)) * qn)), i)
            for i, v in zip(cand, _lookup(vecs, cand, index))
        )
        out += [(qid, i, r) for r, (_c, i) in enumerate(scored[:k], start=1)]
    return out


def _fetch_adjacency(edges: DataFrame, srcs) -> dict:
    """Out-edges of the given src ids as ``{src: [dst, ...]}`` — one
    job. When the edge layout carries ``src_pt{N}`` (see
    :func:`knn_graph_index`), the frontier\'s bucket values are known
    driver-side, so the scan is STATICALLY partition-pruned (a literal
    ``isin`` on the partition column — no DPP subquery needed)."""
    import re

    srcs = sorted({int(s) for s in srcs})
    if not srcs:
        return {}
    pt = next((c for c in edges.columns if re.fullmatch(r"src_pt\d+", c)), None)
    scan = edges
    if pt is not None:
        nb = int(pt[len("src_pt"):])
        pts = sorted({((s % nb) + nb) % nb for s in srcs})
        scan = scan.filter(F.col(pt).isin(pts))
    adj: dict = {}
    for r in _id_filter(scan, "src", srcs).select("src", "dst").collect():
        adj.setdefault(int(r["src"]), []).append(int(r["dst"]))
    return adj


def _beam_loop_local(
    corpus_qz: DataFrame,
    edges: DataFrame,
    qvecs: dict,
    entries: dict,
    beam: int,
    hops: int,
    depth: int,
) -> dict:
    """The shared greedy beam loop: per query, rank the seed candidates,
    then ``hops`` rounds of (expand the beam ``depth`` edge levels,
    re-rank everything seen) — candidate sets, integer d2 and (d2, id)
    tie-breaks identical to the previous in-plan formulation (the
    oracle replays every hop). Returns ``{qid: [(id, d2), ...]}``
    sorted ascending."""
    index = _index_label(edges)
    vecs: dict = {}
    _fetch_id_vecs(
        corpus_qz, set().union(*entries.values()) if entries else set(), vecs
    )
    beams = {
        qid: _rank(vecs, index, qvecs[qid], set(entries.get(qid, ())), beam)
        for qid in qvecs
    }
    for _ in range(hops):
        cand = {qid: {i for i, _ in beams[qid]} for qid in beams}
        frontier = {qid: set(c) for qid, c in cand.items()}
        for _d in range(depth):
            adj = _fetch_adjacency(edges, set().union(*frontier.values()))
            nxt = {}
            for qid, f in frontier.items():
                nf: set = set()
                for s in f:
                    nf.update(adj.get(s, ()))
                cand[qid].update(nf)
                nxt[qid] = nf
            frontier = nxt
        _fetch_id_vecs(corpus_qz, set().union(*cand.values()), vecs)
        beams = {qid: _rank(vecs, index, qvecs[qid], cand[qid], beam) for qid in beams}
    return beams


def graph_beam_search(
    corpus_qz: DataFrame,
    edges: DataFrame,
    query_q: DataFrame,
    beam: int = 16,
    hops: int = 4,
    depth: int = 1,
    entry_ids: DataFrame | None = None,
) -> DataFrame:
    """Greedy beam search over a kNN graph: start at the minimum-id
    entry point, expand the beam's out-edges each hop, keep the
    ``beam`` nearest nodes seen so far by exact integer squared-L2 to
    the query (ties by id). Returns the final beam as ``(id, d2)``.

    Inputs: ``corpus_qz`` is the quantized vector table ``(id, q)``
    (:func:`jhu_data_parser_spark.operators.clustering.quantize_vectors`
    — integer-exact, so search replays bit-for-bit in SQL), ``edges``
    the ``(src, dst)`` graph (:func:`knn_graph_banded`), ``query_q`` a
    one-row ``(q)`` quantized query (derive it IN-PLAN from the stored
    row — both engines apply their own HALF_UP ROUND to the same
    stored doubles).

    Entry: ``entry_ids`` (an id DataFrame, e.g. the query's RP-LSH
    bucket mates — the LSH-seeded NSW discipline; a banded kNN graph
    is not guaranteed connected, so good seeds matter more than more
    hops) unioned with the minimum-id node as a deterministic
    fallback; the initial beam is the ``beam`` nearest seeds.

    Monotone by construction (the previous beam is always in the
    candidate set), so a fixed ``hops`` bound works without a
    visited-set. Every hop expands the frontier ``depth`` edge levels
    before re-ranking, via the driver-resident loop
    (:func:`_beam_loop_local`): the ≤ beam-id frontier fetches its
    out-edges with one statically partition-pruned job against the
    src-keyed layout, the ≤ beam·mᵈᵉᵖᵗʰ candidate vectors arrive by
    one broadcast semi-join job, and the re-rank is exact int64
    numpy with (d2, id) ties. Only visited candidates are ever
    scored — O(hops·beam·mᵈᵉᵖᵗʰ) distance evaluations total, never a
    corpus scan (the ANN serving contract); the beam state itself is
    parameter-bounded, exactly what a serving node holds.
    """
    import numpy as np

    spark = corpus_qz.sparkSession
    qvec = np.asarray(query_q.select("q").head()["q"], dtype=np.int64)
    seed_ids = {int(corpus_qz.agg(F.min("id")).head()[0])}
    if entry_ids is not None:
        seed_ids.update(int(r["id"]) for r in entry_ids.select("id").collect())
    beams = _beam_loop_local(
        corpus_qz, edges, {0: qvec}, {0: seed_ids}, beam, hops, depth
    )
    return local_frame(spark, beams[0], "id long, d2 long")
