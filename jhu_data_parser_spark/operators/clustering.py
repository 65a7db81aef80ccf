"""Distributed k-means clustering over embedding columns (extension
surface — corpus curation: topic bucketing, dedup-cluster seeding,
stratified sampling by semantic cluster).

The reference (/root/reference/src/parser.py, parser2.py) has no
clustering surface; this belongs to the LLM-pipeline extension family
alongside ``operators/similarity.py`` (ANN) and ``operators/dedup.py``
(near-dup clustering).

All arithmetic is **fixed-point integer** (embeddings quantized to
``round(x * 10^6)`` longs, squared L2 distances in int64, centroid
means via ``floor(sum/n)``), so every iteration is bit-reproducible in
any engine — the DuckDB oracle unrolls the same update steps as chained
CTEs and hash-matches exactly. Floating-point k-means can never do
this: reducer-order-dependent sums diverge across engines.

Overflow envelope: |x| < 2 ⇒ |q_i| < 2·10^6 ⇒ element diff² < 1.6·10^13
⇒ 64-dim distance < 1.1·10^15 ≪ 2^63. Coordinate sums: |Σ q_i| ≤
n·2·10^6 — safe for n up to ~4.6·10^12 rows per cluster.

100 TB posture:
- **Assignment never shuffles the point table.** Centroids fold into a
  single broadcast array-of-structs row; per-point argmin is one
  codegen expression — ``array_min(transform(carr, ctr -> (dist,
  cid)))`` — evaluated in the scan stage (struct ordering gives the
  deterministic lowest-cid tie-break for free).
- The only per-iteration shuffle is the centroid update: posexplode →
  groupBy(cid, pos) with map-side partial sums — k·dim ≤ a few hundred
  groups regardless of table size.
- Centroids are ``localCheckpoint``-ed each round (k rows — trivial),
  truncating lineage exactly like ``operators/graph.pagerank``; without
  it the plan tree doubles per iteration.
- k-means|| seeding and early termination on centroid movement are the
  production upgrades; fixed iterations + lowest-id seeding are chosen
  here for cross-engine reproducibility, not cost.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


from jhu_data_parser_spark.session import local_frame
__all__ = [
    "KM_SCALE",
    "quantize_vectors",
    "kmeans_assign",
    "kmeans_fit",
    "kmeans_fit_multi",
]

KM_SCALE = 1_000_000  # fixed point: 1.0 == 10^6

# argmin over the broadcast centroid array — evaluated per point inside
# whole-stage codegen, no shuffle, no UDF. array_min on struct(d, cid)
# is lexicographic: smallest distance, ties to the lowest centroid id.
_ARGMIN_EXPR = """
array_min(transform(carr, ctr -> named_struct(
  'd', aggregate(zip_with(q, ctr.c, (a, b) -> (a - b) * (a - b)),
                 CAST(0 AS BIGINT), (s, x) -> s + x),
  'cid', ctr.cid)))
"""


def quantize_vectors(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = KM_SCALE,
) -> DataFrame:
    """``(id, q: array<bigint>)`` with ``q_i = round(double(x_i)·scale)``.

    Round-half-away-from-zero is identical in Spark (HALF_UP) and DuckDB,
    so quantized vectors are bit-portable (same discipline as
    ``similarity.quantize_int8``).
    """
    return df.select(
        F.col(id_col).alias("id"),
        F.expr(
            f"transform({vec_col}, x -> "
            f"CAST(ROUND(CAST(x AS DOUBLE) * {scale}, 0) AS BIGINT))"
        ).alias("q"),
    )


def _centroid_array(centroids: DataFrame) -> DataFrame:
    """Fold the (cid, c) table into ONE row holding a cid-sorted
    array<struct<cid,c>> — the broadcastable unit the assignment
    expression iterates."""
    return centroids.agg(
        F.array_sort(F.collect_list(F.struct("cid", "c"))).alias("carr")
    )


def _assign(points: DataFrame, centroids: DataFrame) -> DataFrame:
    """``(id, q, cid, d)`` — nearest centroid per point, shuffle-free."""
    return (
        points.crossJoin(F.broadcast(_centroid_array(centroids)))
        .withColumn("m", F.expr(_ARGMIN_EXPR))
        .select("id", "q", F.col("m.cid").alias("cid"), F.col("m.d").alias("d"))
    )


def _update(assigned: DataFrame, prev: DataFrame) -> DataFrame:
    """New centroids = floor element-wise mean of member vectors;
    clusters that lost every member keep their previous centroid."""
    sums = (
        assigned.select("cid", F.posexplode("q").alias("pos", "val"))
        .groupBy("cid", "pos")
        .agg(F.sum("val").alias("s"), F.count(F.lit(1)).alias("n"))
        # Exact integer floor division (DIV truncates toward zero, so
        # negative sums need the ceil-of-negation form): the double
        # round-trip would lose exactness once |s| exceeds 2^53 —
        # reachable at ~4.5e9 rows per cluster at this quantization.
        .withColumn(
            "e", F.expr("IF(s >= 0, s DIV n, -((-s + n - 1) DIV n))")
        )
    )
    new = sums.groupBy("cid").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "e"))), lambda x: x["e"]
        ).alias("c")
    )
    return (
        prev.alias("p")
        .join(new.alias("u"), "cid", "left")
        .select("cid", F.coalesce("u.c", "p.c").alias("c"))
    )


# Point-count bound below which Lloyd's iterations run on the driver
# over the collected (id, q) table instead of as Spark job chains.
# Each distributed iteration pays a broadcast build + checkpoint of a
# k-row centroid table plus an update shuffle — pure scheduler latency
# when the point set is an index-build sample (the PQ/IVF lifecycle
# caps fits at ~10k rows by construction; whole-corpus fits cross the
# bound and take the distributed loop). The local path is bit-identical:
# same lowest-id seeding, same (d, cid) argmin tie-break (np.argmin
# returns the first minimum = lowest cid), same exact-int64 floor-mean
# (numpy // IS floor division for both signs, matching the DIV-based
# two-branch form), empty clusters keep their previous centroid.
LOCAL_KMEANS_POINT_BOUND = 100_000


def _lloyd_local(ids, X, k: int, iterations: int):
    """Exact integer Lloyd over collected points (sorted by id) →
    (centroids (k, dim) int64, assignment cids, dist_sq) for the LAST
    round's centroids — the same contract as the distributed loop."""
    import numpy as np

    order = np.argsort(ids, kind="stable")
    ids, X = ids[order], X[order]
    C = X[: min(k, len(X))].copy()
    a = np.zeros(len(X), dtype=np.int64)
    best = np.zeros(len(X), dtype=np.int64)
    for step in range(iterations):
        d = (
            (X * X).sum(axis=1)[:, None]
            + (C * C).sum(axis=1)[None, :]
            - 2 * (X @ C.T)
        )
        a = d.argmin(axis=1)
        best = d[np.arange(len(a)), a]
        if step < iterations - 1:
            newC = C.copy()
            for cid in range(len(C)):
                m = a == cid
                if m.any():
                    s = X[m].sum(axis=0, dtype=np.int64)
                    newC[cid] = s // int(m.sum())
            C = newC
    return ids, C, a, best


def kmeans_fit(
    points: DataFrame,
    k: int = 10,
    iterations: int = 3,
    local_bound: int = LOCAL_KMEANS_POINT_BOUND,
    collapse_duplicates: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Fixed-iteration Lloyd's k-means → ``(assignment, centroids)``
    where assignment is ``(id, cluster, dist_sq)`` and centroids is the
    ``(cid, c)`` table the final assignment was scored against (what an
    IVF index probes at query time).

    Seeding: the k lowest-id points (deterministic, oracle-replayable).
    Each round assigns every point to its nearest centroid (integer
    squared L2, lowest-cid tie-break) and recomputes centroids as the
    floor element-wise mean. The returned frame is the LAST round's
    assignment — i.e. distances against the round-``iterations-1``
    centroids, exactly what the unrolled oracle reproduces.

    Adaptive: point sets under ``local_bound`` rows (a limit-probe)
    collect once and run the identical Lloyd loop on the driver —
    index-build samples are bounded by construction, and each
    distributed iteration costs fixed scheduler latency. Bit-identical
    either way; ``local_bound=0`` forces the distributed loop.
    """
    import numpy as np

    def _collapse_fit():
        # Dup-dense corpora (opt-in): every Lloyd quantity factorizes
        # over identical vectors — the assignment argmin is a function
        # of q alone, and the floor-mean update's integer sums satisfy
        # Σ_copies q = multiplicity·q — so the fit runs over DISTINCT
        # vectors with multiplicities, bit-identical to the plain loop
        # (pinned by the duplicate-equivalence test). Seeds must still
        # be the k lowest-id ORIGINAL points (copies may repeat a
        # vector among the k lowest ids), collected separately.
        dprobe = (
            points.groupBy("q")
            .agg(F.count(F.lit(1)).alias("w"))
            .limit(local_bound + 1)
            .toPandas()
        )
        if len(dprobe) <= local_bound:
            spark = points.sparkSession
            if len(dprobe) == 0:
                empty_a = local_frame(
                    spark, [], "id long, cluster long, dist_sq long"
                )
                empty_c = local_frame(spark, [], "cid long, c array<bigint>")
                return empty_a, empty_c
            seeds = points.orderBy("id").limit(k).select("q").toPandas()
            S = np.array(
                [np.asarray(q, dtype=np.int64) for q in seeds["q"]],
                dtype=np.int64,
            ).reshape(len(seeds), -1)
            X = np.array(
                [np.asarray(q, dtype=np.int64) for q in dprobe["q"]],
                dtype=np.int64,
            ).reshape(len(dprobe), -1)
            Wt = dprobe["w"].to_numpy().astype(np.int64)
            C = S.copy()
            for step in range(iterations):
                d = (
                    (X * X).sum(axis=1)[:, None]
                    + (C * C).sum(axis=1)[None, :]
                    - 2 * (X @ C.T)
                )
                a = d.argmin(axis=1)
                if step < iterations - 1:
                    newC = C.copy()
                    for cid in range(len(C)):
                        m = a == cid
                        if m.any():
                            wsum = int(Wt[m].sum())
                            svec = (X[m] * Wt[m][:, None]).sum(
                                axis=0, dtype=np.int64
                            )
                            newC[cid] = svec // wsum
                    C = newC
            cents = local_frame(
                spark,
                [(int(cid), [int(v) for v in c]) for cid, c in enumerate(C)],
                "cid long, c array<bigint>",
            )
            out = _assign(points, cents).select(
                "id",
                F.col("cid").alias("cluster"),
                F.col("d").alias("dist_sq"),
            )
            return out, cents
        return None

    if local_bound:
        probe = points.select("id", "q").limit(local_bound + 1).toPandas()
        if len(probe) > local_bound and collapse_duplicates:
            # The point count overflows the local bound — before paying
            # the distributed loop, try the DISTINCT-vector count (the
            # dup-dense case this flag exists for). Probing only on
            # overflow keeps low-duplication corpora on the plain local
            # path with zero extra jobs.
            collapsed = _collapse_fit()
            if collapsed is not None:
                return collapsed
        if len(probe) <= local_bound:
            spark = points.sparkSession
            if len(probe) == 0:
                empty_a = local_frame(
                    spark, [], "id long, cluster long, dist_sq long"
                )
                empty_c = local_frame(spark, [], "cid long, c array<bigint>")
                return empty_a, empty_c
            ids = probe["id"].to_numpy()
            X = np.array(
                [np.asarray(q, dtype=np.int64) for q in probe["q"]],
                dtype=np.int64,
            ).reshape(len(probe), -1)
            _ids, C, _a, _best = _lloyd_local(ids, X, k, iterations)
            cents = local_frame(
                spark,
                [(int(cid), [int(v) for v in c]) for cid, c in enumerate(C)],
                "cid long, c array<bigint>",
            )
            # Only the FIT runs on the driver (that is where the
            # iteration-chain latency was); the returned assignment is
            # the DISTRIBUTED codegen argmin against the broadcast
            # locally-fit centroids — the production plan shape at any
            # point count, lazy (fit-only callers never evaluate it),
            # and bit-identical to the local argmin (pinned by the
            # local==distributed equivalence test).
            out = _assign(points, cents).select(
                "id",
                F.col("cid").alias("cluster"),
                F.col("d").alias("dist_sq"),
            )
            return out, cents
    w = Window.orderBy("id")
    centroids = (
        points.orderBy("id")
        .limit(k)
        .select(
            (F.row_number().over(w) - 1).cast("long").alias("cid"),
            F.col("q").alias("c"),
        )
        .localCheckpoint(eager=False)
    )
    assigned = None
    for step in range(iterations):
        assigned = _assign(points, centroids)
        if step < iterations - 1:
            # k-row table: checkpoint truncates the doubling plan tree.
            centroids = _update(assigned, centroids).localCheckpoint(eager=False)
    out = assigned.select(
        "id",
        F.col("cid").alias("cluster"),
        F.col("d").alias("dist_sq"),
    )
    return out, centroids


def kmeans_assign(
    points: DataFrame,
    k: int = 10,
    iterations: int = 3,
    collapse_duplicates: bool = False,
) -> DataFrame:
    """Assignment half of :func:`kmeans_fit` (see there for semantics)."""
    return kmeans_fit(
        points, k, iterations, collapse_duplicates=collapse_duplicates
    )[0]


def kmeans_fit_multi(
    points: DataFrame,
    k: int = 10,
    iterations: int = 3,
    group_col: str = "g",
    local_bound: int = LOCAL_KMEANS_POINT_BOUND,
    collapse_duplicates: bool = False,
) -> DataFrame:
    """Fit INDEPENDENT k-means instances for several point groups in ONE
    chain of Spark jobs: ``points`` is ``(g, id, q)`` and the result is
    the ``(g, cid, c)`` centroid table, bit-identical per group to
    :func:`kmeans_fit` run on that group's points alone (same lowest-id
    seeding, same argmin tie-break, same floor-mean update).

    This exists for the PQ codebook build: M subspace fits are M
    independent chains of tiny jobs (k-row centroid tables), and even
    submitted from M driver threads the wall-clock is dominated by
    ~M·iterations·stages of scheduler latency, not data work. Grouping
    turns each iteration into exactly ONE assignment projection (the
    per-group centroid arrays fold into an M-row broadcast dim) plus
    ONE update shuffle on (g, cid, pos) — the stage count drops M-fold
    and is independent of M at scale.

    Adaptive like :func:`kmeans_fit`: under ``local_bound`` total rows
    the groups collect once and fit locally — bit-identical per group
    (``local_bound=0`` forces the distributed chain).

    ``collapse_duplicates`` (opt-in, mirrors :func:`kmeans_fit`): when
    the plain bound overflows, re-probe the per-group DISTINCT-vector
    count — every Lloyd quantity factorizes over identical vectors
    (argmin is a function of q; the floor-mean's integer sums satisfy
    Σ_copies q = multiplicity·q), so dup-dense groups fit over distinct
    vectors with multiplicities, bit-identical (pinned by the
    multi-collapse equivalence test). Seeds stay the k lowest-id
    ORIGINAL points per group (copies may repeat a vector among them),
    collected separately."""
    import numpy as np

    if local_bound:
        probe = (
            points.select(group_col, "id", "q").limit(local_bound + 1).toPandas()
        )
        if len(probe) > local_bound and collapse_duplicates:
            dprobe = (
                points.groupBy(group_col, "q")
                .agg(F.count(F.lit(1)).alias("w"))
                .limit(local_bound + 1)
                .toPandas()
            )
            if len(dprobe) <= local_bound and len(dprobe) > 0:
                spark = points.sparkSession
                wnd = Window.partitionBy(group_col).orderBy("id")
                seeds = (
                    points.withColumn("rn", F.row_number().over(wnd))
                    .filter(F.col("rn") <= k)
                    .select(group_col, "rn", "q")
                    .toPandas()
                )
                rows = []
                for g in sorted(dprobe[group_col].unique().tolist()):
                    sg = seeds[seeds[group_col] == g].sort_values("rn")
                    C = np.array(
                        [np.asarray(q, dtype=np.int64) for q in sg["q"]],
                        dtype=np.int64,
                    ).reshape(len(sg), -1)
                    sub = dprobe[dprobe[group_col] == g]
                    X = np.array(
                        [np.asarray(q, dtype=np.int64) for q in sub["q"]],
                        dtype=np.int64,
                    ).reshape(len(sub), -1)
                    Wt = sub["w"].to_numpy().astype(np.int64)
                    for step in range(iterations):
                        d = (
                            (X * X).sum(axis=1)[:, None]
                            + (C * C).sum(axis=1)[None, :]
                            - 2 * (X @ C.T)
                        )
                        a = d.argmin(axis=1)
                        if step < iterations - 1:
                            newC = C.copy()
                            for cid in range(len(C)):
                                mm = a == cid
                                if mm.any():
                                    wsum = int(Wt[mm].sum())
                                    svec = (X[mm] * Wt[mm][:, None]).sum(
                                        axis=0, dtype=np.int64
                                    )
                                    newC[cid] = svec // wsum
                            C = newC
                    rows.extend(
                        (int(g), int(cid), [int(v) for v in c])
                        for cid, c in enumerate(C)
                    )
                return local_frame(
                    spark, rows, f"{group_col} int, cid long, c array<bigint>"
                )
        if len(probe) <= local_bound and len(probe) > 0:
            spark = points.sparkSession
            rows = []
            for g in sorted(probe[group_col].unique().tolist()):
                sub = probe[probe[group_col] == g]
                ids = sub["id"].to_numpy()
                X = np.array(
                    [np.asarray(q, dtype=np.int64) for q in sub["q"]],
                    dtype=np.int64,
                ).reshape(len(sub), -1)
                _ids, C, _a, _best = _lloyd_local(ids, X, k, iterations)
                rows.extend(
                    (int(g), int(cid), [int(v) for v in c])
                    for cid, c in enumerate(C)
                )
            return local_frame(
                spark, rows, f"{group_col} int, cid long, c array<bigint>"
            )
    w = Window.partitionBy(group_col).orderBy("id")
    centroids = (
        points.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select(
            F.col(group_col),
            (F.col("rn") - 1).cast("long").alias("cid"),
            F.col("q").alias("c"),
        )
        .localCheckpoint(eager=False)
    )

    def carr(cent: DataFrame) -> DataFrame:
        return cent.groupBy(group_col).agg(
            F.array_sort(F.collect_list(F.struct("cid", "c"))).alias("carr")
        )

    for step in range(iterations - 1):
        assigned = (
            points.join(F.broadcast(carr(centroids)), group_col)
            .withColumn("m", F.expr(_ARGMIN_EXPR))
            .select(F.col(group_col), "q", F.col("m.cid").alias("cid"))
        )
        sums = (
            assigned.select(group_col, "cid", F.posexplode("q").alias("pos", "val"))
            .groupBy(group_col, "cid", "pos")
            .agg(F.sum("val").alias("s"), F.count(F.lit(1)).alias("n"))
            .withColumn(
                "e", F.expr("IF(s >= 0, s DIV n, -((-s + n - 1) DIV n))")
            )
        )
        new = sums.groupBy(group_col, "cid").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "e"))), lambda x: x["e"]
            ).alias("c")
        )
        centroids = (
            centroids.alias("p")
            .join(new.alias("u"), [group_col, "cid"], "left")
            .select(
                F.col(group_col),
                F.col("cid"),
                F.coalesce("u.c", "p.c").alias("c"),
            )
            .localCheckpoint(eager=False)
        )
    return centroids
