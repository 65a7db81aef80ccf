"""Deduplication operators (SURVEY.md §2.12): exact, MinHash+LSH near-dup,
SimHash, n-gram Jaccard.

Scale design:

- Exact dedup groups on a 128-bit fingerprint, never the raw text — the
  shuffle moves 16-byte keys, not documents.
- MinHash+LSH is the classic shingle → K minhashes → B bands → bucket
  join pipeline: candidate generation is an equi-join on (band, band
  hash), so total work is linear in documents + candidate pairs; no
  all-pairs comparison ever happens. All hashing uses xxhash64 with
  integer salts — deterministic across runs, JVM-side, no UDFs.
- SimHash packs a 64-bit signature per doc via higher-order array folds.
"""

from __future__ import annotations

import functools

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from jhu_data_parser_spark import cache
from jhu_data_parser_spark.operators.text import fingerprint
from jhu_data_parser_spark.session import local_frame

__all__ = [
    "ensure_parallelism",
    "exact_dedup",
    "exact_dedup_groups",
    "connected_components",
    "connected_components_contraction",
    "minhash_signature_fast",
    "minhash_candidates",
    "exact_collapse",
    "expand_collapsed_pairs",
    "check_pair_budget",
    "near_dup_pairs_minhash",
    "simhash_bits",
    "simhash_hex",
    "hamming_distance",
    "banded_hamming_pairs",
    "jaccard_tokens",
    "jaccard_prefix_pairs",
    "jaccard_groups",
    "shared_span_pairs",
    "shared_span_groups",
    "minhash_signature_portable",
]


def ensure_parallelism(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Repartition iff the input's file layout under-splits vs cores.

    CPU-heavy per-row operators (signatures, hashing) otherwise run at
    the parallelism of the *file layout* — a single small parquet file
    means a single task regardless of cluster size. At scale inputs have
    ≥ cores files and this is a no-op; the guard only pays one
    round-robin shuffle when the layout under-splits.

    The probe is ``inputFiles()`` (a listing, ~ms) rather than
    ``rdd.getNumPartitions()`` (a full plan→RDD conversion, ~300ms per
    call — measured to dominate fresh-plan latency for the MinHash
    pipeline, which builds this twice per query). Non-file-backed frames
    (in-memory test data) report zero files and fall back to the RDD
    probe.
    """
    if min_partitions is None:
        min_partitions = df.sparkSession.sparkContext.defaultParallelism
    n_files = len(df.inputFiles())
    n = n_files if n_files > 0 else df.rdd.getNumPartitions()
    if n < min_partitions:
        return df.repartition(min_partitions)
    return df


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep one row per distinct (normalized) text — the lowest id wins,
    making the survivor deterministic under any partitioning."""
    fp = fingerprint(text_col).alias("__fp")
    w = df.select("*", fp)
    keeper = w.groupBy("__fp").agg(F.min(id_col).alias(id_col))
    return w.join(keeper, [id_col, "__fp"], "left_semi").drop("__fp")


def exact_dedup_groups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Duplicate-group report: fingerprint → (keeper id, group size)."""
    return (
        df.select(fingerprint(text_col).alias("fp"), F.col(id_col))
        .groupBy("fp")
        .agg(F.min(id_col).alias("keeper_id"), F.count(F.lit(1)).alias("n_copies"))
    )


def minhash_signature_fast(
    text_col: str, num_hashes: int = 64, shingle_k: int = 3
) -> Column:
    """Arrow-vectorized MinHash signature (pandas UDF + numpy).

    One 64-bit hash per k-token shingle, K splitmix64 mixes,
    column-wise min — computed in numpy, with two measured hot-loop
    savings over the naive form:

    - shingle hashes come from ONE crc32 per token (zlib, C speed)
      combined positionally in numpy — no k-token shingle strings are
      ever materialized and no cryptographic hash runs (~3.5× per doc
      vs blake2b-over-joined-shingles; MinHash needs uniformity, not
      cryptographic strength);
    - the (shingles × K) mix matrix is one vectorized splitmix64 pass
      instead of K interpreted higher-order evaluations per row.

    Higher-order array functions are not whole-stage-codegen'd in Spark,
    so this is the scale path; deterministic (crc32 + fixed odd
    constants), executor-parallel, Arrow batch transfer.
    """
    return _minhash_udf(num_hashes, shingle_k)(F.col(text_col))


@functools.lru_cache(maxsize=8)
def _minhash_udf(num_hashes: int, shingle_k: int):
    """Build (once per config) the Arrow-vectorized signature UDF.

    Cached because pandas_udf construction is a measured ~0.1s of
    driver-side work per call — and the query catalog builds fresh plans
    per invocation."""
    import zlib

    salts = (
        np.arange(1, num_hashes + 1, dtype=np.uint64)
        * np.uint64(0x9E3779B97F4A7C15)
    )
    # One odd multiplier per shingle position — makes the combined hash
    # order-sensitive (an ordered k-tuple hash, like hashing the joined
    # shingle string).
    pos_mix = (
        np.arange(1, shingle_k + 1, dtype=np.uint64) * np.uint64(0xBF58476D1CE4E5B9)
    ) | np.uint64(1)

    def _splitmix64(z: "np.ndarray") -> "np.ndarray":
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return z ^ (z >> np.uint64(31))

    @pandas_udf("array<long>")
    def _sig(texts: pd.Series) -> pd.Series:
        out = []
        with np.errstate(over="ignore"):
            for t in texts:
                toks = (t or "").lower().split()
                if toks:
                    th = np.fromiter(
                        (zlib.crc32(x.encode()) for x in toks),
                        dtype=np.uint64,
                        count=len(toks),
                    )
                else:
                    th = np.zeros(1, dtype=np.uint64)
                n = len(th)
                if n >= shingle_k:
                    m = n - shingle_k + 1
                    h = th[:m] * pos_mix[0]
                    for j in range(1, shingle_k):
                        h = h ^ (th[j : m + j] * pos_mix[j])
                else:
                    h = np.array(
                        [np.bitwise_xor.reduce(th * pos_mix[:n])], dtype=np.uint64
                    )
                mixed = _splitmix64(h[:, None] ^ salts[None, :])
                out.append(mixed.min(axis=0).astype(np.int64))
        return pd.Series(out)

    return _sig


def minhash_candidates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
    spread: bool = True,
) -> DataFrame:
    """LSH candidate pairs: equal band-hash in any band, each pair
    emitted exactly once (from its first colliding band — no terminal
    distinct pass).

    Pipeline: signature (in-row) → explode to B rows/doc → SELF-JOIN of
    the checkpointed banded table on (band, band_hash). The checkpoint
    makes the signature pipeline run once (not once per join branch);
    the equi-join buffers ONE bucket's narrow rows per key (sort-merge)
    and streams the quadratic pair output, so degenerate buckets
    (boilerplate / exact-duplicate clusters at 100 TB) cannot OOM the
    expansion — the previous collect_list + chained-generator form
    copied whole-bucket arrays per anchor row and fell over on the 10×
    replicated layout, where every doc has ten identical twins. AQE
    skew-join splitting applies to pathological buckets for free.
    Recall is 100% at any bucket density by construction.

    Exactly-once: each banded row carries the hashes of its EARLIER
    bands (avg B/2 longs); a pair is emitted only from the first band
    where the two docs collide, tested with UNROLLED literal
    ``element_at`` comparisons (codegen — no per-pair interpreted HOF,
    the round-4 lesson). "Earlier band equal" uses the same xxhash64
    values as bucketing, so emitted-exactly-once is exact w.r.t. bucket
    membership and no ``distinct()`` exchange over pair ids exists.
    """
    rows_per_band = num_hashes // bands
    sig = minhash_signature_fast(text_col, num_hashes, shingle_k)
    # spread=False: callers whose input is ALREADY cores-spread (the
    # exact_collapse output) opt out — the probe here would otherwise
    # stack a second round-robin exchange on top of the first
    spread_df = ensure_parallelism(df) if spread else df
    with_sig = spread_df.select(F.col(id_col), sig.alias("sig"))
    bhs = F.expr(
        f"transform(sequence(0, {bands - 1}), b -> "
        f"xxhash64(slice(sig, b * {rows_per_band} + 1, {rows_per_band})))"
    )
    banded = (
        with_sig.select(F.col(id_col).alias("id"), bhs.alias("bhs"))
        .select("id", "bhs", F.posexplode("bhs").alias("band", "band_hash"))
        .select("id", "band", "band_hash", F.expr("slice(bhs, 1, band)").alias("prev"))
        .localCheckpoint(eager=False)
    )
    a = banded.alias("a")
    b = banded.alias("b")
    no_earlier = F.lit(True)
    for v in range(1, bands):
        differs_all = F.lit(True)
        for j in range(v):
            differs_all = differs_all & (
                F.expr(f"element_at(a.prev, {j + 1}) != element_at(b.prev, {j + 1})")
            )
        no_earlier = F.when(F.col("a.band") == v, differs_all).otherwise(no_earlier)
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .filter(no_earlier)
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
    )


def jaccard_tokens(a: Column, b: Column) -> Column:
    """Token-set Jaccard similarity of two token arrays (native set ops)."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(F.array_union(a, b))
    return F.when(union > 0, inter.cast("double") / union).otherwise(F.lit(0.0))


# Rep-analysis artifacts: the Jaccard and span family cores are shared
# by their pairs/groups/survivors/coverage heads, and every head used to
# re-run the whole multi-shuffle chain. The verified rep-level pair set
# is an INDEX-like artifact (tiny — pairs of distinct-text reps), so it
# is lazily checkpointed and kept as a ``rep_analysis`` kind of
# jhu_data_parser_spark.cache, like the PQ codebook.


def _jaccard_rep_analysis(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    shingle_k: int = 3,
):
    """Shared core of the exact-Jaccard family: exact collapse +
    AllPairs prefix filtering + exact verify at the REPRESENTATIVE
    level. Returns ``(rep_pairs, members)``; ``members`` is None when
    the adaptive collapse found no duplicates (then ``rep_pairs`` IS
    the final pair set). See :func:`jaccard_prefix_pairs` for the
    algorithm story. A ``rep_analysis`` artifact of
    :mod:`jhu_data_parser_spark.cache`: groups/survivors/pairs heads
    share one run of the chain per corpus."""
    params = (id_col, text_col, threshold, shingle_k)
    return cache.get_or_build(
        "rep_analysis", df, ("jac",) + params, lambda: _jaccard_rep_build(df, *params)
    )


def _jaccard_rep_build(df, id_col, text_col, threshold, shingle_k):
    """:func:`_jaccard_rep_analysis`'s build."""
    reps, members = exact_collapse(df, id_col, text_col)
    t = reps.select(
        F.col(id_col), F.split(F.lower(F.col(text_col)), " ").alias("toks")
    )
    sh_expr = F.expr(
        f"array_distinct(CASE WHEN size(toks) >= {shingle_k} THEN "
        f"transform(sequence(1, size(toks) - {shingle_k - 1}), "
        f"i -> xxhash64(concat_ws(' ', slice(toks, i, {shingle_k})))) "
        "ELSE array(xxhash64(concat_ws(' ', toks))) END)"
    )
    # Four consumers re-derive the shingle-set build otherwise (freq,
    # the df-order join probe, and both verify sides) — checkpoint the
    # per-doc shingle table once (measured 11 s → ~4 s at sf0.1).
    s = t.select(F.col(id_col), sh_expr.alias("sh")).localCheckpoint(eager=False)
    e = s.select(F.col(id_col), F.explode("sh").alias("shingle"))
    # Document frequency via an unordered window over the shingle key:
    # ONE exchange of the exploded table yields (id, shingle, df) rows
    # directly — the old groupBy(shingle).count + join(freq) shape paid
    # a second wide exchange of `e` plus a join stage for the same
    # result (measured ~8.3 s → ~5 s at sf0.1; the skew bound is
    # unchanged, a shingle's partition width is its df either way).
    from pyspark.sql import Window

    wdf = F.count(F.lit(1)).over(Window.partitionBy("shingle"))
    ordered = (
        e.withColumn("df", wdf)
        .groupBy(id_col)
        .agg(F.array_sort(F.collect_list(F.struct("df", "shingle"))).alias("os"))
    )
    pre = ordered.select(
        F.col(id_col),
        F.size("os").alias("n"),
        F.expr(
            f"transform(slice(os, 1, size(os) - CAST(ceil({threshold} * size(os)) AS INT) + 1), "
            "x -> x.shingle)"
        ).alias("prefix"),
    )
    pe = pre.select(
        F.col(id_col), "n", F.posexplode("prefix").alias("pos", "shingle")
    )
    # Bucket-group instead of self-join: a self-join on the shingle key
    # would recompute the whole freq+order+prefix pipeline on BOTH
    # sides (two corpus passes); grouping computes it once and pays one
    # shuffle on the shingle. In-bucket i<j expansion via the same
    # chained-generator shape as minhash_candidates — O(bucket) task
    # memory, and bucket size is bounded by construction (a shingle's
    # bucket counts only docs holding it in their PREFIX, and high-df
    # shingles are excluded from prefixes by the df-ascending order).
    grouped = (
        pe.groupBy("shingle")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(F.col(id_col).alias("id"), F.col("n"), F.col("pos"))
                )
            ).alias("ms")
        )
        .filter(F.size("ms") >= 2)
    )
    anchors = grouped.select("ms", F.posexplode("ms").alias("i", "a"))
    # Two prunes per in-bucket pair (Bayardo/PPJoin):
    # 1. length filter: τ·max(|a|,|b|) ≤ min(|a|,|b|);
    # 2. POSITIONAL filter: a pair with J ≥ τ needs overlap α =
    #    ceil(τ/(1+τ)·(n_a+n_b)), and a shingle at 0-based df-order
    #    position p leaves at most n − p later shingles to match, so
    #    min(n_a − p_a, n_b − p_b) ≥ α must hold for SOME shared prefix
    #    shingle (loosest at the rarest one — recall preserved). On this
    #    corpus the positional prune cuts candidates ~17× (309,803 →
    #    under 20k), which is most of the query's wall-clock.
    alpha = f"CAST(ceil({threshold} / (1.0 + {threshold}) * (s.n_a + s.n_b)) AS INT)"
    cand = (
        anchors.select(
            F.explode(
                F.expr(
                    "filter(transform(slice(ms, i + 2, size(ms)), b -> "
                    "struct(a.id AS id_a, b.id AS id_b, a.n AS n_a, b.n AS n_b, "
                    "a.pos AS p_a, b.pos AS p_b)), "
                    f"s -> s.n_a * {threshold} <= s.n_b "
                    f"AND s.n_b * {threshold} <= s.n_a "
                    f"AND least(s.n_a - s.p_a, s.n_b - s.p_b) >= {alpha})"
                )
            ).alias("p")
        )
        .select("p.id_a", "p.id_b")
        .distinct()
    )
    full_a = s.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a"))
    full_b = s.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b"))
    jac = F.expr(
        "CAST(size(array_intersect(sh_a, sh_b)) AS DOUBLE) / size(array_union(sh_a, sh_b))"
    )
    rep_pairs = (
        cand.join(full_a, "id_a")
        .join(full_b, "id_b")
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return rep_pairs.localCheckpoint(eager=False), members


def jaccard_prefix_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    shingle_k: int = 3,
    max_intra_pairs: "int | None" = None,
) -> DataFrame:
    """Exact shingle-Jaccard >= threshold pairs via AllPairs prefix
    filtering (Bayardo et al., WWW'07) — the DETERMINISTIC member of the
    near-dup family: 100% recall by construction, no banding
    probability, no sketch.

    Order each doc's distinct k-token shingle set by ascending global
    document frequency (rarest first; shingle string tie-break — a
    canonical total order), index only the first
    ``|s| - ceil(tau*|s|) + 1`` shingles, and self-join on those prefix
    shingles: the AllPairs lemma guarantees any pair with J >= tau
    shares at least one prefix shingle. A length filter
    (``tau * max(|a|,|b|) <= min(|a|,|b|)``) prunes before the exact
    array_intersect/array_union verify.

    Scale shape: shuffles on the shingle key are skew-bounded — a
    shingle's fan-out is its df, and high-df (boilerplate) shingles are
    exactly the ones the df-ascending prefix EXCLUDES from the index.
    The verify joins ship candidate ids + shingle sets only. vs
    MinHash-LSH (:func:`near_dup_pairs_minhash`): ~2 extra shuffles,
    zero recall loss.

    Shingles are carried as xxhash64 LONGS from the build onward: set
    Jaccard is invariant under an injective relabeling, and a 64-bit
    collision anywhere in the corpus (~n²/2⁶⁵, ≈1e-8 at 10⁵ distinct
    shingles) is the only way a hashed count can differ from the string
    count — the quadratic string-set oracle in plans/llm.py re-proves
    this on every driver run. The long representation shrinks every
    downstream shuffle/sort ~4× and turns the verify intersect into
    long-array ops (measured 8.3 s → ~4 s at sf0.1 with the window-df
    rework).

    Like the MinHash path, the pipeline runs AFTER an exact-duplicate
    collapse (:func:`exact_collapse`): freq/order/prefix/verify see one
    representative per distinct text, intra-group pairs emit directly
    at jaccard 1.0 (identical sets), and cross-group representative
    pairs expand through membership joins. The AllPairs lemma holds
    under any global shingle order, so the verified pair set — which
    the quadratic oracle re-proves — is invariant to the collapse.
    Cluster formation should use :func:`jaccard_groups` (linear star
    edges), not CC over this pair LISTING (quadratic in duplicate
    density by definition).
    """
    rep_pairs, members = _jaccard_rep_analysis(
        df, id_col, text_col, threshold, shingle_k
    )
    return expand_collapsed_pairs(
        rep_pairs, members, {"jaccard": 1.0}, max_intra_pairs
    )


def jaccard_groups(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    shingle_k: int = 3,
) -> DataFrame:
    """Duplicate clusters over the exact-Jaccard relation WITHOUT
    materializing the member pair list: identical to connected
    components over ``jaccard_prefix_pairs(...)`` but linear in
    members where the listing is quadratic in duplicate density (the
    span-family 100× lesson, applied to the symmetric-metric case).

    Jaccard is pair-SYMMETRIC, so the sparsification is simpler than
    the span one: a qualifying rep pair (A, B) qualifies EVERY member
    pair of A×B (same token sets), intra pairs of any size-≥2 group
    sit at exactly 1.0 ≥ τ, and rep = min member — so CC over the
    rep-level pair list plus one (rep → member) star per participating
    group (incident to a rep pair, or size ≥ 2) reproduces the
    pair-level components, node set and labels bit-for-bit. The
    quadratic oracle re-proves it on every driver run."""
    rep_pairs, members = _jaccard_rep_analysis(
        df, id_col, text_col, threshold, shingle_k
    )
    base = rep_pairs.select("id_a", "id_b")
    if members is None:
        return connected_components(base)
    incident = (
        base.select(F.col("id_a").alias("rep"))
        .unionByName(base.select(F.col("id_b").alias("rep")))
        .distinct()
    )
    big = (
        members.groupBy("rep")
        .agg(F.count(F.lit(1)).alias("grp_n"))
        .filter(F.col("grp_n") >= 2)
        .select("rep")
    )
    part = incident.unionByName(big).distinct()
    stars = (
        members.join(part, "rep", "left_semi")
        .select(F.col("rep").alias("id_a"), F.col("member").alias("id_b"))
        .filter(F.col("id_a") != F.col("id_b"))
    )
    return connected_components(base.unionByName(stars))


def minhash_signature_portable(
    t: DataFrame,
    id_col: str = "doc_id",
    toks_col: str = "toks",
    spread: bool = True,
) -> DataFrame:
    """``(id_col, mh: array<string>)`` — the ENGINE-PORTABLE 16-hash
    MinHash signature (md5-hex-prefix permutation hashes, lexicographic
    string minima — byte-identical in any engine with md5; the
    production path uses xxhash64, ~an order of magnitude cheaper).

    Implementation note (measured 4× at sf0.1): the per-permutation min
    is computed as explode → ``groupBy(id).agg(min(substring(h, ...)))``
    — 16 codegen'd min aggregates with map-side partial combine — NOT as
    ``transform(sequence(0,15), j -> array_min(transform(hs, ...)))``.
    Higher-order functions are interpreted per element (no whole-stage
    codegen), so the HOF formulation pays ~16·n_shingles lambda
    dispatches per document; the aggregate formulation keeps the whole
    pass inside codegen and the exchange carries one 16×8-char partial
    row per document per partition.
    """
    sh = F.expr(
        f"CASE WHEN size({toks_col}) >= 3 THEN "
        f"transform(sequence(1, size({toks_col}) - 2), "
        f"i -> concat_ws(' ', slice({toks_col}, i, 3))) "
        f"ELSE array(concat_ws(' ', {toks_col})) END"
    )
    # 16 permutation hashes from FOUR md5 digests per shingle (salts
    # 0-3) concatenated into one 128-hex pre-digest — md5 dominates, so
    # hash once and slice 16 windows out of it.
    hs = F.expr(
        "transform(sh, x -> concat("
        "md5(cast(concat('0:', x) AS binary)), md5(cast(concat('1:', x) AS binary)), "
        "md5(cast(concat('2:', x) AS binary)), md5(cast(concat('3:', x) AS binary))))"
    )
    # The md5 stage runs at the INPUT's parallelism: callers feed either
    # a single-file scan or a post-groupBy collapse whose tiny shuffle
    # AQE coalesces to 1-3 tasks, so the 4-digest-per-shingle hash work
    # ran nearly serially (measured 2.87 s → 0.74 s min-of-3 at sf0.1
    # for the band-sweep signature alone). ensure_parallelism is a no-op
    # once the input has ≥ cores splits — the 100 TB posture is
    # unchanged, only the under-split local layout pays the one narrow
    # (id, toks) shuffle. Min aggregates are placement-independent, so
    # results are bit-identical. ``spread=False`` opts out for callers
    # whose inputs are already small partitions of a split corpus, where
    # the probe + extra exchange measured NET-NEGATIVE
    # (dedup_incremental_vs_index: 1.04 → 1.33 s min-of-5 at sf0.1).
    src = t.select(F.col(id_col), F.col(toks_col))
    if spread:
        src = ensure_parallelism(src)
    e = (
        src.select(F.col(id_col), sh.alias("sh"))
        .select(F.col(id_col), F.explode(hs).alias("h"))
    )
    agg = e.groupBy(id_col).agg(
        *[
            F.min(F.substring("h", j * 8 + 1, 8)).alias(f"m{j}")
            for j in range(16)
        ]
    )
    return agg.select(
        F.col(id_col), F.array(*[f"m{j}" for j in range(16)]).alias("mh")
    )


def banded_minhash_portable(
    t: DataFrame,
    id_col: str = "doc_id",
    n_bands: int = 4,
    spread: bool = True,
) -> DataFrame:
    """``(id_col, band, band_sig)`` — the stored-index layout of the
    portable MinHash: 16-hash signature split into ``n_bands`` bands of
    4, each band digested to one md5 signature. This is the table shape
    an incremental-dedup deployment PERSISTS (probing a new batch is
    then one equi-join on (band, band_sig)); shared by the batch and
    streaming incremental-dedup twins."""
    bs = F.expr(
        f"transform(sequence(0, {n_bands - 1}), b -> "
        "md5(cast(concat_ws('|', slice(mh, b * 4 + 1, 4)) AS binary)))"
    )
    return (
        minhash_signature_portable(t, id_col=id_col, spread=spread)
        .select(F.col(id_col), bs.alias("bs"))
        .select(F.col(id_col), F.posexplode("bs").alias("band", "band_sig"))
    )


# Longest run of CONSECUTIVE integers in a sorted int array, as one
# higher-order fold (no second explode/shuffle). Accumulator:
# (previous element, current run, best run).
_CONSEC_RUN_SQL = (
    "aggregate(slice({arr}, 2, size({arr}) - 1), "
    "named_struct('p', {arr}[0], 'r', 1, 'b', 1), "
    "(a, x) -> named_struct("
    "'p', x, "
    "'r', IF(x = a.p + 1, a.r + 1, 1), "
    "'b', greatest(a.b, IF(x = a.p + 1, a.r + 1, 1))), "
    "a -> a.b)"
)


def _span_rep_analysis(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 4,
):
    """Shared core of the span family: exact collapse, positional
    k-gram bucketing, and the REPRESENTATIVE-level pair aggregation
    carrying BOTH orientations' metrics. Returns ``(rep_pairs,
    members, rep_metrics)``; ``members`` is None when the adaptive
    collapse found no duplicates (then ``rep_pairs`` is the final
    single-orientation pair set and ``rep_metrics`` covers all docs).
    See :func:`shared_span_pairs` for the algorithm story. A
    ``rep_analysis`` artifact like the Jaccard core:
    pairs/groups/survivors/coverage heads share one run per corpus."""
    params = (id_col, text_col, k)
    return cache.get_or_build(
        "rep_analysis", df, ("span",) + params, lambda: _span_rep_build(df, *params)
    )


def _span_rep_build(df, id_col, text_col, k):
    """:func:`_span_rep_analysis`'s build."""
    reps, members = exact_collapse(df, id_col, text_col)
    t = reps.select(
        F.col(id_col), F.split(F.lower(F.col(text_col)), " ").alias("toks")
    )
    grams = t.select(
        F.col(id_col).alias("doc_id"),
        F.expr(
            f"CASE WHEN size(toks) >= {k} THEN "
            f"transform(sequence(1, size(toks) - {k - 1}), "
            f"i -> named_struct('pos', i, 'gh', "
            f"substring(md5(concat_ws(' ', slice(toks, i, {k}))), 1, 16))) "
            "ELSE CAST(array() AS ARRAY<STRUCT<pos: INT, gh: STRING>>) END"
        ).alias("gs"),
    ).select("doc_id", F.explode("gs").alias("g"))
    e = grams.select("doc_id", F.col("g.pos").alias("pos"), F.col("g.gh").alias("gh"))
    # One shuffle on the gram key; structs sort by (doc_id, pos) so each
    # doc's positions sit contiguously and docs ascend.
    grouped = (
        e.groupBy("gh")
        .agg(F.array_sort(F.collect_list(F.struct("doc_id", "pos"))).alias("ms"))
        .withColumn("docs", F.expr("array_distinct(transform(ms, x -> x.doc_id))"))
        .filter(F.size("docs") >= 2)
    )
    # Positions of the anchor doc's gram occurrences, computed ONCE per
    # (bucket, anchor) — O(k) each, O(k²) per bucket total. Both pair
    # orientations then reuse this per-anchor array: metrics are defined
    # as positions in the LOWER-id doc and the group expansion below can
    # flip which group supplies the lower id, so each anchor emits its
    # array to the pairs where it is the lower id (side 0 → psa) AND to
    # the pairs where it is the higher id (side 1 → psb). Filtering the
    # whole member array per PAIR instead would be O(k³) per bucket and
    # was measured as an executor OOM at the 100× layout.
    anchors = (
        grouped.select("ms", "docs", F.posexplode("docs").alias("i", "da"))
        .withColumn(
            "ps", F.expr("transform(filter(ms, e -> e.doc_id = da), e -> e.pos)")
        )
        .drop("ms")
    )
    cand_a = anchors.select(
        F.col("da").alias("id_a"),
        F.explode(F.expr("slice(docs, i + 2, size(docs))")).alias("id_b"),
        F.col("ps"),
        F.lit(0).alias("side"),
    )
    run_a = _CONSEC_RUN_SQL.format(arr="psa")
    rep_metrics = t.select(
        F.col(id_col).alias("mrep"), F.size("toks").alias("ntok")
    ).filter(F.col("ntok") >= k)
    if members is None:
        agg = cand_a.groupBy("id_a", "id_b").agg(
            F.sort_array(F.flatten(F.collect_list("ps"))).alias("psa")
        )
        pairs = agg.select(
            "id_a",
            "id_b",
            F.size("psa").cast("long").alias("n_dup_grams"),
            (F.expr(run_a) + F.lit(k - 1)).cast("long").alias("max_span_tokens"),
        )
        return pairs.localCheckpoint(eager=False), None, rep_metrics
    cand_b = anchors.select(
        F.explode(F.expr("slice(docs, 1, i)")).alias("id_a"),
        F.col("da").alias("id_b"),
        F.col("ps"),
        F.lit(1).alias("side"),
    )
    cand = cand_a.unionByName(cand_b)
    agg = cand.groupBy("id_a", "id_b").agg(
        F.sort_array(
            F.flatten(F.collect_list(F.when(F.col("side") == 0, F.col("ps"))))
        ).alias("psa"),
        F.sort_array(
            F.flatten(F.collect_list(F.when(F.col("side") == 1, F.col("ps"))))
        ).alias("psb"),
    )
    run_b = _CONSEC_RUN_SQL.format(arr="psb")
    rep_pairs = agg.select(
        "id_a",
        "id_b",
        F.size("psa").cast("long").alias("n_dup_grams"),
        (F.expr(run_a) + F.lit(k - 1)).cast("long").alias("max_span_tokens"),
        F.size("psb").cast("long").alias("n_dup_grams_b"),
        (F.expr(run_b) + F.lit(k - 1)).cast("long").alias("max_span_tokens_b"),
    )
    return rep_pairs.localCheckpoint(eager=False), members, rep_metrics


def shared_span_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 4,
    max_intra_pairs: "int | None" = None,
) -> DataFrame:
    """Exact shared-span pairs (Lee et al. 2021 substring dedup,
    re-expressed distributed): for every doc pair sharing at least one
    exact k-token span, report the number of duplicated k-gram
    positions in the lower-id doc and the longest exactly-duplicated
    span length in tokens.

    A shared span of length L >= k is exactly a run of L - k + 1
    consecutive source positions whose k-grams all occur in the
    partner, so: positional k-grams keyed by a 16-hex md5 prefix
    (portable; production swaps in xxhash64 — same plan), ONE shuffle
    on the gram key with chained-generator in-bucket i<j expansion
    (docs ascending, each pair emitted from one bucket per position —
    no distinct), then one pair-key aggregation where a higher-order
    fold over the sorted position array recovers the longest
    consecutive run. Skew = gram document frequency, same bound as the
    prefix-filter pass; at 100 TB add a broadcast stoplist of
    ultra-high-df grams routed through the pair-verify read.

    Runs AFTER an exact-duplicate collapse (:func:`exact_collapse`) —
    without it, k copies of a text put k× members in every gram bucket
    (measured OOM at 100× replication). Intra-group pairs are exact by
    identity: identical docs share every position, so n_dup_grams =
    ntok − k + 1 and the longest span is the whole doc. Cross-group
    pairs inherit the representative pair's metrics for the matching
    ORIENTATION: the metrics count positions in the lower-id doc, and
    expansion can hand the lower id to either group, so both sides'
    position sets are aggregated at the rep level and the expansion
    picks the side whose group supplies the expanded lower id. Groups
    whose text has fewer than k tokens carry no grams and emit no
    intra pairs, matching the uncollapsed semantics.

    NOTE the pair LISTING is quadratic in duplicate density by
    definition (414M rows measured at the 100× layout); cluster
    formation should use :func:`shared_span_groups`, which never
    materializes the member pair list."""
    rep_pairs, members, rep_metrics = _span_rep_analysis(df, id_col, text_col, k)
    if members is None:
        return rep_pairs
    if max_intra_pairs is not None:
        rep_pairs = rep_pairs.localCheckpoint(eager=False)
    check_pair_budget(members, max_intra_pairs, rep_pairs=rep_pairs)
    # Intra-group pairs: identical texts share EVERY position, so the
    # metrics come straight from the representative's token count; a
    # group with < k tokens has no grams and emits nothing.
    spread = members.repartition(
        members.sparkSession.sparkContext.defaultParallelism, "rep"
    )
    intra = (
        spread.alias("x")
        .join(
            spread.alias("y"),
            (F.col("x.rep") == F.col("y.rep"))
            & (F.col("x.member") < F.col("y.member")),
        )
        .join(rep_metrics, F.col("x.rep") == F.col("mrep"))
        .select(
            F.col("x.member").alias("id_a"),
            F.col("y.member").alias("id_b"),
            (F.col("ntok") - F.lit(k - 1)).cast("long").alias("n_dup_grams"),
            F.col("ntok").cast("long").alias("max_span_tokens"),
        )
    )
    ma = members.select(F.col("rep").alias("id_a"), F.col("member").alias("ma"))
    mb = members.select(F.col("rep").alias("id_b"), F.col("member").alias("mb"))
    # Orientation-aware expansion: the metrics are positional counts in
    # the LOWER-id doc, and when a member of the higher-rep group has a
    # smaller id than its partner the roles flip — pick the side whose
    # group supplies the expanded pair's lower id.
    cross = (
        rep_pairs.join(ma, "id_a")
        .join(mb, "id_b")
        .select(
            F.least("ma", "mb").alias("id_a"),
            F.greatest("ma", "mb").alias("id_b"),
            F.when(F.col("ma") < F.col("mb"), F.col("n_dup_grams"))
            .otherwise(F.col("n_dup_grams_b"))
            .alias("n_dup_grams"),
            F.when(F.col("ma") < F.col("mb"), F.col("max_span_tokens"))
            .otherwise(F.col("max_span_tokens_b"))
            .alias("max_span_tokens"),
        )
    )
    return intra.unionByName(cross)


def shared_span_groups(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 4,
    span_min: int = 8,
) -> DataFrame:
    """Duplicate clusters over the shared-span relation (pairs with a
    duplicated span of >= ``span_min`` tokens) WITHOUT materializing
    the member pair list: identical to running connected components on
    ``shared_span_pairs(...).filter(max_span_tokens >= span_min)``,
    but linear in members where the pair listing is quadratic in
    duplicate density (the 100× layout's 414M-row pair list OOM'd CC;
    this path runs the same clustering over ~|members| star edges).

    Construction (exact, not approximate): qualification is evaluated
    at the REPRESENTATIVE level with both orientations' metrics —
    orientation decides which group's text the span metric counts, so
    a rep pair (A, B) contributes member edges iff the a-side metric
    qualifies (some member of A is the lower id — always true, since
    rep(A) < every member of B), or the b-side metric qualifies and
    some member of B sits below some member of A (rep(B) < max(A)).
    Each qualifying (rep pair, orientation) yields a connectivity-
    preserving STAR over exactly its incident members, anchored at a
    rep that is itself incident (a-side: rep(A), which every member of
    B exceeds; b-side: rep(B), which the qualification bound places
    below max(A)); qualifying duplicate groups (size ≥ 2, token count
    ≥ span_min — identical texts share their full length) star on
    their own rep. Every qualifying member pair lies inside one
    orientation's blob and every blob is connected through its anchor
    in the true pair graph, so components — including which members
    appear AT ALL (a member above max(B) is NOT incident to an a-side-
    only edge, exactly as in the quadratic semantics) — match the
    pair-level clustering bit-for-bit; the driver oracle re-proves
    this against the quadratic SQL formulation."""
    rep_pairs, members, rep_metrics = _span_rep_analysis(df, id_col, text_col, k)
    if members is None:
        return connected_components(
            rep_pairs.filter(F.col("max_span_tokens") >= span_min)
        )
    g = members.groupBy("rep").agg(
        F.max("member").alias("mx"), F.count(F.lit(1)).alias("grp_n")
    )
    ep = (
        rep_pairs.join(
            g.select(F.col("rep").alias("id_a"), F.col("mx").alias("mx_a")), "id_a"
        )
        .join(
            g.select(F.col("rep").alias("id_b"), F.col("mx").alias("mx_b")), "id_b"
        )
        .withColumn("qa", F.col("max_span_tokens") >= span_min)
        .withColumn(
            "qb",
            (F.col("id_b") < F.col("mx_a"))
            & (F.col("max_span_tokens_b") >= span_min),
        )
        .filter(F.col("qa") | F.col("qb"))
        .localCheckpoint(eager=False)
    )
    mem_a = ep.join(
        members.select(F.col("rep").alias("id_a"), "member"), "id_a"
    )
    mem_b = ep.join(
        members.select(F.col("rep").alias("id_b"), "member"), "id_b"
    )
    # a-side star (anchor rep(A) = id_a): incident A members are those
    # below max(B); every B member exceeds rep(A) so all are incident.
    star_a = mem_a.filter(
        F.col("qa") & (F.col("member") < F.col("mx_b"))
    ).select(F.col("id_a").alias("x"), F.col("member").alias("y")).unionByName(
        mem_b.filter(F.col("qa")).select(
            F.col("id_a").alias("x"), F.col("member").alias("y")
        )
    )
    # b-side star (anchor rep(B) = id_b): incident A members exceed
    # rep(B); incident B members sit below max(A).
    star_b = mem_a.filter(
        F.col("qb") & (F.col("member") > F.col("id_b"))
    ).select(F.col("id_b").alias("x"), F.col("member").alias("y")).unionByName(
        mem_b.filter(F.col("qb") & (F.col("member") < F.col("mx_a"))).select(
            F.col("id_b").alias("x"), F.col("member").alias("y")
        )
    )
    clique = (
        g.filter(F.col("grp_n") >= 2)
        .join(
            rep_metrics.select(F.col("mrep").alias("rep"), "ntok"), "rep"
        )
        .filter(F.col("ntok") >= span_min)
        .select("rep")
    )
    star_c = members.join(clique, "rep", "left_semi").select(
        F.col("rep").alias("x"), F.col("member").alias("y")
    )
    edges = (
        star_a.unionByName(star_b)
        .unionByName(star_c)
        .filter(F.col("x") != F.col("y"))
        .distinct()
    )
    return connected_components(edges, "x", "y")


def _corpus_is_distinct(df: DataFrame, text_col: str) -> bool:
    """True when ≥95% of rows carry a distinct ``text_col`` value —
    the signal that exact-collapse machinery would be pure overhead.
    One map-side-combinable aggregate over the RAW frame (projection
    pushdown reads only the text column; no repartition), kept as a
    ``distinct_probe`` artifact of :mod:`jhu_data_parser_spark.cache`."""

    def build() -> bool:
        probe = (
            df.select(F.xxhash64(F.col(text_col)).alias("h"))
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.approx_count_distinct("h", rsd=0.02).alias("nd"),
            )
            .first()
        )
        return probe["n"] == 0 or probe["nd"] >= 0.95 * probe["n"]

    return cache.get_or_build("distinct_probe", df, (text_col,), build)


def exact_collapse(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    adaptive: bool = True,
) -> tuple[DataFrame, "DataFrame | None"]:
    """Exact-duplicate collapse for pair-producing dedup: returns
    ``(reps, members)`` where ``reps`` is one representative (min id)
    row per distinct text and ``members`` is the checkpointed
    ``(rep, member)`` group table — or ``None`` when the corpus has
    (approximately) no exact duplicates, signalling callers to skip
    the expansion machinery entirely.

    This is the move production pipelines make BEFORE any fuzzy dedup:
    signatures, banding, and per-pair verification then run once per
    DISTINCT text instead of once per copy — a corpus where each text
    has k copies otherwise pays verification C(k,2) times per text.
    Group identity is (xxhash64, md5) of the text, so the collapse
    shuffle carries 24 bytes per row instead of the text, and merging
    two distinct texts requires a simultaneous 64+128-bit collision
    (~2⁻¹⁹²).

    ``adaptive``: the collapse only pays off when duplicates exist; on
    a low-duplication corpus the group window, checkpoint, and two
    expansion joins are pure overhead (~+0.5-0.9 s at sf0.1, measured
    r5). A cheap probe — one map-side-combinable aggregate of
    ``approx_count_distinct`` over the 64-bit text hash, on the RAW
    frame (no repartition: partial aggregation means only tiny HLL
    buffers cross the exchange) — decides: when ≥95% of rows are
    distinct the function returns the original frame as ``reps`` and
    ``members = None``. The decision is a ``distinct_probe`` artifact
    of :mod:`jhu_data_parser_spark.cache`, so repeated queries over
    one corpus pay the probe once. The probe only ever affects
    PERFORMANCE, never results: both branches produce the identical
    pair set (expansion of singleton groups is the identity), so HLL
    error at the boundary merely picks the slower plan."""
    from pyspark.sql import Window

    d = ensure_parallelism(df).select(F.col(id_col), F.col(text_col))
    if adaptive and _corpus_is_distinct(df, text_col):
        return d, None
    # NULL texts must NOT merge: md5(NULL) is NULL and window
    # partitioning groups NULL keys together, which would fabricate
    # intra pairs among all NULL-text docs. Key NULLs on a per-row
    # sentinel so each stays a singleton group.
    rep_map = d.select(
        F.col(id_col),
        F.xxhash64(F.col(text_col)).alias("h1"),
        F.coalesce(
            F.md5(F.encode(F.col(text_col), "UTF-8")),
            F.concat(F.lit("\x00null:"), F.col(id_col).cast("string")),
        ).alias("h2"),
    ).withColumn("rep", F.min(F.col(id_col)).over(Window.partitionBy("h1", "h2")))
    members = rep_map.select(
        "rep", F.col(id_col).alias("member")
    ).localCheckpoint(eager=False)
    rep_ids = members.filter(F.col("member") == F.col("rep")).select(
        F.col("member").alias(id_col)
    )
    reps = d.join(rep_ids, id_col, "left_semi")
    return reps, members


def check_pair_budget(
    members: "DataFrame | None",
    max_intra_pairs: "int | None",
    what: str = "pair expansion",
    rep_pairs: "DataFrame | None" = None,
) -> None:
    """Fail-fast guard for pair-LISTING deliverables: the intra-group
    expansion of a duplicate group with k members is C(k,2) rows, so a
    duplicate-dense corpus can turn a pair listing into a 10¹⁰-row job
    (measured boundary at r5: Σ C(21k,2) ≈ 10¹⁰ for the phash family).
    When a budget is set, one cheap aggregate over the (rep, member)
    table counts the exact intra-pair output before any expansion work
    runs, and a ValueError carrying the group-size diagnostics fires
    instead of the runaway job — pointing at the O(n) groups/survivors
    deliverables, which answer the same dedup question without listing
    pairs.

    When ``rep_pairs`` is passed (the verified rep-level pair list the
    caller is about to cross-expand), the guard also bounds the CROSS
    term — each rep pair (A, B) expands to up to |A|·|B| member pairs,
    so many mid-size mutually-similar groups can blow the listing even
    when no single group does (ADVICE r6). Callers should pass a
    checkpointed frame so the guard's evaluation is reused by the
    expansion itself."""
    if members is None or max_intra_pairs is None:
        return
    sizes = members.groupBy("rep").agg(F.count(F.lit(1)).alias("k"))
    stats = sizes.agg(
        F.sum(F.expr("k * (k - 1) DIV 2")).alias("total_intra_pairs"),
        F.max("k").alias("largest_group"),
        F.sum(F.when(F.col("k") > 1, 1).otherwise(0)).alias("dup_groups"),
    ).first()
    total = stats["total_intra_pairs"] or 0
    cross = 0
    largest_cross = 0
    if rep_pairs is not None:
        cs = (
            rep_pairs.select("id_a", "id_b")
            .join(
                sizes.select(F.col("rep").alias("id_a"), F.col("k").alias("ka")),
                "id_a",
            )
            .join(
                sizes.select(F.col("rep").alias("id_b"), F.col("k").alias("kb")),
                "id_b",
            )
            .agg(
                F.sum(F.col("ka") * F.col("kb")).alias("cross_pairs"),
                F.max(F.col("ka") * F.col("kb")).alias("largest_cross"),
            )
            .first()
        )
        cross = cs["cross_pairs"] or 0
        largest_cross = cs["largest_cross"] or 0
    if total + cross > max_intra_pairs:
        raise ValueError(
            f"{what}: pair listing would produce {total + cross:,} rows "
            f"({total:,} intra-group + {cross:,} cross-group; budget "
            f"{max_intra_pairs:,}; {stats['dup_groups']:,} duplicate "
            f"groups, largest has {stats['largest_group']:,} members"
            + (
                f", largest cross expansion {largest_cross:,} pairs"
                if largest_cross
                else ""
            )
            + "). Pair output grows quadratically with duplicate density — "
            "use the *_groups / *_survivors deliverables (O(n)) instead, or "
            "raise max_intra_pairs."
        )


def expand_collapsed_pairs(
    rep_pairs: DataFrame,
    members: "DataFrame | None",
    value_cols: dict[str, "float"] | None = None,
    max_intra_pairs: "int | None" = None,
) -> DataFrame:
    """Expand representative-level verified pairs back to all-member
    pairs, plus the intra-group pairs the collapse hid. A ``None``
    membership table (adaptive :func:`exact_collapse` found no
    duplicates) makes this the identity: every group is a singleton,
    so there are no intra pairs and every rep pair IS a member pair.

    ``value_cols`` maps each carried metric column (e.g. ``jaccard``)
    to its exact value for identical texts (1.0 for any similarity
    normalized to [0,1]); cross-group pairs inherit the representative
    pair's value bit-for-bit, which is exact because every member
    carries the same text as its representative. Both expansions are
    streaming hash joins — quadratic only in the pair OUTPUT.

    The intra side explicitly repartitions on the group key: the
    membership table is BYTES-small (two longs/row), so AQE would
    coalesce its shuffle to a couple of tasks — but the join's OUTPUT
    is quadratic in group size, and the CPU to stream it must spread
    across cores. An explicit repartition is exactly the case where
    the planner's bytes-based sizing can't see the work."""
    value_cols = value_cols or {}
    if members is None:
        return rep_pairs.select("id_a", "id_b", *value_cols)
    if max_intra_pairs is not None:
        # the guard's cross-term aggregate evaluates rep_pairs; lazily
        # checkpoint so the expansion below reuses that work
        rep_pairs = rep_pairs.localCheckpoint(eager=False)
    check_pair_budget(members, max_intra_pairs, rep_pairs=rep_pairs)
    spread = members.repartition(
        members.sparkSession.sparkContext.defaultParallelism, "rep"
    )
    intra = (
        spread.alias("x")
        .join(
            spread.alias("y"),
            (F.col("x.rep") == F.col("y.rep"))
            & (F.col("x.member") < F.col("y.member")),
        )
        .select(
            F.col("x.member").alias("id_a"),
            F.col("y.member").alias("id_b"),
            *[F.lit(v).alias(c) for c, v in value_cols.items()],
        )
    )
    ma = members.select(F.col("rep").alias("id_a"), F.col("member").alias("ma"))
    mb = members.select(F.col("rep").alias("id_b"), F.col("member").alias("mb"))
    cross = (
        rep_pairs.join(ma, "id_a")
        .join(mb, "id_b")
        .select(
            F.least("ma", "mb").alias("id_a"),
            F.greatest("ma", "mb").alias("id_b"),
            *value_cols,
        )
    )
    return intra.unionByName(cross)


def near_dup_pairs_minhash(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.7,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
    max_intra_pairs: "int | None" = None,
) -> DataFrame:
    """Near-duplicate pairs: exact-duplicate COLLAPSE, then LSH
    candidates among representatives verified with exact token-set
    Jaccard, then membership expansion back to all doc pairs.

    The collapse is the load-bearing scale move (and what production
    dedup pipelines do — exact dedup before fuzzy dedup): byte-identical
    docs share one representative, so signature computation, banding
    and the Jaccard verify all run once per DISTINCT text. Without it,
    a corpus where each text has k copies pays the verify's token-set
    intersection C(k,2) times per text — measured 187 s at 100×
    replication (k=100) vs ~4 s with the collapse, for the IDENTICAL
    output: intra-group pairs are emitted directly with jaccard 1.0
    (identical texts always collide in band 0 and verify at exactly
    1.0), and cross-group representative pairs expand through two
    membership joins whose output streams. Group identity uses
    (xxhash64, md5) of the text — 24 bytes shuffle instead of the text
    itself, and a simultaneous 64+128-bit collision (~2⁻¹⁹²) is the
    only way two distinct texts could merge.

    Verification joins the representative candidate list back to the
    docs — two hash joins on doc ids, then an in-row set comparison.
    Nothing quadratic outside the pair OUTPUT itself."""
    reps, members = exact_collapse(df, id_col, text_col)

    cands = minhash_candidates(
        reps,
        id_col,
        text_col,
        num_hashes,
        bands,
        shingle_k,
        spread=False,  # exact_collapse output is already cores-spread
    )
    # toks source: on the no-duplicates branch reps ≡ df row-for-row but
    # carries exact_collapse's round-robin exchange — pointless for this
    # cheap per-row projection (it feeds a broadcast/join build, not a
    # CPU-heavy kernel), and evaluated once per verify branch. Reading
    # toks straight off the scan drops two full-text exchanges from the
    # plan; on the collapsed branch reps is the right (smaller) frame.
    toks_src = (
        df.select(F.col(id_col), F.col(text_col)) if members is None else reps
    )
    toks = toks_src.select(
        F.col(id_col),
        F.expr(f"array_distinct(split(lower({text_col}), '\\\\s+'))").alias("toks"),
    )
    rep_pairs = (
        cands.join(toks.withColumnsRenamed({id_col: "id_a", "toks": "toks_a"}), "id_a")
        .join(toks.withColumnsRenamed({id_col: "id_b", "toks": "toks_b"}), "id_b")
        .withColumn(
            "jaccard",
            F.expr(
                "CASE WHEN size(array_union(toks_a, toks_b)) > 0 THEN "
                "CAST(size(array_intersect(toks_a, toks_b)) AS DOUBLE) "
                "/ size(array_union(toks_a, toks_b)) ELSE 0.0 END"
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )

    return expand_collapsed_pairs(
        rep_pairs, members, {"jaccard": 1.0}, max_intra_pairs
    )


# Edge-count bound below which connected_components solves the graph
# on the driver (one limit+Arrow collect + union-find) instead of
# iterating Spark jobs. Each iterative round costs ~0.3-0.6 s of pure
# scheduler latency regardless of graph size, so a 25-edge rep-level
# graph was paying ~2.5-3 s for 47 labels (measured r7 at sf0.01);
# the local path answers in one partial job. 500k edges is ~8 MB of
# ids — far below any driver-memory concern — and the limit() early-
# exits, so an over-bound graph pays one cheap probe before the
# distributed loop. Results are bit-identical (exact union-find,
# min-id labels); the bound only ever picks a plan.
LOCAL_CC_EDGE_BOUND = 500_000


def _cc_local(spark, pdf, id_dtype) -> DataFrame:
    """Driver-side exact union-find over a collected edge list →
    ``(id, component)`` with component = min id of the component —
    bit-identical to the distributed variants (union attaches the
    larger root under the smaller, so every root is the minimum of
    its tree by induction)."""
    from pyspark.sql.types import StructField, StructType

    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    a_vals = pdf.iloc[:, 0].tolist()
    b_vals = pdf.iloc[:, 1].tolist()
    for a, b in zip(a_vals, b_vals):
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b
        ra, rb = find(a), find(b)
        if ra != rb:
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra
    rows = [(x, find(x)) for x in parent]
    schema = StructType(
        [StructField("id", id_dtype, True), StructField("component", id_dtype, True)]
    )
    return local_frame(spark, rows, schema)


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 20,
    local_bound: int = LOCAL_CC_EDGE_BOUND,
) -> DataFrame:
    """Duplicate-cluster formation: connected components over a
    near-duplicate pair list → ``(id, component)`` where ``component``
    is the minimum id reachable from ``id``.

    The step every large-scale dedup pipeline needs after pair
    generation: pairs (A,B),(B,C) mean {A,B,C} is ONE duplicate group
    with survivor A. Implemented as iterative min-label propagation —
    each round, every node takes the min of its own and its neighbors'
    labels; converges in O(graph diameter) rounds (near-dup clusters
    are shallow — diameter is small even at corpus scale; for
    adversarial chains the alternating star-contraction algorithm is
    the published upgrade path). Each round is one join + groupBy on
    the label table (|nodes| rows, not |corpus|), localCheckpoint'd to
    keep the plan from growing with iterations; early-exits when a
    round changes nothing.

    Adaptive small-graph path: post-sparsification rep-level graphs
    are routinely tiny (tens of edges at sf0.01) while every
    distributed round costs a fixed job latency, so when a
    ``limit(local_bound + 1)`` probe shows ≤ ``local_bound`` edges the
    component labels are computed by exact driver-side union-find in
    ONE partial job (measured r7: 2.8 s → ~0.3 s for the 25-edge
    Jaccard rep graph; the alternating-star contraction variant was
    measured SLOWER here, 3.6 s, because it pays more jobs per round
    than it saves in rounds on a shallow graph). Above the bound the
    probe early-exits and the distributed loop runs — same labels
    either way, the bound only ever picks a plan. Pass
    ``local_bound=0`` to force the distributed path.
    """
    if local_bound:
        probe = pairs.select(id_a, id_b).limit(local_bound + 1).toPandas()
        if len(probe) <= local_bound:
            return _cc_local(
                pairs.sparkSession, probe, pairs.schema[id_a].dataType
            )
    edges = (
        pairs.select(F.col(id_a).alias("x"), F.col(id_b).alias("y"))
        .union(pairs.select(F.col(id_b).alias("x"), F.col(id_a).alias("y")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = edges.select("x").distinct().withColumn("label", F.col("x"))
    for _ in range(max_iter):
        nbr_min = (
            edges.join(
                labels.select(F.col("x").alias("y"), F.col("label").alias("nlabel")),
                "y",
            )
            .groupBy("x")
            .agg(F.min("nlabel").alias("nmin"))
        )
        new_labels = (
            labels.join(nbr_min, "x", "left")
            .select(
                "x",
                F.least(F.col("label"), F.coalesce("nmin", "label")).alias("label"),
            )
            .localCheckpoint(eager=True)
        )
        n_changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "x")
            .filter(F.col("n.label") != F.col("o.label"))
            .count()
        )
        labels = new_labels
        if n_changed == 0:
            break
    return labels.select(F.col("x").alias("id"), F.col("label").alias("component"))


def connected_components_contraction(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 30,
) -> DataFrame:
    """Connected components via alternating large-star / small-star
    contraction (Kiveris et al., "Connected Components in MapReduce and
    Beyond", SoCC'14) → ``(id, component)``, component = min reachable id.

    The at-scale upgrade path named in :func:`connected_components`:
    min-label propagation needs O(diameter) rounds — fine for shallow
    near-dup clusters, quadratic-ish wall clock on adversarial chains —
    while star contraction converges in O(log² n) rounds regardless of
    diameter. Each round is two groupBy+join passes over the edge list
    (shuffling node-id pairs only), checkpointed per round; the final
    state is a star forest, read off as the label table.

    large-star: every neighbor v > u re-attaches to min(Γ(u) ∪ {u});
    small-star: every neighbor v ≤ u (and u itself) attaches to that
    min. Both preserve connectivity and strictly shrink tree height.
    """
    sym_all = (
        pairs.select(F.col(id_a).alias("x"), F.col(id_b).alias("y"))
        .union(pairs.select(F.col(id_b).alias("x"), F.col(id_a).alias("y")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # Node set BEFORE the self-loop filter: a node appearing only in
    # self-pairs (A,A) carries no proper edge but is still a (singleton)
    # component — the propagation sibling and the shared oracle keep it,
    # so the contraction variant must too.
    nodes = sym_all.select("x").distinct().localCheckpoint(eager=True)
    e = sym_all.filter(F.col("x") != F.col("y")).localCheckpoint(eager=True)

    def star_min(sym: DataFrame) -> DataFrame:
        return (
            sym.groupBy("x")
            .agg(F.min("y").alias("mn"))
            .select("x", F.least("x", "mn").alias("m"))
        )

    def symmetric(directed: DataFrame) -> DataFrame:
        return (
            directed.union(
                directed.select(F.col("y").alias("x"), F.col("x").alias("y"))
            )
            .filter(F.col("x") != F.col("y"))
            .distinct()
        )

    prev_small: DataFrame | None = None
    for _ in range(max_iter):
        # large-star: (v, m_u) for every v ∈ Γ(u), v > u
        mins = star_min(e)
        large = (
            e.join(mins, "x")
            .filter(F.col("y") > F.col("x"))
            .select(F.col("y").alias("x"), F.col("m").alias("y"))
        )
        sym = symmetric(large).localCheckpoint(eager=True)
        # small-star: (v, m_u) for v ∈ Γ(u) with v < u, plus (u, m_u)
        mins2 = star_min(sym)
        joined = sym.join(mins2, "x")
        small = (
            joined.filter(F.col("y") < F.col("x"))
            .select(F.col("y").alias("x"), F.col("m").alias("y"))
            .union(joined.select("x", F.col("m").alias("y")))
            .filter(F.col("x") != F.col("y"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        # converged when the directed star forest is stable (set
        # equality, not count equality — same-size churn must not
        # terminate early). Both frames are checkpointed, so the
        # symmetric-difference probe is two cheap scans.
        e = symmetric(small).localCheckpoint(eager=True)
        if prev_small is not None:
            changed = (
                small.exceptAll(prev_small)
                .union(prev_small.exceptAll(small))
                .limit(1)
                .count()
            )
            if changed == 0:
                break
        prev_small = small
    roots = small.select(F.col("y").alias("x")).distinct().exceptAll(
        small.select("x").distinct()
    )
    labels = small.groupBy("x").agg(F.min("y").alias("component")).union(
        roots.select("x", F.col("x").alias("component"))
    )
    # isolated nodes of the original pair list (self-pairs only) keep
    # themselves; nodes absent from `small` map to their own id.
    missing = nodes.join(labels.select("x"), "x", "left_anti")
    return (
        labels.union(missing.select("x", F.col("x").alias("component")))
        .select(F.col("x").alias("id"), "component")
    )


def simhash_bits(col: Column | str, nbits: int = 64) -> Column:
    """SimHash bit vector (array<int> of 0/1, slot i = bit i).

    Per token: a 64-bit xxhash; each signature bit accumulates +1/-1 by
    the token's bit; the sign of each accumulator is the output bit.
    Implemented as one higher-order aggregate over the token array with a
    64-slot accumulator — per-row sequential, across rows embarrassingly
    parallel, no shuffle, no UDF."""
    c = F.col(col) if isinstance(col, str) else col
    toks = F.split(F.lower(c), r"\s+")
    # Two speed rules for this interpreted fold (HOF lambdas don't CSE
    # and don't codegen):
    # 1. Hash each token ONCE into a padded binary STRING before the
    #    fold — hashing inside the per-bit lambda would recompute
    #    xxhash64 nbits× per token.
    # 2. Read bits with substr on that string, NOT bit_get on the long:
    #    bit_get takes an interpreted slow path per call (measured 4.6×
    #    slower for the whole fold at sf0.1: 4.6 s → 1.0 s).
    # Slot i must equal bit_get(h, i) (bit 0 = LSB), which is character
    # nbits - i of the MSB-first binary string (1-based substr).
    hashes = F.transform(toks, lambda t: F.lpad(F.bin(F.xxhash64(t)), nbits, "0"))
    zeros = F.array_repeat(F.lit(0), nbits)
    acc = F.aggregate(
        hashes,
        zeros,
        lambda a, h: F.transform(
            a,
            lambda v, i: v
            + F.when(F.substr(h, F.lit(nbits) - i, F.lit(1)) == "1", 1).otherwise(-1),
        ),
    )
    return F.transform(acc, lambda v: F.when(v > 0, 1).otherwise(0))


def simhash_hex(col: Column | str, nbits: int = 64) -> Column:
    """SimHash packed as a fixed-width hex string (MSB = bit nbits-1) —
    compact to store, groupable, engine-portable (avoids signed-long
    overflow for bit 63)."""
    bits = simhash_bits(col, nbits)
    binstr = F.concat_ws("", F.transform(F.reverse(bits), lambda b: b.cast("string")))
    return F.lpad(F.conv(binstr, 2, 16), nbits // 4, "0")


def hamming_distance(bits_a: Column, bits_b: Column) -> Column:
    """Hamming distance between two equal-length bit arrays."""
    return F.size(F.filter(F.zip_with(bits_a, bits_b, lambda a, b: a != b), lambda x: x))


def banded_hamming_pairs(
    hashed: DataFrame,
    id_col: str = "doc_id",
    hash_col: str = "phash",
    bands: int = 4,
    max_hamming: int | None = None,
    max_intra_pairs: "int | None" = None,
) -> DataFrame:
    """Near-duplicate pairs within ``Hamming <= bands - 1`` of a 64-bit
    hash column, as a banded SELF-JOIN — the scale-robust form of
    pigeonhole banding.

    The hash splits into ``bands`` equal lanes; any pair within Hamming
    ``bands - 1`` must agree on at least one whole lane, so candidates
    are an equi-join of the banded table (one narrow row per (id,
    band)) with itself on (band, lane). Properties the in-bucket
    generator expansion this replaces did NOT have:

    - task memory is the sort-merge join's per-key buffer — ONE
      bucket's narrow rows — regardless of duplicate density (the old
      collect_list + chained-generator form copied whole-bucket arrays
      per anchor row: OOM/minutes on a corpus where every doc has ten
      identical twins, which is precisely what a dedup corpus is);
    - AQE skew-join splitting applies to pathological buckets for free;
    - every per-pair check is CODEGEN lane arithmetic — exactly-once
      emission tests the pair's earlier lanes via unrolled literal
      shifts (no interpreted HOF in the hot loop), and the verify is
      one ``bit_count(xor)``.

    The banded side is checkpointed so the upstream hash pipeline runs
    once, not once per join branch. Emission: a pair appears ONLY at
    its first colliding band, so no distinct() exchange exists and the
    output is exactly-once by construction. Returns (id_a, id_b,
    hamming), filtered to ``max_hamming`` (default ``bands - 1``, the
    radius banding guarantees 100% recall for).

    Before banding, rows COLLAPSE on the hash value itself: one
    representative (min id) per distinct 64-bit hash joins the bands;
    equal-hash pairs are by definition Hamming 0 and emit directly
    through the membership expansion, and cross-group pairs inherit
    the representative pair's Hamming exactly (the distance depends
    only on the hash values). Unlike the text collapse in
    :func:`exact_collapse` this is EXACT with no collision caveat —
    and it is what keeps a corpus full of identical items (the very
    thing dedup exists for) from quadratically inflating the banding
    join's probe work.
    """
    from pyspark.sql import Window

    if 64 % bands != 0:
        raise ValueError("bands must divide 64")
    if max_hamming is None:
        max_hamming = bands - 1
    chunk = 64 // bands
    mask = (1 << chunk) - 1
    # ONE checkpoint of (member, h, rep): both the membership table and
    # the representative set derive from it, so the upstream hash
    # pipeline (which may synthesize/decode heavy payloads) runs
    # exactly once.
    rep_map = (
        hashed.select(F.col(id_col).alias("member"), F.col(hash_col).alias("h"))
        .withColumn("rep", F.min("member").over(Window.partitionBy("h")))
        .localCheckpoint(eager=False)
    )
    members = rep_map.select("rep", "member")
    reps = rep_map.filter(F.col("member") == F.col("rep")).select(
        F.col("member").alias("id"), "h"
    )
    banded = (
        reps.select(
            "id",
            "h",
            F.explode(
                F.expr(
                    f"transform(sequence(0, {bands - 1}), b -> struct(b AS band, "
                    f"shiftright(h, b * {chunk}) & {mask} AS lane))"
                )
            ).alias("bc"),
        )
        .select("id", "h", "bc.band", "bc.lane")
        .localCheckpoint(eager=False)
    )
    a = banded.alias("a")
    b = banded.alias("b")
    # First-colliding-band test, unrolled per band value so every lane
    # shift is a literal (codegen; shiftright needs literal amounts):
    # at band v the pair must DIFFER on all lanes j < v.
    xor = F.expr("a.h ^ b.h")
    no_earlier = F.lit(True)
    for v in range(1, bands):
        differs_all = F.lit(True)
        for j in range(v):
            differs_all = differs_all & (
                F.expr(f"shiftright(a.h ^ b.h, {j * chunk}) & {mask}") != 0
            )
        no_earlier = F.when(F.col("a.band") == v, differs_all).otherwise(no_earlier)
    pairs = a.join(
        b,
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.lane") == F.col("b.lane"))
        & (F.col("a.id") < F.col("b.id")),
    ).filter(no_earlier)
    rep_pairs = (
        pairs.select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.bit_count(xor).cast("int").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )
    return expand_collapsed_pairs(
        rep_pairs, members, {"hamming": 0}, max_intra_pairs
    )


def simhash_candidates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    nbits: int = 64,
    bands: int = 4,
    max_hamming: int | None = None,
) -> DataFrame:
    """SimHash near-dup candidate pairs via the pigeonhole band trick:
    split the ``nbits`` signature into ``bands`` equal chunks — any two
    docs within Hamming distance ``bands - 1`` MUST agree on at least
    one whole chunk, so candidates are the banded SELF-JOIN of
    :func:`banded_hamming_pairs` (equi-join on (band, lane) — task
    memory is the join's per-bucket buffer, so dense duplicate clusters
    cannot OOM the expansion the way the old collect_list + generator
    form did on the 10× replicated layout). Pairs are verified with the
    exact Hamming distance (``max_hamming``, default ``bands - 1`` —
    the radius the pigeonhole guarantees recall for).

    The 64-bit signature is packed into ONE long via two 32-bit folds
    (sign-safe under ANSI: the high half shifts into the sign bits with
    ``shiftleft``, which wraps by definition) — every downstream pair
    check is codegen shift/xor/bit_count arithmetic."""
    if max_hamming is None:
        max_hamming = bands - 1
    if nbits != 64:
        raise ValueError("simhash_candidates packs signatures as one 64-bit long")
    sig = simhash_bits(text_col, nbits)
    with_sig = ensure_parallelism(df).select(F.col(id_col), sig.alias("bits"))
    # Fold each 32-bit half without sign overflow, then pack: bit 0 of
    # the array is the MOST significant bit of the packed long, so lane
    # extraction in banded_hamming_pairs walks the same signature.
    hi_bits = nbits // 2
    packed = with_sig.select(
        F.col(id_col),
        F.expr(
            f"shiftleft(aggregate(slice(bits, 1, {hi_bits}), CAST(0 AS BIGINT), "
            f"(s, b) -> s * 2 + b), {hi_bits}) | "
            f"aggregate(slice(bits, {hi_bits} + 1, {nbits - hi_bits}), "
            "CAST(0 AS BIGINT), (s, b) -> s * 2 + b)"
        ).alias("sh"),
    )
    return banded_hamming_pairs(
        packed, id_col=id_col, hash_col="sh", bands=bands, max_hamming=max_hamming
    )


def substring_reps(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
    k: int = 8,
) -> DataFrame:
    """Exact-collapse + tokenize stage shared by the substring-span
    family: one representative (min id) row per distinct text, with the
    lowercase whitespace token array and its length, restricted to docs
    long enough to carry at least one ``k``-gram.

    Group identity is (xxhash64, md5) of the raw text so the collapse
    shuffle carries 24 bytes per row, never the text (same discipline
    as :func:`exact_collapse`; a false merge needs a simultaneous
    64+128-bit collision). The collapse is the scale guard for every
    downstream pair producer: on the 10× replicated layout verbatim
    copies would otherwise multiply every gram bucket 10× and every
    candidate pair 100× — after collapse the pair space is that of the
    DISTINCT corpus, and copy-level duplication is already fully
    reported by the exact-dedup family."""
    return (
        df.groupBy(
            F.xxhash64(text_col).alias("xh"), F.md5(text_col).alias("mh")
        )
        .agg(
            F.min(id_col).alias(id_col),
            F.min_by(lang_col, id_col).alias(lang_col),
            F.min_by(text_col, id_col).alias(text_col),
        )
        .select(
            id_col,
            lang_col,
            F.split(F.lower(text_col), " ").alias("toks"),
        )
        .withColumn("ntok", F.size("toks").cast("long"))
        .filter(F.col("ntok") >= k)
    )


def positional_gram_postings(
    df: DataFrame, k: int, doc_col: str = "doc", toks_col: str = "toks"
) -> DataFrame:
    """Positional ``k``-gram fingerprints ``(doc, pos, gh)`` — the ONE
    gram-hash implementation behind the batch substring-span operator
    and its incremental stream (a hash change here cannot silently
    diverge the stream ≡ batch equivalence).

    Each token is hashed ONCE (``xxhash64`` per token), then each gram
    is the native ``xxhash64`` of its ``k`` consecutive token hashes —
    one BIGINT key. Versus the previous per-position
    ``substr(md5(array_join(slice(...))))``: HOF lambdas are
    interpreted with no CSE, so the old form re-sliced and re-joined
    ``k`` tokens into a fresh string and ran md5 per position —
    measured 0.46 → 0.26 s on a third of the sf0.1 corpus — and the
    8-byte BIGINT gram key halves every downstream exchange, join and
    index-sink row vs the 16-hex string (guide §2.3 narrower types /
    §4.1 hash once outside the lambda). Collision envelope unchanged:
    the md5 prefix was 64 bits too; equal grams still collide by
    construction, so the df-cap gate and seed pairs are preserved."""
    args = ", ".join(f"element_at(th, i + {j})" for j in range(k))
    gram = (
        f"transform(sequence(1, size(th) - {k - 1}), i -> "
        f"struct(CAST(i AS BIGINT) AS pos, xxhash64({args}) AS gh))"
    )
    return (
        df.filter(F.size(toks_col) >= k)
        .select(
            F.col(doc_col).alias("doc"),
            F.expr(f"transform({toks_col}, t -> xxhash64(t))").alias("th"),
        )
        .select("doc", F.explode(F.expr(gram)).alias("pg"))
        .select("doc", F.col("pg.pos").alias("pos"), F.col("pg.gh").alias("gh"))
    )


def substring_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    min_span: int = 12,
    df_cap: int = 16,
) -> DataFrame:
    """Maximal exactly-duplicated token spans across document pairs —
    the span-LISTING complement of :func:`shared_span_pairs` (which
    reports per-pair summaries only): every cross-document substring
    duplication of ``>= min_span`` tokens is returned with its exact
    positions, ``(doc_a, doc_b, start_a, start_b, span_len)``, 1-based
    token offsets in each doc's whitespace tokenization. Positions are
    what the "deduplicating training data" exact-substring pass needs:
    excising the duplicated run (rather than dropping the whole doc)
    requires knowing WHERE it is.

    Plan: exact-collapse to distinct-text representatives
    (:func:`substring_reps`), positional ``k``-gram fingerprints
    (16-hex md5 prefix — the 8-byte key crosses the shuffle, never
    text), a document-frequency gate keeping grams seen in
    ``[2, df_cap]`` distinct docs (df=1 grams cannot seed a pair;
    ultra-high-df boilerplate grams are the skew bound of any
    positional join — at 100 TB they route to a broadcast stoplist
    exactly as in the LSH dense-bucket discipline, and the cap makes
    that contract explicit), then the banded EQUI-self-join shape on
    the gram key (SMJ buffers one bucket; AQE skew-split applies).
    Seed matches merge into maximal spans with the diagonal
    gaps-and-islands trick: a shared span of length L is exactly
    L−k+1 consecutive seed positions on one (pos_a − pos_b) diagonal,
    so a per-(pair, diagonal) row_number window (many small
    partitions, never a global sort) recovers ``start/length`` with
    one aggregate. The gram table is lazily checkpointed so the
    shingle scan feeds both the df gate and the join without
    recomputation."""
    from pyspark.sql import Window

    reps = substring_reps(df, id_col=id_col, text_col=text_col, k=k)
    g = positional_gram_postings(
        reps, k, doc_col=id_col, toks_col="toks"
    ).localCheckpoint(eager=False)
    mg = (
        g.groupBy("gh")
        .agg(F.countDistinct("doc").alias("df_docs"))
        .filter((F.col("df_docs") >= 2) & (F.col("df_docs") <= df_cap))
        .select("gh")
    )
    gf = g.join(mg, "gh")
    seeds = (
        gf.select("gh", F.col("doc").alias("doc_a"), F.col("pos").alias("pos_a"))
        .join(
            gf.select(
                "gh", F.col("doc").alias("doc_b"), F.col("pos").alias("pos_b")
            ),
            "gh",
        )
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            "pos_a",
            "pos_b",
            (F.col("pos_a") - F.col("pos_b")).alias("diag"),
        )
    )
    w = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("pos_a")
    isl = seeds.withColumn("grp", F.col("pos_a") - F.row_number().over(w))
    return (
        isl.groupBy("doc_a", "doc_b", "diag", "grp")
        .agg(
            F.min("pos_a").cast("long").alias("start_a"),
            F.min("pos_b").cast("long").alias("start_b"),
            (F.max("pos_a") - F.min("pos_a") + k).cast("long").alias("span_len"),
        )
        .filter(F.col("span_len") >= min_span)
        .select("doc_a", "doc_b", "start_a", "start_b", "span_len")
    )
