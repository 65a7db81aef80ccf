"""Graph-ANN operator properties: unit-quantization monotonicity,
build determinism and fanout contract, LSH-seeded beam behavior, and
the index cache's variant separation (differently-filtered corpora
over the same files must not collide)."""

from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from jhu_data_parser_spark.operators import similarity as sim
from jhu_data_parser_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"


def _corpus(spark):
    return load_table(spark, SF, "embeddings").filter(F.col("vec_id") != 0)


def test_unit_quantization_l2_monotone_in_cosine(spark):
    """For quantized UNIT vectors, integer squared-L2 to a query must
    rank identically to exact cosine (up to quantization ties) — the
    metric contract the beam search relies on. Checked on the exact
    top-10: the 10 cosine-nearest ids are the 10 smallest-d2 ids."""
    from jhu_data_parser_spark.plans.llm import _query_vec

    corpus = _corpus(spark)
    qv = _query_vec(spark, SF, 0)
    bf = [r.vec_id for r in sim.topk_cosine(corpus, qv, k=10).collect()]
    qz = sim.quantize_unit_vectors(corpus)
    qq = sim.quantize_unit_vectors(
        load_table(spark, SF, "embeddings").filter(F.col("vec_id") == 0)
    ).select(F.col("q").alias("qv"))
    d2 = qz.crossJoin(F.broadcast(qq)).select(
        "id",
        F.expr(
            "aggregate(zip_with(q, qv, (a, b) -> (a - b) * (a - b)), "
            "CAST(0 AS BIGINT), (s, x) -> s + x)"
        ).alias("d2"),
    )
    by_d2 = [r.id for r in d2.orderBy("d2", "id").limit(10).collect()]
    assert set(bf) == set(by_d2)


def test_knn_graph_fanout_and_determinism(spark):
    corpus = _corpus(spark)
    e1 = sim.knn_graph_banded(corpus, dim=64, m=4, n_planes=4, bands=2)
    e2 = sim.knn_graph_banded(corpus, dim=64, m=4, n_planes=4, bands=2)
    rows1 = sorted((r.src, r.dst) for r in e1.collect())
    rows2 = sorted((r.src, r.dst) for r in e2.collect())
    assert rows1 == rows2  # order-independent, rebuild-identical
    fan = e1.groupBy("src").count().agg(F.max("count")).first()[0]
    assert fan <= 4  # the fixed-fanout contract
    # no self loops
    assert e1.filter(F.col("src") == F.col("dst")).count() == 0


def test_matmul_and_expr_builds_agree_here(spark):
    """The Arrow-matmul bucket path is the bulk-build variant of the
    expression path; on this fixture (no near-zero projections at
    these seeds) the resulting graphs must be identical."""
    corpus = _corpus(spark)
    a = sim.knn_graph_banded(
        corpus, dim=64, m=4, n_planes=4, bands=2, exact_buckets=True
    )
    b = sim.knn_graph_banded(
        corpus, dim=64, m=4, n_planes=4, bands=2, exact_buckets=False
    )
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_beam_search_monotone_and_bounded(spark):
    """The final beam is ≤ beam rows, contains the best seed (the beam
    is monotone — candidates always include the previous beam), and
    d2 is nonincreasing as hops grow."""
    corpus = _corpus(spark)
    qz = sim.quantize_unit_vectors(corpus)
    qq = sim.quantize_unit_vectors(
        load_table(spark, SF, "embeddings").filter(F.col("vec_id") == 0)
    ).select("q")
    edges = sim.knn_graph_banded(corpus, dim=64, m=4, n_planes=4, bands=2)
    edges = edges.localCheckpoint(eager=False)
    b1 = sim.graph_beam_search(qz, edges, qq, beam=8, hops=1, depth=1)
    b3 = sim.graph_beam_search(qz, edges, qq, beam=8, hops=3, depth=1)
    r1 = {r.id: r.d2 for r in b1.collect()}
    r3 = {r.id: r.d2 for r in b3.collect()}
    assert len(r1) <= 8 and len(r3) <= 8
    # monotone: element-wise over the shared prefix (the beams may
    # hold different counts, so a raw sum comparison is meaningless)
    s1, s3 = sorted(r1.values()), sorted(r3.values())
    for a, b in zip(s3, s1):
        assert a <= b


def test_graph_index_variant_keys_do_not_collide(spark):
    """Two differently-filtered corpora over the SAME parquet files
    with the same params must yield different cached indexes when
    distinguished by variant — the documented cache-key invariant."""
    e = load_table(spark, SF, "embeddings")
    p1 = sim.knn_graph_index(
        e.filter(F.col("vec_id") != 0),
        dim=64,
        m=4,
        n_planes=4,
        bands=2,
        variant="t_ne0",
    )
    p2 = sim.knn_graph_index(
        e.filter(F.col("vec_id") >= 5),
        dim=64,
        m=4,
        n_planes=4,
        bands=2,
        variant="t_ge5",
    )
    assert p1 != p2
    n1 = spark.read.parquet(p1).count()
    n2 = spark.read.parquet(p2).count()
    assert n1 != n2 or set(
        r.src for r in spark.read.parquet(p1).collect()
    ) != set(r.src for r in spark.read.parquet(p2).collect())
    # cache hit: same variant returns the same path without a rebuild
    assert (
        sim.knn_graph_index(
            e.filter(F.col("vec_id") != 0),
            dim=64,
            m=4,
            n_planes=4,
            bands=2,
            variant="t_ne0",
        )
        == p1
    )


def test_graph_index_append_stream_equals_batch_and_idempotent(spark):
    """The incremental NSW append must reproduce the batch arrival
    graph exactly (the NSW insertion rule makes node edges a function
    of earlier ids), and re-running over the same work dir must not
    duplicate appends (_SUCCESS-gated idempotence)."""
    import tempfile

    from jhu_data_parser_spark.operators.similarity import _rmtree_at_exit
    from jhu_data_parser_spark.plans.pipeline20 import (
        sim_graph_arrival_edges,
    )
    from jhu_data_parser_spark.streaming.jobs import (
        run_graph_index_append_stream,
    )

    batch = sorted(map(tuple, sim_graph_arrival_edges(spark, SF).collect()))
    wd = tempfile.mkdtemp(prefix="jdps_test_gidx_")
    _rmtree_at_exit(wd)
    s1 = sorted(
        map(
            tuple,
            run_graph_index_append_stream(spark, SF, work_dir=wd).collect(),
        )
    )
    assert s1 == batch
    s2 = sorted(
        map(
            tuple,
            run_graph_index_append_stream(spark, SF, work_dir=wd).collect(),
        )
    )
    assert s2 == batch


# --- the bucket-local top-m kernel, without Spark ---------------------


@st.composite
def _bucketed_rows(draw):
    """Small bucketed vector sets: few distinct values (duplicate
    vectors, equal distances), few buckets (singletons and shared
    buckets), and a src flag per row (dst-only rows are the stream's
    earlier posts)."""
    n = draw(st.integers(1, 12))
    dim = draw(st.integers(1, 4))
    bands = draw(st.integers(1, 3))
    ids = draw(
        st.lists(
            st.integers(-50, 50), min_size=n, max_size=n, unique=True
        )
    )
    vals = st.integers(-3, 3)
    q = [draw(st.lists(vals, min_size=dim, max_size=dim)) for _ in ids]
    codes = [
        draw(st.lists(st.integers(0, 2), min_size=n, max_size=n))
        for _ in range(bands)
    ]
    is_src = draw(st.lists(st.booleans(), min_size=n, max_size=n))
    return ids, q, codes, is_src


@settings(max_examples=200, deadline=None)
@given(
    rows=_bucketed_rows(),
    m=st.integers(1, 5),
    earlier_only=st.booleans(),
    block=st.sampled_from([1, 5, 1 << 22]),
)
def test_bucket_topm_merge_equals_brute_force(rows, m, earlier_only, block):
    """Per-bucket top-m (sim._bucket_topm) merged per src — union,
    dedup, sort by (d2, dst), first m; the merge banded_topm runs in
    SQL — equals ranking the union of band candidates directly, for
    dst != src and dst < src, at any src chunk size."""
    import numpy as np

    ids, q, codes, is_src = rows
    qa = np.asarray(q, dtype=np.int64)
    ia = np.asarray(ids, dtype=np.int64)
    sa = np.asarray(is_src, dtype=bool)

    def ok(s, d):
        return d < s if earlier_only else d != s

    saved, sim._TOPM_BLOCK = sim._TOPM_BLOCK, block
    try:
        local: dict = {}
        for band in codes:
            for bucket in set(band):
                rows_in = np.flatnonzero(np.asarray(band) == bucket)
                for s, d, d2 in zip(
                    *sim._bucket_topm(
                        ia[rows_in], qa[rows_in], sa[rows_in], m, earlier_only
                    )
                ):
                    assert ok(s, d)
                    local.setdefault(int(s), set()).add((int(d2), int(d)))
    finally:
        sim._TOPM_BLOCK = saved
    got = {s: sorted(c)[:m] for s, c in local.items()}

    want = {}
    for i, s in enumerate(ids):
        if not is_src[i]:
            continue
        cand = {
            (int(((qa[i] - qa[j]) ** 2).sum()), d)
            for j, d in enumerate(ids)
            if ok(s, d) and any(band[i] == band[j] for band in codes)
        }
        if cand:
            want[s] = sorted(cand)[:m]
    assert got == want


def test_knn_graph_rejects_non_integral_ids(spark):
    """A float or string id column fails before any job runs, naming the
    column and its type — in the graph builds and the IVF-PQ paths."""
    corpus = _corpus(spark)
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    graph = dict(dim=64, m=4, n_planes=4, bands=2)
    for cast in ("double", "string"):
        bad = corpus.withColumn("vec_id", F.col("vec_id").cast(cast))
        for build, kwargs in (
            (sim.knn_graph_banded, graph),
            (sim.knn_graph_arrival, graph),
            (sim.knn_graph_index, graph),
            (sim.ivfpq_build_index, {}),
            (sim.topk_ivfpq_indexed_multi, {"queries": [(0, [0] * 64)]}),
        ):
            jobs = dag.numTotalJobs()
            with pytest.raises(ValueError, match=f"'vec_id'.*{cast}"):
                build(bad, **kwargs)
            assert dag.numTotalJobs() == jobs, build.__name__


def test_stale_index_names_missing_ids_and_index(spark):
    """An index built over one corpus and served against a smaller one
    (a stale cache entry) raises StaleIndexError naming the missing ids
    and the index — from the graph beam loop, the driver cosine re-rank
    and the IVF-PQ re-rank alike."""
    import re

    from jhu_data_parser_spark.operators.clustering import quantize_vectors

    e = load_table(spark, SF, "embeddings")
    full = e.filter(F.col("vec_id") != 0)
    half = e.filter((F.col("vec_id") % 2 == 0) & (F.col("vec_id") != 0))
    path = sim.knn_graph_index(
        full, dim=64, m=4, n_planes=4, bands=2, variant="t_stale"
    )
    qq = sim.quantize_unit_vectors(e.filter(F.col("vec_id") == 0))
    with pytest.raises(sim.StaleIndexError, match=re.escape(path)):
        sim.graph_beam_search(
            sim.quantize_unit_vectors(half),
            sim.read_graph_index(spark, path),
            qq.select("q"),
            beam=8,
            hops=2,
            depth=1,
        )

    qv = e.filter(F.col("vec_id") == 0).head()["embedding"]
    with pytest.raises(sim.StaleIndexError, match=r"graph index X.*\[1, 3\]"):
        sim.rerank_cosine_local(
            half, {0: [1, 2, 3]}, {0: qv}, 2, "graph index X"
        )

    queries = [
        (int(r["id"]), [int(v) for v in r["q"]])
        for r in quantize_vectors(e.filter(F.col("vec_id") == 0)).collect()
    ]
    sim.topk_ivfpq_indexed_multi(full, queries, k=5, cache_tag="t_stale")
    with pytest.raises(sim.StaleIndexError, match="cache_tag='t_stale'"):
        sim.topk_ivfpq_indexed_multi(half, queries, k=5, cache_tag="t_stale")
