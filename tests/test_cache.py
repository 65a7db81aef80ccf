"""The artifact cache (jhu_data_parser_spark/cache.py): one key rule,
one bound table and one dir lifecycle for every kind, and every
cached entry point routed through its kind."""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from jhu_data_parser_spark import cache

SF = "/root/testdata/sf0.001"


def _rewrite(path: str, seed: int) -> None:
    """Write ``path`` in place (same name) and push its mtime forward,
    so even a filesystem with coarse timestamps sees a new one."""
    pq.write_table(
        pa.table({"doc_id": list(range(8)), "text": [f"t{seed} {i}" for i in range(8)]}),
        path,
    )
    t = os.stat(path).st_mtime_ns + seed * 1_000_000_000
    os.utime(path, ns=(t, t))


@pytest.mark.parametrize("kind", sorted(cache._BOUNDS))
def test_key_rule_per_kind(spark, tmp_path, monkeypatch, kind):
    """For every kind: (a) a repeat call hits; (b) a same-name in-place
    rewrite rebuilds and deletes the superseded entry's dir; (c) a
    filtered frame is cached only under a tag; (d) an entry evicted for
    capacity keeps its dir until exit. ``table`` keys on its params
    alone (the tables are immutable), so (b) and (c) do not apply."""
    monkeypatch.setitem(cache._ENTRIES, kind, {})
    entries = cache._ENTRIES[kind]
    owns_dir = kind in cache._DIR_KINDS
    builds = []

    def build(*path):
        builds.append(path)
        if owns_dir:
            assert os.path.isdir(path[0])
            return path[0]
        return object()

    def get(df, tag="", params=("p",)):
        return cache.get_or_build(kind, df, params, build, tag)

    if kind == "table":
        first = get(spark)
        assert get(spark) is first and len(builds) == 1
        monkeypatch.setitem(cache._BOUNDS, kind, 1)
        get(spark, params=("q",))
        assert len(entries) == 1 and len(builds) == 2
        assert get(spark) is not first
        return

    corpus = tmp_path / "corpus a"  # URI-escaped by Spark: corpus%20a
    corpus.mkdir()
    path = str(corpus / "docs.parquet")
    _rewrite(path, 1)
    first = get(spark.read.parquet(path))
    assert get(spark.read.parquet(path)) is first and len(builds) == 1  # (a)

    _rewrite(path, 2)  # (b)
    scan = spark.read.parquet(path)
    second = get(scan)
    assert second is not first and len(builds) == 2 and len(entries) == 1
    assert get(scan) is second and len(builds) == 2
    if owns_dir:
        assert not os.path.exists(first)

    flt = scan.filter("doc_id > 1")  # (c)
    get(flt)
    get(flt)
    assert len(builds) == 4 and len(entries) == 1
    tagged = get(flt, tag="t")
    assert get(flt, tag="t") is tagged and len(builds) == 5

    monkeypatch.setitem(cache._BOUNDS, kind, 1)  # (d)
    other = tmp_path / "corpus b"
    other.mkdir()
    _rewrite(str(other / "docs.parquet"), 3)
    get(spark.read.parquet(str(other / "docs.parquet")))
    assert len(entries) == 1
    if owns_dir:
        for evicted in (second, tagged):
            assert os.path.isdir(evicted) and evicted in cache._AT_EXIT


def _entry_points():
    from jhu_data_parser_spark.operators import dedup as dd
    from jhu_data_parser_spark.operators import similarity as sim
    from jhu_data_parser_spark.operators import text
    from jhu_data_parser_spark.plans import pipeline6, pipeline12, pipeline13
    from jhu_data_parser_spark.sources.tables import load_table

    def emb(spark):
        return load_table(spark, SF, "embeddings")

    def docs(spark):
        return load_table(spark, SF, "documents")

    return {
        "ivf_index": lambda s: sim.ivf_build_index(emb(s), n_centroids=4),
        "ivfpq_index": lambda s: sim.ivfpq_build_index(
            emb(s), n_cells=2, coarse_iters=1, pq_k=4, pq_iters=1
        ),
        "knng_index": lambda s: sim.knn_graph_index(
            emb(s), dim=64, m=2, n_planes=2, bands=1
        ),
        "unigram_fit": lambda s: text.unigram_fit(docs(s)),
        "lr_fit": lambda s: text.lr_fit_artifacts(docs(s), steps=1),
        "rep_analysis": lambda s: dd._jaccard_rep_analysis(docs(s)),
        "distinct_probe": lambda s: dd._corpus_is_distinct(docs(s), "text"),
        "v3_frames": lambda s: pipeline13._v3_frames(s, SF),
        "pq_fit": lambda s: pipeline6._pq_adc_over(s, emb(s), cache_tag="t"),
        "table": lambda s: load_table(s, SF, "documents"),
        "binsrc": lambda s: pipeline12.source_binaryfile_ingest(s, SF),
    }


def test_every_kind_has_an_entry_point():
    assert set(_entry_points()) == set(cache._BOUNDS)


@pytest.mark.parametrize("kind", sorted(cache._BOUNDS))
def test_entry_point_routes_through_its_kind(spark, monkeypatch, kind):
    """The cached entry point of each kind lands one entry in it, and a
    repeat call serves that entry: no rebuild, no Spark job."""
    monkeypatch.setitem(cache._ENTRIES, kind, {})
    entries = cache._ENTRIES[kind]
    call = _entry_points()[kind]
    call(spark)
    assert len(entries) == 1
    (key, entry), = entries.items()
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    jobs = dag.numTotalJobs()
    call(spark)
    assert dag.numTotalJobs() == jobs
    assert list(entries) == [key] and entries[key] is entry


def test_pq_fit_refits_after_rewrite_under_escaped_path(spark, tmp_path):
    """Spark's inputFiles() URL-escapes paths (``a%20b``). The key rule
    decodes them before the stat, so a same-name in-place rewrite under
    a path with a space refits the PQ codebook and serves the fresh
    query vector, and a repeat call on unchanged files still hits."""
    from jhu_data_parser_spark.operators.clustering import quantize_vectors
    from jhu_data_parser_spark.plans.pipeline6 import _pq_adc_over

    corpus = tmp_path / "a b"
    corpus.mkdir()
    path = str(corpus / "embeddings.parquet")

    def write(seed: int) -> None:
        rng = np.random.RandomState(seed)
        pq.write_table(
            pa.table(
                {
                    "vec_id": list(range(80)),
                    "embedding": [list(rng.standard_normal(64)) for _ in range(80)],
                }
            ),
            path,
        )

    def query_ints(emb) -> list:
        return list(quantize_vectors(emb.filter("vec_id = 0")).first()["q"])

    write(1)
    emb1 = spark.read.parquet(path)
    _, q1 = _pq_adc_over(spark, emb1, cache_tag="t_escaped")
    assert q1 == query_ints(emb1)
    assert _pq_adc_over(spark, spark.read.parquet(path), cache_tag="t_escaped")[1] is q1

    write(2)
    emb2 = spark.read.parquet(path)
    _, q2 = _pq_adc_over(spark, emb2, cache_tag="t_escaped")
    assert q2 != q1
    assert q2 == query_ints(emb2)
    assert _pq_adc_over(spark, spark.read.parquet(path), cache_tag="t_escaped")[1] is q2
