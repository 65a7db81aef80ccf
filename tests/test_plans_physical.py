"""Physical-plan assertions (the 100 TB posture checks): filters and
projections reach the parquet scan, dims broadcast, aggregates have a
map-side partial phase, top-k compiles to TakeOrderedAndProject, and the
hot paths stay inside WholeStageCodegen."""

from __future__ import annotations

import re

import pytest

from jhu_data_parser_spark import plans
from tests.conftest import SF_SMOKE


def _plan(spark, name: str, execute: bool = False) -> str:
    df = plans.QUERIES[name](spark, SF_SMOKE)
    if execute:
        # AQE finalizes the physical plan only during execution
        # (isFinalPlan=false before), so codegen markers appear after.
        df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_reaches_scan(spark):
    plan = _plan(spark, "filter_pushdown")
    assert "PushedFilters: [" in plan
    assert "IsNotNull(l_quantity)" in plan or "GreaterThan(l_quantity" in plan
    # Column pruning: the scan must read only the needed columns.
    assert "l_extendedprice" not in plan


def test_star_join_broadcasts_dims(spark):
    plan = _plan(spark, "join_revenue_by_nation")
    assert plan.count("BroadcastHashJoin") >= 3, plan[:2000]
    # The big fact-side join may be SMJ/SHJ at scale; at tiny SF AQE can
    # broadcast it too — just require no cartesian/nested-loop.
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_agg_has_partial_phase(spark):
    plan = _plan(spark, "agg_pricing_summary", execute=True)
    assert "partial_" in plan  # map-side combine before the exchange
    assert "*(1)" in plan  # '*(n)' = WholeStageCodegen stage markers


def test_window_topk_per_group_is_limited_before_shuffle(spark):
    """filter(rank <= k) compiles to WindowGroupLimit Partial/Final —
    each map task forwards at most k rows per key to the shuffle."""
    plan = _plan(spark, "window_rank_top_customers")
    assert plan.count("WindowGroupLimit") == 2  # Partial + Final
    assert "Partial" in plan and "Final" in plan


def test_topk_is_take_ordered(spark):
    plan = _plan(spark, "sort_top_orders")
    assert "TakeOrderedAndProject" in plan
    assert "Sort " not in plan.replace("TakeOrderedAndProject", "")


def test_range_join_is_hash_not_nested_loop(spark):
    """The bucketed range join must plan as an equi hash join, not a
    nested loop — that's the whole point of the bucketing."""
    plan = _plan(spark, "join_range_followup_events")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert ("SortMergeJoin" in plan) or ("BroadcastHashJoin" in plan) or (
        "ShuffledHashJoin" in plan
    )


def test_bucketed_join_is_exchange_free(spark):
    """Both sides bucketed+sorted on the join key ⇒ the merge join reads
    co-located buckets with NO shuffle — the layout shuffle is paid once
    at write time, not per query."""
    from jhu_data_parser_spark.plans.extra import _bucketed_join_pair

    j = _bucketed_join_pair(spark, SF_SMOKE)
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan
    assert "Exchange" not in plan
    assert "Bucketed: true" in plan
    assert "SelectedBucketsCount" in plan


def test_dynamic_partition_pruning_on_partitioned_fact(spark, tmp_path):
    """A partition-layout fact joined to a filtered dim must scan only
    the partitions the dim selects (DPP) — at 100 TB this is the
    difference between reading one day and reading the decade."""
    from pyspark.sql import functions as F

    from jhu_data_parser_spark.sources.tables import load_table

    out = str(tmp_path / "fact_by_status")
    o = load_table(spark, SF_SMOKE, "orders")
    o.write.partitionBy("o_orderstatus").parquet(out, mode="overwrite")
    fact = spark.read.parquet(out)
    dim = spark.createDataFrame(
        [("O", "open"), ("F", "filled"), ("P", "pending")], "st string, label string"
    )
    j = fact.join(dim.filter(F.col("label") == "open"), fact.o_orderstatus == dim.st)
    j.write.format("noop").mode("overwrite").save()
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruningexpression" in plan.lower()


def test_graph_hop_join_prunes_edge_partitions(spark, monkeypatch):
    """The graph-ANN hop fetch must prune the src-keyed edge layout:
    knn_graph_index writes partitionBy(src_pt = pmod(src, B)), and
    _fetch_adjacency filters the partition column with the frontier's
    buckets (known driver-side), so the edge scan carries a static
    planning-time PartitionFilters entry — at 100 TB each hop reads
    O(beam) file groups of an n·m-row edge table, not the whole table
    (r12 verdict item 4)."""
    import os
    import re

    from pyspark.sql import functions as F

    from jhu_data_parser_spark.operators import similarity as sim
    from jhu_data_parser_spark.sources.tables import load_table

    e = load_table(spark, SF_SMOKE, "embeddings")
    path = sim.knn_graph_index(
        e.filter(F.col("vec_id") != 0),
        dim=64,
        m=4,
        n_planes=4,
        bands=2,
        cache_tag="t_dpp",
        src_buckets=8,
    )
    # the layout on disk IS the src-keyed one the docstring promises
    assert any(d.startswith("src_pt8=") for d in os.listdir(path))
    edges = sim.read_graph_index(spark, path)
    scans = []
    real_id_filter = sim._id_filter

    def spy(df, col, ids):
        scans.append(df)
        return real_id_filter(df, col, ids)

    monkeypatch.setattr(sim, "_id_filter", spy)
    adj = sim._fetch_adjacency(edges, [3, 13])  # buckets 3 and 5
    assert len(scans) == 1
    plan = scans[0]._jdf.queryExecution().executedPlan().toString()
    pf = re.findall(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert pf and "src_pt8" in pf[0] and "IN (3,5)" in pf[0]
    want: dict = {}
    for r in edges.filter(F.col("src").isin(3, 13)).collect():
        want.setdefault(r["src"], []).append(r["dst"])
    assert {k: sorted(v) for k, v in adj.items()} == {
        k: sorted(v) for k, v in want.items()
    }
    assert adj


def test_asof_join_is_one_shuffle(spark):
    """The union+window as-of construction must cost exactly ONE hash
    exchange (on the key) — the whole point vs a non-equi nested loop."""
    plan = _plan(spark, "join_asof_last_click")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_salted_agg_is_two_stage(spark):
    """Salted aggregation: phase 1 groups on (key, salt), phase 2 on the
    key — two exchanges, four HashAggregates (partial+final each), hot
    keys spread across salt_buckets reducers."""
    plan = _plan(spark, "agg_salted_skew")
    assert "__salt" in plan
    assert plan.count("Exchange hashpartitioning") == 2
    assert plan.count("HashAggregate") == 4


def test_scalar_battery_single_stage(spark):
    """Pure scalar queries must be one codegen'd scan stage — no
    exchange, no Python."""
    for name in ("scalar_string_funcs", "scalar_date_funcs", "scalar_case_bucket"):
        plan = _plan(spark, name)
        assert "Exchange" not in plan, name
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, name


def test_sessionize_is_one_exchange(spark):
    """Both windows (lag, prefix sum) and the session aggregation must
    reuse the single user_id hash partitioning — one fact shuffle total."""
    plan = _plan(spark, "events_sessionize")
    assert plan.count("Exchange hashpartitioning") == 1, plan[:2000]
    assert plan.count("Window ") == 2


def test_chunking_is_shuffle_free(spark):
    plan = _plan(spark, "text_chunk_documents")
    assert "Exchange" not in plan, plan[:2000]
    assert "Generate posexplode" in plan
    # column pruning: chunking needs only (doc_id, text)
    assert "n_chars" not in plan and "lang" not in plan


def test_trailing_window_is_range_frame(spark):
    plan = _plan(spark, "window_trailing_30d_spend")
    assert "RangeFrame" in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_trend_partials_are_map_side(spark):
    plan = _plan(spark, "agg_spend_trend_per_customer")
    assert "partial_sum" in plan  # integer partials combine before shuffle
    assert plan.count("Exchange hashpartitioning") == 2  # (cust,day) then cust


def test_zscore_stats_join_is_broadcast(spark):
    plan = _plan(spark, "events_zscore_outliers")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_runtime_bloom_filter_prunes_fact_side(spark):
    """Runtime (bloom-filter) row pruning: a selective dim filter
    injects a bloom_filter_agg built from the dim keys into the fact
    scan side of a shuffle join. Default-on in this Spark; the 10 GB
    application-side scan threshold means it only engages at real scale
    — this test lowers the threshold to pin the MECHANISM, which is the
    100 TB behavior (fact rows failing the bloom test drop before the
    shuffle)."""
    from pyspark.sql import functions as F

    from jhu_data_parser_spark.sources.tables import load_table

    prev = {
        k: spark.conf.get(k)
        for k in (
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "0",
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force SMJ
        li = load_table(spark, SF_SMOKE, "lineitem")
        o = load_table(spark, SF_SMOKE, "orders").filter(
            F.col("o_totalprice") > 500000
        )
        j = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "bloom_filter_agg" in plan, plan[:2000]
        assert "might_contain" in plan.lower() or "BloomFilter" in plan
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


def test_triangle_count_materializes_edges_once(spark):
    """The oriented edge set feeds four plan arms; the checkpoint must
    cut the upstream fact-table derivation out of the query plan (no
    re-derivation per arm) and triangle-corner counting must be one
    explode pass, not three unionAll scans."""
    plan = _plan(spark, "graph_triangle_count")
    assert "lineitem.parquet" not in plan  # edges materialized, not re-derived
    assert "Generate explode" in plan
    # exactly one Union (the nodes arm: und.a ∪ und.b) — the triangle
    # corner scan must NOT be a 3-way unionAll over tri
    assert plan.count("Union") == 1


def test_pagerank_rank_table_stays_checkpointed(spark):
    """Each PageRank iteration must start from the checkpointed |V|-row
    rank table: the final plan is a read of the last checkpoint, not a
    5-iteration join tower over the fact tables."""
    plan = _plan(spark, "graph_pagerank_trade")
    assert "lineitem.parquet" not in plan
    assert "Scan ExistingRDD" in plan
    assert "Join" not in plan  # the returned frame IS the checkpointed result


def test_kmeans_assignment_never_shuffles_points(spark):
    """The k-means assignment must be a codegen argmin against a
    broadcast centroid array: the embeddings scan feeds the projection
    directly — no Exchange on the point-table side, column-pruned scan,
    and the only exchanges belong to the tiny k-row centroid fold."""
    plan = _plan(spark, "cluster_kmeans_embeddings")
    assert "BroadcastExchange" in plan  # centroid array rides a broadcast
    scan_branch = plan.split("BroadcastExchange")[0]
    assert "Exchange" not in scan_branch  # points: scan → project, no shuffle
    assert "ReadSchema: struct<vec_id:bigint,embedding:array<float>>" in plan


def test_interval_overlap_join_is_equi_on_bucket(spark):
    """The session-concurrency interval join must compile to an EQUI
    join on the hour bucket (hash or sort-merge; overlap predicate as a
    residual filter) — never a nested-loop/cartesian pair scan."""
    plan = _plan(spark, "events_session_concurrency")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert ("BroadcastHashJoin [bucket" in plan) or (
        "SortMergeJoin [bucket" in plan
    )


def test_pack_sequences_single_exchange(spark):
    """Offset packing: the running-sum window (partitionBy lang) and the
    pack aggregate (groupBy lang, pack_id) must share ONE exchange —
    partial aggregation happens on the window's partitioning."""
    plan = _plan(spark, "text_pack_sequences")
    assert plan.count("Exchange hashpartitioning") == 1


def test_repetition_signals_is_shuffle_free(spark):
    """The per-row run-length formulation must compile to a pure codegen
    projection: zero exchanges, no explode-driven Generate."""
    plan = _plan(spark, "text_repetition_signals")
    assert "Exchange" not in plan
    assert "Generate" not in plan


def test_bm25_is_single_pass_topk(spark):
    """BM25 scoring: per-partition partial top-k (TakeOrderedAndProject),
    corpus stats broadcast back (no shuffle of the corpus rows for the
    stats join), no explode of the token arrays."""
    plan = _plan(spark, "text_bm25_search")
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "Generate" not in plan
    # The only non-broadcast exchange is the 1-row stats aggregate's.
    import re
    wide = [ln for ln in plan.splitlines()
            if re.search(r"\bExchange hashpartitioning", ln)]
    assert not wide, wide


def test_scd2_is_single_exchange(spark):
    """Change-flag window, version cumsum, per-version agg, and the
    valid_to lead window all cluster on user_id: HashPartitioning(user_id)
    satisfies every downstream distribution, so exactly ONE
    hash-partitioning exchange appears."""
    plan = _plan(spark, "scd2_event_state_history")
    import re
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1, plan[:3000]


def test_curation_funnel_is_one_wide_shuffle(spark):
    """One scan, one md5-key window shuffle, one 1-row aggregate — the
    funnel must not rescan per stage (no union of 4 scan branches)."""
    plan = _plan(spark, "pipeline_curation_funnel")
    import re
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1, plan[:3000]
    assert plan.count("Scan parquet") == 1, plan.count("Scan parquet")


def test_minhash_pairs_have_no_distinct_exchange(spark):
    """First-colliding-band emission removed the terminal distinct()
    over the pair set: the only hash partitioning keys in the candidate
    plan are the bucket keys (band, band_hash/chunk) — never the pair
    ids. (The old plan had `Exchange hashpartitioning(id_a, id_b...)`.)"""
    for name in ("dedup_minhash_candidates", "multimodal_phash_near_pairs"):
        plan = _plan(spark, name)
        assert "hashpartitioning(id_a" not in plan, name


def test_portable_banded_pipelines_single_bucket_exchange(spark):
    """The oracle-paired portable MinHash/SimHash pipelines keep the
    production plan shape: exchanges keyed only by the bucket key for
    candidate generation, never an exchange keyed by the pair ids.
    (Verification joins add broadcast exchanges, not pair-key hashes.)"""
    for name in ("dedup_minhash_portable_pairs", "dedup_simhash_portable_candidates"):
        plan = _plan(spark, name)
        assert "hashpartitioning(id_a" not in plan, name


def test_banded_self_join_is_density_proof_shape(spark):
    """The r05 banded self-join rework pinned: candidate generation for
    every Hamming/LSH family is an equi-join on the bucket key — no
    cartesian/NLJ, no collect_list bucket aggregation (the structure
    that held whole-bucket arrays per anchor row and OOM'd at 10×
    duplicate density), and no exchange keyed by pair ids."""
    for name in (
        "dedup_near_pairs",
        "dedup_simhash_candidates",
        "dedup_simhash_portable_candidates",
        "multimodal_phash_near_pairs",
        "multimodal_phash_png_near_pairs",
    ):
        plan = _plan(spark, name)
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name
        assert "collect_list" not in plan, name
        assert "hashpartitioning(id_a" not in plan, name


def test_ivf_cell_layout_prunes_partitions(spark, tmp_path):
    """The IVF scale claim made concrete: written partitionBy(cell), the
    probed-cell IN-list becomes partition PRUNING — the scan lists only
    the probed cell directories (n_probe/K of a 100 TB index), and the
    pruned scan returns exactly what the inline cell filter returns."""
    from pyspark.sql import functions as F

    from jhu_data_parser_spark.operators import similarity as sim
    from jhu_data_parser_spark.sources.tables import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings")
    cent = sim.ivf_fit_centroids(emb, n_centroids=8, sample_size=10_000)
    assigned = sim.ivf_assign(emb, cent)
    out = str(tmp_path / "ivf_index")
    assigned.write.partitionBy("cell").parquet(out, mode="overwrite")

    index = spark.read.parquet(out)
    n_cells = len({f.rsplit("/cell=", 1)[1].split("/")[0] for f in index.inputFiles()})
    assert n_cells > 2  # the corpus actually spans cells
    probe = [0, 3]
    pruned = index.filter(F.col("cell").isin(probe))
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [cell" in plan

    # the physical proof: the executed scan's numFiles metric counts only
    # the probed cell directories (inputFiles() reflects the UNfiltered
    # relation — pruning happens at scan planning, so assert on metrics).
    # metrics belong to THIS DataFrame's query execution — materialize
    # pruned itself (a derived .select() would execute a separate plan).
    got = {r["vec_id"] for r in pruned.collect()}
    scan = pruned._jdf.queryExecution().executedPlan().collectLeaves().apply(0)
    n_files_pruned = scan.metrics().apply("numFiles").value()
    assert n_files_pruned < len(index.inputFiles())
    probed_dirs = [f for f in index.inputFiles() if "/cell=0/" in f or "/cell=3/" in f]
    assert n_files_pruned == len(probed_dirs)

    # and the layout path is semantics-preserving vs the inline filter
    want = {
        r["vec_id"]
        for r in assigned.filter(F.col("cell").isin(probe)).select("vec_id").collect()
    }
    assert got == want and got


def test_jaccard_prefix_pairs_plan_shape(spark):
    """The exact-Jaccard prefix-filter join must never fall back to a
    cartesian/NLJ shape, and candidate generation must be the single
    bucket-grouped pass (no dual-lineage self-join recomputing the
    freq+prefix pipeline on both sides)."""
    plan = _plan(spark, "dedup_jaccard_prefix_pairs")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # freq agg + per-doc regroup + shingle bucket + pair distinct; the
    # verify joins broadcast at test scale (SMJ adds exchanges at real
    # scale, keyed on ids — fine). More than 6 means a lineage fork
    # reintroduced a duplicate pipeline.
    assert plan.count("Exchange hashpartitioning") <= 6
    assert plan.count("ArrowEvalPython") == 0


def test_shared_span_pairs_exchange_keys(spark):
    """The span-dedup plan (post exact-collapse, r05): shuffles keyed
    only by the gram key (bucket grouping), the pair key (position
    aggregation), and the collapse/expansion group key — never by
    positions, and never a cartesian/NLJ. The representative pipeline
    itself stays generator-free of pair-id exchanges."""
    import re

    plan = _plan(spark, "dedup_shared_span_pairs")
    keys = set(re.findall(r"Exchange hashpartitioning\((\w+)", plan))
    assert keys <= {"gh", "id_a", "id_b", "rep", "member", "h1", "h2", "doc_id"}, keys
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "hashpartitioning(pos" not in plan


def test_scd2_incremental_reads_each_side_once(spark):
    """The incremental merge must not re-scan the fact log per consumer:
    history and batch runs are checkpointed (the stored-dimension-table
    stand-in), so the merge plan itself contains NO parquet scans and
    the untouched-user prune is a broadcast anti join."""
    plan = _plan(spark, "scd2_incremental_merge")
    assert plan.count("Scan parquet") == 0, plan.count("Scan parquet")
    assert "BroadcastHashJoin" in plan  # semi + anti prune on user set
    assert "SortMergeJoin" not in plan


def test_unigram_buckets_vocab_is_broadcast(spark):
    """The vocab join must be broadcast (vocab ≪ corpus by Zipf): the
    exploded token stream is never shuffled on the token key for the
    probe side — only the vocab build itself groups on tok."""
    plan = _plan(spark, "text_unigram_freq_buckets")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_incremental_dedup_probe_joins_are_hash(spark):
    """New-batch probing against the stored signature index: the band
    join and both verify joins must be hash joins (broadcast at this
    scale), never a sort-merge or nested loop, and the signature
    pipeline feeds both sides from one pass."""
    plan = _plan(spark, "dedup_incremental_vs_index")
    assert "SortMergeJoin" not in plan
    assert "NestedLoopJoin" not in plan and "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 3


def test_bpe_encode_vocab_join_is_broadcast(spark):
    """The encoded distinct-word table joins back to word instances as a
    broadcast (vocab ≪ corpus); the merge applications are string
    replaces, not a per-word join per merge."""
    plan = _plan(spark, "text_bpe_encode")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_full_outer_join_is_smj_on_aggregates(spark):
    """Full outer cannot broadcast — it must be a sort-merge join, and
    it must run over the two AGGREGATED daily series (two scans, the
    join above both aggs), never a fact-sized outer join."""
    plan = _plan(spark, "join_full_outer_daily_activity")
    assert plan.count("SortMergeJoin FullOuter") == 1 or "FullOuter" in plan
    assert "NestedLoopJoin" not in plan
    assert plan.count("Scan parquet") == 2


def test_kmv_bottomk_exchanges_are_keyed_right(spark):
    """KMV sketch build: one exchange for the (event_type, user_id)
    distinct, one event_type-clustered sort for the bottom-k window; the
    final aggregate reuses the window's partitioning (no third wide
    exchange)."""
    import re

    plan = _plan(spark, "agg_kmv_distinct_users")
    keys = re.findall(r"Exchange hashpartitioning\((\w+)", plan)
    assert sorted(set(keys)) == ["event_type"], keys
    # distinct + window clustering — never an exchange keyed by the hash
    assert "WindowGroupLimit" in plan or "Window" in plan


def test_cms_sketch_probe_is_broadcast(spark):
    """The CMS probe joins 20 candidates against <= d*w sketch cells:
    both the candidate semi-join and the sketch join must broadcast —
    the only wide exchange is the shared token-count shuffle."""
    plan = _plan(spark, "agg_cms_heavy_hitters")
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_bloom_probe_joins_are_broadcast(spark):
    """The bloom word dim (<= 16384 rows) must broadcast for all three
    bit-position probes — the map-side prune is only free if no probe
    shuffles the fact side."""
    plan = _plan(spark, "join_bloom_filtered_revenue")
    assert plan.count("BroadcastHashJoin") >= 3
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_pit_join_is_union_window_not_range_join(spark):
    """The point-in-time join must compile to the union + forward-fill
    window (user_id-clustered exchanges only), never a range/interval
    join (no nested loop, no join at all above the union)."""
    import re

    plan = _plan(spark, "join_temporal_pit_state")
    assert "Join" not in plan, "PIT must be union+window, not a join"
    keys = re.findall(r"Exchange hashpartitioning\((\w+)", plan)
    assert set(keys) == {"user_id"}, keys


def test_source_cap_is_windowgrouplimit(spark):
    """The per-source cap must push rn <= cap into the window sort as a
    per-group top-k (WindowGroupLimit Partial+Final) — per-source state
    is O(cap), not O(group)."""
    plan = _plan(spark, "sample_per_source_cap")
    assert plan.count("WindowGroupLimit") == 2
    assert plan.count("Scan parquet") == 1


def test_histogram_quantiles_probe_is_broadcast(spark):
    """The quantile probe joins 3 target rows against <= 256 cumulative
    bins — broadcast, never a sort-merge; the only wide exchange is the
    <= 256-bin histogram aggregate."""
    plan = _plan(spark, "agg_histogram_quantiles")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_pq_serving_never_joins_the_vector_table(spark):
    """PQ serving must be scan + broadcast lookups + top-k: no
    sort-merge join anywhere (the only joins are 1-row broadcast
    cross joins carrying centroid arrays and LUTs), and the top-10
    compiles to TakeOrderedAndProject."""
    plan = _plan(spark, "sim_pq_topk")
    assert "SortMergeJoin" not in plan
    assert "TakeOrderedAndProject" in plan


def test_global_rank_is_distributed_prefix_sum(spark):
    """The customer-rank query must compile to the two-level prefix-sum
    shape: a range-partitioned exchange for the global ordering, NO
    single-partition window over the point set (the only empty-
    partitionBy window is the ≤n_parts-row offsets frame), and no
    cartesian/NLJ anywhere."""
    plan = _plan(spark, "window_global_rank_distributed")
    # The split rides a LOGICAL bucket id (quantile-literal CASE chain
    # — a pure function of the row, so the offsets branch re-evaluates
    # safely with NO checkpoint materialization): the running-sum
    # window must partition by __bucket (never an empty partitionBy
    # over the point set), offsets ride a broadcast, and exactly ONE
    # SinglePartition exchange exists (the ≤n_parts-row totals frame).
    assert "windowspecdefinition(__bucket" in plan, plan[:2000]
    assert "localCheckpoint" not in plan and "ExistingRDD" not in plan
    assert "BroadcastHashJoin" in plan
    assert plan.count("Exchange SinglePartition") == 1
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_boilerplate_removal_is_broadcast_anti_join(spark):
    """The boilerplate-line strip must be a BROADCAST left-anti join —
    the boilerplate set is small by construction, so document payloads
    must never shuffle for the removal itself."""
    plan = _plan(spark, "text_boilerplate_lines")
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan[:2000]
    assert "CartesianProduct" not in plan


def test_containment_has_no_pair_scan(spark):
    """Containment candidates must come from the shingle equi-join
    (prefix postings × inverted index) — never a quadratic pair scan."""
    plan = _plan(spark, "dedup_containment_pairs")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_dsir_weight_table_is_broadcast(spark):
    """DSIR scoring must broadcast the ≤B-row log-ratio table back onto
    the feature stream (never shuffle the corpus for the lookup), keep
    the corpus totals a 1-row broadcast, and take the resample top-K as
    TakeOrderedAndProject — no global sort, no cartesian."""
    plan = _plan(spark, "curation_dsir_weights")
    assert "BroadcastHashJoin" in plan, plan[:2000]
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_semdedup_pairs_form_within_cluster_only(spark):
    """SemDeDup candidates must come from the cluster-key equi-join —
    never a corpus-wide pair scan (no cartesian/NLJ over the vectors;
    the only nested-loop is the 1-row kmeans-probe broadcast)."""
    plan = _plan(spark, "curation_semdedup_prune")
    assert "CartesianProduct" not in plan
    # Pair candidates ride the cluster-key equi-join …
    assert "SortMergeJoin [cid" in plan or "ShuffledHashJoin [cid" in plan
    # … and the only nested-loops are the broadcast-centroid argmin
    # attaches from kmeans_assign (1-row array side, one per appearance
    # of the clustered-corpus subtree: two pair sides + the keep-count
    # outer join; AQE ReusedExchange collapses them at runtime) — never
    # a vector-vector pair scan.
    assert plan.count("BroadcastNestedLoopJoin") <= 3, plan[:3000]


def test_rrf_sides_are_partial_topk(spark):
    """Both RRF shortlists must compile to TakeOrderedAndProject
    (per-partition partial top-k); the rank windows may only run on the
    bounded shortlists, so no corpus-wide SinglePartition sort feeds a
    window."""
    plan = _plan(spark, "retrieval_rrf_hybrid")
    assert plan.count("TakeOrderedAndProject") >= 2, plan[:3000]
    assert "CartesianProduct" not in plan


def test_blocklist_is_broadcast_dim(spark):
    """The domain blocklist must broadcast into the corpus scan (real
    lists are MB-scale) — never shuffle the corpus on the domain key,
    never a cartesian."""
    plan = _plan(spark, "text_domain_blocklist_filter")
    assert "BroadcastHashJoin" in plan, plan[:2000]
    assert "CartesianProduct" not in plan


def test_bigram_perplexity_scale_shape(spark):
    """The perplexity plan may broadcast the tiny local bigram table,
    but must never compile a cartesian or a corpus-wide nested loop
    beyond the 1-row vocab-size attach."""
    plan = _plan(spark, "text_bigram_perplexity")
    assert "CartesianProduct" not in plan
    # the only nested loops are the 1-row scalar attaches (V, totals)
    assert plan.count("BroadcastNestedLoopJoin") <= 2, plan[:3000]


def test_hard_negatives_shortlist_shape(spark):
    """Both ranker sides must be partial top-k (TakeOrderedAndProject);
    the exact-cosine refine must join the ≤50-row shortlist back into
    the embedding scan as a broadcast, never rank the corpus."""
    plan = _plan(spark, "retrieval_hard_negatives")
    assert plan.count("TakeOrderedAndProject") >= 2, plan[:3000]
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_ivfpq_exhaustive_probe_degrades_to_exact(spark):
    """With n_probe == n_cells AND shortlist >= corpus, the composed
    index's re-rank arm returns exactly the exact integer-L2 top-k —
    the graceful-degradation property the IVF query gates, proven for
    the composition."""
    from pyspark.sql import functions as F

    from jhu_data_parser_spark.operators import similarity as sim
    from jhu_data_parser_spark.operators.clustering import quantize_vectors
    from jhu_data_parser_spark.sources.tables import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings")
    db = emb.filter(F.col("vec_id") != 0)
    q_ints = [
        int(v)
        for v in quantize_vectors(emb.filter(F.col("vec_id") == 0))
        .select("q")
        .first()["q"]
    ]
    approx = sim.topk_ivfpq_indexed_multi(
        db,
        [(0, q_ints)],
        k=10,
        n_probe=8,
        shortlist=10_000,
        cache_tag="plan_test",
    ).select("vec_id", "exact_dist")
    got = [(r["vec_id"], r["exact_dist"]) for r in approx.collect()]

    q_lit = "array(" + ",".join(str(v) + "L" for v in q_ints) + ")"
    exact = (
        quantize_vectors(db)
        .select(
            "id",
            F.expr(
                f"aggregate(zip_with(q, {q_lit}, (a, b) -> (a - b) * (a - b)), "
                "CAST(0 AS BIGINT), (acc, x) -> acc + x)"
            ).alias("d"),
        )
        .orderBy("d", "id")
        .limit(10)
    )
    want = [(r["id"], r["d"]) for r in exact.collect()]
    assert got == want


def _leaf_nodes(node) -> list:
    """The leaves of an executed physical plan, looking through AQE's
    wrapper and its query stages."""
    name = node.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        return _leaf_nodes(node.executedPlan())
    if name.endswith("QueryStageExec"):
        return _leaf_nodes(node.plan())
    kids = node.children()
    if kids.size() == 0:
        return [node]
    return [leaf for i in range(kids.size()) for leaf in _leaf_nodes(kids.apply(i))]


def _ivfpq_index_scans(df) -> set:
    """The distinct IVF-PQ index scans of ``df``'s executed plan, after
    checking each is partition-pruned on ``cell`` and reads codes only —
    no vectors, and no base-corpus scan at all."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [cell" in plan
    # AQE prints the same physical scan node in both the stage tree and
    # the final-plan section — dedupe scans by their attribute-id lists
    # (exprIds are unique per scan INSTANCE, shared across reprints).
    scans = set(re.findall(r"FileScan parquet \[([^\]]*)\]", plan))
    idx_scans = {s for s in scans if "code0" in s}
    assert all("embedding" not in s for s in idx_scans)
    assert not any("embedding" in s for s in scans)
    return idx_scans


def test_ivfpq_index_prunes_partitions_and_columns(spark):
    """The composed IVF-PQ layout's two scale claims made physical for a
    single query: (a) the probed-cell IN-list becomes partition PRUNING
    over the partitionBy(cell) index (the executed scan's numFiles
    counts only the n_probe probed cells' files), and (b) the index scan
    reads ONLY the code columns — the float vectors aren't in the index
    at all, so the ADC stage never touches them."""
    from pyspark.sql import functions as F

    from jhu_data_parser_spark.operators import similarity as sim
    from jhu_data_parser_spark.operators.clustering import quantize_vectors
    from jhu_data_parser_spark.sources.tables import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings")
    db = emb.filter(F.col("vec_id") != 0)
    q_ints = [
        int(v)
        for v in quantize_vectors(emb.filter(F.col("vec_id") == 0))
        .select("q")
        .first()["q"]
    ]
    served = sim.topk_ivfpq_indexed_multi(
        db, [(0, q_ints)], k=10, n_probe=3, cache_tag="plan_test"
    )
    assert len(served.collect()) == 10

    path, coarse, books = sim.ivfpq_build_index(db, cache_tag="plan_test")
    index = spark.read.parquet(path)
    short = sim.ivfpq_shortlist(index, coarse, books, [(0, q_ints)], n_probe=3)
    # collect, not count: the metrics belong to this frame's own execution
    assert len(short.collect()) == 50
    assert len(_ivfpq_index_scans(short)) == 1
    cell_d = sorted(
        (sum((qi - ci) ** 2 for qi, ci in zip(q_ints, c)), cid)
        for cid, c in enumerate(coarse)
    )
    probed_files = [
        f
        for f in index.inputFiles()
        if any(f"/cell={cid}/" in f for _d, cid in cell_d[:3])
    ]
    assert 0 < len(probed_files) < len(index.inputFiles())
    scans = [
        leaf
        for leaf in _leaf_nodes(short._jdf.queryExecution().executedPlan())
        if "code0" in leaf.toString()
    ]
    assert len(scans) == 1
    assert scans[0].metrics().apply("numFiles").value() == len(probed_files)


def test_ivfpq_multi_single_scan_and_pruning(spark):
    """IVF-PQ batch serving: the distributed ADC shortlist is ONE
    pruned index scan shared by the whole query batch (not one per
    query), pruned to the union of all probed cells and reading only the
    code columns. The returned serve frames (batch, single, streamed)
    are driver-computed — NO corpus scan rides the re-rank (the
    shortlist ids' vectors arrive via a bounded id-pruned fetch)."""
    from pyspark.sql import functions as F

    from jhu_data_parser_spark.operators import similarity as sim
    from jhu_data_parser_spark.operators.clustering import quantize_vectors
    from jhu_data_parser_spark.plans.pipeline13 import _IPM_NQUERIES
    from jhu_data_parser_spark.sources.tables import load_table

    def quantized(frame):
        return sorted(
            (int(r["id"]), [int(v) for v in r["q"]])
            for r in quantize_vectors(frame).select("id", "q").collect()
        )

    emb = load_table(spark, SF_SMOKE, "embeddings")
    corpus = emb.filter(F.col("vec_id") >= _IPM_NQUERIES)
    queries = quantized(emb.filter(F.col("vec_id") < _IPM_NQUERIES))
    path, coarse, books = sim.ivfpq_build_index(
        corpus, cache_tag="embeddings_ivfpq_multi"
    )
    short = sim.ivfpq_shortlist(spark.read.parquet(path), coarse, books, queries)
    short.collect()
    # exactly ONE index scan for the whole batch
    assert len(_ivfpq_index_scans(short)) == 1

    # the serve results are driver-resident: no parquet scan at all
    for name, n_rows in (
        ("sim_cosine_topk_ivfpq_multi", 50),  # 5 queries x top-10
        ("sim_cosine_topk_ivfpq", 10),
        ("stream_ivfpq_index_append", 10),
    ):
        out = plans.QUERIES[name](spark, SF_SMOKE)
        assert len(out.collect()) == n_rows, name
        serve_plan = out._jdf.queryExecution().executedPlan().toString()
        assert "FileScan parquet" not in serve_plan, name


def test_binary_topk_shape(spark):
    """Binary ANN: the Hamming shortlist must compile to
    TakeOrderedAndProject (no full sort of the corpus) and the exact
    re-rank must broadcast the shortlist side — the full vectors never
    shuffle."""
    plan = _plan(spark, "sim_cosine_topk_binary")
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_zorder_layout_scan_count(spark):
    """Z-order layout analysis reads the orders fact exactly twice
    (layout assignment + box matching) — the probe-box and layout dims
    ride as broadcast literals, never as shuffle sides."""
    plan = _plan(spark, "layout_zorder_pruning")
    assert plan.count("Scan parquet") <= 2, plan[:3000]
    assert "CartesianProduct" not in plan


def test_shuffle_shards_single_pass(spark):
    """Shard assignment is ONE scan + ONE hash aggregation — no global
    sort, no window, no row_number."""
    plan = _plan(spark, "sample_shuffle_shards")
    assert plan.count("Scan parquet") == 1
    assert "Window" not in plan
    # a global sort on the key would betray a row_number-style assignment
    import re

    assert not re.search(r"Sort \[hkey", plan), plan[:3000]


def test_binary_multi_single_scan_and_group_limit(spark):
    """Batch binary serving: the whole 5-query batch reads the corpus
    signatures with a bounded number of scans (shortlist + re-rank,
    AQE prints scans twice), the shortlist compiles to WindowGroupLimit
    (per-task partial top-k), and both the query words and the
    shortlist ride broadcast — no corpus-side shuffle join."""
    plan = _plan(spark, "sim_cosine_topk_binary_multi")
    assert "WindowGroupLimit" in plan, plan[:3000]
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_mih_stored_index_prunes_partitions(spark, tmp_path):
    """The MIH scale claim made physical: the chunk index stored
    partitionBy(chunk_no, chunk_val) turns the 8 query probes into
    partition PRUNING — the scan lists only the probed directories,
    and the chunk-probe candidates reproduce the brute-force radius
    answer exactly."""
    from pyspark.sql import functions as F

    from jhu_data_parser_spark.operators import similarity as sim
    from jhu_data_parser_spark.plans.pipeline14 import (
        _BINC_N,
        _BINC_VEC,
        _MIH_RADIUS,
    )
    from jhu_data_parser_spark.sources.tables import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings")
    synth = emb.filter(F.col("vec_id") < _BINC_N).select(
        "vec_id",
        F.expr(f"transform(sequence(0, 63), i -> {_BINC_VEC})").alias("embedding"),
    )
    words = sim.binary_signature(synth).select("vec_id", "sig_lo", "sig_hi")
    idx = words.filter(F.col("vec_id") != 0).select(
        "vec_id",
        "sig_lo",
        "sig_hi",
        F.explode(
            F.expr(
                "transform(sequence(0, 7), c -> named_struct("
                "'chunk_no', c, "
                "'chunk_val', CASE WHEN c < 4 THEN shiftright(sig_lo, c * 8) "
                "ELSE shiftright(sig_hi, (c - 4) * 8) END % 256))"
            )
        ).alias("ch"),
    ).select("vec_id", "sig_lo", "sig_hi", "ch.chunk_no", "ch.chunk_val")
    out = str(tmp_path / "mih_index")
    idx.write.partitionBy("chunk_no", "chunk_val").parquet(out)

    qrow = words.filter(F.col("vec_id") == 0).first()
    qlo, qhi = int(qrow["sig_lo"]), int(qrow["sig_hi"])
    stored = spark.read.parquet(out)
    probe_cond = None
    for c in range(8):
        v = (qlo >> (c * 8)) % 256 if c < 4 else (qhi >> ((c - 4) * 8)) % 256
        cond = (F.col("chunk_no") == c) & (F.col("chunk_val") == v)
        probe_cond = cond if probe_cond is None else (probe_cond | cond)
    cand = stored.filter(probe_cond).select("vec_id", "sig_lo", "sig_hi").distinct()
    ham = (
        F.bit_count(F.col("sig_lo").bitwiseXOR(F.lit(qlo).cast("long")))
        + F.bit_count(F.col("sig_hi").bitwiseXOR(F.lit(qhi).cast("long")))
    ).cast("int")
    got = {
        (r["vec_id"], r["hamming"])
        for r in cand.select("vec_id", ham.alias("hamming"))
        .filter(F.col("hamming") <= _MIH_RADIUS)
        .collect()
    }
    plan = (
        cand._jdf.queryExecution().executedPlan().toString()
    )
    assert "PartitionFilters:" in plan and "chunk_no" in plan

    brute = {
        (r["vec_id"], r["hamming"])
        for r in words.filter(F.col("vec_id") != 0)
        .select("vec_id", ham.alias("hamming"))
        .filter(F.col("hamming") <= _MIH_RADIUS)
        .collect()
    }
    assert got == brute and len(got) > 0


# ---------------------------------------------------------------- wave 15-17


def test_matryoshka_shortlist_is_takeordered(spark):
    """The prefix-dim shortlist must compile to TakeOrderedAndProject
    (a streaming top-k, never a full sort of the corpus)."""
    plan = _plan(spark, "sim_cosine_topk_matryoshka")
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_bloom_probe_joins_broadcast(spark):
    """The Bloom bitmap probes must be broadcast joins (the 8 KiB
    bitmap ships to the corpus, the corpus never shuffles on the word
    key) and there must be no cartesian anywhere."""
    plan = _plan(spark, "text_decontaminate_bloom_report")
    assert plan.count("BroadcastHashJoin") >= 3  # w1, w2, exact twin
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_symspell_banding_is_equi_join(spark):
    """SymSpell candidate generation must be an equi-join on the
    deletion key — never a nested-loop over name pairs."""
    plan = _plan(spark, "dedup_fuzzy_symspell_pairs")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_coactivity_shortlist_broadcasts(spark):
    """The top-500 suspect shortlist must broadcast into the events
    scan; the pair join is an equi-join on the day bucket."""
    plan = _plan(spark, "join_interval_overlap_pairs")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_wilson_topk_is_takeordered(spark):
    plan = _plan(spark, "quality_wilson_nonreturn_rank")
    assert "TakeOrderedAndProject" in plan


def test_feature_store_single_exchange_single_sort(spark):
    """PIT assembly: one user_id exchange and ONE sort feeds all three
    window frames — the (us, event_id) ordering satisfies the RANGE
    window's (us) requirement, so Catalyst inserts no second sort."""
    df = plans.QUERIES["join_feature_store_multi"](spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan[:1500]
    assert plan.count("Sort ") == 1


def test_first_touch_argmin_is_window_group_limit(spark):
    plan = _plan(spark, "events_attribution_first_touch")
    assert "WindowGroupLimit" in plan
    assert "CartesianProduct" not in plan


def _assert_no_full_table_single_partition(plan: str) -> None:
    """Every ``Exchange SinglePartition`` must feed directly from an
    aggregate (the ≤n_parts bucket-totals frame or a 1-row global agg)
    — never from a full-table project/scan (the ntile/row_number
    scale-killer shape). Global window functions must be absent."""
    assert "ntile(" not in plan
    assert "row_number(" not in plan
    lines = plan.splitlines()
    for i, line in enumerate(lines):
        if "Exchange SinglePartition" not in line:
            continue
        window = " ".join(lines[i + 1 : i + 3])
        assert "HashAggregate" in window or "SortAggregate" in window, (
            f"single-partition exchange over non-aggregate input:\n"
            f"{line}\n{window}"
        )


def test_systematic_sample_distributed_above_threshold(spark, monkeypatch):
    """r10 verdict stretch: the every-k sample's rank strategy is
    ADAPTIVE. Above the crossover (threshold forced to 0 here) the
    plan must be the distributed two-level prefix sum — no
    full-table single-partition window, no row_number."""
    from jhu_data_parser_spark.operators import intervals

    monkeypatch.setattr(intervals, "GLOBAL_RANK_SINGLE_TASK_MAX", 0)
    plan = _plan(spark, "sample_systematic_every_k", execute=True)
    _assert_no_full_table_single_partition(plan)


def test_systematic_sample_single_task_below_threshold(spark):
    """Below the crossover (the default at test scale) the adaptive
    rank takes ONE single-task running-sum sort — none of the
    distributed form's three extra exchanges (the measured 2-3×
    overhead at small layouts)."""
    plan = _plan(spark, "sample_systematic_every_k", execute=True)
    assert "Exchange SinglePartition" in plan
    # the distributed form's logical-bucket repartition is absent
    assert "__bucket" not in plan


def test_rfm_segments_distributed_above_threshold(spark, monkeypatch):
    """r10 verdict stretch: RFM quintiles above the crossover must come
    from distributed global ranks + arithmetic ntile, not three global
    ntile windows."""
    from jhu_data_parser_spark.operators import intervals

    monkeypatch.setattr(intervals, "GLOBAL_RANK_SINGLE_TASK_MAX", 0)
    plan = _plan(spark, "events_rfm_segments", execute=True)
    _assert_no_full_table_single_partition(plan)


def test_rfm_segments_single_task_below_threshold(spark):
    """Below the crossover the three dimension ranks are single-task
    running sums (ntile still recovered arithmetically — never the
    global ntile window in either branch)."""
    plan = _plan(spark, "events_rfm_segments", execute=True)
    assert "ntile(" not in plan
    assert "__bucket" not in plan
    assert "Exchange SinglePartition" in plan


def test_preference_pairs_single_exchange_no_join(spark):
    """Best-vs-rest pairing must be ONE prompt_id exchange + a window
    aggregate — no self-join, no per-group sort from ntile/row_number."""
    df = plans.QUERIES["pairs_preference_assembly"](spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan[:1200]
    assert "Join" not in plan
    assert "row_number(" not in plan


def test_instruction_decontaminate_probe_is_equi_join(spark):
    """The eval→train probe must be an equi hash join on the shingle
    string (broadcast when the reference fits, shuffle otherwise —
    AQE's call); never a cartesian/NLJ text-pair comparison."""
    plan = _plan(spark, "text_instruction_decontaminate")
    assert (
        "BroadcastHashJoin" in plan
        or "ShuffledHashJoin" in plan
        or "SortMergeJoin" in plan
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_dialog_threading_reuses_one_user_exchange(spark):
    """Sessionization flags, both prefix sums and the turn aggregate
    all partition by user_id — Catalyst must plan exactly one exchange
    for the whole threading chain."""
    df = plans.QUERIES["dialog_thread_turns"](spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan[:1200]


def test_substring_spans_pair_join_is_equi(spark):
    """The span seed join must be the banded equi-join shape on the
    gram key — never a cartesian/NLJ text-pair comparison — and the
    top-50 contract must plan as TakeOrderedAndProject (per-task
    heaps, no global sort)."""
    plan = _plan(spark, "dedup_substring_spans", execute=True)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert (
        "SortMergeJoin" in plan
        or "ShuffledHashJoin" in plan
        or "BroadcastHashJoin" in plan
    )
    assert "TakeOrderedAndProject" in plan


def test_quantile_sketch_merge_is_two_aggregates(spark):
    """The mergeable sketch must plan as leaf aggregate -> merge
    aggregate with broadcast dims; the cumulative window partitions by
    region (no full-table single-partition window)."""
    plan = _plan(spark, "agg_quantile_sketch_merge", execute=True)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert plan.count("HashAggregate") >= 4  # partial+final x two levels
    assert "Exchange SinglePartition" not in plan


def test_rouge_clip_join_no_nested_loop(spark):
    """The clipped-overlap join must stay an equi join on (group, gram
    hash) — the text never crosses as a join key and nothing plans as
    NLJ/cartesian."""
    plan = _plan(spark, "pairs_rouge_bigram", execute=True)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "xxhash64" in plan


def test_graph_ann_search_is_bounded_frontier(spark):
    """Graph-ANN serving must be the bounded-frontier shape: every hop
    join broadcasts the parameter-bounded beam/candidate id lists
    (BroadcastHashJoin), the edge table comes from the PRE-BUILT
    parquet index (no in-plan rebuild on the serving path), and
    nothing degenerates to a cartesian/NLJ pair comparison. The final
    top-k re-rank plans as TakeOrderedAndProject."""
    plan = _plan(spark, "sim_cosine_topk_graph", execute=True)
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan
    # serving reads the index artifact, not a rebuild: the banded
    # self-join's window ranker must be absent from the serving plan
    assert "row_number" not in plan


def test_graph_ann_build_is_banded_equi_join(spark):
    """The kNN-graph BUILD must bucket rows by band (never all-pairs
    NLJ/cartesian) and rank them in ONE grouped Arrow kernel keyed on
    (band, bucket) — partition, local top-m, bounded merge — with no
    row_number window left over from the per-band self-join shape."""
    from jhu_data_parser_spark.operators import similarity as sim
    from jhu_data_parser_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    corpus = load_table(spark, SF_SMOKE, "embeddings").filter(
        F.col("vec_id") != 0
    )
    df = sim.knn_graph_banded(corpus, dim=64, m=4, n_planes=4, bands=2)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    final = plan.split("== Initial Plan ==")[0]
    kernels = re.findall(r"FlatMapGroupsInArrow \[([^\]]*)\]", final)
    assert len(kernels) == 1, final
    assert re.fullmatch(r"band#\d+, bucket#\d+L?", kernels[0]), kernels
    assert "row_number" not in plan
