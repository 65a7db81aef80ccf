"""The named-query catalog.

Every operator from SURVEY.md §2 that the engine implements is exposed
here as a named query: a ``(spark, sf_dir) -> DataFrame`` callable plus —
when the semantics are ANSI-SQL-expressible — a DuckDB oracle SQL twin
used by the driver's correctness gate. Importing this package registers
the full catalog.
"""

from jhu_data_parser_spark.plans.catalog import (
    QUERIES,
    ORACLES,
    NO_ORACLE,
    query,
    get_queries,
    get_oracles,
)

# Import for registration side effects — each module fills the catalog.
from jhu_data_parser_spark.plans import core  # noqa: E402,F401
from jhu_data_parser_spark.plans import windows  # noqa: E402,F401
from jhu_data_parser_spark.plans import reshape  # noqa: E402,F401
from jhu_data_parser_spark.plans import scalars  # noqa: E402,F401
from jhu_data_parser_spark.plans import llm  # noqa: E402,F401
from jhu_data_parser_spark.plans import streaming_batch  # noqa: E402,F401
from jhu_data_parser_spark.plans import extra  # noqa: E402,F401
from jhu_data_parser_spark.plans import pipeline2  # noqa: E402,F401
from jhu_data_parser_spark.plans import graph  # noqa: E402,F401
from jhu_data_parser_spark.plans import clustering  # noqa: E402,F401
from jhu_data_parser_spark.plans import pipeline3  # noqa: E402,F401
from jhu_data_parser_spark.plans import pipeline4  # noqa: E402,F401
from jhu_data_parser_spark.plans import etl_contract  # noqa: E402,F401
from jhu_data_parser_spark.plans import pipeline5  # noqa: E402,F401
from jhu_data_parser_spark.plans import pipeline6  # noqa: E402,F401
from jhu_data_parser_spark.plans import pipeline7  # noqa: E402,F401
from jhu_data_parser_spark.plans import pipeline8  # noqa: E402,F401
from jhu_data_parser_spark.plans import pipeline9  # noqa: E402,F401
from jhu_data_parser_spark.plans import pipeline10  # noqa: E402,F401
from jhu_data_parser_spark.plans import pipeline11  # noqa: E402,F401
from jhu_data_parser_spark.plans import pipeline12  # noqa: E402,F401
from jhu_data_parser_spark.plans import pipeline13  # noqa: E402,F401
from jhu_data_parser_spark.plans import pipeline14  # noqa: E402,F401
from jhu_data_parser_spark.plans import pipeline15  # noqa: E402,F401
from jhu_data_parser_spark.plans import pipeline16  # noqa: E402,F401
from jhu_data_parser_spark.plans import pipeline17  # noqa: E402,F401
from jhu_data_parser_spark.plans import pipeline18  # noqa: E402,F401
from jhu_data_parser_spark.plans import pipeline19  # noqa: E402,F401
from jhu_data_parser_spark.plans import pipeline20  # noqa: E402,F401

# ---------------------------------------------------------------------------
# Driver presentation order.
#
# The driver's correctness gate samples the FIRST 50 entries of
# ``__spark_entry__.queries()`` each round. Rounds 1-3 therefore only
# ever exercised the same core-SQL prefix while streaming / similarity /
# multimodal / graph / clustering / event-time queries went
# driver-unchecked. This explicit priority list rotates those families
# into the checked window (`global_count` stays first as the sentinel);
# everything else keeps its original relative order after the priority
# block. The rotation is applied at that boundary only: ``QUERIES`` and
# ``ORACLES`` keep module registration order, whatever repo artifacts
# exist.
# ---------------------------------------------------------------------------
_PRIORITY_WINDOW = [
    "global_count",
    # windows regression from r03 (must be re-proven green)
    "window_rolling_distinct_types",
    # §2.9 streaming — never driver-tested in r01-r03
    "stream_tumbling_daily",
    "stream_sliding_6h3h",
    "stream_kmv_daily_users",  # round-4: stateful sketch, REAL stream, value-gated
    "stream_availablenow_daily",
    "stream_static_enrich",
    "stream_availablenow_sessions",
    "stream_stateful_sessions",
    "stream_dedup_watermark",
    "stream_stream_join_attrib",
    "stream_sample_bernoulli",
    # similarity / ANN
    "sim_cosine_topk",
    "text_bpe_encode",  # round-4: train->encode stream-exact gate
    "sim_ivf_recall_report",  # round-4: probe-limited recall, full value-hash gate
    "sim_pq_topk",  # round-4: product quantization, full index gate
    "sim_cosine_topk_int8",
    "join_bloom_filtered_revenue",  # round-4: bloom runtime prune
    "sim_lsh_recall_report",
    # multimodal (decode_stub rotates with the remainder blocks — its
    # rows-only row is the least informative of the family)
    "dedup_incremental_vs_index",  # round-4: stored-index probe
    "multimodal_decode_image",
    "multimodal_decode_audio",
    "multimodal_decode_video",
    "multimodal_resize_real",
    "multimodal_frame_sample",
    "multimodal_embed_features",
    "multimodal_phash_dedup",
    "multimodal_phash_near_pairs",
    # graph + clustering
    "graph_pagerank_trade",
    "graph_triangle_count",
    "cluster_kmeans_embeddings",
    "cluster_kmeans_sizes",
    # near-dup dedup family (portable variant first: full value-hash
    # gate; the rows-only *_candidates twins rotate with the remainder —
    # their driver rows are the least informative of the family)
    "dedup_minhash_portable_pairs",
    "join_temporal_pit_state",  # round-4: feature-store PIT join
    "agg_kmv_distinct_users",  # round-4: value-hash-gated KMV sketch
    # ETL record contracts (round-2 ask: a driver row for the
    # reference's own parser.py/parser2.py output contract)
    "etl_category_records",
    "etl_combined_records",
    "dedup_embedding_pairs",
    "agg_cms_heavy_hitters",  # round-4: value-hash-gated CMS
    "dedup_embedding_groups_contraction",
    # event-time pipeline
    "events_sessionize",
    "events_session_concurrency",
    "sample_per_source_cap",  # round-4: per-domain cap
    "scd2_incremental_merge",  # round-4: merge ≡ rebuild gate
    "pipeline_curation_funnel",
    "join_asof_last_click",
    "join_asof_nearest_click",
    # semantics fix this round — wants a fresh driver row
    "sample_quality_weighted",
    # round-4 wave: exact span dedup + CCNet bucketing
    "dedup_shared_span_pairs",
    "text_unigram_freq_buckets",
]


# The driver's correctness gate samples this many registration-order
# entries per round (the first one is always the sentinel).
_DRIVER_WINDOW = 50
_CHUNK = _DRIVER_WINDOW - 1  # sampled names per round besides the sentinel


def check_history() -> dict[str, int]:
    """name → latest round with a committed driver-correctness row.

    Read straight from the ``CORRECTNESS_r{N}.json`` artifacts the
    driver commits at each round's end — the explicit source the r04
    verdict asked for (a bare file COUNT silently misorders if the
    driver ever prunes or rewrites artifacts; per-name max-round does
    not). Unreadable artifacts are skipped, degrading that round to
    "unknown" rather than poisoning the schedule."""
    import glob
    import json
    import os
    import re

    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    hist: dict[str, int] = {}
    for path in glob.glob(os.path.join(root, "CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            with open(path) as fh:
                keys = list(json.load(fh))
        except (OSError, ValueError):
            continue
        for k in keys:
            hist[k] = max(hist.get(k, 0), rnd)
    return hist


def rotation_order(names: list[str], history: dict[str, int]) -> list[str]:
    """Pure rotation schedule: least-recently-driver-checked first.

    The driver samples only the first ``_DRIVER_WINDOW`` registration-
    order entries per round, so a static order leaves everything past
    position 50 permanently driver-unchecked (the rounds-1-3 failure
    mode). Ordering by the round each query last earned a committed
    driver row (never-checked → 0 → front; this round's window earns
    fresh rows and rotates to the back next round) makes the window a
    fair queue: every query enters the gate within ⌈(n−1)/49⌉ rounds of
    being added, with zero window slots wasted on recently-checked
    names and no modular-arithmetic anchor to drift (the r04 fragility).
    Ties keep priority-family-then-registration order (stable sort).
    The sentinel stays first always. Rotation is a pure reordering —
    all queries are always present for the judge's full sweep.
    """
    sentinel = _PRIORITY_WINDOW[0]
    in_names = set(names)
    base = [n for n in _PRIORITY_WINDOW[1:] if n in in_names]
    seen = set(base)
    base += [n for n in names if n != sentinel and n not in seen]
    return [sentinel] + sorted(base, key=lambda n: history.get(n, 0))


def _check_priority_window() -> None:
    missing = [n for n in _PRIORITY_WINDOW if n not in QUERIES]
    if missing:
        raise RuntimeError(f"priority window names missing from catalog: {missing}")


_check_priority_window()

__all__ = [
    "QUERIES",
    "ORACLES",
    "NO_ORACLE",
    "query",
    "get_queries",
    "get_oracles",
]
