"""Query suite: every implemented operator from SURVEY.md §2 gets a
named entry pairing a PySpark plan-builder with an equivalent ANSI-SQL
oracle (run by DuckDB on the same parquet). ``__spark_entry__.py``
exposes this registry to the driver.

Conventions (driver contract):
  - spark fn signature: (SparkSession, sf_dir) -> DataFrame
  - every computed column aliased IDENTICALLY in spark + SQL
  - floats rounded at the query boundary so the order-insensitive
    value hash is engine-deterministic
  - flat output schemas (no nested structs) where an oracle exists
  - MATERIALIZE EACH RESULT BEFORE BUILDING THE NEXT QUERY: invoking
    a different entry releases the previous entry's tracked persists
    (see persist_tracked below), so a plan-all-then-run consumer
    silently loses caches — results stay CORRECT (unpersisted plans
    recompute), but the persisted subtrees rebuild once per consumer
    branch. Every known sweep (driver, bench, verify, pytest) is
    interleaved; this note is for future callers.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class Query:
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # None → driver records rows-only check


REGISTRY: dict[str, Query] = {}

# Suite-level persist lifecycle (ADVICE r5 #3): entry builders that
# .persist() an intermediate can't unpersist it themselves — the
# entry returns a LAZY DataFrame, so the cache must outlive the
# builder call. Instead they register through persist_tracked(), and
# every registered query releases the PREVIOUS entry's persists when
# a DIFFERENT entry is invoked: a sequential sweep (the driver's,
# bench's, or the verify skill's) holds at most one entry's cache at
# a time instead of leaking one corpus-scale subtree per persisted
# entry for the session's lifetime. Re-invoking the SAME entry (bench
# reps) keeps its caches: the fresh persist of the identical plan
# dedups in Spark's CacheManager, so later reps run warm exactly as
# the recorded bench artifacts did. bench.py additionally
# clearCache()es between entries.
_LIVE_PERSISTS: list[DataFrame] = []
_CURRENT_ENTRY: list[str] = []  # 1-element mutable cell


def persist_tracked(df: DataFrame, level=None) -> DataFrame:
    from pyspark import StorageLevel

    out = df.persist(level or StorageLevel.MEMORY_AND_DISK)
    _LIVE_PERSISTS.append(out)
    return out


def release_persisted() -> None:
    while _LIVE_PERSISTS:
        df = _LIVE_PERSISTS.pop()
        try:
            df.unpersist(blocking=False)
        except Exception:
            # a stopped session has nothing to unpersist; the cache
            # dies with the session either way
            pass


def register(name: str, oracle: str | None = None):
    def deco(fn):
        if name in REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")

        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            # release the previous entry's tracked caches — by the
            # time a sweep asks for the NEXT query, the prior result
            # has been materialized (and unpersisting an un-run plan
            # merely recomputes; it can't corrupt results)
            if _CURRENT_ENTRY != [name]:
                release_persisted()
                _CURRENT_ENTRY[:] = [name]
            return fn(spark, sf_dir)

        wrapped.__name__ = fn.__name__
        wrapped.__doc__ = fn.__doc__
        wrapped.__wrapped__ = fn
        REGISTRY[name] = Query(fn=wrapped, oracle=oracle)
        return fn

    return deco


# Registry order is a driver contract: the driver records correctness
# for the first 50 entries only, so _PRIORITIZED entries are served
# first and _DEPRIORITIZED entries last.
#
# Rotation policy: an in-window entry may be demoted to make room for
# entries with older driver evidence if (a) the committed
# CORRECTNESS_r*.json artifacts show it hash-green in >=2 rounds, or
# (b) it was green in the round immediately before its demotion.
# Every demoted entry's trailing comment names what still proves it:
# an in-window sibling entry or a tests/ lane.
# tests/test_suite_registry.py enforces all of this; the round-by-
# round history is in git.
_DEPRIORITIZED = (
    # clause (b): green in the round before its demotion
    "wizard_full_chain",  # composed-chain witness battery mutation-tested by tests/test_ml_plumbing.py; stage plans pinned by tests/test_plans.py + tests/test_partition_invariance.py
    # clause (a): >=2 driver-green rounds
    "salted_agg_priority_revenue",  # salt-key invariance pinned by tests/test_skew.py
    "events_tumbling_hourly",  # tumbling bucket arithmetic ⊂ events_range_click_counts (in-window)
    "events_json_value_counts",  # JSON path extraction ⊂ events_variant_extract (in-window)
    "knn_ivf_cells",  # IVF cell assign + probe ⊂ knn_ivf_multiprobe (in-window)
    "embedding_neardup_pairs",  # pairwise cosine folds ⊂ semantic_dedup_cells (in-window)
    "source_vocab_overlap",  # broadcast vocab/n-gram overlap ⊂ phrase_match_docs (in-window)
    "events_type_pivot",  # pivot Expand ⊂ lineitem_unpivot_stats Expand (in-window)
    "incremental_revenue_merge",  # incremental MERGE ⊂ orders_upsert_merge (in-window)
    "events_sliding_hourly",  # sliding buckets ⊂ events_range_click_counts range buckets (in-window)
    "local_supplier_volume_q5",  # star join agg ⊂ market_share_q8 (in-window)
    "promo_revenue_q14",  # conditional dec-sum ⊂ late_shipment_priority_q12 case-sum (in-window)
    "disjunctive_revenue_q19",  # multi-predicate join agg ⊂ product_profit_q9 (in-window)
    "part_triangle_counts",  # iterative checkpointed graph rounds ⊂ part_pagerank (in-window)
    "events_json_roundtrip",  # JSON sink/source round-trip pinned by tests/test_roundtrip_formats.py
    "hybrid_rrf_search",  # rank-fusion windows ⊂ hard_negative_mining rank-band windows (in-window)
    "orders_merge_steady",  # steady-state MERGE ⊂ orders_upsert_merge (in-window)
    "volume_shipping_q7",  # multi-join year agg ⊂ market_share_q8 (in-window)
    "small_qty_revenue_q17",  # agg-subquery join ⊂ large_volume_customers_q18 (in-window)
    "events_csv_roundtrip",  # CSV sink/source round-trip pinned by tests/test_roundtrip_formats.py
    "waiting_suppliers_q21",  # EXISTS/NOT-EXISTS semi-anti ⊂ supplier_part_counts_q16 anti-join (in-window)
    "min_cost_supplier_q2",  # scalar-subquery argmin ⊂ top_supplier_q15 scalar-threshold argmax (in-window)
    "excess_shipment_q20",  # nested semi-join chain ⊂ large_volume_customers_q18 agg-subquery semi (in-window)
    "idle_customers_q22",  # anti-join histogram ⊂ order_count_distribution_q13 outer-join histogram (in-window)
    "revenue_concentration_q11",  # global-sum scalar threshold ⊂ top_supplier_q15 (in-window)
    "events_orc_roundtrip",  # ORC sink/source round-trip pinned by tests/test_roundtrip_formats.py
    "events_xml_roundtrip",  # XML sink/source round-trip pinned by tests/test_roundtrip_formats.py
    "hash_split_profile",  # keyed md5 hashing ⊂ url_canonical_dedup canonical-key dedup (in-window)
    "temperature_resample",  # keyed sampling rates ⊂ weighted_sample_docs (in-window)
    "video_frame_sample",  # Arrow binary crossing ⊂ doc_bytes_arrow (in-window) + tests/test_multimodal.py
    "bigram_lm_perplexity",  # n-gram LM scoring ⊂ perplexity_bucket_filter (in-window)
    "bigram_topk",  # postings ⊂ phrase_match_docs; heap top-k ⊂ part_affinity_topk (both in-window)
    "bpe_encode_stats",  # BPE tokenize kernels pinned by tests/test_curation_kernels.py
    "brand_price_regression",  # OLS moment pass ⊂ source_kl_divergence distribution moments (in-window)
    "doc_chunk_windows",  # token spans ⊂ doc_chunks_udtf (in-window)
    "dsir_importance_select",  # importance-weighted select ⊂ weighted_sample_docs (in-window)
    "duplicate_span_flags",  # rolling-hash spans pinned by tests/test_spans.py
    "embedding_dim_stats",  # vector kernels ⊂ hash_embeddings (in-window)
    "event_outliers_mad",  # median/MAD sketch fences pinned by tests/test_plans.py
    "events_asof_cogroup",  # as-of kernel ⊂ events_asof_last_click (in-window) + tests/test_plans.py
    "events_funnel_stages",  # per-user ordered seqs ⊂ retention_cohorts (in-window)
    "events_hourly_gapfill",  # running/gapfill frames ⊂ user_decayed_value running scans (in-window)
    "events_stream_stream_join",  # micro-batch join ⊂ events_stream_static_join (in-window) + tests/test_streaming.py
    "events_streaming_upsert",  # per-batch MERGE ⊂ orders_upsert_merge (in-window) + tests/test_streaming.py + tests/test_partition_invariance.py
    "fuzzy_name_matches",  # q-gram count filter ⊂ prefix_jaccard_pairs prefix filter (in-window)
    "group_concat_docs",  # single-object-agg exchange pinned by tests/test_plans.py + tests/test_partition_invariance.py
    "incremental_minhash_dedup",  # banded self-join recall pinned by tests/test_lsh_recall.py
    "knn_int8_rerank",  # exact rerank windows ⊂ knn_ivf_multiprobe (in-window) + tests/test_knn_guard.py
    "knn_ivf_pruned",  # partition-pruned IVF scan ⊂ knn_ivf_multiprobe cell probe (in-window) + tests/test_knn_guard.py
    "line_dedup_rebuild",  # LeftAnti rebuild ⊂ semantic_dedup_cells (in-window)
    "pricing_summary",  # dec-sum kernel ⊂ forecast_revenue_q6 (in-window)
    "region_revenue",  # star join ⊂ market_share_q8 (in-window)
    "order_priority_semijoin",  # EXISTS semi ⊂ large_volume_customers_q18 agg-subquery semi (in-window)
    "nation_set_ops",  # EXCEPT/anti kernel ⊂ supplier_part_counts_q16 anti-join (in-window)
    "order_window_enrich",  # window frames ⊂ user_decayed_value running frames (in-window) + tests/test_partition_invariance.py
    "argmax_per_flag",  # struct-extremum ⊂ quality_representative_dedup struct-max (in-window)
    "order_rollup_revenue",  # ROLLUP Expand ⊂ lineitem_unpivot_stats Expand (in-window)
    "salted_join_nation_customers",  # salt invariance pinned by tests/test_skew.py
    "price_quantiles",  # mergeable-sketch agg ⊂ approx_distinct_parts (in-window)
    "etl_clean_articles",  # cleaning chain pinned by tests/test_plans.py + tests/test_wizard.py
    "explode_paragraphs",  # posexplode spans ⊂ doc_chunks_udtf UDTF spans (in-window)
    "ner_top_orgs",  # weighted top-n per group ⊂ weighted_sample_docs weighted heap top-k (in-window) + tests/test_broadcast_gate.py
    "media_features",  # Arrow binary crossing ⊂ doc_bytes_arrow (in-window) + tests/test_multimodal.py
    "events_session_windows",  # per-user session seqs ⊂ retention_cohorts (in-window)
    "events_tumbling_streaming",  # micro-batch tumbling ⊂ events_stream_static_join (in-window) + tests/test_streaming.py
    "doc_stats_quality",  # map-only doc feature pass ⊂ perplexity_bucket_filter (in-window)
    "lang_id",  # n-gram LM scoring ⊂ perplexity_bucket_filter (in-window)
    "top_terms_per_source",  # postings top-k ⊂ part_affinity_topk heap top-k (in-window)
    "sentence_stats",  # split spans ⊂ doc_chunks_udtf (in-window)
    "lemma_term_counts",  # normalize-explode-count ⊂ sql_udf_token_stats token counts (in-window)
    "corpus_prep_chain",  # chain kernels pinned by tests/test_curation_kernels.py
    "exact_dedup",  # md5-key groupBy ⊂ url_canonical_dedup canonical-key dedup (in-window)
    "ngram_jaccard_pairs",  # gram equi-join + count filter ⊂ prefix_jaccard_pairs (in-window)
    "minhash_lsh_pairs",  # banded self-join recall pinned by tests/test_lsh_recall.py
    "simhash_pairs",  # hamming banding exchange reuse pinned by tests/test_plans.py
    "neardup_components",  # iterative checkpointed rounds ⊂ part_pagerank (in-window)
    "knn_bruteforce",  # exact cosine + rerank ⊂ knn_ivf_multiprobe (in-window) + tests/test_knn_guard.py
    "gopher_repetition_flags",  # sorted-run mode scan pinned by tests/test_curation_kernels.py
    "pii_redaction",  # map-only doc regex scan ⊂ perplexity_bucket_filter map-only scan (in-window)
    "contamination_ngram_overlap",  # broadcast n-gram overlap ⊂ phrase_match_docs broadcast postings (in-window)
    "pairwise_medoids",  # pairwise cosine folds ⊂ semantic_dedup_cells (in-window) + tests/test_ml_plumbing.py
    "sequence_packing",  # token spans ⊂ doc_chunks_udtf; running frame ⊂ user_decayed_value (both in-window)
    "bpe_merge_learn",  # BPE tokenize kernels pinned by tests/test_curation_kernels.py
    "shipping_priority_q3",  # multi-predicate join agg ⊂ product_profit_q9 (in-window)
    "event_transition_matrix",  # per-user ordered seqs ⊂ retention_cohorts (in-window)
    "events_value_ttest",  # moment pass ⊂ source_kl_divergence (in-window)
    "events_cusum_changepoint",  # running deviation scan ⊂ user_decayed_value running scans (in-window) + tests/test_plans.py
    "ctfidf_topics_per_lang",  # grouped ratio-of-sums ⊂ market_share_q8 share-of-total (in-window)
    "dedup_canonical_corpus",  # checkpointed star rounds ⊂ part_pagerank iterative rounds (in-window)
    "events_stateful_running",  # micro-batch state ⊂ events_stream_static_join (in-window) + tests/test_streaming.py
    "events_stream_dedup",  # watermarked micro-batch dedup ⊂ events_stream_static_join (in-window) + tests/test_streaming.py
    "hyperplane_lsh_pairs",  # banded self-join recall pinned by tests/test_lsh_recall.py
    "data_quality_report",  # grouped rates ⊂ late_shipment_priority_q12 conditional case-sum rates (in-window)
    "weekly_active_users",  # bucket arithmetic ⊂ events_range_click_counts (in-window)
    "customers_without_orders",  # outer-join histogram ⊂ order_count_distribution_q13 (in-window)
    "top_orders_per_customer",  # heap top-k group-limit ⊂ top_customers_lateral LATERAL group-limit (in-window)
    "order_cube_revenue",  # CUBE Expand ⊂ lineitem_unpivot_stats Expand (in-window)
    "customer_order_frames",  # running window frames ⊂ user_decayed_value (in-window)
    "sentiment_distinct_join",  # distinct→infer→join rewrite pinned by tests/test_ml_plumbing.py + tests/test_plans.py
    "bpe_token_stats",  # BPE tokenize kernels pinned by tests/test_curation_kernels.py
    "bm25_topk",  # postings ⊂ phrase_match_docs; heap top-k ⊂ part_affinity_topk (both in-window)
    "stratified_sample_docs",  # per-stratum keyed sampling ⊂ weighted_sample_docs (in-window) + tests/test_partition_invariance.py
    "winnowing_fingerprints",  # rolling-hash shingles pinned by tests/test_spans.py
)

# Served first, in this order (the flagship leads): entries whose
# newest driver evidence is oldest.
_PRIORITIZED = (
    "cluster_viz_summary",  # flagship: entry() runs this
    "lineitem_unpivot_stats",
    "orders_merge_bucketed",
    "orders_upsert_merge",
    "part_affinity_topk",
    "part_pagerank",
    "kmeans_clusters",
    "pca_coords",
    "approx_distinct_parts",
    "part_price_skyline",
    "phrase_match_docs",
    "prefix_jaccard_pairs",
    "price_decile_histogram",
    "quality_representative_dedup",
    "retention_cohorts",
    "returned_items_q10",
    "sql_interface_segment_revenue",
    "url_canonical_dedup",
    "user_decayed_value",
    "wizard_chain_stages",
    "forecast_revenue_q6",
    "market_share_q8",
    "product_profit_q9",
    "late_shipment_priority_q12",
    "order_count_distribution_q13",
    "top_supplier_q15",
    "supplier_part_counts_q16",
    "large_volume_customers_q18",
    "semantic_dedup_cells",
    "perplexity_bucket_filter",
    "countmin_heavy_hitters",
    "custom_pysource_links",
    "events_stream_static_join",
    "events_variant_extract",
    "trade_hops_recursive",
    "top_customers_lateral",
    "doc_chunks_udtf",
    "doc_bytes_arrow",
    "collated_lang_counts",
    "events_try_ops_safe",
    "user_event_map_profile",
    "sql_udf_token_stats",
    "hard_negative_mining",
    "source_kl_divergence",
    "weighted_sample_docs",
    "events_asof_last_click",
    "events_range_click_counts",
    "hash_embeddings",
    "knn_ivf_multiprobe",
    "medoid_summaries",
)

_MODULES = (
    "flagship",
    "relational",
    "cleaning",
    "ner",
    "multimodal",
    "streaming_live",
    "text",
    "sampling",
    "curation",
    "retrieval",
    "packing",
    "dedup",
    "similarity",
    "events",
    "temporal",
    "topics",
    "graph",
    "ml",
    "pysource",
)


def load_suite() -> dict[str, Query]:
    """Import all suite modules (side effect: they register), then
    order the registry by driver priority.

    Import errors are NOT swallowed: a module that fails to import is
    only tolerated when the missing module is an optional third-party
    dependency — a broken intra-package import must fail loudly, not
    silently shrink the checked suite.
    """
    for mod in _MODULES:
        fq = f"miba_2023_capstone_rb_nlp_spark.suite.{mod}"
        try:
            __import__(fq)
        except ModuleNotFoundError as e:
            if (e.name or "").startswith("miba_2023_capstone_rb_nlp_spark"):
                raise
            # optional third-party dep genuinely absent in this env
        # any other ImportError propagates
    ordered: dict[str, Query] = {}
    for name in _PRIORITIZED:
        if name in REGISTRY:
            ordered[name] = REGISTRY[name]
    for name, q in REGISTRY.items():
        if name not in ordered and name not in _DEPRIORITIZED:
            ordered[name] = q
    for name in _DEPRIORITIZED:
        if name in REGISTRY:
            ordered[name] = REGISTRY[name]
    return ordered
