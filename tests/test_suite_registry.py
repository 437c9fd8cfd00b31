"""The suite registry is a driver contract: a silent import failure
or an accidental re-ordering shrinks the correctness gate without any
test failing — so both the exact membership and the priority order
are pinned here."""

from __future__ import annotations

import builtins

import pytest

from miba_2023_capstone_rb_nlp_spark.suite import (
    _DEPRIORITIZED,
    _PRIORITIZED,
    load_suite,
)

EXPECTED = {
    # flagship + wizard chain + ml
    "cluster_viz_summary",
    "wizard_full_chain",
    "wizard_chain_stages",
    "pairwise_medoids",
    "kmeans_clusters",
    "pca_coords",
    "embedding_dim_stats",
    "hash_embeddings",
    "sentiment_distinct_join",
    "medoid_summaries",
    # relational
    "pricing_summary",
    "region_revenue",
    "top_orders_per_customer",
    "order_priority_semijoin",
    "customers_without_orders",
    "nation_set_ops",
    "order_window_enrich",
    "argmax_per_flag",
    "order_rollup_revenue",
    "orders_upsert_merge",
    "orders_merge_bucketed",
    "orders_merge_steady",
    "sql_interface_segment_revenue",
    "shipping_priority_q3",
    "brand_price_regression",
    "part_price_skyline",
    "returned_items_q10",
    "local_supplier_volume_q5",
    "promo_revenue_q14",
    "disjunctive_revenue_q19",
    "volume_shipping_q7",
    "small_qty_revenue_q17",
    "waiting_suppliers_q21",
    "min_cost_supplier_q2",
    "excess_shipment_q20",
    "idle_customers_q22",
    "revenue_concentration_q11",
    "part_affinity_topk",
    "part_pagerank",
    "part_triangle_counts",
    "data_quality_report",
    "incremental_revenue_merge",
    "price_decile_histogram",
    "lineitem_unpivot_stats",
    "approx_distinct_parts",
    "salted_join_nation_customers",
    "salted_agg_priority_revenue",
    "price_quantiles",
    "order_cube_revenue",
    "customer_order_frames",
    # cleaning / pipeline
    "etl_clean_articles",
    "explode_paragraphs",
    # ner
    "ner_top_orgs",
    # multimodal
    "media_features",
    "video_frame_sample",
    # events / windows / streaming
    "events_tumbling_hourly",
    "events_sliding_hourly",
    "events_session_windows",
    "events_json_value_counts",
    "events_tumbling_streaming",
    "events_stream_dedup",
    "events_stateful_running",
    "events_stream_stream_join",
    "events_type_pivot",
    "events_funnel_stages",
    "events_asof_last_click",
    "events_asof_cogroup",
    "events_range_click_counts",
    "user_decayed_value",
    "event_outliers_mad",
    "weekly_active_users",
    "retention_cohorts",
    "event_transition_matrix",
    "events_hourly_gapfill",
    "events_cusum_changepoint",
    "events_value_ttest",
    "events_streaming_upsert",
    "events_json_roundtrip",
    "events_csv_roundtrip",
    "events_orc_roundtrip",
    "events_xml_roundtrip",
    # relational: round-8 second half — the battery-completing TPC-H
    # shapes (register after the frozen r8 window; first in the r9
    # promotion slate)
    "forecast_revenue_q6",
    "market_share_q8",
    "product_profit_q9",
    "late_shipment_priority_q12",
    "order_count_distribution_q13",
    "top_supplier_q15",
    "supplier_part_counts_q16",
    "large_volume_customers_q18",
    # round-8 second half: LLM-pipeline additions
    "semantic_dedup_cells",
    "perplexity_bucket_filter",
    "countmin_heavy_hitters",
    "custom_pysource_links",
    "events_stream_static_join",
    "events_variant_extract",
    "events_try_ops_safe",
    "user_event_map_profile",
    "sql_udf_token_stats",
    "hard_negative_mining",
    "source_kl_divergence",
    "weighted_sample_docs",
    "trade_hops_recursive",
    "top_customers_lateral",
    "doc_chunks_udtf",
    "doc_bytes_arrow",
    "collated_lang_counts",
    # text
    "doc_stats_quality",
    "lang_id",
    "top_terms_per_source",
    "sentence_stats",
    "lemma_term_counts",
    "bpe_token_stats",
    "bpe_merge_learn",
    "bpe_encode_stats",
    "bigram_lm_perplexity",
    "source_vocab_overlap",
    # sampling / curation
    "stratified_sample_docs",
    "dsir_importance_select",
    "winnowing_fingerprints",
    "gopher_repetition_flags",
    "pii_redaction",
    "contamination_ngram_overlap",
    "dedup_canonical_corpus",
    "corpus_prep_chain",
    # retrieval / packing
    "bm25_topk",
    "bigram_topk",
    "hybrid_rrf_search",
    "phrase_match_docs",
    "sequence_packing",
    "hash_split_profile",
    "temperature_resample",
    "doc_chunk_windows",
    "url_canonical_dedup",
    # dedup
    "exact_dedup",
    "ngram_jaccard_pairs",
    "prefix_jaccard_pairs",
    "minhash_lsh_pairs",
    "incremental_minhash_dedup",
    "fuzzy_name_matches",
    "simhash_pairs",
    "neardup_components",
    "duplicate_span_flags",
    "line_dedup_rebuild",
    "quality_representative_dedup",
    # similarity
    "knn_bruteforce",
    "knn_int8_rerank",
    "knn_ivf_cells",
    "knn_ivf_pruned",
    "knn_ivf_multiprobe",
    "embedding_neardup_pairs",
    "hyperplane_lsh_pairs",
    # topics
    "ctfidf_topics_per_lang",
    "group_concat_docs",
}


def test_suite_membership_exact():
    suite = load_suite()
    assert set(suite) == EXPECTED
    assert len(suite) == len(EXPECTED)


def test_priority_ordering():
    names = list(load_suite())
    assert names[: len(_PRIORITIZED)] == list(_PRIORITIZED)
    assert names[-len(_DEPRIORITIZED):] == list(_DEPRIORITIZED)


# Every SURVEY §2 operator's CANONICAL suite entry. The external
# driver records correctness for exactly the first 50 registry rows,
# so these must all sit inside that window unless rotated out.
#
# Rotation policy (stated in suite/__init__.py): ROTATED_OUT holds the
# current clause-(a) demotions — each must be hash-green in >=2
# CORRECTNESS_r*.json rounds — and ROTATED_OUT_FRESH the clause-(b)
# ones, mapped to the round they were demoted in. The tests below make
# both clauses executable; the round-by-round history is in git.
DRIVER_WINDOW = 50
ROTATED_OUT = {
    "salted_agg_priority_revenue",
    "events_tumbling_hourly",
    "events_json_value_counts",
    "knn_ivf_cells",
    "embedding_neardup_pairs",
    "source_vocab_overlap",
    "events_type_pivot",
    "incremental_revenue_merge",
    "events_sliding_hourly",
    "local_supplier_volume_q5",
    "promo_revenue_q14",
    "disjunctive_revenue_q19",
    "part_triangle_counts",
    "events_json_roundtrip",
    "hybrid_rrf_search",
    "orders_merge_steady",
    "volume_shipping_q7",
    "small_qty_revenue_q17",
    "events_csv_roundtrip",
    "waiting_suppliers_q21",
    "min_cost_supplier_q2",
    "excess_shipment_q20",
    "idle_customers_q22",
    "revenue_concentration_q11",
    "events_orc_roundtrip",
    "events_xml_roundtrip",
    "hash_split_profile",
    "temperature_resample",
    "video_frame_sample",
    "bigram_lm_perplexity",
    "bigram_topk",
    "bpe_encode_stats",
    "brand_price_regression",
    "doc_chunk_windows",
    "dsir_importance_select",
    "duplicate_span_flags",
    "embedding_dim_stats",
    "event_outliers_mad",
    "events_asof_cogroup",
    "events_funnel_stages",
    "events_hourly_gapfill",
    "events_stream_stream_join",
    "events_streaming_upsert",
    "fuzzy_name_matches",
    "group_concat_docs",
    "incremental_minhash_dedup",
    "knn_int8_rerank",
    "knn_ivf_pruned",
    "line_dedup_rebuild",
    "pricing_summary",
    "region_revenue",
    "order_priority_semijoin",
    "nation_set_ops",
    "order_window_enrich",
    "argmax_per_flag",
    "order_rollup_revenue",
    "salted_join_nation_customers",
    "price_quantiles",
    "etl_clean_articles",
    "explode_paragraphs",
    "ner_top_orgs",
    "media_features",
    "events_session_windows",
    "events_tumbling_streaming",
    "doc_stats_quality",
    "lang_id",
    "top_terms_per_source",
    "sentence_stats",
    "lemma_term_counts",
    "corpus_prep_chain",
    "exact_dedup",
    "ngram_jaccard_pairs",
    "minhash_lsh_pairs",
    "simhash_pairs",
    "neardup_components",
    "knn_bruteforce",
    "gopher_repetition_flags",
    "pii_redaction",
    "contamination_ngram_overlap",
    "pairwise_medoids",
    "sequence_packing",
    "bpe_merge_learn",
    "shipping_priority_q3",
    "event_transition_matrix",
    "events_value_ttest",
    "events_cusum_changepoint",
    "ctfidf_topics_per_lang",
    "dedup_canonical_corpus",
    "events_stateful_running",
    "events_stream_dedup",
    "hyperplane_lsh_pairs",
    "data_quality_report",
    "weekly_active_users",
    "customers_without_orders",
    "top_orders_per_customer",
    "order_cube_revenue",
    "customer_order_frames",
    "sentiment_distinct_join",
    "bpe_token_stats",
    "bm25_topk",
    "stratified_sample_docs",
    "winnowing_fingerprints",
}

ROTATED_OUT_FRESH = {
    # first driver hash-green in r12; its witness battery stays
    # mutation-tested in tests/test_ml_plumbing.py and its stage plans
    # pinned in tests/test_plans.py
    "wizard_full_chain": 13,
}
CORE_ENTRIES = {
    "cluster_viz_summary",
    "wizard_full_chain",
    "pairwise_medoids",
    "kmeans_clusters",
    "pca_coords",
    "embedding_dim_stats",
    "hash_embeddings",
    "sentiment_distinct_join",
    "medoid_summaries",
    "pricing_summary",
    "region_revenue",
    "order_priority_semijoin",
    "nation_set_ops",
    "order_window_enrich",
    "argmax_per_flag",
    "order_rollup_revenue",
    "salted_join_nation_customers",
    "price_quantiles",
    "etl_clean_articles",
    "explode_paragraphs",
    "ner_top_orgs",
    "media_features",
    "events_session_windows",
    "events_tumbling_streaming",
    "events_stateful_running",
    "events_asof_last_click",
    "events_asof_cogroup",
    "events_range_click_counts",
    "doc_stats_quality",
    "lang_id",
    "top_terms_per_source",
    "sentence_stats",
    "bpe_token_stats",
    "lemma_term_counts",
    "stratified_sample_docs",
    "winnowing_fingerprints",
    "exact_dedup",
    "ngram_jaccard_pairs",
    "minhash_lsh_pairs",
    "simhash_pairs",
    "neardup_components",
    "gopher_repetition_flags",
    "pii_redaction",
    "contamination_ngram_overlap",
    "dedup_canonical_corpus",
    "corpus_prep_chain",
    "bm25_topk",
    "sequence_packing",
    "knn_bruteforce",
    "hyperplane_lsh_pairs",
    "knn_ivf_multiprobe",
    "ctfidf_topics_per_lang",
}


def test_core_entries_inside_driver_window():
    head = set(list(load_suite())[:DRIVER_WINDOW])
    missing = (CORE_ENTRIES - ROTATED_OUT - set(ROTATED_OUT_FRESH)) - head
    assert not missing, (
        f"§2-core entries evicted from the driver's {DRIVER_WINDOW}-row "
        f"checked window: {sorted(missing)} — adding a new entry requires "
        "demoting a twin via _DEPRIORITIZED"
    )
    # entries that must sit in the window: the current _PRIORITIZED slate
    promoted = {
        "lineitem_unpivot_stats", "orders_merge_bucketed",
        "orders_upsert_merge", "part_affinity_topk", "part_pagerank",
        "kmeans_clusters", "pca_coords", "approx_distinct_parts",
        "part_price_skyline", "phrase_match_docs",
        "prefix_jaccard_pairs", "price_decile_histogram",
        "quality_representative_dedup", "retention_cohorts",
        "returned_items_q10", "sql_interface_segment_revenue",
        "url_canonical_dedup", "user_decayed_value",
        "wizard_chain_stages", "forecast_revenue_q6",
        "market_share_q8", "product_profit_q9",
        "late_shipment_priority_q12", "order_count_distribution_q13",
        "top_supplier_q15", "supplier_part_counts_q16",
        "large_volume_customers_q18", "semantic_dedup_cells",
        "perplexity_bucket_filter", "countmin_heavy_hitters",
        "custom_pysource_links", "events_stream_static_join",
        "events_variant_extract", "trade_hops_recursive",
        "top_customers_lateral", "doc_chunks_udtf", "doc_bytes_arrow",
        "collated_lang_counts", "events_try_ops_safe",
        "user_event_map_profile", "sql_udf_token_stats",
        "hard_negative_mining", "source_kl_divergence",
        "weighted_sample_docs", "events_asof_last_click",
        "events_range_click_counts", "hash_embeddings",
        "knn_ivf_multiprobe", "medoid_summaries",
    }
    assert promoted <= head, sorted(promoted - head)


def _driver_green_rounds(name: str) -> int:
    """How many CORRECTNESS_r*.json artifacts show this entry fully
    hash-green."""
    import glob
    import json
    import os

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    n = 0
    for path in glob.glob(os.path.join(root, "CORRECTNESS_r*.json")):
        try:
            with open(path) as f:
                rows = json.load(f)
        except (OSError, json.JSONDecodeError):
            continue
        e = rows.get(name)
        if e and e.get("hash_match") and e.get("rows_match") and e.get("schema_match"):
            n += 1
    return n


def _round_artifact(n: int) -> dict:
    import json
    import os

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    path = os.path.join(root, f"CORRECTNESS_r{n:02d}.json")
    try:
        with open(path) as f:
            return json.load(f)
    except (OSError, json.JSONDecodeError):
        return {}


def test_rotated_out_entries_have_driver_evidence():
    """Rotation policy clause (a), executable: an entry may only be
    rotation-demoted under clause (a) if the committed driver
    artifacts show it hash-green in at least 2 prior rounds."""
    for name in sorted(ROTATED_OUT):
        assert _driver_green_rounds(name) >= 2, (
            f"{name} rotated out with <2 rounds of driver-green "
            "evidence — it must stay in the checked window"
        )


def test_fresh_rotations_were_green_the_round_before():
    """Rotation policy clause (b), executable: an entry demoted in
    round N with <2 green rounds must have been driver-green in round
    N-1 — fully hash-green for oracled entries, a recorded rows-only
    pass for entries that HAD no oracle in round N-1 (which could
    never hash-match). The standard is what the entry WAS when the
    evidence was recorded: the artifact row itself says so (err ==
    "no_oracle"), so an entry oracled AFTER its demotion — as
    wizard_full_chain was mid-r11 — still satisfies the clause with
    its recorded rows-only pass."""
    for name, demoted_in in sorted(ROTATED_OUT_FRESH.items()):
        e = _round_artifact(demoted_in - 1).get(name)
        assert e is not None, (
            f"{name}: no round-{demoted_in - 1} driver row — clause "
            "(b) demotion requires evidence from the prior round"
        )
        hash_green = bool(
            e.get("hash_match")
            and e.get("rows_match")
            and e.get("schema_match")
        )
        rows_only_pass = (
            e.get("err") == "no_oracle" and e.get("spark_rows") is not None
        )
        assert hash_green or rows_only_pass, (
            f"{name}: round-{demoted_in - 1} row was not green: {e}"
        )


def test_rotation_sets_disjoint_and_actually_demoted():
    """Clause (a) and (b) sets must not overlap, and every clause-(b)
    entry must actually sit in the deprioritized tail."""
    assert not (ROTATED_OUT & set(ROTATED_OUT_FRESH))
    for name in ROTATED_OUT_FRESH:
        assert name in _DEPRIORITIZED, name


def test_rows_only_entries_pinned():
    """No entry may lack a DuckDB oracle (VERDICT r4 #8) — a future
    entry cannot silently ship oracle-less. Round 11 (VERDICT r10
    #3/#4) converted kmeans_clusters, pca_coords and
    approx_distinct_parts to witness/error-bound oracles, then
    extended the same recipe to wizard_full_chain
    (assignment-invariant aggregates + constant-true invariants of
    the viz table): the rows-only set is now EMPTY, and this pin
    keeps it that way."""
    suite = load_suite()
    no_oracle = {name for name, q in suite.items() if q.oracle is None}
    assert no_oracle == set()


def test_demotion_comments_name_live_siblings():
    """VERDICT r10 #8: every _DEPRIORITIZED entry's trailing comment
    must point at machinery that still proves it — either a sibling
    entry that currently sits inside the driver's checked window, or
    an existing ``tests/<file>.py`` lane. Round 10 had to hand-fix 21
    stale sibling references after the rotation (commit de0b06b);
    this makes the audit executable so a future rotation fails fast
    instead of silently invalidating the comments."""
    import inspect
    import os
    import re

    import miba_2023_capstone_rb_nlp_spark.suite as suite_mod

    src = inspect.getsource(suite_mod)
    block = src.split("_DEPRIORITIZED = (", 1)[1].split("\n)", 1)[0]
    suite = load_suite()
    head = set(list(suite)[:DRIVER_WINDOW])
    all_names = set(suite)
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    checked = 0
    for line in block.splitlines():
        m = re.match(r'\s*"([a-z0-9_]+)",\s*#\s*(.*)$', line)
        if not m:
            continue  # section-narration comment lines
        name, comment = m.groups()
        checked += 1
        lanes = re.findall(r"tests/\w+\.py", comment)
        for lane in lanes:
            assert os.path.exists(os.path.join(root, lane)), (
                f"{name}: demotion comment cites missing lane {lane}"
            )
        siblings = [
            tok
            for tok in re.findall(r"[a-z0-9_]{3,}", comment)
            if tok in all_names and tok != name
        ]
        assert siblings or lanes, (
            f"{name}: demotion comment names neither a sibling entry "
            f"nor a tests/ lane: {comment!r}"
        )
        if siblings:
            assert any(s in head for s in siblings), (
                f"{name}: no named sibling {siblings} is inside the "
                f"current {DRIVER_WINDOW}-row driver window — the "
                "rotation invalidated this demotion comment"
            )
    assert checked == len(_DEPRIORITIZED), (
        f"comment audit parsed {checked} entry lines but "
        f"_DEPRIORITIZED holds {len(_DEPRIORITIZED)} — entry lines "
        "without a trailing comment are unaudited"
    )


def test_broken_suite_module_raises(monkeypatch):
    """An intra-package import failure must propagate, not silently
    shrink the registry (the round-1 hazard)."""
    real_import = builtins.__import__

    def broken(name, *args, **kwargs):
        if name == "miba_2023_capstone_rb_nlp_spark.suite.text":
            raise ModuleNotFoundError(
                "No module named "
                "'miba_2023_capstone_rb_nlp_spark.suite._typo'",
                name="miba_2023_capstone_rb_nlp_spark.suite._typo",
            )
        return real_import(name, *args, **kwargs)

    monkeypatch.setattr(builtins, "__import__", broken)
    with pytest.raises(ModuleNotFoundError):
        load_suite()


def test_missing_thirdparty_dep_tolerated(monkeypatch):
    """A genuinely absent optional third-party dep must not kill the
    whole suite — only that module's entries go missing."""
    real_import = builtins.__import__

    def no_umap(name, *args, **kwargs):
        if name == "miba_2023_capstone_rb_nlp_spark.suite.topics":
            raise ModuleNotFoundError("No module named 'umap'", name="umap")
        return real_import(name, *args, **kwargs)

    monkeypatch.setattr(builtins, "__import__", no_umap)
    suite = load_suite()  # must not raise
    assert "cluster_viz_summary" in suite
