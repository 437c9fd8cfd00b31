"""Physical-plan shape assertions: the properties that make these
queries scale are pinned here so a refactor can't silently lose them.

Checks run on the EXECUTED plan string (AQE final plan) at sf0.001.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from miba_2023_capstone_rb_nlp_spark import catalog
from miba_2023_capstone_rb_nlp_spark.suite import load_suite
from tests.conftest import SF_TEST_DIR

SUITE = load_suite()


# --- plan-string access, consolidated (ADVICE r8 #3) -----------------
# The three accessors below are the ONLY places this module touches
# private PySpark internals (df._jdf.queryExecution(), the JVM
# PythonSQLUtils bridge) — they are unstable across Spark minor
# versions and absent under Connect, so each falls back to capturing
# the public df.explain() output: a Spark upgrade breaks one helper,
# not every plan test.


def _captured_explain(df, mode: str) -> str:
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


def _executed_plan(df) -> str:
    df.collect()  # finalize AQE on THIS queryExecution
    try:
        return df._jdf.queryExecution().executedPlan().toString()
    except Exception:
        return _captured_explain(df, "simple")


def _executed_plan_nocollect(df) -> str:
    """Executed-plan string WITHOUT forcing a collect — for checks
    (ReadSchema, scan shape) that don't depend on AQE finalization."""
    try:
        return df._jdf.queryExecution().executedPlan().toString()
    except Exception:
        return _captured_explain(df, "simple")


def _optimized_plan(df) -> str:
    try:
        return df._jdf.queryExecution().optimizedPlan().toString()
    except Exception:
        ext = _captured_explain(df, "extended")
        if "== Optimized Logical Plan ==" not in ext:
            pytest.fail(
                "cannot obtain the optimized plan: JVM internals are "
                "unavailable and explain('extended') lacks the "
                "'== Optimized Logical Plan ==' section on this Spark "
                "version — update _optimized_plan's fallback parser"
            )
        return ext.split("== Optimized Logical Plan ==", 1)[1].split(
            "== Physical Plan ==", 1
        )[0]


def _final_plan(df) -> str:
    """Executed plan truncated to the AQE final section — the
    assertion surface for node counts (the Initial Plan repeats the
    tree and would double-count)."""
    return _executed_plan(df).split("== Initial Plan ==", 1)[0]


def _formatted_plan(df) -> str:
    try:
        return df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
    except Exception:
        return _captured_explain(df, "formatted")


def test_pricing_summary_pushdown_and_partial_agg(spark):
    """Timestamp predicate reaches the parquet scan; aggregation is
    partial (map-side) before the exchange."""
    df = SUITE["pricing_summary"].fn(spark, SF_TEST_DIR)
    plan = _executed_plan(df)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    assert "partial_sum" in plan or "partial_" in plan


def test_pricing_summary_column_pruning(spark):
    """ReadSchema carries only the referenced columns, not all 16."""
    df = SUITE["pricing_summary"].fn(spark, SF_TEST_DIR)
    plan = _executed_plan_nocollect(df)
    read = plan.split("ReadSchema:")[1].splitlines()[0]
    for col in ("l_returnflag", "l_quantity", "l_extendedprice"):
        assert col in read
    assert "l_comment" not in read and "l_shipmode" not in read


def test_region_revenue_broadcasts_dims(spark):
    """customer/nation/region are broadcast — only the fact join
    shuffles."""
    df = SUITE["region_revenue"].fn(spark, SF_TEST_DIR)
    plan = _executed_plan(df)
    assert plan.count("BroadcastHashJoin") >= 3


def test_semijoin_stays_semi(spark):
    plan = _executed_plan(SUITE["order_priority_semijoin"].fn(spark, SF_TEST_DIR))
    assert "LeftSemi" in plan


def test_antijoin_stays_anti(spark):
    plan = _executed_plan(SUITE["customers_without_orders"].fn(spark, SF_TEST_DIR))
    assert "LeftAnti" in plan


def test_simhash_banding_reuses_signature_exchange(spark):
    """The band self-join must reuse ONE exchange over the signature
    scan — not recompute it per side (broadcast would)."""
    plan = _executed_plan(SUITE["simhash_pairs"].fn(spark, SF_TEST_DIR))
    assert "ReusedExchange" in plan or plan.count("MapInPandas") == 1


def test_minhash_banding_reuses_signature_exchange(spark):
    plan = _executed_plan(SUITE["minhash_lsh_pairs"].fn(spark, SF_TEST_DIR))
    # the signature build (shingle explode + min-agg) appears once
    assert "ReusedExchange" in plan or plan.count("Generate explode") <= 2


def test_no_cartesian_anywhere_except_exact_allpairs(spark):
    """Only the documented O(n²) baselines may nested-loop join."""
    allowed = {"embedding_neardup_pairs"}  # block-pair applyInPandas now
    for name, q in SUITE.items():
        if name in allowed or name == "wizard_full_chain":
            continue
        df = q.fn(spark, SF_TEST_DIR)
        plan = _executed_plan_nocollect(df)
        assert "CartesianProduct" not in plan, name


def test_argmax_is_aggregate_not_window_sort(spark):
    plan = _executed_plan(SUITE["argmax_per_flag"].fn(spark, SF_TEST_DIR))
    assert "Window" not in plan
    assert "HashAggregate" in plan or "SortAggregate" in plan


def test_etl_cleaning_no_codegen_expression_blowup(spark):
    """The optimized cleaning plan must hold ~one regexp_replace per
    source rule (single-eval lets), not the ~250 a collapsed
    when-chain re-inlines."""
    df = SUITE["etl_clean_articles"].fn(spark, SF_TEST_DIR)
    plan = _optimized_plan(df)
    assert plan.count("regexp_replace") <= 20


def test_doc_chunk_windows_is_map_only(spark):
    """Chunking must be generate→slice with NO exchange: the fan-out
    happens where the doc lives."""
    plan = _executed_plan(SUITE["doc_chunk_windows"].fn(spark, SF_TEST_DIR))
    body = plan.split("Exchange RoundRobinPartitioning", 1)[-1]
    # the only exchange allowed is cpu_table's round-robin spread of
    # the single-file scan; no shuffle may follow the explode
    assert "Exchange hashpartitioning" not in body
    assert "Generate explode" in plan


def test_url_canonical_dedup_partial_agg(spark):
    """Canonical-key dedup must partial-aggregate map-side before its
    one exchange (the exact_dedup scale shape)."""
    plan = _executed_plan(SUITE["url_canonical_dedup"].fn(spark, SF_TEST_DIR))
    final = plan.split("== Initial Plan ==", 1)[0]  # AQE echoes both
    assert final.count("Exchange hashpartitioning") == 1
    assert "partial_" in final


def test_pca_transform_stays_jvm_side(spark):
    """pca_reduce's projection must be a pure column expression (the
    only Python stage is the one-pass moment fit): the transform plan
    may not contain a pandas/Arrow eval or an MLlib vector UDF."""
    e = catalog.table(spark, SF_TEST_DIR, "embeddings")
    from miba_2023_capstone_rb_nlp_spark.ml.reduce import pca_reduce

    out = pca_reduce(e, "embedding", n_components=2)
    plan = _executed_plan(out.select("vec_id", "reduced_dimensions"))
    for marker in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas"):
        assert marker not in plan, f"python stage {marker} in transform plan"
    # codegen'd stages print as "*(n) Project ..." in the plan string
    assert "*(1) Project" in plan or "WholeStageCodegen" in plan


def test_knn_partial_topk_bounds_shuffle(spark):
    """Brute-force kNN must emit per-batch partial top-k (combiner),
    not ship every candidate pair through the window shuffle."""
    df = SUITE["knn_bruteforce"].fn(spark, SF_TEST_DIR)
    plan = _executed_plan_nocollect(df)
    assert "MapInPandas" in plan  # kernel stage present
    assert "BroadcastNestedLoopJoin" not in plan


def test_asof_join_is_single_shuffle_no_join(spark):
    """The as-of join must compile to union + one shuffle boundary +
    window — no join operator at all (the property that makes it
    scale). Spark pushes the exchange below the union, so each union
    leg may carry its own Exchange node; all of them must be the same
    user_id hash partitioning."""
    plan = _executed_plan(SUITE["events_asof_last_click"].fn(spark, SF_TEST_DIR))
    exchanges = [ln for ln in plan.splitlines() if "Exchange" in ln]
    assert exchanges and all("hashpartitioning(user_id" in ln for ln in exchanges)
    assert "Join" not in plan
    assert "Window" in plan


def test_bm25_topk_is_heap_topk_with_broadcast_stats(spark):
    """BM25 must compile to TakeOrderedAndProject (per-partition heap
    top-k, never a global sort) with df/avgdl as broadcasts, and the
    query-term filter must land before the posting aggregation.

    The df aggregate deliberately stays a broadcast-join over a
    groupBy — NOT a Window.partitionBy(term) — even though the window
    is faster at sf0.1 (one fewer job): df(term) rows per term can be
    ~n_docs for a common term, and a per-term window would funnel
    them into one partition, while the groupBy keeps map-side partial
    aggregation (VERDICT r8 #5)."""
    df = SUITE["bm25_topk"].fn(spark, SF_TEST_DIR)
    plan = _executed_plan(df)
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan
    # the query-term tf table feeds both the df aggregate and the
    # score join from ONE cached materialization — without it the
    # corpus scan+explode subtree runs twice
    assert "InMemoryTableScan" in plan
    opt = _optimized_plan(df)
    # the query-term filter (term IN (...) / INSET) must be pushed
    # BELOW the tf aggregate, not applied post-aggregate. Position is
    # asserted, not mere presence (ADVICE r10 #1): the plan printer
    # emits parents before children, so "pushed below" means the
    # Filter line sits at a LATER index than the tf aggregate's line
    # (the one whose output carries tf#N) — a regression that leaves
    # the Filter above the aggregate prints it first and fails here.
    # (ADVICE r9 #3 fixed the precedence-broken `A and B or C` form
    # of the old presence check.)
    import re as _re

    lines = opt.splitlines()
    f_idx = [
        i
        for i, ln in enumerate(lines)
        if "INSET" in ln or _re.search(r"term#\d+ IN \(", ln)
    ]
    assert f_idx, opt[:2000]
    agg_idx = [
        i
        for i, ln in enumerate(lines)
        if "Aggregate" in ln and _re.search(r"tf#\d+", ln)
    ]
    assert agg_idx, opt[:2000]
    assert min(f_idx) > min(agg_idx), (
        "query-term filter printed above the tf aggregate — pushdown "
        f"regressed (filter line {min(f_idx)}, aggregate line "
        f"{min(agg_idx)})"
    )


def test_bigram_topk_single_explode_partial_agg(spark):
    """One explode (shingles are built with transform, not a
    per-token explode), map-side combined count, heap top-k."""
    df = SUITE["bigram_topk"].fn(spark, SF_TEST_DIR)
    # AQE plan strings repeat the tree under "== Initial Plan ==" —
    # assert on the final section only
    plan = _executed_plan(df).split("== Initial Plan ==")[0]
    assert plan.count("Generate explode") == 1
    assert "partial_" in plan
    assert "TakeOrderedAndProject" in plan


def test_sequence_packing_single_stratum_shuffle(spark):
    """Packing must shuffle exactly once, on the stratum key."""
    df = SUITE["sequence_packing"].fn(spark, SF_TEST_DIR)
    plan = _executed_plan(df)
    exchanges = [
        ln
        for ln in plan.splitlines()
        if "Exchange hashpartitioning" in ln
    ]
    assert exchanges and all("lang" in ln for ln in exchanges)
    assert "Window" in plan


def test_hash_split_profile_is_map_plus_one_agg(spark):
    """Split assignment is a pure map — no window, no join."""
    plan = _executed_plan(SUITE["hash_split_profile"].fn(spark, SF_TEST_DIR))
    assert "Window" not in plan and "Join" not in plan
    assert "partial_" in plan


def test_range_join_is_equijoin_not_nested_loop(spark):
    """The bucketed range join must stay an equi-join — a plain
    inequality join would fall back to BroadcastNestedLoopJoin."""
    plan = _executed_plan(SUITE["events_range_click_counts"].fn(spark, SF_TEST_DIR))
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or "BroadcastHashJoin" in plan


def test_duplicate_span_flags_single_hash_pass(spark):
    """Span dedup detection: the corpus is tokenized and md5-hashed
    in exactly ONE subtree (the r5 rewrite removed the re-scan per
    consumer), counts are partial aggs, shuffles carry only the
    8-byte hash + ids, and no nested-loop joins appear."""
    plan = _executed_plan(SUITE["duplicate_span_flags"].fn(spark, SF_TEST_DIR))
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("md5") == 1
    assert "partial_count" in final or "partial_" in final
    assert "CartesianProduct" not in final
    assert "BroadcastNestedLoopJoin" not in final


def test_line_dedup_rebuild_anti_join_and_order_restoring_agg(spark):
    """C4-style rebuild: frequent-chunk removal is a LeftAnti on the
    hash key; reassembly is ONE order-restoring aggregate (array_sort
    over collect_list), not a global Sort + window."""
    plan = _executed_plan(SUITE["line_dedup_rebuild"].fn(spark, SF_TEST_DIR))
    assert "LeftAnti" in plan
    assert "collect_list" in plan
    assert "Window" not in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_quality_representative_is_struct_max_not_window(spark):
    """Per-component argmax is a single max(struct) aggregate — no
    per-component window sort, no extra shuffle beyond CC + groupBy."""
    plan = _executed_plan(
        SUITE["quality_representative_dedup"].fn(spark, SF_TEST_DIR)
    )
    assert "Window" not in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_dsir_feature_table_broadcast_no_global_sort(spark):
    """DSIR selection: the bucket feature table and the 1-row
    totals/mean frames join back via broadcast (corpus shuffles only
    for its own aggs), and the threshold select adds no global sort."""
    plan = _executed_plan(SUITE["dsir_importance_select"].fn(spark, SF_TEST_DIR))
    assert plan.count("BroadcastExchange") + plan.count(
        "BroadcastQueryStage"
    ) >= 2
    assert "Window" not in plan
    assert "CartesianProduct" not in plan
    # the raw token stream is tokenized+hashed ONCE: every reuse of
    # the per-doc bucket-count feature matrix reads the persisted
    # copy, never re-explodes the corpus
    assert "InMemoryTableScan" in plan


def test_pivot_two_phase_agg_declared_values(spark):
    """Pivot with DECLARED values: ONE scan of events (no extra
    distinct-scan job for key discovery), a (user, type) pre-agg
    exchange plus the pivotfirst exchange on user — both map-side
    partial."""
    df = SUITE["events_type_pivot"].fn(spark, SF_TEST_DIR)
    final = _executed_plan(df).split("== Initial Plan ==")[0]
    assert final.count("Exchange hashpartitioning") == 2
    assert "partial_pivotfirst" in final
    assert final.count("Scan parquet") == 1


def test_merge_full_outer_is_single_join_no_broadcast(spark):
    """MERGE: one full-outer sort-merge join on the key (full outer
    can never broadcast), base scanned for changes + base sides only."""
    df = SUITE["orders_upsert_merge"].fn(spark, SF_TEST_DIR)
    plan = _executed_plan(df)
    assert "FullOuter" in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
    assert "BroadcastHashJoin" not in plan
    assert "CartesianProduct" not in plan


def test_funnel_single_exchange_no_joins(spark):
    """The funnel is ONE hash exchange + a codegen'd array fold — the
    SQL formulation's three self-joins must not appear."""
    df = SUITE["events_funnel_stages"].fn(spark, SF_TEST_DIR)
    final = _executed_plan(df).split("== Initial Plan ==")[0]
    assert final.count("Exchange hashpartitioning") == 1
    assert "Join" not in final
    assert final.count("Scan parquet") == 1


def test_bigram_lm_single_scan_broadcast_model(spark):
    """Bigram-LM scoring: the corpus is tokenized once (every reuse
    of the per-doc bigram matrix is an InMemoryTableScan), the model
    joins back via broadcast, and nothing sorts globally. The ONLY
    window is the r15 context-total sum over c2's own (w1, w2)
    exchange key — it replaced a re-derived aggregate joined back, so
    a second window or a global sort is a regression."""
    plan = _executed_plan(SUITE["bigram_lm_perplexity"].fn(spark, SF_TEST_DIR))
    assert "InMemoryTableScan" in plan
    assert plan.count("BroadcastExchange") + plan.count("BroadcastQueryStage") >= 2
    # the context-total window may print inside the broadcast subtree
    # (either plan section), so pin it over the whole string: every
    # window spec present is the w1 context-total one
    assert plan.count("windowspecdefinition(") >= 1
    assert plan.count("windowspecdefinition(") == plan.count(
        "windowspecdefinition(w1"
    )
    # window sorts are per-partition (global=false); a global Sort
    # (", true, 0") would mean an orderBy snuck into the scoring path
    assert ", true, 0" not in plan
    assert "CartesianProduct" not in plan


def test_decayed_value_weight_table_broadcast_one_user_exchange(spark):
    """Time-decay: exp() runs on the distinct-day weight table only
    (broadcast back), so the event stream pays exactly ONE exchange —
    the groupBy-user agg — plus the tiny distinct-day/TZ ones; no
    window, no sort-merge join over events."""
    plan = _executed_plan(SUITE["user_decayed_value"].fn(spark, SF_TEST_DIR))
    assert plan.count("BroadcastExchange") + plan.count("BroadcastQueryStage") >= 2
    assert "SortMergeJoin" not in plan
    assert "Window" not in plan


def test_affinity_pairs_no_cartesian_rank_per_part(spark):
    """Part affinity: pair generation is an equi-join on l_orderkey
    (never a cartesian/BNLJ), margins broadcast, ranking is a
    per-part window (no global sort on the pair table)."""
    plan = _executed_plan(SUITE["part_affinity_topk"].fn(spark, SF_TEST_DIR))
    final = plan.split("== Initial Plan ==", 1)[0]  # AQE echoes both
    assert "CartesianProduct" not in final
    # the ONLY nested-loop join allowed is the 1-row n_orders scalar
    # broadcast; the basket self-join must be an equi-join
    assert final.count("BroadcastNestedLoopJoin") <= 1
    assert final.count("BroadcastExchange") + final.count("BroadcastQueryStage") >= 2


def test_mad_outliers_two_pass_broadcast_medians(spark):
    """Median/MAD: both per-type percentile results join back as
    broadcasts (|types| rows); the event stream never sort-merge
    joins or globally sorts."""
    plan = _executed_plan(SUITE["event_outliers_mad"].fn(spark, SF_TEST_DIR))
    assert plan.count("BroadcastExchange") + plan.count("BroadcastQueryStage") >= 2
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_phrase_match_filter_before_exchange(spark):
    """Phrase search: the phrase-term IN-filter applies in the same
    stage as the posexplode (non-phrase tokens never reach an
    exchange), and adjacency is equi-join only."""
    df = SUITE["phrase_match_docs"].fn(spark, SF_TEST_DIR)
    plan = _executed_plan(df)
    assert "Generate posexplode" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the IN-filter is attached directly to the generate's output
    import re
    assert re.search(r"Filter .*w#\d+ IN \(slow,hash,batch\)", plan) or "IN (slow,hash,batch)" in plan


def test_wau_single_distinct_exchange(spark):
    """Rolling 7-day actives: the date fan-out is map-only (sequence +
    explode, constant factor 7); dedup happens via partial aggregate
    before the one (user, day) exchange — no join, no window."""
    plan = _executed_plan(SUITE["weekly_active_users"].fn(spark, SF_TEST_DIR))
    final = plan.split("== Initial Plan ==", 1)[0]
    assert "Generate explode" in final
    assert "Window" not in final
    assert "SortMergeJoin" not in final
    assert "partial_" in final or "HashAggregate" in final


def test_retention_no_cohort_join(spark):
    """Retention matrix: cohort min-week and the distinct active-week
    set come out of the SAME user_id aggregate — the plan has no join
    between an activity table and a cohort table at all."""
    plan = _executed_plan(SUITE["retention_cohorts"].fn(spark, SF_TEST_DIR))
    final = plan.split("== Initial Plan ==", 1)[0]
    assert "SortMergeJoin" not in final
    assert "collect_set" in final
    # only the 1-row corpus-start broadcast joins anything
    assert final.count("BroadcastNestedLoopJoin") <= 1


def test_vocab_overlap_dedups_before_join(spark):
    """Source-vocab Jaccard: the (source, token) distinct collapses
    map-side BEFORE the vocabulary self-join — raw token volume never
    shuffles twice — and margins broadcast back."""
    plan = _executed_plan(SUITE["source_vocab_overlap"].fn(spark, SF_TEST_DIR))
    final = plan.split("== Initial Plan ==", 1)[0]
    assert "CartesianProduct" not in final
    assert plan.count("BroadcastExchange") + plan.count("BroadcastQueryStage") >= 2


def test_pagerank_rounds_are_checkpointed_leaves(spark):
    """PageRank: every round ends in an eager localCheckpoint (the
    components.py device), so the RESULT plan is a leaf scan over the
    final round's materialized rank vector — re-materializing the
    result must not re-run any join/aggregate round — and each
    round's own plan reads the persisted edge table and broadcasts
    the previous rank vector."""
    df = SUITE["part_pagerank"].fn(spark, SF_TEST_DIR)
    plan = _executed_plan(df)
    assert "Scan ExistingRDD" in plan
    for marker in ("Join", "Exchange", "HashAggregate"):
        assert marker not in plan, f"round work leaked into result plan: {marker}"


def test_data_quality_single_metric_pass(spark):
    """DQ report: all row-local metrics come from ONE aggregate over
    orders (no scan per check), the FK probe is a broadcast semi
    join, and the report assembly adds no shuffle."""
    plan = _executed_plan(SUITE["data_quality_report"].fn(spark, SF_TEST_DIR))
    final = plan.split("== Initial Plan ==", 1)[0]
    assert "LeftSemi" in final
    assert final.count("Scan parquet") <= 3  # orders ×2 passes + customer


def test_incremental_merge_pushes_both_predicates(spark):
    """Incremental merge: both the base and delta scans push their
    date predicate to parquet, and the merge is aggregate-over-union
    (no join)."""
    df = SUITE["incremental_revenue_merge"].fn(spark, SF_TEST_DIR)
    plan = _executed_plan(df)
    assert plan.count("PushedFilters: [IsNotNull(o_orderdate)") >= 2
    assert "Join" not in plan.split("== Initial Plan ==", 1)[0]


def test_transition_matrix_one_window_pass(spark):
    """Transition matrix: one user_id window pass over events, the
    |types|²-bounded pair table aggregates with map-side combine and
    its margin joins back via broadcast."""
    plan = _executed_plan(SUITE["event_transition_matrix"].fn(spark, SF_TEST_DIR))
    final = plan.split("== Initial Plan ==", 1)[0]
    assert final.count("Window") == 1
    assert "SortMergeJoin" not in final
    assert plan.count("BroadcastExchange") + plan.count("BroadcastQueryStage") >= 1


def test_asof_cogroup_copartitions_both_sides(spark):
    """Cogroup as-of: one FlatMapCoGroupsInPandas stage fed by both
    sides exchanged on the HASH BUCKET (constant python-call count at
    any user cardinality) — no join operator, no extra shuffle after
    the pandas stage."""
    plan = _executed_plan(SUITE["events_asof_cogroup"].fn(spark, SF_TEST_DIR))
    final = plan.split("== Initial Plan ==", 1)[0]
    assert "FlatMapCoGroupsInPandas" in final
    assert "Join" not in final
    exchanges = [ln for ln in final.splitlines() if "Exchange hashpartitioning" in ln]
    assert exchanges and all("b#" in ln for ln in exchanges)


def test_gapfill_generates_grid_no_second_event_scan(spark):
    """Gap-fill: ONE scan feeds the hourly agg; the grid comes from a
    sequence() explode over 1-row bounds plus the distinct-type table
    (3 event scans total: agg + bounds + types — never per grid
    row), and the forward fill is one event_type window."""
    plan = _executed_plan(SUITE["events_hourly_gapfill"].fn(spark, SF_TEST_DIR))
    final = plan.split("== Initial Plan ==", 1)[0]
    assert "Generate explode" in final
    assert final.count("Window") == 1


def test_decile_histogram_single_window_partial_agg(spark):
    """Decile histogram: one ntile window per flag partition followed
    by a map-side-combined aggregate (the documented exact/oracle
    form — the approx scale path lives in the docstring)."""
    plan = _executed_plan(SUITE["price_decile_histogram"].fn(spark, SF_TEST_DIR))
    final = plan.split("== Initial Plan ==", 1)[0]
    assert final.count("Window") == 1
    assert "partial_" in final


def test_dim_stats_single_agg_after_posexplode(spark):
    """Embedding dim stats: posexplode is map-only; ONE |dims|-key
    aggregate with map-side combine; no join, no window."""
    plan = _executed_plan(SUITE["embedding_dim_stats"].fn(spark, SF_TEST_DIR))
    final = plan.split("== Initial Plan ==", 1)[0]
    assert "Generate posexplode" in final
    assert "partial_" in final
    assert "Join" not in final and "Window" not in final


def test_unpivot_reshape_after_aggregate(spark):
    """Unpivot stats (r15): the long reshape happens AFTER the one
    wide map-side-combined aggregate — a Generate over 3 structs per
    flag row — so the corpus-scale input is never tripled by an
    Expand before the aggregate; still no key-discovery job/join
    (measures are declared)."""
    plan = _executed_plan(SUITE["lineitem_unpivot_stats"].fn(spark, SF_TEST_DIR))
    final = plan.split("== Initial Plan ==", 1)[0]
    assert "Expand" not in final
    assert "Generate" in final
    assert "partial_" in final
    assert "Join" not in final


def test_cusum_integer_state_struct_argmax(spark):
    """CUSUM: the running state is integer (no float cumsum), the
    peak-day pick is a struct-max AGGREGATE on top of the one ordered
    window per type — exactly one Window, no join besides the
    |types|-row broadcast."""
    plan = _executed_plan(SUITE["events_cusum_changepoint"].fn(spark, SF_TEST_DIR))
    final = plan.split("== Initial Plan ==", 1)[0]
    assert final.count("Window") == 1
    assert "SortMergeJoin" not in final


def test_ttest_one_pass_complement_by_subtraction(spark):
    """Welch t: ONE aggregate pass collects per-type moments; the
    complement ('rest') derives from the 1-row totals broadcast by
    subtraction — no second scan, no self-join of events."""
    df = SUITE["events_value_ttest"].fn(spark, SF_TEST_DIR)
    plan = _executed_plan(df)
    final = plan.split("== Initial Plan ==", 1)[0]
    assert final.count("Scan parquet") <= 1
    assert "SortMergeJoin" not in final and "Window" not in final


def test_sql_interface_same_star_shape_as_dataframe(spark):
    """spark.sql text compiles to the same broadcast star + partial
    agg shape as the DataFrame twin; HAVING is a filter, not a second
    aggregate pass."""
    plan = _executed_plan(
        SUITE["sql_interface_segment_revenue"].fn(spark, SF_TEST_DIR)
    )
    final = plan.split("== Initial Plan ==", 1)[0]
    assert "BroadcastHashJoin" in final or "SortMergeJoin" not in final
    assert "partial_" in final
    assert final.count("HashAggregate") <= 4  # one two-phase agg, no re-agg


def test_q3_pushdown_broadcast_heap_topk(spark):
    """Q3: all three predicates reach their scans, the filtered
    customer side broadcasts, the top-10 is a heap (no global
    sort)."""
    df = SUITE["shipping_priority_q3"].fn(spark, SF_TEST_DIR)
    plan = _executed_plan(df)
    assert "TakeOrderedAndProject" in plan
    assert "EqualTo(c_mktsegment,BUILDING)" in plan.split("ReadSchema")[0] or (
        "EqualTo(c_mktsegment,BUILDING)" in plan
    )
    assert plan.count("BroadcastHashJoin") >= 1


def test_bpe_learn_one_corpus_exchange_per_round_vocab_only(spark):
    """The learning DataFrame's final-round plan: the corpus-scale
    word-count exchange appears, and every downstream pair-count
    aggregate reads a checkpointed (vocab-bounded) RDD scan — the
    corpus parquet is scanned by at most one subtree (the learn loop
    materializes rounds eagerly, so the returned plan is the cheap
    union of five 1-row argmax frames over checkpoint scans)."""
    df = SUITE["bpe_merge_learn"].fn(spark, SF_TEST_DIR)
    plan = _executed_plan(df)
    # the returned merge table unions 1-row checkpointed argmax
    # frames — no corpus rescan in the final plan
    assert "Scan ExistingRDD" in plan
    assert plan.count("Scan parquet") == 0


def test_bpe_encode_is_map_only_over_corpus(spark):
    """Encoding = chained literal replace: after the (separately
    materialized) learning pass, the per-doc output plan holds ONE
    parquet scan of documents and ZERO exchanges beyond the output
    sort — merges travel in the closure, not through a join."""
    df = SUITE["bpe_encode_stats"].fn(spark, SF_TEST_DIR)
    final = _executed_plan(df).split("== Initial Plan ==")[0]
    assert final.count("Scan parquet") == 1
    # the learned merges appear as inlined literal replace chains
    assert final.count("replace(") >= 5
    # orderBy's rangepartitioning (and cpu_table's round-robin) are
    # the only exchanges; no hash exchange = no join/agg over the
    # corpus, and no join operator at all
    assert "hashpartitioning" not in final
    assert "SortMergeJoin" not in final and "BroadcastHashJoin" not in final


def test_incremental_dedup_corpus_never_shuffles(spark):
    """Cross-corpus dedup: the batch side is broadcast
    (BroadcastHashJoin — bounded incoming batch), the corpus side
    streams through the probe without any hash exchange, and no
    self-join exists (within-corpus pairs are never generated, which
    is the operator's reason to exist)."""
    df = SUITE["incremental_minhash_dedup"].fn(spark, SF_TEST_DIR)
    final = _executed_plan(df).split("== Initial Plan ==")[0]
    assert "BroadcastHashJoin" in final
    assert "SortMergeJoin" not in final and "ShuffledHashJoin" not in final
    # the best-match reduction is a struct-max aggregate, not a
    # window sort over candidates
    assert "row_number" not in final


def test_fuzzy_match_distinct_first_no_nested_loop(spark):
    """Fuzzy matching must be vocab-bounded: the distinct lands
    before the gram explode (everything downstream is |vocab| rows),
    candidates come from an equi-join (the gram key is the band key —
    never a nested-loop/cartesian), and the DP verify runs as a
    filter above the candidate aggregate."""
    df = SUITE["fuzzy_name_matches"].fn(spark, SF_TEST_DIR)
    final = _executed_plan(df).split("== Initial Plan ==")[0]
    assert "BroadcastNestedLoopJoin" not in final
    assert "CartesianProduct" not in final
    import re

    opt = _optimized_plan(df)
    # the name distinct (Aggregate [s], [s]) feeds the gram explode:
    # in the top-down plan print it must appear BELOW the Generate
    m = re.search(r"Aggregate \[s#\d+\], \[s#\d+\]", opt)
    assert m and opt.index("Generate") < m.start()
    # the DP stays ABOVE the candidate aggregate: pushing it into the
    # gram join would run one levenshtein per shared-gram row. The
    # CASE-gate ties it to the aggregate's `shared` output, so no
    # levenshtein may appear below the sum(least(...)) aggregate.
    below_agg = opt[opt.index("sum(least(") :]
    assert "levenshtein" not in below_agg


def test_skyline_local_prune_then_candidate_antijoin(spark):
    """The fact table is pruned map-side (MapInPandas local skyline)
    before anything moves; the only non-equi join is the broadcast
    anti-join over the tiny candidate union — never over the fact
    table — and there is no global sort."""
    df = SUITE["part_price_skyline"].fn(spark, SF_TEST_DIR)
    final = _executed_plan(df).split("== Initial Plan ==")[0]
    assert "MapInPandas" in final
    assert "BroadcastNestedLoopJoin" in final and "LeftAnti" in final
    assert "rangepartitioning" not in final  # no global sort


def test_regression_single_moment_pass(spark):
    """brand_price_regression: ONE fact aggregate collects all six
    moments (no second scan per statistic), the part dim broadcasts,
    and the solve is a projection — no window, no extra join."""
    df = SUITE["brand_price_regression"].fn(spark, SF_TEST_DIR)
    final = _executed_plan(df).split("== Initial Plan ==")[0]
    assert final.count("Scan parquet") == 2  # lineitem + part only
    assert "BroadcastHashJoin" in final
    assert "Window" not in final
    assert "partial_" in final  # map-side combined moments


def test_q10_pushdown_broadcast_heap_topk(spark):
    """Q10: quarter predicate reaches the orders scan, returnflag
    reaches lineitem, nation broadcasts, top-20 is a heap."""
    df = SUITE["returned_items_q10"].fn(spark, SF_TEST_DIR)
    plan = _executed_plan(df)
    assert "PushedFilters: [IsNotNull(o_orderdate), GreaterThanOrEqual(o_orderdate" in plan
    assert "EqualTo(l_returnflag,R)" in plan
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan


def test_bucketed_merge_join_has_no_exchange(spark):
    """orders_merge_bucketed: both merge inputs are bucketed by the
    key at rest, so the full-outer SortMergeJoin consumes the scans
    DIRECTLY — no Exchange on either side (the pay-once-amortize
    layout a 100 TB MERGE needs; VERDICT r5 next-round #3)."""
    df = SUITE["orders_merge_bucketed"].fn(spark, SF_TEST_DIR)
    plan = _executed_plan(df)
    assert "FullOuter" in plan and "SortMergeJoin" in plan
    assert "Bucketed: true" in plan
    assert "Exchange hashpartitioning(o_orderkey" not in plan


def test_ivf_pruned_probe_is_partition_pruning(spark):
    """knn_ivf_pruned: the corpus lives partitioned by cell; the
    probe's isin(cells) must land in the scan's PartitionFilters so
    non-probed cells' files are never opened (VERDICT r5 next-round
    #4 — the ANN layout claim, executed)."""
    from miba_2023_capstone_rb_nlp_spark.suite.similarity import (
        write_ivf_layout,
    )
    from miba_2023_capstone_rb_nlp_spark.similarity.knn import knn_ivf_cells

    path = write_ivf_layout(spark, SF_TEST_DIR)
    corpus = spark.read.parquet(path)
    # probe only 2 of the 10 cells
    queries = (
        catalog.table(spark, SF_TEST_DIR, "embeddings")
        .filter(F.col("label").isin([3, 7]))
        .limit(8)
    )
    df = knn_ivf_cells(
        corpus, queries, "embedding", "vec_id", "label", dim=64, k=5
    )
    plan = _executed_plan(df)
    scan = plan.split("PartitionFilters: [")[1].splitlines()[0]
    assert "label" in scan and scan.strip() != "]," , scan
    # and the registry entry itself keeps the pruned-scan shape
    entry_plan = _executed_plan(SUITE["knn_ivf_pruned"].fn(spark, SF_TEST_DIR))
    assert "PartitionFilters: [label" in entry_plan.replace(
        "PartitionFilters: [ label", "PartitionFilters: [label"
    )


def test_q5_all_dims_broadcast_one_fact_exchange(spark):
    """Q5: the 6-table star keeps every dim side broadcast (region →
    nation → supplier chain and the customer dim), so the ONLY
    exchanges are the fact join and the final group — and the order
    year pushes to the orders scan."""
    df = SUITE["local_supplier_volume_q5"].fn(spark, SF_TEST_DIR)
    plan = _executed_plan(df)
    assert plan.count("BroadcastHashJoin") >= 5
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    assert "GreaterThanOrEqual(o_orderdate,1996-01-01" in plan
    assert "EqualTo(r_name,ASIA)" in plan


def test_q14_month_pushdown_single_conditional_agg(spark):
    """Q14: the ship-month range reaches the lineitem scan and both
    sums (promo + total) come from ONE aggregate pass."""
    df = SUITE["promo_revenue_q14"].fn(spark, SF_TEST_DIR)
    plan = _executed_plan(df)
    assert "GreaterThanOrEqual(l_shipdate,1996-09-01" in plan
    assert "BroadcastHashJoin" in plan
    assert "partial_" in plan  # map-side combined conditional sums


def test_q19_disjunction_pushes_to_both_scans(spark):
    """Q19: Catalyst must factor the OR-of-ANDs so each side's scan
    gets its own disjunctive filter — quantity bounds on lineitem,
    brand/size on part — instead of evaluating everything post-join."""
    df = SUITE["disjunctive_revenue_q19"].fn(spark, SF_TEST_DIR)
    plan = _executed_plan(df)
    li_scans = [s for s in plan.split("PushedFilters: [")[1:] if "l_quantity" in s.splitlines()[0]]
    p_scans = [s for s in plan.split("PushedFilters: [")[1:] if "p_brand" in s.splitlines()[0]]
    assert li_scans and "Or(" in li_scans[0].splitlines()[0]
    assert p_scans and "Or(" in p_scans[0].splitlines()[0]


def test_triangle_wedges_oriented_and_semi_closed(spark):
    """Triangle counting: the degree table rides broadcast joins, the
    closing-edge check stays a LeftSemi (existence only — no payload
    fan-out), and nothing nested-loops."""
    df = SUITE["part_triangle_counts"].fn(spark, SF_TEST_DIR)
    plan = _executed_plan(df)
    assert "LeftSemi" in plan
    assert plan.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_phrase_join_order_rarest_first(spark):
    """phrase_match_docs joins the two rarest-posting terms FIRST
    (VERDICT r6 next-round #6): the inverted-index intersection order.
    Pins (a) the chosen order equals ascending true posting counts,
    and (b) the executed join tree actually places the most frequent
    term's branch last — its filter literal prints in the final
    (outermost-right) subtree of the plan."""
    from miba_2023_capstone_rb_nlp_spark.functions.text import tokens
    from miba_2023_capstone_rb_nlp_spark.suite.retrieval import (
        PHRASE,
        phrase_join_order,
    )

    docs = catalog.cpu_table(spark, SF_TEST_DIR, "documents")
    truth = dict(
        docs.select(F.explode(tokens(F.col("text"))).alias("w"))
        .filter(F.col("w").isin(*PHRASE))
        .groupBy("w")
        .count()
        .collect()
    )
    order = phrase_join_order(spark, SF_TEST_DIR)
    assert sorted(order) == list(range(len(PHRASE)))
    terms = [PHRASE[i] for i in order]
    counts = [truth.get(t, 0) for t in terms]
    assert counts == sorted(counts), (order, truth)
    plan = _executed_plan(SUITE["phrase_match_docs"].fn(spark, SF_TEST_DIR))
    # tree print order: the outer join's right child (the LAST branch
    # joined — the most frequent term) prints after both rarer ones
    positions = [plan.rfind(f"= {t})") for t in terms]
    assert all(p >= 0 for p in positions), (order, plan[:2000])
    assert positions[2] == max(positions), (order, positions)


def test_merge_steady_reuses_layout_and_stays_exchange_free(spark):
    """orders_merge_steady: the second invocation must NOT rewrite
    the bucket layout (fingerprint reuse — the amortized production
    posture), and the merge join stays exchange-free on both sides."""
    import os

    from miba_2023_capstone_rb_nlp_spark import catalog as cat
    from miba_2023_capstone_rb_nlp_spark.suite.relational import (
        ensure_merge_layout,
    )

    b, c = ensure_merge_layout(spark, SF_TEST_DIR)
    root = cat.warehouse_dir("merge_bucketed", cat.sf_name(SF_TEST_DIR))
    stamp = os.path.join(root, b, cat._FINGERPRINT_FILE)
    mtime = os.stat(stamp).st_mtime_ns
    df = SUITE["orders_merge_steady"].fn(spark, SF_TEST_DIR)
    plan = _executed_plan(df)
    assert os.stat(stamp).st_mtime_ns == mtime  # no rewrite happened
    assert "FullOuter" in plan and "SortMergeJoin" in plan
    assert "Bucketed: true" in plan
    assert "Exchange hashpartitioning(o_orderkey" not in plan


def test_q7_pair_dims_broadcast_one_fact_exchange(spark):
    """Q7: both nation-pair dim chains broadcast (supplier and
    customer each pre-joined to the 2-row nation slice), ship-date
    range reaches the lineitem scan, and the only shuffle join is
    lineitem⋈orders."""
    df = SUITE["volume_shipping_q7"].fn(spark, SF_TEST_DIR)
    plan = _executed_plan(df)
    assert plan.count("BroadcastHashJoin") >= 2
    assert "GreaterThanOrEqual(l_shipdate,1995-01-01" in plan
    assert plan.count("SortMergeJoin") <= 1
    assert "CartesianProduct" not in plan


def test_q17_decorrelated_threshold_broadcasts(spark):
    """Q17: the correlated avg-quantity subquery decorrelates to ONE
    per-part aggregate whose (brand-bounded) threshold table
    broadcasts back — no per-row subquery, no fact self-shuffle; the
    brand filter reaches the part scan."""
    df = SUITE["small_qty_revenue_q17"].fn(spark, SF_TEST_DIR)
    plan = _executed_plan(df)
    assert "EqualTo(p_brand,Brand#23)" in plan
    assert plan.count("BroadcastHashJoin") >= 2
    assert "Exchange hashpartitioning(l_orderkey" not in plan
    assert "partial_" in plan  # map-side combined per-part aggregate


def test_q21_decorrelated_no_per_row_subquery(spark):
    """Q21: the exists/not-exists pair decorrelates to per-order
    supplier counts over ONE derived l1 — no cartesian/nested-loop
    anywhere, the o_orderstatus filter reaches the orders scan, and
    both aggregate levels are map-side partial. (At sf0.001 AQE
    broadcasts the tiny fact join; at scale the SMJ's orderkey
    partitioning feeds both aggregate levels exchange-free.)"""
    df = SUITE["waiting_suppliers_q21"].fn(spark, SF_TEST_DIR)
    plan = _executed_plan(df)
    final = plan.split("== Initial Plan ==", 1)[0]  # AQE echoes both
    assert "EqualTo(o_orderstatus,F)" in final
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "partial_max" in final and "partial_count" in final
    assert final.count("SortMergeJoin") <= 1


def test_q2_decorrelated_scalar_min_broadcasts(spark):
    """Q2: the correlated scalar-min subquery decorrelates to one
    per-part min broadcast back as an equi-join; the part size/type
    filters reach the part scan and bound the cost aggregate's input
    via a broadcast join BEFORE the only fact exchange."""
    df = SUITE["min_cost_supplier_q2"].fn(spark, SF_TEST_DIR)
    plan = _executed_plan(df)
    final = plan.split("== Initial Plan ==", 1)[0]  # AQE echoes both
    assert "EqualTo(p_type,ECONOMY)" in final
    assert "LessThanOrEqual(p_size,10)" in final
    assert "partial_min" in final
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # two logical hash exchanges — the (part, supplier) cost agg and
    # the broadcast-sized per-part min — never a fact self-join; the
    # shared cost subtree is echoed TEXTUALLY under both its
    # consumers in the plan string, so the string count bound is 3
    assert final.count("Exchange hashpartitioning") <= 3
    assert final.count("SortMergeJoin") == 0


def test_q20_semi_join_single_pair_exchange(spark):
    """Q20: the correlated exists-over-aggregate decorrelates to ONE
    (suppkey, partkey) aggregate (conditional sum builds both the
    windowed and all-time totals in one pass — no self-join, no
    second scan) whose surviving keys semi-join the supplier dim.
    r16: a SECOND LeftSemi (broadcast of the nation-pruned supplier
    keys) now sits BELOW the aggregate, pre-filtering the fact scan
    to eligible suppliers before the only corpus-sized exchange; the
    supplier/nation dims are scanned twice for it (cheap), lineitem
    still exactly once. Pinned on the PRE-execution plan: the sf0.001
    result is empty, so AQE's empty-relation propagation collapses
    the executed tree and there is no final-plan shape to count."""
    df = SUITE["excess_shipment_q20"].fn(spark, SF_TEST_DIR)
    plan = _executed_plan_nocollect(df)
    assert plan.count("LeftSemi") == 2
    assert "CartesianProduct" not in plan
    assert "partial_sum" in plan
    assert plan.count("Exchange hashpartitioning") <= 2
    # five scans — lineitem ONCE (not once per probe row, and not
    # twice for the pre-filter), supplier and nation twice each
    assert plan.count("FileScan parquet") == 5
    scans = [ln for ln in plan.splitlines() if "FileScan parquet" in ln]
    assert sum("lineitem" in ln for ln in scans) == 1


def test_q22_anti_join_and_scalar_broadcast(spark):
    """Q22: the NOT EXISTS becomes a LEFT ANTI join whose build side
    is the date-filtered order keys (predicate pushed to the orders
    scan); the scalar avg subquery is a 1-row broadcast — the one
    case where a BroadcastNestedLoopJoin is the CORRECT shape, and
    there must be at most that one."""
    df = SUITE["idle_customers_q22"].fn(spark, SF_TEST_DIR)
    plan = _executed_plan(df)
    final = plan.split("== Initial Plan ==", 1)[0]
    assert "LeftAnti" in final
    assert "GreaterThanOrEqual(o_orderdate" in final
    assert final.count("BroadcastNestedLoopJoin") <= 1
    assert "CartesianProduct" not in plan


def test_q11_persisted_base_and_global_scalar(spark):
    """Q11: the per-part revenue table is built by ONE lineitem
    exchange and persisted across its two consumers (the global total
    and the probe) — the second consumer reads the cache, not the
    fact; the total joins back as a 1-row broadcast."""
    df = SUITE["revenue_concentration_q11"].fn(spark, SF_TEST_DIR)
    plan = _executed_plan(df)
    final = plan.split("== Initial Plan ==", 1)[0]
    assert "InMemoryTableScan" in plan
    assert final.count("Exchange hashpartitioning") <= 1
    assert final.count("BroadcastNestedLoopJoin") <= 1
    assert "CartesianProduct" not in plan


# --- round-8 second half: the battery-completing TPC-H shapes --------


def test_q6_pure_scan_agg_no_joins(spark):
    """Q6: every predicate reaches the parquet scan and there is no
    join anywhere — the whole query is scan → partial agg → 1-row
    exchange. The floor case for pushdown."""
    df = SUITE["forecast_revenue_q6"].fn(spark, SF_TEST_DIR)
    plan = _executed_plan(df)
    # toString() elides long PushedFilters lists — read the full list
    # from the formatted explain instead
    full = _formatted_plan(df)
    pushed = full.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert "GreaterThanOrEqual(l_shipdate" in pushed
    assert "GreaterThanOrEqual(l_discount" in pushed
    assert "LessThan(l_quantity" in pushed
    assert "Join" not in plan
    assert "partial_" in plan


def test_q8_one_fact_exchange_all_dims_broadcast(spark):
    """Q8: the 8-table star runs with part/customer-chain/
    supplier-chain all broadcast and ONLY the lineitem⋈orders join
    shuffling; both market-share sums come from one conditional
    aggregate (no numerator/denominator self-join)."""
    df = SUITE["market_share_q8"].fn(spark, SF_TEST_DIR)
    plan = _executed_plan(df)
    final = plan.split("== Initial Plan ==", 1)[0]
    assert final.count("BroadcastHashJoin") >= 4
    assert "GreaterThanOrEqual(o_orderdate,1995-01-01" in plan
    assert "CartesianProduct" not in plan
    # one fact join + one group-by = the only hash exchanges
    assert final.count("Exchange hashpartitioning") <= 3


def test_q9_like_filter_on_dim_side_only(spark):
    """Q9: the %widget% LIKE evaluates while building the 2k-row part
    broadcast — never as a residual on the fact — and the profit
    expression aggregates in ONE pass (gross and retail_vol
    together)."""
    df = SUITE["product_profit_q9"].fn(spark, SF_TEST_DIR)
    plan = _executed_plan(df)
    final = plan.split("== Initial Plan ==", 1)[0]
    assert final.count("BroadcastHashJoin") >= 2
    assert "Contains(p_name, widget)" in plan or "widget" in plan
    assert "CartesianProduct" not in plan
    assert "partial_" in plan


def test_q12_window_pushed_residual_after_join(spark):
    """Q12: the ship-date window prunes the lineitem scan; the
    cross-table lateness predicate (ship vs order date) correctly
    stays a post-join residual; both priority counts come from one
    3-group aggregate."""
    df = SUITE["late_shipment_priority_q12"].fn(spark, SF_TEST_DIR)
    plan = _executed_plan(df)
    full = _formatted_plan(df)
    pushed = [seg.split("]", 1)[0]
              for seg in full.split("PushedFilters: [")[1:]]
    assert any("GreaterThanOrEqual(l_shipdate,1996-01-01" in p
               for p in pushed)
    assert "partial_" in plan
    assert "CartesianProduct" not in plan


def test_q13_on_clause_filter_pushed_outer_join_preserved(spark):
    """Q13: the priority filter (ON-side, non-preserved orders side)
    pushes to the orders scan WITHOUT breaking the outer join — the
    zero-order customers must survive into bucket 0 — and the
    per-customer count reuses the join's custkey partitioning."""
    df = SUITE["order_count_distribution_q13"].fn(spark, SF_TEST_DIR)
    plan = _executed_plan(df)
    final = plan.split("== Initial Plan ==", 1)[0]
    assert "LeftOuter" in final
    assert "Not(EqualTo(o_orderpriority,1-URGENT))" in plan
    # join shuffle (×2 sides) + histogram exchange; per-customer agg
    # reuses the join partitioning — no 4th hash exchange
    assert final.count("Exchange hashpartitioning") <= 3


def test_q15_persisted_view_scalar_max_broadcast(spark):
    """Q15: the quarterly revenue view materializes once (persisted,
    both consumers read the cache), the scalar max joins back as a
    1-row broadcast, and lineitem moves through exactly one hash
    exchange."""
    df = SUITE["top_supplier_q15"].fn(spark, SF_TEST_DIR)
    plan = _executed_plan(df)
    final = plan.split("== Initial Plan ==", 1)[0]
    assert "InMemoryTableScan" in plan
    assert final.count("Exchange hashpartitioning") <= 1
    assert final.count("BroadcastNestedLoopJoin") <= 1  # 1-row scalar
    assert "CartesianProduct" not in plan


def test_q16_not_in_becomes_anti_join_one_exchange(spark):
    """Q16: the NOT IN subquery runs as a LEFT ANTI against a
    broadcast exclusion set (s_suppkey is non-null by schema, so the
    rewrite is exact), the part filters evaluate in the dim
    broadcast, and the fact shuffles only for the count-distinct."""
    df = SUITE["supplier_part_counts_q16"].fn(spark, SF_TEST_DIR)
    plan = _executed_plan(df)
    final = plan.split("== Initial Plan ==", 1)[0]
    assert "LeftAnti" in final
    assert final.count("BroadcastHashJoin") >= 1
    assert "CartesianProduct" not in plan
    assert "partial_" in plan


def test_q18_agg_partitioning_reused_by_orders_join(spark):
    """Q18: the per-order quantity aggregate's hash partitioning is
    REUSED by the orders join — exactly one exchange keyed
    l_orderkey exists, so the HAVING survivors never reshuffle. The
    customer join carries no broadcast hint (threshold-dependent
    cardinality → AQE's choice at runtime)."""
    df = SUITE["large_volume_customers_q18"].fn(spark, SF_TEST_DIR)
    plan = _executed_plan(df)
    final = plan.split("== Initial Plan ==", 1)[0]
    assert final.count("Exchange hashpartitioning(l_orderkey") == 1
    assert "partial_sum" in plan
    assert "CartesianProduct" not in plan


def test_semantic_dedup_jvm_only_anti_join(spark):
    """SemDeDup: norms fold map-side, pairs come from a cell equi
    self-join (never a nested loop or cartesian), the dropped set
    resolves via LEFT ANTI, and no Python evaluator appears — the
    whole operator is JVM expressions."""
    df = SUITE["semantic_dedup_cells"].fn(spark, SF_TEST_DIR)
    plan = _executed_plan(df)
    final = plan.split("== Initial Plan ==", 1)[0]
    assert "LeftAnti" in final
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "EvalPython" not in plan  # no Batch/ArrowEvalPython stages


def test_ppl_buckets_share_scoring_cache_window_per_lang(spark):
    """CCNet buckets: the scoring subtree is the SAME persisted
    bigram matrix the flag entry uses (InMemoryTableScan), the lang
    dim joins by broadcast, and the only window is the per-language
    ntile."""
    df = SUITE["perplexity_bucket_filter"].fn(spark, SF_TEST_DIR)
    plan = _executed_plan(df)
    assert "InMemoryTableScan" in plan
    assert "Window" in plan
    assert "ntile(3)" in plan
    assert "CartesianProduct" not in plan


def test_countmin_sketch_bounded_key_space(spark):
    """Count-min: the token stream persists once (exact + sketch both
    read the cache), the sketch build partial-aggregates map-side
    into the d×w-bounded cell table, and the probe joins the sketch
    by broadcast — no unbounded shuffle anywhere."""
    df = SUITE["countmin_heavy_hitters"].fn(spark, SF_TEST_DIR)
    plan = _executed_plan(df)
    assert "InMemoryTableScan" in plan
    assert "partial_" in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


# --- round-8 third wave: new engine surfaces --------------------------


def test_lateral_topk_decorrelates_to_window_group_limit(spark):
    """The correlated LATERAL (ORDER BY + LIMIT 2) must decorrelate:
    one WindowGroupLimit over customer plus a join back — never a
    per-outer-row re-execution (no nested loop / cartesian)."""
    df = SUITE["top_customers_lateral"].fn(spark, SF_TEST_DIR)
    plan = _executed_plan(df)
    assert "WindowGroupLimit" in plan
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan
    assert "BroadcastHashJoin" in plan


def test_variant_extract_stays_jvm_side(spark):
    """parse_json/variant_get are codegen expressions: the variant
    path must introduce NO Python crossing — the only Python-adjacent
    nodes allowed are none at all."""
    df = SUITE["events_variant_extract"].fn(spark, SF_TEST_DIR)
    plan = _executed_plan(df)
    assert "variant_get" in plan
    for crossing in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas",
                     "PythonUDTF", "MapInArrow"):
        assert crossing not in plan, crossing
    # "*(n) " prefixes mark WholeStageCodegen spans in toString()
    assert "*(1)" in plan


def test_map_in_arrow_is_map_only_before_agg(spark):
    """MapInArrow runs inside the scan stage; the single
    hash-partitioned exchange in the plan is the final groupBy over
    the kernel's 4 tiny columns (the full text column never
    shuffles)."""
    df = SUITE["doc_bytes_arrow"].fn(spark, SF_TEST_DIR)
    plan = _executed_plan(df).split("== Initial Plan ==")[0]
    assert "MapInArrow" in plan
    # exactly one shuffle boundary: the stats aggregation
    assert plan.count("Exchange hashpartitioning") == 1
    # the exchange carries the kernel output, not the text column
    exch = plan[plan.index("Exchange hashpartitioning"):].splitlines()[0]
    assert "text" not in exch


def test_udtf_expansion_is_arrow_batched(spark):
    """The Python UDTF rides the Arrow-optimized eval path (no
    per-row pickling) and expands rows inside the scan stage — the
    only shuffle is the final 3-column aggregate."""
    df = SUITE["doc_chunks_udtf"].fn(spark, SF_TEST_DIR)
    plan = _executed_plan(df).split("== Initial Plan ==")[0]
    assert "PythonUDTF" in plan and "ArrowEvalPython" in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_recursive_cte_executes_as_union_loop(spark):
    """WITH RECURSIVE compiles to the iterative UnionLoop operator —
    and the fact tables are consumed ONCE by the edge CTE, outside
    the loop (the loop's join partner is the 25-node nation graph,
    so recursion cost is dimension-bounded)."""
    df = SUITE["trade_hops_recursive"].fn(spark, SF_TEST_DIR)
    plan = _executed_plan(df)
    assert "UnionLoop" in plan
    assert "CartesianProduct" not in plan


def test_map_profile_two_partial_agged_exchanges(spark):
    """The MapType detour must not add shuffles beyond its two keyed
    aggregates — (user, type) counts then the per-user map build —
    and both must partial-aggregate before exchanging (the shuffles
    carry pair/user cardinality, never raw events)."""
    df = SUITE["user_event_map_profile"].fn(spark, SF_TEST_DIR)
    plan = _executed_plan(df).split("== Initial Plan ==")[0]
    # the physical string truncates expressions — assert the map
    # construction on the optimized plan, the shape on the executed
    opt = _optimized_plan(df)
    assert "map_from_entries" in opt and "map_filter" in opt
    assert plan.count("Exchange hashpartitioning") == 2
    assert "partial_count" in plan or "partial_" in plan


def test_sql_udf_inlines_to_expression(spark):
    """The SQL UDF must inline at plan time: no function-call or
    Python-eval boundary survives into the optimized plan — the
    aggregate sees the raw length/replace expression and partial-
    applies map-side before the single exchange."""
    df = SUITE["sql_udf_token_stats"].fn(spark, SF_TEST_DIR)
    opt = _optimized_plan(df)
    assert "replace(" in opt and "length(" in opt
    plan = _executed_plan(df).split("== Initial Plan ==")[0]
    for crossing in ("ArrowEvalPython", "BatchEvalPython", "PythonUDF"):
        assert crossing not in plan, crossing
    assert plan.count("Exchange hashpartitioning") == 1
    assert "partial_" in plan


def test_weighted_sample_is_heap_topk_no_shuffle(spark):
    """The E-S sample must compile to TakeOrderedAndProject over a
    map-only keyed projection — per-partition k-row heaps, never a
    global sort or a window shuffle."""
    df = SUITE["weighted_sample_docs"].fn(spark, SF_TEST_DIR)
    plan = _executed_plan(df).split("== Initial Plan ==")[0]
    assert "TakeOrderedAndProject" in plan
    assert "Exchange hashpartitioning" not in plan
    assert "Window" not in plan


# --- round-9 pins: the promoted window cohort ------------------------
# The r9 window promoted 24 oldest-evidence entries plus the flagship;
# the shapes below had correctness coverage but no executed-plan pin.


def test_flagship_narrow_exchanges_broadcast_docs(spark):
    """The flagship (SURVEY §3.3), decide-small shape (r15): four
    hash exchanges — the (label, dim)-keyed exploded centroid partial
    aggregate plus its label-keyed rebuild, the rank window, the
    k-row size/mean_chars aggregate — and ALL of them narrow: neither
    ``text`` nor the 64-dim ``embedding`` array crosses any hash
    exchange (the old shape shuffled both through the label window;
    the old centroid ran 2×dim aggregate columns in one exchange,
    which fell off whole-stage codegen — the extra narrow exchange
    buys the codegen'd scalar aggregate back). The medoid filter sits
    directly above row_number, so WindowGroupLimit prunes to ≤n_med
    rows per label per map partition before the window exchange;
    joins stay broadcast, no cartesian."""
    df = SUITE["cluster_viz_summary"].fn(spark, SF_TEST_DIR)
    final = _final_plan(df)
    assert final.count("Exchange hashpartitioning") <= 4
    assert "BroadcastHashJoin" in final
    assert "SortMergeJoin" not in final
    assert "CartesianProduct" not in final
    assert "Window" in final
    assert "WindowGroupLimit" in final
    for block in _exchange_inputs(_formatted_plan(df)):
        assert "text#" not in block and "embedding#" not in block, (
            f"wide column crosses a hash exchange: {block.strip()}"
        )


def _exchange_inputs(formatted: str) -> list[str]:
    """The ``Input [...]`` line of every (non-broadcast) Exchange block
    in a formatted plan — the columns whose bytes that shuffle
    actually carries."""
    out, in_exchange = [], False
    for line in formatted.splitlines():
        import re

        m = re.match(r"\(\d+\) (\w+)", line)
        if m:
            in_exchange = m.group(1) == "Exchange"
        elif in_exchange and line.startswith("Input ["):
            out.append(line)
    return out


def test_cube_single_exchange_expand(spark):
    """CUBE compiles to ONE Expand (grouping-set row replication)
    feeding ONE partial-agg exchange — not one scan per grouping
    set."""
    df = SUITE["order_cube_revenue"].fn(spark, SF_TEST_DIR)
    final = _final_plan(df)
    assert final.count("Expand") == 1
    assert final.count("Exchange hashpartitioning") == 1
    assert "partial_" in final


def test_salted_agg_two_stage_no_join(spark):
    """The salted aggregate is exactly two exchanges (salted partial
    stage, then the de-salted final stage) and join-free — the shape
    that spreads one hot key over the cluster."""
    df = SUITE["salted_agg_priority_revenue"].fn(spark, SF_TEST_DIR)
    final = _final_plan(df)
    assert final.count("Exchange hashpartitioning") == 2
    assert "Join" not in final
    assert "partial_" in final


def test_tumbling_hourly_single_exchange(spark):
    """Tumbling-window bucketing is a map-side expression (window()
    on the timestamp), so the whole aggregation is one exchange."""
    df = SUITE["events_tumbling_hourly"].fn(spark, SF_TEST_DIR)
    final = _final_plan(df)
    assert final.count("Exchange hashpartitioning") == 1
    assert "CartesianProduct" not in final


def test_hyperplane_lsh_banded_not_cartesian(spark):
    """The hyperplane-LSH candidate join is banded (equi-join on the
    band key) — the all-pairs shape must never appear."""
    df = SUITE["hyperplane_lsh_pairs"].fn(spark, SF_TEST_DIR)
    final = _final_plan(df)
    assert "CartesianProduct" not in final
    assert "BroadcastNestedLoopJoin" not in final
    assert final.count("Exchange hashpartitioning") <= 3


def test_top_orders_per_customer_group_limit(spark):
    """Per-customer top-k decorrelates to WindowGroupLimit with the
    partial limit BEFORE the exchange — k·|customers| rows shuffle,
    never the orders table."""
    df = SUITE["top_orders_per_customer"].fn(spark, SF_TEST_DIR)
    final = _final_plan(df)
    # partial + final group-limit nodes, with the partial BEFORE the
    # first exchange — the property that bounds shuffled rows to
    # k·|customers|
    assert final.count("WindowGroupLimit") == 2
    assert (
        final.index("WindowGroupLimit")
        < final.index("Exchange hashpartitioning")
        < final.rindex("WindowGroupLimit")
    )
    assert final.count("Exchange hashpartitioning") <= 2
    assert "CartesianProduct" not in final


def test_ctfidf_no_cartesian_bounded_exchanges(spark):
    """The c-TF-IDF matrix math stays relational: per-(lang, term)
    aggregates, scalar totals as 1-row broadcasts (the only BNLJ),
    top-k terms via WindowGroupLimit — and never a cartesian or a
    per-term self-join."""
    df = SUITE["ctfidf_topics_per_lang"].fn(spark, SF_TEST_DIR)
    final = _final_plan(df)
    assert "CartesianProduct" not in final
    assert final.count("BroadcastNestedLoopJoin") <= 1  # 1-row scalar
    assert "WindowGroupLimit" in final
    assert final.count("Exchange hashpartitioning") <= 4


def test_ner_top_orgs_streams_text_side(spark):
    """The CPU-bound text side must be the STREAMED side of the
    docs⋈labels join (r10 finding): Spark's size estimates broadcast
    the docs side (the label projection's pre-pruning file estimate is
    larger), which serializes the regex stage onto the label scan's
    input splits. The explicit broadcast of the (vec_id, label)
    projection pins build-side choice, and the section fan-out +
    regex Generates stay downstream of the join in the same stage."""
    df = SUITE["ner_top_orgs"].fn(spark, SF_TEST_DIR)
    final = _final_plan(df)
    # the right side IS the (vec_id, label) projection by
    # construction, so BuildRight == "the text side streams"
    assert "BroadcastHashJoin" in final and "BuildRight" in final
    assert "BuildLeft" not in final
    assert final.count("Generate explode") == 2  # sections, then orgs
    # exactly the documented exchanges: (cluster, org) agg + top-n
    assert final.count("Exchange hashpartitioning") <= 2


def test_ner_label_broadcast_gate_falls_back_to_shuffle_hash(
    spark, monkeypatch
):
    """ADVICE r10 #3: the label-projection broadcast is GATED on a
    row bound — past BROADCAST_MAX_LABEL_ROWS (rows ≈ docs, so the
    forced broadcast would eventually exceed the broadcast/driver
    limit) the join must become the documented shuffle_hash fallback,
    never an unbounded forced broadcast. Pinned by shrinking the cap
    to 0 and asserting the fallback plan shape."""
    from miba_2023_capstone_rb_nlp_spark import session as session_mod

    monkeypatch.setattr(session_mod, "BROADCAST_MAX_ROWS", 0)
    df = SUITE["ner_top_orgs"].fn(spark, SF_TEST_DIR)
    final = _final_plan(df)
    assert "ShuffledHashJoin" in final
    assert "BroadcastHashJoin" not in final
    # VERDICT r11 #6: the TEXT side must still stream in the fallback
    # — the hinted label projection is the right side by construction,
    # so the shuffled-hash build must be BuildRight, and the section/
    # org Generates stay downstream on the streamed (text) side.
    assert "BuildRight" in final and "BuildLeft" not in final
    assert final.count("Generate explode") == 2


def test_ner_label_broadcast_gate_honors_session_threshold(spark):
    """VERDICT r11 what's-wrong #4: the broadcast gate is driven by
    the session's autoBroadcastJoinThreshold in TRUE build-row bytes,
    not a bare row count — an operator who disables auto-broadcast
    (-1) must get the shuffle_hash fallback, not a forced broadcast
    that ignores their budget."""
    from miba_2023_capstone_rb_nlp_spark import session as session_mod
    from miba_2023_capstone_rb_nlp_spark.suite import ner as ner_mod

    def limit_rows(spark):
        return session_mod.broadcast_limit_rows(spark, ner_mod.LABEL_ROW_BYTES)

    key = "spark.sql.autoBroadcastJoinThreshold"
    prior = spark.conf.get(key)
    try:
        spark.conf.set(key, "-1")
        assert limit_rows(spark) == 0
        df = SUITE["ner_top_orgs"].fn(spark, SF_TEST_DIR)
        final = _final_plan(df)
        assert "ShuffledHashJoin" in final
        assert "BroadcastHashJoin" not in final
        # a 1 KB budget admits 64 build rows, not the 500-row fixture
        spark.conf.set(key, "1k")
        assert limit_rows(spark) == 64
    finally:
        spark.conf.set(key, prior)
    # the absolute ceiling still caps a huge session budget
    assert limit_rows(spark) <= session_mod.BROADCAST_MAX_ROWS


# --- r10 promoted-cohort pins: the plan shapes the rotation relies on
# (each promoted entry re-enters the driver window with its scale
# property pinned, mirroring the r9 promoted-cohort pins) ------------


def test_sliding_window_is_expand_not_self_join(spark):
    """Sliding 1h/30m window: each event fans out to window/slide = 2
    buckets via ONE Expand inside the scan stage — never a per-slide
    self-join or a second scan — and the aggregate is map-side
    partial before the single (window) exchange."""
    df = SUITE["events_sliding_hourly"].fn(spark, SF_TEST_DIR)
    final = _final_plan(df)
    assert final.count("Expand") == 1
    assert final.count("Exchange hashpartitioning") == 1
    assert "partial_" in final
    assert "Join" not in final and final.count("FileScan") == 1


def test_temperature_resample_single_scan_via_exchange_reuse(spark):
    """The per-source count table feeds three consumers (weights, the
    doc total, the weight total); AQE's exchange reuse keeps the
    corpus scan at ONE (contrast bm25_topk, where an explode between
    the scan and the reused subtree defeats reuse and a persist is
    required — this pin is the evidence for when reuse alone is
    enough). The only joins are 1-row scalar broadcasts."""
    df = SUITE["temperature_resample"].fn(spark, SF_TEST_DIR)
    final = _final_plan(df)
    assert final.count("FileScan") == 1
    assert "ReusedExchange" in final
    assert "CartesianProduct" not in final
    assert "SortMergeJoin" not in final
    # scalar broadcasts only — every BNLJ builds a 1-row aggregate
    assert final.count("BroadcastNestedLoopJoin") <= 3


def test_video_frame_sample_prunes_payload_before_decode(spark):
    """Sample-before-decode, executed: the frame-index posexplode is
    the ONLY generator, the plan is map-only (no exchange — the
    fan-out repartition aside), no Python crossing runs (decode is
    gated), and column pruning drops BOTH the text column and the
    fabricated binary content from the scan — the scan reads only
    doc_id. At 100 TB this is the difference between sampling
    metadata and decoding every frame."""
    df = SUITE["video_frame_sample"].fn(spark, SF_TEST_DIR)
    final = _final_plan(df)
    assert final.count("Generate posexplode") == 1
    assert "Exchange hashpartitioning" not in final
    assert "EvalPython" not in final and "MapInPandas" not in final
    import re

    scans = re.findall(r"FileScan parquet \[([^\]]*)\]", final)
    assert len(scans) == 1 and "text" not in scans[0], scans


def test_group_concat_single_object_agg_exchange(spark):
    """A3 group string-concat: ONE (lang) exchange with a partial
    ObjectHashAggregate below it (collect_list combines map-side);
    the deterministic ordering is an array_sort INSIDE the aggregate
    output, never a global sort or window."""
    df = SUITE["group_concat_docs"].fn(spark, SF_TEST_DIR)
    final = _final_plan(df)
    assert final.count("Exchange hashpartitioning") == 1
    assert "ObjectHashAggregate" in final and "partial_" in final
    assert "Window" not in final and "Join" not in final
    assert "Sort " not in final.replace("array_sort", "")


def test_knn_int8_rerank_partial_topk_no_product(spark):
    """int8 shortlist → exact re-rank: candidate generation never
    materializes a query×corpus product in the plan (the bounded
    query set travels as a broadcast into the scoring kernel), the
    shortlist/re-rank cuts are WindowGroupLimit top-ks, and exactly
    one hash exchange (the per-query regroup) survives."""
    df = SUITE["knn_int8_rerank"].fn(spark, SF_TEST_DIR)
    final = _final_plan(df)
    assert "CartesianProduct" not in final
    assert "SortMergeJoin" not in final
    assert "WindowGroupLimit" in final
    assert final.count("Exchange hashpartitioning") <= 1


def test_hybrid_rrf_fuses_k_row_lists(spark):
    """RRF fusion: both rankers end in heap top-ks
    (TakeOrderedAndProject), the doubly-consumed sparse tf table
    comes from ONE cached materialization (InMemoryTableScan — the
    bm25_topk persist contract), and no step builds a product; the
    full-outer fusion join touches only the two k-row rank lists."""
    df = SUITE["hybrid_rrf_search"].fn(spark, SF_TEST_DIR)
    final = _final_plan(df)
    assert final.count("TakeOrderedAndProject") >= 2
    assert "InMemoryTableScan" in final
    assert "CartesianProduct" not in final


# --- r11 witness-conversion pins: the oracled kmeans/PCA/HLL entries
# re-enter the driver window with their scale shapes pinned ----------


def test_kmeans_witness_all_jvm_reads_only_the_cache(spark):
    """The kmeans witness derivation is pure JVM (the local-fit
    branch collects a bounded sample at BUILD time; the returned plan
    has no Python crossing) and every one of its five aggregate
    branches scans the PERSISTED assignment — never the parquet
    directly. The cached child's plan is printed under each
    InMemoryTableScan, so 'no direct re-read' asserts as scan-count
    equality: every FileScan line in the executed plan belongs to an
    InMemoryTableScan subtree."""
    import re

    df = SUITE["kmeans_clusters"].fn(spark, SF_TEST_DIR)
    df.write.format("noop").mode("overwrite").save()
    plan = _executed_plan(df)
    assert not re.search(r"EvalPython|InPandas|InArrow", plan)
    n_cache = plan.count("InMemoryTableScan")
    assert n_cache >= 4  # sizes/n/wss/tss branches + witness base
    assert plan.count("FileScan") == n_cache


def test_pca_witness_all_jvm_reads_only_the_cache(spark):
    """pca_coords (r11): the projection and BOTH moment passes read
    ONE persisted base — the pre-fix plan scanned the parquet three
    times for one diagnostic row set, and the fit twice more (the
    fit/transform split now reuses the computed components). Same
    scan-count-equality assertion as the kmeans pin, plus the
    projection staying codegen (no Python crossing at this width)."""
    import re

    df = SUITE["pca_coords"].fn(spark, SF_TEST_DIR)
    df.write.format("noop").mode("overwrite").save()
    plan = _executed_plan(df)
    assert not re.search(r"EvalPython|InPandas|InArrow", plan)
    n_cache = plan.count("InMemoryTableScan")
    assert n_cache >= 3  # projection stats + two moment branches
    assert plan.count("FileScan") == n_cache


def test_approx_distinct_single_pruned_scan(spark):
    """approx_distinct_parts (r11 oracle conversion): the HLL++
    estimate and its exact-distinct twin come out of ONE scan of
    lineitem pruned to exactly (l_partkey, l_returnflag) — the
    error-band witness must not cost a second pass, and the sketch
    side must stay a partial aggregate (mergeable registers), which
    is what makes it sane at 100 TB."""
    df = SUITE["approx_distinct_parts"].fn(spark, SF_TEST_DIR)
    final = _final_plan(df)
    assert final.count("FileScan") == 1
    sc = [ln for ln in final.splitlines() if "FileScan" in ln][0]
    assert "l_partkey" in sc and "l_returnflag" in sc
    import re

    assert not re.search(r"l_(?!partkey|returnflag)[a-z]+", sc.split("[", 1)[1].split("]", 1)[0])
    assert "partial_approx_count_distinct" in _executed_plan(df)


def test_wizard_witness_shapes(spark):
    """wizard_full_chain (mid-r11, the LAST rows-only→oracled
    conversion): the witness derivation must (a) scan the persisted
    ≤k×n_med viz table and the persisted clean table — the final
    section shows ≥2 InMemoryTableScans (the head's viz read + the
    corpus probe's clean read) so no witness branch re-runs the
    chain; (b) keep the corpus-membership probe scale-correct and
    join-free (r15): the ≤k×n_med medoid paragraphs ride into ONE
    aggregate over the streaming corpus as an isin literal set with a
    bounded collect_set (the kNN bounded-query contract) — no semi
    join, no distinct exchanges, and never a broadcast of the corpus;
    (c) contain exactly ONE BroadcastNestedLoopJoin — the deliberate
    1-row×1-row crossJoin of the two witness frames — and no
    CartesianProduct anywhere."""
    df = SUITE["wizard_full_chain"].fn(spark, SF_TEST_DIR)
    opt = _optimized_plan(df)
    assert "Join LeftSemi" not in opt
    assert "collect_set" in opt
    assert (" IN (" in opt) or ("INSET" in opt)
    plan = _executed_plan(df)
    final = plan.split("== Initial Plan ==", 1)[0]
    assert plan.count("CartesianProduct") == 0
    assert final.count("BroadcastNestedLoopJoin") == 1
    assert final.count("InMemoryTableScan") >= 2


def test_json_value_counts_schema_on_read_single_scan(spark):
    """Schema-on-read JSON paths (events_json_value_counts' demotion
    lane, r12): get_json_object evaluates JVM-side inside the scan
    stage — no Python crossing — and the distinct-agg rewrite keeps
    the whole query at one FileScan with map-side partial aggregation
    before the (event_type, user_id) / (event_type) exchanges."""
    df = SUITE["events_json_value_counts"].fn(spark, SF_TEST_DIR)
    final = _final_plan(df)
    assert final.count("FileScan") == 1
    assert "partial_" in final
    assert "Python" not in final and "BatchEvalPython" not in final
    assert "Join" not in final
    # count_distinct rewrite: expand-agg needs at most 2 exchanges
    assert final.count("Exchange hashpartitioning") <= 2
