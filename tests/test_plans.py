"""Physical-plan shape assertions — the 100 TB safeguards. These fail
if a future edit silently turns a broadcast join into a shuffle, drops
a filter out of the scan, or reads unneeded columns."""

from __future__ import annotations

import re

from log2ck_spark.queries import QUERIES, load_all

load_all()


def _plan(spark, name, sf_dir) -> str:
    return QUERIES[name](spark, sf_dir)._jdf.queryExecution().executedPlan().toString()


def test_filter_predicate_pushes_all_filters_to_scan(spark, sf_dir):
    plan = _plan(spark, "filter_predicate", sf_dir)
    scan = next(ln for ln in plan.splitlines() if "FileScan parquet" in ln)
    assert "DataFilters" in scan
    assert "event_type" in scan and "value" in scan
    # time bounds translated onto the raw nanos column reach the scan
    assert re.search(r"ts#\d+L\) ?,? ?\(?", scan) or "ts" in scan


def test_project_columns_prunes_read_schema(spark, sf_dir):
    plan = _plan(spark, "project_columns", sf_dir)
    scan = next(ln for ln in plan.splitlines() if "FileScan parquet" in ln)
    m = re.search(r"ReadSchema: struct<([^>]*)>", scan)
    assert m, scan
    cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
    assert cols == {"l_orderkey", "l_partkey", "l_quantity"}, cols


def test_join_dim_broadcasts_dimensions(spark, sf_dir):
    plan = _plan(spark, "join_dim", sf_dir)
    assert plan.count("BroadcastHashJoin") >= 2, plan[:2000]
    assert "CartesianProduct" not in plan


def test_tpch_q1_partial_aggregation(spark, sf_dir):
    """Two-phase agg: partial (map-side) before the shuffle."""
    plan = _plan(spark, "tpch_q1_pricing_summary", sf_dir)
    assert "partial" in plan.lower(), plan[:2000]


def test_topk_uses_take_ordered(spark, sf_dir):
    plan = _plan(spark, "topk_order_limit", sf_dir)
    assert "TakeOrderedAndProject" in plan, plan[:1500]


def test_no_cartesian_in_similarity_pipelines(spark, sf_dir):
    for name in ["dedup_ngram_jaccard", "dedup_minhash_lsh", "dedup_simhash"]:
        plan = _plan(spark, name, sf_dir)
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_dedup_embedding_anchor_probe_not_all_pairs(spark, sf_dir):
    """The anchor-probe shape: bounded anchor set broadcast against ONE
    corpus scan. The corpus must never shuffle corpus×corpus (no
    SortMergeJoin / CartesianProduct), and the nested-loop's build side
    must be the `% 20` anchor filter, not the full table."""
    plan = _plan(spark, "dedup_embedding", sf_dir)
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastExchange" in plan, plan[:2000]
    # the broadcast build side carries the anchor predicate
    assert re.search(r"%\s*20\)?\s*=\s*0", plan), plan[:2000]


def test_stream_static_join_broadcasts_dim(spark, sf_dir):
    plan = _plan(spark, "stream_static_join", sf_dir)
    assert "BroadcastHashJoin" in plan, plan[:1500]
    assert "SortMergeJoin" not in plan
    assert "partial" in plan.lower()  # map-side combine after the join


def test_gopher_rules_single_scan_no_shuffle(spark, sf_dir):
    """The quality gate is pure per-row column math — the plan must be
    one scan stage with zero exchanges."""
    plan = _plan(spark, "text_gopher_rules", sf_dir)
    assert "Exchange" not in plan, plan[:2000]


def test_repetition_stats_no_cartesian(spark, sf_dir):
    plan = _plan(spark, "text_repetition_stats", sf_dir)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_whole_stage_codegen_in_hot_paths(spark, sf_dir):
    """The `*(n)` markers are whole-stage-codegen stage labels; AQE
    only materializes them in the final plan, so execute first."""
    for name in ["tpch_q1_pricing_summary", "agg_group_count", "parse_monolog"]:
        df = QUERIES[name](spark, sf_dir)
        df.collect()  # AQE finalizes the plan only on execution
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "*(" in plan, (name, plan[:1500])


def test_asof_join_single_ordering_shuffle(spark, sf_dir):
    """The as-of join must stay union + window — one Exchange for the
    (user_id, ts) ordering (plus one for the click pre-dedup agg), and
    never an inequality join (CartesianProduct / BNLJ)."""
    plan = _plan(spark, "asof_join", sf_dir)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Window" in plan
    assert plan.count("Exchange hashpartitioning") <= 2, plan[:2000]


def test_range_join_is_equi_join(spark, sf_dir):
    """The interval join must run as a bucket equi-join, not a
    nested-loop over the inequality predicate."""
    plan = _plan(spark, "range_join_bucketed", sf_dir)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_sample_is_scan_only(spark, sf_dir):
    """Deterministic sampling is a narrow filter: no Exchange at all."""
    plan = _plan(spark, "sample_hash_bernoulli", sf_dir)
    assert "Exchange" not in plan, plan[:1500]


def test_bucketed_join_no_exchange_before_join(spark, sf_dir):
    """Both sides bucketed by the join key => the SortMergeJoin reads
    co-located buckets with no Exchange upstream; the only Exchange
    in the final plan is the downstream group-by re-partitioning."""
    df = QUERIES["join_bucketed_colocated"](spark, sf_dir)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    # AQE's toString appends "== Initial Plan ==" repeating the whole
    # tree; only the final plan above it is what executed
    plan = plan.split("== Initial Plan ==", 1)[0]
    assert "SortMergeJoin" in plan, plan[:2000]
    join_part = plan.split("SortMergeJoin", 1)[1]
    assert "Exchange" not in join_part, join_part[:2000]
    assert "Bucketed: true" in join_part, join_part[:2000]


def test_salted_join_spreads_key_over_salt(spark, sf_dir):
    """The join key must be the (orderkey, salt) composite — i.e. the
    exchange hashes on both — and no broadcast may collapse the demo
    back to a single-reducer-per-key plan."""
    plan = _plan(spark, "join_skew_salted", sf_dir)
    assert "_salt" in plan, plan[:2000]
    assert "BroadcastHashJoin" not in plan
    assert "CartesianProduct" not in plan


def test_salted_agg_two_phase(spark, sf_dir):
    """The salt phase must actually spread the hot key: plan contains
    two distinct hashpartitioning exchanges (key+salt, then key)."""
    plan = _plan(spark, "agg_skew_salted", sf_dir)
    assert plan.count("Exchange hashpartitioning") >= 1, plan[:2000]
    assert "_salt" in plan, plan[:2000]


def test_q18_broadcasts_filtered_aggregate(spark, sf_dir):
    """Aggregate-then-join: the HAVING-filtered big-orders side must
    join by broadcast, not a full shuffle of orders/customer."""
    plan = _plan(spark, "tpch_q18_large_orders", sf_dir)
    assert "BroadcastHashJoin" in plan, plan[:2000]
    assert "CartesianProduct" not in plan


def test_q19_disjunction_stays_equi_join(spark, sf_dir):
    """The Q19 trap: folding the OR bands into the join condition
    forces a nested-loop join. Keeping partkey as the equi-key must
    yield a hash join with the disjunction as a post-join filter."""
    plan = _plan(spark, "tpch_q19_disjunctive_join", sf_dir)
    assert "BroadcastNestedLoopJoin" not in plan, plan[:2000]
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan


def test_q21_exists_chain_is_one_scan_and_window(spark, sf_dir):
    """The EXISTS / NOT EXISTS chain compiles to ONE (orderkey,
    suppkey) aggregation of lineitem plus a partition-only window
    giving the per-order supplier count (ns) and returned-supplier
    count (nrs) — no semi/anti join against re-scanned pair sets."""
    plan = _plan(spark, "tpch_q21_waiting_supplier", sf_dir)
    scans = [ln for ln in plan.splitlines() if "FileScan parquet" in ln]
    assert sum("/lineitem.parquet]" in ln for ln in scans) == 1, plan[:4000]
    windows = [ln for ln in plan.splitlines() if "Window [" in ln]
    assert any(" AS ns#" in ln for ln in windows), plan[:4000]
    assert any(" AS nrs#" in ln for ln in windows), plan[:4000]
    for op in ("LeftSemi", "LeftAnti", "CartesianProduct"):
        assert op not in plan, (op, plan[:4000])


def test_q13_left_outer_preserved(spark, sf_dir):
    """The ON-clause predicate must not degrade the outer join to
    inner (zero-order customers would silently vanish)."""
    plan = _plan(spark, "tpch_q13_customer_distribution", sf_dir)
    assert "LeftOuter" in plan, plan[:2000]


def test_scalar_subqueries_broadcast(spark, sf_dir):
    """Q11/Q15/Q22 decorrelate their scalar subqueries to 1-row
    broadcast joins — never a shuffled join or nested loop over the
    fact side. (A 1-row BNLJ broadcast is fine; a CartesianProduct
    is not.)"""
    for name in [
        "tpch_q11_important_share",
        "tpch_q15_top_supplier",
        "tpch_q22_global_sales_opportunity",
    ]:
        plan = _plan(spark, name, sf_dir)
        assert "CartesianProduct" not in plan, name
        assert "Broadcast" in plan, name


def test_bigram_pairing_has_no_window_shuffle(spark, sf_dir):
    """Adjacent-pair construction happens inside the token array —
    the plan must contain no Window operator and only the final
    aggregation exchange."""
    plan = _plan(spark, "bigram_stats", sf_dir)
    assert "Window" not in plan, plan[:2000]
    assert plan.count("Exchange hashpartitioning") <= 1, plan[:2000]


def test_bm25_posting_filter_before_shuffle(spark, sf_dir):
    """The query-term filter must run in the scan/generate stage so
    the (doc, term) shuffle carries only the 2 posting lists."""
    plan = _plan(spark, "bm25_score", sf_dir)
    assert "CartesianProduct" not in plan
    # the IN-list predicate on the exploded term column exists as a
    # real Filter operator (post-explode, pre-aggregation)
    assert re.search(r"Filter .*\bjoin\b.*\bhash\b", plan), plan[:2000]


def test_sessionize_single_user_exchange(spark, sf_dir):
    """Both windows and the session aggregate must reuse ONE user_id
    hash exchange (hashpartitioning(user_id) satisfies the clustered
    distribution of groupBy(user_id, sess_idx))."""
    plan = _plan(spark, "sessionize_gap", sf_dir)
    assert plan.count("Exchange hashpartitioning") == 1, plan[:2500]


def test_funnel_stage_joins_share_user_key(spark, sf_dir):
    plan = _plan(spark, "funnel_conversion", sf_dir)
    assert "CartesianProduct" not in plan
    # stage scalars combine via 1-row broadcast nested loop (fine);
    # the per-user stage joins themselves must be hash-based
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or (
        "BroadcastHashJoin" in plan
    ), plan[:2000]


def test_chunk_documents_is_map_only(spark, sf_dir):
    """Chunking must run entirely inside the scan stage: the only
    Exchange allowed is the fixture-compensation fanout repartition,
    never a key shuffle."""
    plan = _plan(spark, "chunk_documents", sf_dir)
    assert "hashpartitioning" not in plan, plan[:2000]
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan


def test_pack_sequences_single_stream_shuffle(spark, sf_dir):
    """Packing shuffles ONCE, on the pack_group stream key; each
    stream sorts locally inside its partition."""
    plan = _plan(spark, "pack_sequences", sf_dir)
    assert plan.count("hashpartitioning") == 1, plan[:3000]
    assert "CartesianProduct" not in plan


def test_sample_stratified_broadcasts_counts(spark, sf_dir):
    """The per-language counts must come back as a broadcast build
    side — a shuffle join on `lang` would re-partition the corpus by
    a skewed low-cardinality key."""
    plan = _plan(spark, "sample_stratified", sf_dir)
    assert "BroadcastHashJoin" in plan, plan[:2000]
    assert "SortMergeJoin" not in plan


def test_quality_classifier_partial_agg_no_join(spark, sf_dir):
    plan = _plan(spark, "text_quality_classifier", sf_dir)
    assert "partial" in plan.lower(), plan[:2000]
    assert "Join" not in plan, plan[:2000]


def test_rate_counter_single_shuffle(spark, sf_dir):
    """Both windows and the final agg share the user_id exchange."""
    plan = _plan(spark, "rate_counter", sf_dir)
    assert plan.count("Exchange hashpartitioning") == 1, plan[:2000]
    assert "Exchange SinglePartition" not in plan


def test_time_weighted_avg_single_shuffle(spark, sf_dir):
    plan = _plan(spark, "time_weighted_avg", sf_dir)
    assert plan.count("Exchange hashpartitioning") == 1, plan[:2000]
    assert "Exchange SinglePartition" not in plan


def test_pivot_shuffles_only_aggregated_rows(spark, sf_dir):
    """Pivot compiles to two agg stages; the partial before the first
    exchange is what keeps raw events from shuffling."""
    plan = _plan(spark, "pivot_daily_activity", sf_dir)
    assert "partial_count" in plan or "partial_pivotfirst" in plan, plan[:2000]
    first_exchange = plan.index("Exchange")
    assert "partial" in plan[first_exchange:].lower()


def test_stream_stream_join_no_cartesian(spark, sf_dir):
    plan = _plan(spark, "stream_stream_join", sf_dir)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_shuffle_shards_no_global_sort(spark, sf_dir):
    """The training shuffle must parallelize across shards — a global
    row_number (Exchange SinglePartition) would serialize 100 TB
    through one task."""
    plan = _plan(spark, "shuffle_shards", sf_dir)
    assert "Exchange SinglePartition" not in plan, plan[:2000]
    assert plan.count("Exchange hashpartitioning") == 1


def test_similarity_lsh_query_side_filter_reaches_scan(spark, sf_dir):
    """The broadcast (query) side of the LSH bucket join filters
    vec_id < N_QUERIES; that predicate must land in the parquet scan's
    DataFilters — if a refactor hoists it above the signature UDF, the
    query side silently recomputes signatures for the WHOLE corpus
    just to extract a handful of query rows (fine on fixtures, a full
    extra corpus pass at 10^10 vectors)."""
    from log2ck_spark.queries.similarity import N_QUERIES

    plan = _plan(spark, "similarity_lsh", sf_dir)
    scans = [ln for ln in plan.splitlines() if "FileScan parquet" in ln]
    # two spellings: the Catalyst DataFilters expression OR the
    # source-level PushedFilters entry. Spark truncates the printed
    # DataFilters list, and the r10 finite_vec exists-lambda inflates
    # it past the truncation point — the PushedFilters spelling is the
    # durable one (and the stronger claim: the predicate reached the
    # SOURCE, not just a Filter node).
    filtered = [
        s
        for s in scans
        if re.search(rf"vec_id#\d+L < {N_QUERIES}\b", s)
        or f"LessThan(vec_id,{N_QUERIES})" in s
    ]
    assert len(filtered) >= 1, plan[:3000]


def test_window_funnel_one_raw_event_exchange(spark, sf_dir):
    """windowFunnel's scale claim: the whole funnel — both chained
    running maxes AND the per-user level aggregate — rides ONE
    hashpartitioning(user_id) exchange over raw events; the remaining
    exchanges (the level histogram, the 4-row ORDER BY) move at most
    |users| rows. A regression that re-shuffles raw events (e.g. a
    second window spec with a different ordering) doubles the
    dominant cost at 100 TB."""
    plan = _plan(spark, "window_funnel", sf_dir)
    user_exchanges = [
        ln
        for ln in plan.splitlines()
        if "Exchange hashpartitioning(user_id" in ln
    ]
    assert len(user_exchanges) == 1, plan[:3000]
    assert "Exchange SinglePartition" not in plan
    assert "CartesianProduct" not in plan


def test_sequence_count_one_exchange_total(spark, sf_dir):
    plan = _plan(spark, "sequence_count", sf_dir)
    assert plan.count("Exchange") == 1, plan[:3000]
