"""Registry-wide physical-plan lint — every registered query's plan is
scanned for the patterns that kill 100 TB runs. Unlike test_plans.py
(which pins specific shapes for specific queries), this audit is a
dragnet: a NEW operator that sneaks in a cartesian product, a
row-at-a-time Python UDF, or an unjustified single-partition exchange
fails here without anyone having to remember to pin its plan.

Allowlists are explicit and per-name: every entry is a pattern that is
*correct* for that query (scalar-aggregate joins, broadcast-tiny probe
sides, final one-row reductions), so growth of the list is a reviewed
decision, not drift.
"""

from __future__ import annotations

import pytest

from log2ck_spark.queries import QUERIES, load_all

load_all()

# BroadcastNestedLoopJoin is legitimate ONLY when one side is known
# tiny by construction: a single-row aggregate (scalar-subquery
# decorrelation) or an explicitly broadcast bounded probe set.
BNLJ_OK = {
    "bm25_score",  # joins the 1-row corpus-stats aggregate
    "dedup_embedding",  # broadcast bounded anchor set (anchor-probe design)
    "dedup_semantic",  # broadcast k-centroid table (k ≤ 64)
    "doc_perplexity",  # joins the 1-row vocabulary-total aggregate
    "embedding_kmeans",  # broadcast k-centroid table
    "filter_valid",  # two scalar counts joined into one row
    "funnel_conversion",  # three 1-row stage counts joined
    "heavy_hitters",  # joins the 1-row total-token-count aggregate
    "knn_classify",  # broadcast bounded query set
    "pmi_collocations",  # joins the 1-row unigram/bigram totals
    "series_similarity_search",  # joins the 1-row reference moments/span
    "similarity_ivf",  # broadcast k-centroid table
    "similarity_topk",  # broadcast bounded query set (exact top-k design)
    "sketch_bloom",  # joins the 1-row 130-word bloom-filter aggregate
    "tpch_q11_important_share",  # scalar threshold subquery (spec)
    "tpch_q22_global_sales_opportunity",  # scalar avg-balance subquery (spec)
    "ttl_expire",  # scalar retention-cutoff aggregate
    "vocab_coverage",  # joins the 1-row total-token-mass aggregate
}

# Exchange SinglePartition is legitimate ONLY for one-row (or
# few-row-aggregate) frames: global no-group aggregations, final
# reductions of already-aggregated tiny tables, unpartitioned windows
# over per-group aggregates.
SINGLE_PARTITION_OK = {
    "bm25_score",
    "correlate_series",  # single-row moment reduction
    # global union-find pass over the local roots: at most one row per
    # (near-duplicate node, edge partition) — the same node set the
    # query broadcasts to every executor for its label join, so the
    # single partition adds no new scale bound
    "dedup_clusters",
    "distinct_exact",
    "doc_perplexity",
    "filter_valid",
    "funnel_conversion",
    "heavy_hitters",
    "ingest_json_lines",
    "ingest_tail_snapshot",
    "ingest_text_lines",
    "join_semi_anti",
    "mixture_weights",  # window over the |languages|-row aggregate
    "sample_by_mixture",  # same weights subtree as mixture_weights
    "vocab_coverage",  # window over the _VOCAB_TOP-row head + scalar total
    "pmi_collocations",  # 1-row unigram/bigram total aggregates
    "retention_flags",  # 1-row reduce of 3 partial-aggregable counts
    "series_similarity_search",  # 1-row reference-moments aggregates
    "sketch_bloom",  # 1-row reduce of the 130-word bloom filter
    "profile_columns",
    "tpch_q11_important_share",
    "tpch_q14_promo_revenue",
    "tpch_q15_top_supplier",
    "tpch_q17_small_qty_revenue",
    "tpch_q19_disjunctive_join",
    "tpch_q22_global_sales_opportunity",
    "tpch_q6_forecast_revenue",
    "ttl_expire",  # 1-row retention-cutoff aggregate
    "welch_ttest",  # 1-row reduce of 6 partial-aggregable moments
    "mann_whitney_utest",  # rank window over the bounded distinct-cents grid
    "cramers_v",  # margin windows + 1-row reduce over the bounded cell table
}


# Driver-side row pulls (collect/take/head/first/toPandas/
# toLocalIterator) during query CONSTRUCTION are legitimate ONLY for
# bounded frames whose size is independent of the corpus. Value = max
# rows any single pull may return for that name — caps are EXACT to
# the documented bound, not rounded up, so a loosened regression trips
# the guard. Anything else is a scale-killer (the r4 ingest_binaryfile
# staging collected a corpus-proportional sample to the driver before
# it was rewritten executor-side).
CONSTRUCTION_COLLECT_OK = {
    "similarity_ivf": 16,  # k=16 md5-seed quantizer rows
    "embedding_kmeans": 512,  # 512-row hash-sampled Lloyd training set
    "dedup_semantic": 64,  # <= _K_MAX=64 md5-seed cell centroids
    "dedup_embedding_lsh": 1,  # first(): O(1) embedding-dim probe
    "similarity_lsh": 1,  # first(): O(1) embedding-dim probe
}


_SELF_CHECK = "<deliberate spark.range(3).collect()>"


@pytest.fixture(scope="module")
def built(spark, sf_dir):
    """Construct every registered query ONCE, capturing (a) its
    physical plan and (b) every driver-side row pull fired during
    construction with its returned row count. All pull surfaces are
    intercepted — collect, take, head, first, toPandas,
    toLocalIterator — so a corpus-proportional toPandas() can't slip
    past a collect-only guard."""
    pulls: dict[str, list[int]] = {}
    current: dict[str, str | None] = {"name": None}

    def _record(n):
        if current["name"] is not None:
            pulls.setdefault(current["name"], []).append(n)

    # patch the class the session really returns: on Spark 4 that is
    # pyspark.sql.classic.dataframe.DataFrame, which overrides every
    # pull method of the pyspark.sql.DataFrame base
    frame = type(spark.range(0))
    orig_collect = frame.collect
    orig_take = frame.take
    orig_head = frame.head
    orig_topandas = frame.toPandas
    orig_iter = frame.toLocalIterator

    def t_collect(self):
        rows = orig_collect(self)
        _record(len(rows))
        return rows

    def t_take(self, num):
        rows = orig_take(self, num)
        _record(len(rows))
        return rows

    def t_head(self, n=None):
        out = orig_head(self, n)
        _record(1 if n is None else len(out))
        return out

    def t_topandas(self):
        pdf = orig_topandas(self)
        _record(len(pdf))
        return pdf

    def t_iter(self, prefetchPartitions=False):  # noqa: N803
        # size unknowable lazily: treat any use as unbounded (1<<60)
        _record(1 << 60)
        return orig_iter(self, prefetchPartitions)

    frame.collect = t_collect
    frame.take = t_take
    frame.head = t_head
    frame.toPandas = t_topandas
    frame.toLocalIterator = t_iter
    plans = {}
    try:
        # a known 3-row pull, so the guard can prove the capture works
        current["name"] = _SELF_CHECK
        spark.range(3).collect()
        for name, fn in sorted(QUERIES.items()):
            # Cold catalog per build: a persist() registered by an
            # earlier query (or an earlier TEST in the shared session)
            # substitutes InMemoryRelation into matching subtrees, and
            # the explain text then inlines the cached child plan at
            # every reference — the same query counted 3 file scans
            # fresh, 6 after one execution, 12 deep in the full suite.
            # The multi-scan guard documents FRESH-plan counts, so
            # every plan must be built from one.
            spark.catalog.clearCache()
            current["name"] = name
            df = fn(spark, sf_dir)
            current["name"] = None
            plans[name] = (
                df._jdf.queryExecution().executedPlan().toString()
            )
    finally:
        frame.collect = orig_collect
        frame.take = orig_take
        frame.head = orig_head
        frame.toPandas = orig_topandas
        frame.toLocalIterator = orig_iter
    return plans, pulls


@pytest.fixture(scope="module")
def plans(built):
    return built[0]


def test_construction_collects_only_bounded_allowlisted(built):
    """No registered query may pull a corpus-proportional frame to the
    driver while BUILDING its plan. Allowlisted names may pull up to
    their documented bound; everyone else must pull nothing."""
    pulls = dict(built[1])
    assert pulls.pop(_SELF_CHECK, None) == [3], "the pull capture is blind"
    bad = []
    for name, sizes in pulls.items():
        cap = CONSTRUCTION_COLLECT_OK.get(name)
        if cap is None:
            bad.append((name, "driver row pull outside allowlist", sizes))
        elif any(s > cap for s in sizes):
            bad.append((name, f"pull exceeded documented cap {cap}", sizes))
    assert not bad, bad


def test_no_cartesian_products_anywhere(plans):
    bad = [n for n, p in plans.items() if "CartesianProduct" in p]
    assert not bad, bad


def test_no_row_at_a_time_python_udfs_anywhere(plans):
    """BatchEvalPython = per-row Python round trips. Arrow paths
    (ArrowEvalPython / mapInPandas / FlatMapGroupsInPandas) are the
    sanctioned Python surface."""
    bad = [n for n, p in plans.items() if "BatchEvalPython" in p]
    assert not bad, bad


def test_nested_loop_joins_only_on_allowlisted_scalar_patterns(plans):
    bad = [
        n
        for n, p in plans.items()
        if "BroadcastNestedLoopJoin" in p and n not in BNLJ_OK
    ]
    assert not bad, f"new BNLJ outside allowlist (justify or fix): {bad}"


def test_single_partition_exchanges_only_on_allowlisted_reductions(plans):
    bad = [
        n
        for n, p in plans.items()
        if "Exchange SinglePartition" in p and n not in SINGLE_PARTITION_OK
    ]
    assert not bad, (
        f"new single-partition exchange outside allowlist (a global "
        f"sort/window over raw rows serializes the cluster): {bad}"
    )


# A query may scan the same table more than once ONLY when the shape
# requires it: self-joins (near-dup candidate generation, set ops,
# as-of/range joins), TPC-H decorrelated subqueries (the spec's
# correlated predicate becomes a second aggregate scan), tiny-dim
# rescans (nation), multi-branch reuse of a corpus derivation where
# each branch prunes differently (filter-pushdown makes N narrow
# scans cheaper at 100 TB than one wide scan + full-row shuffle), or
# a deliberate exact-audit join (sketch_hll). Values are the EXACT
# observed scan count per table basename — an increase anywhere
# (e.g. an aggregate join-back added where a sentinel/ride-along
# would do, the shape approx_distinct shipped with until r8) trips
# this guard and must be re-justified or fixed.
MULTI_SCAN_OK = {
    # -- self-join candidate generation / verification (near-dup) --
    # (fresh-plan counts; the shingle subtree is persist()ed, so the
    # plan references it 3-4x but runtime scans the parquet once)
    "dedup_minhash_lsh": {"documents.parquet": 3},
    "dedup_near": {"documents.parquet": 3},  # alias of dedup_minhash_lsh
    "dedup_ngram_jaccard": {"documents.parquet": 4},  # PPJoin prefix self-join + verify
    # the PPJoin edge pipeline (4, as dedup_ngram_jaccard) + the doc-id
    # scan the component labels are joined onto
    "dedup_clusters": {"documents.parquet": 5},
    "dedup_incremental": {"documents.parquet": 2},  # old/new split self-join
    "decontaminate_overlap": {"documents.parquet": 2},  # train x eval split join
    "decontaminate_span": {"documents.parquet": 2},
    "ngram_novelty": {"documents.parquet": 2},  # doc-grams vs corpus-grams
    # -- embedding self/probe joins --
    "dedup_embedding": {"embeddings.parquet": 2},  # anchor set vs corpus
    "dedup_semantic": {"embeddings.parquet": 2},  # seed centroids vs corpus
    "knn_classify": {"embeddings.parquet": 2},  # labeled vs query split
    "similarity_ivf": {"embeddings.parquet": 2},  # seed quantizer vs corpus
    "similarity_lsh": {"embeddings.parquet": 4},  # query/corpus bucket join + payload re-attach
    "similarity_topk": {"embeddings.parquet": 2},  # query set vs corpus
    # -- set / as-of / range / stream self-joins --
    "asof_join": {"events.parquet": 2},
    "range_join_bucketed": {"events.parquet": 3},  # bucket join probes adjacent buckets
    "set_except": {"events.parquet": 2},
    "set_intersect": {"events.parquet": 2},
    "set_union": {"events.parquet": 2},
    "stream_stream_join": {"events.parquet": 2},
    "join_semi_anti": {"customer.parquet": 2, "orders.parquet": 2},
    # -- aggregate-frontier re-joins (tiny agg broadcast back; the
    #    filtered rescans prune to one event_type at the parquet scan,
    #    so N narrow scans beat one wide scan + full shuffle) --
    "alert_pipeline": {"events.parquet": 2},
    "anomaly_zscore": {"events.parquet": 2},  # per-key stats join-back
    "filter_valid": {"events.parquet": 2},  # valid/dead-letter counts
    "funnel_conversion": {"events.parquet": 6},  # 3 stage frontiers, nested
    "resample_ffill": {"events.parquet": 2},  # grid x last-value join
    "retention_cohort": {"events.parquet": 2},  # cohort x activity
    "series_similarity_search": {"events.parquet": 4},  # 1-row ref moments
    "ttl_expire": {"events.parquet": 2},  # scalar cutoff aggregate
    # -- corpus-derivation branches (stats + postings + lengths) --
    "bm25_score": {"documents.parquet": 4},
    "doc_perplexity": {"documents.parquet": 3},
    "feature_hash_embed": {"documents.parquet": 2},
    "heavy_hitters": {"documents.parquet": 2},  # 1-row total join
    "pmi_collocations": {"documents.parquet": 5},  # unigram+bigram+totals
    "sample_by_mixture": {"documents.parquet": 2},  # weights subtree
    "sample_stratified": {"documents.parquet": 2},  # per-stratum counts
    "sketch_bloom": {"documents.parquet": 3},  # build vs probe vs audit
    "sketch_count_min": {"documents.parquet": 2},  # sketch vs exact audit
    "sketch_hll": {"events.parquet": 2},  # deliberate exact-count audit
    "tfidf_top_terms": {"documents.parquet": 2},  # tf vs df branches
    "vocab_coverage": {"documents.parquet": 2},  # head + total-mass (ReusedExchange at runtime)
    # -- TPC-H decorrelated subqueries / tiny-dim rescans (spec shapes) --
    "tpch_q7_volume_shipping": {"nation.parquet": 2},
    "tpch_q8_market_share": {"nation.parquet": 2},
    "tpch_q11_important_share": {"lineitem.parquet": 2, "supplier.parquet": 2},
    "tpch_q15_top_supplier": {"lineitem.parquet": 2},
    "tpch_q17_small_qty_revenue": {"lineitem.parquet": 2, "part.parquet": 2},
    "tpch_q22_global_sales_opportunity": {"customer.parquet": 2},
}


def test_repeated_table_scans_only_where_justified(plans):
    """Count parquet scans per table basename in every plan; any table
    scanned more than once must appear in MULTI_SCAN_OK at exactly its
    documented count. Catches the aggregate-join-back-where-one-
    pass-would-do regression class (approx_distinct pre-r8: the
    per-group count was a second full scan of events joined to the
    HLL registers). A cap above the observed count also fails: a
    one-pass rewrite must lower its cap, or the headroom would let the
    removed scans come back unnoticed."""
    import re as _re
    from collections import Counter as _Counter

    bad = [
        (name, "-", 0, "not a registered query")
        for name in MULTI_SCAN_OK.keys() - plans.keys()
    ]
    for name, p in plans.items():
        locs = _re.findall(r"InMemoryFileIndex(?:\(\d+ paths\))?\[([^\],]+)", p)
        counts = _Counter(loc.rstrip("/").rsplit("/", 1)[-1] for loc in locs)
        caps = MULTI_SCAN_OK.get(name, {})
        for table in counts.keys() | caps.keys():
            n, cap = counts[table], caps.get(table)
            if cap is None:
                if n > 1:
                    bad.append((name, table, n, "not in MULTI_SCAN_OK"))
            elif n != cap:
                bad.append((name, table, n, f"documented cap is {cap}"))
    assert not bad, (
        f"unjustified repeated scans (one-pass rewrite or allowlist "
        f"review needed): {bad}"
    )


def test_bucket_joiners_use_the_capped_expansion():
    """r10 BUCKET_CAP guard: the unbounded-bucket candidate generators
    must route through capped_pairs_expr (or an inline BUCKET_CAP
    slice, simhash) — a refactor back to the raw i<j expansion
    re-opens the duplicate-class d²/2 single-task bomb SCALE.md
    documents. The uncapped pairs_expr stays legal ONLY where the
    bucket is bounded upstream (winnow's max_df stop cut)."""
    import inspect

    from log2ck_spark.queries import dedup
    from log2ck_spark.queries.textops3 import dedup_winnow_containment

    src = inspect.getsource(dedup._candidate_pairs)
    assert "capped_pairs_expr" in src, "candidate generator lost its cap"
    simhash_src = inspect.getsource(dedup.dedup_simhash)
    assert "BUCKET_CAP" in simhash_src, "simhash expansion lost its cap"
    # winnow is allowed the plain expansion ONLY while the max_df
    # size filter bounds its buckets — both must appear together
    win_src = inspect.getsource(dedup_winnow_containment)
    assert "max_df" in win_src and "pairs_expr" in win_src


def test_oracles_use_the_truncating_epoch_second():
    """r10 epoch-second contract guard: Spark's unix_timestamp
    TRUNCATES the microsecond tick toward zero, so an oracle spelling
    epoch seconds as floor(date_part('epoch', ts)) is one second low
    for every pre-1970 fractional instant (8 live divergences on the
    --timewarp gate). Every oracle must route through
    numeric.oracle_epoch_s — (epoch_us(x) // 1000000), BIGINT
    end-to-end. date_part('epoch', ...) stays legal only on inputs
    that are integral seconds BY CONSTRUCTION (retention_cohort's
    date_trunc('week') epochs), where floor == truncate == exact."""
    import __spark_entry__ as contract

    from log2ck_spark.functions.numeric import oracle_epoch_s

    # the helper itself is the single source of truth the oracles
    # inline; if its spelling changes, the scan below must follow
    assert oracle_epoch_s("ts") == "(epoch_us(ts) // 1000000)"

    offenders = {
        name: sql
        for name, sql in contract.oracle_sql().items()
        if "floor(date_part('epoch'" in sql
    }
    assert offenders == {}, (
        f"oracles using the FLOORING epoch-second spelling (one second "
        f"low pre-1970; use numeric.oracle_epoch_s): {sorted(offenders)}"
    )
    # the only sanctioned date_part('epoch', ...) sites are integral-
    # second inputs; anything new needs an explicit review + listing
    allowed = {"retention_cohort"}
    other = {
        name
        for name, sql in contract.oracle_sql().items()
        if "date_part('epoch'" in sql and name not in allowed
    }
    assert other == set(), (
        f"unreviewed date_part('epoch') oracle sites (integral-second "
        f"inputs only; add to the allowlist with justification): "
        f"{sorted(other)}"
    )


def test_registry_imports_without_an_active_session():
    """r10 worker-import guard: modules under log2ck_spark are
    RE-IMPORTED inside Python workers whenever one of their Arrow UDFs
    deserializes, and a worker has no active SparkSession — so a
    module-scope expression like `F.col(...)` crashes every task that
    touches the UDF (found live when the --blank sweep reached
    callback_transform: a module-level Column predicate in
    queries/ingest.py took down the whole query). Importing the full
    registry in a clean subprocess replicates the worker condition;
    building the query DAGs (which DOES need a session) stays inside
    the registered callables."""
    import subprocess
    import sys
    from pathlib import Path

    proc = subprocess.run(
        [
            sys.executable,
            "-c",
            "import __spark_entry__ as c; qs = c.queries();"
            " os_ = c.oracle_sql(); assert len(qs) >= 169, len(qs)",
        ],
        cwd=Path(__file__).resolve().parent.parent,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, (
        f"registry import needs an active session (worker-unsafe "
        f"module scope?):\n{proc.stderr[-2000:]}"
    )
