"""Focused tests for the r14 optimization internals.

1. pipelineops._min_label_cc (dedup_clusters' connected-components
   loop, restructured r14): the fused join-free round 1 + self-loop
   single-join rounds + label-sum convergence must produce the exact
   min-label fixpoint on star, clique, chain (diameter > 2, exercising
   the multi-round path), and empty graphs — and must do it in the
   round counts the restructure claims (the r13 shape ran an
   init-labels distinct plus TWO join rounds on a star graph; the
   fused shape runs ONE join round).
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from log2ck_spark.queries.pipelineops import _min_label_cc


def _run_cc(spark, pairs):
    half = spark.createDataFrame(pairs, "doc_a long, doc_b long")
    edges = half.unionByName(
        half.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
    )
    labels, converged, rounds = _min_label_cc(spark, edges, len(pairs))
    return {r.doc_id: r.label for r in labels.collect()}, converged, rounds


def test_min_label_cc_star_graphs_converge_in_two_rounds(spark):
    # two pairs + a triangle: every component is min-centered, so the
    # fused round 1 already produces the fixpoint and round 2 is the
    # convergence proof. The r13 shape needed an init distinct + 2 join
    # rounds for the same graphs; "rounds" here counts the fused
    # aggregation round too, so 2 == one join round executed.
    labels, converged, rounds = _run_cc(
        spark, [(1, 2), (5, 9), (10, 11), (10, 12), (11, 12)]
    )
    assert converged
    assert labels == {1: 1, 2: 1, 5: 5, 9: 5, 10: 10, 11: 10, 12: 10}
    assert rounds == 2


def test_min_label_cc_chain_diameter_four(spark):
    # 1-2-3-4-5 chain: min-label moves one hop per round, so the label
    # frontier takes 4 propagation rounds + 1 proof round — the
    # multi-round join path, including the self-loop rows that carry
    # each node's own label through the single join.
    labels, converged, rounds = _run_cc(spark, [(1, 2), (2, 3), (3, 4), (4, 5)])
    assert converged
    assert labels == {i: 1 for i in range(1, 6)}
    assert rounds == 5


def test_min_label_cc_empty_graph_short_circuits(spark):
    labels, converged, rounds = _run_cc(spark, [])
    assert converged
    assert labels == {}
    assert rounds == 1


def test_corpus_dim_memo_hits_and_invalidates(spark, tmp_path):
    """The dim memo is METADATA-only and must follow the schema memo's
    contract: same table identity -> no second probe job; any rewrite
    of the table (new mtime/size) -> fresh probe, never a stale width."""
    from log2ck_spark.io import table_key
    from log2ck_spark.queries import similarity as sim

    p = str(tmp_path)
    spark.createDataFrame(
        [(0, [1.0] * 8), (1, [2.0] * 8)], "vec_id long, embedding array<float>"
    ).write.mode("overwrite").parquet(p + "/embeddings.parquet")
    e = (
        spark.read.parquet(p + "/embeddings.parquet")
        .selectExpr("vec_id", "cast(embedding as array<double>) as v")
    )
    key = table_key(p, "embeddings")
    assert key is not None
    sim._DIM_CACHE.pop(key, None)
    assert sim._corpus_dim(e, key) == 8
    assert sim._DIM_CACHE[key] == 8
    # poison the memo entry: a hit must come from the memo, not a probe
    sim._DIM_CACHE[key] = 99
    assert sim._corpus_dim(e, key) == 99
    # keyless probe never touches the memo
    assert sim._corpus_dim(e, None) == 8
    # rewrite the table -> new identity key -> fresh probe
    spark.createDataFrame(
        [(0, [1.0] * 16)], "vec_id long, embedding array<float>"
    ).write.mode("overwrite").parquet(p + "/embeddings.parquet")
    # a coarse filesystem clock can give the rewrite the old mtime:
    # move it past the first write's explicitly instead of sleeping
    bumped = key[1] + 1_000_000_000
    os.utime(p + "/embeddings.parquet", ns=(bumped, bumped))
    key2 = table_key(p, "embeddings")
    assert key2 != key
    e2 = (
        spark.read.parquet(p + "/embeddings.parquet")
        .selectExpr("vec_id", "cast(embedding as array<double>) as v")
    )
    assert sim._corpus_dim(e2, key2) == 16
