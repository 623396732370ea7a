"""Focused tests for optimization internals.

1. pipelineops._components (dedup_clusters' connected components):
   union-find per edge partition, then once over the local roots,
   must label every node with its component's minimum id on star,
   triangle, chain, long-path, empty and random graphs — whatever the
   component diameter and however the edges are spread over
   partitions. The random graphs are checked against a pure-Python
   BFS reference.
2. similarity._corpus_dim's metadata memo.
"""

from __future__ import annotations

import os
import random

from log2ck_spark.queries.pipelineops import _LABELS, _components, _union_find


def _edges(spark, pairs, partitions=1):
    rdd = spark.sparkContext.parallelize(pairs, partitions)
    return spark.createDataFrame(rdd, "doc_a long, doc_b long")


def _run_cc(spark, pairs, partitions=1):
    labels = _components(_edges(spark, pairs, partitions)).collect()
    return {r.doc_id: r.label for r in labels}


def _bfs_labels(pairs):
    adj: dict[int, set[int]] = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    labels: dict[int, int] = {}
    for start in adj:
        if start in labels:
            continue
        seen, todo = {start}, [start]
        while todo:
            for nb in adj[todo.pop()]:
                if nb not in seen:
                    seen.add(nb)
                    todo.append(nb)
        labels.update(dict.fromkeys(seen, min(seen)))
    return labels


def test_components_star_and_triangle_graphs(spark):
    labels = _run_cc(spark, [(1, 2), (5, 9), (10, 11), (10, 12), (11, 12)])
    assert labels == {1: 1, 2: 1, 5: 5, 9: 5, 10: 10, 11: 10, 12: 10}


def test_components_chain_diameter_four(spark):
    labels = _run_cc(spark, [(1, 2), (2, 3), (3, 4), (4, 5)])
    assert labels == {i: 1 for i in range(1, 6)}


def test_components_empty_graph(spark):
    assert _run_cc(spark, []) == {}
    assert _run_cc(spark, [], partitions=3) == {}


def test_components_64_hop_path(spark):
    # the longest path through 65 nodes, listed from the far end so no
    # partition sees the minimum first
    path = [(i, i + 1) for i in reversed(range(64))]
    for partitions in (1, 4):
        labels = _run_cc(spark, path, partitions)
        assert labels == {i: 0 for i in range(65)}, partitions


def test_components_merge_local_roots_across_partitions(spark):
    # 3-4 sits in one partition and 1-4 in the other: each local pass
    # roots its half apart, and only the global pass joins them
    edges = _edges(spark, [(3, 4), (1, 4)], partitions=2)
    assert edges.rdd.getNumPartitions() == 2
    local = sorted(edges.mapInPandas(_union_find, _LABELS).collect())
    assert local == [(1, 1), (3, 3), (4, 1), (4, 3)]
    assert {r.doc_id: r.label for r in _components(edges).collect()} == {
        1: 1, 3: 1, 4: 1,
    }


def test_components_match_bfs_on_random_graphs(spark):
    rng = random.Random(20261018)
    for n_nodes, n_edges, partitions in ((40, 30, 2), (300, 280, 5)):
        ids = rng.sample(range(1 << 40), n_nodes)
        pairs = [tuple(rng.sample(ids, 2)) for _ in range(n_edges)]
        assert _run_cc(spark, pairs, partitions) == _bfs_labels(pairs)


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
