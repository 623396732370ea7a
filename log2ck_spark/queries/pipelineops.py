"""Training-data-pipeline operators beyond the reference surface:
as-of join, bucketed range join, near-dup clustering (connected
components), and deterministic hash sampling.

The reference (hisune/log2ck) has no query engine of its own —
`readme.md:106-125` delegates everything to ClickHouse — so these are
part of the declared north-star extension set (BASELINE.json): the
operations a large-scale corpus pipeline runs between ingestion and
training.

Scale notes per operator are in each docstring; the common theme is
that none of them is a naive O(n²) join — as-of is one shuffle + one
window pass, the range join buckets time so each row only meets its
neighboring buckets, and clustering runs union-find over a small edge
list, not the corpus.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from log2ck_spark.functions.numeric import md5_bucket
from log2ck_spark.io import tbl
from log2ck_spark.queries import register

# --------------------------------------------------------------------------
# As-of join (the classic "latest event at or before t" operator)
# --------------------------------------------------------------------------


@register(
    "asof_join",
    oracle="""
    WITH clicks AS (
      SELECT user_id, ts, MAX(event_id) AS click_id
      FROM events WHERE event_type = 'click' GROUP BY user_id, ts
    ),
    purchases AS (
      SELECT event_id AS purchase_id, user_id, ts
      FROM events WHERE event_type = 'purchase'
    )
    SELECT p.purchase_id, p.user_id, c.click_id,
           date_diff('microsecond', c.ts, p.ts) AS gap_us
    FROM purchases p
    ASOF LEFT JOIN clicks c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
)
def asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for every `purchase` event, the most recent `click`
    by the same user at or before its timestamp (attribution lookup).

    Spark has no ASOF JOIN operator; the naive formulation is an
    inequality self-join (O(clicks × purchases) per user) or a
    per-user collect. This implementation is the scale-correct shape:
    UNION both sides tagged, one shuffle on user_id, one window pass
    carrying the last non-null click forward
    (`last(click_id, ignorenulls)` over rows UNBOUNDED PRECEDING).
    Cost is sort-by-(user, ts) — identical asymptotics to the
    merge-based ASOF implementations in kdb/QuestDB/DuckDB, but
    expressed with stock window functions so Catalyst/AQE still own
    the physical plan. Clicks are pre-deduped per (user, ts) keeping
    MAX(event_id) so ties are deterministic cross-engine.

    Ordering within a timestamp puts clicks (side=0) before purchases
    (side=1): "at or before" includes a click at the exact purchase
    ts. The DuckDB oracle uses its native ASOF LEFT JOIN — same
    semantics, independent implementation.
    """
    ev = tbl(spark, sf_dir, "events")
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("click_id"))
        .select("user_id", "ts", F.lit(0).alias("side"),
                "click_id", F.lit(None).cast("bigint").alias("purchase_id"))
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.lit(1).alias("side"),
        F.lit(None).cast("bigint").alias("click_id"),
        F.col("event_id").alias("purchase_id"),
    )
    unioned = clicks.unionByName(purchases)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "side")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = unioned.select(
        "purchase_id",
        "user_id",
        "ts",
        F.last("click_id", ignorenulls=True).over(w).alias("click_id"),
        F.last(
            F.when(F.col("click_id").isNotNull(), F.unix_micros("ts")),
            ignorenulls=True,
        ).over(w).alias("click_us"),
    )
    return carried.filter(F.col("purchase_id").isNotNull()).select(
        "purchase_id",
        "user_id",
        "click_id",
        (F.unix_micros("ts") - F.col("click_us")).alias("gap_us"),
    )


# --------------------------------------------------------------------------
# Bucketed range join (events within a time window of anchor events)
# --------------------------------------------------------------------------

_RANGE_S = 60  # window half-width in seconds


@register(
    "range_join_bucketed",
    oracle=f"""
    SELECT e.event_id, COUNT(n.event_id) AS n_neighbors,
           ROUND(COALESCE(SUM(n.value), 0), 3) AS neighbor_value
    FROM events e
    LEFT JOIN events n
      ON n.ts BETWEEN e.ts - INTERVAL {_RANGE_S} SECOND
                  AND e.ts + INTERVAL {_RANGE_S} SECOND
     AND n.event_id <> e.event_id
    WHERE e.event_type = 'error'
    GROUP BY e.event_id
    """,
)
def range_join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join: for each `error` event, count + sum all events
    within ±60 s (incident-context gathering).

    A raw inequality join is O(n²) — Spark would pick
    BroadcastNestedLoopJoin and die at scale. Bucketing time into
    2×60 s buckets makes it an equi-join: each anchor joins only rows
    in its own and adjacent buckets (every |Δt| ≤ 60 s pair shares a
    bucket or sits in neighbors), then the exact predicate filters
    inside the bucket. Shuffle cost is 3× the probe side (the three
    bucket replicas), not n²; bucket keys are uniform in time so no
    skew. This is the standard interval-join strategy (Flink's
    interval join, DuckDB's IEJoin literature) expressed as DataFrame
    ops.
    """
    bucket_s = 2 * _RANGE_S
    ev = tbl(spark, sf_dir, "events").select(
        "event_id", "event_type", "value",
        F.unix_micros("ts").alias("us"),
        (F.unix_micros("ts") / F.lit(bucket_s * 1_000_000))
        .cast("bigint").alias("bkt"),
    )
    anchors = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("a_id"), F.col("us").alias("a_us"), "bkt"
    )
    # replicate anchors into the 3 buckets their window can touch
    probe = anchors.select(
        "a_id", "a_us",
        F.explode(
            F.array(F.col("bkt") - 1, F.col("bkt"), F.col("bkt") + 1)
        ).alias("bkt"),
    )
    pairs = probe.join(ev, "bkt").filter(
        (F.col("event_id") != F.col("a_id"))
        & (F.abs(F.col("us") - F.col("a_us")) <= F.lit(_RANGE_S * 1_000_000))
    )
    counted = pairs.groupBy("a_id").agg(
        F.count("*").alias("n_neighbors"),
        F.round(F.sum("value"), 3).alias("neighbor_value"),
    )
    # LEFT-join semantics: anchors with zero neighbors still appear
    return (
        anchors.select(F.col("a_id").alias("event_id"))
        .join(counted.withColumnRenamed("a_id", "event_id"), "event_id", "left")
        .select(
            "event_id",
            F.coalesce("n_neighbors", F.lit(0)).alias("n_neighbors"),
            F.coalesce("neighbor_value", F.lit(0.0)).alias("neighbor_value"),
        )
    )


# --------------------------------------------------------------------------
# Near-dup clustering: connected components over similarity pairs
# --------------------------------------------------------------------------


def _jaccard_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    from log2ck_spark.queries.dedup import (
        JACCARD_THRESHOLD,
        _exact_jaccard_pairs,
        _shingled,
    )

    return _exact_jaccard_pairs(
        _shingled(spark, sf_dir), JACCARD_THRESHOLD
    ).select("doc_a", "doc_b")


_LABELS = "doc_id long, label long"


def _union_find(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Union-find over one partition's rows read as undirected (a, b)
    edges -> one (doc_id, label) row per node seen, label = the least
    id of its component. A union always hangs the larger root under
    the smaller, so every root is its set's minimum and find() IS the
    label. Run over (node, local root) rows the same function merges
    per-partition results into global components: a local root is a
    member of its component, so the edges stay connected."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        root = parent.setdefault(x, x)
        while parent[root] != root:
            root = parent[root]
        while x != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for pdf in batches:
        for a, b in zip(pdf.iloc[:, 0].tolist(), pdf.iloc[:, 1].tolist()):
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
    nodes = list(parent)
    yield pd.DataFrame(
        {"doc_id": nodes, "label": [find(n) for n in nodes]}, dtype="int64"
    )


def _components(edges: DataFrame) -> DataFrame:
    """Connected components of an undirected edge list in two
    mapInPandas passes: union-find inside each edge partition, then
    once more over the (node, local root) rows in one partition. Its
    input is at most one row per (edge node, edge partition) — the
    duplicate-pair node set, orders below the corpus — and the pass
    count is fixed, whatever the component diameter."""
    local = edges.mapInPandas(_union_find, _LABELS)
    return local.repartition(1).mapInPandas(_union_find, _LABELS)


@register(
    "dedup_clusters",
    oracle="""
    WITH RECURSIVE tok AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ), sh AS (
      SELECT doc_id,
             list_distinct([array_to_string(toks[i:i+4], ' ')
                            for i in range(1, greatest(len(toks) - 4, 0) + 1)]) AS s
      FROM tok
    ), pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
              / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.7
    ), edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION ALL SELECT doc_b, doc_a FROM pairs
    ), walk(doc_id, label) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.dst, w.label FROM walk w JOIN edges e ON e.src = w.doc_id
    )
    SELECT doc_id, MIN(label) AS cluster_id,
           CAST(doc_id = MIN(label) AS INTEGER) AS is_canonical
    FROM walk GROUP BY doc_id
    """,
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS: connected components over the exact-Jaccard
    pair graph, labeling every document with its cluster's minimum
    doc_id. `is_canonical=1` marks the survivor — filtering on it is
    the "keep one per duplicate cluster" step an actual dedup pipeline
    ends with (pairs alone don't dedup: A~B, B~C must collapse to one
    cluster even if A~C was never emitted).

    Implementation: union-find over the (doc_a, doc_b) pair list (see
    _components) — a local pass per edge partition, then one global
    pass over the local roots. Both passes run on the EDGE list's node
    set, never the corpus, in a fixed number of stages: a duplicate
    chain of any length (a page's successive edits) collapses in the
    same plan as a pair. Documents outside every pair are their own
    cluster: the labels (one row per near-dup node) are broadcast into
    one left join over the corpus scan, no shuffle of the corpus.
    Building the query runs no Spark job.

    The DuckDB oracle computes the same fixpoint declaratively with a
    recursive CTE (reachability + MIN over reachable labels).
    """
    labels = _components(_jaccard_edges(spark, sf_dir))
    cluster = F.coalesce("label", "doc_id")
    return (
        tbl(spark, sf_dir, "documents")
        .select("doc_id")
        .join(F.broadcast(labels), "doc_id", "left")
        .select(
            "doc_id",
            cluster.alias("cluster_id"),
            (F.col("doc_id") == cluster).cast("int").alias("is_canonical"),
        )
    )


# --------------------------------------------------------------------------
# Deterministic hash sampling (reproducible corpus subsetting)
# --------------------------------------------------------------------------

_SAMPLE_PCT = 10  # keep ~10%


@register(
    "sample_hash_bernoulli",
    oracle=f"""
    SELECT doc_id, lang, source
    FROM documents
    WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS INTEGER)
          % 100 < {_SAMPLE_PCT}
    """,
)
def sample_hash_bernoulli(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~10% Bernoulli sample keyed on md5(doc_id) — the
    reproducible train/holdout split a data pipeline needs.
    `df.sample()` re-draws per run and per partitioning; a
    content-keyed hash makes membership a pure function of the row, so
    the same doc lands in the same split on any cluster, any day, at
    any scale — and downstream incremental runs see a stable subset.
    md5 (not xxhash64) because it is bit-identical across engines: the
    DuckDB oracle reproduces the exact membership. One narrow filter,
    no shuffle; Catalyst pushes nothing to parquet (hash of a column)
    but the scan stays a single pass."""
    d = tbl(spark, sf_dir, "documents")
    bucket = md5_bucket("doc_id", 100, hex_digits=4)
    return d.filter(bucket < _SAMPLE_PCT).select(
        "doc_id", "lang", "source"
    )


# --------------------------------------------------------------------------
# Per-group top-k (the grouped flavor of B9)
# --------------------------------------------------------------------------

_K = 3


@register(
    "topk_per_group",
    oracle=f"""
    WITH ranked AS (
      SELECT event_type, event_id, value,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY value DESC, event_id) AS rnk
      FROM events
    )
    SELECT event_type, event_id, value, CAST(rnk AS INTEGER) AS rnk
    FROM ranked WHERE rnk <= {_K}
    """,
)
def topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k rows PER GROUP (highest-value events per type) via
    row_number over a (group, order) window — the grouped counterpart
    of B9's global TakeOrderedAndProject. One shuffle on the group
    key; with AQE the per-partition sort is the only extra cost. At
    skew (one giant group) the window sort is the bottleneck — the
    fix is a two-phase top-k (per-partition heap, then re-rank the
    k×partitions survivors), which `topk_order_limit` demonstrates
    globally. Deterministic tie-break on event_id."""
    w = Window.partitionBy("event_type").orderBy(F.desc("value"), F.asc("event_id"))
    return (
        tbl(spark, sf_dir, "events")
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _K)
        .select("event_type", "event_id", "value", "rnk")
    )


@register(
    "topk_per_group_twophase",
    oracle=f"""
    WITH ranked AS (
      SELECT event_type, event_id, value,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY value DESC, event_id) AS rnk
      FROM events
    )
    SELECT event_type, event_id, value, CAST(rnk AS INTEGER) AS rnk
    FROM ranked WHERE rnk <= {_K}
    """,
)
def topk_per_group_twophase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped top-k that survives a skewed group: phase 1 ranks within
    (group, input-partition) — parallelism = #partitions even if one
    group owns 99% of rows — and keeps k rows per (group, partition);
    phase 2 re-ranks the surviving k×P rows per group. Result is
    identical to the single-window formulation (`topk_per_group`, same
    oracle): any global top-k row is necessarily a top-k row of its own
    partition. This is the window-function analog of partial
    aggregation — the global sort of a hot group never happens."""
    ev = tbl(spark, sf_dir, "events").withColumn(
        "_pid", F.spark_partition_id()
    )
    w1 = Window.partitionBy("event_type", "_pid").orderBy(
        F.desc("value"), F.asc("event_id")
    )
    survivors = (
        ev.withColumn("_r1", F.row_number().over(w1))
        .filter(F.col("_r1") <= _K)
        .drop("_r1", "_pid")
    )
    w2 = Window.partitionBy("event_type").orderBy(F.desc("value"), F.asc("event_id"))
    return (
        survivors.withColumn("rnk", F.row_number().over(w2))
        .filter(F.col("rnk") <= _K)
        .select("event_type", "event_id", "value", "rnk")
    )
