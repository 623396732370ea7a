"""sf1-scale probe for the capped dedup family (r10 verdict item 7).

The driver testdata tops out at sf0.1 (5k documents). The bomb-bucket
tests (tests/test_dedup_scale.py) prove the BUCKET_CAP/SHINGLE_CAP
bounds synthetically; this probe proves them on CORPUS SHAPE: it
builds an sf1-scale documents table (10 salted replicas of sf0.1 —
each replica suffixes every token with its replica id, so
WITHIN-replica duplicate structure is preserved exactly while
cross-replica Jaccard is 0; the corpus therefore has 10× the docs,
10× the duplicate classes, and the same per-class shape) and times
the three LSH-family queries at sf0.1 vs sf1. A candidate generator
that were quadratic in corpus size would show a ~100× step; the
bucketed plans should grow ~linearly (≤ ~10×, usually less while
per-stage overhead still amortizes).

Usage: python scripts/dedup_sf1_probe.py
Writes the synthetic corpus under the repo scratch dir; prints one
row per query: t(sf0.1), t(sf1), growth factor.
"""

from __future__ import annotations

import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from log2ck_spark.queries import QUERIES, load_all  # noqa: E402
from log2ck_spark.session import get_spark  # noqa: E402
from scripts.scaling_probe import sweep  # noqa: E402

SRC = "/root/testdata/sf0.1"
NAMES = ["dedup_minhash_lsh", "dedup_simhash", "dedup_clusters"]
REPLICAS = 10


def build_sf1(spark, out_dir: str) -> None:
    from pyspark.sql import functions as F

    docs = spark.read.parquet(os.path.join(SRC, "documents.parquet"))
    max_id = docs.agg(F.max("doc_id")).collect()[0][0] + 1
    reps = spark.range(REPLICAS).withColumnRenamed("id", "rep")
    # token-level salt: same-replica similarity identical to the
    # source corpus, cross-replica similarity 0 — corpus grows 10×
    # with the duplicate-class shape intact
    salted = (
        docs.crossJoin(F.broadcast(reps))
        .select(
            (F.col("doc_id") + F.col("rep") * max_id).alias("doc_id"),
            F.array_join(
                F.transform(
                    F.split("text", " "),
                    lambda t: F.concat(t, F.lit("_"), F.col("rep")),
                ),
                " ",
            ).alias("text"),
            "lang",
            "source",
            "n_chars",
        )
    )
    salted.repartition(32).write.mode("overwrite").parquet(
        os.path.join(out_dir, "documents.parquet")
    )


def main() -> None:
    load_all()
    spark = get_spark("dedup-sf1-probe")
    # the corpus dir's basename labels its column in the sweep table
    scratch = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "spark-warehouse", "sf1_dedup_probe", "sf1",
    )
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(scratch, exist_ok=True)
    build_sf1(spark, scratch)
    n = spark.read.parquet(os.path.join(scratch, "documents.parquet")).count()
    print(f"synthetic corpus: {n} docs ({REPLICAS}x sf0.1)")
    sweep(spark, {name: QUERIES[name] for name in NAMES}, [SRC, scratch])
    shutil.rmtree(os.path.dirname(scratch), ignore_errors=True)


if __name__ == "__main__":
    main()
