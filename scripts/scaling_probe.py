"""Cross-SF scaling probe: time a representative query set at
sf0.001 / sf0.01 / sf0.1 (100x data range) and report the measured
growth factor per decade of data. A scale-sound plan grows ~linearly
in input bytes (factor <= ~10 per decade, usually far less while
fixed per-stage overhead dominates); a quadratic candidate generator
or a driver-side loop shows up as a blowing-up right column.

Usage: python scripts/scaling_probe.py [query ...]
Prints one row per query: t(0.001), t(0.01), t(0.1), and the
0.01->0.1 growth factor (the decade where data dominates overhead).

`sweep` is the timing loop shared with the sf1 probes.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import best_of, noop_s  # noqa: E402
from log2ck_spark.queries import QUERIES, load_all  # noqa: E402
from log2ck_spark.session import get_spark  # noqa: E402

SF_DIRS = ["/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1"]

DEFAULT_SET = [
    "tpch_q1_pricing_summary",
    "dedup_exact",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_semantic",
    "dedup_clusters",
    "similarity_topk",
    "similarity_lsh",
    "chunk_documents",
    "pack_sequences",
    "decontaminate_span",
    "anomaly_ewma",
    "curate_pipeline",
]


def sweep(spark, builds: dict, dirs: list) -> None:
    """Print one row per ``builds`` entry (name -> ``build(spark,
    sf_dir)``): its warm min-of-2 time at each of ``dirs`` and the
    growth over the last step. Every build is warmed at ``dirs[-2]``
    off the clock first, so codegen/JVM warm-up is not charged to the
    first measured SF."""
    for build in builds.values():
        noop_s(lambda: build(spark, dirs[-2]))
    labels = [os.path.basename(d.rstrip("/")) for d in dirs]
    print(f"{'query':32s}", *(f"{x:>8s}" for x in labels), f"{'growth':>7s}")
    for name, build in builds.items():
        ts = [
            best_of(lambda: noop_s(lambda: build(spark, d)), 2)[0]
            for d in dirs
        ]
        growth = ts[-1] / ts[-2] if ts[-2] > 0 else float("inf")
        print(f"{name:32s}", *(f"{t:8.2f}" for t in ts), f"{growth:6.2f}x")


def main() -> None:
    names = sys.argv[1:] or DEFAULT_SET
    load_all()
    spark = get_spark("scaling-probe")
    sweep(spark, {n: QUERIES[n] for n in names}, SF_DIRS)


if __name__ == "__main__":
    main()
