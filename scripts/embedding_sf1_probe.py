"""sf1-scale probe for the similarity/semantic vector family (r11
verdict item 4 — the dedup trio got its corpus-shape proof in r11;
this extends it to the embedding-side plans).

The driver testdata tops out at sf0.1 (2k vectors, dim 64). The probe
builds a 10× embeddings table as 10 SIGN-FLIPPED replicas: replica r
multiplies each vector elementwise by a deterministic ±1 pattern
keyed on (dimension, r). A diagonal ±1 matrix is orthogonal, so every
WITHIN-replica cosine/dot/norm is bit-identical to the source corpus
— the duplicate-pair and cluster structure replicates exactly, 10×
the vectors and 10× the near-dup classes — while cross-replica
cosines are sign-scrambled (expected ~0 at dim 64), so candidate
generation must not collapse replicas together. A plan quadratic in
corpus size would show ~100× wall growth; the LSH-bucketed /
cell-local / single-scan plans should stay ~linear (≤ ~2× while
fixed per-stage overhead still amortizes at 20k vectors).

Usage: python scripts/embedding_sf1_probe.py
Prints one row per query: t(sf0.1), t(sf1), growth factor.
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
NAMES = [
    "similarity_lsh",
    "dedup_embedding_lsh",
    "dedup_semantic",
    "embedding_kmeans",
]
REPLICAS = 10


def build_sf1(spark, out_dir: str) -> None:
    from pyspark.sql import functions as F

    emb = spark.read.parquet(os.path.join(SRC, "embeddings.parquet"))
    max_id = emb.agg(F.max("vec_id")).collect()[0][0] + 1
    reps = spark.range(REPLICAS).withColumnRenamed("id", "rep")
    # per-replica diagonal ±1 rotation: within-replica geometry exact,
    # cross-replica cosines scrambled (xxhash64(dim, rep) parity)
    salted = (
        emb.crossJoin(F.broadcast(reps))
        .select(
            (F.col("vec_id") + F.col("rep") * max_id).alias("vec_id"),
            F.transform(
                "embedding",
                lambda x, i: x
                * (
                    1.0
                    - 2.0
                    * F.pmod(F.xxhash64(i, F.col("rep")), F.lit(2)).cast(
                        "float"
                    )
                ),
            ).cast("array<float>").alias("embedding"),
            "label",
        )
    )
    salted.repartition(32).write.mode("overwrite").parquet(
        os.path.join(out_dir, "embeddings.parquet")
    )
    # the family reads only embeddings; link the other tables through
    # so tbl() resolution never depends on which probe dir is active
    for t in ("documents", "events"):
        srcp = os.path.join(SRC, f"{t}.parquet")
        if os.path.exists(srcp):
            dst = os.path.join(out_dir, f"{t}.parquet")
            if not os.path.exists(dst):
                os.symlink(srcp, dst)


def dedup_lsh_production(spark, sf_dir: str):
    """The registered `dedup_embedding_lsh` pins the FIXTURE
    configuration its oracle replays: tau 0.4 (a 66° angle) forces
    4-bit buckets, and its docstring declares the consequence —
    O(n²/2^b) candidate cost, bits must grow with log(n). This builds
    the PRODUCTION configuration from the same kernels (cos ≥ 0.9,
    12 bits × 16 tables — per-bit agreement 0.86, recall ≈ 0.93,
    buckets ~n/4096 per table) so the probe MEASURES the scale claim
    instead of citing it."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from log2ck_spark.functions.vectors import as_double, finite_vec
    from log2ck_spark.io import tbl
    from log2ck_spark.queries.similarity import (
        _corpus_dim,
        _hyperplanes,
        plane_signatures,
    )

    n_tables, bits, tau = 16, 12, 0.9
    e = tbl(spark, sf_dir, "embeddings", fanout=True).where(
        finite_vec()
    ).select("vec_id", as_double("embedding").alias("v"))
    dim = _corpus_dim(e)
    sig_udf = plane_signatures(
        _hyperplanes(dim, n_tables * bits, seed=11), bits
    )
    postings = e.select(
        "vec_id", "v", F.posexplode(sig_udf("v")).alias("table", "sig")
    )

    def _bucket_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["vec_id"].to_numpy()
        mat = np.vstack(pdf["v"].to_numpy())
        norms = np.linalg.norm(mat, axis=1, keepdims=True)
        norms[norms == 0.0] = 1.0
        sims = (mat / norms) @ (mat / norms).T
        iu, ju = np.triu_indices(len(ids), k=1)
        hit = sims[iu, ju] >= tau
        a, b = ids[iu[hit]], ids[ju[hit]]
        return pd.DataFrame(
            {"vec_a": np.minimum(a, b), "vec_b": np.maximum(a, b)}
        )

    return (
        postings.groupBy("table", "sig")
        .applyInPandas(_bucket_pairs, "vec_a bigint, vec_b bigint")
        .distinct()
    )


def main() -> None:
    load_all()
    spark = get_spark("embedding-sf1-probe")
    # the corpus dir's basename labels its column in the sweep table
    scratch = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "spark-warehouse", "sf1_embedding_probe", "sf1",
    )
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(scratch, exist_ok=True)
    build_sf1(spark, scratch)
    n = spark.read.parquet(
        os.path.join(scratch, "embeddings.parquet")
    ).count()
    print(f"synthetic corpus: {n} vectors ({REPLICAS}x sf0.1)")
    builds = {name: QUERIES[name] for name in NAMES}
    # the production-configured LSH variant (see dedup_lsh_production)
    builds["dedup_lsh_prod_cfg"] = dedup_lsh_production
    sweep(spark, builds, [SRC, scratch])
    shutil.rmtree(os.path.dirname(scratch), ignore_errors=True)


if __name__ == "__main__":
    main()
