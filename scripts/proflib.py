"""Interactive profiling helpers for the optimization rounds.

Usage (from a REPL at the repo root):

    from scripts.proflib import *
    spark = boot()
    t("dedup_simhash")            # min-of-N noop-sink timing at sf0.1
    tdf(some_df)                  # time an arbitrary DataFrame
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import best_of, noop_s  # noqa: E402
from log2ck_spark.queries import QUERIES, load_all  # noqa: E402
from log2ck_spark.session import get_spark  # noqa: E402

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def boot(cpus: int = 32):
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(cpus))
    load_all()
    spark = get_spark("prof")
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    return spark


def _report(label: str, n: int, build) -> float:
    best, times = best_of(lambda: noop_s(build), n)
    print(f"{label}: min {best:.3f}  runs {[round(x, 3) for x in times]}")
    return best


def tdf(df, n: int = 3, label: str = "df") -> float:
    return _report(label, n, lambda: df)


def t(name: str, n: int = 3, spark=None, sf: str | None = None) -> float:
    from pyspark.sql import SparkSession

    spark = spark or SparkSession.getActiveSession()
    return _report(name, n, lambda: QUERIES[name](spark, sf or SF))
