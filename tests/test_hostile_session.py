"""The driver's SparkSession is not ours to configure — queries must
produce oracle-identical results even under a hostile session
timezone (io.tbl forces UTC + nanosAsLong at the reader, runtime-set).
This was previously a manual probe in the verify skill; here it is a
permanent gate: one subprocess boots a session pinned to
America/New_York and replays the most timestamp-sensitive queries
against their oracles.
"""

from __future__ import annotations

import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent

PROBE = """
import sys
sys.path.insert(0, sys.argv[1])  # the checkout holding this test
from pyspark.sql import SparkSession
spark = (SparkSession.builder.master("local[8]")
         .appName("hostile-tz")
         .config("spark.sql.session.timeZone", "America/New_York")
         .config("spark.sql.shuffle.partitions", "8")
         .getOrCreate())
from log2ck_spark.queries import QUERIES, ORACLES, load_all
load_all()
from tests.oracle_harness import compare, run_oracle
sf = "/root/testdata/sf0.001"
names = ["agg_time_bucket", "parse_monolog", "parse_accesslog",
         "rate_counter", "stream_tumbling_agg", "retention_cohort",
         "agg_latest_by_key", "seasonal_hour_profile", "alert_pipeline",
         "drift_psi", "series_similarity_search", "iat_stats",
         # date-partitioned sink round-trips + DATE/interval functions:
         # a non-UTC session shifts to_date/date_format unless the
         # reader pins UTC, and the partition-column values written
         # under one zone must read back identically under another
         "scan_partition_prune", "sink_table", "ttl_expire",
         "datetime_funcs", "time_weighted_avg", "pivot_daily_activity"]
fails = []
for name in names:
    problems = compare(QUERIES[name](spark, sf), run_oracle(ORACLES[name], sf))
    if problems:
        fails.append((name, problems[0][:120]))
print("HOSTILE_RESULT", "PASS" if not fails else repr(fails))
"""


def test_timestamp_queries_survive_non_utc_session():
    r = subprocess.run(
        [sys.executable, "-c", PROBE, str(REPO)],
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert "HOSTILE_RESULT PASS" in r.stdout, (
        r.stdout[-2000:] + "\n" + r.stderr[-2000:]
    )
