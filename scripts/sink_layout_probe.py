"""Sink-layout scaling probe: prove the dated parquet sink's file
count stays O(write tasks), not O(tasks × dates), as data and date
range grow (SCALE.md "r9: dated-sink layout").

For each SF it stages the monolog corpus, drains it through the
PRODUCTION streaming path (regex parse → validity split → enrichment
→ `sink.write_batch` via foreachBatch, Trigger.AvailableNow — the
same `bench.drain_ingest` that bench.py's ingest metric times), then
reports:

    rows, distinct log_date partitions, parquet data files,
    files-per-date, and the drain wall time.

The pre-r9 hash-bucket layout wrote ~tasks×dates files (≈960 at
sf0.1's 30 dates); the range layout holds the file count near the
task count regardless of how many dates the corpus spans. Run on a
quiet host; the drain time is informative, the FILE COUNTS are the
contract.

Usage: python scripts/sink_layout_probe.py [sf_dir ...]
"""

from __future__ import annotations

import glob
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import drain_ingest  # noqa: E402
from log2ck_spark.session import get_spark  # noqa: E402

DEFAULT_SFS = [
    "/root/testdata/sf0.001",
    "/root/testdata/sf0.01",
    "/root/testdata/sf0.1",
]


def probe(spark, sf_dir: str) -> dict:
    sink_path, drain_s = drain_ingest(spark, sf_dir, "sink_layout_probe")
    n_rows = spark.read.parquet(sink_path).count()
    dates = glob.glob(os.path.join(sink_path, "log_date=*"))
    files = glob.glob(
        os.path.join(sink_path, "log_date=*", "*.parquet")
    ) or glob.glob(os.path.join(sink_path, "**", "*.parquet"), recursive=True)
    return {
        "sf_dir": sf_dir,
        "rows": n_rows,
        "n_dates": len(dates),
        "n_files": len(files),
        "files_per_date": round(len(files) / max(len(dates), 1), 2),
        "drain_s": round(drain_s, 2),
    }


def main() -> None:
    sfs = sys.argv[1:] or DEFAULT_SFS
    spark = get_spark("sink-layout-probe")
    print(
        f"{'sf_dir':28s} {'rows':>8s} {'dates':>6s} {'files':>6s}"
        f" {'files/date':>10s} {'drain_s':>8s}"
    )
    for d in sfs:
        r = probe(spark, d)
        print(
            f"{r['sf_dir']:28s} {r['rows']:>8d} {r['n_dates']:>6d}"
            f" {r['n_files']:>6d} {r['files_per_date']:>10.2f}"
            f" {r['drain_s']:>8.2f}"
        )


if __name__ == "__main__":
    main()
