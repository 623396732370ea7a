"""Workload `log_queries`: the registered log-analytics queries, one client.

Closed loop with one client. Each pass runs every query of MIX once, in
an order shuffled from the seed, over tables loadgen.write_tables made
from the same seed; `spark.catalog.clearCache()` runs between queries.
A query's latency is building its DataFrame plus collecting its result
to pandas (`toPandas`), which plans and executes it. Before each query,
off the clock, the machine's speed is probed once; the end-to-end
figures are scaled by the run's speed factor (run.Machine.speed_factor).

Off the clock: the check pass, then one warm-up pass, while the JIT
compiler still speeds passes up. The check pass compares each query
with its registered DuckDB oracle through tests/oracle_harness
(`run_oracle` + `compare`) and records the row
count and hash of its result; every later execution must return the
same count and hash.

* latency_p50_s: median of all timed query latencies;
* latency_p90_s: their 90th percentile;
* batch_s: median pass time, the sum of a pass's query latencies.
"""

from __future__ import annotations

import hashlib
import os
import random
import sys
import time

MIX = (
    "filter_predicate", "scan_partition_prune", "agg_group_count",
    "agg_time_bucket", "topk_order_limit", "json_extract", "window_rank",
    "rate_counter", "parse_monolog", "sink_table",
)
WARMUP_PASSES = 1


class _Collected:
    """The result already collected, in the shape oracle_harness.compare
    expects (it calls `.toPandas()` on what it is given)."""

    def __init__(self, pdf) -> None:
        self.pdf = pdf

    def toPandas(self):
        return self.pdf


def _digest(pdf) -> tuple[int, str]:
    from tests.oracle_harness import canonical

    cols, rows = canonical(pdf)
    return len(rows), hashlib.sha256(repr((cols, rows)).encode()).hexdigest()


def run(run) -> dict:
    from perfbench import loadgen
    from perfbench import trace as tr
    from tests.oracle_harness import compare, run_oracle

    from log2ck_spark.io import scratch_dir
    from log2ck_spark.queries import ORACLES, QUERIES

    import log2ck_spark.queries.ingest as ingest

    spark = run.start_session()
    data = os.path.join(run.dir, "tables")
    n_events = loadgen.write_tables(data, run.seed)["events"]
    rng = random.Random(run.seed)
    sc = spark.sparkContext
    per_query: dict[str, list[dict]] = {q: [] for q in MIX}
    failed = attempted = 0
    first: dict[str, tuple[int, str]] = {}

    def execute(name: str, pass_no: int) -> tuple[float, object]:
        """One execution: build + collect. Returns its wall latency and
        the result. Traced, planning is forced first so Catalyst's
        phase times can be read, and the jobs are tagged with a group so
        they can be counted after."""
        rec: dict = {}
        run.machine.probe()
        if run.tracer is None:
            t0 = time.time()
            pdf = QUERIES[name](spark, data).toPandas()
            return time.time() - t0, pdf
        group = f"perfbench-{pass_no}-{name}"
        sc.setJobGroup(group, name)
        with run.tracer.span("queries.query", query=name, pass_no=pass_no):
            t0 = time.time()
            with run.tracer.span("queries.build", query=name):
                df = QUERIES[name](spark, data)
            t1 = time.time()
            with run.tracer.span("queries.plan", query=name):
                rec.update(tr.plan_phases_ms(df))
            t2 = time.time()
            with run.tracer.span("queries.exec", query=name):
                pdf = df.toPandas()
            t3 = time.time()
        tr.drain_listener_bus(spark)
        rec.update(tr.job_stats(spark, tr.jobs_for_group(spark, group)))
        rec.update(build_s=t1 - t0, exec_s=t3 - t2)
        if name == "sink_table":
            rec.update(_sink_layout(scratch_dir(data, "sink_table"), pdf))
            rec["write_s"] = run.tracer.durations("sink.write")[-1]
        if pass_no > WARMUP_PASSES:
            per_query[name].append(rec)
        return t3 - t0, pdf

    real_write_batch = ingest.write_batch

    def traced_write_batch(*a, **kw):
        with run.tracer.span("sink.write"):
            return real_write_batch(*a, **kw)

    if run.tracer is not None:
        ingest.write_batch = traced_write_batch
    t_warm = time.time()
    for name in MIX:  # check pass: oracle + reference digest
        attempted += 1
        _, pdf = execute(name, 0)
        spark.catalog.clearCache()
        first[name] = _digest(pdf)
        if name in ORACLES and compare(_Collected(pdf), run_oracle(ORACLES[name], data)):
            failed += 1
    for p in range(1, WARMUP_PASSES + 1):
        for name in rng.sample(MIX, len(MIX)):
            execute(name, p)
            spark.catalog.clearCache()
    warmup_s = time.time() - t_warm

    run.begin_timing()
    latencies, passes = [], []
    pass_no = WARMUP_PASSES
    while sum(passes) < run.seconds:
        pass_no += 1
        pass_s = 0.0
        for name in rng.sample(MIX, len(MIX)):
            attempted += 1
            try:
                dt_s, pdf = execute(name, pass_no)
            except Exception:  # noqa: BLE001 - a failed query is counted, not fatal
                failed += 1
                continue
            finally:
                spark.catalog.clearCache()
            latencies.append(dt_s)
            pass_s += dt_s
            if _digest(pdf) != first[name]:
                failed += 1
        passes.append(pass_s)
    if run.tracer is not None:
        ingest.write_batch = real_write_batch
        sc.setLocalProperty("spark.jobGroup.id", None)

    factor = run.machine.speed_factor()
    print(f"perfbench: pass {tr.median(passes):.3f} s wall", file=sys.stderr)
    end_to_end = {
        "latency_p50_s": (factor * tr.median(latencies), "s"),
        "latency_p90_s": (factor * tr.quantile(latencies, 0.9), "s"),
        "batch_s": (factor * tr.median(passes), "s"),
    }
    result = {"attempted": attempted, "failed": failed, "end_to_end": end_to_end}
    if run.tracer is None:
        return result

    n_passes = max(1, len(passes))

    def per_pass(key: str) -> float:
        return sum(r[key] for recs in per_query.values() for r in recs) / n_passes

    sink = per_query["sink_table"]
    per_layer = {
        "session.warmup_s": (warmup_s, "s"),
        "pipeline.rows_in": (n_events, "count"),
        "pipeline.rows_out": (tr.median(r["rows_landed"] for r in sink), "count"),
        "sink.write_s_p50": (tr.median(r["write_s"] for r in sink), "s"),
        "sink.files_written": (tr.median(r["files"] for r in sink), "count"),
        "sink.bytes_per_row": (tr.median(r["bytes_per_row"] for r in sink), "bytes"),
        "queries.build_s": (per_pass("build_s"), "s"),
        "queries.analysis_ms": (per_pass("analysis"), "ms"),
        "queries.optimization_ms": (per_pass("optimization"), "ms"),
        "queries.planning_ms": (per_pass("planning"), "ms"),
        "queries.exec_s": (per_pass("exec_s"), "s"),
        "queries.jobs": (per_pass("jobs"), "count"),
        "queries.stages": (per_pass("stages"), "count"),
        "queries.tasks": (per_pass("tasks"), "count"),
        "queries.shuffle_read_bytes": (per_pass("shuffle_read_bytes"), "bytes"),
        "queries.shuffle_write_bytes": (per_pass("shuffle_write_bytes"), "bytes"),
        "queries.spill_bytes": (per_pass("spill_bytes"), "bytes"),
        "traced.latency_p50_s": end_to_end["latency_p50_s"],
        "traced.latency_p90_s": end_to_end["latency_p90_s"],
        "traced.batch_s": end_to_end["batch_s"],
    }
    for name, recs in per_query.items():
        per_layer[f"query.{name}.build_s"] = (tr.median(r["build_s"] for r in recs), "s")
        per_layer[f"query.{name}.exec_s"] = (tr.median(r["exec_s"] for r in recs), "s")
        per_layer[f"query.{name}.jobs"] = (tr.median(r["jobs"] for r in recs), "count")
    result["per_layer"] = per_layer
    return result


def _sink_layout(path: str, pdf) -> dict:
    """Files and bytes the parquet sink left for sink_table's write."""
    files = size = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    rows = int(pdf["n"].sum()) if len(pdf) else 0
    return {"files": files, "bytes_per_row": size / max(1, rows), "rows_landed": rows}

