"""Workload `tail_follow`: the reference's real-time job, tail → ClickHouse.

Open loop. The appender (loadgen.py, its own process) writes seeded
monolog lines to today's file at loadgen.RATE lines/s, on a schedule
that does not wait for the engine. `streaming.job.run_ingest_stream`
tails the file with `stream_pipeline(follow=True)` (the `tailf` source) and
delivers through `writer_for(SinkConfig(kind="clickhouse_http"))` to the
fake ClickHouse endpoint in fakeck.py, on a loadgen.TRIGGER_S
processing-time trigger. After `--seconds` of steady appends the
appender writes loadgen.BURSTS bursts of loadgen.BURST lines, each into
the next day's file, as the reference's daily rotation does.

Off the clock: two warm-up writes, each waited for until it has landed.

* latency_p50_s / latency_p90_s: freshness of the steady-phase lines,
  from the time a line was due until the writer call for the micro-batch
  holding it returned.
* batch_s: median burst drain, from the end of a burst's write until the
  endpoint received its last row.

Both are wall times.
* correct: every valid generated line reached the endpoint exactly once,
  no invalid one did, and no request failed.
"""

from __future__ import annotations

import bisect
import collections
import json
import os
import subprocess
import sys
import time

from perfbench.loadgen import RATE, TRIGGER_S

# Off the clock, each write waited for until it has landed: the first
# micro-batch (planning, the Python workers' start, 7-9 s), then one of
# the steady phase's size.
WARMUP_WRITES = (2500, RATE * TRIGGER_S)
LAND_TIMEOUT_S = 90


def _wait_rows(ck, n: int, timeout_s: float, query) -> bool:
    """Wait until the endpoint holds n rows; False on timeout."""
    deadline = time.time() + timeout_s
    while ck.rows < n:
        if query.exception() is not None:
            raise RuntimeError(f"stream failed: {query.exception()}")
        if time.time() > deadline:
            return False
        time.sleep(0.02)
    return True


def run(run) -> dict:
    from perfbench import trace as tr
    from perfbench.fakeck import FakeClickHouse

    import log2ck_spark.streaming.job as job
    from log2ck_spark.config import EngineConfig, SinkConfig, TailSpec

    spark = run.start_session()
    ck = FakeClickHouse().start()
    logs = os.path.join(run.dir, "logs")
    os.makedirs(logs)
    # The log starts empty. Without skip_history the source's first
    # offset is 0 whenever it is taken, so no warm-up line can be
    # skipped by a first trigger that runs after the first write.
    tail = TailSpec(name="app", path=os.path.join(logs, "app-{date}.log"),
                    repo="bench", host="bench-host", follow=True, skip_history=False)
    sink = SinkConfig(kind="clickhouse_http", options={
        "url": ck.url, "table": "logs", "format": "json_each_row",
        "drop_partition_col": True,
    })
    config = EngineConfig(tails=[tail], sink=sink, trigger_seconds=TRIGGER_S,
                          checkpoint_root=os.path.join(run.dir, "checkpoints"))

    # The writer wrapper stamps when each micro-batch's writer call
    # returned: freshness needs it traced or not. Traced, it also
    # records the call as a span and, once timing began, the jobs and
    # stages the batch ran (the stream's jobs carry its run id as group).
    returns: list[float] = []
    batch_stats: list[dict] = []
    seen_jobs: set[int] = set()
    real_pipeline, real_writer_for = job.stream_pipeline, job.writer_for

    def traced_pipeline(*a, **kw):
        with run.span("pipeline.build"):
            return real_pipeline(*a, **kw)

    def wrapped_writer_for(sink_cfg):
        write = real_writer_for(sink_cfg)

        def _write(batch_df, batch_id):
            with run.span("sink.write", batch=batch_id):
                write(batch_df, batch_id)
            returns.append(time.time())
            if run.tracer is not None and run.timed_from:
                tr.drain_listener_bus(spark)
                group = str(spark.streams.active[0].runId)
                ids = [j for j in tr.jobs_for_group(spark, group) if j not in seen_jobs]
                seen_jobs.update(ids)
                batch_stats.append(tr.job_stats(spark, ids))

        return _write

    job.writer_for = wrapped_writer_for
    if run.tracer:
        job.stream_pipeline = traced_pipeline
    gen = subprocess.Popen(
        [sys.executable, os.path.join(os.path.dirname(__file__), "loadgen.py"), "tail",
         "--dir", logs, "--seed", str(run.seed), "--seconds", str(run.seconds)],
        stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)
    run.machine.exclude.add(gen.pid)

    def ask(cmd: dict) -> dict:
        gen.stdin.write(json.dumps(cmd) + "\n")
        gen.stdin.flush()
        return json.loads(gen.stdout.readline())

    query = None
    try:
        t_warm = time.time()
        query = job.run_ingest_stream(spark, config, tail)
        for n in WARMUP_WRITES:
            warm = ask({"cmd": "warm", "n": n})
            if not _wait_rows(ck, warm["valid"], LAND_TIMEOUT_S, query):
                raise TimeoutError(f"warm-up: {ck.rows} of {warm['valid']} rows landed")
        warmup_s = time.time() - t_warm
        n_warm = len(returns)
        seen_jobs.update(tr.jobs_for_group(spark, str(query.runId)))
        run.begin_timing()
        log = ask({"cmd": "go"})
        # a shortfall is counted below as missing rows
        if _wait_rows(ck, len(log["valid_seqs"]), LAND_TIMEOUT_S, query):
            time.sleep(TRIGGER_S)  # a late duplicate would land by now
        progress = tr.progress_records(query)
    finally:
        job.writer_for, job.stream_pipeline = real_writer_for, real_pipeline
        if query is not None:
            job.stop_all(spark)
        if gen.poll() is None:
            gen.kill()
        gen.wait(timeout=30)
        ck.close()

    # -- correctness: every valid line exactly once, nothing else --------
    got = collections.Counter(s for r in ck.requests for s in r["seqs"])
    expected = set(log["valid_seqs"])
    missing = len(expected - got.keys())
    extra = sum(n for s, n in got.items() if s not in expected)
    dups = sum(n - 1 for s, n in got.items() if s in expected and n > 1)
    failed = missing + extra + dups + ck.http_errors

    # -- freshness of steady-phase lines, drain time of each burst -----
    def returned(t_rx: float) -> float:
        """When the writer call that sent a request returned."""
        k = bisect.bisect_left(returns, t_rx)
        return returns[k] if k < len(returns) else t_rx

    t_go, first = log["t_go"], log["first_seq"]
    starts = [b["first_seq"] for b in log["bursts"]]
    fresh = []
    last_rx = [0.0] * len(starts)
    for r in ck.requests:
        ret = returned(r["done"])
        for s in r["seqs"]:
            if first <= s < starts[0]:
                fresh.append(ret - (t_go + (s - first) / RATE))
            elif s >= starts[0]:
                b = bisect.bisect_right(starts, s) - 1
                last_rx[b] = max(last_rx[b], r["done"])
    drains = [rx - b["write"][1] for rx, b in zip(last_rx, log["bursts"])]

    end_to_end = {
        "latency_p50_s": (tr.quantile(fresh, 0.5), "s"),
        "latency_p90_s": (tr.quantile(fresh, 0.9), "s"),
        "batch_s": (tr.median(drains), "s"),
    }
    result = {"attempted": len(expected), "failed": failed, "end_to_end": end_to_end}
    if run.tracer is not None:
        result["per_layer"] = _per_layer(run, log, ck, progress, returns[n_warm:],
                                         batch_stats)
        result["per_layer"]["session.warmup_s"] = (warmup_s, "s")
        for k, v in end_to_end.items():
            result["per_layer"][f"traced.{k}"] = v
    return result


def _per_layer(run, log, ck, progress, returns, batch_stats) -> dict:
    """Layer metrics of the timed phase (steady appends and the burst)."""
    from perfbench import trace as tr

    for p in progress:  # each trigger becomes a span in the span file
        start = _epoch(p["timestamp"])
        run.tracer.spans.append({
            "run": run.tracer.run_id, "id": len(run.tracer.spans), "name": "stream.trigger",
            "parent": None, "start": start,
            "end": start + p["durationMs"].get("triggerExecution", 0) / 1000,
            "batch": p["batchId"], "rows": p.get("numInputRows", 0),
            "durationMs": p["durationMs"],
        })
    timed = [p for p in progress
             if p.get("numInputRows", 0) > 0 and _epoch(p["timestamp"]) >= run.timed_from]
    dur = lambda key: [p["durationMs"].get(key, 0) for p in timed]  # noqa: E731

    # backlog after each trigger: bytes written by then - summed endOffset
    written_at = [w[2] + w[3] for w in log["writes"]]
    backlog = []
    for p in timed:
        end = _epoch(p["timestamp"]) + p["durationMs"].get("triggerExecution", 0) / 1000
        k = bisect.bisect_right(written_at, end)
        size = log["writes"][k - 1][4] if k else 0
        size += sum(b["bytes"] for b in log["bursts"] if b["write"][1] <= end)
        consumed = sum(v[0] for v in tr.offset_dict(p["sources"][0]["endOffset"]).values())
        backlog.append(max(0, size - consumed))

    reqs = [r for r in ck.requests if r["done"] >= run.timed_from]
    rows = sum(len(r["seqs"]) for r in reqs) or 1
    return {
        "tailsource.latest_offset_ms": (tr.median(dur("latestOffset")), "ms"),
        "tailsource.backlog_bytes_max": (max(backlog, default=0), "bytes"),
        "tailsource.rows_per_trigger": (tr.median(p["numInputRows"] for p in timed), "count"),
        "pipeline.build_s": (sum(run.tracer.durations("pipeline.build")), "s"),
        "pipeline.rows_in": (sum(p["numInputRows"] for p in timed), "count"),
        "pipeline.rows_out": (rows, "count"),
        "stream.trigger_ms_p50": (tr.quantile(dur("triggerExecution"), 0.5), "ms"),
        "stream.trigger_ms_p99": (tr.quantile(dur("triggerExecution"), 0.99), "ms"),
        "stream.add_batch_ms_p50": (tr.median(dur("addBatch")), "ms"),
        "stream.query_planning_ms_p50": (tr.median(dur("queryPlanning")), "ms"),
        "stream.wal_commit_ms_p50": (tr.median(dur("walCommit")), "ms"),
        "stream.commit_offsets_ms_p50": (tr.median(dur("commitOffsets")), "ms"),
        "stream.triggers": (len(timed), "count"),
        "sink.write_s_p50": (tr.median(run.tracer.durations("sink.write")[-len(returns):]), "s"),
        "sink.jobs_per_batch": (tr.median(s["jobs"] for s in batch_stats), "count"),
        "sink.stages_per_batch": (tr.median(s["stages"] for s in batch_stats), "count"),
        "sink.shuffle_write_bytes": (sum(s["shuffle_write_bytes"] for s in batch_stats), "bytes"),
        "sink.ck_requests": (len(reqs), "count"),
        "sink.ck_rows_per_flush": (rows / max(1, len(reqs)), "count"),
        "sink.ck_wire_bytes_per_row": (sum(r["wire_bytes"] for r in reqs) / rows, "bytes"),
        "sink.ck_body_bytes_per_row": (sum(r["body_bytes"] for r in reqs) / rows, "bytes"),
        "sink.ck_flush_ms_p50": (1000 * tr.median(r["handle_s"] for r in reqs), "ms"),
        "sink.ck_token_replays": (ck.token_replays, "count"),
        "sink.ck_http_errors": (ck.http_errors, "count"),
        "loadgen.late_ms_p99": (1000 * tr.quantile([w[3] for w in log["writes"]], 0.99), "ms"),
    }


def _epoch(iso: str) -> float:
    import datetime as dt

    return dt.datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()
