"""Spans, counters and Spark's own bookkeeping, read from outside the program.

A `Tracer` keeps spans (name, start, end, parent, run id) in memory and
writes them out once, at the end of the run. The helpers below read what
Spark already records, without touching `log2ck_spark`:

* jobs, stages and tasks through `statusTracker()`, under a job group;
* shuffle read/write, spill and input bytes through the status store;
* analysis, optimization and planning time from the query's tracker;
* per-trigger `durationMs` and source offsets from `recentProgress`.
"""

from __future__ import annotations

import contextlib
import json
import statistics
import threading
import time


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        stack = self._local.__dict__.setdefault("stack", [])
        rec = {
            "run": self.run_id,
            "id": None,
            "name": name,
            "parent": stack[-1]["id"] if stack else None,
            "start": time.time(),
            "end": None,
            **attrs,
        }
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name and s["end"]]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def quantile(xs, q: float) -> float:
    xs = sorted(xs)
    if not xs:
        return 0.0
    return xs[min(len(xs) - 1, int(q * len(xs)))]


def drain_listener_bus(spark) -> None:
    """Wait until Spark's listener bus has delivered every event, so the
    status store holds the stages that just finished."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(10_000)


def jobs_for_group(spark, group: str) -> list[int]:
    return sorted(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


def job_stats(spark, job_ids) -> dict:
    """Jobs, stages, tasks and byte counters of the given jobs. Skipped
    stages (reused shuffle output) count as stages but carry no tasks."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    out = {"jobs": 0, "stages": 0, "tasks": 0, "shuffle_read_bytes": 0,
           "shuffle_write_bytes": 0, "spill_bytes": 0, "input_bytes": 0}
    for jid in job_ids:
        info = tracker.getJobInfo(jid)
        if info is None:
            continue
        out["jobs"] += 1
        for sid in info.stageIds:
            out["stages"] += 1
            try:
                d = store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 - stage evicted or never ran
                continue
            if str(d.status()) == "SKIPPED":
                continue
            out["tasks"] += d.numTasks()
            out["shuffle_read_bytes"] += d.shuffleReadBytes()
            out["shuffle_write_bytes"] += d.shuffleWriteBytes()
            out["spill_bytes"] += d.memoryBytesSpilled() + d.diskBytesSpilled()
            out["input_bytes"] += d.inputBytes()
    return out


def plan_phases_ms(df) -> dict:
    """Force the physical plan, then read Catalyst's phase times."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for k in ("analysis", "optimization", "planning"):
        p = phases.get(k)
        out[k] = float(p.get().durationMs()) if p.isDefined() else 0.0
    return out


def offset_dict(offset) -> dict:
    """A source offset from a progress record. PySpark hands it out as a
    dict, as JSON text, or as the text of a Python dict, by version."""
    if isinstance(offset, dict):
        return offset
    try:
        return json.loads(offset)
    except ValueError:
        import ast

        return ast.literal_eval(offset)


def progress_records(query) -> list[dict]:
    """`recentProgress` as plain dicts, whatever PySpark version hands out."""
    out = []
    for p in query.recentProgress:
        if isinstance(p, dict):
            out.append(p)
        elif hasattr(p, "json"):
            out.append(json.loads(p.json))
        else:
            out.append(json.loads(str(p)))
    return out
