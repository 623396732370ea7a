"""log2ck_spark benchmark: one run of one workload.

    python3 perfbench/run.py --workload tail_follow --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. The last line of standard output is one
JSON object: `correct`, `attempted`, `failed` and `metrics`. With
`--trace 0` the metrics are the end-to-end ones, with `--trace 1` the
per-layer ones (see perfbench/README.md). `--overhead` runs the workload
twice, untraced and traced, and prints what tracing added to each
end-to-end metric.

Inputs come from perfbench/loadgen.py and depend only on `--seed`. All
files a run writes live under `.scratch/perfbench/` in the checkout.
"""

from __future__ import annotations

import time

T_PROCESS = time.time()

import argparse  # noqa: E402
import importlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("tail_follow", "log_queries")
END_TO_END = {
    "setup_s": "s",
    "latency_p50_s": "s",
    "latency_p90_s": "s",
    "batch_s": "s",
    "rss_mb": "MB",
}
# Per-layer metrics (--trace 1), by layer. A workload reports 0 for a
# layer it does not run (no tailsource or stream on log_queries, no
# queries on tail_follow).
PER_LAYER = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "tailsource.latest_offset_ms": "ms",
    "tailsource.backlog_bytes_max": "bytes",
    "tailsource.rows_per_trigger": "count",
    "pipeline.build_s": "s",
    "pipeline.rows_in": "count",
    "pipeline.rows_out": "count",
    "stream.trigger_ms_p50": "ms",
    "stream.trigger_ms_p99": "ms",
    "stream.add_batch_ms_p50": "ms",
    "stream.query_planning_ms_p50": "ms",
    "stream.wal_commit_ms_p50": "ms",
    "stream.commit_offsets_ms_p50": "ms",
    "stream.triggers": "count",
    "sink.write_s_p50": "s",
    "sink.jobs_per_batch": "count",
    "sink.stages_per_batch": "count",
    "sink.shuffle_write_bytes": "bytes",
    "sink.files_written": "count",
    "sink.bytes_per_row": "bytes",
    "sink.ck_requests": "count",
    "sink.ck_rows_per_flush": "count",
    "sink.ck_wire_bytes_per_row": "bytes",
    "sink.ck_body_bytes_per_row": "bytes",
    "sink.ck_flush_ms_p50": "ms",
    "sink.ck_token_replays": "count",
    "sink.ck_http_errors": "count",
    "queries.build_s": "s",
    "queries.analysis_ms": "ms",
    "queries.optimization_ms": "ms",
    "queries.planning_ms": "ms",
    "queries.exec_s": "s",
    "queries.jobs": "count",
    "queries.stages": "count",
    "queries.tasks": "count",
    "queries.shuffle_read_bytes": "bytes",
    "queries.shuffle_write_bytes": "bytes",
    "queries.spill_bytes": "bytes",
    "loadgen.late_ms_p99": "ms",
    "process.peak_rss_mb": "MB",
    "host.probe_ms": "ms",
    **{f"traced.{name}": unit for name, unit in END_TO_END.items() if name != "rss_mb"},
}


def per_layer_units() -> dict[str, str]:
    from perfbench.log_queries import MIX

    units = dict(PER_LAYER)
    for q in MIX:
        units.update({f"query.{q}.build_s": "s", f"query.{q}.exec_s": "s",
                      f"query.{q}.jobs": "count"})
    return units


class Machine(threading.Thread):
    """Samples, every second, the summed RSS of this process and its
    descendants (the Spark JVM and its Python workers, leaving out the
    subtrees of the pids in `exclude`: the load generator), and keeps the
    machine's speed probes (`probe`, `speed_factor`)."""

    PAGE_KB = os.sysconf("SC_PAGE_SIZE") // 1024
    PERIOD_S = 1.0
    # The probe's median duration on a quiet 4-vCPU cloud VM; a run's
    # times are scaled to a machine on which the probe takes this long.
    PROBE_REF_S = 0.010

    def __init__(self) -> None:
        super().__init__(daemon=True)
        self.exclude: set[int] = set()
        self.rss: list[tuple[float, int]] = []  # (time, KiB)
        self.probes: list[float] = []
        self._stop_evt = threading.Event()

    def probe(self) -> None:
        """Time the probe loop once. Call it only while nothing of the
        run's own is on the CPU."""
        self.probes.append(_probe())

    @property
    def probe_s(self) -> float:
        import statistics

        return statistics.median(self.probes) if self.probes else 0.0

    def speed_factor(self) -> float:
        """PROBE_REF_S over the median probe; 1 when nothing was probed."""
        return self.PROBE_REF_S / self.probe_s if self.probes else 1.0

    def sample_rss(self) -> None:
        total, todo = 0, [os.getpid()]
        while todo:
            pid = todo.pop()
            if pid in self.exclude:
                continue
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self.PAGE_KB
                for tid in os.listdir(f"/proc/{pid}/task"):
                    with open(f"/proc/{pid}/task/{tid}/children") as f:
                        todo.extend(int(c) for c in f.read().split())
            except (OSError, ValueError):
                continue  # exited while we looked
        self.rss.append((time.time(), total))

    def peak_mb(self) -> float:
        return max((kb for _, kb in self.rss), default=0) / 1024.0

    def median_mb(self, since: float) -> float:
        import statistics

        timed = [kb for t, kb in self.rss if t >= since]
        return statistics.median(timed) / 1024.0 if timed else 0.0

    def run(self) -> None:
        while not self._stop_evt.wait(self.PERIOD_S):
            self.sample_rss()

    def stop(self) -> None:
        self._stop_evt.set()
        self.join(timeout=5)


class Run:
    """What a workload gets: arguments, a private directory, the session,
    the tracer (None when untraced) and the clock that `setup_s` reads."""

    def __init__(self, args, machine: Machine) -> None:
        from perfbench.trace import Tracer

        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
        self.dir = os.path.join(ROOT, ".scratch", "perfbench", self.run_id)
        self.tracer = Tracer(self.run_id) if args.trace else None
        self.spark = None
        self.session_start_s = 0.0
        self.timed_from = 0.0
        self.machine = machine

    def span(self, name: str, **attrs):
        import contextlib

        return self.tracer.span(name, **attrs) if self.tracer else contextlib.nullcontext()

    def start_session(self):
        """session layer: session.get_spark + the query registry."""
        t0 = time.time()
        from log2ck_spark.queries import load_all
        from log2ck_spark.session import get_spark

        self.spark = get_spark(app_name=f"perfbench-{self.workload}")
        load_all()
        self.session_start_s = time.time() - t0
        return self.spark

    def begin_timing(self) -> None:
        self.timed_from = time.time()

    def close(self) -> None:
        """Stop Spark and wait for its JVM to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        self.spark.stop()
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=10)
        self.spark = None


def _probe() -> float:
    """Seconds one fixed single-threaded loop takes: the machine's speed
    at the moment, slowed by whatever the host takes from this guest
    (stolen vCPU time, a busy sibling hyperthread, a lower clock)."""
    t0 = time.perf_counter()
    x = 0
    for i in range(100_000):
        x = (x * 31 + i) % 1_000_003
    return time.perf_counter() - t0


def _environment() -> None:
    """Python workers import log2ck_spark (the tailf source, the sink's
    partition writers), so the checkout root goes on their PYTHONPATH.
    Spark's and Python's temporary files stay inside the checkout."""
    tmp = os.path.join(ROOT, ".scratch", "perfbench", "tmp")
    os.makedirs(tmp, exist_ok=True)
    path = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ["SPARK_GRAFT_CPUS"] = str(os.cpu_count() or 4)
    os.environ.setdefault("LOG2CK_DRIVER_MEM", "2g")
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    os.environ.setdefault(
        "PYSPARK_SUBMIT_ARGS",
        f"--driver-java-options -Djava.io.tmpdir={tmp} pyspark-shell",
    )
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def _overhead(args) -> dict:
    """Run untraced, then traced, with the same seed; report traced minus
    untraced for each end-to-end metric the traced run also measures."""
    out = {}
    for trace in (0, 1):
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(trace)]
        res = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
        if res.returncode != 0:
            raise RuntimeError(f"run failed: {res.stderr[-2000:]}")
        out[trace] = json.loads(res.stdout.strip().splitlines()[-1])["metrics"]
    return {
        name: {
            "untraced": out[0][name]["value"],
            "traced": out[1][f"traced.{name}"]["value"],
            "overhead": out[1][f"traced.{name}"]["value"] - out[0][name]["value"],
            "unit": unit,
        }
        for name, unit in END_TO_END.items()
        if f"traced.{name}" in out[1]
    }


def main(argv=None) -> int:
    machine = Machine()
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--overhead", action="store_true")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "log2ck_spark", "__init__.py")):
        print(f"perfbench: no log2ck_spark package under {ROOT}; run from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    if args.overhead:
        print(json.dumps(_overhead(args)))
        return 0
    _environment()
    workload = importlib.import_module(f"perfbench.{args.workload}")
    run = Run(args, machine)
    shutil.rmtree(run.dir, ignore_errors=True)
    os.makedirs(run.dir)
    run.machine.start()
    try:
        result = workload.run(run)
        # A workload that probes the machine (log_queries) reports its
        # set-up scaled like its other times; tail_follow's are wall times.
        factor = machine.speed_factor()
        setup_s = (run.timed_from - T_PROCESS) * factor
        print(f"perfbench: probe {1000 * machine.probe_s:.2f} ms, speed factor "
              f"{factor:.3f}, setup {run.timed_from - T_PROCESS:.2f} s wall", file=sys.stderr)
    finally:
        run.close()
        run.machine.stop()
        if run.tracer:
            run.tracer.dump(os.path.join(ROOT, ".scratch", "perfbench", f"{run.run_id}.spans.jsonl"))
        shutil.rmtree(run.dir, ignore_errors=True)

    if args.trace:
        units = per_layer_units()
        measured = result["per_layer"]
        measured["session.start_s"] = (run.session_start_s, "s")
        measured["traced.setup_s"] = (setup_s, "s")
        measured["process.peak_rss_mb"] = (run.machine.peak_mb(), "MB")
        measured["host.probe_ms"] = (1000 * machine.probe_s, "ms")
    else:
        units = END_TO_END
        measured = result["end_to_end"]
        measured["setup_s"] = (setup_s, "s")
        measured["rss_mb"] = (run.machine.median_mb(run.timed_from), "MB")
    for name, (_, unit) in measured.items():
        if units.get(name) != unit:
            raise ValueError(f"undeclared metric {name} [{unit}]")
    metrics = {name: {"value": float(measured.get(name, (0.0,))[0]), "unit": unit}
               for name, unit in units.items()}
    print(json.dumps({
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
