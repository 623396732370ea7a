"""Seeded inputs for the benchmark: monolog log lines and the query tables.

Everything here is a pure function of the seed. The program under test
only ever sees the files this module writes.

Properties the engine's behaviour depends on, and how they are varied:

* levels are skewed (mostly INFO), loggers too;
* one hot date holds a large share of the rows, which is what
  `sink._date_ranged`'s range sampler has to balance;
* about 5% of lines are unparseable (half fail the regex, half carry an
  impossible timestamp), which exercises the dead-letter split;
* `context` is JSON (sometimes nested), `extra` is JSON too;
* a few messages are long (2-4 KB).

Run as a program, `loadgen.py tail ...` is the appender of the
`tail_follow` workload: one process that writes warm-up lines on
request, then appends at a fixed rate from a schedule that never waits
for the system under test, then writes bursts, each into the next
day's file (the daily rotation of the reference).
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import os
import random
import sys
import time

LEVELS = ("INFO", "DEBUG", "WARNING", "ERROR", "CRITICAL")
LEVEL_WEIGHTS = (70, 12, 10, 6, 2)
LOGGERS = ("app", "http", "db", "auth", "cache", "queue")
LOGGER_WEIGHTS = (40, 25, 15, 10, 6, 4)
VERBS = ("GET", "POST", "PUT", "DELETE")
PATHS = ("/api/items", "/api/users", "/login", "/health", "/api/orders", "/search")
WORDS = (
    "cache miss on shard while reading partition offset retry backoff"
    " commit replica leader follower snapshot compaction merge segment"
).split()

INVALID_SHARE = 0.05
LONG_SHARE = 0.002
HOT_DATE_SHARE = 0.4

# `events` rows of the query tables: the repo's bench scale (sf0.1).
N_EVENTS = 100_000

# The tail_follow schedule. A micro-batch costs about 1.1 s whatever its
# size (planning, one job, two offset-log commits), so a 1 s trigger
# would run batches back to back and let every slow batch delay the
# next. At 2 s the trigger keeps its schedule and the freshness spread is
# the batch's own.
DAY = dt.datetime(2024, 3, 1)  # the date of the first log file
RATE = 2500  # lines/s during the steady phase
TRIGGER_S = 2
BURST = 10_000  # lines per burst
BURSTS = 5


class LineMaker:
    """Renders monolog lines. `line(seq, ts)` returns (text, valid, level)
    where `valid` says whether the engine must accept the line."""

    def __init__(self, seed: int):
        self.rng = random.Random(seed)

    def line(self, seq: int, ts: dt.datetime) -> tuple[str, bool, str]:
        r = self.rng
        level = r.choices(LEVELS, LEVEL_WEIGHTS)[0]
        logger = r.choices(LOGGERS, LOGGER_WEIGHTS)[0]
        msg = f"req {seq} {r.choice(VERBS)} {r.choice(PATHS)} in {r.randint(1, 900)}ms"
        if r.random() < LONG_SHARE:
            msg += " " + " ".join(r.choices(WORDS, k=r.randint(250, 500)))
        ctx = {"seq": seq, "user": r.randint(1, 5000), "k": r.randint(0, 99)}
        if r.random() < 0.2:
            ctx["tags"] = r.sample(WORDS, 2)
            ctx["req"] = {"bytes": r.randint(10, 99999), "ok": r.random() < 0.9}
        context = json.dumps(ctx, separators=(",", ":"))
        extra = "[]" if r.random() < 0.7 else '{"pid":%d}' % r.randint(100, 999)
        stamp = ts.strftime("%Y-%m-%d %H:%M:%S")
        u = r.random()
        if u < INVALID_SHARE / 2:
            return f"!! truncated write {seq} {msg}", False, level
        if u < INVALID_SHARE:
            # matches the grammar but the datetime cannot be parsed
            stamp = stamp[:5] + "13-45" + stamp[10:]
            return (
                f"[{stamp}] {logger}.{level}: {msg} {context} {extra}",
                False,
                level,
            )
        return f"[{stamp}] {logger}.{level}: {msg} {context} {extra}", True, level


# ---------------------------------------------------------------------------
# Query tables: the schemas of the repo's test tables (log2ck_spark.io.TABLES)
# ---------------------------------------------------------------------------

EVENT_TYPES = ("view", "click", "purchase", "signup", "error")
EVENT_WEIGHTS = (45, 25, 12, 10, 8)


def write_tables(out_dir: str, seed: int) -> dict:
    """Write every table of log2ck_spark.io.TABLES as one parquet file.

    `events` is the one the log queries read: January 2024 (the window
    the registered queries filter on), skewed event types and a hot
    date. The other tables are small but well-formed, so the oracle can
    create a view over each. Returns the row count of each table."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    n_events = N_EVENTS
    os.makedirs(out_dir, exist_ok=True)
    counts: dict[str, int] = {}

    def put(name: str, cols: dict) -> None:
        table = pa.table(cols)
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows

    # events: 30 days, HOT_DATE_SHARE of the rows on one seeded day
    base = np.datetime64("2024-01-01T00:00:00", "us")
    day_us = 86_400 * 1_000_000
    hot_day = int(rng.integers(0, 30))
    day = np.where(
        rng.random(n_events) < HOT_DATE_SHARE, hot_day, rng.integers(0, 30, n_events)
    )
    ts = base + (day * day_us + rng.integers(0, day_us, n_events)).astype("timedelta64[us]")
    ts.sort()
    w = np.array(EVENT_WEIGHTS, dtype=float)
    etype = np.array(EVENT_TYPES)[rng.choice(len(EVENT_TYPES), n_events, p=w / w.sum())]
    put("events", {
        "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.zipf(1.6, n_events).clip(1, 2000).astype(np.int64) - 1),
        "event_type": pa.array(etype.tolist(), pa.string()),
        "value": pa.array(np.round(rng.exponential(60.0, n_events), 2)),
        "props": pa.array(['{"k": %d}' % k for k in rng.integers(0, 100, n_events)]),
    })

    vocab = WORDS + list(EVENT_TYPES) + ["spark", "table", "query", "stream", "a", "the"]
    n_docs = 500
    texts = []
    for i in range(n_docs):
        if i >= 50 and rng.random() < 0.1:  # exact and near duplicates
            src = texts[int(rng.integers(0, len(texts)))].split()
            if rng.random() < 0.5 and len(src) > 4:
                src[int(rng.integers(0, len(src)))] = str(rng.choice(vocab))
            texts.append(" ".join(src))
        else:
            texts.append(" ".join(rng.choice(vocab, int(rng.integers(8, 80)))))
    put("documents", {
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(["en", "de", "fr", "zh"], n_docs, p=[0.7, 0.1, 0.1, 0.1]).tolist()),
        "source": pa.array([f"src{int(s)}" for s in rng.integers(0, 20, n_docs)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })

    n_vec, dim = 500, 64
    centers = rng.normal(0, 1, (10, dim))
    label = rng.integers(0, 10, n_vec)
    vec = centers[label] + rng.normal(0, 0.5, (n_vec, dim))
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    put("embeddings", {
        "vec_id": pa.array(np.arange(n_vec, dtype=np.int64)),
        "embedding": pa.array(vec.astype(np.float32).tolist(), pa.list_(pa.float32())),
        "label": pa.array(label.astype(np.int32)),
    })

    n_cust, n_supp, n_part, n_ord = 150, 10, 200, 1500
    put("region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    put("nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION{i}" for i in range(25)],
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
    })
    put("customer", {
        "c_custkey": pa.array(np.arange(1, n_cust + 1, dtype=np.int64)),
        "c_name": [f"Customer#{i}" for i in range(1, n_cust + 1)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999, 9999, n_cust), 2)),
        "c_mktsegment": rng.choice(["BUILDING", "AUTOMOBILE", "MACHINERY"], n_cust).tolist(),
    })
    put("supplier", {
        "s_suppkey": pa.array(np.arange(1, n_supp + 1, dtype=np.int64)),
        "s_name": [f"Supplier#{i}" for i in range(1, n_supp + 1)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(np.round(rng.uniform(-999, 9999, n_supp), 2)),
    })
    put("part", {
        "p_partkey": pa.array(np.arange(1, n_part + 1, dtype=np.int64)),
        "p_name": [f"part {i}" for i in range(1, n_part + 1)],
        "p_brand": [f"Brand#{int(b)}" for b in rng.integers(11, 56, n_part)],
        "p_type": rng.choice(["STANDARD BRASS", "PROMO STEEL", "ECONOMY TIN"], n_part).tolist(),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(rng.uniform(900, 2000, n_part), 2)),
    })
    odate = np.datetime64("1995-01-01", "us") + (
        rng.integers(0, 1500, n_ord) * day_us
    ).astype("timedelta64[us]")
    put("orders", {
        "o_orderkey": pa.array(np.arange(1, n_ord + 1, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(1, n_cust + 1, n_ord).astype(np.int64)),
        "o_orderstatus": rng.choice(["O", "F", "P"], n_ord).tolist(),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 400000, n_ord), 2)),
        "o_orderdate": pa.array(odate, pa.timestamp("us")),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord).tolist(),
    })
    per_order = rng.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(1, n_ord + 1, dtype=np.int64), per_order)
    n_li = len(okey)
    lnum = np.concatenate([np.arange(1, k + 1) for k in per_order]).astype(np.int32)
    qty = rng.integers(1, 51, n_li).astype(float)
    put("lineitem", {
        "l_orderkey": pa.array(okey),
        "l_partkey": pa.array(rng.integers(1, n_part + 1, n_li).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(1, n_supp + 1, n_li).astype(np.int64)),
        "l_linenumber": pa.array(lnum),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2000, n_li), 2)),
        "l_discount": pa.array(np.round(rng.integers(0, 11, n_li) / 100, 2)),
        "l_tax": pa.array(np.round(rng.integers(0, 9, n_li) / 100, 2)),
        "l_returnflag": rng.choice(["R", "A", "N"], n_li).tolist(),
        "l_linestatus": rng.choice(["O", "F"], n_li).tolist(),
        "l_shipdate": pa.array(
            np.repeat(odate, per_order) + (rng.integers(1, 122, n_li) * day_us).astype("timedelta64[us]"),
            pa.timestamp("us"),
        ),
    })
    return counts


# ---------------------------------------------------------------------------
# The tail_follow appender (a separate process)
# ---------------------------------------------------------------------------


def _tail_main(argv: list[str]) -> None:
    """Protocol on stdin/stdout, one JSON object per line:

    * `{"cmd": "warm", "n": N}`: append N lines at once, reply with the
      number of valid lines so far;
    * `{"cmd": "go"}`: append at RATE lines/s for `--seconds`, then
      write BURSTS bursts of BURST lines, each into the next day's file
      (a daily rotation each), reply with the write log and exit.

    The steady phase ends 0.3 s before a processing-time trigger fires
    (those fire on multiples of the trigger interval on the wall clock).
    Each burst follows one trigger interval after the previous write, so
    its drain time holds no random wait for the next trigger and its
    micro-batch holds nothing else. Every steady line's due time is
    `t_go + i / rate`; a write records the due time of its first line,
    how late it ran and the file size after it."""
    ap = argparse.ArgumentParser(prog="loadgen.py tail")
    ap.add_argument("--dir", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    a = ap.parse_args(argv)

    maker = LineMaker(a.seed)
    seq = 0
    valid_seqs: list[int] = []

    def path(k: int) -> str:
        return os.path.join(a.dir, f"app-{(DAY + dt.timedelta(days=k)).date().isoformat()}.log")

    def render(n: int, midnight: dt.datetime) -> bytes:
        nonlocal seq
        out = []
        for _ in range(n):
            text, ok, _level = maker.line(seq, midnight + dt.timedelta(seconds=seq % 80_000))
            if ok:
                valid_seqs.append(seq)
            out.append(text)
            seq += 1
        return ("\n".join(out) + "\n").encode()

    def reply(obj: dict) -> None:
        sys.stdout.write(json.dumps(obj) + "\n")
        sys.stdout.flush()

    def sleep_until(t: float) -> None:
        while time.time() < t:
            time.sleep(min(0.01, max(0.0, t - time.time())))

    with open(path(0), "ab", buffering=0) as f:
        for raw in sys.stdin:
            cmd = json.loads(raw)
            if cmd["cmd"] == "warm":
                f.write(render(cmd["n"], DAY))
                reply({"valid": len(valid_seqs)})
                continue
            # steady phase: pre-render, then release lines as they fall due
            first = seq
            n_steady = RATE * a.seconds
            lines = render(n_steady, DAY).splitlines(keepends=True)
            bursts = [(seq, render(BURST, DAY + dt.timedelta(days=k)))
                      for k in range(1, BURSTS + 1)]
            t_end = (int((time.time() + 0.5 + a.seconds) / TRIGGER_S) + 1) * TRIGGER_S - 0.3
            t_go = t_end - a.seconds
            sleep_until(t_go)
            writes = []  # [first seq, n, due of first, lateness s, size after]
            i = 0
            size = f.tell()
            while i < n_steady:
                now = time.time()
                due_n = min(n_steady, int((now - t_go) * RATE) + 1)
                if due_n > i:
                    chunk = b"".join(lines[i:due_n])
                    f.write(chunk)
                    size += len(chunk)
                    due_first = t_go + i / RATE
                    writes.append([first + i, due_n - i, due_first, time.time() - due_first, size])
                    i = due_n
                else:
                    time.sleep(min(0.005, (i / RATE + t_go) - now + 1e-4))
            burst_log = []
            for k, (first_seq, body) in enumerate(bursts, start=1):
                sleep_until(t_end + k * TRIGGER_S)
                t0 = time.time()
                with open(path(k), "ab") as g:
                    g.write(body)
                burst_log.append({"first_seq": first_seq, "n": BURST,
                                  "write": [t0, time.time()], "bytes": len(body)})
            reply({
                "t_go": t_go,
                "first_seq": first,
                "n_steady": n_steady,
                "bursts": burst_log,
                "writes": writes,
                "valid_seqs": valid_seqs,
            })
            return


if __name__ == "__main__":
    if len(sys.argv) > 1 and sys.argv[1] == "tail":
        _tail_main(sys.argv[2:])
    else:
        sys.exit("usage: loadgen.py tail --dir D --seed N --seconds T")
