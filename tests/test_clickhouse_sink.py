"""ClickHouse sink contract (A10): the shared batching loop, the
HTTP writer against a live local endpoint standing in for ClickHouse's
HTTP interface, and the option/partition-column rules both ClickHouse
writers share (reference Worker.php:71-80,123: buffer, one insert call
per batch, connection reused across batches)."""

from __future__ import annotations

import os

import pytest

from log2ck_spark.config import SinkConfig
from log2ck_spark.sink import CK_INSERT_BATCH, _flush_in_batches


def _sizes(items, **kw) -> "tuple[int, list[int]]":
    flushed: list[int] = []
    n = _flush_in_batches(items, lambda buf: flushed.append(len(buf)), **kw)
    return n, flushed


def test_flush_in_batches_flushes_at_batch_size():
    n, flushed = _sizes(iter(range(25_000)), batch_size=CK_INSERT_BATCH)
    assert n == 25_000
    assert flushed == [CK_INSERT_BATCH, CK_INSERT_BATCH, 5_000]


def test_flush_in_batches_small_and_empty():
    assert _sizes(iter([1, 2]), batch_size=CK_INSERT_BATCH) == (2, [2])
    assert _sizes(iter([]), batch_size=CK_INSERT_BATCH) == (0, [])


def test_flush_in_batches_exact_multiple_no_trailing_flush():
    assert _sizes(iter(range(200)), batch_size=100) == (200, [100, 100])


def test_writer_for_dispatches_on_kind():
    from log2ck_spark.sink import foreach_batch_writer, writer_for

    pq = writer_for(SinkConfig(path="/x", kind="parquet"))
    assert callable(pq) and pq.__qualname__ == (
        foreach_batch_writer(SinkConfig(path="/x")).__qualname__
    )
    # the clickhouse-connect and delta backends are gone: their kinds
    # are unknown at config time, like any other typo
    for kind in ("clickhouse", "delta", "kafka"):
        with pytest.raises(ValueError, match="unknown sink kind"):
            writer_for(SinkConfig(path="/x", kind=kind, options={"table": "t"}))


def test_memory_sink_collects_rows(spark):
    from log2ck_spark.sink import memory_rows, writer_for
    from log2ck_spark.sink import _MEMORY_SINKS

    _MEMORY_SINKS.pop("t1", None)
    w = writer_for(SinkConfig(kind="memory", options={"name": "t1"}))
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, s string")
    w(df, 0)
    w(df.filter("id = 1"), 1)
    assert [(r.id, r.s) for r in memory_rows("t1")] == [(1, "a"), (2, "b"), (1, "a")]


def test_write_batch_spreads_hot_date_over_writers(spark, tmp_path):
    """One hot date must land in MULTIPLE files (bucketed writers), not
    serialize onto a single task's single file."""
    import os

    from log2ck_spark.sink import write_batch

    df = spark.createDataFrame(
        [("2024-01-01", i, f"2024-01-01 00:{i % 60:02d}:{i % 60:02d}") for i in range(4000)],
        "log_date string, v int, created_at string",
    ).repartition(16)
    sink = SinkConfig(path=str(tmp_path / "t"))
    # At fixture size AQE rightly coalesces everything to one writer
    # (no small-file explosion for cold dates). Simulate a HOT date by
    # shrinking the advisory partition size so the buckets exceed it —
    # the production condition under which the spread must kick in.
    confs = {
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "1KB",
        "spark.sql.adaptive.coalescePartitions.minPartitionSize": "1KB",
    }
    saved = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        write_batch(df, sink)
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
    part = os.path.join(str(tmp_path / "t"), "log_date=2024-01-01")
    n_files = sum(1 for f in os.listdir(part) if f.endswith(".parquet"))
    # spread over multiple range slices, bounded by shuffle.partitions
    n_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert 1 < n_files <= n_shuffle, n_files
    assert spark.read.parquet(str(tmp_path / "t")).count() == 4000


def test_write_batch_multi_date_corpus_stays_near_one_file_per_date(
    spark, tmp_path
):
    """The r9 regression this layout fixes: hash-bucketing interleaved
    every date across every task, writing tasks x dates files (960 for
    a 30-date/92k-row corpus at sf0.1). Range partitioning keeps each
    task date-contiguous, so a many-date corpus lands near one file
    per date — the difference between a queryable table and a
    small-files explosion at 100 TB."""
    import glob as _glob

    from log2ck_spark.sink import write_batch

    rows = [
        (f"2024-01-{1 + (i % 30):02d}", i, f"2024-01-01 00:{i % 60:02d}:00")
        for i in range(9000)
    ]
    df = spark.createDataFrame(
        rows, "log_date string, v int, created_at string"
    ).repartition(32)
    sink = SinkConfig(path=str(tmp_path / "t"))
    write_batch(df, sink)
    files = _glob.glob(str(tmp_path / "t" / "*" / "*.parquet"))
    # 30 dates: near one file per date, never the tasks-x-dates blowup
    assert len(files) <= 2 * 30, len(files)
    assert spark.read.parquet(str(tmp_path / "t")).count() == 9000


def test_idempotent_batch_writer_replay_does_not_duplicate(spark, tmp_path):
    """Simulate a mid-batch crash replay: running the same batch_id
    twice must leave exactly one copy (overwrite), while the plain
    append mode duplicates — the documented at-least-once difference."""
    from log2ck_spark.sink import foreach_batch_writer

    df = spark.createDataFrame(
        [("2024-01-01", 1), ("2024-01-02", 2)], "log_date string, v int"
    )

    idem = foreach_batch_writer(
        SinkConfig(path=str(tmp_path / "idem"), options={"idempotent": True})
    )
    idem(df, 7)
    idem(df, 7)  # replay of the same micro-batch
    idem(df, 8)
    got = spark.read.parquet(str(tmp_path / "idem"))
    assert got.count() == 4  # batch 7 once + batch 8 once
    assert {r.batch_id for r in got.select("batch_id").distinct().collect()} == {7, 8}

    plain = foreach_batch_writer(SinkConfig(path=str(tmp_path / "plain")))
    plain(df, 7)
    plain(df, 7)
    assert spark.read.parquet(str(tmp_path / "plain")).count() == 4  # duplicated


def test_layout_mismatch_fails_fast(spark, tmp_path):
    """Toggling `idempotent` against an existing table would silently
    mix flat-append files with batch_id=N subdirs; the first write
    must refuse instead (fresh empty/missing paths are fine)."""
    import pytest

    from log2ck_spark.sink import foreach_batch_writer

    df = spark.createDataFrame(
        [("2024-01-01", 1)], "log_date string, v int"
    )

    # Seed an idempotent table, then try to append flat into it.
    p = str(tmp_path / "a")
    foreach_batch_writer(SinkConfig(path=p, options={"idempotent": True}))(df, 0)
    with pytest.raises(ValueError, match="idempotent"):
        foreach_batch_writer(SinkConfig(path=p))(df, 1)

    # Seed a flat table, then try idempotent mode on top of it.
    q = str(tmp_path / "b")
    foreach_batch_writer(SinkConfig(path=q))(df, 0)
    with pytest.raises(ValueError, match="idempotent"):
        foreach_batch_writer(
            SinkConfig(path=q, options={"idempotent": True})
        )(df, 1)

    # Same mode twice on the same path remains fine.
    foreach_batch_writer(SinkConfig(path=q))(df, 1)
    assert spark.read.parquet(q).count() == 2


def test_missing_mandatory_option_raises_descriptive_valueerror():
    """writer_for's contract is fail-loudly-at-CONFIG-time with a
    descriptive ValueError — a missing 'table' must not surface as a
    bare KeyError('table'). Both ClickHouse writers run the same
    validator, before any connection is attempted."""
    from log2ck_spark.sink import writer_for

    for kind, endpoint in (("clickhouse_http", "url"), ("clickhouse_native", "host")):
        def _writer(**opts):
            return writer_for(SinkConfig(path="", kind=kind, options=opts))

        with pytest.raises(ValueError, match=f"{kind} sink requires a 'table'"):
            _writer(**{endpoint: "h"})
        with pytest.raises(ValueError, match=f"{kind} sink requires a '{endpoint}'"):
            _writer(table="t")
        with pytest.raises(ValueError, match=f"{kind} sink: dedup_token="):
            _writer(**{endpoint: "h", "table": "t", "dedup_token": "yes"})


class _RecordingCKServer:
    """Minimal live HTTP endpoint standing in for ClickHouse's public
    HTTP interface: records every (query-string, body) POST and
    answers 200 — so the REAL wire path (URL encoding, JSONEachRow
    framing, per-batch flushes, executor-side connections) is
    exercised end-to-end, not mocked at the client-API layer."""

    def __init__(
        self,
        describe_tsv: "str | None" = None,
        fail_first: int = 0,
        fail_status: int = 503,
    ):
        import gzip
        import http.server
        import threading
        from urllib.parse import parse_qs, urlparse

        server = self
        self.describe_tsv = describe_tsv
        self.fail_remaining = fail_first
        self.fail_status = fail_status
        self.post_attempts = 0

        class H(http.server.BaseHTTPRequestHandler):
            def do_POST(self):  # noqa: N802
                ln = int(self.headers.get("Content-Length", 0))
                body = self.rfile.read(ln)
                server.post_attempts += 1
                server.attempt_paths.append(self.path)
                if server.fail_remaining > 0:
                    # transient-failure injection: consume the body
                    # (done above) and answer the configured error
                    server.fail_remaining -= 1
                    self.send_response(server.fail_status)
                    self.end_headers()
                    return
                # Mirror ClickHouse's HTTP interface: a gzip
                # Content-Encoding request body is decompressed
                # server-side, unconditionally. Record BOTH the wire
                # size (compression evidence) and the decoded body
                # (so value assertions see what CK would parse).
                enc = self.headers.get("Content-Encoding")
                server.wire.append(
                    (self.path, len(body), enc, dict(self.headers))
                )
                if enc == "gzip":
                    body = gzip.decompress(body)
                server.requests.append((self.path, body))
                self.send_response(200)
                self.end_headers()
                self.wfile.write(b"")

            def do_GET(self):  # noqa: N802
                q = parse_qs(urlparse(self.path).query).get(
                    "query", [""]
                )[0]
                server.gets.append(self.path)
                if q.startswith("DESCRIBE TABLE") and server.describe_tsv:
                    payload = server.describe_tsv.encode()
                    self.send_response(200)
                    self.send_header("Content-Length", str(len(payload)))
                    self.end_headers()
                    self.wfile.write(payload)
                else:
                    self.send_response(404)
                    self.end_headers()

            def log_message(self, *a):  # silence
                pass

        self.requests: list[tuple[str, bytes]] = []
        self.wire: list[tuple[str, int, "str | None", dict]] = []
        self.gets: list[str] = []
        self.attempt_paths: list[str] = []  # every POST, incl. failed
        self.httpd = http.server.ThreadingHTTPServer(("127.0.0.1", 0), H)
        self.url = f"http://127.0.0.1:{self.httpd.server_port}"
        self.thread = threading.Thread(
            target=self.httpd.serve_forever, daemon=True
        )
        self.thread.start()

    def rows(self):
        import json

        out = []
        for _, body in self.requests:
            out.extend(
                json.loads(line)
                for line in body.decode("utf-8").splitlines()
                if line
            )
        return out

    def close(self):
        self.httpd.shutdown()
        self.httpd.server_close()


def test_http_insert_batching_and_wire_format():
    """http_insert_in_batches against a LIVE local endpoint: 8 rows at
    batch_size=3 -> exactly 3 POSTs (3/3/2 lines), the query string is
    the INSERT, and the JSONEachRow bodies round-trip the values."""
    from urllib.parse import parse_qs, urlparse

    from log2ck_spark.sink import http_insert_in_batches

    srv = _RecordingCKServer()
    try:
        rows = [{"k": i, "s": f"v{i}"} for i in range(8)]
        n = http_insert_in_batches(srv.url, "logs", rows, batch_size=3)
        assert n == 8
        assert len(srv.requests) == 3
        assert all(
            parse_qs(urlparse(p).query)["query"]
            == ["INSERT INTO logs FORMAT JSONEachRow"]
            for p, _ in srv.requests
        )
        sizes = [
            len(b.decode().strip().splitlines()) for _, b in srv.requests
        ]
        assert sizes == [3, 3, 2]
        assert sorted(r["k"] for r in srv.rows()) == list(range(8))
    finally:
        srv.close()


def test_http_insert_raises_on_server_error():
    """A non-200 must raise (failing the Spark task -> engine retry),
    never silently drop a batch."""
    import http.server
    import threading

    import pytest

    from log2ck_spark.sink import http_insert_in_batches

    class H(http.server.BaseHTTPRequestHandler):
        def do_POST(self):  # noqa: N802
            self.rfile.read(int(self.headers.get("Content-Length", 0)))
            self.send_response(500)
            self.end_headers()

        def log_message(self, *a):
            pass

    httpd = http.server.ThreadingHTTPServer(("127.0.0.1", 0), H)
    t = threading.Thread(target=httpd.serve_forever, daemon=True)
    t.start()
    try:
        with pytest.raises(Exception):
            http_insert_in_batches(
                f"http://127.0.0.1:{httpd.server_port}", "logs", [{"k": 1}]
            )
    finally:
        httpd.shutdown()
        httpd.server_close()


def test_clickhouse_http_sink_end_to_end(spark):
    """writer_for(kind='clickhouse_http') drives a real batch DataFrame
    through executor-side foreachPartition POSTs into the live local
    endpoint; every row (timestamps included) arrives exactly once in
    ClickHouse-accepted JSONEachRow form."""
    import datetime as dt

    from log2ck_spark.sink import writer_for

    srv = _RecordingCKServer()
    try:
        df = spark.createDataFrame(
            [
                (1, "a", dt.datetime(2024, 1, 1, 10, 0, 0)),
                (2, "b", dt.datetime(2024, 1, 2, 11, 30, 5)),
                (3, "c", dt.datetime(2024, 1, 3, 23, 59, 59)),
            ],
            "event_id long, msg string, created_at timestamp",
        ).repartition(2)
        writer = writer_for(
            SinkConfig(
                kind="clickhouse_http",
                options={"url": srv.url, "table": "logs", "batch_size": 2},
            )
        )
        writer(df, 0)
        got = srv.rows()
        assert len(got) == 3
        assert {r["event_id"] for r in got} == {1, 2, 3}
        by_id = {r["event_id"]: r for r in got}
        assert by_id[2]["created_at"] == "2024-01-02 11:30:05"
        assert by_id[1]["msg"] == "a"
    finally:
        srv.close()


def test_tail_to_clickhouse_http_stream_end_to_end(spark, tmp_path):
    """The reference's full shape, live: tail a monolog file, regex-
    parse, micro-batch, and ship batches to ClickHouse over HTTP —
    here the recording endpoint. Proves the streaming job's kind
    dispatch reaches the HTTP writer and parsed rows arrive intact."""
    from log2ck_spark.config import EngineConfig, SinkConfig, TailSpec
    from log2ck_spark.streaming import run_ingest_stream, stop_all

    srv = _RecordingCKServer()
    try:
        logs = tmp_path / "logs"
        logs.mkdir()
        (logs / "app.log").write_text(
            "[2024-01-01 10:00:00] app.INFO: hello {} []\n"
            "[2024-01-01 10:00:01] app.ERROR: boom {} []\n"
        )
        config = EngineConfig(
            tails=[TailSpec(name="ck", path=str(logs / "*.log"))],
            sink=SinkConfig(
                kind="clickhouse_http",
                options={"url": srv.url, "table": "logs"},
            ),
            checkpoint_root=str(tmp_path / "ckpt"),
            trigger_seconds=1,
        )
        run_ingest_stream(spark, config, config.tails[0])

        import time as _t

        deadline = _t.time() + 60
        while _t.time() < deadline and len(srv.rows()) < 2:
            _t.sleep(0.5)
        got = srv.rows()
        assert len(got) == 2, got
        levels = {r.get("level") for r in got}
        assert levels == {"INFO", "ERROR"}, got
        messages = {r.get("message") for r in got}
        assert {"hello", "boom"} <= messages or any(
            "hello" in str(r) for r in got
        ), got
    finally:
        stop_all(spark)
        srv.close()


def test_http_insert_binary_nan_and_auth_options():
    """Wire-format edge cases: binary values must arrive base64 (JSON
    can't carry raw bytes — a latin-1/UTF-8 round trip corrupts every
    byte >= 0x80), non-finite floats become null (bare NaN is invalid
    JSON), and user/password/database options reach the request as
    CK's public auth headers / query params instead of being dropped."""
    import base64
    import math
    from urllib.parse import parse_qs, urlparse

    from log2ck_spark.sink import http_insert_in_batches

    srv = _RecordingCKServer()
    # capture headers too
    import http.server

    orig_handler = srv.httpd.RequestHandlerClass
    headers_seen = []

    class H2(orig_handler):
        def do_POST(self):  # noqa: N802
            headers_seen.append(dict(self.headers))
            super().do_POST()

    srv.httpd.RequestHandlerClass = H2
    try:
        payload = bytes(range(256))
        rows = [
            {"k": 1, "blob": payload, "x": float("nan")},
            {"k": 2, "blob": b"", "x": float("inf")},
        ]
        n = http_insert_in_batches(
            srv.url,
            "logs",
            rows,
            user="ingest",
            password="s3cret",
            params={"database": "mydb"},
        )
        assert n == 2
        got = {r["k"]: r for r in srv.rows()}
        assert base64.b64decode(got[1]["blob"]) == payload  # byte-exact
        assert got[1]["x"] is None and got[2]["x"] is None
        assert headers_seen[0].get("X-Clickhouse-User") == "ingest"
        assert headers_seen[0].get("X-Clickhouse-Key") == "s3cret"
        qs = parse_qs(urlparse(srv.requests[0][0]).query)
        assert qs["database"] == ["mydb"]
        assert "INSERT INTO logs" in qs["query"][0]
        assert not math.isnan(0)  # keep math import honest
    finally:
        srv.close()


def test_json_each_row_nested_struct_and_decimal():
    """Two serializer edge types the executor actually hands us:
    nested StructType values arrive as Row — a *tuple subclass*, so an
    unordered isinstance chain would emit a field-nameless JSON array
    (wrong for CK JSON/named-Tuple object input) — and decimal.Decimal
    (Spark DecimalType) is not JSON-serializable natively and must
    emit as a lossless quoted numeric, not TypeError the whole batch."""
    import decimal
    import json

    from pyspark.sql import Row

    from log2ck_spark.sink import rows_to_json_each_row

    rows = [
        Row(
            k=1,
            geo=Row(lat=decimal.Decimal("48.85830"), city="paris"),
            amount=decimal.Decimal("19.99"),
            tags=[Row(n=1), Row(n=2)],
        )
    ]
    (line,) = rows_to_json_each_row(rows)
    got = json.loads(line.decode("utf-8"))
    assert got["geo"] == {"lat": "48.85830", "city": "paris"}  # names kept
    assert got["amount"] == "19.99"  # lossless, not float-rounded
    assert got["tags"] == [{"n": 1}, {"n": 2}]  # Rows inside arrays too


def test_gzip_compression_is_default_and_round_trips():
    """Transport compression (r10 verdict item 2 — the reference's
    native-TCP client compresses for free; DEPLOY.md's acknowledged
    HTTP delta). Default compression='gzip': the LIVE wire body
    carries Content-Encoding: gzip, is materially smaller than the
    JSONEachRow text, is byte-DETERMINISTIC (mtime=0 — retries of the
    same batch resend identical bytes), and the server-decoded lines
    round-trip every value."""
    import gzip

    from log2ck_spark.sink import http_insert_in_batches

    srv = _RecordingCKServer()
    try:
        rows = [
            {"k": i, "msg": f"user {i % 50} did a thing at step {i}"}
            for i in range(500)
        ]
        n = http_insert_in_batches(srv.url, "t", rows, batch_size=500)
        assert n == 500
        (path, wire_len, enc, headers), = srv.wire
        assert enc == "gzip"
        (path2, body), = srv.requests  # decoded by the server shim
        assert wire_len < len(body) / 3  # compression actually bit
        got = [
            __import__("json").loads(ln)
            for ln in body.decode().splitlines()
        ]
        assert got == rows
        # determinism: encoding the same payload again is bit-identical
        assert gzip.compress(body, compresslevel=3, mtime=0) == gzip.compress(
            body, compresslevel=3, mtime=0
        )
    finally:
        srv.close()


def test_compression_none_restores_plain_wire_and_bad_value_raises():
    from log2ck_spark.sink import http_insert_in_batches

    srv = _RecordingCKServer()
    try:
        rows = [{"k": 1}]
        http_insert_in_batches(
            srv.url, "t", rows, batch_size=10, compression=None
        )
        (_p, _ln, enc, _h), = srv.wire
        assert enc is None
        assert srv.requests[0][1] == b'{"k": 1}\n'
        import pytest as _pytest

        with _pytest.raises(ValueError, match="compression"):
            http_insert_in_batches(
                srv.url, "t", rows, compression="zstd"
            )
    finally:
        srv.close()


def test_http_sink_compression_options_validated_at_config_time():
    from log2ck_spark.config import SinkConfig
    from log2ck_spark.sink import writer_for

    import pytest as _pytest

    with _pytest.raises(ValueError, match="unknown compression"):
        writer_for(
            SinkConfig(
                kind="clickhouse_http",
                options={"url": "http://x", "table": "t",
                         "compression": "lz4"},
            )
        )
    # 'none' and 'gzip' both construct
    for c in ("none", "gzip"):
        writer_for(
            SinkConfig(
                kind="clickhouse_http",
                options={"url": "http://x", "table": "t",
                         "compression": c},
            )
        )


def test_quote_ident_hostile_names():
    """Column names reach the INSERT statement text; reserved words,
    spaces, unicode, embedded backticks/backslashes (all reachable via
    Spark schemas or DESCRIBE output) must be quoted, not interpolated
    bare (ADVICE r10)."""
    from log2ck_spark.sink import _quote_ident

    assert _quote_ident("order") == "`order`"
    assert _quote_ident("two words") == "`two words`"
    assert _quote_ident("naïve") == "`naïve`"
    assert _quote_ident("a`b") == "`a\\`b`"
    assert _quote_ident("a\\b") == "`a\\\\b`"


def test_gzip_stream_sink_end_to_end(spark, tmp_path):
    """The full reference dataflow with the compressed wire: tail →
    parse → micro-batch → gzip JSONEachRow POST. Rows recovered from
    the decompressed bodies match the parsed lines — proving the
    default compression composes with the streaming writer, not just
    the bare batcher."""
    from log2ck_spark.config import EngineConfig, SinkConfig, TailSpec
    from log2ck_spark.streaming import run_ingest_stream, stop_all

    srv = _RecordingCKServer()
    try:
        logs = tmp_path / "logs"
        logs.mkdir()
        (logs / "app.log").write_text(
            "[2024-01-01 10:00:00] app.INFO: zipped hello {} []\n"
        )
        config = EngineConfig(
            tails=[TailSpec(name="gz", path=str(logs / "*.log"))],
            sink=SinkConfig(
                kind="clickhouse_http",
                options={"url": srv.url, "table": "logs"},
            ),
            checkpoint_root=str(tmp_path / "ckpt"),
            trigger_seconds=1,
        )
        run_ingest_stream(spark, config, config.tails[0])
        import time as _t

        deadline = _t.time() + 60
        while _t.time() < deadline and not srv.requests:
            _t.sleep(0.5)
        assert srv.requests, "no insert arrived"
        assert all(enc == "gzip" for _p, _l, enc, _h in srv.wire)
        rows = srv.rows()
        assert any(r.get("message") == "zipped hello" for r in rows), rows
    finally:
        stop_all(spark)
        srv.close()


def test_byte_bounded_flush_triggers_before_row_count():
    """max_body_bytes: batch_size counts ROWS; a jumbo-row stream must
    flush on BYTES before the body grows toward CK's HTTP limit (and
    executor memory). 10 rows of ~1 KB with a 2.5 KB bound → multiple
    small POSTs despite batch_size=10_000, and every row arrives."""
    from log2ck_spark.sink import http_insert_in_batches

    srv = _RecordingCKServer()
    try:
        rows = [{"k": i, "pad": "x" * 1000} for i in range(10)]
        n = http_insert_in_batches(
            srv.url, "t", rows, batch_size=10_000,
            max_body_bytes=2500, compression=None,
        )
        assert n == 10
        assert len(srv.requests) >= 4  # ~2-3 rows per flush, not 1 POST
        got = [
            __import__("json").loads(ln)
            for _p, b in srv.requests
            for ln in b.decode().splitlines()
        ]
        assert got == rows
        # no request exceeded the bound by more than one row's slack
        assert all(ln <= 2500 + 1100 for _p, ln, _e, _h in srv.wire)
    finally:
        srv.close()


def test_transient_5xx_retries_in_place_and_succeeds():
    """A 503 (async-insert queue full / restarting replica) must be
    retried in place with backoff, not fail the task: two injected
    failures, retries=2 → exactly 3 attempts, one recorded insert,
    and the replayed bodies are byte-identical (deterministic gzip)."""
    from log2ck_spark.sink import http_insert_in_batches

    srv = _RecordingCKServer(fail_first=2)
    try:
        rows = [{"k": 1}]
        n = http_insert_in_batches(
            srv.url, "t", rows, retries=2, retry_backoff_s=0.0
        )
        assert n == 1
        assert srv.post_attempts == 3
        assert len(srv.requests) == 1  # only the success was recorded
        assert srv.rows() == rows
        # all three wire bodies identical: same length every attempt
        sizes = {ln for _p, ln, _e, _h in srv.wire}
        assert len(sizes) == 1
    finally:
        srv.close()


def test_retries_exhausted_raises_and_4xx_is_not_retried():
    import urllib.error

    from log2ck_spark.sink import http_insert_in_batches

    # exhausted: 3 failures > retries=1 → raises after 2 attempts
    srv = _RecordingCKServer(fail_first=3)
    try:
        with pytest.raises(urllib.error.HTTPError):
            http_insert_in_batches(
                srv.url, "t", [{"k": 1}], retries=1, retry_backoff_s=0.0
            )
        assert srv.post_attempts == 2
    finally:
        srv.close()

    # a 400 (malformed INSERT) does not heal by waiting: one attempt
    srv2 = _RecordingCKServer(fail_first=1, fail_status=400)
    try:
        with pytest.raises(urllib.error.HTTPError):
            http_insert_in_batches(
                srv2.url, "t", [{"k": 1}], retries=5, retry_backoff_s=0.0
            )
        assert srv2.post_attempts == 1
    finally:
        srv2.close()


def test_dedup_token_same_on_retry_distinct_per_batch():
    """r12 (VERDICT item 2): every flush carries ClickHouse's public
    insert_deduplication_token derived from the body content, so (a) a
    transient-failure retry re-sends the SAME token (the server drops
    the replayed block → idempotent inserts on plain MergeTree), and
    (b) different batches carry DIFFERENT tokens (no false dedup)."""
    from urllib.parse import parse_qs, urlparse

    from log2ck_spark.sink import http_insert_in_batches

    srv = _RecordingCKServer(fail_first=1)
    try:
        rows = [{"k": 1}, {"k": 2}, {"k": 3}]
        n = http_insert_in_batches(
            srv.url, "t", rows, batch_size=2, retries=2,
            retry_backoff_s=0.0,
        )
        assert n == 3
        # batch1 fails once then succeeds, batch2 succeeds = 3 attempts
        assert srv.post_attempts == 3

        def token(path):
            q = parse_qs(urlparse(path).query)
            (tok,) = q["insert_deduplication_token"]
            return tok

        toks = [token(p) for p in srv.attempt_paths]
        assert toks[0] == toks[1]  # the retried flush: SAME token
        assert toks[2] != toks[0]  # the second batch: a new token
        assert all(len(t) == 64 for t in toks)  # sha256 hex
    finally:
        srv.close()


def test_dedup_token_respects_caller_and_off_switch():
    from urllib.parse import parse_qs, urlparse

    from log2ck_spark.sink import http_insert_in_batches

    # caller-supplied token wins — no auto-derive
    srv = _RecordingCKServer()
    try:
        http_insert_in_batches(
            srv.url, "t", [{"k": 1}],
            params={"insert_deduplication_token": "mine"},
        )
        q = parse_qs(urlparse(srv.attempt_paths[0]).query)
        assert q["insert_deduplication_token"] == ["mine"]
    finally:
        srv.close()

    # dedup_token=False restores the bare query string
    srv2 = _RecordingCKServer()
    try:
        http_insert_in_batches(srv2.url, "t", [{"k": 1}], dedup_token=False)
        q2 = parse_qs(urlparse(srv2.attempt_paths[0]).query)
        assert "insert_deduplication_token" not in q2
    finally:
        srv2.close()


def test_dedup_token_identical_across_writer_level_replay(spark):
    """The Spark-level replay story: re-running writer(df, 0) — what a
    stream restart or task retry does — produces byte-identical
    bodies AND identical tokens, so the replayed POST is absorbable
    server-side. RowBinary and gzip both participate (token is over
    the pre-compression bytes)."""
    import datetime as dt
    from urllib.parse import parse_qs, urlparse

    from log2ck_spark.sink import writer_for

    describe = (
        "created_at\tDateTime\t\t\t\t\t\n"
        "message\tString\t\t\t\t\t\n"
    )
    srv = _RecordingCKServer(describe_tsv=describe)
    try:
        df = spark.createDataFrame(
            [(dt.datetime(2024, 1, 1, 10, 0, 0), "m")],
            "created_at timestamp, message string",
        ).coalesce(1)
        writer = writer_for(
            SinkConfig(
                kind="clickhouse_http",
                options={
                    "url": srv.url, "table": "logs",
                    "format": "row_binary",
                },
            )
        )
        writer(df, 0)
        writer(df, 0)  # the replay
        assert len(srv.requests) == 2
        (p1, b1), (p2, b2) = srv.requests
        assert b1 == b2

        def token(path):
            return parse_qs(urlparse(path).query)[
                "insert_deduplication_token"
            ][0]

        assert token(p1) == token(p2)
    finally:
        srv.close()


@pytest.mark.skipif(
    not os.environ.get("LOG2CK_CK_HTTP_URL"),
    reason="set LOG2CK_CK_HTTP_URL to a live ClickHouse HTTP endpoint",
)
def test_live_replayed_post_does_not_double_rows():
    """LIVE idempotence proof (needs a real server): a MergeTree with
    non_replicated_deduplication_window > 0 absorbs a byte-identical
    replayed POST because both carry the same derived
    insert_deduplication_token — row count stays at 1."""
    import json
    import urllib.request as ur
    from urllib.parse import urlencode

    from log2ck_spark.sink import http_insert_in_batches

    url = os.environ["LOG2CK_CK_HTTP_URL"].rstrip("/")

    def sql(q):
        with ur.urlopen(url + "/?" + urlencode({"query": q})) as r:
            return r.read().decode()

    tbl = "log2ck_dedup_token_live_test"
    sql(f"DROP TABLE IF EXISTS {tbl}")
    sql(
        f"CREATE TABLE {tbl} (k Int64) ENGINE = MergeTree ORDER BY k "
        f"SETTINGS non_replicated_deduplication_window = 100"
    )
    try:
        http_insert_in_batches(url, tbl, [{"k": 1}])
        http_insert_in_batches(url, tbl, [{"k": 1}])  # the replay
        cnt = json.loads(
            sql(f"SELECT count() AS c FROM {tbl} FORMAT JSON")
        )["data"][0]["c"]
        assert int(cnt) == 1
    finally:
        sql(f"DROP TABLE IF EXISTS {tbl}")


def test_derived_log_date_dropped_from_json_inserts(spark):
    """The pipeline's log_date column exists for the PARQUET layout;
    the reference DDL MATERIALIZES it server-side, so a JSONEachRow
    body carrying the key would fail the insert on a real table
    (unknown field). The writer drops the derived column — only when
    created_at is present to derive it from."""
    import datetime as dt

    from log2ck_spark.sink import writer_for

    srv = _RecordingCKServer()
    try:
        df = spark.createDataFrame(
            [(dt.datetime(2024, 1, 1, 10, 0, 0), dt.date(2024, 1, 1), "m")],
            "created_at timestamp, log_date date, message string",
        ).coalesce(1)
        writer = writer_for(
            SinkConfig(
                kind="clickhouse_http",
                options={"url": srv.url, "table": "logs"},
            )
        )
        writer(df, 0)
        (row,) = srv.rows()
        assert "log_date" not in row
        assert row["message"] == "m"

        # without created_at the column is NOT derived plumbing — kept
        df2 = spark.createDataFrame(
            [(dt.date(2024, 1, 1), "m2")], "log_date date, message string"
        ).coalesce(1)
        writer(df2, 1)
        assert "log_date" in srv.rows()[-1]
    finally:
        srv.close()


def test_log_date_kept_when_server_declares_it_insertable(spark):
    """If the target table REALLY has a plain (non-materialized)
    log_date column, the DESCRIBE-derived layout keeps and encodes it
    — the drop applies only to derived plumbing the table lacks."""
    import datetime as dt
    from urllib.parse import parse_qs, urlparse

    from log2ck_spark.sink import writer_for

    describe = (
        "created_at\tDateTime\t\t\t\t\t\n"
        "log_date\tDate\t\t\t\t\t\n"
        "message\tString\t\t\t\t\t\n"
    )
    srv = _RecordingCKServer(describe_tsv=describe)
    try:
        df = spark.createDataFrame(
            [(dt.datetime(2024, 1, 1, 10, 0, 0), dt.date(2024, 1, 1), "m")],
            "created_at timestamp, log_date date, message string",
        ).coalesce(1)
        writer = writer_for(
            SinkConfig(
                kind="clickhouse_http",
                options={
                    "url": srv.url, "table": "logs",
                    "format": "row_binary",
                },
            )
        )
        writer(df, 0)
        path, _body = srv.requests[0]
        q = parse_qs(urlparse(path).query)["query"][0]
        assert "`log_date`" in q
    finally:
        srv.close()


def test_log_date_kept_on_json_each_row_when_server_lists_it(spark):
    """r12 (ADVICE): the insertable-column escape hatch must apply to
    JSONEachRow too, not only the row_binary DESCRIBE default — a
    table that genuinely stores log_date (e.g. created from
    ck_columns_for_schema output) must keep receiving it, not get it
    silently defaulted. The DESCRIBE is lazy and cached: one GET
    across many batches."""
    import datetime as dt

    from log2ck_spark.sink import writer_for

    describe = (
        "created_at\tDateTime\t\t\t\t\t\n"
        "log_date\tDate\t\t\t\t\t\n"
        "message\tString\t\t\t\t\t\n"
    )
    srv = _RecordingCKServer(describe_tsv=describe)
    try:
        df = spark.createDataFrame(
            [(dt.datetime(2024, 1, 1, 10, 0, 0), dt.date(2024, 1, 1), "m")],
            "created_at timestamp, log_date date, message string",
        ).coalesce(1)
        writer = writer_for(
            SinkConfig(
                kind="clickhouse_http",
                options={"url": srv.url, "table": "logs"},
            )
        )
        writer(df, 0)
        writer(df, 1)
        for row in srv.rows():
            assert "log_date" in row
        describes = [g for g in srv.gets if "DESCRIBE" in g]
        assert len(describes) == 1  # lazy, fetched once, cached
    finally:
        srv.close()


def test_drop_partition_col_option_forces_and_validates(spark):
    """drop_partition_col=True drops even when the server lists the
    column (explicit user intent beats auto); False keeps it with no
    DESCRIBE round-trip; a junk value fails at writer creation. Both
    ClickHouse writers share the validator and the rule."""
    import datetime as dt

    from log2ck_spark.sink import writer_for
    from tests.test_native_tcp import FakeNativeServer

    describe = (
        "created_at\tDateTime\t\t\t\t\t\n"
        "log_date\tDate\t\t\t\t\t\n"
        "message\tString\t\t\t\t\t\n"
    )
    http = _RecordingCKServer(describe_tsv=describe)
    native = FakeNativeServer(
        [("created_at", "DateTime"), ("log_date", "Date"), ("message", "String")]
    )
    # kind, endpoint options, last inserted row, DESCRIBE requests so far
    transports = (
        (
            "clickhouse_http", {"url": http.url},
            lambda: http.rows()[-1], lambda: len(http.gets),
        ),
        (
            "clickhouse_native", {"host": native.host, "port": native.port},
            lambda: native.inserts[-1]["rows"][0], lambda: len(native.selects),
        ),
    )
    try:
        df = spark.createDataFrame(
            [(dt.datetime(2024, 1, 1, 10, 0, 0), dt.date(2024, 1, 1), "m")],
            "created_at timestamp, log_date date, message string",
        ).coalesce(1)
        for kind, endpoint, last_row, n_describes in transports:
            def _writer(drop):
                return writer_for(
                    SinkConfig(
                        kind=kind,
                        options={
                            **endpoint, "table": "logs",
                            "drop_partition_col": drop,
                        },
                    )
                )

            _writer(True)(df, 0)
            assert "log_date" not in last_row(), kind

            w_false = _writer(False)
            before = n_describes()
            w_false(df, 1)
            assert "log_date" in last_row(), kind
            assert n_describes() == before, kind  # no DESCRIBE needed

            with pytest.raises(
                ValueError, match=f"{kind} sink: drop_partition_col"
            ):
                _writer("sometimes")
    finally:
        http.close()
        native.close()


def test_describe_tsv_unescapes_quoted_type_arguments():
    """r12 (ADVICE): TabSeparated output backslash-escapes quotes and
    backslashes, so DateTime('UTC') / DateTime64(3, 'UTC') /
    Enum8('a' = 1) — types the codec layer explicitly supports —
    arrive as DateTime(\\'UTC\\') and must be unescaped before
    codec_for sees them, or the zero-config row_binary default fails
    at writer creation on any table with a timezone'd DateTime."""
    from log2ck_spark.formats import codec_for
    from log2ck_spark.sink import describe_table_columns

    describe = (
        "created_at\tDateTime(\\'UTC\\')\t\t\t\t\t\n"
        "ts\tDateTime64(3, \\'UTC\\')\t\t\t\t\t\n"
        "lvl\tEnum8(\\'debug\\' = 1, \\'error\\' = 2)\t\t\t\t\t\n"
        "tag\tLowCardinality(String)\t\t\t\t\t\n"
    )
    srv = _RecordingCKServer(describe_tsv=describe)
    try:
        cols = describe_table_columns(srv.url, "logs")
        assert cols["created_at"] == "DateTime('UTC')"
        assert cols["ts"] == "DateTime64(3, 'UTC')"
        assert cols["lvl"] == "Enum8('debug' = 1, 'error' = 2)"
        for t in cols.values():
            codec_for(t)  # every unescaped type must codec cleanly
    finally:
        srv.close()


def test_tsv_unescape_control_sequences():
    from log2ck_spark.sink import _tsv_unescape

    assert _tsv_unescape(r"DateTime(\'UTC\')") == "DateTime('UTC')"
    assert _tsv_unescape(r"a\tb\nc\\d\0e") == "a\tb\nc\\d\0e"
    assert _tsv_unescape("plain") == "plain"
    assert _tsv_unescape("trailing\\") == "trailing\\"


def test_unknown_token_setting_downgrades_instead_of_failing():
    """A pre-22.2 server has no insert_deduplication_token and its
    HTTP interface rejects unknown settings outright (unlike native,
    which skips unimportant ones). The default dedup_token=True must
    stay safe there: on the CK-style `Code: 115 ... Unknown setting`
    response the sink retries the SAME flush without the token, logs
    a warning, and stops deriving tokens for the rest of the call —
    so 3 batches cost exactly one extra POST, not three failures
    (ADVICE r12)."""
    import http.server
    import json
    import threading

    from log2ck_spark.sink import http_insert_in_batches

    paths: list[str] = []
    bodies: list[bytes] = []

    class H(http.server.BaseHTTPRequestHandler):
        def do_POST(self):  # noqa: N802
            ln = int(self.headers.get("Content-Length", 0))
            body = self.rfile.read(ln)
            paths.append(self.path)
            if "insert_deduplication_token" in self.path:
                # ClickHouse < 22.2 wording, verbatim shape
                payload = (
                    b"Code: 115. DB::Exception: Unknown setting "
                    b"insert_deduplication_token. (UNKNOWN_SETTING) "
                    b"(version 21.8.10.19 (official build))\n"
                )
                self.send_response(404)
                self.send_header("Content-Length", str(len(payload)))
                self.end_headers()
                self.wfile.write(payload)
                return
            import gzip as _gz

            if self.headers.get("Content-Encoding") == "gzip":
                body = _gz.decompress(body)
            bodies.append(body)
            self.send_response(200)
            self.end_headers()

        def log_message(self, *a):
            pass

    httpd = http.server.ThreadingHTTPServer(("127.0.0.1", 0), H)
    threading.Thread(target=httpd.serve_forever, daemon=True).start()
    try:
        url = f"http://127.0.0.1:{httpd.server_port}"
        n = http_insert_in_batches(
            url, "t",
            [{"k": i} for i in range(6)],
            batch_size=2,
            retries=0,  # the downgrade retry must not consume these
        )
        assert n == 6
        rows = [
            json.loads(line)
            for b in bodies
            for line in b.decode().splitlines()
            if line
        ]
        assert [r["k"] for r in rows] == list(range(6))
        # exactly ONE rejected attempt (the first flush), then every
        # subsequent POST is token-less: 1 + 3 accepted = 4 total
        assert len(paths) == 4
        assert sum(
            "insert_deduplication_token" in p for p in paths
        ) == 1
        # the downgrade is remembered per process: a NEW call against
        # the same server (a later micro-batch flush — this function
        # runs fresh per partition per batch) skips the token up
        # front, so a long-lived stream pays the probe POST once, not
        # once per flush forever
        paths.clear()
        n2 = http_insert_in_batches(
            url, "t", [{"k": 9}], retries=0,
        )
        assert n2 == 1
        assert len(paths) == 1
        assert "insert_deduplication_token" not in paths[0]
    finally:
        httpd.shutdown()
        httpd.server_close()
        from log2ck_spark import sink as _sink

        _sink._NO_TOKEN_SERVERS.discard(url)


def test_genuine_4xx_still_raises_with_token_on():
    """The UNKNOWN_SETTING downgrade must not swallow real 4xx
    failures: a malformed-insert-style 400 whose body does NOT name
    the token setting raises immediately even with dedup_token=True."""
    import http.server
    import threading

    import pytest as _pytest
    import urllib.error as _ue

    from log2ck_spark.sink import http_insert_in_batches

    class H(http.server.BaseHTTPRequestHandler):
        def do_POST(self):  # noqa: N802
            self.rfile.read(int(self.headers.get("Content-Length", 0)))
            payload = b"Code: 27. DB::Exception: Cannot parse input\n"
            self.send_response(400)
            self.send_header("Content-Length", str(len(payload)))
            self.end_headers()
            self.wfile.write(payload)

        def log_message(self, *a):
            pass

    httpd = http.server.ThreadingHTTPServer(("127.0.0.1", 0), H)
    threading.Thread(target=httpd.serve_forever, daemon=True).start()
    try:
        url = f"http://127.0.0.1:{httpd.server_port}"
        with _pytest.raises(_ue.HTTPError):
            http_insert_in_batches(
                url, "t", [{"k": 1}], retries=0,
            )
    finally:
        httpd.shutdown()
        httpd.server_close()


def test_describe_failure_is_retried_next_batch():
    """A transient DESCRIBE failure on the first batch must not lock
    in the drop-partition-column rule for the writer's lifetime: the
    writers' shared DESCRIBE cache keeps nothing on failure, so the
    NEXT batch re-DESCRIBEs and resolves correctly, while a success is
    cached (ADVICE r12). Checked over both transports' describe
    callables."""
    from log2ck_spark.native import NativeClient
    from log2ck_spark.sink import _TableColumns, describe_table_columns
    from tests.test_native_tcp import FakeNativeServer

    http = _RecordingCKServer()  # no describe_tsv: DESCRIBE answers 404
    native = FakeNativeServer(
        [("k", "Int64"), ("log_date", "Date")],
        exception_on_query="Code: 999. DB::Exception: blip",
    )
    client = NativeClient(native.host, native.port)
    client.connect()

    def _heal_http():
        http.describe_tsv = "k\tInt64\t\t\t\t\t\nlog_date\tDate\t\t\t\t\t\n"

    def _heal_native():
        native.exception_on_query = None

    transports = (
        (
            "clickhouse_http",
            lambda: describe_table_columns(http.url, "t"), _heal_http,
        ),
        (
            "clickhouse_native",
            lambda: client.describe_insertable_columns("t"), _heal_native,
        ),
    )
    try:
        for kind, describe, heal in transports:
            calls: list[int] = []

            def _counted():
                calls.append(1)
                return describe()

            table_cols = _TableColumns(kind, "t", _counted)
            # batch 1: DESCRIBE blips -> fall back (False) but DON'T cache
            assert table_cols.lists("log_date") is False, kind
            heal()
            # batch 2: retried DESCRIBE succeeds -> correct answer
            assert table_cols.lists("log_date") is True, kind
            # batch 3: success IS cached -> no third DESCRIBE
            assert table_cols.lists("log_date") is True, kind
            assert len(calls) == 2, kind
    finally:
        client.close()
        http.close()
        native.close()
