"""Sinks — the reference's ClickHouse batch-insert (A10) re-expressed.

Default sink: date-partitioned Parquet sorted within partitions on the
reference DDL's sort key (`readme.md:121-122` — PARTITION BY
toDate(created_at), ORDER BY created_at). Partitioning gives B1
partition pruning; the sort gives parquet min/max row-group skipping
(B2). ClickHouse has two stdlib writers, one per wire: HTTP
(`clickhouse_http`) and native TCP (`clickhouse_native`). They share
one core — option parsing, the derived partition-column rule with its
DESCRIBE cache, and the batched-insert loop run inside foreachBatch
(connection per partition, never per row); each transport keeps only
its own encoding and connection handling.
"""

from __future__ import annotations

import re
from collections.abc import Iterator
from dataclasses import dataclass
from typing import Any, Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from log2ck_spark.config import SinkConfig



def _date_ranged(df: DataFrame, sink: SinkConfig) -> DataFrame:
    """RANGE-repartition on (date, sort keys) + within-task sort — the
    MergeTree-like dated layout, shared by the batch AND streaming
    writers.

    Each writer task holds a CONTIGUOUS (date, key) slice, so a task
    usually spans one partition value and writes ~one file. The
    previous hash-bucket shuffle interleaved every date across every
    task — measured r9 at sf0.1: 960 files for a 30-date/92k-row
    corpus (tasks × dates), the small-files explosion that kills a
    100 TB table's listing and open() costs, re-created PER MICRO-
    BATCH on the streaming path. Range keeps the two properties the
    bucketing existed for: a HOT date still fans out over several
    tasks (the range sampler balances ROWS per task, so a date bigger
    than one share spans multiple contiguous tasks — the skew plain
    repartition(date) serialized), and AQE still coalesces adjacent
    slices of small dates. Strictly better third property: within a
    hot date the files' sort-key ranges are NON-overlapping (hash
    buckets overlapped every file), so parquet min/max skipping prunes
    whole files, not just row groups. The within-task sort leads with
    the partition column so the dynamic-partition writer streams each
    date's rows contiguously instead of juggling open files."""
    sort_cols = [c for c in sink.sort_cols if c in df.columns]
    if sink.partition_col in df.columns and sort_cols:
        df = df.repartitionByRange(sink.partition_col, *sort_cols)
        df = df.sortWithinPartitions(sink.partition_col, *sort_cols)
    return df


def write_batch(df: DataFrame, sink: SinkConfig) -> None:
    """Batch write with the MergeTree-like layout (see _date_ranged)."""
    out = _date_ranged(df, sink)
    if sink.partition_col in df.columns:
        out.write.mode("overwrite").partitionBy(sink.partition_col).parquet(sink.path)
    else:
        out.write.mode("overwrite").parquet(sink.path)


def foreach_batch_writer(
    sink: SinkConfig,
) -> Callable[[DataFrame, int], None]:
    """foreachBatch function for streaming writes (A10). Dead letters
    are a separate stream wired by the caller (streaming/job.py), not
    a parameter here — an accepted-but-ignored dead_letter_path once
    invited silent drops.

    Delivery guarantee — stated precisely: the engine's offset/commit
    logs re-run a micro-batch only if it never committed, so the
    normal path executes each batch once. A crash MID-batch (files
    written, commit log not) replays the batch and re-appends ⇒
    **at-least-once**, exactly the reference's insert-then-save-offset
    contract (`Worker.php:123-124`). For exactly-once, set
    `options={"idempotent": True}`: each batch then OVERWRITES its own
    `batch_id=<id>` subdirectory, so a replayed batch replaces its
    half-written files instead of duplicating them; `batch_id` simply
    becomes the table's outer partition column (partition discovery
    handles the extra level). Transactional formats (Delta/Iceberg)
    subsume this with a commit protocol.
    """
    idempotent = bool(sink.options.get("idempotent", False))
    checked_layout = False

    def _check_layout() -> None:
        # Toggling `idempotent` against an existing table would silently
        # mix the two directory layouts (flat files vs batch_id=N
        # subdirs), breaking partition discovery and the exactly-once
        # claim for pre-existing data. Fail fast on the first write if
        # the directory already holds the OTHER layout.
        import os
        import warnings

        # The os.path probe only sees local paths. For remote URIs
        # (s3a://, hdfs://...) we can't cheaply list from the driver
        # here — warn instead of silently skipping, so the operator
        # knows the layout guard did NOT run.
        if "://" in sink.path and not sink.path.startswith("file://"):
            warnings.warn(
                f"sink layout check skipped for remote path {sink.path!r}: "
                "verify the existing table layout matches "
                f"idempotent={idempotent} before writing",
                stacklevel=2,
            )
            return
        if not os.path.isdir(sink.path):
            return
        entries = [e for e in os.listdir(sink.path) if not e.startswith(("_", "."))]
        if not entries:
            return
        has_batch_dirs = any(e.startswith("batch_id=") for e in entries)
        if idempotent and not has_batch_dirs:
            raise ValueError(
                f"sink path {sink.path!r} holds a non-idempotent (flat/append) "
                "layout but idempotent=True was configured; use a fresh path "
                "or keep the original mode"
            )
        if not idempotent and has_batch_dirs:
            raise ValueError(
                f"sink path {sink.path!r} holds an idempotent (batch_id=N) "
                "layout but idempotent=False was configured; use a fresh path "
                "or keep idempotent=True"
            )

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        nonlocal checked_layout
        if not checked_layout:
            _check_layout()
            checked_layout = True
        # Same dated layout as write_batch — without it every
        # micro-batch re-creates the tasks×dates small-files explosion
        out = _date_ranged(batch_df, sink)
        if idempotent:
            import os

            target = os.path.join(sink.path, f"batch_id={batch_id}")
            if sink.partition_col in batch_df.columns:
                out.write.mode("overwrite").partitionBy(sink.partition_col).parquet(
                    target
                )
            else:
                out.write.mode("overwrite").parquet(target)
        elif sink.partition_col in batch_df.columns:
            out.write.mode("append").partitionBy(sink.partition_col).parquet(sink.path)
        else:
            out.write.mode("append").parquet(sink.path)

    return _write


CK_INSERT_BATCH = 10_000


def _flush_in_batches(
    items,
    flush: Callable[[list], None],
    batch_size: int,
    max_bytes: float = float("inf"),
    size: Callable[[Any], int] = lambda _item: 0,
) -> int:
    """The per-partition batching loop both ClickHouse writers run —
    the reference's batch-insert loop (`Worker.php:71-80`: accumulate
    lines, insert them in one call, only then advance the offset).
    Flushes every `batch_size` items, or earlier once the buffered
    `size` reaches `max_bytes`; whichever trigger fires first flushes,
    and a single over-sized item still ships (alone). Returns items
    flushed."""
    buf: list = []
    buf_bytes = 0
    n = 0
    for item in items:
        buf.append(item)
        buf_bytes += size(item)
        if len(buf) >= batch_size or buf_bytes >= max_bytes:
            flush(buf)
            n += len(buf)
            buf, buf_bytes = [], 0
    if buf:
        flush(buf)
        n += len(buf)
    return n


# In-process memory sink (kind="memory"): rows land in a named list —
# for tests and interactive debugging, mirroring Spark's own memory
# format but usable from foreachBatch.
_MEMORY_SINKS: dict[str, list] = {}


def memory_rows(name: str = "default") -> list:
    return _MEMORY_SINKS.get(name, [])


def writer_for(sink: SinkConfig) -> Callable[[DataFrame, int], None]:
    """Dispatch on SinkConfig.kind — parquet (default) |
    clickhouse_http | clickhouse_native | memory. A bad kind or option
    fails loudly at CONFIG time (here) rather than mid-stream."""
    if sink.kind == "parquet":
        return foreach_batch_writer(sink)
    if sink.kind == "clickhouse_http":
        return clickhouse_http_writer(sink)
    if sink.kind == "clickhouse_native":
        return clickhouse_native_writer(sink)
    if sink.kind == "memory":
        name = str(sink.options.get("name", "default"))

        def _write_mem(batch_df: DataFrame, batch_id: int) -> None:
            _MEMORY_SINKS.setdefault(name, []).extend(batch_df.collect())

        return _write_mem
    raise ValueError(f"unknown sink kind: {sink.kind!r}")


def rows_to_json_each_row(rows) -> "Iterator[bytes]":
    """Lazily serialize rows (Row / dict / sequence of (name, value)
    pairs) to ClickHouse JSONEachRow lines (one JSON object per row,
    UTF-8) — a GENERATOR, so the HTTP batcher's memory stays bounded
    by batch_size, not partition size.

    * Timestamps emit as 'YYYY-MM-DD HH:MM:SS[.ffffff]' strings — the
      format ClickHouse's DateTime/DateTime64 JSON input accepts.
    * Binary columns emit BASE64 (JSON strings cannot carry raw bytes:
      a latin-1 decode re-encodes every byte >= 0x80 as two UTF-8
      bytes — silent corruption). Decode CK-side with base64Decode()
      or target a column with a materialized decode.
    * Non-finite floats emit as null (bare NaN/Infinity tokens are not
      valid JSON and would poison the whole batch line set).
    * Nested StructType values arrive as Row — a tuple subclass, so the
      asDict check must run BEFORE the list/tuple branch or the field
      names are lost into a bare JSON array (wrong for ClickHouse
      JSON/named-Tuple object input).
    * decimal.Decimal emits as str (lossless; CK's Decimal JSON input
      accepts quoted numerics) — json.dumps would otherwise raise
      TypeError and poison the whole batch."""
    import base64 as _b64
    import datetime as _dt
    import decimal as _decimal
    import json as _json
    import math as _math

    def _conv(v):
        if isinstance(v, _dt.datetime):
            # isoformat, not strftime: %Y does not zero-pad years
            # before 1000 on glibc, silently emitting variable-width
            # timestamps (found by the serializer fuzz test). Spark
            # hands naive datetimes; a tz-aware one (hand-built rows)
            # is normalized to the UTC instant rather than having its
            # offset silently dropped. Keep the trailing-zero trim on
            # the fractional part.
            if v.tzinfo is not None:
                try:
                    v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
                except (OverflowError, OSError):
                    # datetime.min/max within an offset of the epoch
                    # bounds cannot shift to UTC; keep the wall-clock
                    # fields rather than poison the batch.
                    v = v.replace(tzinfo=None)
            s = v.isoformat(sep=" ")
            # isoformat omits a zero fraction entirely, so '.' implies
            # a nonzero digit survives the trim.
            return s.rstrip("0") if "." in s else s
        if isinstance(v, _dt.date):
            return v.isoformat()
        if isinstance(v, (bytes, bytearray)):
            return _b64.b64encode(bytes(v)).decode("ascii")
        if isinstance(v, _decimal.Decimal):
            return str(v)
        if isinstance(v, float) and not _math.isfinite(v):
            return None
        if hasattr(v, "asDict"):  # pyspark Row (nested struct)
            return {_key(k): _conv(x) for k, x in v.asDict().items()}
        if isinstance(v, (list, tuple)):
            return [_conv(x) for x in v]
        if isinstance(v, dict):
            return {_key(k): _conv(x) for k, x in v.items()}
        return v

    def _key(k):
        # JSON object keys must be strings; Spark MapType keys may be
        # dates, timestamps, decimals, or binary (all legal map key
        # types), which json.dumps rejects with TypeError — poisoning
        # the whole batch. Render them through the same conversions as
        # values, then force str (json.dumps would coerce bare
        # int/float/bool itself, but doing it here keeps key text
        # identical to the value rendering).
        if isinstance(k, str):
            return k
        k = _conv(k)
        return k if isinstance(k, str) else _json.dumps(k)

    # Generator, not a list: http_insert_in_batches streams this into
    # batch_size flushes, and materializing a whole partition's
    # serialized JSON up front would defeat that memory bound (a 50M-
    # row partition would hold 50M encoded lines before the first
    # flush).
    for row in rows:
        d = row.asDict() if hasattr(row, "asDict") else dict(row)
        yield _json.dumps(
            {k: _conv(v) for k, v in d.items()},
            ensure_ascii=False,
            allow_nan=False,
        ).encode("utf-8")


def _quote_ident(name: str) -> str:
    """Backtick-quote a ClickHouse identifier (column names land in
    the INSERT statement text). Escaping follows CK's quoted-identifier
    rules (backslash escapes inside backticks) — an unquoted name that
    is a reserved word, carries a space, or starts with a digit (all
    possible when names come from a Spark schema or DESCRIBE) would
    otherwise break the query or silently alter its meaning."""
    return "`" + name.replace("\\", "\\\\").replace("`", "\\`") + "`"


# Escaped control characters; any other escaped character (\\, \', \"
# among them) stands for itself.
_TSV_UNESCAPES = {
    "b": "\b",
    "f": "\f",
    "r": "\r",
    "n": "\n",
    "t": "\t",
    "0": "\0",
    "a": "\a",
    "v": "\v",
}


_TSV_ESCAPE = re.compile(r"\\(.)", re.DOTALL)


def _tsv_unescape(field: str) -> str:
    """Undo ClickHouse TabSeparated output escaping (the format's
    documented set: \\b \\f \\r \\n \\t \\0 \\' \\\\ …). An unknown
    escape passes the character through verbatim, matching the
    server's own lenient reader."""
    return _TSV_ESCAPE.sub(
        lambda m: _TSV_UNESCAPES.get(m.group(1), m.group(1)), field
    )


def _ck_http(
    url: str,
    query: str,
    params: "dict[str, str] | None",
    user: "str | None",
    password: "str | None",
    timeout_s: float,
    data: "bytes | None" = None,
    headers: "dict[str, str] | None" = None,
) -> bytes:
    """One request to ClickHouse's HTTP interface — GET, or POST when
    `data` is given — returning the response body. `params`
    (database=..., CK settings, etc.) ride the query string after
    `query`. urlopen raises HTTPError for >= 400; any 2xx is success
    (204/202 behind proxies are still accepted inserts)."""
    import urllib.parse as _up
    import urllib.request as _ur

    headers = dict(headers or {})
    # CK's HTTP auth headers (public interface contract); absent ->
    # the server's default user, same as the reference's bare DSN.
    if user is not None:
        headers["X-ClickHouse-User"] = user
    if password is not None:
        headers["X-ClickHouse-Key"] = password
    req = _ur.Request(
        url.rstrip("/") + "/?" + _up.urlencode({"query": query, **(params or {})}),
        data=data,
        headers=headers,
        method="GET" if data is None else "POST",
    )
    with _ur.urlopen(req, timeout=timeout_s) as resp:  # noqa: S310
        if not 200 <= resp.status < 300:
            raise RuntimeError(
                f"ClickHouse HTTP request failed: HTTP {resp.status}"
            )
        return resp.read()


def describe_table_columns(
    url: str,
    table: str,
    timeout_s: float = 30.0,
    user: "str | None" = None,
    password: "str | None" = None,
    params: "dict[str, str] | None" = None,
) -> "dict[str, str]":
    """Fetch the target table's ACTUAL column layout from the server —
    `DESCRIBE TABLE <t> FORMAT TabSeparated` over the same HTTP
    endpoint the inserts use. Returns {name: ck_type} for INSERTABLE
    columns only (MATERIALIZED/ALIAS columns cannot be written and are
    dropped here, exactly as CK drops them from `INSERT INTO t` column
    expansion).

    This exists because the table's declared types GOVERN RowBinary
    decoding: a zero-config layout inferred from a Spark schema marks
    virtually every column Nullable(T) (one flag byte per value),
    which a non-Nullable target column — e.g. every column of the
    reference's published DDL, all LowCardinality(String)/DateTime —
    would misparse, failing the insert or corrupting data. Asking the
    server is the only layout source that cannot drift."""
    from log2ck_spark.formats import insertable_columns

    query = f"DESCRIBE TABLE {table} FORMAT TabSeparated"
    text = _ck_http(url, query, params, user, password, timeout_s).decode()
    # TabSeparated backslash-escapes its field values — a type whose
    # text contains a quoted argument (DateTime('UTC'),
    # DateTime64(3, 'UTC'), Enum8('a' = 1)) arrives as
    # DateTime(\'UTC\'), which codec_for would reject verbatim
    rows = (line.split("\t") for line in text.splitlines() if line)
    return insertable_columns(table, ([_tsv_unescape(f) for f in r] for r in rows))


def _http_compression(value: "str | None") -> "str | None":
    """The HTTP body compression setting, normalized: "gzip", or None
    for the uncompressed wire (None | "none" | ""); anything else
    raises, so the writer rejects it at config time."""
    name = "none" if value is None else str(value).lower()
    if name not in ("gzip", "none", ""):
        raise ValueError(
            f"unknown compression {value!r} (expected 'gzip' or 'none')"
        )
    return "gzip" if name == "gzip" else None


# Server URLs that rejected insert_deduplication_token (pre-22.2):
# once a server proves it lacks the setting, every later writer in
# this executor process skips the token up front instead of re-paying
# a rejected POST + warning on each micro-batch flush. Process-local
# by design — no cross-executor coordination needed, worst case is
# one extra probe POST per executor process per server.
_NO_TOKEN_SERVERS: "set[str]" = set()


def http_insert_in_batches(
    url: str,
    table: str,
    rows,
    batch_size: int = CK_INSERT_BATCH,
    timeout_s: float = 30.0,
    user: "str | None" = None,
    password: "str | None" = None,
    params: "dict[str, str] | None" = None,
    columns: "list[tuple[str, str]] | None" = None,
    compression: "str | None" = "gzip",
    compression_level: int = 3,
    max_body_bytes: int = 64 * 1024 * 1024,
    retries: int = 2,
    retry_backoff_s: float = 1.0,
    dedup_token: bool = True,
) -> int:
    """Batched INSERT over ClickHouse's public HTTP interface: POST
    `INSERT INTO <table> FORMAT JSONEachRow` with newline-delimited
    JSON bodies, one request per `batch_size` rows — the writers'
    shared accumulate-then-flush loop (`_flush_in_batches`,
    `Worker.php:71-80`) on the stdlib-only wire path, so it is
    testable against a live local HTTP endpoint and deployable with no
    optional client lib. A non-200 raises, failing the Spark task —
    at-least-once via engine task retry + the batch replay note on
    `foreach_batch_writer` (idempotence comes from a Replacing/
    deduplicating target table, the standard CK recipe).

    With `columns` (ordered (name, ck_type) pairs) the insert switches
    to `FORMAT RowBinary` — the native column binary encodings over
    the same endpoint (formats.rows_to_row_binary): no JSON text
    encode, no server-side parse, non-finite floats carried natively,
    binary columns without base64. The INSERT names the columns in
    the declared order so the server never guesses the layout.

    `compression="gzip"` (the DEFAULT) gzips every request body and
    sets `Content-Encoding: gzip` — ClickHouse's HTTP interface
    decompresses natively, no server setting required. This closes the
    transport-compression half of the native-TCP protocol's remaining
    edge (DEPLOY.md): measured on log-shaped JSONEachRow batches the
    body shrinks ~6-7× (RowBinary ~3-4×) at level 3's ~150 MB/s/core —
    far above any single stream's line rate, so at 100 TB the win is
    pure network. Level 1 trades ~15% body size for ~25% less CPU;
    `compression=None` restores the uncompressed wire.

    `max_body_bytes` flushes early when the BUFFERED (pre-compression)
    bytes exceed the bound — `batch_size` alone counts rows, so a
    jumbo-row stream (50 KB log lines × 10k rows = 500 MB) would
    otherwise build request bodies toward ClickHouse's HTTP size
    limit and hold them in executor memory. Whichever trigger fires
    first flushes; a single over-sized row still ships (alone).

    `retries`/`retry_backoff_s`: each flush retries TRANSIENT
    failures in place — connection errors and 429/5xx statuses (the
    async-insert-queue-full / restarting-replica class) — with
    exponential backoff, before raising. 4xx other than 429 raises
    immediately (a malformed INSERT does not heal by waiting).
    In-place retry narrows the blast radius: without it one 503 fails
    the Spark task and re-runs the WHOLE partition, re-sending every
    previously-committed batch (a much wider at-least-once duplicate
    window than re-POSTing one idempotent body). Replays send
    byte-identical requests (deterministic gzip), so a deduplicating
    target table absorbs them.

    `dedup_token=True` (the DEFAULT) additionally sends ClickHouse's
    public `insert_deduplication_token` setting per flush — the
    sha256 of (table, uncompressed body), so any replay of the same
    rows (in-place retry, Spark task re-run, stream-restart batch
    replay) carries the SAME token and the server drops the duplicate
    block. This upgrades at-least-once to idempotent inserts on a
    plain MergeTree (given `non_replicated_deduplication_window > 0`;
    replicated tables dedup by default) — something the reference's
    native path cannot do (`Worker.php:123-124` replays duplicate
    rows). Content-hash tokens reproduce the server's own
    content-based block dedup semantics exactly: two flushes collide
    only if their bytes are a true duplicate block. A caller-supplied
    `insert_deduplication_token` in `params` wins (no auto-derive) —
    note a STATIC token dedups every batch after the first."""
    import gzip as _gzip
    import time as _time
    import urllib.error as _ue

    from log2ck_spark.formats import rows_to_row_binary

    compression = _http_compression(compression)
    if columns is not None:
        col_list = ", ".join(_quote_ident(name) for name, _t in columns)
        query = f"INSERT INTO {table} ({col_list}) FORMAT RowBinary"
        body_rows = rows_to_row_binary(rows, columns)
        sep, tail = b"", b""
        content_type = "application/octet-stream"
    else:
        query = f"INSERT INTO {table} FORMAT JSONEachRow"
        body_rows = rows_to_json_each_row(rows)
        sep, tail = b"\n", b"\n"
        content_type = "application/x-ndjson"
    # Mutable so one UNKNOWN_SETTING response (servers < 22.2, where
    # insert_deduplication_token does not exist — the HTTP interface
    # rejects unknown settings, unlike native, which skips unimportant
    # ones) downgrades the DEFAULT to token-less instead of
    # hard-failing every previously-working insert. The downgrade is
    # remembered PER PROCESS (keyed by server URL): this function runs
    # fresh per partition per micro-batch, and without the cache a
    # long-lived stream against an old server would re-pay one
    # rejected POST + warning on every single flush forever.
    token_state = {
        "on": dedup_token
        and "insert_deduplication_token" not in (params or {})
        and url not in _NO_TOKEN_SERVERS
    }
    headers = {"Content-Type": content_type}

    def _params_for(data: bytes) -> "dict[str, str] | None":
        if not token_state["on"]:
            return params
        # content-hash of the UNCOMPRESSED body: replays of the
        # same rows — in-place retry, task re-run, batch replay —
        # derive the same token, so the server absorbs them
        import hashlib as _hashlib

        token = _hashlib.sha256(
            table.encode() + b"\0" + data
        ).hexdigest()
        return {**(params or {}), "insert_deduplication_token": token}

    def _is_unknown_token_setting(e) -> bool:
        # CK's HTTP interface reports exceptions in the body as
        # `Code: 115. DB::Exception: Unknown setting ...` — detect
        # the token setting specifically, so a genuinely malformed
        # INSERT (also 4xx) still raises.
        try:
            body = e.read() or b""
        except Exception:  # noqa: BLE001 — closed/consumed stream
            body = b""
        body += str(e).encode("utf-8", "replace")
        return (
            b"insert_deduplication_token" in body
            and (b"UNKNOWN_SETTING" in body or b"Code: 115" in body)
        )

    def _flush(buf: list[bytes]) -> None:
        raw = sep.join(buf) + tail
        if compression == "gzip":
            # mtime=0: deterministic bytes (the gzip header otherwise
            # embeds wall-clock time — untestable golden bodies and
            # pointless entropy on retries of the same batch)
            data = _gzip.compress(
                raw, compresslevel=compression_level, mtime=0
            )
            headers["Content-Encoding"] = "gzip"
        else:
            data = raw
        attempt = 0
        while True:
            try:
                _ck_http(
                    url, query, _params_for(raw), user, password,
                    timeout_s, data, headers,
                )
                return
            except _ue.HTTPError as e:
                # 429/5xx are the transient class; other 4xx will not
                # heal by waiting — surface immediately, EXCEPT the
                # one self-inflicted 4xx: a pre-22.2 server rejecting
                # the derived insert_deduplication_token. Drop the
                # token for the rest of this call (keeps the True
                # default safe on old servers; ADVICE r12) and retry
                # once without consuming a transient-retry attempt.
                if token_state["on"] and e.code < 500 and e.code != 429 \
                        and _is_unknown_token_setting(e):
                    import logging

                    logging.getLogger(__name__).warning(
                        "ClickHouse server rejected "
                        "insert_deduplication_token (pre-22.2?); "
                        "retrying without it — inserts are "
                        "at-least-once, not idempotent, on this "
                        "server. Pass dedup_token=False to silence."
                    )
                    token_state["on"] = False
                    _NO_TOKEN_SERVERS.add(url)
                    continue
                if not (e.code == 429 or e.code >= 500):
                    raise
                last = e
            except (_ue.URLError, ConnectionError, TimeoutError) as e:
                last = e  # connection-level: transient by definition
            if attempt >= retries:
                raise last
            _time.sleep(retry_backoff_s * (2 ** attempt))
            attempt += 1

    return _flush_in_batches(
        body_rows, _flush, batch_size, max_body_bytes,
        size=lambda line: len(line) + len(sep),
    )


def _ck_options(
    sink: SinkConfig, kind: str, endpoint_key: str
) -> "tuple[str, str, int, bool, bool | str, dict[str, Any]]":
    """Pop and validate, at writer creation, the options both
    ClickHouse writers share — `table`, the transport's endpoint
    (`url` | `host`), `batch_size`, `dedup_token` and
    `drop_partition_col` — so a bad value fails with a descriptive
    ValueError at CONFIG time (writer_for's contract), never as a bare
    KeyError or mid-stream. Returns (table, endpoint, batch_size,
    dedup_token, drop_partition_col, remaining options); the transport
    pops its own options from the last."""
    opts: dict[str, Any] = dict(sink.options)
    for key in ("table", endpoint_key):
        if key not in opts:
            raise ValueError(f"{kind} sink requires a '{key}' option")
    table, endpoint = str(opts.pop("table")), str(opts.pop(endpoint_key))
    batch_size = int(opts.pop("batch_size", CK_INSERT_BATCH))
    dedup_token = opts.pop("dedup_token", True)
    if not isinstance(dedup_token, bool):
        raise ValueError(
            f"{kind} sink: dedup_token={dedup_token!r} "
            f"(expected true or false)"
        )
    drop_pc = opts.pop("drop_partition_col", "auto")
    if isinstance(drop_pc, str) and drop_pc.lower() == "auto":
        drop_pc = "auto"
    elif not isinstance(drop_pc, bool):
        raise ValueError(
            f"{kind} sink: drop_partition_col={drop_pc!r} "
            f"(expected true, false, or 'auto')"
        )
    return table, endpoint, batch_size, dedup_token, drop_pc, opts


@dataclass
class _TableColumns:
    """The target table's insertable columns, {name: ck_type} — the
    one DESCRIBE cache a ClickHouse writer keeps. `types` is preset
    when the layout is already known (an explicit `columns` pin, or a
    DESCRIBE the writer ran at creation); otherwise `lists` fetches it
    through the transport's `describe()` on first use, on the driver.

    A success is cached for the writer's lifetime. A failure is not:
    DESCRIBE denied/unsupported falls back to the drop-the-derived-
    column rule (pre-r12 behavior) for THIS batch, with a warning — a
    genuinely-insertable partition column would otherwise be silently
    defaulted server-side — and the next batch re-DESCRIBEs, so one
    network blip on the first batch cannot lock in the drop rule for
    the writer's lifetime (ADVICE r12)."""

    kind: str
    table: str
    describe: "Callable[[], dict[str, str]]"
    types: "dict[str, str] | None" = None

    def lists(self, name: str) -> bool:
        if self.types is None:
            try:
                self.types = self.describe()
            except Exception as e:  # noqa: BLE001
                import logging

                logging.getLogger(__name__).warning(
                    "%s sink: DESCRIBE TABLE %s failed (%s); assuming "
                    "partition column is derived and dropping it for "
                    "THIS batch (will retry DESCRIBE next batch) — set "
                    "drop_partition_col explicitly to silence this",
                    self.kind, self.table, e,
                )
                return False
        return name in self.types


def _drop_derived_partition_col(
    batch_df: DataFrame,
    pc: str,
    drop_pc: "bool | str",
    table_cols: _TableColumns,
) -> DataFrame:
    """The ingest pipeline appends `log_date` (sink.partition_col) for
    the PARQUET layout — toDate(created_at), the reference DDL's
    PARTITION BY, which that DDL MATERIALIZES server-side. A ClickHouse
    target therefore usually has no insertable column of that name, and
    shipping it would fail the insert (JSONEachRow: unknown field;
    RowBinary/native: unknown batch column). Drop the derived column —
    unless the user set drop_partition_col=false, or, under "auto", the
    table's known layout lists it (then it's real data, not layout
    plumbing). Only the derived case is dropped: created_at must also
    be present."""
    if (
        pc in batch_df.columns
        and "created_at" in batch_df.columns
        and (drop_pc is True or (drop_pc == "auto" and not table_cols.lists(pc)))
    ):
        return batch_df.drop(pc)
    return batch_df


def clickhouse_http_writer(
    sink: SinkConfig,
) -> Callable[[DataFrame, int], None]:
    """ClickHouse sink over the HTTP interface (kind="clickhouse_http").
    Zero optional dependencies; inserts run per-partition on executors
    (one HTTP connection each, never per row), the same shape as the
    native writer.

    `format: "row_binary"` switches the wire encoding from
    JSONEachRow to FORMAT RowBinary (log2ck_spark/formats.py — the
    native column binary encodings, the efficiency of the reference's
    native-TCP inserts over the deployable HTTP endpoint). Column
    types — which GOVERN how the server decodes the bytes — come from,
    in order:

      * the `columns` option ("name CkType" strings, the DESCRIBE
        TABLE text) — validated HERE, writer creation, so an
        unsupported type fails at config time, not in the first
        batch's tasks;
      * omitted (the default): the writer asks the SERVER —
        `DESCRIBE TABLE` over the same endpoint at writer creation —
        and each batch inserts its DataFrame columns under the
        server's declared types. This is the only drift-proof layout
        source: inferring from the Spark schema marks nearly every
        column Nullable(T) (a per-value flag byte), which a
        non-Nullable target column misparses — byte-misaligned rows,
        i.e. corrupt data, on any real table (the reference's DDL is
        all non-Nullable);
      * `columns: "infer"`: the legacy per-batch Spark-schema
        inference (nullable → Nullable(T), timestamp → DateTime64(6)).
        ONLY correct when the target table's columns are exactly the
        inferred types — e.g. a table created from
        `formats.ck_columns_for_schema` output. Kept for that
        round-trip case and for offline tests; prefer the default.

    `compression`: "gzip" (default) | "none" — see
    http_insert_in_batches. `compression_level`: gzip level (default
    3; measured ~7× body reduction at ~150 MB/s/core on log-shaped
    JSONEachRow). `max_body_bytes` (default 64 MiB, pre-compression),
    `retries` (default 2) and `retry_backoff_s` (default 1.0) tune the
    byte-bounded flush and the transient-failure (429/5xx/connection)
    in-place retry — both documented on http_insert_in_batches.

    `dedup_token` (default true): per-flush content-hash
    `insert_deduplication_token` — replayed bodies (retry, task
    re-run, stream restart) carry the same token, so a MergeTree with
    a deduplication window absorbs them: idempotent inserts without a
    ReplacingMergeTree. `drop_partition_col`: true | false | "auto"
    (default) — "auto" drops the pipeline's derived parquet partition
    column unless the user declared it or the server's DESCRIBE lists
    it as a real insertable column (consulted on every format)."""
    table, url, batch_size, dedup_token, drop_pc, opts = _ck_options(
        sink, "clickhouse_http", "url"
    )
    user = opts.pop("user", None)
    password = opts.pop("password", None)
    fmt = str(opts.pop("format", "json_each_row")).lower()
    if fmt not in ("json_each_row", "row_binary"):
        raise ValueError(
            f"clickhouse_http sink: unknown format {fmt!r} "
            f"(expected 'json_each_row' or 'row_binary')"
        )
    # http_insert_in_batches' per-request settings, typed at config time
    insert_kw: dict[str, Any] = {
        "batch_size": batch_size,
        "user": user,
        "password": password,
        "compression": _http_compression(opts.pop("compression", "gzip")),
        "compression_level": int(opts.pop("compression_level", 3)),
        "max_body_bytes": int(opts.pop("max_body_bytes", 64 * 1024 * 1024)),
        "retries": int(opts.pop("retries", 2)),
        "retry_backoff_s": float(opts.pop("retry_backoff_s", 1.0)),
        "dedup_token": dedup_token,
    }
    declared: "list[tuple[str, str]] | None" = None
    infer_from_schema = False
    raw_cols = opts.pop("columns", None)
    if raw_cols is not None and fmt != "row_binary":
        raise ValueError(
            "clickhouse_http sink: 'columns' only applies to "
            "format='row_binary'"
        )
    if isinstance(raw_cols, str):
        if raw_cols != "infer":
            raise ValueError(
                f"clickhouse_http sink: columns={raw_cols!r} — expected "
                f"a list of 'name CkType' entries or the string 'infer'"
            )
        infer_from_schema = True
    elif raw_cols is not None:
        declared = []
        for entry in raw_cols:
            if isinstance(entry, str):
                name, _, ck_type = entry.strip().partition(" ")
            else:
                name, ck_type = entry
            if not name or not ck_type.strip():
                raise ValueError(
                    f"clickhouse_http sink: malformed column {entry!r} "
                    f"(expected 'name CkType')"
                )
            declared.append((name, ck_type.strip()))
    # everything else (database, CK settings like async_insert) rides
    # the query string — nothing is silently dropped
    params = {k: str(v) for k, v in opts.items()}

    from log2ck_spark.formats import codec_for

    table_cols = _TableColumns(
        "clickhouse_http", table,
        lambda: describe_table_columns(
            url, table, user=user, password=password, params=params
        ),
    )
    if declared is not None:
        # an explicit `columns` pin IS the wire layout — the server
        # need not be consulted: absent from the pin means the column
        # never ships
        table_cols.types = dict(declared)
    elif fmt == "row_binary" and not infer_from_schema:
        # Writer creation is the fail-loudly point: fetch the layout
        # now (an unreachable server raises here, not through the
        # warn-and-retry of `lists`), so an unreachable server never
        # starts a stream that dies in its first batch's tasks.
        table_cols.types = table_cols.describe()
    for t in (table_cols.types or {}).values():
        codec_for(t)  # config-time check: every column type encodes

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        batch_df = _drop_derived_partition_col(
            batch_df, sink.partition_col, drop_pc, table_cols
        )
        if fmt != "row_binary":
            columns = None
        elif declared is not None:
            columns = declared
        elif infer_from_schema:
            from log2ck_spark.formats import ck_columns_for_schema

            columns = ck_columns_for_schema(batch_df.schema)
        else:
            server_types = table_cols.types
            missing = [
                c for c in batch_df.columns if c not in server_types
            ]
            if missing:
                raise ValueError(
                    f"batch columns {missing} do not exist as "
                    f"insertable columns of {table} (server has: "
                    f"{sorted(server_types)}) — rename upstream or "
                    f"declare 'columns' explicitly"
                )
            columns = [(c, server_types[c]) for c in batch_df.columns]

        def _insert_partition(rows):
            http_insert_in_batches(
                url, table, rows, params=params, columns=columns, **insert_kw
            )

        batch_df.rdd.foreachPartition(_insert_partition)

    return _write


def clickhouse_native_writer(
    sink: SinkConfig,
) -> Callable[[DataFrame, int], None]:
    """ClickHouse sink over the NATIVE TCP protocol
    (kind="clickhouse_native") — the same wire the reference uses
    (`Worker.php:71-80` via lizhichao/one-ck, `composer.json:20`),
    stdlib-only (log2ck_spark/native.py). Each executor partition
    holds ONE connection (the reference's persistent-connection shape)
    and issues one INSERT query per `batch_size` rows; the server's
    typed-block handshake governs the block encoding, so the layout
    can never drift from the table (same property as the HTTP
    DESCRIBE default). Writer creation connects and pings, so an
    unreachable server or bad credentials fail at CONFIG time, not in
    the first batch's tasks.

    Options: `host` (required), `table` (required), `port` (9000),
    `database` (""), `user` ("default"), `password` (""),
    `batch_size` (10k), `timeout_s` (30), `dedup_token` (true: a
    content-hash insert_deduplication_token per batch — replays are
    absorbed by a MergeTree dedup window, same as the HTTP sink),
    `drop_partition_col` (true | false | "auto", the default: drop the
    pipeline's derived parquet partition column unless the server's
    DESCRIBE — over the native read path — lists it insertable; same
    rule and cache as the HTTP sink). Any other option rides the query
    as a ClickHouse setting string.

    WIRE EFFICIENCY: this path sends UNCOMPRESSED blocks (protocol
    compression=0 in the hello — the reference's client does the
    same, so this is parity, but it means "native" is the WORSE
    choice on a congested network). The protocol's compressed frames
    need LZ4 + CityHash128, neither in the stdlib; rather than ship a
    slow pure-Python approximation in the hot path, bandwidth-
    sensitive deployments should use kind="clickhouse_http" with
    format="row_binary" (default gzip: measured 3-7x smaller bodies,
    DEPLOY.md) — the writer logs this steer once at creation so the
    trade-off is visible where the choice is made, not only in docs."""
    table, host, batch_size, dedup_token, drop_pc, opts = _ck_options(
        sink, "clickhouse_native", "host"
    )
    port = int(opts.pop("port", 9000))
    database = str(opts.pop("database", ""))
    user = str(opts.pop("user", "default"))
    password = str(opts.pop("password", ""))
    timeout_s = float(opts.pop("timeout_s", 30.0))
    settings = {k: str(v) for k, v in opts.items()}
    # a caller-supplied insert_deduplication_token setting wins
    auto_token = dedup_token and "insert_deduplication_token" not in settings

    from log2ck_spark.native import NativeClient, content_dedup_token

    import logging as _logging

    _logging.getLogger(__name__).info(
        "clickhouse_native sink: blocks ship UNCOMPRESSED (protocol "
        "compression is not implemented — parity with the reference "
        "client); on a bandwidth-constrained link prefer "
        "kind=clickhouse_http with format=row_binary (gzip default, "
        "3-7x smaller bodies)"
    )

    def _connected(use: "Callable[[NativeClient], Any]") -> Any:
        client = NativeClient(
            host, port, database=database, user=user,
            password=password, timeout_s=timeout_s,
        )
        client.connect()
        try:
            return use(client)
        finally:
            client.close()

    # bad address or credentials fail here, at CONFIG time
    _connected(NativeClient.ping)
    table_cols = _TableColumns(
        "clickhouse_native", table,
        lambda: _connected(lambda c: c.describe_insertable_columns(table)),
    )

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        batch_df = _drop_derived_partition_col(
            batch_df, sink.partition_col, drop_pc, table_cols
        )
        names = list(batch_df.columns)

        def _insert(client, buf: list) -> None:
            rows = [r.asDict(recursive=True) for r in buf]
            batch_settings = dict(settings)
            if auto_token:
                batch_settings["insert_deduplication_token"] = (
                    content_dedup_token(table, rows, names)
                )
            client.insert(table, names, rows, batch_settings)

        def _insert_partition(rows_iter):
            _connected(lambda client: _flush_in_batches(
                rows_iter, lambda buf: _insert(client, buf), batch_size
            ))

        batch_df.rdd.foreachPartition(_insert_partition)

    return _write
