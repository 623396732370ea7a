"""ClickHouse native TCP protocol — a stdlib-only client for inserts.

The reference's whole sink is a persistent native-TCP connection
(`/root/reference/src/Worker.php:71-80,123` via `lizhichao/one-ck`,
`composer.json:20`). The repo's other two ClickHouse paths ride the
public HTTP interface; this module closes the last parity gap by
speaking the native protocol itself — the same wire a `clickhouse-
client` uses — with zero optional dependencies, so the typed-block
handshake (the server answering an INSERT with an empty block that
DECLARES the table's column names and types, which then govern the
client's block encoding) is exercisable against an in-process fake
server in tests and against a real server in deployment.

Protocol layout follows ClickHouse's public source of truth
(src/Core/Protocol.h, src/Core/ProtocolDefines.h, ClientInfo.cpp,
NativeWriter.cpp — Apache-2.0). The client PINS its protocol revision
to 54447: the negotiated revision is min(client, server), so every
conditional field below is decided by constants ≤ 54447 and the
newer-protocol features (custom serialization 54454, hello addendum
54458, password complexity 54461, chunked framing) never activate.
Bump `PROTOCOL_REVISION` only together with the guarded fields.

Insert flow (one query per flushed batch, connection reused):

  client Hello  -> server Hello (name/version/revision/timezone)
  client Query("INSERT INTO t (cols) VALUES", settings)
  client Data(empty block)          # external-tables terminator
  server Data(0-row typed block)    # THE typed-block handshake
  client Data(block of rows encoded under the server's types)
  client Data(empty block)          # end of insert data
  server Progress* / EndOfStream

Column data is NATIVE format: column-oriented, scalar value encodings
identical to RowBinary (so `formats.codec_for` is reused per value),
with the three column-level differences implemented here — Nullable
(null mask first, then values with defaults in null slots), Array
(cumulative UInt64 offsets, then the flattened inner column), and
LowCardinality (version/flags header, dictionary, then fixed-width
keys — the one type RowBinary flattens but the native block must
dictionary-encode, and the reference DDL is all LowCardinality).
"""

from __future__ import annotations

import hashlib
import re
import socket
import struct
from typing import Any, Optional

from log2ck_spark.formats import _split_top, codec_for, insertable_columns

# -- protocol constants (src/Core/Protocol.h) -------------------------------

CLIENT_HELLO = 0
CLIENT_QUERY = 1
CLIENT_DATA = 2
CLIENT_CANCEL = 3
CLIENT_PING = 4

SERVER_HELLO = 0
SERVER_DATA = 1
SERVER_EXCEPTION = 2
SERVER_PROGRESS = 3
SERVER_PONG = 4
SERVER_END_OF_STREAM = 5
SERVER_PROFILE_INFO = 6
SERVER_TOTALS = 7
SERVER_EXTREMES = 8
SERVER_TABLES_STATUS = 9
SERVER_LOG = 10
SERVER_TABLE_COLUMNS = 11
SERVER_PROFILE_EVENTS = 14

# revision gates actually reachable at PROTOCOL_REVISION = 54447
# (src/Core/ProtocolDefines.h; names abbreviated)
REV_SERVER_TIMEZONE = 54058
REV_QUOTA_KEY_IN_CLIENT_INFO = 54060
REV_SERVER_DISPLAY_NAME = 54372
REV_VERSION_PATCH = 54401
REV_CLIENT_WRITE_INFO = 54372  # written rows/bytes in Progress
REV_SETTINGS_AS_STRINGS = 54429
REV_INTERSERVER_SECRET = 54441
REV_OPENTELEMETRY = 54442
# gates ABOVE our pinned revision — kept as documentation of what a
# future bump must start emitting (dead at 54447 by construction)
REV_DISTRIBUTED_DEPTH = 54448
REV_INITIAL_QUERY_START_TIME = 54449
REV_PARALLEL_REPLICAS = 54453

PROTOCOL_REVISION = 54447
CLIENT_NAME = "log2ck-spark"
VERSION_MAJOR = 1
VERSION_MINOR = 0
VERSION_PATCH = 0

# BlockInfo on the wire: field 1 (is_overflows=0, UInt8), field 2
# (bucket_num=-1, Int32 LE), field 0 terminator — constant for every
# block a client sends (NativeWriter.cpp writes exactly this).
_BLOCK_INFO = b"\x01\x00\x02\xff\xff\xff\xff\x00"

# query processing stage (Protocol.h QueryProcessingStage::Complete)
_STAGE_COMPLETE = 2


class NativeProtocolError(RuntimeError):
    """Server-reported exception or a wire-level protocol violation."""


# -- varint / string primitives ---------------------------------------------


def _w_var(out: bytearray, n: int) -> None:
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return


def _w_str(out: bytearray, s: str) -> None:
    data = s.encode("utf-8")
    _w_var(out, len(data))
    out += data


# -- native column writers ---------------------------------------------------

_FIXED_WIDTHS: "dict[str, int]" = {
    "Int8": 1, "Int16": 2, "Int32": 4, "Int64": 8,
    "UInt8": 1, "UInt16": 2, "UInt32": 4, "UInt64": 8,
    "Int128": 16, "UInt128": 16, "Int256": 32, "UInt256": 32,
    "Float32": 4, "Float64": 8, "Bool": 1,
    "Date": 2, "Date32": 4, "UUID": 16, "IPv4": 4, "IPv6": 16,
}


def _null_filler(ck_type: str) -> bytes:
    """Bytes occupying a NULL slot inside a Nullable column's value
    stream (masked out by the null map, but the stream stays aligned —
    ClickHouse writes the nested type's default the same way)."""
    t = ck_type.strip()
    if t in _FIXED_WIDTHS:
        return b"\x00" * _FIXED_WIDTHS[t]
    if t == "String":
        return b"\x00"  # varint 0: empty string
    m = re.fullmatch(r"FixedString\((\d+)\)", t)
    if m:
        return b"\x00" * int(m.group(1))
    if t == "DateTime" or re.fullmatch(r"DateTime\('[^']+'\)", t):
        return b"\x00" * 4
    if re.fullmatch(r"DateTime64\((\d+)(?:,\s*'[^']+')?\)", t):
        return b"\x00" * 8
    m = re.fullmatch(r"Decimal\((\d+),\s*(\d+)\)", t)
    if m:
        return b"\x00" * codec_for(t).nbytes
    m = re.fullmatch(r"Enum(8|16)\(.+\)", t)
    if m:
        return b"\x00" * (1 if m.group(1) == "8" else 2)
    raise ValueError(
        f"Nullable({ck_type}): no native default filler for this "
        f"inner type"
    )


class _ColWriter:
    def write_prefix(self, out: bytearray) -> None:  # noqa: B027
        pass

    def write_data(self, values, out: bytearray) -> None:
        raise NotImplementedError


class _PlainCol(_ColWriter):
    """Scalar column: the native data stream is the per-value RowBinary
    encoding concatenated column-wise — same bytes, different order."""

    def __init__(self, ck_type: str):
        self.codec = codec_for(ck_type)

    def write_data(self, values, out: bytearray) -> None:
        enc = self.codec.encode
        for v in values:
            enc(v, out)


class _NullableCol(_ColWriter):
    def __init__(self, inner_type: str):
        self.codec = codec_for(inner_type)
        self.filler = _null_filler(inner_type)

    def write_data(self, values, out: bytearray) -> None:
        for v in values:
            out.append(1 if v is None else 0)
        enc, filler = self.codec.encode, self.filler
        for v in values:
            if v is None:
                out += filler
            else:
                enc(v, out)


class _ArrayCol(_ColWriter):
    def __init__(self, inner_type: str):
        self.inner = col_writer(inner_type)

    def write_prefix(self, out: bytearray) -> None:
        self.inner.write_prefix(out)

    def write_data(self, values, out: bytearray) -> None:
        off = 0
        for v in values:
            if v is None:
                raise ValueError(
                    "NULL in a non-Nullable Array column (native insert)"
                )
            off += len(v)
            out += struct.pack("<Q", off)
        flat = [x for v in values for x in v]
        self.inner.write_data(flat, out)


class _LowCardinalityCol(_ColWriter):
    """LowCardinality(T) native serialization: per-column UInt64
    version prefix (1 = SharedDictionariesWithAdditionalKeys), then
    per block — UInt64 flags (index width | HasAdditionalKeysBit),
    UInt64 dictionary size, the dictionary values as the NESTED type
    (a Nullable inner reserves index 0 for the default/NULL entry and
    writes NO null map), UInt64 row count, fixed-width key indexes."""

    # Official client serializers (clickhouse-driver, ch-go) set BOTH
    # bits on insert blocks: the keys travel with the block AND the
    # server must fold them into its dictionary. Matching them keeps
    # this writer on the server's well-trodden decode path (ADVICE
    # r12 — additional-keys-only was a divergence only the live test
    # exercised).
    _HAS_ADDITIONAL_KEYS = 1 << 9
    _NEED_UPDATE_DICTIONARY = 1 << 10

    def __init__(self, inner_type: str):
        m = re.fullmatch(r"Nullable\((.+)\)", inner_type.strip())
        self.nullable = bool(m)
        nested = m.group(1) if m else inner_type
        self.codec = codec_for(nested)
        self.default_filler = _null_filler(nested)

    def write_prefix(self, out: bytearray) -> None:
        out += struct.pack("<Q", 1)  # KeysSerializationVersion

    def write_data(self, values, out: bytearray) -> None:
        if not values:
            return
        base = 1 if self.nullable else 0
        index: dict[Any, int] = {}
        dict_vals: list[Any] = []
        keys: list[int] = []
        for v in values:
            if v is None:
                if not self.nullable:
                    raise ValueError(
                        "NULL in a non-Nullable LowCardinality column "
                        "(native insert)"
                    )
                keys.append(0)
                continue
            k = index.get(v)
            if k is None:
                k = len(dict_vals) + base
                index[v] = k
                dict_vals.append(v)
            keys.append(k)
        n_dict = len(dict_vals) + base
        if n_dict <= 0xFF:
            flag, fmt = 0, "<B"
        elif n_dict <= 0xFFFF:
            flag, fmt = 1, "<H"
        elif n_dict <= 0xFFFFFFFF:
            flag, fmt = 2, "<I"
        else:  # pragma: no cover — a >4B-distinct single block
            flag, fmt = 3, "<Q"
        out += struct.pack(
            "<Q",
            flag | self._HAS_ADDITIONAL_KEYS
            | self._NEED_UPDATE_DICTIONARY,
        )
        out += struct.pack("<Q", n_dict)
        if self.nullable:
            out += self.default_filler  # index 0: the NULL entry
        enc = self.codec.encode
        for v in dict_vals:
            enc(v, out)
        out += struct.pack("<Q", len(values))
        pack = struct.Struct(fmt).pack
        for k in keys:
            out += pack(k)


class _TupleCol(_ColWriter):
    def __init__(self, args: "list[str]"):
        # `name Type` (DESCRIBE's named-tuple spelling) vs bare Type:
        # a bare type never starts with `ident<space>` (its arguments
        # always follow a parenthesis), so the name match is decisive
        elem_types = []
        for arg in args:
            m = re.fullmatch(r"(`(?:[^`\\]|\\.)+`|\w+)\s+(.+)", arg)
            elem_types.append(m.group(2) if m else arg)
        self.elems = [col_writer(t) for t in elem_types]

    def write_prefix(self, out: bytearray) -> None:
        for e in self.elems:
            e.write_prefix(out)

    def write_data(self, values, out: bytearray) -> None:
        for i, e in enumerate(self.elems):
            e.write_data([v[i] for v in values], out)


def col_writer(ck_type: str) -> _ColWriter:
    t = ck_type.strip()
    m = re.fullmatch(r"Nullable\((.+)\)", t)
    if m:
        return _NullableCol(m.group(1))
    m = re.fullmatch(r"Array\((.+)\)", t)
    if m:
        return _ArrayCol(m.group(1))
    m = re.fullmatch(r"LowCardinality\((.+)\)", t)
    if m:
        return _LowCardinalityCol(m.group(1))
    m = re.fullmatch(r"Tuple\((.+)\)", t)
    if m:
        return _TupleCol(_split_top(m.group(1)))
    if re.fullmatch(r"Map\(.+\)", t):
        raise ValueError(
            f"{ck_type}: Map is not supported over the native insert "
            f"path yet — use the clickhouse_http sink (row_binary)"
        )
    return _PlainCol(t)


def encode_block(
    columns: "list[tuple[str, str]]", col_values: "list[list[Any]]"
) -> bytes:
    """Serialize one native block (without the packet type / external
    table name framing): BlockInfo, column count, row count, then each
    column as name, type, prefix, data."""
    out = bytearray()
    out += _BLOCK_INFO
    n_rows = len(col_values[0]) if col_values else 0
    _w_var(out, len(columns))
    _w_var(out, n_rows)
    for (name, t), vals in zip(columns, col_values):
        if len(vals) != n_rows:
            raise ValueError("ragged block: column lengths differ")
        _w_str(out, name)
        _w_str(out, t)
        w = col_writer(t)
        w.write_prefix(out)
        w.write_data(vals, out)
    return bytes(out)


_EMPTY_BLOCK = _BLOCK_INFO + b"\x00\x00"  # 0 columns, 0 rows


# -- connection ---------------------------------------------------------------


class _Reader:
    """Buffered exact-read wrapper over a socket."""

    def __init__(self, sock: socket.socket):
        self._sock = sock
        self._buf = b""
        self._pos = 0

    def read(self, n: int) -> bytes:
        # Consume via an offset into one buffer and collect incoming
        # chunks in a list joined once per refill — `buf += chunk` +
        # per-call slicing is O(total²) byte copying when a server
        # block (a large LowCardinality dictionary, a wide DESCRIBE)
        # spans many recv() chunks (ADVICE r12).
        avail = len(self._buf) - self._pos
        if avail < n:
            chunks = [self._buf[self._pos:]] if avail else []
            while avail < n:
                chunk = self._sock.recv(max(65536, n - avail))
                if not chunk:
                    raise NativeProtocolError(
                        "server closed the connection mid-packet"
                    )
                chunks.append(chunk)
                avail += len(chunk)
            self._buf = b"".join(chunks)
            self._pos = 0
        out = self._buf[self._pos:self._pos + n]
        self._pos += n
        if self._pos >= len(self._buf):
            self._buf, self._pos = b"", 0
        return out

    def read_var(self) -> int:
        shift = n = 0
        while True:
            b = self.read(1)[0]
            n |= (b & 0x7F) << shift
            if not b & 0x80:
                return n
            shift += 7
            if shift > 63:
                raise NativeProtocolError("varint overflow")

    def read_str(self) -> str:
        return self.read(self.read_var()).decode("utf-8")


class NativeClient:
    """One TCP connection to a ClickHouse server, INSERT-only.

    Mirrors the reference worker's lifecycle: connect once, insert
    many batches (`Worker.php:71-80` — one insert call per flush),
    close on shutdown. Each `insert()` is one full query round-trip,
    so a per-batch `insert_deduplication_token` setting applies to
    exactly that batch's block."""

    def __init__(
        self,
        host: str,
        port: int = 9000,
        database: str = "",
        user: str = "default",
        password: str = "",
        timeout_s: float = 30.0,
        client_hostname: "str | None" = None,
    ):
        self.host, self.port = host, int(port)
        self.database, self.user, self.password = database, user, password
        self.timeout_s = timeout_s
        if client_hostname is None:
            client_hostname = socket.gethostname()
        self.client_hostname = client_hostname
        self._sock: Optional[socket.socket] = None
        self._reader: Optional[_Reader] = None
        self.server_info: "dict[str, Any]" = {}
        self.effective_revision = PROTOCOL_REVISION

    # -- wire helpers

    def _send(self, data: bytes) -> None:
        assert self._sock is not None
        self._sock.sendall(data)

    # -- handshake

    def connect(self) -> None:
        self._sock = socket.create_connection(
            (self.host, self.port), timeout=self.timeout_s
        )
        self._sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
        self._reader = _Reader(self._sock)
        self._send(client_hello_bytes(
            self.database, self.user, self.password
        ))
        r = self._reader
        pkt = r.read_var()
        if pkt == SERVER_EXCEPTION:
            raise self._read_exception()
        if pkt != SERVER_HELLO:
            raise NativeProtocolError(
                f"expected server Hello, got packet {pkt}"
            )
        name = r.read_str()
        major, minor, srv_rev = r.read_var(), r.read_var(), r.read_var()
        eff = min(PROTOCOL_REVISION, srv_rev)
        if eff < REV_SETTINGS_AS_STRINGS:
            # the query/client-info framing below assumes the
            # 54429+ layout; servers this old predate every
            # ClickHouse release since 2020 — fail at connect, not
            # with a misframed query packet
            raise NativeProtocolError(
                f"server protocol revision {srv_rev} too old "
                f"(need >= {REV_SETTINGS_AS_STRINGS})"
            )
        self.effective_revision = eff
        info: dict[str, Any] = {
            "name": name, "version": (major, minor), "revision": srv_rev,
        }
        if eff >= REV_SERVER_TIMEZONE:
            info["timezone"] = r.read_str()
        if eff >= REV_SERVER_DISPLAY_NAME:
            info["display_name"] = r.read_str()
        if eff >= REV_VERSION_PATCH:
            info["patch"] = r.read_var()
        self.server_info = info

    def close(self) -> None:
        if self._sock is not None:
            try:
                self._sock.close()
            finally:
                self._sock = None
                self._reader = None

    def ping(self) -> bool:
        out = bytearray()
        _w_var(out, CLIENT_PING)
        self._send(bytes(out))
        assert self._reader is not None
        while True:
            pkt = self._reader.read_var()
            if pkt == SERVER_PONG:
                return True
            if pkt == SERVER_PROGRESS:
                self._read_progress()
                continue
            if pkt == SERVER_EXCEPTION:
                raise self._read_exception()
            raise NativeProtocolError(f"unexpected packet {pkt} to Ping")

    # -- packets

    def _query_packet(
        self, query: str, settings: "dict[str, str] | None"
    ) -> bytes:
        eff = self.effective_revision
        out = bytearray()
        _w_var(out, CLIENT_QUERY)
        _w_str(out, "")  # query_id: let the server assign one
        # ClientInfo (ClientInfo.cpp::write, field order is load-bearing)
        out.append(1)  # query_kind = INITIAL_QUERY
        _w_str(out, "")  # initial_user
        _w_str(out, "")  # initial_query_id
        _w_str(out, "0.0.0.0:0")  # initial_address
        if eff >= REV_INITIAL_QUERY_START_TIME:  # pragma: no cover
            out += struct.pack("<q", 0)
        out.append(1)  # interface = TCP
        _w_str(out, self.user)  # os_user (informational)
        _w_str(out, self.client_hostname)
        _w_str(out, CLIENT_NAME)
        _w_var(out, VERSION_MAJOR)
        _w_var(out, VERSION_MINOR)
        _w_var(out, PROTOCOL_REVISION)
        if eff >= REV_QUOTA_KEY_IN_CLIENT_INFO:
            _w_str(out, "")
        if eff >= REV_DISTRIBUTED_DEPTH:  # pragma: no cover
            _w_var(out, 0)
        if eff >= REV_VERSION_PATCH:
            _w_var(out, VERSION_PATCH)
        if eff >= REV_OPENTELEMETRY:
            out.append(0)  # no trace context
        if eff >= REV_PARALLEL_REPLICAS:  # pragma: no cover
            _w_var(out, 0)
            _w_var(out, 0)
            _w_var(out, 0)
        # settings, serialized as strings (eff >= 54429, enforced at
        # connect): name, flags varint (0 = not important), value;
        # "" terminates
        for k, v in (settings or {}).items():
            _w_str(out, k)
            _w_var(out, 0)
            _w_str(out, str(v))
        _w_str(out, "")
        if eff >= REV_INTERSERVER_SECRET:
            _w_str(out, "")
        _w_var(out, _STAGE_COMPLETE)
        _w_var(out, 0)  # compression: off (blocks framed raw)
        _w_str(out, query)
        return bytes(out)

    def _send_block(
        self,
        columns: "list[tuple[str, str]]",
        col_values: "list[list[Any]]",
    ) -> None:
        out = bytearray()
        _w_var(out, CLIENT_DATA)
        _w_str(out, "")  # external/temp table name: none
        if columns:
            body = encode_block(columns, col_values)
        else:
            body = _EMPTY_BLOCK
        self._send(bytes(out) + body)

    # -- server packet parsing

    def _read_exception(self) -> NativeProtocolError:
        r = self._reader
        assert r is not None
        parts = []
        while True:
            code = struct.unpack("<i", r.read(4))[0]
            name = r.read_str()
            message = r.read_str()
            r.read_str()  # stack trace: not surfaced
            has_nested = r.read(1)[0]
            parts.append(f"[{code}] {name}: {message}")
            if not has_nested:
                break
        return NativeProtocolError(" <- ".join(parts))

    def _read_progress(self) -> None:
        r = self._reader
        assert r is not None
        r.read_var()  # read_rows
        r.read_var()  # read_bytes
        r.read_var()  # total_rows_to_read
        if self.effective_revision >= REV_CLIENT_WRITE_INFO:
            r.read_var()  # written_rows
            r.read_var()  # written_bytes

    def _read_profile_info(self) -> None:
        r = self._reader
        assert r is not None
        r.read_var()  # rows
        r.read_var()  # blocks
        r.read_var()  # bytes
        r.read(1)  # applied_limit
        r.read_var()  # rows_before_limit
        r.read(1)  # calculated_rows_before_limit

    def _read_typed_header(self) -> "list[tuple[str, str]]":
        """Read a server Data packet that must carry ZERO rows — the
        typed-block handshake. Returns the declared (name, type)
        pairs; consumes per-column serialization prefixes (the UInt64
        LowCardinality version) so the stream stays aligned."""
        header, n_rows, _vals = self._read_server_block(decode=False)
        if n_rows != 0:
            raise NativeProtocolError(
                f"expected a 0-row typed block, got {n_rows} rows"
            )
        return header

    def _read_server_block(self, decode: bool):
        """Parse one server Data packet body. With decode=False any
        non-empty block is a protocol error (the INSERT flow only
        ever expects typed headers); with decode=True string-family
        columns (String / LowCardinality / Nullable thereof) are
        materialized — enough for DESCRIBE/SHOW/system-table results,
        which is all the read side this sink needs."""
        r = self._reader
        assert r is not None
        r.read_str()  # external table name
        while True:  # BlockInfo: field-number-prefixed pairs until 0
            field = r.read_var()
            if field == 0:
                break
            if field == 1:
                r.read(1)  # is_overflows
            elif field == 2:
                r.read(4)  # bucket_num
            else:
                raise NativeProtocolError(
                    f"unknown BlockInfo field {field}"
                )
        n_cols = r.read_var()
        n_rows = r.read_var()
        header: list[tuple[str, str]] = []
        values: list[list] = []
        for _ in range(n_cols):
            name = r.read_str()
            t = r.read_str()
            header.append((name, t))
            if n_rows == 0:
                self._consume_prefix(t)
                continue
            if not decode:
                raise NativeProtocolError(
                    f"unexpected {n_rows}-row data block"
                )
            values.append(self._decode_string_column(t, n_rows))
        return header, n_rows, values

    def _decode_string_column(self, ck_type: str, n_rows: int) -> list:
        r = self._reader
        assert r is not None
        t = ck_type.strip()
        if t == "String":
            return [r.read_str() for _ in range(n_rows)]
        m = re.fullmatch(r"Nullable\((.+)\)", t)
        if m:
            if m.group(1).strip() != "String":
                raise NativeProtocolError(
                    f"native read supports string columns only, got "
                    f"{ck_type}"
                )
            mask = [r.read(1)[0] for _ in range(n_rows)]
            vals = [r.read_str() for _ in range(n_rows)]
            return [None if b else v for b, v in zip(mask, vals)]
        m = re.fullmatch(r"LowCardinality\((.+)\)", t)
        if m:
            inner = m.group(1).strip()
            nm = re.fullmatch(r"Nullable\((.+)\)", inner)
            nullable = bool(nm)
            nested = (nm.group(1) if nm else inner).strip()
            if nested != "String":
                raise NativeProtocolError(
                    f"native read supports string columns only, got "
                    f"{ck_type}"
                )
            version = struct.unpack("<Q", r.read(8))[0]
            if version != 1:
                raise NativeProtocolError(
                    f"unsupported LowCardinality keys version {version}"
                )
            flags = struct.unpack("<Q", r.read(8))[0]
            width = (1, 2, 4, 8)[flags & 0xFF]
            n_dict = struct.unpack("<Q", r.read(8))[0]
            dict_vals = [r.read_str() for _ in range(n_dict)]
            n_keys = struct.unpack("<Q", r.read(8))[0]
            if n_keys != n_rows:
                raise NativeProtocolError("LowCardinality key mismatch")
            fmt = {1: "<B", 2: "<H", 4: "<I", 8: "<Q"}[width]
            keys = [
                struct.unpack(fmt, r.read(width))[0]
                for _ in range(n_rows)
            ]
            if nullable:
                return [None if k == 0 else dict_vals[k] for k in keys]
            return [dict_vals[k] for k in keys]
        raise NativeProtocolError(
            f"native read supports string columns only, got {ck_type}"
        )

    def query_string_rows(
        self, query: str, settings: "dict[str, str] | None" = None
    ) -> "list[tuple]":
        """Run a query whose result is all string-family columns
        (DESCRIBE TABLE, SHOW, system tables) and return its rows.
        This is the read surface the sink needs — full typed reads
        stay with Spark/the HTTP formats."""
        if self._reader is None:
            raise NativeProtocolError("not connected")
        self._send(self._query_packet(query, settings))
        self._send_block([], [])  # no external tables
        r = self._reader
        rows: list[tuple] = []
        while True:
            pkt = r.read_var()
            if pkt == SERVER_END_OF_STREAM:
                return rows
            if pkt == SERVER_DATA:
                _hdr, n_rows, values = self._read_server_block(
                    decode=True
                )
                if n_rows:
                    rows.extend(zip(*values))
            elif pkt == SERVER_PROGRESS:
                self._read_progress()
            elif pkt == SERVER_PROFILE_INFO:
                self._read_profile_info()
            elif pkt in (SERVER_TOTALS, SERVER_EXTREMES):
                self._read_server_block(decode=True)
            elif pkt == SERVER_TABLE_COLUMNS:
                r.read_str()
                r.read_str()
            elif pkt == SERVER_EXCEPTION:
                raise self._read_exception()
            else:
                raise NativeProtocolError(
                    f"unexpected packet {pkt} reading query result"
                )

    def describe_insertable_columns(self, table: str) -> "dict[str, str]":
        """{name: type} of the table's INSERTABLE columns via DESCRIBE
        over this connection — MATERIALIZED/ALIAS columns dropped by
        the same rule sink.describe_table_columns applies over HTTP
        (formats.insertable_columns)."""
        return insertable_columns(
            table, self.query_string_rows(f"DESCRIBE TABLE {table}")
        )

    def _consume_prefix(self, ck_type: str) -> None:
        r = self._reader
        assert r is not None
        t = ck_type.strip()
        m = re.fullmatch(r"LowCardinality\(.+\)", t)
        if m:
            version = struct.unpack("<Q", r.read(8))[0]
            if version != 1:
                raise NativeProtocolError(
                    f"unsupported LowCardinality keys version {version}"
                )
            return
        m = re.fullmatch(r"Array\((.+)\)", t)
        if m:
            self._consume_prefix(m.group(1))
            return
        m = re.fullmatch(r"Tuple\((.+)\)", t)
        if m:
            for arg in _split_top(m.group(1)):
                nm = re.fullmatch(r"(`(?:[^`\\]|\\.)+`|\w+)\s+(.+)", arg)
                self._consume_prefix(nm.group(2) if nm else arg)
            return
        # scalars / Nullable(scalar): no prefix at revision 54447

    # -- the insert round-trip

    def insert(
        self,
        table: str,
        column_names: "list[str]",
        rows: "list[dict[str, Any]]",
        settings: "dict[str, str] | None" = None,
    ) -> int:
        """One INSERT query: typed-block handshake, one data block
        carrying `rows`, end-of-data, wait for EndOfStream. Returns the
        row count. The server's declared types (not a local guess)
        govern the block encoding — the drift-proof property the
        DESCRIBE-based HTTP path gets, natively."""
        if self._reader is None:
            raise NativeProtocolError("not connected")
        from log2ck_spark.sink import _quote_ident

        col_list = ", ".join(_quote_ident(n) for n in column_names)
        query = f"INSERT INTO {table} ({col_list}) VALUES"
        self._send(self._query_packet(query, settings))
        self._send_block([], [])  # no external tables

        r = self._reader
        header: "list[tuple[str, str]] | None" = None
        while header is None:
            pkt = r.read_var()
            if pkt == SERVER_DATA:
                header = self._read_typed_header()
            elif pkt == SERVER_TABLE_COLUMNS:
                r.read_str()
                r.read_str()
            elif pkt == SERVER_PROGRESS:
                self._read_progress()
            elif pkt == SERVER_EXCEPTION:
                raise self._read_exception()
            else:
                raise NativeProtocolError(
                    f"unexpected packet {pkt} before typed block"
                )

        declared = {n for n, _t in header}
        missing = [n for n in column_names if n not in declared]
        if missing:
            raise NativeProtocolError(
                f"server's typed block lacks columns {missing}"
            )
        col_values = [[row.get(name) for row in rows] for name, _t in header]
        if rows:
            self._send_block(header, col_values)
        self._send_block([], [])  # end of insert data

        while True:
            pkt = r.read_var()
            if pkt == SERVER_END_OF_STREAM:
                return len(rows)
            if pkt == SERVER_PROGRESS:
                self._read_progress()
            elif pkt == SERVER_PROFILE_INFO:
                self._read_profile_info()
            elif pkt == SERVER_DATA:
                self._read_typed_header()  # tolerate 0-row acks
            elif pkt == SERVER_TABLE_COLUMNS:
                r.read_str()
                r.read_str()
            elif pkt == SERVER_EXCEPTION:
                raise self._read_exception()
            else:
                raise NativeProtocolError(
                    f"unexpected packet {pkt} awaiting EndOfStream"
                )


def client_hello_bytes(database: str, user: str, password: str) -> bytes:
    """The client Hello packet — the handshake's golden bytes
    (asserted literally in tests/test_native_tcp.py)."""
    out = bytearray()
    _w_var(out, CLIENT_HELLO)
    _w_str(out, CLIENT_NAME)
    _w_var(out, VERSION_MAJOR)
    _w_var(out, VERSION_MINOR)
    _w_var(out, PROTOCOL_REVISION)
    _w_str(out, database)
    _w_str(out, user)
    _w_str(out, password)
    return bytes(out)


def content_dedup_token(table: str, rows, column_names) -> str:
    """Deterministic per-batch `insert_deduplication_token`: sha256
    over the canonical text rendering of the rows — replays of the
    same batch (task re-run, stream restart) derive the same token,
    so a MergeTree with a dedup window absorbs them. Mirrors the HTTP
    sink's content-hash token (sink.http_insert_in_batches)."""
    h = hashlib.sha256()
    h.update(table.encode())
    for name in column_names:
        h.update(b"\0")
        h.update(str(name).encode())
    for row in rows:
        h.update(b"\1")
        for name in column_names:
            h.update(repr(row.get(name)).encode())
            h.update(b"\0")
    return h.hexdigest()
