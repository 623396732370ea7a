"""ClickHouse RowBinary encoding — the compact binary insert format.

The reference inserts over the native TCP protocol
(`/root/reference/composer.json:20`, `src/Worker.php:71-80`); this
repo's CK sink speaks the public HTTP interface. JSONEachRow (the
default) is debuggable but pays JSON text encode + server-side parse
per value. `FORMAT RowBinary` over the same HTTP endpoint carries the
values in the native column binary encodings — fixed-width
little-endian numerics, LEB128-length strings — which is the bulk of
the native protocol's efficiency without the TCP framing or an
optional client lib. The format is published in ClickHouse's
interfaces/formats documentation; every encoding below follows that
public spec:

  * UInt8/16/32/64, Int8/16/32/64 — little-endian fixed width
  * Float32/64 — IEEE little-endian (non-finite values ride natively,
    unlike JSONEachRow where they must degrade to null)
  * Bool — one byte 0/1
  * String — LEB128 varint byte length + raw bytes (str → UTF-8;
    bytes pass through untouched, so BINARY columns need no base64)
  * Date — UInt16 days since 1970-01-01 (CK range 1970..2149);
    Date32 — Int32 days (signed, pre-1970 representable)
  * DateTime — UInt32 epoch seconds; DateTime64(p) — Int64 ticks at
    10^-p seconds, computed in exact integer arithmetic (a float
    multiply drops microseconds past epoch ~2.8e8 s)
  * Decimal(P,S) — the scaled integer value·10^S in the tier's width:
    Int32 (P≤9), Int64 (P≤18), Int128 (P≤38), Int256 (P≤76), all LE;
    Int128/UInt128/Int256/UInt256 — little-endian fixed width
  * Nullable(T) — one flag byte (0 = value follows, 1 = NULL)
  * Array(T) — LEB128 element count + encoded elements
  * FixedString(N) — exactly N raw bytes (shorter input zero-padded,
    longer rejected); UUID — two little-endian UInt64 halves;
    IPv4 — UInt32; IPv6 — 16 network-order bytes
  * Enum8/Enum16 — the mapped member value as Int8/Int16 (member
    names and values validated client-side; the server doesn't)
  * Map(K, V) — LEB128 entry count + interleaved key/value encodings;
    Tuple(...) / Tuple(name T, ...) — concatenated elements

Out-of-range values (a pre-1970 DateTime, a Date past 2149, an int
too wide for its declared width) raise ValueError — failing the Spark
task loudly, the same correct-by-crash posture as ANSI mode —
because RowBinary has no server-side parse step left to catch a
mangled value; silent modular wraparound would be data corruption.

Column types are declared as ClickHouse type strings (the same text a
user reads from `DESCRIBE TABLE`), or inferred from a Spark schema by
`ck_columns_for_schema` (nullable Spark fields become Nullable(T)).
Both the parser and the inferrer run at WRITER CREATION so an
unsupported type is a config-time error, not a first-batch task
failure (sink.writer_for's fail-loudly contract).
"""

from __future__ import annotations

import datetime as _dt
import decimal as _decimal
import operator as _op
import re
import struct
from collections.abc import Iterator

_EPOCH_DATE = _dt.date(1970, 1, 1)
_UTC = _dt.timezone.utc

_INT_SPECS = {
    "Int8": ("<b", None), "Int16": ("<h", None),
    "Int32": ("<i", None), "Int64": ("<q", None),
    "UInt8": ("<B", None), "UInt16": ("<H", None),
    "UInt32": ("<I", None), "UInt64": ("<Q", None),
}


def _varint(n: int) -> bytes:
    """Unsigned LEB128 — CK's length/count prefix encoding."""
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _epoch_us(v: _dt.datetime) -> int:
    """Exact integer microseconds since the epoch, UTC. Spark hands
    naive datetimes (session is forced UTC); a tz-aware one is
    normalized to its UTC instant — same policy as the JSONEachRow
    serializer."""
    if v.tzinfo is not None:
        v = v.astimezone(_UTC)
    else:
        v = v.replace(tzinfo=_UTC)
    days = (v.date() - _EPOCH_DATE).days
    secs = days * 86400 + v.hour * 3600 + v.minute * 60 + v.second
    return secs * 1_000_000 + v.microsecond


class _Codec:
    """One column type's encoder. Subclasses encode ONE value to the
    buffer; Nullable/Array compose them."""

    def encode(self, v, out: bytearray) -> None:  # pragma: no cover
        raise NotImplementedError

    def _null_rejected(self, ck_type: str):
        return ValueError(
            f"NULL in non-Nullable RowBinary column ({ck_type}) — "
            f"declare the column Nullable(...) or filter upstream"
        )


class _IntCodec(_Codec):
    def __init__(self, ck_type: str):
        self.ck_type = ck_type
        self.fmt = _INT_SPECS[ck_type][0]

    def encode(self, v, out: bytearray) -> None:
        if v is None:
            raise self._null_rejected(self.ck_type)
        try:
            out += struct.pack(self.fmt, v)
        except struct.error as e:
            raise ValueError(
                f"value {v!r} out of range for {self.ck_type}"
            ) from e


class _FloatCodec(_Codec):
    def __init__(self, ck_type: str):
        self.ck_type = ck_type
        self.fmt = "<f" if ck_type == "Float32" else "<d"

    def encode(self, v, out: bytearray) -> None:
        if v is None:
            raise self._null_rejected(self.ck_type)
        out += struct.pack(self.fmt, float(v))


class _BoolCodec(_Codec):
    def encode(self, v, out: bytearray) -> None:
        if v is None:
            raise self._null_rejected("Bool")
        out.append(1 if v else 0)


class _StringCodec(_Codec):
    def encode(self, v, out: bytearray) -> None:
        if v is None:
            raise self._null_rejected("String")
        b = v if isinstance(v, (bytes, bytearray)) else str(v).encode("utf-8")
        out += _varint(len(b))
        out += bytes(b)


class _DateCodec(_Codec):
    """Date → UInt16 days (1970..2149); Date32 → Int32 days."""

    def __init__(self, wide: bool):
        self.wide = wide

    def encode(self, v, out: bytearray) -> None:
        if v is None:
            raise self._null_rejected("Date32" if self.wide else "Date")
        if isinstance(v, _dt.datetime):
            v = v.date()
        days = (v - _EPOCH_DATE).days
        fmt = "<i" if self.wide else "<H"
        try:
            out += struct.pack(fmt, days)
        except struct.error as e:
            raise ValueError(
                f"date {v.isoformat()} outside "
                f"{'Date32' if self.wide else 'Date (1970..2149)'} range"
            ) from e


class _DateTimeCodec(_Codec):
    """DateTime → UInt32 epoch seconds; DateTime64(p) → Int64 ticks.

    Sub-second precision contract: a plain DateTime column is
    second-granular, so a timestamp's microseconds are TRUNCATED
    toward the floor — the same thing ClickHouse itself does when a
    fractional text timestamp lands in a DateTime column, and the
    unavoidable semantics of the UInt32-seconds wire slot. This is the
    module's one deliberate lossy conversion (documented, matching the
    server); declare DateTime64(6) to keep microseconds. DateTime64
    tick counts that overflow Int64 (a far-future instant at p=9)
    raise ValueError like every other out-of-range value here."""

    def __init__(self, precision: "int | None"):
        self.precision = precision

    def encode(self, v, out: bytearray) -> None:
        if v is None:
            raise self._null_rejected(
                "DateTime" if self.precision is None
                else f"DateTime64({self.precision})"
            )
        us = _epoch_us(v)
        if self.precision is None:
            secs, frac = divmod(us, 1_000_000)
            try:
                out += struct.pack("<I", secs)
            except struct.error as e:
                raise ValueError(
                    f"timestamp {v} outside DateTime (UInt32 epoch) range"
                    " — use DateTime64 for pre-1970 or post-2106 instants"
                ) from e
        else:
            p = self.precision
            # exact integer rescale, never a float multiply
            if p >= 6:
                ticks = us * 10 ** (p - 6)
            else:
                ticks = us // 10 ** (6 - p)
            try:
                out += struct.pack("<q", ticks)
            except struct.error as e:
                # e.g. year 9999 at p=9: 2.5e20 ticks > Int64 — the
                # same loud ValueError contract as every other
                # out-of-range value (a bare struct.error here would
                # escape the documented error type)
                raise ValueError(
                    f"timestamp {v} outside DateTime64({p}) Int64 tick"
                    " range — lower the precision"
                ) from e


class _WideIntCodec(_Codec):
    """Int128/UInt128/Int256/UInt256: fixed-width little-endian,
    exactly like the narrow integers but beyond struct.pack's widths —
    int.to_bytes carries the same contract (OverflowError on
    out-of-range → the module's ValueError)."""

    def __init__(self, ck_type: str, nbytes: int, signed: bool):
        self.ck_type, self.nbytes, self.signed = ck_type, nbytes, signed

    def encode(self, v, out: bytearray) -> None:
        if v is None:
            raise self._null_rejected(self.ck_type)
        try:
            # operator.index, not int(): int(3.9) silently truncates
            # and int("7") silently coerces — the narrow codecs raise
            # on both (struct.pack requires a real integer), and the
            # wide widths must honor the same fail-loud contract
            out += _op.index(v).to_bytes(
                self.nbytes, "little", signed=self.signed
            )
        except (OverflowError, ValueError, TypeError) as e:
            raise ValueError(
                f"value {v!r} out of range for {self.ck_type}"
            ) from e


class _DecimalCodec(_Codec):
    """Decimal(P,S) as the scaled integer value·10^S — in the width
    ClickHouse's RowBinary uses for that precision tier: Decimal32
    (P 1..9) is an Int32, Decimal64 (P 10..18) an Int64, Decimal128
    (P 19..38) an Int128, Decimal256 (P 39..76) an Int256 — all
    little-endian. Getting the width wrong doesn't fail one value —
    it misaligns every byte of the row stream after it."""

    def __init__(self, precision: int, scale: int):
        if not 1 <= precision <= 76:
            raise ValueError(
                f"Decimal({precision},{scale}): ClickHouse precision "
                f"is 1..76"
            )
        self.precision, self.scale = precision, scale
        if precision <= 9:
            self.nbytes = 4
        elif precision <= 18:
            self.nbytes = 8
        elif precision <= 38:
            self.nbytes = 16
        else:
            self.nbytes = 32
        # a P-digit decimal's scaled integer is bounded by 10^P
        self.bound = 10 ** precision

    def encode(self, v, out: bytearray) -> None:
        if v is None:
            raise self._null_rejected(
                f"Decimal({self.precision},{self.scale})"
            )
        try:
            with _decimal.localcontext() as ctx:
                # default context is 28 significant digits — a wide
                # Decimal(76) value would silently round mid-scaleb
                ctx.prec = 100
                q = int(
                    _decimal.Decimal(v)
                    .scaleb(self.scale)
                    .to_integral_exact(rounding=_decimal.ROUND_HALF_UP)
                )
        except (_decimal.InvalidOperation, ValueError, TypeError) as e:
            raise ValueError(
                f"value {v!r} is not encodable as "
                f"Decimal({self.precision},{self.scale})"
            ) from e
        # enforce the DECLARED precision, not just the storage width:
        # ClickHouse does not re-validate Decimal ranges on binary
        # input, so an overflow here would land as corrupt data
        if not -self.bound < q < self.bound:
            raise ValueError(
                f"value {v!r} exceeds Decimal({self.precision},"
                f"{self.scale}) precision"
            )
        out += q.to_bytes(self.nbytes, "little", signed=True)


class _FixedStringCodec(_Codec):
    """FixedString(N): exactly N raw bytes, no length prefix. Shorter
    input is zero-padded (what the server itself does for text-format
    inserts); LONGER input raises — the server would reject it, and a
    silent truncation would be data corruption."""

    def __init__(self, n: int):
        if n <= 0:
            raise ValueError(f"FixedString({n}): N must be positive")
        self.n = n

    def encode(self, v, out: bytearray) -> None:
        if v is None:
            raise self._null_rejected(f"FixedString({self.n})")
        b = v if isinstance(v, (bytes, bytearray)) else str(v).encode("utf-8")
        if len(b) > self.n:
            raise ValueError(
                f"value of {len(b)} bytes exceeds FixedString({self.n})"
            )
        out += bytes(b)
        out += b"\x00" * (self.n - len(b))


class _UUIDCodec(_Codec):
    """UUID: 16 bytes on the wire as TWO little-endian UInt64 halves
    (most-significant half first) — ClickHouse's documented UUID
    binary layout, NOT the RFC 4122 big-endian byte string. Getting
    this wrong doesn't fail the insert; it lands byte-swapped UUIDs."""

    def encode(self, v, out: bytearray) -> None:
        import uuid as _uuid

        if v is None:
            raise self._null_rejected("UUID")
        try:
            u = v if isinstance(v, _uuid.UUID) else _uuid.UUID(str(v))
        except (ValueError, AttributeError, TypeError) as e:
            raise ValueError(f"value {v!r} is not a UUID") from e
        hi = int.from_bytes(u.bytes[:8], "big")
        lo = int.from_bytes(u.bytes[8:], "big")
        out += struct.pack("<QQ", hi, lo)


class _EnumCodec(_Codec):
    """Enum8/Enum16: the mapped integer in Int8/Int16 width. Accepts
    the member NAME (the natural Spark-side string) or a raw member
    value; anything outside the declared members raises — the server
    does not re-validate binary enum input, so an unchecked value
    would land as corrupt data."""

    def __init__(self, wide: bool, members: "dict[str, int]"):
        self.wide = wide
        self.members = members
        self.values = set(members.values())
        self.fmt = "<h" if wide else "<b"
        self.name = "Enum16" if wide else "Enum8"

    def encode(self, v, out: bytearray) -> None:
        if v is None:
            raise self._null_rejected(self.name)
        if isinstance(v, bool):
            raise ValueError(f"value {v!r} is not a member of {self.name}")
        if isinstance(v, int):
            if v not in self.values:
                raise ValueError(
                    f"{v} is not a declared {self.name} value "
                    f"(declared: {sorted(self.values)})"
                )
            n = v
        else:
            try:
                n = self.members[str(v)]
            except KeyError:
                raise ValueError(
                    f"{v!r} is not a declared {self.name} member "
                    f"(declared: {sorted(self.members)})"
                ) from None
        out += struct.pack(self.fmt, n)


class _IPv4Codec(_Codec):
    """IPv4: UInt32 of the address, little-endian on the wire (the
    address's numeric value packed like any other UInt32)."""

    def encode(self, v, out: bytearray) -> None:
        import ipaddress as _ip

        if v is None:
            raise self._null_rejected("IPv4")
        try:
            addr = _ip.IPv4Address(v)
        except (ValueError, TypeError) as e:
            raise ValueError(f"value {v!r} is not an IPv4 address") from e
        out += struct.pack("<I", int(addr))


class _IPv6Codec(_Codec):
    """IPv6: the 16 address bytes in network order (big-endian), as
    the server stores them. An IPv4 value is accepted via its
    ::ffff:a.b.c.d mapped form — same as CK's IPv4→IPv6 cast."""

    def encode(self, v, out: bytearray) -> None:
        import ipaddress as _ip

        if v is None:
            raise self._null_rejected("IPv6")
        try:
            addr = _ip.ip_address(v)
        except (ValueError, TypeError) as e:
            raise ValueError(f"value {v!r} is not an IP address") from e
        if isinstance(addr, _ip.IPv4Address):
            addr = _ip.IPv6Address(f"::ffff:{addr}")
        out += addr.packed


class _MapCodec(_Codec):
    """Map(K, V): LEB128 entry count, then each entry's key and value
    encoded consecutively — the published Map wire layout."""

    def __init__(self, key: _Codec, value: _Codec, ck_type: str):
        self.key, self.value, self.ck_type = key, value, ck_type

    def encode(self, v, out: bytearray) -> None:
        if v is None:
            raise self._null_rejected(self.ck_type)
        items = v.items() if isinstance(v, dict) else v
        pairs = list(items)
        out += _varint(len(pairs))
        for k, x in pairs:
            self.key.encode(k, out)
            self.value.encode(x, out)


class _TupleCodec(_Codec):
    """Tuple(T1, ..., Tn) / named Tuple(a T1, ...): the element
    encodings concatenated, no count prefix (arity is part of the
    type). Values may be Row/tuple/list (positional) or dict (named
    tuples only)."""

    def __init__(self, fields: "list[tuple[str | None, _Codec]]",
                 ck_type: str):
        self.fields, self.ck_type = fields, ck_type

    def encode(self, v, out: bytearray) -> None:
        if v is None:
            raise self._null_rejected(self.ck_type)
        if hasattr(v, "asDict"):
            v = tuple(v)
        if isinstance(v, dict):
            try:
                v = tuple(v[name] for name, _c in self.fields)
            except KeyError as e:
                raise ValueError(
                    f"tuple value {sorted(v)} is missing field {e} "
                    f"declared by {self.ck_type}"
                ) from None
        if len(v) != len(self.fields):
            raise ValueError(
                f"tuple value of arity {len(v)} does not match "
                f"{self.ck_type}"
            )
        for x, (_name, codec) in zip(v, self.fields):
            codec.encode(x, out)


class _NullableCodec(_Codec):
    def __init__(self, inner: _Codec):
        self.inner = inner

    def encode(self, v, out: bytearray) -> None:
        if v is None:
            out.append(1)
        else:
            out.append(0)
            self.inner.encode(v, out)


class _ArrayCodec(_Codec):
    def __init__(self, inner: _Codec):
        self.inner = inner

    def encode(self, v, out: bytearray) -> None:
        if v is None:
            raise self._null_rejected("Array(...)")
        out += _varint(len(v))
        for x in v:
            self.inner.encode(x, out)


def _split_top(s: str) -> "list[str]":
    """Split a type-argument list on TOP-LEVEL commas only —
    parentheses nest (Map(String, Array(Int64))), single-quoted
    literals may contain commas and backslash-escaped quotes
    (Enum8('a,b' = 1)), and backtick-quoted identifiers (named Tuple
    fields with hostile names: Tuple(`a,b` Int64, c String)) follow
    the same escape rules — DESCRIBE emits both quote kinds."""
    parts, depth, quote, cur, i = [], 0, "", [], 0
    while i < len(s):
        c = s[i]
        if quote:
            cur.append(c)
            if c == "\\" and i + 1 < len(s):
                cur.append(s[i + 1])
                i += 1
            elif c == quote:
                quote = ""
        elif c in ("'", "`"):
            quote = c
            cur.append(c)
        elif c == "(":
            depth += 1
            cur.append(c)
        elif c == ")":
            depth -= 1
            cur.append(c)
        elif c == "," and depth == 0:
            parts.append("".join(cur).strip())
            cur = []
        else:
            cur.append(c)
        i += 1
    tail = "".join(cur).strip()
    if tail or not parts:
        parts.append(tail)
    return parts


def _parse_enum_members(body: str, ck_type: str) -> "dict[str, int]":
    """'a' = 1, 'b' = 2 → {'a': 1, 'b': 2}; backslash escapes inside
    the quoted names are unescaped (CK quotes enum member names as
    string literals)."""
    members: dict[str, int] = {}
    for entry in _split_top(body):
        m = re.fullmatch(r"'((?:[^'\\]|\\.)*)'\s*=\s*(-?\d+)", entry)
        if not m:
            raise ValueError(
                f"unsupported ClickHouse type for RowBinary encoding: "
                f"{ck_type!r} (bad enum member {entry!r})"
            )
        name = re.sub(r"\\(.)", r"\1", m.group(1))
        members[name] = int(m.group(2))
    if not members:
        raise ValueError(f"{ck_type!r}: enum declares no members")
    return members


def codec_for(ck_type: str) -> _Codec:
    """Parse a ClickHouse type string into its encoder. Raises
    ValueError on anything unsupported — at writer creation, by
    contract."""
    t = ck_type.strip()
    # LowCardinality is a STORAGE property — over an HTTP RowBinary
    # insert the wire encoding is the plain inner type (the server
    # dictionary-encodes on write). The reference's own DDL declares
    # every log string column LowCardinality(String)
    # (/root/reference/readme.md:111-116), so a user pasting their
    # DESCRIBE TABLE text must not hit "unsupported type" here.
    m = re.fullmatch(r"LowCardinality\((.+)\)", t)
    if m:
        return codec_for(m.group(1))
    if t in _INT_SPECS:
        return _IntCodec(t)
    m = re.fullmatch(r"(U?)Int(128|256)", t)
    if m:
        return _WideIntCodec(
            t, int(m.group(2)) // 8, signed=not m.group(1)
        )
    if t in ("Float32", "Float64"):
        return _FloatCodec(t)
    if t == "Bool":
        return _BoolCodec()
    if t == "String":
        return _StringCodec()
    if t == "Date":
        return _DateCodec(wide=False)
    if t == "Date32":
        return _DateCodec(wide=True)
    # DateTime['TZ'] / DateTime64(p[, 'TZ']): the binary wire value is
    # epoch-based, so a declared column timezone changes nothing here
    # (it only governs how the SERVER renders/parses text formats) —
    # accept and ignore it rather than reject the DESCRIBE TABLE text.
    if t == "DateTime" or re.fullmatch(r"DateTime\('[^']+'\)", t):
        return _DateTimeCodec(None)
    m = re.fullmatch(r"DateTime64\((\d+)(?:,\s*'[^']+')?\)", t)
    if m:
        p = int(m.group(1))
        if p > 9:
            # ClickHouse caps DateTime64 precision at 9; past that the
            # tick count also overflows Int64 for modern instants —
            # reject at CONFIG time, not in the first batch's tasks
            raise ValueError(
                f"DateTime64({p}): ClickHouse precision is 0..9"
            )
        return _DateTimeCodec(p)
    m = re.fullmatch(r"Decimal\((\d+),\s*(\d+)\)", t)
    if m:
        return _DecimalCodec(int(m.group(1)), int(m.group(2)))
    m = re.fullmatch(r"Nullable\((.+)\)", t)
    if m:
        return _NullableCodec(codec_for(m.group(1)))
    m = re.fullmatch(r"Array\((.+)\)", t)
    if m:
        return _ArrayCodec(codec_for(m.group(1)))
    m = re.fullmatch(r"FixedString\((\d+)\)", t)
    if m:
        return _FixedStringCodec(int(m.group(1)))
    if t == "UUID":
        return _UUIDCodec()
    if t == "IPv4":
        return _IPv4Codec()
    if t == "IPv6":
        return _IPv6Codec()
    m = re.fullmatch(r"Enum(8|16)\((.+)\)", t)
    if m:
        wide = m.group(1) == "16"
        members = _parse_enum_members(m.group(2), ck_type)
        bound = 2 ** (15 if wide else 7)
        for name, n in members.items():
            if not -bound <= n < bound:
                raise ValueError(
                    f"{ck_type!r}: member {name!r} = {n} outside "
                    f"{'Int16' if wide else 'Int8'} range"
                )
        return _EnumCodec(wide, members)
    m = re.fullmatch(r"Map\((.+)\)", t)
    if m:
        args = _split_top(m.group(1))
        if len(args) != 2:
            raise ValueError(
                f"unsupported ClickHouse type for RowBinary encoding: "
                f"{ck_type!r} (Map takes exactly two type arguments)"
            )
        return _MapCodec(codec_for(args[0]), codec_for(args[1]), t)
    m = re.fullmatch(r"Tuple\((.+)\)", t)
    if m:
        fields: "list[tuple[str | None, _Codec]]" = []
        for arg in _split_top(m.group(1)):
            # named form: `ident Type` or ident Type (the DESCRIBE
            # text for named tuples); bare form: just the type
            nm = re.fullmatch(r"(`(?:[^`\\]|\\.)+`|\w+)\s+(.+)", arg)
            if nm:
                raw_name, inner = nm.group(1), nm.group(2)
                try:
                    codec = codec_for(inner)
                except ValueError:
                    # `Nullable(Int64)` etc. parse as name+type too —
                    # fall back to treating the whole arg as a type
                    fields.append((None, codec_for(arg)))
                    continue
                name = (
                    re.sub(r"\\(.)", r"\1", raw_name[1:-1])
                    if raw_name.startswith("`") else raw_name
                )
                fields.append((name, codec))
            else:
                fields.append((None, codec_for(arg)))
        return _TupleCodec(fields, t)
    raise ValueError(
        f"unsupported ClickHouse type for RowBinary encoding: {ck_type!r}"
    )


def insertable_columns(table: str, describe_rows) -> "dict[str, str]":
    """{name: ck_type} of a table's INSERTABLE columns from its
    `DESCRIBE TABLE` rows (name, type, default_type, ...) — the one
    rule both ClickHouse transports apply to the DESCRIBE reply (HTTP
    TabSeparated, native string block). MATERIALIZED/ALIAS columns are
    dropped, exactly as CK drops them from `INSERT INTO t` column
    expansion; a row without a type, or no insertable column at all,
    is a malformed reply and raises."""
    out: dict[str, str] = {}
    for row in describe_rows:
        name = row[0]
        ck_type = row[1] if len(row) > 1 else ""
        default_type = row[2] if len(row) > 2 else ""
        if default_type in ("MATERIALIZED", "ALIAS"):
            continue
        if not ck_type:
            raise ValueError(
                f"DESCRIBE TABLE {table}: malformed row {row!r}"
            )
        out[name] = ck_type
    if not out:
        raise ValueError(
            f"DESCRIBE TABLE {table} returned no insertable columns"
        )
    return out


def ck_columns_for_schema(schema) -> "list[tuple[str, str]]":
    """Infer (name, ck_type) pairs from a Spark StructType — the
    zero-config path for the row_binary sink. Nullable Spark fields
    become Nullable(T); TimestampType maps to DateTime64(6) (Spark's
    microsecond precision, lossless)."""
    from pyspark.sql import types as T

    def _ck(dt, nullable: bool) -> str:
        if isinstance(dt, T.LongType):
            base = "Int64"
        elif isinstance(dt, T.IntegerType):
            base = "Int32"
        elif isinstance(dt, T.ShortType):
            base = "Int16"
        elif isinstance(dt, T.ByteType):
            base = "Int8"
        elif isinstance(dt, T.DoubleType):
            base = "Float64"
        elif isinstance(dt, T.FloatType):
            base = "Float32"
        elif isinstance(dt, T.BooleanType):
            base = "Bool"
        elif isinstance(dt, (T.StringType, T.BinaryType)):
            base = "String"
        elif isinstance(dt, T.DateType):
            base = "Date32"
        elif isinstance(dt, T.TimestampType):
            base = "DateTime64(6)"
        elif isinstance(dt, T.DecimalType):
            base = f"Decimal({dt.precision},{dt.scale})"
        elif isinstance(dt, T.ArrayType):
            # array ELEMENTS keep their own nullability flag
            base = f"Array({_ck(dt.elementType, dt.containsNull)})"
        elif isinstance(dt, T.MapType):
            # CK Map keys cannot be Nullable; values keep their flag
            base = (
                f"Map({_ck(dt.keyType, False)}, "
                f"{_ck(dt.valueType, dt.valueContainsNull)})"
            )
        elif isinstance(dt, T.StructType):
            inner = ", ".join(
                f"{f.name} {_ck(f.dataType, f.nullable)}"
                for f in dt.fields
            )
            base = f"Tuple({inner})"
        else:
            raise ValueError(
                f"no RowBinary mapping for Spark type {dt.simpleString()}"
                " — declare the sink's 'columns' option explicitly"
            )
        return f"Nullable({base})" if nullable else base

    return [(f.name, _ck(f.dataType, f.nullable)) for f in schema.fields]


def rows_to_row_binary(
    rows, columns: "list[tuple[str, str]]"
) -> Iterator[bytes]:
    """Lazily encode rows (Row / dict / sequence) into one RowBinary
    byte string PER ROW — a generator, so the HTTP batcher's memory
    stays bounded by batch_size, not partition size (the
    rows_to_json_each_row contract). Column ORDER is the declared
    order; the INSERT statement names the same columns in the same
    order, so the server never guesses."""
    codecs = [(name, codec_for(t)) for name, t in columns]
    for row in rows:
        d = row.asDict() if hasattr(row, "asDict") else None
        out = bytearray()
        for i, (name, codec) in enumerate(codecs):
            # named access must FAIL on a missing name: under a
            # Nullable column a silent .get() default would insert
            # NULL for every row of a typo'd/drifted column name —
            # silent data loss, against this module's contract
            try:
                if d is not None:
                    v = d[name]
                elif isinstance(row, dict):
                    v = row[name]
                else:
                    v = row[i]
            except (KeyError, IndexError) as e:
                raise ValueError(
                    f"declared RowBinary column {name!r} is missing "
                    f"from the row (fields: "
                    f"{sorted(d) if d is not None else row!r})"
                ) from e
            codec.encode(v, out)
        yield bytes(out)
