"""Config model — the reference's PHP config array as typed dataclasses.

Mirrors `/root/reference/test.config.php` structure (`env` + `tails`,
SURVEY.md §2 A11/A15): per-tail source path, optional pattern override
(`pattern=False` ⇒ raw passthrough, readme.md:81), optional callback,
enrichment constants, and per-tail sink overrides falling back to the
engine-level sink (`Worker.php:184-187`).
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from dataclasses import dataclass, field
from typing import Any, Optional, Union

import pandas as pd

from log2ck_spark.parse import (
    MONOLOG_GROUPS,
    MONOLOG_PATTERN,
    MONOLOG_TS_FORMAT,
)

# A callback is either a column-level transform (fast path — stays on
# the JVM) or a pandas batch transform with a declared output schema
# (Arrow path; the analog of the reference's arbitrary per-row closure,
# `Worker.php:142-144` / readme.md:82-85 — but batched, never per-row).
ColumnCallback = Callable[["DataFrame"], "DataFrame"]  # noqa: F821
PandasCallback = Callable[[Iterator[pd.DataFrame]], Iterator[pd.DataFrame]]


@dataclass
class SinkConfig:
    """Where parsed rows land. Parquet is the self-contained default;
    `kind="clickhouse_http"` / `"clickhouse_native"` insert into
    ClickHouse over its HTTP interface or native TCP protocol, both
    stdlib-only (sink.writer_for); `options` carries the writer's
    settings."""

    path: str = ""
    # parquet | clickhouse_http | clickhouse_native | memory
    kind: str = "parquet"
    partition_col: str = "log_date"
    sort_cols: tuple[str, ...] = ("created_at",)  # readme.md:122 ORDER BY
    ttl_days: Optional[int] = 10  # readme.md:123 TTL
    options: dict[str, Any] = field(default_factory=dict)


@dataclass
class TailSpec:
    """One tailed source (reference: one entry in config['tails'],
    `test.config.php:33-49`)."""

    name: str
    path: str  # file/glob; {date} macro supported (Manager.php:82-85)
    repo: str = "default"
    # Reference parity: Worker.php:148 defaults the host enrichment to
    # gethostname(). Tails run on the DRIVER (the tailf source reads
    # driver-local files), so the driver's hostname is the faithful
    # default; pass host= explicitly to override. The field default is
    # a sentinel resolved in __post_init__ so dataclass defaults stay
    # static/introspectable.
    host: str = ""
    # None ⇒ monolog default; False ⇒ raw passthrough (A6, readme.md:81)
    pattern: Union[str, None, bool] = None
    groups: tuple[str, ...] = MONOLOG_GROUPS
    # Which group (if any) is the event timestamp, and its format —
    # a custom-pattern tail whose timestamp grammar differs from
    # monolog's MUST set ts_format (e.g. access logs'
    # "dd/MMM/yyyy:HH:mm:ss Z") or every line dead-letters on the
    # failed to_timestamp. ts_group=None skips timestamp typing.
    ts_group: Optional[str] = "created_at"
    ts_format: str = MONOLOG_TS_FORMAT
    callback: Optional[ColumnCallback] = None
    pandas_callback: Optional[PandasCallback] = None
    pandas_callback_schema: Optional[str] = None  # DDL string, required with ^
    sink: Optional[SinkConfig] = None  # per-tail override (A11)
    # True ⇒ tail growing files byte-by-byte via the `tailf` source
    # (A1, Worker.php:101-107); False ⇒ closed/rotated files are the
    # ingestion unit (Spark's file source).
    follow: bool = False
    # Only with follow=True: start pre-existing files at EOF, like the
    # reference with no offset cache (A2, Worker.php:176).
    skip_history: bool = True

    def __post_init__(self) -> None:
        if not self.host:
            import socket

            self.host = socket.gethostname()


@dataclass
class EngineConfig:
    """Top-level config (reference: the `env` array, A15)."""

    tails: list[TailSpec] = field(default_factory=list)
    sink: SinkConfig = field(default_factory=SinkConfig)
    checkpoint_root: str = ""  # Structured Streaming checkpoint (A2)
    trigger_seconds: int = 10  # max_sent_wait analog (A9, readme.md:65)
    max_files_per_trigger: int = 100  # max_sent_count analog (A9)

    def validate(self) -> "EngineConfig":
        # reference asserts dsn + tails presence (ToolsTraits.php:17-27)
        if not self.tails:
            raise ValueError("config must declare at least one tail")
        for t in self.tails:
            if not t.name or not t.path:
                raise ValueError(f"tail needs name+path: {t}")
            if t.pandas_callback and not t.pandas_callback_schema:
                raise ValueError(
                    f"tail {t.name}: pandas_callback requires an explicit "
                    "output schema (Python UDFs must declare types)"
                )
            if t.pattern is None and t.groups != MONOLOG_GROUPS:
                raise ValueError(f"tail {t.name}: custom groups need a pattern")
            if t.pattern is not None and t.pattern is not False and not isinstance(
                t.pattern, str
            ):
                raise ValueError(
                    f"tail {t.name}: pattern must be a regex string, None "
                    f"(monolog default), or False (raw passthrough); got "
                    f"{type(t.pattern).__name__}"
                )
            if isinstance(t.pattern, str) or t.pattern is None:
                # Fail at CONFIG time, not hours into a backfill: a
                # pattern with fewer capture groups than len(groups)
                # aborts the Spark job on the first matching line
                # (regexp_replace "No group N"). Python's re and Java's
                # regex agree on capture-group counting for the common
                # syntax; a Java-only construct Python cannot compile is
                # skipped rather than falsely rejected.
                import re as _re

                # Cross-engine caveat: this validation compiles with
                # Python's re, but the extract executes under Java's
                # regex. Python-ONLY syntax compiles fine here yet
                # aborts the whole job at runtime — reject the
                # constructs with a known Java spelling up front.
                # ((?P<name>) is (?<name>) in Java; (?P=name) is \k<name>;
                # conditional groups (?(1)...) have no Java equivalent.)
                # Anchor on an UNESCAPED "(" so a literal "\(?P" (an
                # escaped paren followed by optional P) isn't falsely
                # rejected: (?<!\\) plus an even-backslash guard keeps
                # "\\(?P" (escaped backslash, real group) caught.
                _py_only = _re.compile(
                    r"(?<!\\)(?:\\\\)*(\(\?P[<=]|\(\?\()"
                )
                if t.pattern and _py_only.search(t.pattern):
                    raise ValueError(
                        f"tail {t.name}: pattern uses Python-only regex "
                        f"syntax ((?P<name>…)/(?P=name)/(?(n)…)) that "
                        f"Java's regex engine rejects at runtime — use "
                        f"(?<name>…), \\k<name>, or rewrite without "
                        f"conditionals. Note: syntax validity is only "
                        f"checked with Python's re; other Java/Python "
                        f"divergences surface at runtime."
                    )
                try:
                    n_groups = _re.compile(t.pattern or MONOLOG_PATTERN).groups
                except _re.error:
                    n_groups = None
                if n_groups is not None and n_groups < len(t.groups):
                    raise ValueError(
                        f"tail {t.name}: pattern has {n_groups} capture "
                        f"group(s) but {len(t.groups)} group names are "
                        f"declared — the extract would abort the job at "
                        f"the first matching line"
                    )
        return self

    def sink_for(self, tail: TailSpec) -> SinkConfig:
        """Per-tail sink override with engine-level fallback (A11,
        `Worker.php:184-187`)."""
        return tail.sink or self.sink


DEFAULT_PATTERN = MONOLOG_PATTERN


def load_config(path: str) -> EngineConfig:
    """Load an EngineConfig from a file — the analog of the reference
    loading its PHP config array (`ToolsTraits.php:17-27`).

    * ``.json``: declarative fields only (no callbacks) — tails, sink,
      checkpoint/trigger settings. Unknown keys are rejected so typos
      fail at load time, like the reference's assert-on-load.
    * ``.py``: executed; must define ``CONFIG = EngineConfig(...)`` —
      the closure-capable form matching the reference's ability to
      embed callbacks in config (`readme.md:82-85`).
    """
    if path.endswith(".py"):
        import runpy

        ns = runpy.run_path(path)
        cfg = ns.get("CONFIG")
        if not isinstance(cfg, EngineConfig):
            raise ValueError(f"{path} must define CONFIG = EngineConfig(...)")
        return cfg.validate()
    if path.endswith(".json"):
        import json

        with open(path) as f:
            raw = json.load(f)

        def _sink(d: dict) -> SinkConfig:
            known = {f.name for f in SinkConfig.__dataclass_fields__.values()}
            bad = set(d) - known
            if bad:
                raise ValueError(f"unknown sink keys: {sorted(bad)}")
            if "sort_cols" in d:
                d["sort_cols"] = tuple(d["sort_cols"])
            return SinkConfig(**d)

        def _tail(d: dict) -> TailSpec:
            known = {f.name for f in TailSpec.__dataclass_fields__.values()}
            bad = set(d) - known
            if bad:
                raise ValueError(f"unknown tail keys: {sorted(bad)}")
            if "sink" in d and d["sink"] is not None:
                d["sink"] = _sink(dict(d["sink"]))
            if "groups" in d:
                d["groups"] = tuple(d["groups"])
            return TailSpec(**d)

        known = {f.name for f in EngineConfig.__dataclass_fields__.values()}
        bad = set(raw) - known
        if bad:
            raise ValueError(f"unknown config keys: {sorted(bad)}")
        tails = [_tail(dict(t)) for t in raw.pop("tails", [])]
        sink = _sink(dict(raw.pop("sink", {})))
        return EngineConfig(tails=tails, sink=sink, **raw).validate()
    raise ValueError(f"unsupported config format: {path} (use .json or .py)")
