"""Operational logging (A14) — the reference's tab-separated progress
log (`/root/reference/src/ToolsTraits.php:29-37`, toggleable per
readme.md:70-73) mapped to a StreamingQueryListener: one line per
micro-batch with rows/sec and batch duration, to stdout and optionally
a daily file ("{name}-{Y-m-d}.log", the reference's naming)."""

from __future__ import annotations

import datetime
import json
import os
from typing import Optional

from pyspark.sql.streaming import StreamingQueryListener


class OpsLogListener(StreamingQueryListener):
    def __init__(self, log_dir: Optional[str] = None, echo: bool = True):
        self.log_dir = log_dir
        self.echo = echo
        # query id -> log name: QueryTerminatedEvent carries no name, and
        # a query's terminate line belongs in the same file as its batches
        self._names: dict[str, str] = {}

    def _log(self, name: str, message: str, context: dict) -> None:
        now = datetime.datetime.now()
        line = f"{now.isoformat(timespec='seconds')}\t{message}\t{json.dumps(context)}"
        if self.echo:
            print(line)
        if self.log_dir:
            os.makedirs(self.log_dir, exist_ok=True)
            fname = f"{name}-{now.strftime('%Y-%m-%d')}.log"
            with open(os.path.join(self.log_dir, fname), "a") as fh:
                fh.write(line + "\n")

    def onQueryStarted(self, event) -> None:
        name = self._names[str(event.id)] = event.name or "query"
        self._log(name, "query started", {"id": str(event.id)})

    def onQueryProgress(self, event) -> None:
        p = event.progress
        # Spark reports inputRowsPerSecond = NaN on the first batch /
        # zero-duration triggers, and json.dumps would emit the
        # non-standard NaN token — unparseable to jq/JSON.parse/any
        # strict log consumer. Non-finite -> null.
        rps = p.inputRowsPerSecond
        if rps is not None and (rps != rps or rps in (float("inf"), float("-inf"))):
            rps = None
        self._log(
            p.name or "query",
            "batch committed",
            {
                "batchId": p.batchId,
                "numInputRows": p.numInputRows,
                "inputRowsPerSecond": rps,
                "batchDurationMs": p.batchDuration,
            },
        )

    def onQueryTerminated(self, event) -> None:
        name = self._names.pop(str(event.id), "query")
        self._log(name, "query terminated", {"id": str(event.id)})

    def onQueryIdle(self, event) -> None:  # pragma: no cover
        pass
