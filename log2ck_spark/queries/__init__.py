"""Central registry of named queries + their DuckDB oracle SQL.

Every operator from SURVEY.md §2 registers here via :func:`register`;
``__spark_entry__.queries()`` / ``oracle_sql()`` are thin views over
this registry. A query is a callable ``(spark, sf_dir) -> DataFrame``.
Queries whose semantics are not ANSI-SQL-expressible (LSH candidate
generation, hash-internal ops) register with ``oracle=None`` and get
the driver's weaker rows-only check.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Optional

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def register(name: str, oracle: Optional[str] = None):
    def deco(fn: QueryFn) -> QueryFn:
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


_LOADED = False


def load_all() -> None:
    """Import every query module (idempotent) so the registry is full."""
    global _LOADED
    if _LOADED:
        return
    from log2ck_spark.queries import (  # noqa: F401
        behavior,
        curation,
        dedup,
        featurize,
        ingest,
        multimodal,
        packing,
        pipelineops,
        relational,
        relational2,
        relational3,
        scaleops,
        semantic,
        similarity,
        sketches,
        streamq,
        textops,
        textops2,
        textops3,
        timeseries,
        vectorops,
    )

    # SURVEY.md §2 C2 declares the near-dup contract under the name
    # `dedup_near`; alias it to the LSH implementation (same oracle).
    if "dedup_near" not in QUERIES:
        QUERIES["dedup_near"] = QUERIES["dedup_minhash_lsh"]
        ORACLES["dedup_near"] = ORACLES["dedup_minhash_lsh"]

    _apply_rotation()
    _LOADED = True


# The round driver hash-checks only the FIRST 50 names it sees from
# ``__spark_entry__.queries()``; with 100+ registered queries, coverage
# has to rotate. Ordering is automatic: `_apply_rotation` reads the
# driver's own CORRECTNESS_r*.json records and surfaces never-checked
# names first, then the stalest (oldest last-checked round), so every
# round maximizes fresh external evidence with no manual list edits.
# ROTATION_FIRST remains as a manual PIN on top of the automatic order
# (e.g. re-surfacing a query whose oracle was just upgraded); see
# ROTATION.md. Python dicts preserve insertion order, so a plain
# rebuild is enough.
ROTATION_FIRST: tuple[str, ...] = (
    # r13: STEADY STATE, zero pins (VERDICT r12 item 1). The r12 drain
    # finished (nothing predates r9); no code-changed queue exists this
    # round (green query code and oracles frozen), so the automatic
    # order fills the whole window: the 12 never-checked r13 names
    # (the behavioral six + the CK aggregate family max_intersections/
    # interval_length_sum/delta_sum/welch_ttest/mann_whitney_utest/
    # cramers_v), then the 25 r9-latest names, then the oldest r10
    # tier.
    # Target state after r13: no name's latest driver row predates r10.
    #
    # 2026-10-17 (r15 window): pin the queries whose plans changed in
    # r14 (q21's single-scan rewrite, the fused connected-components
    # rounds, the memoized LSH width probe, the pinned jaccard verify
    # filter). q21 also changed its NULL-supplier semantics this round.
    # 2026-10-18: dedup_clusters changed again (union-find components
    # replace the min-label propagation loop), so its pin stays.
    # Release these pins once each has a green CORRECTNESS_r15 row.
    "tpch_q21_waiting_supplier",
    "dedup_clusters",
    "similarity_lsh",
    "dedup_embedding_lsh",
    "dedup_ngram_jaccard",
)


def _last_checked_rounds() -> dict[str, tuple[int, bool]]:
    """name -> (latest round with a CORRECTNESS_r{N}.json row, whether
    that latest row FAILED). A row — green or failed — is external
    evidence for staleness ordering, but a FAILED latest row must be
    re-surfaced ahead of green ones (a failed check is not evidence of
    health). Failed means an exception (err) OR any recorded mismatch
    (rows/schema/hash False with err null) — a silent value mismatch
    deprioritized as "green" would evade re-checking for rounds.
    Missing/unreadable files are simply skipped."""
    import glob as _glob
    import json as _json
    import os as _os
    import re as _re

    repo_root = _os.path.dirname(_os.path.dirname(_os.path.dirname(
        _os.path.abspath(__file__))))
    last: dict[str, tuple[int, bool]] = {}
    for path in sorted(_glob.glob(_os.path.join(repo_root, "CORRECTNESS_r*.json"))):
        m = _re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            with open(path) as f:
                rows = _json.load(f)
        except (OSError, ValueError):
            continue
        for name, row in rows.items():
            err = isinstance(row, dict) and (
                row.get("err") not in (None, "no_oracle")
                or any(
                    row.get(k) is False
                    for k in ("rows_match", "schema_match", "hash_match")
                )
            )
            prev = last.get(name)
            if prev is None or rnd >= prev[0]:
                last[name] = (rnd, err)
    return last


def _apply_rotation() -> None:
    """Reorder the registries so the driver's 50-name check window
    lands on the names with the weakest external evidence. Priority:
    (0) latest driver row ERRORED — a known-red external row is the
    worst standing evidence and must re-verify first, (1) never
    driver-checked — no external row yet, but local oracle parity is
    green, (2) green — then stalest round, then registration order.
    (The registry outgrew the 50-name window in r4, so ranking
    errored above never-checked is what keeps a failed check from
    waiting behind a long tail of new operators.) Opt-out with
    LOG2CK_SPARK_ROTATION=0 for deterministic library import order
    outside this benchmark checkout (no CORRECTNESS artifacts present
    is equally deterministic: registration order is preserved)."""
    import os as _os

    if _os.environ.get("LOG2CK_SPARK_ROTATION", "1") == "0":
        return
    last = _last_checked_rounds()
    reg_index = {n: i for i, n in enumerate(QUERIES)}

    def _key(n: str):
        rec = last.get(n)
        if rec is None:
            rank = 1  # never checked: ahead of green, after errored
        elif rec[1]:
            rank = 0  # latest check errored: highest priority
        else:
            rank = 2  # green: stalest first within
        return (rank, rec[0] if rec else -1, reg_index[n])

    pinned = [n for n in ROTATION_FIRST if n in QUERIES]
    rest = sorted((n for n in QUERIES if n not in set(pinned)), key=_key)
    ordered = pinned + rest
    for reg in (QUERIES, ORACLES):
        snapshot = dict(reg)
        reg.clear()
        reg.update({n: snapshot[n] for n in ordered if n in snapshot})
