"""The shared timing core of bench.py and scripts/ — no Spark needed.

`bench.best_of` carries every stopping rule the bench and the probes
use, so each rule is pinned here against scripted timings: the exact
number of runs taken and the min reported.
"""

from __future__ import annotations

import importlib
from pathlib import Path

import pytest

import bench

SCRIPTS = sorted(
    p.stem for p in (Path(bench._REPO_ROOT) / "scripts").glob("*.py")
)


def _scripted(times):
    """A `run` that returns ``times`` in order and counts its calls."""
    it = iter(times)
    calls = []

    def run():
        calls.append(1)
        return next(it)

    return run, calls


def _best_of(times, *args, **kwargs):
    run, calls = _scripted(times)
    best, taken = bench.best_of(run, *args, **kwargs)
    assert taken == list(times[: len(calls)])
    return best, len(calls)


@pytest.mark.parametrize(
    "times, n",
    [
        # headline, registry sweep, isolated re-run, proflib: fixed n
        ([0.5, 0.2, 0.9, 0.1], 3),
        ([0.2, 0.3, 0.4, 0.1], 3),  # no early stop without patience
        # the scale probes: min-of-2
        ([0.3, 0.2, 0.1], 2),
        ([0.4, 0.6, 0.1], 2),
    ],
)
def test_fixed_count_runs_exactly_n(times, n):
    assert _best_of(times, n) == (min(times[:n]), n)


# calib anchor: n=16, patience=4, gain=0.03
CALIB = dict(n=16, patience=4, gain=0.03)


def test_calib_stops_after_four_runs_without_a_3pct_gain():
    # 0.49..0.47 each beat the running min, but never by more than 3%
    times = [1.0, 0.5, 0.49, 0.48, 0.479, 0.47, 0.01]
    assert _best_of(times, **CALIB) == (0.47, 6)


def test_calib_patience_resets_on_a_real_gain():
    times = [1.0, 0.99, 0.98, 0.97, 0.5, 0.5, 0.6, 0.49, 0.495, 0.01]
    assert _best_of(times, **CALIB) == (0.49, 9)


def test_calib_caps_at_sixteen_runs():
    times = [0.9**i for i in range(20)]
    assert _best_of(times, **CALIB) == (times[15], 16)


# ingest drains: n=4, patience=1, gain=0.10 (at least 2 drains)
INGEST = dict(n=4, patience=1, gain=0.10)


@pytest.mark.parametrize(
    "times, best, calls",
    [
        ([1.0, 0.95, 0.1], 0.95, 2),  # quiet host: exit after 2
        ([1.0, 1.5, 0.1], 1.0, 2),
        ([1.0, 0.8, 0.79, 0.1], 0.79, 3),
        ([1.0, 0.8, 0.6, 0.5, 0.1], 0.5, 4),  # capped at 4
        # exactly 10% better is not MORE than 10%: stale
        ([1.0, 0.9, 0.1], 0.9, 2),
    ],
)
def test_ingest_plateau_rule(times, best, calls):
    assert _best_of(times, **INGEST) == (best, calls)


def test_gain_must_be_strictly_exceeded():
    # 0.5 is exactly 50% below 1.0 (exact in binary): not a gain
    assert _best_of([1.0, 0.5, 0.1], 8, patience=1, gain=0.5) == (0.5, 2)
    assert _best_of([1.0, 0.49, 0.1, 0.1], 8, patience=1, gain=0.5) == (
        0.1,
        4,
    )


@pytest.mark.parametrize("name", SCRIPTS)
def test_every_script_imports(name):
    """Each script resolves its imports (the shared helpers included)
    without running its entry point."""
    importlib.import_module(f"scripts.{name}")
