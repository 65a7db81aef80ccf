"""The driver-window rotation schedule (plans.rotation_order).

The driver's correctness gate samples only the first 50
registration-order catalog entries per round; the least-recently-
checked-first queue must put every query inside that window over a
full cycle, keep the sentinel first, and never add or drop names.
These are pure-function tests — no Spark session needed.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import subprocess
import sys

import __spark_entry__
from jhu_data_parser_spark import plans
from jhu_data_parser_spark.plans import (
    _CHUNK,
    _DRIVER_WINDOW,
    _PRIORITY_WINDOW,
    check_history,
    rotation_order,
)

NAMES = list(plans.QUERIES)
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_rotation_cycles_all_names_through_the_window():
    """Simulate the driver loop: each round checks the first 50 entries
    and earns them history rows. Every catalog name must enter the
    window within ⌈(n−1)/49⌉ rounds — no query is ever starved."""
    n_rounds = -(-(len(NAMES) - 1) // _CHUNK)  # ceil
    hist: dict[str, int] = {}
    seen: set[str] = set()
    for rnd in range(1, n_rounds + 1):
        window = rotation_order(NAMES, hist)[:_DRIVER_WINDOW]
        seen |= set(window)
        for n in window:
            hist[n] = rnd
    assert seen == set(NAMES)


def test_rotation_keeps_cycling_after_saturation():
    """Once everything has a row, the queue must keep rotating (the
    oldest rows re-enter) rather than pinning one block forever."""
    hist: dict[str, int] = {}
    windows = []
    for rnd in range(1, 9):
        window = rotation_order(NAMES, hist)[:_DRIVER_WINDOW]
        windows.append(set(window) - {_PRIORITY_WINDOW[0]})
        for n in window:
            hist[n] = rnd
    # consecutive saturated windows are disjoint apart from the sentinel
    assert not (windows[-1] & windows[-2])


def test_rotation_is_a_pure_reordering():
    for hist in ({}, {n: i for i, n in enumerate(NAMES)}):
        assert sorted(rotation_order(NAMES, hist)) == sorted(NAMES)


def test_sentinel_always_leads():
    assert rotation_order(NAMES, {})[0] == _PRIORITY_WINDOW[0]
    assert rotation_order(NAMES, {n: 9 for n in NAMES})[0] == _PRIORITY_WINDOW[0]


def test_never_checked_names_lead_the_window():
    """A name added to the catalog with no driver row yet must outrank
    every already-checked name (fresh operators get gated first)."""
    hist = {n: 3 for n in NAMES if n != "global_count"}
    hist.pop(NAMES[-1], None)
    order = rotation_order(NAMES, hist)
    assert order[1] == NAMES[-1] or order[1] not in hist


def test_current_round_window_is_first_time_checked():
    """Against the real committed artifacts: the live driver order
    (``__spark_entry__.queries()``) must lead with ≥45 names that have
    never had a driver row (while any remain) — the r04 verdict's
    done-criterion for r05."""
    prior: set[str] = set()
    for path in glob.glob(os.path.join(ROOT, "CORRECTNESS_r*.json")):
        with open(path) as fh:
            prior |= set(json.load(fh))
    never = set(NAMES) - prior
    live = list(__spark_entry__.queries())
    window = set(live[:_DRIVER_WINDOW]) - {_PRIORITY_WINDOW[0]}
    expected_fresh = min(len(never), _CHUNK) - 4  # tolerate a few driver extras
    assert len(window & never) >= min(expected_fresh, 45), (
        f"{len(window & never)} first-time names in window, "
        f"{len(never)} never-checked overall"
    )


def test_live_registration_order_matches_pure_schedule():
    """A fresh interpreter's driver order (``__spark_entry__.queries()``,
    and ``oracle_sql()`` as its subsequence) must equal
    rotation_order(names, check_history()) — the boundary has no other
    ordering logic."""
    code = (
        "import sys; sys.path.insert(0, %r); "
        "import __spark_entry__ as e; "
        "print('\\n'.join(list(e.queries()))); print('--'); "
        "print('\\n'.join(list(e.oracle_sql())))"
    ) % ROOT
    out = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True
    )
    assert out.returncode == 0, out.stderr[-2000:]
    names, oracles = out.stdout.split("--")
    want = rotation_order(NAMES, check_history())
    assert names.split() == want
    assert oracles.split() == [n for n in want if n in plans.ORACLES]


def test_catalog_order_ignores_repo_artifacts(tmp_path):
    """``plans.QUERIES`` keeps module registration order whatever
    ``CORRECTNESS_r*.json`` artifacts sit next to the package: a copy
    of the package beside an artifact that marks the first 60 names as
    just checked imports in the same order as this one."""
    shutil.copytree(
        os.path.join(ROOT, "jhu_data_parser_spark"),
        tmp_path / "jhu_data_parser_spark",
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    with open(tmp_path / "CORRECTNESS_r99.json", "w") as fh:
        json.dump({n: {} for n in NAMES[:60]}, fh)
    code = (
        "import sys; sys.path.insert(0, %r); "
        "from jhu_data_parser_spark import plans; "
        "print('\\n'.join(plans.QUERIES))"
    ) % str(tmp_path)
    out = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert out.stdout.split() == NAMES
