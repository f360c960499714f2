"""Tests of the benchmark's correctness checker (no Spark needed).

    python3 -m pytest perfbench/test_check.py -q
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import check  # noqa: E402
import gen  # noqa: E402

# 2023-11-13 00:00:00 UTC, a Monday.
MONDAY = 1_699_833_600


def test_exact_counts_by_hand():
    uid = np.array([1, 1, 2, 3, 3])
    ts = np.array([MONDAY, MONDAY + 59, MONDAY + 60, MONDAY + 86_400, MONDAY + 3 * 86_400])
    got = check.exact_window_counts(uid, ts)
    assert got[("minute_count", MONDAY)] == 1
    assert got[("minute_count", MONDAY + 60)] == 1
    assert got[("day_count", MONDAY)] == 2
    assert got[("day_count", MONDAY + 86_400)] == 1
    assert got[("week_count", MONDAY)] == 3
    assert got[("month_count", 1_698_796_800)] == 3  # 2023-11-01
    assert got[("year_count", 1_672_531_200)] == 3  # 2023-01-01
    assert len(got) == 4 + 3 + 1 + 1 + 1  # minutes, days, week, month, year


def test_checker_flags_perturbed_count_and_missing_window():
    ev = gen.wire_events(np.random.default_rng(7), 5_000, MONDAY)
    exact = check.exact_window_counts(*ev.clean())
    assert check.compare_windows(exact, dict(exact), check.APPROX_BOUND) == []

    got = dict(exact)
    year = max((k for k in exact if k[0] == "year_count"), key=exact.get)
    got[year] = exact[year] * 1.05
    missing = next(k for k in sorted(exact) if k[0] == "day_count")
    del got[missing]
    problems = check.compare_windows(exact, got, check.APPROX_BOUND)
    assert len(problems) == 2
    assert any(str(year) in p and "exact" in p for p in problems)
    assert any(p == f"missing window {missing}" for p in problems)


def test_checker_flags_unexpected_window_and_exact_mismatch():
    exact = {("day_count", MONDAY): 10.0}
    got = {("day_count", MONDAY): 10.1, ("day_count", MONDAY + 86_400): 1.0}
    problems = check.compare_windows(exact, got, 0.0)
    assert len(problems) == 2


def test_generated_windows_stay_in_the_low_error_regime():
    """The 2% bound is only a defect test while windows stay small (see
    check.py); guard the generator's parameters."""
    ev = gen.wire_events(np.random.default_rng(3), 30_000, MONDAY)
    exact = check.exact_window_counts(*ev.clean())
    assert max(exact.values()) < 3_000


def test_frames_match_is_order_insensitive():
    a = pd.DataFrame({"k": [1, 2, 3], "v": ["x", "y", "z"]})
    b = a.iloc[::-1][["v", "k"]].reset_index(drop=True)
    assert check.frames_match(a, b) is None
    c = b.copy()
    c.loc[0, "v"] = "w"
    assert check.frames_match(a, c) is not None
    assert check.frames_match(a, a.iloc[:2]) is not None


def test_wire_lines_are_seeded_and_malformed_share_is_skipped():
    a = gen.wire_events(np.random.default_rng(11), 2_000, MONDAY).lines()
    b = gen.wire_events(np.random.default_rng(11), 2_000, MONDAY).lines()
    assert a == b
    ev = gen.wire_events(np.random.default_rng(11), 2_000, MONDAY)
    assert 0 < ev.bad.sum() < 60
    import json

    for line, bad in zip(ev.lines(), ev.bad):
        try:
            msg = json.loads(line)
            ok = isinstance(msg.get("uid"), str) and isinstance(msg.get("ts"), int)
        except ValueError:
            ok = False
        assert ok != bad
