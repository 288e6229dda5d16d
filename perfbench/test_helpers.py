"""Tests of the benchmark's pure helpers; no Spark needed.

    python3 -m pytest perfbench/test_helpers.py -q
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from stats import Tally, self_time, tail  # noqa: E402


def test_tail_needs_ten_samples_beyond():
    assert tail(range(10)) is None
    pct, value = tail(range(11))
    assert (pct, value) == (100.0 / 11, 0)


def test_tail_is_p90_of_a_hundred():
    pct, value = tail(reversed(range(100)))
    assert pct == 90.0
    assert value == 89
    assert sum(1 for x in range(100) if x > value) == 10


def test_tail_grows_with_samples():
    pct, value = tail(range(1000))
    assert pct == 99.0
    assert value == 989


def test_tally_counts_errors_and_failed_checks():
    t = Tally()
    t.record(True)
    t.record(False, "raised")
    t.record(False, "bad output")
    t.record(True)
    assert (t.attempted, t.failed) == (4, 2)
    assert t.ratio == 0.5
    assert t.reasons == ["raised", "bad output"]


def test_tally_empty_ratio():
    assert Tally().ratio == 0.0


def test_self_time_without_children():
    assert self_time(1.0, 3.0, []) == 2.0


def test_self_time_subtracts_disjoint_children():
    assert self_time(0.0, 10.0, [(1.0, 3.0), (5.0, 6.0)]) == 7.0


def test_self_time_counts_overlap_once_and_clips():
    # children overlap each other and stick out of the parent
    children = [(2.0, 6.0), (4.0, 8.0), (9.0, 12.0), (-1.0, 0.5)]
    assert self_time(0.0, 10.0, children) == 10.0 - (0.5 + 6.0 + 1.0)


def test_self_time_nested_child_inside_child():
    assert self_time(0.0, 4.0, [(1.0, 3.0), (1.5, 2.0)]) == 2.0
