"""The A/B verdict rule of tools/ab.py (pure Python, no Spark session).

B is faster or slower than baseline A only when it wins at least 9 of
every 10 pairs run, ties counting for neither side, and the medians
differ by more than A's interquartile range (0.55 s for A below).
"""

from __future__ import annotations

import pytest

from tools.ab import verdict

A = [10.0 + 0.1 * i for i in range(10)]


def shifted(by: float, wins: int, rest: list) -> list:
    return [x + by for x in A[:wins]] + rest


@pytest.mark.parametrize("by,want", [(-1.0, "faster"), (1.0, "slower")])
def test_nine_of_ten_beyond_iqr_decides(by, want):
    assert verdict(A, shifted(by, 9, [A[9] - by])) == want


def test_nine_of_ten_within_iqr_is_unresolved():
    assert verdict(A, shifted(-0.3, 9, [A[9] + 1.0])) == "unresolved"


def test_eight_of_ten_is_unresolved():
    assert verdict(A, shifted(-1.0, 8, [A[8] + 1.0, A[9] + 1.0])) == "unresolved"


def test_ties_and_failed_runs_count_for_neither_side():
    # 8 wins and 2 ties: the ties do not make up the ninth win
    assert verdict(A, shifted(-1.0, 8, A[8:])) == "unresolved"
    # 9 wins and a tie, or 9 wins and a failed run: nothing counts against B
    assert verdict(A, shifted(-1.0, 9, A[9:])) == "faster"
    assert verdict(A, shifted(-1.0, 9, [None])) == "faster"


def test_fewer_than_ten_pairs_is_unresolved():
    assert verdict(A[:9], [x - 1.0 for x in A[:9]]) == "unresolved"
