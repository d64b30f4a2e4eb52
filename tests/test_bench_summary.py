"""``bench.summarize``: the printed line reports only this run's repeats."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import summarize  # noqa: E402


def test_single_repeat():
    out = summarize({"q1": [1.2344], "q2": [0.5]})
    assert out["queries"] == {"q1": 1.234, "q2": 0.5}
    assert out["query_stats"]["q1"] == {"min": 1.234, "median": 1.234, "spread": 0.0}
    assert out["query_stats"]["q2"] == {"min": 0.5, "median": 0.5, "spread": 0.0}
    assert out["value"] == round(1.234 + 0.5, 3)


def test_three_repeats():
    out = summarize({"q1": [3.0, 1.0, 2.5], "q2": [0.25, 0.75, 0.5]})
    assert out["queries"] == {"q1": 1.0, "q2": 0.25}
    assert out["query_stats"]["q1"] == {"min": 1.0, "median": 2.5, "spread": 2.0}
    assert out["query_stats"]["q2"] == {"min": 0.25, "median": 0.5, "spread": 0.5}
    assert out["value"] == round(sum(out["queries"].values()), 3) == 1.25

