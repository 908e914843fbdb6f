"""bench.py's one-line report: the pinned FINAL_REPORT_QUERIES come
first, slowest extras fill the rest of the char budget, and a pinned
set that alone overflows the budget fails loudly. Synthetic timings,
no Spark session."""

from __future__ import annotations

import json

import pytest

import bench


def _head() -> dict:
    return {"metric": "total_query_seconds", "value": 1.0, "unit": "sec", "queries": {},
            "queries_omitted": 0, "full": "BENCH.json"}


def _timings(n_extra: int) -> dict[str, float]:
    timings = {name: 0.5 for name in bench.FINAL_REPORT_QUERIES}
    timings.update({f"extra_{i:03d}": 100.0 - i for i in range(n_extra)})
    return timings


def test_pinned_first_then_slowest_extras_within_budget():
    timings = _timings(200)
    final = bench.final_line(_head(), timings)
    line = json.dumps(final, separators=(",", ":"))
    assert len(line) <= bench.FINAL_LINE_BUDGET
    assert set(bench.FINAL_REPORT_QUERIES) <= set(final["queries"])
    extras = [q for q in final["queries"] if q.startswith("extra_")]
    assert extras == [f"extra_{i:03d}" for i in range(len(extras))]  # slowest first
    assert 0 < len(extras) < 200
    assert final["queries_omitted"] == len(timings) - len(final["queries"])


def test_pinned_entries_that_did_not_run_are_skipped():
    timings = {"extra_a": 2.0, bench.FINAL_REPORT_QUERIES[0]: 1.0}
    final = bench.final_line(_head(), timings)
    assert final["queries"] == {bench.FINAL_REPORT_QUERIES[0]: 1.0, "extra_a": 2.0}
    assert final["queries_omitted"] == 0


def test_pinned_only_line_over_budget_raises():
    timings = _timings(5)
    pinned_only = bench.final_line(_head(), {q: timings[q] for q in bench.FINAL_REPORT_QUERIES})
    size = len(json.dumps(pinned_only, separators=(",", ":")))
    with pytest.raises(ValueError, match="FINAL_REPORT_QUERIES"):
        bench.final_line(_head(), timings, budget=size - 1)
    # exactly at the budget: the pinned line fits, no extra does
    final = bench.final_line(_head(), timings, budget=size)
    assert not any(q.startswith("extra_") for q in final["queries"])
