"""Metric arithmetic of the benchmark on synthetic numbers and spans, and
the run loop and record lookup of ``run.py`` on stand-ins.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import run  # noqa: E402
import stats  # noqa: E402
from stats import Span  # noqa: E402


def test_tail_leaves_ten_samples_beyond():
    t = stats.tail([float(i) for i in range(1, 101)])  # 1..100
    assert (t.value, t.name, t.samples, t.beyond) == (90.0, "p90", 100, 10)


def test_tail_of_a_thousand_is_p99():
    t = stats.tail([float(i) for i in range(1000, 0, -1)])
    assert (t.value, t.name, t.beyond) == (990.0, "p99", 10)


def test_tail_with_twenty_samples_is_the_median_sample():
    t = stats.tail([float(i) for i in range(20, 0, -1)])
    assert (t.value, t.name, t.beyond) == (10.0, "p50", 10)


def test_no_tail_below_twenty_samples():
    assert stats.tail([float(i) for i in range(19)]) is None


def test_fastest_by_kind_keeps_each_kinds_lowest_latency():
    samples = [("a", 3.0), ("a", 1.0), ("b", 10.0), ("b", 50.0), ("b", 12.0)]
    assert stats.fastest_by_kind(samples) == {"a": 1.0, "b": 10.0}


def test_self_time_subtracts_covered_child_time():
    spans = [
        Span("op", 0.0, 10.0),
        Span("a", 1.0, 4.0, parent=0),
        Span("b", 3.0, 6.0, parent=0),  # overlaps a: union 1..6
        Span("c", 2.0, 3.0, parent=1),  # grandchild: counts against a only
    ]
    assert stats.self_times(spans) == pytest.approx([5.0, 2.0, 3.0, 1.0])
    assert stats.self_time_by_name(spans)["op"] == pytest.approx(5.0)


def test_self_time_clips_children_to_the_parent():
    spans = [Span("op", 0.0, 2.0), Span("late", 1.5, 3.0, parent=0)]
    assert stats.self_times(spans)[0] == pytest.approx(1.5)


def test_self_time_sums_by_name():
    spans = [
        Span("operators.dedup", 0.0, 2.0),
        Span("operators.prefix", 0.5, 1.0, parent=0),
        Span("operators.dedup", 5.0, 6.0),
    ]
    by = stats.self_time_by_name(spans)
    assert by == pytest.approx({"operators.dedup": 2.5, "operators.prefix": 0.5})


def test_outer_totals_count_nested_calls_of_one_layer_once():
    spans = [
        Span("sources.load", 0.0, 3.0),
        Span("sources.load", 0.5, 1.0, parent=0),
        Span("operators.text", 1.0, 2.0, parent=0),
        Span("sources.load", 1.2, 1.5, parent=2),  # under another layer, still inside one
        Span("sources.load", 4.0, 5.0),
    ]
    assert stats.outer_totals(spans) == {
        "sources.load": (2, pytest.approx(4.0)),
        "operators.text": (1, pytest.approx(1.0)),
    }


def test_utilization_is_busy_over_wall_times_cores():
    assert stats.utilization(6.0, 3.0, 4) == pytest.approx(0.5)
    assert stats.utilization(1.0, 0.0, 4) == 0.0


# -- the run loop and the record lookup of run.py ------------------------------


class _SixOps:
    def pass_ops(self, rng):
        return [f"op{i}" for i in range(6)]

    def run(self, ctx, name):
        return name


class _Ctx:
    seed = 0


def test_measure_runs_min_passes_even_when_the_window_is_over():
    results, walls, _ = run._measure(_SixOps(), _Ctx(), 0, 2, float("inf"))
    assert (len(results), len(walls)) == (12, 2)


def test_measure_stops_before_a_pass_would_cross_the_deadline():
    results, walls, _ = run._measure(_SixOps(), _Ctx(), 60, 2, 0.0)
    assert (len(results), len(walls)) == (6, 1)


def test_tracing_overhead_compares_with_the_same_seed_and_source(tmp_path):
    def record(name, started_at, wall, **over):
        rec = {"workload": "exchange_rw", "trace": 0, "seed": 1, "source_sha256": "abc",
               "cpus": 4, "sf": run.SF, "started_at": started_at, "wall_s": wall}
        rec.update(over)
        (tmp_path / f"{name}.json").write_text(json.dumps(rec))

    record("a", "2026-01-01T00:00:00", 5.0)
    record("b", "2026-01-02T00:00:00", 6.0)
    record("other-seed", "2026-01-03T00:00:00", 7.0, seed=2)
    record("other-source", "2026-01-03T00:00:00", 8.0, source_sha256="def")
    record("traced", "2026-01-03T00:00:00", 9.0, trace=1)
    lookup = run._latest_untraced_wall
    assert lookup(str(tmp_path), "exchange_rw", 1, "abc", 4) == 6.0
    assert lookup(str(tmp_path), "exchange_rw", 3, "abc", 4) is None
