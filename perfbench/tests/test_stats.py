"""Arithmetic of the benchmark: tail rules, error rate, self time, order.

Run with ``python -m pytest perfbench/tests -q``; no Spark session needed.
"""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from stats import (  # noqa: E402
    beyond,
    error_rate,
    pass_orders,
    percentile,
    self_time,
    slowest_per_pass,
    tail,
)


def test_percentile_interpolates_like_numpy_linear():
    xs = [4.0, 1.0, 3.0, 2.0]
    assert percentile(xs, 0) == 1.0
    assert percentile(xs, 100) == 4.0
    assert percentile(xs, 50) == pytest.approx(2.5)
    assert percentile(xs, 90) == pytest.approx(3.7)


@pytest.mark.parametrize(
    ("n", "p", "expected"),
    [(100, 90.0, 10), (99, 90.0, 9), (20, 50.0, 10), (1000, 99.0, 10), (10000, 99.9, 10)],
)
def test_beyond_counts_samples_past_the_percentile(n, p, expected):
    assert beyond(n, p) == expected


def test_tail_takes_highest_percentile_with_ten_beyond():
    xs = [float(i) for i in range(1, 101)]
    p, value, k = tail(xs)
    assert (p, k) == (90.0, 10)
    assert value == pytest.approx(percentile(xs, 90))


def test_tail_steps_down_when_a_percentile_has_nine_beyond():
    xs = [float(i) for i in range(99)]
    p, _, k = tail(xs)
    assert (p, k) == (89.0, 10)


def test_tail_of_three_ten_query_passes_is_p66():
    p, _, k = tail([float(i) for i in range(30)])
    assert (p, k) == (66.0, 10)


def test_slowest_per_pass_is_the_median_of_each_pass_maximum():
    passes = [[0.5, 2.0, 1.0], [0.6, 1.8, 1.1], [0.4, 9.0, 1.2]]
    # One stray 9 s execution does not set the tail.
    assert slowest_per_pass(passes) == 2.0
    # A regression on the slowest query alone moves it in full.
    slower = [[a, 2 * b, c] for a, b, c in passes]
    assert slowest_per_pass(slower) == 4.0


def test_slowest_per_pass_skips_passes_where_everything_failed():
    assert slowest_per_pass([[1.0, 3.0], [], [2.0, 5.0]]) == 4.0
    with pytest.raises(ValueError):
        slowest_per_pass([[], []])


def test_tail_uses_p99_from_a_thousand_samples():
    p, _, k = tail([float(i) for i in range(1000)])
    assert (p, k) == (99.0, 10)


def test_tail_falls_back_to_the_median_below_twenty_samples():
    xs = [0.5, 2.0, 1.0]
    assert tail(xs) == (50.0, 1.0, 1)
    assert tail([float(i) for i in range(19)])[::2] == (50.0, 9)
    assert tail([float(i) for i in range(20)])[::2] == (50.0, 10)
    assert tail([float(i) for i in range(21)])[::2] == (52.0, 10)


def test_error_rate_counts_failures_over_all_attempts():
    # 20 warm-up checks + 10 timed executions, one mismatch and one raise.
    assert error_rate(30, 2) == pytest.approx(2 / 30)
    assert error_rate(1, 0) == 0.0
    with pytest.raises(ValueError):
        error_rate(0, 0)
    with pytest.raises(ValueError):
        error_rate(3, 4)


def test_self_time_subtracts_the_union_of_overlapping_children():
    # Children [1,3] and [2,5] overlap on [2,3]: union covers 4 of 10.
    assert self_time(0.0, 10.0, [(1.0, 3.0), (2.0, 5.0)]) == pytest.approx(6.0)


def test_self_time_clips_children_to_the_parent_and_ignores_empty_ones():
    assert self_time(0.0, 10.0, [(-2.0, 1.0), (9.0, 12.0), (4.0, 4.0)]) == pytest.approx(8.0)
    assert self_time(0.0, 10.0, []) == pytest.approx(10.0)
    assert self_time(0.0, 10.0, [(0.0, 10.0), (3.0, 4.0)]) == pytest.approx(0.0)


def test_seed_changes_order_but_not_the_query_set():
    names = [f"q{i:02d}" for i in range(22)]
    a = pass_orders(names, seed=1, passes=3)
    b = pass_orders(names, seed=2, passes=3)
    assert a == pass_orders(names, seed=1, passes=3)
    assert a != b
    for order in a + b:
        assert sorted(order) == sorted(names)
    assert a[0] != a[1]


def test_tracer_nests_spans_and_shares_the_exec_id():
    from tracing import Tracer

    tr = Tracer()
    load = tr.wrap("catalog.load", lambda name: name)
    with tr.span("query", exec="p0q0"):
        with tr.span("build"):
            assert load("lineitem") == "lineitem"
        with tr.span("action"):
            pass
    spans = {s["name"]: s for s in tr.with_self_time()}
    assert spans["query"]["parent"] is None
    assert spans["build"]["parent"] == spans["query"]["id"]
    assert spans["catalog.load"]["parent"] == spans["build"]["id"]
    assert {s["exec"] for s in spans.values()} == {"p0q0"}
    build = spans["build"]
    load_s = spans["catalog.load"]["end"] - spans["catalog.load"]["start"]
    assert build["self"] == pytest.approx(build["end"] - build["start"] - load_s)


def test_trace_overhead_compares_traced_spans_with_the_untraced_run(tmp_path, capsys):
    import json

    from run import trace_overhead

    missing = trace_overhead(3.0, tmp_path / "tpch-seed1-untraced.json")
    assert missing == {"measured": False, "missing": "tpch-seed1-untraced.json", "traced_spans_s": 3.0}
    assert "no untraced record" in capsys.readouterr().err

    untraced = tmp_path / "tpch-seed1-untraced.json"
    untraced.write_text(json.dumps({"pass_latency_s": 2.5}))
    got = trace_overhead(3.0, untraced)
    assert got["measured"] is True
    assert got["residual_s"] == pytest.approx(0.5)
    assert got["ratio"] == pytest.approx(0.2)
