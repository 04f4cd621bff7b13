"""The benchmark's own arithmetic: interval union, span self time and
attribution, percentile/ratio helpers and SQL metric parsing."""

import statistics

import pytest

from perfbench.arith import (innermost, median, quartile_spread, ratio,
                             self_time, union_length)
from perfbench.engine import parse_metric
from perfbench.trace import layer_rollup


def test_union_counts_overlap_once():
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert union_length([(1, 3), (0, 2), (2, 3)]) == 3
    assert union_length([]) == 0


def test_union_clips_to_window():
    # a SQL execution that started before the gate and one that ran past it
    assert union_length([(-1, 1), (2, 10)], lo=0, hi=4) == 3
    assert union_length([(5, 6)], lo=0, hi=4) == 0


def test_driver_only_time_is_wall_minus_union():
    wall = (0.0, 10.0)
    execs = [(1.0, 4.0), (3.0, 5.0), (8.0, 12.0)]
    assert wall[1] - wall[0] - union_length(execs, *wall) == 4.0


def test_self_time_subtracts_children_coverage():
    span = {"start": 0.0, "end": 10.0}
    kids = [{"start": 1.0, "end": 3.0}, {"start": 2.0, "end": 4.0},
            {"start": 9.0, "end": 12.0}]
    assert self_time(span, kids) == pytest.approx(6.0)
    assert self_time(span, []) == 10.0


def test_innermost_picks_latest_started_container():
    outer = {"id": 0, "start": 0.0, "end": 10.0}
    inner = {"id": 1, "start": 2.0, "end": 5.0}
    assert innermost([outer, inner], 3.0) is inner
    assert innermost([outer, inner], 6.0) is outer
    assert innermost([outer, inner], 11.0) is None


def test_layer_rollup_self_time_and_eager_sql():
    layers = {"calendar": "x.calendar", "llm.dedup": "x.llm.dedup"}
    spans = [
        {"id": 0, "parent": None, "layer": "queries", "start": 0, "end": 10},
        {"id": 1, "parent": 0, "layer": "llm.dedup", "start": 1, "end": 9},
        {"id": 2, "parent": 1, "layer": "calendar", "start": 2, "end": 3},
    ]
    engine = [
        {"id": 3, "parent": 1, "layer": "sql", "start": 4, "end": 8},
        {"id": 4, "parent": 0, "layer": "sql", "start": 9.5, "end": 10},
        {"id": 5, "parent": 1, "layer": "job", "start": 8, "end": 8.5},
    ]
    out = layer_rollup(spans, engine, layers)
    assert out["llm.dedup"] == {"calls": 1, "self_s": 2.5, "eager_sql": 1}
    assert out["calendar"] == {"calls": 1, "self_s": 1.0, "eager_sql": 0}


def test_median_and_ratio_helpers():
    assert median([3.0, 1.0, 2.0]) == 2.0
    assert median([]) == 0.0
    assert ratio(3, 4) == 0.75
    assert ratio(1, 0) == 0.0


def test_quartile_spread_matches_statistics():
    xs = [10.0, 11.0, 9.5, 10.2, 10.8, 9.9, 10.1, 10.4, 10.0, 10.3]
    q1, _, q3 = statistics.quantiles(xs, n=4)
    assert quartile_spread(xs) == pytest.approx((q3 - q1)
                                                / statistics.median(xs))
    assert quartile_spread([5.0] * 10) == 0.0


@pytest.mark.parametrize("text,value", [
    ("5,334", 5334.0),
    ("734.0 B", 734.0),
    ("total (min, med, max (stageId: taskId))\n"
     "6.4 s (3.2 s, 3.2 s, 3.2 s (stage 10.0: task 4))", 6.4),
    ("total (min, med, max (stageId: taskId))\n"
     "3.0 KiB (1248.0 B, 1872.0 B, 1872.0 B (stage 10.0: task 5))", 3072.0),
    ("850 ms", 0.85),
    ("1.5 m", 90.0),
])
def test_parse_metric(text, value):
    assert parse_metric(text) == pytest.approx(value)


def test_gate_cpu_leaves_out_jit_gc_and_check_work():
    from perfbench.run import gate_cpu, pass_cpu, pass_wall

    rec = {"cpu0": 10.0, "jit0": 4.0, "gc0": 1.0, "cpu1": 30.0, "jit1": 9.0,
           "gc1": 2.5, "check_cpu": 0.5, "t0": 0.0, "t2": 8.0,
           "check_s": 1.0}
    assert gate_cpu(rec) == pytest.approx(20.0 - 5.0 - 1.5 - 0.5)
    assert pass_cpu([rec, rec]) == pytest.approx(26.0)
    assert pass_wall([rec, rec]) == pytest.approx(14.0)


def test_tree_cpu_counts_no_jvm_threads_without_a_jvm():
    import os

    from perfbench.engine import tree_cpu_s

    total, jit, gc = tree_cpu_s(os.getpid())
    assert total > 0 and jit == 0 and gc == 0
