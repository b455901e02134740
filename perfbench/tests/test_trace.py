"""Span bookkeeping and self-time arithmetic."""

from __future__ import annotations

import pytest

from perfbench.trace import PYTHON_NODE_RE, Span, Tracer, layer_self_times, self_time


def span(i, name, start, end, parent=None):
    return Span(i, name, start, end, parent, "r")


def test_self_time_subtracts_union_of_children():
    parent = span(0, "a/x", 0.0, 10.0)
    kids = [span(1, "b/y", 1.0, 3.0, 0), span(2, "b/y", 2.0, 5.0, 0),
            span(3, "c/z", 7.0, 8.0, 0)]
    # children cover [1, 5] and [7, 8]: 5 s of the parent's 10 s
    assert self_time(parent, kids) == pytest.approx(5.0)


def test_self_time_clips_children_to_the_parent():
    parent = span(0, "a/x", 2.0, 6.0)
    kids = [span(1, "b/y", 0.0, 3.0, 0), span(2, "b/y", 5.0, 9.0, 0)]
    assert self_time(parent, kids) == pytest.approx(2.0)


def test_self_time_without_children_is_duration():
    assert self_time(span(0, "a/x", 1.0, 4.5), []) == pytest.approx(3.5)


def test_layer_self_times_sum_to_root_duration():
    spans = [
        span(0, "bench/run", 0.0, 10.0),
        span(1, "plans/build", 1.0, 4.0, 0),
        span(2, "sources.parquet/load_table", 2.0, 3.0, 1),
        span(3, "spark/execute", 4.0, 9.0, 0),
    ]
    self_s = layer_self_times(spans)
    assert self_s == pytest.approx(
        {"bench": 2.0, "plans": 2.0, "sources.parquet": 1.0, "spark": 5.0}
    )
    assert sum(self_s.values()) == pytest.approx(10.0)


def test_tracer_records_nesting_and_run_id():
    t = Tracer("run-7", enabled=True)
    with t.span("bench/run"):
        with t.span("plans/build"):
            pass
        with t.span("spark/execute"):
            pass
    names = [(s.name, s.parent, s.run_id) for s in t.spans]
    assert names == [("bench/run", None, "run-7"), ("plans/build", 0, "run-7"),
                     ("spark/execute", 0, "run-7")]
    assert all(s.end >= s.start for s in t.spans)


def test_add_counts_on_the_innermost_open_span():
    t = Tracer("r", enabled=True)
    t.add("x", 1)
    with t.span("bench/run"):
        t.add("x", 2)
        with t.span("plans/build"):
            t.add("x", 3)
            t.add("x", 4)
    assert dict(t.counters) == {"x": 1}
    assert [s.counts for s in t.spans] == [{"x": 2}, {"x": 7}]


def test_disabled_tracer_records_nothing():
    t = Tracer("r", enabled=False)
    with t.span("bench/run"):
        t.add("x", 1)
    assert t.spans == [] and dict(t.counters) == {}


def test_python_node_pattern():
    plan = ("ArrowEvalPython [f(x)]\n+- MapInPandas g\n+- FlatMapGroupsInPandas h\n"
            "+- BatchEvalPythonUDTF u\n+- ArrowEvalPythonUDTF v\n+- Project")
    assert PYTHON_NODE_RE.findall(plan) == [
        "ArrowEvalPython", "MapInPandas", "FlatMapGroupsInPandas",
        "BatchEvalPythonUDTF", "ArrowEvalPythonUDTF",
    ]
