import itertools

import pytest

from perfbench.trace import (Span, Tracer, attribute_jobs, driver_only_s, self_times,
                             spark_sum, union_length)


def test_union_length_merges_and_clips():
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert union_length([(0, 10)], 2, 4) == 2
    assert union_length([]) == 0


def test_self_time_subtracts_covered_child_time():
    spans = [Span(0, "root", None, None, 0.0, 10.0),
             Span(1, "a", None, 0, 1.0, 4.0),
             Span(2, "b", None, 0, 3.0, 6.0),   # overlaps a: counted once
             Span(3, "c", None, 1, 1.5, 2.0)]   # grandchild: not root's child
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 5.0)
    assert st[1] == pytest.approx(3.0 - 0.5)
    assert st[2] == pytest.approx(3.0)
    assert st[3] == pytest.approx(0.5)


def test_jobs_go_to_the_innermost_open_span():
    spans = [Span(0, "timed", None, None, 0, 9, j0=0, j1=10),
             Span(1, "dedup", None, 0, 1, 5, j0=2, j1=6),
             Span(2, "lsh", None, 1, 2, 3, j0=3, j1=5),
             Span(3, "search", None, 0, 6, 8, j0=7, j1=9)]
    owner = attribute_jobs(spans, range(12))
    assert owner == {0: 0, 1: 0, 2: 1, 3: 2, 4: 2, 5: 1, 6: 0, 7: 3, 8: 3, 9: 0}


def test_tracer_records_nesting_and_job_ranges():
    counter = itertools.count()
    tr = Tracer(True, lambda: next(counter))
    with tr.span("outer"):
        with tr.span("inner", op=7):
            pass
        with tr.span("numpy", jobs=False):
            pass
    outer, inner, numpy_span = tr.spans
    assert inner.parent == outer.sid and inner.op == 7
    assert outer.j0 < inner.j0 < inner.j1 < outer.j1
    assert numpy_span.j0 == numpy_span.j1  # no job ids read
    assert outer.start <= inner.start <= inner.end <= outer.end


def test_untraced_spans_cost_nothing():
    tr = Tracer(False, lambda: 1 / 0)  # the job counter is never read
    with tr.span("x") as s:
        assert s is None
    assert tr.spans == []


def _stage(tasks, run):
    return {"tasks": tasks, "executor_run_s": run, "executor_cpu_s": 0.0, "gc_s": 0.0,
            "shuffle_read_bytes": 0.0, "shuffle_write_bytes": 0.0, "spill_bytes": 0.0,
            "input_bytes": 0.0, "input_records": 0.0}


def test_spark_sum_counts_a_reused_stage_once():
    jobs = {0: {"submit": 0.0, "end": 1.0, "stages": [0, 1]},
            1: {"submit": 2.0, "end": 3.0, "stages": [1, 2]}}  # stage 1 skipped here
    stages = {0: _stage(4, 1.0), 1: _stage(2, 0.5), 2: _stage(1, 0.25)}
    assert spark_sum([0, 1], jobs, stages)["stages"] == 3
    second = spark_sum([1], jobs, stages)
    assert (second["jobs"], second["stages"], second["tasks"]) == (1, 1, 1)
    assert second["executor_run_s"] == 0.25


def test_driver_only_is_wall_minus_job_union():
    jobs = {4: {"submit": 1.0, "end": 3.0, "stages": []},
            5: {"submit": 2.0, "end": 4.0, "stages": []},
            9: {"submit": 0.0, "end": 10.0, "stages": []}}  # outside the span's range
    span = Span(0, "s", None, None, 0.0, 6.0, j0=4, j1=6)
    assert driver_only_s(span, jobs) == pytest.approx(3.0)
