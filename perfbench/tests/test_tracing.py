import json
import os

import pytest

import tracing

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")


def _spans():
    with open(os.path.join(DATA, "spans_small.json")) as f:
        return [tracing.Span(**s) for s in json.load(f)]


def test_event_log_attributes_jobs_stages_and_tasks_by_job_group():
    counters, jobs, _ = tracing.parse_event_log(os.path.join(DATA, "eventlog_small.jsonl"))
    # the fourth job ran outside every span and is dropped
    assert sorted(counters) == [0, 1, 2]
    write, parent, aggregate = counters[0], counters[1], counters[2]
    assert (write["jobs"], write["stages"], write["tasks"]) == (1, 1, 2)
    assert write["files_written"] == 2
    assert write["output_bytes"] > 0
    assert write["shuffle_write_bytes"] == 0
    # the parent's own job (a count) and the nested aggregation are kept apart
    assert (parent["jobs"], aggregate["jobs"]) == (1, 1)
    assert aggregate["stages"] == 2 and aggregate["tasks"] == 4
    assert aggregate["shuffle_write_bytes"] == aggregate["shuffle_read_bytes"] > 0
    assert all(c["failed_tasks"] == 0 for c in counters.values())
    assert all(c["executor_run_ms"] > 0 and c["executor_cpu_ns"] > 0 for c in counters.values())
    assert sorted(jobs) == [0, 1, 2] and all(len(v) == 1 for v in jobs.values())


def test_jobs_and_writes_fall_inside_their_spans():
    _, jobs, writes = tracing.parse_event_log(os.path.join(DATA, "eventlog_small.jsonl"))
    spans = _spans()
    for s in spans:
        for a, b in jobs[s.id]:
            # event-log times are whole milliseconds
            assert s.start - 0.001 <= a <= b <= s.end + 0.001
    assert [(w.span, w.path) for w in writes] == [(0, "/work/out")]
    assert spans[0].start - 0.001 <= writes[0].start < writes[0].end <= spans[0].end + 0.001


def test_self_time_subtracts_child_spans():
    spans = _spans()
    self_time = tracing.self_time_by_layer(spans)
    parent, child = spans[1], spans[2]
    assert self_time["operators"] == pytest.approx(child.end - child.start)
    assert self_time["bench"] == pytest.approx((parent.end - parent.start) - (child.end - child.start))
    assert [s.id for s in tracing.subtree(spans, 1)] == [1, 2]


def test_union_length_merges_overlaps_and_clips():
    assert tracing.union_length([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert tracing.union_length([(0, 2), (1, 3), (5, 6)], 1.5, 5.5) == 2
    assert tracing.union_length([], 0, 1) == 0


def test_disabled_tracer_records_nothing():
    t = tracing.Tracer(False)
    with t.span("x", "bench") as s:
        assert s is None
    assert t.spans == []


def test_tracer_nests_and_restores_job_group():
    class Ctx:
        def __init__(self):
            self.calls = []

        def setLocalProperty(self, key, value):
            self.calls.append((key, value))

    ctx = Ctx()
    t = tracing.Tracer(True, ctx)
    with t.span("a", "bench"):
        with t.span("b", "io"):
            pass
    groups = [v for _, v in ctx.calls]
    assert groups == ["perfbench-0", "perfbench-1", "perfbench-0", None]
    assert [(s.name, s.parent) for s in t.spans] == [("a", None), ("b", 0)]
