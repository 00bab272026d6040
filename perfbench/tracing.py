"""Spans around the benchmark's calls into the engine, and the Spark event
log parser that attributes jobs, stages and tasks to them.

A span is (id, name, layer, parent, start, end).  While a span is the
innermost open one, every Spark job the driver thread launches carries the
span's job group (``spark.jobGroup.id``), so the event log can be cut per
span.  Spans are kept in memory and written once, at exit.
"""

from __future__ import annotations

import contextlib
import json
import os
import time
from collections import defaultdict
from dataclasses import asdict, dataclass, field

GROUP_PREFIX = "perfbench-"


@dataclass
class Span:
    id: int
    name: str
    layer: str
    parent: int | None
    start: float
    end: float = 0.0


@dataclass
class Tracer:
    """Records spans when ``enabled``; otherwise every call is a no-op."""

    enabled: bool
    spark_context: object = None
    spans: list[Span] = field(default_factory=list)
    _stack: list[Span] = field(default_factory=list)

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, layer, parent.id if parent else None, time.time())
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def _set_group(self, s: Span | None) -> None:
        if self.spark_context is not None:
            self.spark_context.setLocalProperty(
                "spark.jobGroup.id", None if s is None else f"{GROUP_PREFIX}{s.id}"
            )

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


def subtree(spans: list[Span], root: int) -> list[Span]:
    """``root`` and every span below it."""
    children = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append(s)
    out, todo = [], [spans[root]]
    while todo:
        s = todo.pop()
        out.append(s)
        todo.extend(children[s.id])
    return out


def union_length(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Total length of the union of ``intervals`` clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time_by_layer(spans: list[Span]) -> dict[str, float]:
    """A span's self time is its duration minus the part of it covered by
    its children; summed per layer."""
    children = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append((s.start, s.end))
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        out[s.layer] += (s.end - s.start) - union_length(children[s.id], s.start, s.end)
    return dict(out)


# ---------- Spark event log ----------

COUNTERS = (
    "jobs", "stages", "tasks", "failed_tasks",
    "executor_run_ms", "executor_cpu_ns", "gc_ms",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
    "input_bytes", "output_bytes", "python_bytes_in", "files_written",
)


def _group_id(props: dict | None) -> int | None:
    gid = (props or {}).get("spark.jobGroup.id") or ""
    return int(gid[len(GROUP_PREFIX):]) if gid.startswith(GROUP_PREFIX) else None


def _plan_metric_names(node: dict, out: dict[int, str]) -> None:
    for m in node.get("metrics", ()):
        out[m["accumulatorId"]] = m["name"]
    for ch in node.get("children", ()):
        _plan_metric_names(ch, out)


def _write_path(node: dict) -> str | None:
    """Output path of the file-write command in a plan (under AQE it sits
    below the AdaptiveSparkPlan root), or None."""
    s = node.get("simpleString", "")
    if s.startswith(WRITE_COMMAND):
        return s[len(WRITE_COMMAND):].split(",", 1)[0].removeprefix("file:")
    for ch in node.get("children", ()):
        found = _write_path(ch)
        if found is not None:
            return found
    return None


@dataclass
class Write:
    """One SQL execution that wrote files: its span, output path and interval."""

    span: int
    path: str
    start: float
    end: float = 0.0


WRITE_COMMAND = "Execute InsertIntoHadoopFsRelationCommand "


def parse_event_log(path: str) -> tuple[dict, dict, list[Write]]:
    """Read one uncompressed JSON-lines event log.

    Returns (per span id: counters from COUNTERS, per span id: the
    [start, end] wall-clock seconds of each of its jobs, the file writes).
    Work started outside any span is dropped.
    """
    per: dict[int, dict[str, float]] = defaultdict(lambda: dict.fromkeys(COUNTERS, 0))
    jobs: dict[int, list[tuple[float, float]]] = defaultdict(list)
    job_span: dict[int, tuple[int, float]] = {}
    stage_span: dict[int, int] = {}
    exec_span: dict[int, int] = {}
    writes: dict[int, Write] = {}
    metric_names: dict[int, str] = {}
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"].rsplit(".", 1)[-1]
            if kind == "SparkListenerJobStart":
                sid = _group_id(e.get("Properties"))
                if sid is not None:
                    job_span[e["Job ID"]] = (sid, e["Submission Time"] / 1000.0)
                    per[sid]["jobs"] += 1
            elif kind == "SparkListenerJobEnd":
                started = job_span.pop(e["Job ID"], None)
                if started is not None:
                    jobs[started[0]].append((started[1], e["Completion Time"] / 1000.0))
            elif kind == "SparkListenerStageSubmitted":
                sid = _group_id(e.get("Properties"))
                if sid is not None:
                    stage_span[e["Stage Info"]["Stage ID"]] = sid
                    per[sid]["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                sid = stage_span.get(e["Stage ID"])
                if sid is not None:
                    _add_task(per[sid], e)
            elif kind in ("SparkListenerSQLExecutionStart", "SparkListenerSQLAdaptiveExecutionUpdate"):
                plan = e.get("sparkPlanInfo", {})
                _plan_metric_names(plan, metric_names)
                sid = _group_id({"spark.jobGroup.id": e.get("jobGroupId")})
                if sid is not None and kind == "SparkListenerSQLExecutionStart":
                    exec_span[e["executionId"]] = sid
                    out = _write_path(plan)
                    if out is not None:
                        writes[e["executionId"]] = Write(sid, out, e["time"] / 1000.0)
            elif kind == "SparkListenerSQLExecutionEnd":
                if e["executionId"] in writes:
                    writes[e["executionId"]].end = e["time"] / 1000.0
            elif kind == "SparkListenerDriverAccumUpdates":
                sid = exec_span.get(e["executionId"])
                if sid is not None:
                    for acc_id, value in e["accumUpdates"]:
                        if metric_names.get(acc_id) == "number of written files":
                            per[sid]["files_written"] += value
    return dict(per), dict(jobs), list(writes.values())


def _add_task(c: dict[str, float], e: dict) -> None:
    c["tasks"] += 1
    if e["Task Info"].get("Failed"):
        c["failed_tasks"] += 1
    m = e.get("Task Metrics") or {}
    c["executor_run_ms"] += m.get("Executor Run Time", 0)
    c["executor_cpu_ns"] += m.get("Executor CPU Time", 0)
    c["gc_ms"] += m.get("JVM GC Time", 0)
    c["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    sr = m.get("Shuffle Read Metrics") or {}
    c["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    c["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
    c["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
    c["output_bytes"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
    for acc in e["Task Info"].get("Accumulables", ()):
        if acc.get("Name") == "data sent to Python workers":
            c["python_bytes_in"] += int(acc.get("Update", 0))


def find_event_log(log_dir: str) -> str:
    """The single application log Spark wrote into ``log_dir``."""
    names = [n for n in os.listdir(log_dir) if not n.startswith(".") and not n.endswith(".inprogress")]
    if len(names) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, found {names}")
    return os.path.join(log_dir, names[0])
