"""Spans around engine calls, and the per-layer table built from Spark's
own event log.

The benchmark is a closed loop with one client thread, so every Spark job
that starts inside a span's interval belongs to that span. Traced runs
also tag each span's jobs (``SparkContext.addJobTag``); the tag is the
primary key, and the interval only places jobs that carry no tag (jobs
started from helper threads the engine spawns). Only the standard library
reads the log.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

TAG_PREFIX = "perfbench"
WRITE_EXTRAS = ("bytes_written", "files_written")
SPAN_METRICS = (
    "wall_s", "driver_s", "task_busy_s", "jobs", "shuffle_bytes",
    "spill_bytes", "py_worker_s",
)


@dataclass
class Span:
    name: str
    pass_no: int
    t0: float  # epoch seconds, comparable with event-log millis
    t1: float = 0.0
    wall_s: float = 0.0
    extra: dict = field(default_factory=dict)

    @property
    def tag(self) -> str:
        return f"{TAG_PREFIX}:{self.name}:{self.pass_no}:{self.t0:.6f}"


def _snapshot(paths) -> dict:
    snap = {}
    for root in paths:
        if os.path.isfile(root):
            st = os.stat(root)
            snap[root] = (st.st_size, st.st_mtime_ns)
            continue
        for d, _, files in os.walk(root):
            for f in files:
                p = os.path.join(d, f)
                try:
                    st = os.stat(p)
                except FileNotFoundError:
                    continue
                snap[p] = (st.st_size, st.st_mtime_ns)
    return snap


class Recorder:
    """Times spans; when ``traced``, also tags their jobs and measures
    the bytes and files each write span leaves on storage."""

    def __init__(self, spark, traced: bool):
        self.sc = spark.sparkContext
        self.traced = traced
        self.spans: list[Span] = []

    @contextmanager
    def span(self, name: str, pass_no: int, writes=()):
        before = _snapshot(writes) if self.traced and writes else None
        s = Span(name, pass_no, time.time())
        if self.traced:
            self.sc.addJobTag(s.tag)
        c0 = time.perf_counter()
        try:
            yield s
        finally:
            s.wall_s = time.perf_counter() - c0
            s.t1 = time.time()
            if self.traced:
                self.sc.removeJobTag(s.tag)
            self.spans.append(s)
        if before is not None:
            after = _snapshot(writes)
            new = [p for p, v in after.items() if before.get(p) != v]
            s.extra["bytes_written"] = sum(after[p][0] for p in new)
            s.extra["files_written"] = len(new)


# --------------------------------------------------------------------------
# event-log parsing
# --------------------------------------------------------------------------


def read_event_log(log_dir: str) -> list[dict]:
    events = []
    for name in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, name)) as fh:
            for line in fh:
                line = line.strip()
                if line:
                    events.append(json.loads(line))
    return events


def _plan_metrics(info: dict, out: dict) -> None:
    node = info.get("nodeName", "")
    for m in info.get("metrics", []):
        out[m["accumulatorId"]] = (node, m["name"])
    for child in info.get("children", []):
        _plan_metrics(child, out)


def _union_s(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Seconds of [lo, hi] covered by at least one interval."""
    covered, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            covered += b - a
            end = b
    return covered


class _Acc:
    def __init__(self):
        self.jobs = 0
        self.tasks: list[tuple[float, float]] = []
        self.run_ms = 0
        self.gc_ms = 0
        self.shuffle = 0
        self.spill = 0
        self.py_ms = 0
        self.py_sent = 0
        self.scan_rows = 0
        self.files_read = 0
        self.by_time = 0


def span_layers(spans: list[Span], events: list[dict]) -> dict[int, dict]:
    """Per span instance (index into ``spans``): the seven span metrics
    plus GC, bytes sent to Python workers, scan rows and files read."""
    by_tag = {s.tag: i for i, s in enumerate(spans)}
    order = sorted(range(len(spans)), key=lambda i: spans[i].t0)

    def owner(props: dict, t_ms: float) -> tuple[int | None, bool]:
        for tag in (props.get("spark.job.tags") or "").split(","):
            if tag in by_tag:
                return by_tag[tag], False
        t = t_ms / 1000.0
        for i in order:
            if spans[i].t0 <= t <= spans[i].t1:
                return i, True
        return None, False

    accs = {i: _Acc() for i in range(len(spans))}
    stage_owner: dict[int, int | None] = {}
    exec_owner: dict[int, int | None] = {}
    acc_names: dict[int, tuple[str, str]] = {}
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            i, timed = owner(e.get("Properties") or {}, e["Submission Time"])
            if i is not None:
                accs[i].jobs += 1
                accs[i].by_time += timed
        elif kind == "SparkListenerStageSubmitted":
            info = e["Stage Info"]
            t = info.get("Submission Time") or 0
            stage_owner.setdefault(
                info["Stage ID"], owner(e.get("Properties") or {}, t)[0]
            )
        elif kind.endswith("SQLExecutionStart"):
            exec_owner[e["executionId"]] = owner({}, e["time"])[0]
            _plan_metrics(e.get("sparkPlanInfo", {}), acc_names)
        elif kind.endswith("SQLAdaptiveExecutionUpdate"):
            _plan_metrics(e.get("sparkPlanInfo", {}), acc_names)
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            i = exec_owner.get(e["executionId"])
            if i is None:
                continue
            for acc_id, value in e.get("accumUpdates", []):
                node, metric = acc_names.get(acc_id, ("", ""))
                if metric == "number of files read":
                    accs[i].files_read += int(value)
                elif metric == "number of output rows" and node.startswith("Scan"):
                    accs[i].scan_rows += int(value)
        elif kind == "SparkListenerTaskEnd":
            i = stage_owner.get(e["Stage ID"])
            if i is None:
                continue
            a = accs[i]
            ti = e["Task Info"]
            a.tasks.append((ti["Launch Time"] / 1000.0, ti["Finish Time"] / 1000.0))
            tm = e.get("Task Metrics") or {}
            a.run_ms += tm.get("Executor Run Time", 0)
            a.gc_ms += tm.get("JVM GC Time", 0)
            a.spill += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
            sr = tm.get("Shuffle Read Metrics") or {}
            sw = tm.get("Shuffle Write Metrics") or {}
            a.shuffle += (
                sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                + sw.get("Shuffle Bytes Written", 0)
            )
            for acc in ti.get("Accumulables", []):
                name = acc.get("Name")
                if name == "time to run Python workers":
                    a.py_ms += int(acc["Update"])
                elif name == "data sent to Python workers":
                    a.py_sent += int(acc["Update"])
                elif name == "number of output rows":
                    node, _ = acc_names.get(acc["ID"], ("", ""))
                    if node.startswith("Scan"):
                        a.scan_rows += int(acc["Update"])
                elif name == "number of files read":
                    a.files_read += int(acc["Update"])

    out = {}
    for i, s in enumerate(spans):
        a = accs[i]
        busy = _union_s(a.tasks, s.t0, s.t1)
        out[i] = {
            "wall_s": s.wall_s,
            "driver_s": max(0.0, (s.t1 - s.t0) - busy),
            "task_busy_s": a.run_ms / 1000.0,
            "jobs": a.jobs,
            "shuffle_bytes": a.shuffle,
            "spill_bytes": a.spill,
            "py_worker_s": a.py_ms / 1000.0,
            "gc_s": a.gc_ms / 1000.0,
            "py_sent_bytes": a.py_sent,
            "scan_rows": a.scan_rows,
            "files_read": a.files_read,
            "jobs_by_time": a.by_time,
            **s.extra,
        }
    return out


def per_layer_table(
    spans: list[Span], per_span: dict[int, dict], warm: list[int],
    span_names: list[str], write_spans: set[str],
) -> dict[str, float]:
    """Sum each span's metrics within a pass, then take the median over
    the warm passes. Spans that never ran in this workload read 0."""
    table: dict[str, float] = {}
    for name in span_names:
        keys = list(SPAN_METRICS)
        if name in write_spans:
            keys += list(WRITE_EXTRAS)
        if name.endswith("ann_index_topk"):
            keys += ["files_read", "scan_rows", "result_rows"]
        totals = {p: dict.fromkeys(keys, 0.0) for p in warm}
        for i, s in enumerate(spans):
            if s.name == name and s.pass_no in totals:
                for k in keys:
                    totals[s.pass_no][k] += per_span[i].get(k, 0)
        for k in keys:
            vals = [totals[p][k] for p in warm]
            table[f"{name}.{k}"] = statistics.median(vals) if vals else 0.0
        if name.endswith("ann_index_topk"):
            rows = table.pop(f"{name}.result_rows")
            scanned = table.pop(f"{name}.scan_rows")
            table[f"{name}.rows_scanned_per_result"] = scanned / rows if rows else 0.0
    return table
