"""Spans around layer calls, and their Spark work from the event log.

A span is opened by the benchmark around one call into a layer's public
function. Spans always record wall time, in memory; the end-to-end
metrics are computed from them. When tracing is on, each span also tags
the Spark jobs it starts (``setJobDescription``) so that, after the
session stops, the event log attributes every task and every SQL plan
metric to the innermost span that was open.
"""

from __future__ import annotations

import glob
import json
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

TAG = "perfbench#"


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    counts: dict = field(default_factory=dict)
    # filled from the event log
    jobs: int = 0
    tasks: int = 0
    task_ms: list = field(default_factory=list)
    sql: dict = field(default_factory=dict)  # (plan node, metric) -> total
    task_metrics: dict = field(default_factory=dict)

    @property
    def wall_ms(self) -> float:
        return (self.end - self.start) * 1e3


class Tracer:
    def __init__(self, sc, tag_jobs: bool):
        self.sc = sc
        self.tag_jobs = tag_jobs
        self.spans: list[Span] = []
        self._stack: list[int] = []

    def _tag(self) -> None:
        if self.tag_jobs:
            self.sc.setJobDescription(
                f"{TAG}{self._stack[-1]}" if self._stack else None
            )

    @contextmanager
    def span(self, name: str):
        s = Span(len(self.spans), name, self._stack[-1] if self._stack else None, 0.0)
        self.spans.append(s)
        self._stack.append(s.id)
        self._tag()
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self._tag()

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def self_ms(self, s: Span) -> float:
        """Wall time minus the part covered by child spans (children of
        one span never overlap: the driver is single-threaded)."""
        return s.wall_ms - sum(c.wall_ms for c in self.spans if c.parent == s.id)

    def dump(self, path: str) -> None:
        rows = [
            {
                "id": s.id,
                "name": s.name,
                "parent": s.parent,
                "start_s": s.start,
                "wall_ms": s.wall_ms,
                "self_ms": self.self_ms(s),
                "counts": s.counts,
                "jobs": s.jobs,
                "tasks": s.tasks,
                "task_metrics": s.task_metrics,
                "sql": {f"{k[0]}/{k[1]}": v for k, v in s.sql.items()},
            }
            for s in self.spans
        ]
        with open(path, "w") as f:
            json.dump(rows, f, indent=1)


def _plan_accums(plan: dict, out: dict) -> None:
    for m in plan["metrics"]:
        out[m["accumulatorId"]] = (plan["nodeName"], m["name"])
    for child in plan["children"]:
        _plan_accums(child, out)


def _span_of(desc: str | None) -> int | None:
    if desc and desc.startswith(TAG):
        return int(desc[len(TAG) :])
    return None


def attribute_event_log(log_dir: str, tracer: Tracer) -> None:
    """Add each span's jobs, tasks, task metrics and SQL plan metrics,
    read from the (uncompressed, unrolled) event log in `log_dir`."""
    (path,) = glob.glob(f"{log_dir}/*")
    accums: dict[int, tuple[str, str]] = {}
    exec_span: dict[int, int | None] = {}
    stage_span: dict[int, int] = {}
    spans = tracer.spans

    def add_sql(sid: int, acc_id: int, value, name: str | None = None) -> None:
        # nodes of a cached plan are in no logged plan, but their task
        # updates still carry the metric's name
        key = accums.get(acc_id) or (name and ("", name))
        if not key:
            return
        try:  # task-side SQL metric updates are logged as strings
            value = float(value)
        except (TypeError, ValueError):
            return
        spans[sid].sql[key] = spans[sid].sql.get(key, 0) + value

    with open(path) as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"].rsplit(".", 1)[-1]
            if kind in ("SparkListenerSQLExecutionStart", "SparkListenerSQLAdaptiveExecutionUpdate"):
                _plan_accums(e["sparkPlanInfo"], accums)
                if kind == "SparkListenerSQLExecutionStart":
                    exec_span[e["executionId"]] = _span_of(e.get("description"))
            elif kind == "SparkListenerDriverAccumUpdates":
                sid = exec_span.get(e["executionId"])
                if sid is not None:
                    for acc_id, value in e["accumUpdates"]:
                        add_sql(sid, acc_id, value)
            elif kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                sid = _span_of(props.get("spark.job.description"))
                if sid is None and "spark.sql.execution.id" in props:
                    sid = exec_span.get(int(props["spark.sql.execution.id"]))
                if sid is not None:
                    spans[sid].jobs += 1
                    for st in e["Stage IDs"]:
                        stage_span[st] = sid
            elif kind == "SparkListenerTaskEnd":
                sid = stage_span.get(e["Stage ID"])
                if sid is None:
                    continue
                s = spans[sid]
                info, tm = e["Task Info"], e.get("Task Metrics") or {}
                s.tasks += 1
                s.task_ms.append(info["Finish Time"] - info["Launch Time"])
                ran_python = False
                for acc in info.get("Accumulables", ()):
                    if acc.get("Metadata") == "sql":
                        add_sql(sid, acc["ID"], acc.get("Update"), acc.get("Name"))
                    ran_python |= acc.get("Name", "").startswith("time to run Python")
                s.task_metrics["python_tasks"] = s.task_metrics.get("python_tasks", 0) + ran_python
                sw = tm.get("Shuffle Write Metrics") or {}
                sr = tm.get("Shuffle Read Metrics") or {}
                for name, value in (
                    ("executor_cpu_ms", tm.get("Executor CPU Time", 0) / 1e6),
                    ("shuffle_write_bytes", sw.get("Shuffle Bytes Written", 0)),
                    ("shuffle_records", sw.get("Shuffle Records Written", 0)),
                    ("fetch_wait_ms", sr.get("Fetch Wait Time", 0)),
                    (
                        "spill_bytes",
                        tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0),
                    ),
                ):
                    s.task_metrics[name] = s.task_metrics.get(name, 0) + value


def python_ms(s: Span, phase: str | None = None) -> float:
    """Python-worker time of a span's plan nodes; `phase` picks one of
    'start', 'initialize' or 'run', None sums all three."""
    total = 0.0
    for (_, metric), value in s.sql.items():
        if "Python worker" in metric and metric.startswith("time to"):
            if phase is None or metric.startswith(f"time to {phase}"):
                total += value
    return total


def sql_total(s: Span, metric: str, node: str = "") -> float:
    """A SQL plan metric summed over the span's plan nodes whose name
    starts with `node`."""
    return sum(v for (k, m), v in s.sql.items() if m == metric and k.startswith(node))


def task_skew(s: Span) -> float:
    """Max over median task duration (1.0 when a span ran no tasks)."""
    if not s.task_ms:
        return 1.0
    return max(s.task_ms) / max(statistics.median(s.task_ms), 1)


def base_metrics(spans: list[Span]) -> dict[str, float]:
    """Base metrics of one span name: medians of wall time and task skew
    over its calls, per-call means of the counts. Empty when the
    workload never opened the span."""
    if not spans:
        return {}
    n = len(spans)

    def per_call(get) -> float:
        return sum(get(s) for s in spans) / n

    return {
        "wall_ms": statistics.median(s.wall_ms for s in spans),
        "jobs": per_call(lambda s: s.jobs),
        "tasks": per_call(lambda s: s.tasks),
        "executor_cpu_ms": per_call(lambda s: s.task_metrics.get("executor_cpu_ms", 0)),
        "python_ms": per_call(python_ms),
        "shuffle_write_bytes": per_call(lambda s: s.task_metrics.get("shuffle_write_bytes", 0)),
        "fetch_wait_ms": per_call(lambda s: s.task_metrics.get("fetch_wait_ms", 0)),
        "spill_bytes": per_call(lambda s: s.task_metrics.get("spill_bytes", 0)),
        "task_skew": statistics.median(task_skew(s) for s in spans),
    }
