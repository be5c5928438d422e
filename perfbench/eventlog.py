"""Spark event-log reader: every job, stage, task and SQL plan node of a
traced run, grouped by the span that launched it.

A span is one timed call into the package. The benchmark tags it with
``sparkContext.setLocalProperty(SPAN_PROPERTY, name)`` (and the same name
as job group) before the call; Spark copies local properties into every
``JobStart`` event, including jobs a streaming query launches from its own
thread, so each job names exactly one span. Stages and tasks belong to
the span of the job that submitted them; SQL executions to the span of
their jobs, or of the jobs of their root execution.
"""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict
from dataclasses import dataclass, field

SPAN_PROPERTY = "perfbench.span"
UNTAGGED = "<untagged>"

EVENTLOG_CONF = {
    "spark.eventLog.enabled": "true",
    "spark.eventLog.compress": "false",
    "spark.eventLog.rolling.enabled": "false",
}

_TASK_FIELDS = (
    "run_ms", "cpu_ns", "gc_ms", "fetch_wait_ms", "shuffle_read_bytes",
    "shuffle_write_bytes", "shuffle_records_written", "input_bytes",
    "input_records", "output_bytes", "output_records", "spill_disk_bytes",
    "spill_memory_bytes",
)


@dataclass
class Span:
    name: str
    jobs: set = field(default_factory=set)
    stages: set = field(default_factory=set)
    task_run_ms: list = field(default_factory=list)
    totals: dict = field(default_factory=lambda: dict.fromkeys(_TASK_FIELDS, 0))
    # SQL metric accumulator id -> [plan node name, metric name, value]
    sql: dict = field(default_factory=dict)

    @property
    def tasks(self) -> int:
        return len(self.task_run_ms)

    def node_values(self, node: str, metric: str) -> list[int]:
        """Values of ``metric`` of every executed plan node named ``node``."""
        return [v for n, m, v in self.sql.values() if n == node and m == metric]

    def node_metric(self, node: str, metric: str) -> int:
        return sum(self.node_values(node, metric))


def _task_metrics(tm: dict) -> dict:
    sr, sw = tm.get("Shuffle Read Metrics", {}), tm.get("Shuffle Write Metrics", {})
    im, om = tm.get("Input Metrics", {}), tm.get("Output Metrics", {})
    return {
        "run_ms": tm.get("Executor Run Time", 0),
        "cpu_ns": tm.get("Executor CPU Time", 0),
        "gc_ms": tm.get("JVM GC Time", 0),
        "fetch_wait_ms": sr.get("Fetch Wait Time", 0),
        "shuffle_read_bytes": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
        "shuffle_write_bytes": sw.get("Shuffle Bytes Written", 0),
        "shuffle_records_written": sw.get("Shuffle Records Written", 0),
        "input_bytes": im.get("Bytes Read", 0),
        "input_records": im.get("Records Read", 0),
        "output_bytes": om.get("Bytes Written", 0),
        "output_records": om.get("Records Written", 0),
        "spill_disk_bytes": tm.get("Disk Bytes Spilled", 0),
        "spill_memory_bytes": tm.get("Memory Bytes Spilled", 0),
    }


def _plan_metrics(info: dict, out: dict) -> None:
    """accumulator id -> (node name, metric name) over a plan tree."""
    for m in info.get("metrics", []):
        out[m["accumulatorId"]] = (info["nodeName"].strip(), m["name"])
    for c in info.get("children", []):
        _plan_metrics(c, out)


def event_files(log_dir: str) -> list[str]:
    """Event files under ``log_dir`` (plain files, or rolling-log dirs)."""
    out = []
    for root, _dirs, files in os.walk(log_dir):
        out += [os.path.join(root, f) for f in files
                if not f.startswith(".") and not f.startswith("appstatus")]
    return sorted(out)


def read_spans(log_dir: str) -> dict[str, Span]:
    """Parse every event file under ``log_dir`` into spans by name."""
    spans: dict[str, Span] = {}
    stage_span: dict[int, str] = {}
    exec_span: dict[int, str] = {}
    root: dict[int, int] = {}  # SQL execution id -> its root execution id
    metric_names: dict[int, tuple] = {}  # from every plan version
    updates: list[tuple[str, int, int]] = []  # (span, accumulator id, delta)

    def span(name: str) -> Span:
        return spans.setdefault(name, Span(name))

    for path in event_files(log_dir):
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    name = props.get(SPAN_PROPERTY) or UNTAGGED
                    span(name).jobs.add(e["Job ID"])
                    for sid in e.get("Stage IDs", []):
                        stage_span[sid] = name
                    if "spark.sql.execution.id" in props:
                        eid = int(props["spark.sql.execution.id"])
                        exec_span.setdefault(eid, name)
                        exec_span.setdefault(root.get(eid, eid), name)
                elif kind == "SparkListenerTaskEnd":
                    name = stage_span.get(e["Stage ID"], UNTAGGED)
                    s = span(name)
                    s.stages.add(e["Stage ID"])
                    tm = _task_metrics(e.get("Task Metrics") or {})
                    s.task_run_ms.append(tm["run_ms"])
                    for k, v in tm.items():
                        s.totals[k] += v
                    for a in e["Task Info"].get("Accumulables", []):
                        if a.get("Metadata") == "sql" and "Update" in a:
                            try:
                                updates.append((name, a["ID"], int(a["Update"])))
                            except (TypeError, ValueError):
                                pass
                elif kind.endswith("SQLExecutionStart") or kind.endswith(
                    "SQLAdaptiveExecutionUpdate"
                ):
                    if "rootExecutionId" in e:
                        root[e["executionId"]] = e["rootExecutionId"]
                    _plan_metrics(e["sparkPlanInfo"], metric_names)
                elif kind.endswith("SQLAdaptiveSQLMetricUpdates"):
                    for m in e.get("sqlPlanMetrics", []):
                        metric_names.setdefault(m["accumulatorId"], ("?", m["name"]))
                elif kind.endswith("DriverAccumUpdates"):
                    eid = e.get("executionId")
                    name = exec_span.get(eid) or exec_span.get(root.get(eid), UNTAGGED)
                    updates += [(name, aid, int(v)) for aid, v in e.get("accumUpdates", [])]
    for name, aid, delta in updates:
        if aid in metric_names:
            entry = span(name).sql.setdefault(aid, [*metric_names[aid], 0])
            entry[2] += delta
    return spans


class Tracer:
    """Times calls as named spans and tags every Spark job they launch:
    ``tracer(name, fn)`` runs ``fn`` under job group ``name`` and local
    property ``SPAN_PROPERTY=name``; ``wall`` holds each span's seconds."""

    def __init__(self, sc):
        self.sc, self.wall = sc, {}

    def __call__(self, name: str, fn) -> float:
        self.sc.setJobGroup(name, name)
        self.sc.setLocalProperty(SPAN_PROPERTY, name)
        t0 = time.perf_counter()
        try:
            fn()
        finally:
            self.wall[name] = time.perf_counter() - t0
            self.sc.setLocalProperty(SPAN_PROPERTY, None)
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        return self.wall[name]
