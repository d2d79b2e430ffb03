"""Offline parser for Spark's JSON event log.

The traced run writes the log through Spark's own event-log listener and
reads it back after the session stops.  Every job carries the benchmark's
job group (``spark.jobGroup.id``), so stage, task and SQL-plan counters roll
up to the operation phase that caused them.
"""

from __future__ import annotations

import json
from collections import defaultdict
from dataclasses import dataclass, field
from pathlib import Path

# SQL plan nodes that run a Python kernel over whole partitions or groups
KERNEL_NODES = ("MapInArrow", "MapInPandas", "PythonMapInArrow", "FlatMapGroupsInPandas",
                "FlatMapGroupsInArrow", "FlatMapCoGroupsInPandas", "FlatMapCoGroupsInArrow",
                "FlatMapGroupsInPandasWithState", "WindowInPandas", "ArrowWindowPython",
                "AggregateInPandas", "ArrowAggregatePython")
# SQL plan nodes that evaluate per-row (scalar) Python UDFs
UDF_NODES = ("ArrowEvalPython", "BatchEvalPython")
ROWS_METRIC = "number of output rows"
BYTES_METRICS = ("data sent to Python workers", "data returned from Python workers")


@dataclass
class GroupStats:
    """Counters for every job of one job group."""

    jobs: int = 0
    stages: int = 0
    stages_skipped: int = 0
    tasks: int = 0
    task_failures: int = 0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    input_bytes: int = 0
    kernel_rows: int = 0
    kernel_bytes: int = 0
    udf_rows: int = 0
    udf_bytes: int = 0
    intervals: list[tuple[float, float]] = field(default_factory=list)

    def add(self, other: "GroupStats") -> None:
        for k, v in vars(other).items():
            if k == "intervals":
                self.intervals.extend(v)
            else:
                setattr(self, k, getattr(self, k) + v)


def covered_seconds(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    spans = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in spans:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def _plan_metrics(node: dict, out: dict[int, tuple[str, str]]) -> None:
    for m in node.get("metrics", []):
        out[m["accumulatorId"]] = (node.get("nodeName", ""), m["name"])
    for child in node.get("children", []):
        _plan_metrics(child, out)


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def parse(path: Path) -> dict[str, GroupStats]:
    """Per-job-group counters from one uncompressed event-log file."""
    job_group: dict[int, str] = {}
    job_exec: dict[int, int] = {}
    job_stages: dict[int, list[int]] = {}
    job_submit: dict[int, float] = {}
    job_end: dict[int, float] = {}
    stage_job: dict[int, int] = {}
    ran_stages: set[int] = set()
    stage_acc: dict[tuple[int, int], dict[int, float]] = {}
    exec_nodes: dict[int, dict[int, tuple[str, str]]] = defaultdict(dict)
    tasks: dict[int, int] = defaultdict(int)
    failures: dict[int, int] = defaultdict(int)
    task_sums: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))

    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event", "")
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                props = ev.get("Properties") or {}
                job_group[jid] = props.get("spark.jobGroup.id") or ""
                if props.get("spark.sql.execution.id") not in (None, ""):
                    job_exec[jid] = int(props["spark.sql.execution.id"])
                job_stages[jid] = list(ev.get("Stage IDs", []))
                job_submit[jid] = ev.get("Submission Time", 0) / 1000.0
                for sid in job_stages[jid]:
                    stage_job.setdefault(sid, jid)
            elif kind == "SparkListenerJobEnd":
                job_end[ev["Job ID"]] = ev.get("Completion Time", 0) / 1000.0
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                sid = info["Stage ID"]
                ran_stages.add(sid)
                stage_acc[(sid, info.get("Stage Attempt ID", 0))] = {
                    a["ID"]: _num(a.get("Value")) for a in info.get("Accumulables", [])}
            elif kind == "SparkListenerTaskEnd":
                sid = ev["Stage ID"]
                tasks[sid] += 1
                if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                    failures[sid] += 1
                m = ev.get("Task Metrics") or {}
                s = task_sums[sid]
                s["run_ms"] += m.get("Executor Run Time", 0)
                s["cpu_ns"] += m.get("Executor CPU Time", 0)
                s["gc_ms"] += m.get("JVM GC Time", 0)
                sr = m.get("Shuffle Read Metrics") or {}
                s["shuffle_read"] += (sr.get("Remote Bytes Read", 0)
                                      + sr.get("Local Bytes Read", 0))
                s["shuffle_write"] += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0)
                s["spill"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                s["input"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                    "SparkListenerSQLAdaptiveExecutionUpdate"):
                _plan_metrics(ev.get("sparkPlanInfo") or {}, exec_nodes[ev["executionId"]])

    groups: dict[str, GroupStats] = defaultdict(GroupStats)
    exec_group: dict[int, str] = {}
    for jid, group in job_group.items():
        g = groups[group]
        g.jobs += 1
        if jid in job_end:
            g.intervals.append((job_submit[jid], job_end[jid]))
        if jid in job_exec:
            exec_group.setdefault(job_exec[jid], group)
        for sid in job_stages[jid]:
            # a stage another job already ran (a reused shuffle) is skipped here
            if stage_job.get(sid) != jid or sid not in ran_stages:
                g.stages_skipped += 1
                continue
            g.stages += 1
            g.tasks += tasks[sid]
            g.task_failures += failures[sid]
            s = task_sums[sid]
            g.executor_run_s += s["run_ms"] / 1000.0
            g.executor_cpu_s += s["cpu_ns"] / 1e9
            g.gc_s += s["gc_ms"] / 1000.0
            g.shuffle_read_bytes += int(s["shuffle_read"])
            g.shuffle_write_bytes += int(s["shuffle_write"])
            g.spill_bytes += int(s["spill"])
            g.input_bytes += int(s["input"])

    acc_values: dict[int, float] = defaultdict(float)
    for vals in stage_acc.values():
        for aid, v in vals.items():
            acc_values[aid] += v
    for eid, nodes in exec_nodes.items():
        group = exec_group.get(eid)
        if group is None:
            continue
        g = groups[group]
        for aid, (node, metric) in nodes.items():
            v = acc_values.get(aid, 0.0)
            if node in KERNEL_NODES:
                if metric == ROWS_METRIC:
                    g.kernel_rows += int(v)
                elif metric in BYTES_METRICS:
                    g.kernel_bytes += int(v)
            elif node in UDF_NODES:
                if metric == ROWS_METRIC:
                    g.udf_rows += int(v)
                elif metric in BYTES_METRICS:
                    g.udf_bytes += int(v)
    return dict(groups)


def find_log(event_log_dir: Path) -> Path:
    """The single finished event-log file the session wrote."""
    logs = [p for p in event_log_dir.iterdir()
            if p.is_file() and not p.name.endswith(".inprogress")]
    if len(logs) != 1:
        raise RuntimeError(f"expected one finished event log in {event_log_dir}, found {logs}")
    return logs[0]
