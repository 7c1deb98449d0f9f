"""Reduce a Spark event log to per-layer runtime numbers.

The traced run starts Spark with ``spark.eventLog.enabled`` (uncompressed,
into the benchmark's work directory) and tags every job it triggers with the
local property ``perfbench.segment``. After the session stops, :func:`load`
reads the log and :func:`reduce` sums, for one segment:

- task metrics: executor CPU and run time, GC, shuffle bytes, spill, task
  counts;
- the SQL metrics Spark attaches to Python evaluation nodes (worker start,
  init and run time, bytes sent to and returned from Python workers) and to
  file scans (scan time);
- per-phase totals, where a phase is chosen by the SQL execution's Python
  call site (``"collect at .../runner.py:412"``) through a caller-supplied
  ``phase_of`` function, and a stage that read input files inside the
  ``summary`` phase is booked to ``violations`` (that stage evaluates the
  checks; the rest of the phase reduces their rows).

Units: Spark reports executor CPU time in nanoseconds and run time, GC,
scan and Python-worker times in milliseconds; everything
returned here is in seconds or bytes.
"""

from __future__ import annotations

import glob
import json
import os
from collections import defaultdict
from collections.abc import Callable
from dataclasses import dataclass, field

SEGMENT_PROP = "perfbench.segment"

_SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
_SQL_END = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd"

# SQL metric name -> output key; all are per-task updates
_SQL_METRICS = {
    "time to start Python workers": "python_boot_s",
    "time to initialize Python workers": "python_init_s",
    "time to run Python workers": "python_run_s",
    "data sent to Python workers": "to_python_bytes",
    "data returned from Python workers": "from_python_bytes",
    "scan time": "scan_s",
}
_MS_KEYS = {"python_boot_s", "python_init_s", "python_run_s", "scan_s"}


@dataclass
class EventLog:
    """The parts of one application's event log the reducer needs."""

    job_segment: dict[int, str] = field(default_factory=dict)
    job_execution: dict[int, int] = field(default_factory=dict)
    stage_job: dict[int, int] = field(default_factory=dict)
    stage_window: dict[int, tuple[int, int]] = field(default_factory=dict)
    execution_desc: dict[int, str] = field(default_factory=dict)
    execution_window: dict[int, list[int]] = field(default_factory=dict)
    tasks: list[dict] = field(default_factory=list)


def event_files(log_dir: str) -> list[str]:
    """Event files under ``log_dir`` in write order: a rolling
    ``eventlog_v2_*/events_<n>_*`` directory or a single plain file."""
    rolled = glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*"))
    if rolled:
        return sorted(rolled, key=lambda p: int(os.path.basename(p).split("_")[1]))
    return sorted(
        p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)
    )


def load(paths: list[str]) -> EventLog:
    log = EventLog()
    for path in paths:
        with open(path) as f:
            for line in f:
                _ingest(log, json.loads(line))
    return log


def _ingest(log: EventLog, e: dict) -> None:
    kind = e["Event"]
    if kind == "SparkListenerJobStart":
        job = e["Job ID"]
        props = e.get("Properties") or {}
        log.job_segment[job] = props.get(SEGMENT_PROP, "")
        if "spark.sql.execution.id" in props:
            log.job_execution[job] = int(props["spark.sql.execution.id"])
        for sid in e["Stage IDs"]:
            log.stage_job.setdefault(sid, job)
    elif kind == "SparkListenerStageCompleted":
        info = e["Stage Info"]
        if "Submission Time" in info and "Completion Time" in info:
            log.stage_window[info["Stage ID"]] = (
                info["Submission Time"],
                info["Completion Time"],
            )
    elif kind == "SparkListenerTaskEnd":
        log.tasks.append(_task_record(e))
    elif kind == _SQL_START:
        log.execution_desc[e["executionId"]] = e.get("description", "")
        log.execution_window[e["executionId"]] = [e["time"], e["time"]]
    elif kind == _SQL_END and e["executionId"] in log.execution_window:
        log.execution_window[e["executionId"]][1] = e["time"]


def _task_record(e: dict) -> dict:
    m = e.get("Task Metrics") or {}
    rd = m.get("Shuffle Read Metrics") or {}
    wr = m.get("Shuffle Write Metrics") or {}
    rec = {
        "stage": e["Stage ID"],
        "failed": (e.get("Task End Reason") or {}).get("Reason") != "Success",
        "executor_cpu_s": m.get("Executor CPU Time", 0) / 1e9,
        "executor_run_s": m.get("Executor Run Time", 0) / 1e3,
        "gc_s": m.get("JVM GC Time", 0) / 1e3,
        "shuffle_write_bytes": wr.get("Shuffle Bytes Written", 0),
        "shuffle_read_bytes": rd.get("Local Bytes Read", 0) + rd.get("Remote Bytes Read", 0),
        "spill_bytes": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
        "input_bytes": (m.get("Input Metrics") or {}).get("Bytes Read", 0),
    }
    for key in _SQL_METRICS.values():
        rec[key] = 0.0
    for acc in (e.get("Task Info") or {}).get("Accumulables", []):
        key = _SQL_METRICS.get(acc.get("Name"))
        if key is not None:
            v = float(acc.get("Update") or 0)
            rec[key] += v / 1e3 if key in _MS_KEYS else v
    return rec


RUNTIME_KEYS = (
    "executor_cpu_s",
    "executor_run_s",
    "gc_s",
    "shuffle_write_bytes",
    "shuffle_read_bytes",
    "spill_bytes",
    "python_boot_s",
    "python_init_s",
    "python_run_s",
    "to_python_bytes",
    "from_python_bytes",
)


def _union_seconds(windows: list[tuple[int, int]]) -> float:
    total, end = 0, None
    for a, b in sorted(windows):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total / 1e3


def reduce(
    log: EventLog,
    segment: str,
    phase_of: Callable[[str], str | None] = lambda desc: None,
) -> dict:
    """Totals for the jobs tagged ``segment``.

    Returns the runtime sums under :data:`RUNTIME_KEYS` plus ``scan_s``,
    ``input_bytes``, ``tasks``, ``tasks_failed``, ``jobs``, ``stages``,
    ``spark_busy_s`` (union of the segment's SQL-execution wall intervals)
    and ``phases``: ``{phase: {"s": wall, "executor_cpu_s": cpu}}``.
    """
    jobs = {j for j, s in log.job_segment.items() if s == segment}
    stages = {s for s, j in log.stage_job.items() if j in jobs}
    out: dict = {k: 0.0 for k in RUNTIME_KEYS + ("scan_s",)}
    out.update(input_bytes=0, tasks=0, tasks_failed=0, jobs=len(jobs))
    out["stages"] = len([s for s in stages if s in log.stage_window])
    stage_input: dict[int, int] = defaultdict(int)
    stage_cpu: dict[int, float] = defaultdict(float)
    for t in log.tasks:
        if t["stage"] not in stages:
            continue
        out["tasks"] += 1
        out["tasks_failed"] += int(t["failed"])
        out["input_bytes"] += t["input_bytes"]
        for k in RUNTIME_KEYS + ("scan_s",):
            out[k] += t[k]
        stage_input[t["stage"]] += t["input_bytes"]
        stage_cpu[t["stage"]] += t["executor_cpu_s"]

    executions = {log.job_execution[j] for j in jobs if j in log.job_execution}
    windows = [tuple(log.execution_window[x]) for x in executions if x in log.execution_window]
    out["spark_busy_s"] = _union_seconds(windows)

    phases: dict[str, dict[str, float]] = defaultdict(lambda: {"s": 0.0, "executor_cpu_s": 0.0})
    for x in executions:
        phase = phase_of(log.execution_desc.get(x, ""))
        if phase is None or x not in log.execution_window:
            continue
        a, b = log.execution_window[x]
        x_stages = [
            s for s in stages if log.job_execution.get(log.stage_job[s]) == x
        ]
        scan_stages = [s for s in x_stages if stage_input[s] > 0]
        if phase == "summary" and scan_stages:
            scan_wall = _union_seconds([log.stage_window[s] for s in scan_stages if s in log.stage_window])
            phases["violations"]["s"] += scan_wall
            phases["violations"]["executor_cpu_s"] += sum(stage_cpu[s] for s in scan_stages)
            phases[phase]["s"] += (b - a) / 1e3 - scan_wall
            rest = [s for s in x_stages if s not in scan_stages]
            phases[phase]["executor_cpu_s"] += sum(stage_cpu[s] for s in rest)
        else:
            phases[phase]["s"] += (b - a) / 1e3
            phases[phase]["executor_cpu_s"] += sum(stage_cpu[s] for s in x_stages)
    out["phases"] = dict(phases)
    return out
