"""The event-log reducer against a small recorded log (see record_eventlog.py).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import eventlog  # noqa: E402
import spans  # noqa: E402

LOG = os.path.join(HERE, "data", "eventlog_small.jsonl")


def _phase(desc: str) -> str | None:
    return {"parquet": "sink", "collect": "summary"}.get(desc.split(" at ")[0])


@pytest.fixture(scope="module")
def events() -> list[dict]:
    with open(LOG) as f:
        return [json.loads(line) for line in f]


@pytest.fixture(scope="module")
def log():
    return eventlog.load([LOG])


def _segment_tasks(events: list[dict], segment: str) -> list[dict]:
    """Straight-line reference: TaskEnd events of stages listed by the
    segment's JobStart events."""
    stages = {
        s
        for e in events
        if e["Event"] == "SparkListenerJobStart"
        and e["Properties"].get(eventlog.SEGMENT_PROP) == segment
        for s in e["Stage IDs"]
    }
    return [e for e in events if e["Event"] == "SparkListenerTaskEnd" and e["Stage ID"] in stages]


def _acc(task: dict, name: str) -> float:
    return sum(float(a["Update"]) for a in task["Task Info"]["Accumulables"] if a["Name"] == name)


@pytest.mark.parametrize("segment", ["traced", "other"])
def test_totals_match_a_direct_sum(events, log, segment):
    tasks = _segment_tasks(events, segment)
    r = eventlog.reduce(log, segment, _phase)
    assert r["tasks"] == len(tasks) > 0
    assert r["tasks_failed"] == 0
    cpu = sum(t["Task Metrics"]["Executor CPU Time"] for t in tasks) / 1e9
    assert r["executor_cpu_s"] == pytest.approx(cpu)
    run = sum(t["Task Metrics"]["Executor Run Time"] for t in tasks) / 1e3
    assert r["executor_run_s"] == pytest.approx(run)
    written = sum(t["Task Metrics"]["Shuffle Write Metrics"]["Shuffle Bytes Written"] for t in tasks)
    assert r["shuffle_write_bytes"] == written > 0
    read = sum(t["Task Metrics"]["Input Metrics"]["Bytes Read"] for t in tasks)
    assert r["input_bytes"] == read
    sent = sum(_acc(t, "data sent to Python workers") for t in tasks)
    assert r["to_python_bytes"] == sent
    assert r["python_run_s"] == pytest.approx(sum(_acc(t, "time to run Python workers") for t in tasks) / 1e3)


def test_python_boundary_only_in_traced_segment(log):
    traced = eventlog.reduce(log, "traced", _phase)
    other = eventlog.reduce(log, "other", _phase)
    assert traced["to_python_bytes"] > 0 and traced["from_python_bytes"] > 0
    assert other["to_python_bytes"] == 0 and other["python_run_s"] == 0


def test_phases_by_call_site_with_scan_split(events, log):
    r = eventlog.reduce(log, "traced", _phase)
    assert set(r["phases"]) == {"sink", "summary", "violations"}
    # every traced SQL execution has a call site here, so the phases
    # partition the CPU of the tasks run under an execution (the read's
    # file-listing job runs outside any)
    in_sql = {
        s
        for e in events
        if e["Event"] == "SparkListenerJobStart"
        and e["Properties"].get(eventlog.SEGMENT_PROP) == "traced"
        and "spark.sql.execution.id" in e["Properties"]
        for s in e["Stage IDs"]
    }
    cpu = sum(
        t["Task Metrics"]["Executor CPU Time"] / 1e9
        for t in _segment_tasks(events, "traced")
        if t["Stage ID"] in in_sql
    )
    total = sum(p["executor_cpu_s"] for p in r["phases"].values())
    assert total == pytest.approx(cpu)
    # the read-back's scan stage is the only traced stage after the write
    # that read input bytes, and it went to violations
    assert r["phases"]["violations"]["executor_cpu_s"] > 0
    for p in r["phases"].values():
        assert p["s"] >= 0
    assert r["spark_busy_s"] == pytest.approx(sum(p["s"] for p in r["phases"].values()))


def test_unknown_segment_is_empty(log):
    r = eventlog.reduce(log, "absent", _phase)
    assert r["tasks"] == r["jobs"] == 0 and r["phases"] == {}


def test_union_seconds_merges_overlaps():
    assert eventlog._union_seconds([(0, 1000), (500, 1500), (3000, 3500)]) == 2.0
    assert eventlog._union_seconds([(0, 2000), (100, 200)]) == 2.0
    assert eventlog._union_seconds([]) == 0.0


def test_phase_lines_books_statements_by_variable():
    src = (
        "def run_suite(x):\n"
        "    viol_summary = (\n"
        "        x.collect()\n"
        "    )\n"
        "    sink.write.mode('overwrite').parquet(\n"
        "        path)\n"
        "    other = x.collect()\n"
    )
    lines = spans.phase_lines(src, "run_suite", {"viol_summary": "summary", "sink": "sink"})
    assert lines == {2: "summary", 3: "summary", 4: "summary", 5: "sink", 6: "sink"}
