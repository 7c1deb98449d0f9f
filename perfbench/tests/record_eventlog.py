"""Record the small event log ``test_eventlog.py`` reduces.

    python3 perfbench/tests/record_eventlog.py

Runs three tiny jobs on ``local[2]`` with the event log on: in segment
``traced`` a parquet write (booked to ``sink``) and a read-back through a
pandas UDF and a grouped count (``summary``, whose scan stage is split off
as ``violations``); in segment ``other`` one more count. The log is then
trimmed to the events and fields eventlog.py reads, with file paths reduced
to base names, and written to ``data/eventlog_small.jsonl``.
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from eventlog import _SQL_END, _SQL_METRICS, _SQL_START, SEGMENT_PROP  # noqa: E402

_TASK_METRICS = (
    "Executor CPU Time",
    "Executor Run Time",
    "JVM GC Time",
    "Memory Bytes Spilled",
    "Disk Bytes Spilled",
    "Input Metrics",
    "Shuffle Read Metrics",
    "Shuffle Write Metrics",
)


def _ident(batches):
    yield from batches


def record(log_dir: str, data_dir: str) -> None:
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    import spans

    spark = (
        SparkSession.builder.master("local[2]")
        .appName("eventlog-fixture")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.dir", "file://" + log_dir)
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    sc = spark.sparkContext
    sc.setLocalProperty(SEGMENT_PROP, "traced")
    with spans.writer_call_sites(sc):
        spark.range(0, 2000, 1, 2).withColumn("part", F.col("id") % 2).write.mode(
            "overwrite"
        ).parquet(data_dir)
    back = spark.read.parquet(data_dir).mapInPandas(_ident, "id long, part long")
    back.groupBy("part").agg(F.count(F.lit(1)).alias("n")).collect()
    sc.setLocalProperty(SEGMENT_PROP, "other")
    spark.read.parquet(data_dir).groupBy("part").count().collect()
    spark.stop()


def trim(e: dict) -> dict | None:
    kind = e["Event"]
    if kind == "SparkListenerJobStart":
        props = {
            k: v
            for k, v in (e.get("Properties") or {}).items()
            if k in ("spark.sql.execution.id", SEGMENT_PROP)
        }
        return {"Event": kind, "Job ID": e["Job ID"], "Stage IDs": e["Stage IDs"], "Properties": props}
    if kind == "SparkListenerStageCompleted":
        info = e["Stage Info"]
        keep = ("Stage ID", "Submission Time", "Completion Time")
        return {"Event": kind, "Stage Info": {k: info[k] for k in keep if k in info}}
    if kind == "SparkListenerTaskEnd":
        accs = [
            {"Name": a["Name"], "Update": a["Update"]}
            for a in e["Task Info"]["Accumulables"]
            if a.get("Name") in _SQL_METRICS
        ]
        metrics = {k: e["Task Metrics"][k] for k in _TASK_METRICS if k in e["Task Metrics"]}
        return {
            "Event": kind,
            "Stage ID": e["Stage ID"],
            "Task End Reason": {"Reason": e["Task End Reason"]["Reason"]},
            "Task Info": {"Accumulables": accs},
            "Task Metrics": metrics,
        }
    if kind == _SQL_START:
        desc = re.sub(r" at \S*/([^/\s]+:\d+)$", r" at \1", e.get("description", ""))
        return {"Event": kind, "executionId": e["executionId"], "description": desc, "time": e["time"]}
    if kind == _SQL_END:
        return {"Event": kind, "executionId": e["executionId"], "time": e["time"]}
    return None


def main() -> None:
    with tempfile.TemporaryDirectory() as tmp:
        record(tmp, os.path.join(tmp, "data"))
        (path,) = glob.glob(os.path.join(tmp, "eventlog_v2_*", "events_*"))
        out = os.path.join(HERE, "data", "eventlog_small.jsonl")
        os.makedirs(os.path.dirname(out), exist_ok=True)
        with open(path) as src, open(out, "w") as dst:
            for line in src:
                t = trim(json.loads(line))
                if t is not None:
                    dst.write(json.dumps(t) + "\n")


if __name__ == "__main__":
    main()
