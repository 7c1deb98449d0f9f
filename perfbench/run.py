#!/usr/bin/env python3
"""Benchmark of the validation engine: one workload per invocation.

    python3 perfbench/run.py --workload suite_audio --seed 3 --seconds 5 --trace 0

Run from the repository root (any directory that holds the engine package
next to ``perfbench/``). The run

1. writes the workload's inputs from ``--seed`` (``workloads.py``);
2. starts one Spark session on ``local[<cpus>]`` and runs one untimed pass
   whose output is checked (``setup_s`` = session start + this pass);
3. runs timed passes until ``--seconds`` of pass time have accumulated
   (at least one), checking each pass's output outside the timed interval;
4. stops Spark and waits for every process it started.

It prints one line per metric and, last, one JSON object
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones (medians over the timed passes). With
``--trace 1`` the Spark event log is on, the one timed pass records spans
(``spans.py``), and the metrics are the per-layer ones of ``per_layer()``;
a layer the workload does not exercise reads 0. The traced pass is the
process's second pass, like the timed pass of an untraced run, so
``trace.pass_wall_s`` over the untraced runs' median ``wall_s`` is the
tracing overhead.

Everything the run writes goes under ``.perfbench_work/`` beside
``perfbench/``; the run's own subdirectory is removed at exit, and the
traced run leaves its spans in ``.perfbench_work/traces/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
from contextlib import ExitStack

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE = "audit_anomaly_detection_etl_spark"
# the engine package and bench.py live in ROOT, this benchmark's modules in HERE
sys.path[:0] = [p for p in (ROOT, HERE) if p not in sys.path]

WORKLOAD_NAMES = ("catalog", "suite_audio")
END_TO_END = {"wall_s": "s", "cpu_s": "s", "setup_s": "s", "peak_rss_mb": "MB"}

_PHASES = ("violations", "summary", "sink", "metrics_agg")


def per_layer() -> dict[str, tuple[str, str]]:
    """Every per-layer metric: name -> (unit, better). The traced run
    reports all of them; the list must equal BENCHMARK.json's."""
    from bench import HEADLINE
    from workloads import SuiteAudio

    return {
        "session.start_s": ("s", "lower"),
        "tableio.list_s": ("s", "lower"),
        "tableio.scan_s": ("s", "lower"),
        "tableio.input_bytes": ("bytes", "lower"),
        "checkpoint.plan_resume_s": ("s", "lower"),
        "checkpoint.markers_written": ("count", "lower"),
        "checkpoint.markers_valid_on_resume": ("count", "higher"),
        "runner.waves": ("count", "lower"),
        "runner.jobs_per_wave": ("count", "lower"),
        "runner.stages_per_wave": ("count", "lower"),
        "runner.self_s": ("s", "lower"),
        **{
            f"runner.phase.{p}.{k}": ("s", "lower")
            for p in _PHASES
            for k in ("s", "executor_cpu_s")
        },
        **{f"check.{c}.{k}": ("s", "lower") for c in SuiteAudio.row_checks() for k in ("s", "cpu_s")},
        "metrics.stats_drift_s": ("s", "lower"),
        "codecs.decode_mb_per_s": ("MB/s", "higher"),
        "spark.executor_cpu_s": ("s", "lower"),
        "spark.executor_run_s": ("s", "lower"),
        "spark.gc_s": ("s", "lower"),
        "spark.shuffle_write_bytes": ("bytes", "lower"),
        "spark.shuffle_read_bytes": ("bytes", "lower"),
        "spark.spill_bytes": ("bytes", "lower"),
        "spark.python_boot_s": ("s", "lower"),
        "spark.python_init_s": ("s", "lower"),
        "spark.python_run_s": ("s", "lower"),
        "spark.to_python_bytes": ("bytes", "lower"),
        "spark.from_python_bytes": ("bytes", "lower"),
        "spark.tasks": ("count", "lower"),
        "spark.tasks_failed": ("count", "lower"),
        "spark.residual_cpu_s": ("s", "lower"),
        "spark.driver_python_cpu_s": ("s", "lower"),
        "spark.jvm_nontask_cpu_s": ("s", "lower"),
        "spark.python_worker_cpu_s": ("s", "lower"),
        "spark.jvm_jit_s": ("s", "lower"),
        "spark.jvm_gc_pause_s": ("s", "lower"),
        "spark.to_python_per_payload_byte": ("ratio", "lower"),
        **{f"query.{q}.{k}": ("s", "lower") for q in HEADLINE for k in ("s", "cpu_s")},
        "trace.pass_wall_s": ("s", "lower"),
    }


# run_suite statements whose Spark actions make up each runner phase
RUNNER_PHASE_VARS = {
    "viol_summary": "summary",
    "sink": "sink",
    "wide": "metrics_agg",
    "n_rows": "metrics_agg",
}


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def isolate_environment(work: str) -> None:
    """Point every temp/scratch path Spark, the JVM and Python workers use
    into ``work``, and make the engine importable in Python workers however
    the process was started."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    import tempfile

    tempfile.tempdir = None


def spark_conf(work: str, trace: bool) -> dict:
    conf = {
        # the machine is shared: a bounded driver heap keeps peak memory
        # comparable between runs and commits
        "spark.driver.memory": "2g",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.dir": "file://" + log_dir,
            }
        )
    return conf


def stop_spark(spark) -> None:
    """Stop the session, end the JVM and wait for every process it left."""
    from pyspark import SparkContext

    import host

    started = host.descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
    host.stop_tree(started)


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, ENGINE)):
        print(f"perfbench: engine package {ENGINE!r} not found in {ROOT}", file=sys.stderr)
        return 2
    work_root = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(work_root, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    isolate_environment(work)
    import host

    try:
        with ExitStack() as stack:
            cgroup = None
            if args.trace:
                # created before Spark starts so the whole tree is a member;
                # removed on every exit path, after the tree has ended
                cgroup = host.CpuacctGroup(f"perfbench-{os.getpid()}")
                stack.callback(cgroup.close)
            return _run(args, work, work_root, cgroup)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args: argparse.Namespace, work: str, work_root: str, cgroup) -> int:
    from pyspark import SparkContext

    import host
    import spans
    from workloads import WORKLOADS

    from audit_anomaly_detection_etl_spark.procstat import proc_tree_cpu_seconds
    from audit_anomaly_detection_etl_spark.session import get_spark

    trace = bool(args.trace)
    cg0 = cgroup.usage_s() if cgroup and cgroup.available else 0.0
    proc0 = proc_tree_cpu_seconds()

    wl = WORKLOADS[args.workload](args.seed, work)
    t = time.perf_counter()
    inputs = wl.prepare()
    inputs_s = time.perf_counter() - t

    tracer = spans.Tracer()
    n = cpus()
    attempted = failed = 0
    notes: list[str] = []
    walls: list[float] = []
    cpu: list[float] = []
    layer: dict[str, float] = {}
    with host.PeakMemory() as mem:
        t0 = time.perf_counter()
        with tracer.span("session.start"):
            spark = get_spark(
                f"perfbench-{args.workload}",
                master=f"local[{n}]",
                shuffle_partitions=2 * n,
                extra_conf=spark_conf(work, trace),
            )
        spark.sparkContext.setLogLevel("ERROR")
        try:
            warm = wl.check_pass(spark)
            setup_s = time.perf_counter() - t0
            attempted, failed, notes = warm.attempted, warm.failed, list(warm.notes)

            # the driver's and the JVM's own CPU, to split the traced pass's
            # process-tree CPU into driver, JVM and Python workers
            own = (os.getpid(), SparkContext._gateway.proc.pid)
            ticks0 = host.host_cpu_ticks()
            # a traced run times exactly one pass, at the place the first
            # timed pass of an untraced run has in the process's warm-up
            while not walls or (not trace and sum(walls) < args.seconds):
                with ExitStack() as stack:
                    if trace:
                        stack.enter_context(spans.instrument(tracer, wl.trace_targets()))
                        stack.enter_context(spans.writer_call_sites(spark.sparkContext))
                        stack.enter_context(tracer.span("pass"))
                    own0 = [host.own_cpu_s(p) for p in own]
                    jvm0 = jvm_times_s(spark) if trace else {}
                    c0, w0 = proc_tree_cpu_seconds(), time.perf_counter()
                    outcome, per_query = wl.run_pass(
                        spark, tracer if trace else None, "traced" if trace else f"pass{len(walls)}"
                    )
                    walls.append(time.perf_counter() - w0)
                    cpu.append(proc_tree_cpu_seconds() - c0)
                    own1 = [host.own_cpu_s(p) for p in own]
                    jvm = {k: v - jvm0[k] for k, v in jvm_times_s(spark).items()} if trace else {}
                wl.verify(spark, outcome)
                attempted += outcome.attempted
                failed += outcome.failed
                notes += outcome.notes
            ticks1 = host.host_cpu_ticks()
            if trace:
                for q, (s, c) in per_query.items():
                    layer[f"query.{q}.s"], layer[f"query.{q}.cpu_s"] = s, c
                layer["spark.driver_python_cpu_s"] = own1[0] - own0[0]
                jvm_cpu_s = own1[1] - own0[1]
                # the pyspark daemon and its workers: the rest of the tree
                layer["spark.python_worker_cpu_s"] = cpu[0] - layer["spark.driver_python_cpu_s"] - jvm_cpu_s
                layer.update(jvm)
                layer_values, checked = wl.layer_metrics(spark, outcome)
                layer.update(layer_values)
                attempted += checked.attempted
                failed += checked.failed
                notes += checked.notes
        finally:
            stop_spark(spark)

    wall_s, cpu_s = statistics.median(walls), statistics.median(cpu)
    if trace:
        layer["session.start_s"] = tracer.total_s("session.start")
        if cgroup.available:
            layer["procstat.cgroup_ratio"] = (cgroup.usage_s() - cg0) / (proc_tree_cpu_seconds() - proc0)
        layer["trace.pass_wall_s"] = walls[0]
        layer.update(
            runtime_layers(work, tracer, wl, cpu[0], jvm_cpu_s, int(layer.get("runner.waves", 0)))
        )
        os.makedirs(os.path.join(work_root, "traces"), exist_ok=True)
        tracer.dump(os.path.join(work_root, "traces", f"{args.workload}-seed{args.seed}.json"))
        metrics = {k: {"value": float(layer.get(k, 0.0)), "unit": u} for k, (u, _) in per_layer().items()}
    else:
        values = {"wall_s": wall_s, "cpu_s": cpu_s, "setup_s": setup_s, "peak_rss_mb": mem.peak / 1e6}
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}

    steal = (ticks1[1] - ticks0[1]) / max(ticks1[0] - ticks0[0], 1)
    # measured alongside but without a better direction: printed only
    unranked = {k: v for k, v in layer.items() if k not in per_layer()}
    unranked["memory_sampler_cpu_s"] = mem.cpu_s
    report(args, wl, inputs, inputs_s, setup_s, walls, cpu, mem.peak, steal, unranked, attempted, failed, notes)
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": metrics,
            }
        )
    )
    return 0


def jvm_times_s(spark) -> dict[str, float]:
    """The driver JVM's cumulative JIT compilation time and GC pause time,
    from its management beans (both count time, not CPU)."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return {
        "spark.jvm_jit_s": mf.getCompilationMXBean().getTotalCompilationTime() / 1e3,
        "spark.jvm_gc_pause_s": sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()) / 1e3,
    }


def runtime_layers(work: str, tracer, wl, pass_cpu: float, jvm_cpu: float, waves: int) -> dict:
    """Per-layer numbers of the traced pass from its spans and the event
    log: Spark runtime totals, scan cost, runner phases booked by call site,
    driver time outside Spark (``runner.self_s``), and where the CPU outside
    executor tasks went."""
    import eventlog
    import spans
    from audit_anomaly_detection_etl_spark.plans import runner

    with open(runner.__file__) as f:
        line_phase = spans.phase_lines(f.read(), "run_suite", RUNNER_PHASE_VARS)
    runner_file = os.path.realpath(runner.__file__)

    def phase_of(desc: str) -> str | None:
        # SQL execution descriptions read "<action> at <python file>:<line>"
        path, _, line = desc.rpartition(" at ")[2].rpartition(":")
        if line.isdigit() and os.path.realpath(path) == runner_file:
            return line_phase.get(int(line))
        return None

    log = eventlog.load(eventlog.event_files(os.path.join(work, "eventlog")))
    r = eventlog.reduce(log, "traced", phase_of)
    m = {f"spark.{k}": r[k] for k in eventlog.RUNTIME_KEYS}
    m["spark.tasks"], m["spark.tasks_failed"] = r["tasks"], r["tasks_failed"]
    m["spark.residual_cpu_s"] = pass_cpu - r["executor_cpu_s"]
    # executor tasks run on JVM threads; the rest of the residual is the
    # driver's own CPU (booked by the caller) and the Python workers'
    m["spark.jvm_nontask_cpu_s"] = jvm_cpu - r["executor_cpu_s"]
    payload = getattr(wl, "payload_bytes", 0)
    m["spark.to_python_per_payload_byte"] = r["to_python_bytes"] / payload if payload else 0.0
    m["tableio.scan_s"], m["tableio.input_bytes"] = r["scan_s"], r["input_bytes"]
    m["tableio.list_s"] = tracer.total_s("tableio.list")
    m["checkpoint.plan_resume_s"] = tracer.total_s("checkpoint.plan_resume")
    m["checkpoint.markers_written"] = tracer.count("checkpoint.write_marker")
    if waves:
        m["runner.jobs_per_wave"] = r["jobs"] / waves
        m["runner.stages_per_wave"] = r["stages"] / waves
        m["runner.self_s"] = tracer.total_s("pass") - r["spark_busy_s"]
        for phase, v in r["phases"].items():
            m[f"runner.phase.{phase}.s"] = v["s"]
            m[f"runner.phase.{phase}.executor_cpu_s"] = v["executor_cpu_s"]
    return m


def report(args, wl, inputs, inputs_s, setup_s, walls, cpu, peak, steal, unranked, attempted, failed, notes) -> None:
    """Human-readable lines before the JSON result: the workload's own
    metric names (clips/s for suites, summed query seconds for the
    catalog), the inputs, and any failures."""
    wall_s, cpu_s = statistics.median(walls), statistics.median(cpu)
    lines = [f"workload {args.workload} seed {args.seed} cpus {cpus()} passes {len(walls)}"]
    lines.append("inputs " + json.dumps(inputs) + f" written in {inputs_s:.2f} s")
    if wl.unit == "clips":
        lines.append(f"clips_per_s {wl.n_clips / wall_s:.4f} 1/s")
        lines.append(f"clips_per_cpu_s {wl.n_clips / cpu_s:.4f} 1/s")
    else:
        lines.append(f"catalog_wall_s {wall_s:.4f} s")
        lines.append(f"catalog_cpu_s {cpu_s:.4f} s")
    lines.append(f"setup_s {setup_s:.4f} s")
    lines.append(f"peak_rss_mb {peak / 1e6:.1f} MB (summed PSS)")
    lines.append(f"failed_ratio {failed / max(attempted, 1):.6f} ratio")
    lines.append("pass_wall_s " + " ".join(f"{w:.3f}" for w in walls))
    lines.append("pass_cpu_s " + " ".join(f"{c:.2f}" for c in cpu))
    lines.append(f"host_steal {steal:.4f} ratio (CPU time the hypervisor gave elsewhere during the passes)")
    if len(walls) >= 3:
        med = statistics.median(cpu)
        lines.append(f"trend_cpu {(cpu[-1] - cpu[0]) / med:+.4f} ratio (last pass minus first, over median)")
    for k, v in sorted(unranked.items()):
        lines.append(f"{k} {v:.4f}")
    for note in notes[:20]:
        lines.append(f"FAILED {note}")
    print("\n".join(lines), flush=True)


if __name__ == "__main__":
    sys.exit(main())
