"""The benchmark's workloads: inputs from a seed, one timed pass, and the
checks that every pass's output is correct.

A workload object is built from the seed and a work directory, writes its
inputs in ``prepare`` (before Spark starts), runs one untimed, checked
``check_pass``, and then runs ``run_pass`` repeatedly on the same session.
``run_pass`` returns an :class:`Outcome`; the caller stops the clock before
``verify`` adds that pass's output checks to it.
"""

from __future__ import annotations

import os
import shutil
import time
from contextlib import nullcontext
from dataclasses import dataclass, field

import duckdb

import __spark_entry__ as entry
from audit_anomaly_detection_etl_spark.functions import codecs
from audit_anomaly_detection_etl_spark.operators import column_stats, drift
from audit_anomaly_detection_etl_spark.plans import checkpoint, runner
from audit_anomaly_detection_etl_spark.plans.spec import SuiteSpec
from audit_anomaly_detection_etl_spark.procstat import proc_tree_cpu_seconds
from audit_anomaly_detection_etl_spark.sources import synth, tableio
from bench import HEADLINE
from scripts.check_correctness import TABLES, value_hash

import catalog_data
from eventlog import SEGMENT_PROP


@dataclass
class Outcome:
    attempted: int = 0
    failed: int = 0
    notes: list[str] = field(default_factory=list)
    result: object = None

    def record(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.notes.append(what)


def set_segment(spark, name: str) -> None:
    """Tag the jobs this thread triggers from now on (see eventlog.py)."""
    spark.sparkContext.setLocalProperty(SEGMENT_PROP, name)


def _timed(fn):
    c0, t0 = proc_tree_cpu_seconds(), time.perf_counter()
    out = fn()
    return out, time.perf_counter() - t0, proc_tree_cpu_seconds() - c0


# ---------------------------------------------------------------------------
# catalog: the headline queries over seeded TPC-H-ish tables
# ---------------------------------------------------------------------------

# rows-only queries (no SQL oracle): q134/q136 build their own fixed 400-clip
# fixture over 8 partitions; q49 scores one row per user
_FIXTURE_PARTS, _FIXTURE_CLIPS = 8, 400


class Catalog:
    """Each pass runs the 27 headline queries, each forced through a
    ``noop`` write. The untimed check pass collects every result instead
    and compares it with DuckDB running the query's oracle SQL over the
    same files (row count, column set, order-insensitive value hash)."""

    scale = 0.001
    unit = "queries"

    def __init__(self, seed: int, work_dir: str):
        self.seed = seed
        self.data_dir = os.path.join(work_dir, "catalog")

    def prepare(self) -> dict:
        tables = catalog_data.generate(self.scale, self.seed)
        catalog_data.write(tables, self.data_dir)
        self.queries = entry.queries()
        oracles = entry.oracle_sql()
        con = duckdb.connect()
        try:
            con.execute("SET enable_progress_bar = false")
            for t in TABLES:
                p = os.path.join(self.data_dir, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
            self.expected = {}
            for name in HEADLINE:
                if name in oracles:
                    cur = con.execute(oracles[name])
                    cols = [d[0] for d in cur.description]
                    rows = cur.fetchall()
                    self.expected[name] = (sorted(cols), len(rows), value_hash(rows, cols))
            n_users = con.execute("SELECT count(DISTINCT user_id) FROM events").fetchone()[0]
        finally:
            con.close()
        self._rows_only = {
            "q49_anomaly_ensemble": lambda rows: len(rows) == n_users,
            "q134_dropout_audit": self._fixture_ok,
            "q136_tonal_audit": self._fixture_ok,
        }
        return {"scale": self.scale, "rows": {t: tbl.num_rows for t, tbl in tables.items()}}

    @staticmethod
    def _fixture_ok(rows) -> bool:
        return len(rows) == _FIXTURE_PARTS and sum(r["n"] for r in rows) == _FIXTURE_CLIPS

    def check_pass(self, spark) -> Outcome:
        out = Outcome()
        for name in HEADLINE:
            set_segment(spark, f"check.{name}")
            try:
                df = self.queries[name](spark, self.data_dir)
                rows = df.collect()
                cols = df.columns
            except Exception as e:  # noqa: BLE001 - a failing query is a counted failure
                out.record(False, f"{name}: {type(e).__name__}: {str(e)[:200]}")
                continue
            if name in self.expected:
                got = (
                    sorted(cols),
                    len(rows),
                    value_hash([tuple(r) for r in rows], cols),
                )
                out.record(got == self.expected[name], f"{name}: oracle mismatch")
            else:
                out.record(self._rows_only[name](rows), f"{name}: rows-only check")
        return out

    def run_pass(self, spark, tracer=None, segment: str = "pass") -> tuple[Outcome, dict]:
        """Timed pass; returns the outcome and per-query (wall, cpu)."""
        out = Outcome()
        per_query = {}
        set_segment(spark, segment)
        for name in HEADLINE:
            try:
                with tracer.span(f"query.{name}") if tracer else nullcontext():
                    _, s, c = _timed(lambda: _noop(self.queries[name](spark, self.data_dir)))
                per_query[name] = (s, c)
                out.record(True, name)
            except Exception as e:  # noqa: BLE001 - a failing query is a counted failure
                out.record(False, f"{name}: {type(e).__name__}: {str(e)[:200]}")
        return out, per_query

    def verify(self, spark, outcome: Outcome) -> None:
        """Timed passes write to ``noop``; their results are checked by the
        check pass over the same inputs."""

    def trace_targets(self) -> list:
        return []

    def layer_metrics(self, spark, outcome: Outcome) -> tuple[dict, Outcome]:
        return {}, Outcome()


def _noop(df) -> None:
    df.write.mode("overwrite").format("noop").save()


# ---------------------------------------------------------------------------
# suite_audio: the validation job with every audio check, killed and resumed
# ---------------------------------------------------------------------------

AUDIO_CHECKS = ("loudness", "dropout", "codec_sniff", "tonal", "stutter")


class SuiteAudio:
    """Each pass validates the whole clips table with the default checks
    plus the five audio checks, in two legs on one checkpoint: the first
    leg is killed after one wave (``fail_after_waves=1``), the second
    resumes and validates only the partitions without a valid marker."""

    n_clips = 2000
    n_parts = 16
    wave_size = 8
    tone_rate = 0.02
    unit = "clips"

    spec = SuiteSpec(checks=SuiteSpec().checks + AUDIO_CHECKS)

    def __init__(self, seed: int, work_dir: str):
        self.seed = seed
        self.work_dir = work_dir
        self._n_ck = 0

    def prepare(self) -> dict:
        self.tables = synth.generate_clips(
            n_clips=self.n_clips, n_parts=self.n_parts, seed=self.seed, tone_rate=self.tone_rate
        )
        self.paths = synth.write_clip_tables(self.tables, os.path.join(self.work_dir, "clips"))
        exp = self.tables.violations_expected.to_pandas()
        self.expected = {p: set() for p in range(self.n_parts)}
        for key, fam in zip(exp.clip_id, exp.check):
            self.expected[synth.part_of(key, self.n_parts)].add((key, fam))
        self.expected_all = set(zip(exp.clip_id, exp.check))
        self.payload_bytes = sum(len(b or b"") for b in self.tables.clips.column("bytes").to_pylist())
        return {
            "clips": self.n_clips,
            "partitions": self.n_parts,
            "payload_mb": round(self.payload_bytes / 1e6, 3),
            "planted_violations": len(exp),
        }

    def _suite(self, spark, ck: str, **kw):
        return runner.run_suite(
            spark,
            clips_root=self.paths["clips"],
            ref_root=self.paths["clips_ref"],
            hist_ref_path=self.paths["hist_ref"],
            checkpoint_dir=ck,
            spec=self.spec,
            wave_size=self.wave_size,
            **kw,
        )

    def check_pass(self, spark) -> Outcome:
        """A pass like the timed ones (a single uninterrupted leg leaves the
        resume path cold and the first timed pass about 25% slower)."""
        out, _ = self.run_pass(spark, segment="check")
        self.verify(spark, out)
        return out

    def run_pass(self, spark, tracer=None, segment: str = "pass") -> tuple[Outcome, dict]:
        self._n_ck += 1
        ck = os.path.join(self.work_dir, f"ck{self._n_ck}")
        set_segment(spark, segment)
        out = Outcome()
        killed = False
        try:
            self._suite(spark, ck, fail_after_waves=1)
        except runner.KilledMidRun:
            killed = True
        res = self._suite(spark, ck)
        resumed = len(res.skipped_parts) == self.wave_size and len(res.ran_parts) == self.n_parts - self.wave_size
        out.record(killed and resumed, "kill/resume: first leg not killed or resume re-ran marked partitions")
        out.result = (ck, res)
        return out, {}

    def verify(self, spark, outcome: Outcome) -> None:
        """Ranked violations must equal the generator's sidecar as
        (key, check-family) sets per partition, an unknown codec caught by
        the schema domain check normalising to the sidecar's ``codec``
        family; and a partition's verdict fails iff it owns a violation."""
        ck, res = outcome.result
        set_segment(spark, "verify")
        v = runner.ranked_violations(spark, res.violations_path).toPandas()
        got = {p: set() for p in range(self.n_parts)}
        for key, f, part in zip(v.key, _families(v), v.part):
            got.setdefault(int(part), set()).add((key, f))
        for p in range(self.n_parts):
            verdict = res.verdicts.get(p)
            ok = (
                verdict is not None
                and got[p] == self.expected[p]
                and verdict.passed == (not got[p])
            )
            outcome.record(ok, f"partition {p}: violations or verdict differ from the sidecar")
        shutil.rmtree(ck, ignore_errors=True)

    # -- traced run only ----------------------------------------------------

    @classmethod
    def row_checks(cls) -> list[str]:
        """The checks with violation rows (stats and drift have none)."""
        return [c for c in cls.spec.checks if c not in ("stats", "drift")]

    def trace_targets(self) -> list[tuple[object, str, str]]:
        return [
            (runner, "run_suite", "runner.run_suite"),
            (tableio, "list_partitions", "tableio.list"),
            (tableio, "snapshot_id", "tableio.list"),
            (tableio, "partition_fingerprints", "tableio.list"),
            (tableio, "read_table", "tableio.list"),
            (runner, "plan_resume", "checkpoint.plan_resume"),
            (checkpoint.CheckpointStore, "write", "checkpoint.write_marker"),
        ]

    def layer_metrics(self, spark, outcome: Outcome) -> tuple[dict, Outcome]:
        """Per-check cost with each check's violations plan forced alone over
        the whole table, the fused stats/drift aggregate, and the driver-side
        decode rate of the public codec functions. Each forced plan's rows
        must lie in the sidecar, and together they must cover it; those
        checks come back as an Outcome."""
        _ck, res = outcome.result
        m: dict[str, float] = {}
        checked = Outcome()
        found: set = set()
        parts = list(range(self.n_parts))
        wave = tableio.read_partitions(spark, self.paths["clips"], parts)
        ref = tableio.read_partitions(spark, self.paths["clips_ref"], parts)
        for c in self.row_checks():
            set_segment(spark, f"check.{c}")
            df = runner.wave_violations(wave, ref, self.spec, (c,)).persist()
            n, s, cpu = _timed(df.count)
            v = df.select("key", "check", "detail").toPandas()
            df.unpersist()
            m[f"check.{c}.s"], m[f"check.{c}.cpu_s"], m[f"check.{c}.violations"] = s, cpu, n
            # run alone, byte_length also reports the unknown codecs that the
            # schema check owns when both run
            fam = _families(v).where(
                ~((v.check == "byte_length") & v.detail.str.startswith("unknown_codec")), "codec"
            )
            pairs = set(zip(v.key, fam))
            checked.record(pairs <= self.expected_all, f"check {c}: flags a (key, family) not in the sidecar")
            found |= pairs
        checked.record(found == self.expected_all, "per-check plans together miss sidecar violations")

        numeric = {"int", "integer", "long", "bigint", "short", "float", "double"}
        cols = self.spec.schema_spec.columns
        aggs = column_stats.stat_aggs(
            [c.name for c in cols if c.dtype in numeric],
            [c.name for c in cols if c.dtype != "binary" and c.name != self.spec.schema_spec.key_col],
        ) + drift.bucket_count_aggs(self.spec.drift_specs)
        set_segment(spark, "metrics.stats_drift")
        _, m["metrics.stats_drift_s"], _ = _timed(
            lambda: wave.groupBy(self.spec.schema_spec.part_col).agg(*aggs).collect()
        )

        rows = [
            (b, c)
            for b, c in zip(
                self.tables.clips.column("bytes").to_pylist(),
                self.tables.clips.column("codec").to_pylist(),
            )
            if b and c in codecs.CODECS and len(b) % codecs.bytes_per_sample(c) == 0
        ]
        t0 = time.perf_counter()
        for b, c in rows:
            codecs.decode(b, c)
        m["codecs.decode_mb_per_s"] = sum(len(b) for b, _ in rows) / 1e6 / (time.perf_counter() - t0)

        m["checkpoint.markers_valid_on_resume"] = len(res.skipped_parts)
        m["runner.waves"] = 1 + -(-len(res.ran_parts) // self.wave_size)
        return m, checked


def _families(v):
    """Each violation row's sidecar check family: an unknown codec caught by
    the schema domain check counts as the ``codec`` family."""
    return v.check.where(~((v.check == "schema_constraint") & (v.detail == "codec:domain")), "codec")


WORKLOADS = {"catalog": Catalog, "suite_audio": SuiteAudio}
