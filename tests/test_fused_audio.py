"""Decode once: ``plans.runner.wave_violations`` runs every payload-reading
check (payload, loudness, dropout, codec_sniff, tonal, stutter) in ONE
mapInPandas pass. Its violation rows must equal, as exact
(key, check, detail, part, severity) multisets, the union of the per-check
adapters, each of which runs its own pass over the slice."""

import dataclasses
import os
from collections import Counter

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from audit_anomaly_detection_etl_spark.functions import codecs
from audit_anomaly_detection_etl_spark.operators import VIOLATION_COLS, media, payload
from audit_anomaly_detection_etl_spark.operators.schema_check import ColumnSpec, TableSchemaSpec
from audit_anomaly_detection_etl_spark.plans.runner import run_suite, wave_violations
from audit_anomaly_detection_etl_spark.plans.spec import SuiteSpec
from audit_anomaly_detection_etl_spark.sources import synth
from audit_anomaly_detection_etl_spark.streaming import incremental

AUDIO = ("loudness", "dropout", "codec_sniff", "tonal", "stutter")
DECODED = ("payload",) + AUDIO
PAYLOAD_FAMILY = {"codec", "payload_snr", "dur_mismatch", "transcript_null", "transcript_mismatch"}


def _plant(pdf):
    """Give every audio check something to flag: swapped G.711 laws, a
    50 ms mid-clip gap followed by a frame-aligned 4x frame repeat, a quiet
    clip with one spike (cannot be normalized without clipping) and an
    empty payload (decodable for payload, skipped by the audio checks)."""
    swap = {"ulaw": "alaw", "alaw": "ulaw"}
    for i in range(0, len(pdf), 9):
        if pdf.at[i, "codec"] in swap:
            pdf.at[i, "codec"] = swap[pdf.at[i, "codec"]]
    for i in range(4, len(pdf), 13):
        c, b, sr = pdf.at[i, "codec"], pdf.at[i, "bytes"], pdf.at[i, "sr_hz"]
        if c not in codecs.CODECS or not b or not sr or sr <= 0:
            continue
        if len(b) % codecs.bytes_per_sample(c):
            continue
        x = np.array(codecs.decode(b, c), dtype=np.float64)
        w, f = int(sr * 0.05), int(round(sr * 0.02))
        s = (len(x) // 4 // f) * f
        if s > 0 and s + w + 5 * f < len(x):
            x[s : s + w] = 0.0
            r = s + w + f - (s + w) % f
            x[r : r + 4 * f] = np.tile(x[r : r + f], 4)
            pdf.at[i, "bytes"] = codecs.encode(x, c)
    quiet = np.full(1600, 0.001)
    quiet[100] = 0.5
    pdf.at[1, "bytes"], pdf.at[1, "codec"], pdf.at[1, "sr_hz"] = (
        codecs.encode(quiet, "pcm_s16le"), "pcm_s16le", 16000
    )
    pdf.at[2, "bytes"], pdf.at[2, "codec"] = b"", "pcm_s16le"
    return pdf


@pytest.fixture(scope="module")
def corpus(spark, tmp_path_factory):
    t = synth.generate_clips(n_clips=300, n_parts=4, seed=23, tone_rate=0.05)
    clips = pa.Table.from_pandas(_plant(t.clips.to_pandas()), schema=t.clips.schema, preserve_index=False)
    t = dataclasses.replace(t, clips=clips)
    paths = synth.write_clip_tables(t, str(tmp_path_factory.mktemp("fused")))
    return paths, spark.read.parquet(paths["clips"]), spark.read.parquet(paths["clips_ref"])


def _rows(df) -> Counter:
    return Counter(tuple(r) for r in df.select(*VIOLATION_COLS).collect())


def _adapters(clips, ref, spec, checks) -> Counter:
    """The per-check adapters, one pass each, unioned."""
    k, p = spec.schema_spec.key_col, spec.schema_spec.part_col
    out = Counter()
    if "payload" in checks and ref is not None:
        src = clips
        if spec.payload_sample is not None:
            frac, salt = spec.payload_sample
            h = F.xxhash64(F.concat(F.col(k).cast("string"), F.lit(str(salt))))
            src = clips.where(F.pmod(h, F.lit(1_000_000)) < F.lit(int(round(frac * 1_000_000))))
        out += _rows(payload.payload_violations(payload.payload_report(src, ref)))
    if "loudness" in checks:
        out += _rows(media.loudness_violations(clips, *spec.loudness_bounds, key_col=k, part_col=p))
    if "dropout" in checks:
        out += _rows(media.dropout_violations(clips, spec.dropout_min_run_ms, key_col=k, part_col=p))
    if "codec_sniff" in checks:
        out += _rows(payload.codec_sniff_violations(clips, spec.codec_sniff_ratio, key_col=k, part_col=p))
    if "tonal" in checks:
        out += _rows(media.tonal_violations(clips, spec.tonal_flatness_threshold, key_col=k, part_col=p))
    if "stutter" in checks:
        out += _rows(media.stutter_violations(clips, *spec.stutter_params, key_col=k, part_col=p))
    return out


def _checks(rows: Counter) -> Counter:
    out = Counter()
    for r, n in rows.items():
        out[r[1]] += n
    return out


def test_all_six_checks_equal_adapters(spark, corpus, tmp_path):
    paths, clips, ref = corpus
    spec = SuiteSpec(checks=DECODED)
    fused = _rows(wave_violations(clips, ref, spec, DECODED))
    assert fused == _adapters(clips, ref, spec, DECODED)
    # non-vacuous: every check flags something in the planted corpus
    assert set(AUDIO) <= set(_checks(fused)) and PAYLOAD_FAMILY & set(_checks(fused))

    res = run_suite(spark, paths["clips"], paths["clips_ref"], None, str(tmp_path / "ck"), spec=spec)
    by_check = Counter()
    for v in res.verdicts.values():
        by_check.update(v.violations_by_check)
    assert by_check == _checks(fused)


@pytest.mark.parametrize("check", DECODED)
def test_single_check_equals_its_adapter(corpus, check):
    _, clips, ref = corpus
    spec = SuiteSpec(checks=(check,))
    assert _rows(wave_violations(clips, ref, spec, (check,))) == _adapters(clips, ref, spec, (check,))


def _nan_free(rows):
    return sorted(tuple(None if isinstance(x, float) and x != x else x for x in r) for r in rows)


def test_fused_report_keeps_each_kernels_columns(corpus):
    """Every kernel's columns in the fused wide row equal its standalone
    audit: per-kernel eligibility (payload decodes an empty payload, the
    audio kernels skip it) and input dtypes (float32 for dropout/stutter,
    float64 for the rest) survive the shared decode."""
    _, clips, ref = corpus
    kernels = [
        payload.PAYLOAD_KERNEL,
        media.loudness_kernel(),
        media.dropout_kernel(),
        payload.codec_sniff_kernel(),
        media.tonal_kernel(),
        media.stutter_kernel(),
    ]
    report = payload.decode_pass(payload._payload_join(clips, ref), kernels, prefixed=True)
    alone = {
        "payload": payload.payload_report(clips, ref),
        "features": media.audio_features(clips),
        "dropout": media.dropout_audit(clips),
        "codec_sniff": payload.codec_sniff_audit(clips),
        "tonal": media.tonal_audit(clips),
        "stutter": media.stutter_audit(clips),
    }
    for k in kernels:
        cols = [c.split()[0] for c in k.schema.split(",")]
        fused = report.select("clip_id", "part", *[f"{k.name}__{c}" for c in cols])
        assert _nan_free(fused.collect()) == _nan_free(alone[k.name].collect()), k.name
    empty = clips.where((F.length("bytes") == 0) & F.col("codec").isin(*codecs.CODECS))
    split = report.where(F.col("payload__decode_ok") & ~F.col("dropout__decode_ok"))
    empty_ids = {r[0] for r in empty.select("clip_id").collect()}
    assert empty_ids and empty_ids <= {r[0] for r in split.select("clip_id").collect()}


def test_duplicated_ref_key_multiplies_only_payload(corpus):
    """Payload rows are per join row, so a duplicated reference key doubles
    that clip's payload flags; the audio checks run once per clip row."""
    _, clips, ref = corpus
    spec = SuiteSpec(checks=DECODED)
    base = _rows(wave_violations(clips, ref, spec, DECODED))
    audio_keys = sorted({r[0] for r in base if r[1] in AUDIO})
    pay_keys = {r[0] for r in base if r[1] in PAYLOAD_FAMILY}
    key = next(k for k in audio_keys if k in pay_keys)
    ref_dup = ref.unionByName(ref.where(F.col("clip_id") == key))
    fused = _rows(wave_violations(clips, ref_dup, spec, DECODED))
    assert fused == _adapters(clips, ref_dup, spec, DECODED)
    for r, n in base.items():
        doubled = r[0] == key and r[1] in PAYLOAD_FAMILY
        assert fused[r] == (2 * n if doubled else n), r


def test_payload_sample_limits_only_the_payload_flags(corpus):
    _, clips, ref = corpus
    full = SuiteSpec(checks=DECODED)
    spec = SuiteSpec(checks=DECODED, payload_sample=(0.5, "s"))
    fused = _rows(wave_violations(clips, ref, spec, DECODED))
    assert fused == _adapters(clips, ref, spec, DECODED)
    everything = _rows(wave_violations(clips, ref, full, DECODED))
    audio = lambda rows: Counter({r: n for r, n in rows.items() if r[1] in AUDIO})  # noqa: E731
    assert audio(fused) == audio(everything)
    assert 0 < sum(fused.values()) - sum(audio(fused).values()) < sum(everything.values()) - sum(
        audio(everything).values()
    )


def test_custom_key_and_part_columns(corpus):
    _, clips, _ = corpus
    custom = clips.withColumnRenamed("clip_id", "utt_id").withColumnRenamed("part", "pt")
    spec = SuiteSpec(
        schema_spec=TableSchemaSpec(columns=[ColumnSpec("utt_id", "string")], key_col="utt_id", part_col="pt"),
        checks=AUDIO,
    )
    fused = _rows(wave_violations(custom, None, spec, AUDIO))
    assert fused == _adapters(custom, None, spec, AUDIO)
    assert fused == _rows(wave_violations(clips, None, SuiteSpec(checks=AUDIO), AUDIO))


def test_streaming_ingest_shares_the_fused_pass(spark, corpus, tmp_path):
    paths, clips, ref = corpus
    spec = SuiteSpec(checks=DECODED)
    sink = str(tmp_path / "sink")
    q = incremental.incremental_clip_validation(
        spark, paths["clips"], sink, str(tmp_path / "ck"), spec=spec, ref_df=ref
    )
    q.awaitTermination()
    got = spark.read.parquet(sink)
    assert os.path.isdir(sink)
    assert _rows(got) == _adapters(clips, ref, spec, DECODED)
