"""Audio payload validation: one Arrow-batched decode pass feeding per-clip
kernels, plus the per-row invariants of the reference comparison.

The north rule's heavy check (BASELINE.json ``input_hint``): decode codec
bytes to PCM inside *vectorized* pandas UDFs — Arrow batches, no per-row
Python serialization — and assert, per clip:

- decoded-PCM allclose vs reference at SNR >= 30 dB
- transcript byte-equality vs reference
- dur_ms consistency: dur_ms == round(n_samples / sr_hz * 1000)
- codec known / payload byte-length valid

Reference analogue: the per-event value-modification and substring checks
(SURVEY.md A10/A11) — the one place the reference's per-row semantics become
compute-heavy, hence the only Python hot path in this engine
(SURVEY.md §2.10).

Decode once: every check that reads payload samples (payload and
codec_sniff here, loudness/dropout/tonal/stutter in media.py) is a
:class:`Kernel` over a :class:`Batch` that decodes each codec group of an
Arrow batch ONCE. ``decode_pass`` runs any set of kernels in one
``mapInPandas``; a public audit is its one-kernel case, and
``decoded_violations`` emits several checks' flags from its one wide row.

Scale notes:
- ``mapInPandas`` streams Arrow batches; ``arrow_max_records`` in session.py
  bounds batch memory because clips can be minutes long. The per-batch loop
  is over *clips*, and each iteration is numpy over the whole clip — the
  Python interpreter touches each row once, the samples never.
- join with the reference table is key-equi on ``clip_id``; both sides are
  table-scale, so this is the engine's one big sort-merge join. On a real
  deployment both tables are bucketed/partitioned identically (our synth
  writes both hive-partitioned by ``part``) so a storage-partitioned join
  can elide the shuffle; AQE skew-split covers hot partitions from
  long-duration clips otherwise.
- left join: clips with no ref row still get decode/dur/codec checks; the
  SNR/transcript invariants are skipped there (referential.py reports them).
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions import codecs
from . import remap_key_part

SNR_THRESHOLD_DB = 30.0

# row masks of a joined input (see ``_payload_join``): ``decode_pass`` carries
# them through and ``decoded_violations`` gates each kernel's flags on one
PAYLOAD_ROW = "__payload_row"
CLIP_ROW = "__clip_row"


# ---------------------------------------------------------------------------
# decode skeleton: one decode per codec group, any number of kernels
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class Kernel:
    """One per-clip analysis over a :class:`Batch`: ``run`` returns the
    ``schema`` columns (DDL, in order) as arrays of batch length, and
    ``flags(col)`` the check's ``(condition, check, severity, detail)``
    violation rules over them (``col(name)`` resolves a column).

    ``per_join_row`` kernels (the reference comparison) read every
    non-null payload, an empty one included, and flag every join row; the
    others read payloads of at least one byte and flag once per clip row."""

    name: str
    schema: str
    run: Callable[["Batch"], dict]
    inputs: tuple = ("sr_hz",)
    flags: Callable[[Callable[[str], Column]], list] | None = None
    per_join_row: bool = False


class _Group:
    """One codec's rows of a batch, decoded as ONE float32 concatenation:
    row ``idx[j]`` holds ``pcm[starts[j] : starts[j] + lens[j]]``."""

    def __init__(self, codec, idx, lens, starts, pcm):
        self.codec, self.idx, self.lens, self.starts, self.pcm = codec, idx, lens, starts, pcm
        self._f64 = None

    @property
    def f64(self) -> np.ndarray:
        if self._f64 is None:
            # junk byte patterns reinterpreted as f32 can hold SIGNALING
            # NaNs; the widening cast quiets them and numpy warns — the
            # kernels handle NaN samples themselves
            with np.errstate(invalid="ignore"):
                self._f64 = self.pcm.astype(np.float64)
        return self._f64


class Batch:
    """One Arrow batch with each known codec group decoded once for every
    kernel. ``join_groups`` hold every aligned non-null payload (read by
    ``per_join_row`` kernels, see :class:`Kernel`); ``clip_groups`` the
    non-empty ones. An empty payload adds no samples, so both are gapless
    views of the same concatenation and ``np.*.reduceat`` segments over
    ``clip_groups`` span exactly one clip each. The only per-row Python is
    one ``len()`` per binary value (Arrow binary arrives as objects)."""

    def __init__(self, pdf: pd.DataFrame, kernels):
        self.pdf = pdf
        self.n = len(pdf)
        self.raw = pdf["bytes"].to_numpy()
        self.codec = pdf["codec"].to_numpy()
        self.byte_lens = np.array(
            [len(r) if r is not None else -1 for r in self.raw], dtype=np.int64
        )
        # NULL sr_hz arrives as NaN: 0 keeps it out of every rate-based
        # computation (null metadata is the schema check's defect)
        if "sr_hz" in pdf.columns:
            self.sr = pdf["sr_hz"].fillna(0).to_numpy(dtype=np.int64)
        min_bytes = 0 if any(k.per_join_row for k in kernels) else 1
        self.join_groups, self.clip_groups = [], []
        for codec in pd.unique(self.codec):
            if codec not in codecs.CODECS:
                continue  # unknown codec: nothing decodes
            bps = codecs.bytes_per_sample(codec)
            idx = np.flatnonzero(
                (self.codec == codec) & (self.byte_lens >= min_bytes) & (self.byte_lens % bps == 0)
            )
            if idx.size == 0:
                continue  # torn payloads stay undecoded
            lens = self.byte_lens[idx] // bps
            starts = np.zeros(idx.size, dtype=np.int64)
            np.cumsum(lens[:-1], out=starts[1:])
            # all codecs are elementwise maps: one vectorized decode over the
            # concatenation of every clip in this codec group
            g = _Group(codec, idx, lens, starts, codecs.decode(b"".join(self.raw[i] for i in idx), codec))
            self.join_groups.append(g)
            k = lens > 0
            if k.all():
                self.clip_groups.append(g)
            elif k.any():
                self.clip_groups.append(_Group(codec, idx[k], lens[k], starts[k], g.pcm))


def decode_pass(df: DataFrame, kernels, prefixed: bool = False) -> DataFrame:
    """ONE ``mapInPandas`` over ``df`` running every kernel on a shared
    :class:`Batch`. Output: ``clip_id, part``, then each kernel's columns
    (named ``<kernel>__<column>`` when ``prefixed``), then any row masks the
    input carries."""
    masks = [c for c in (PAYLOAD_ROW, CLIP_ROW) if c in df.columns]
    inputs = ["clip_id", "part", "bytes", "codec"]
    fields = ["clip_id string", "part int"]
    for k in kernels:
        inputs += [c for c in k.inputs if c not in inputs]
        fields += [f"{k.name}__" * prefixed + f.strip() for f in k.schema.split(",")]

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            b = Batch(pdf, kernels)
            out = {"clip_id": pdf["clip_id"].to_numpy(), "part": pdf["part"].to_numpy()}
            for k in kernels:
                for c, v in k.run(b).items():
                    out[f"{k.name}__{c}" if prefixed else c] = v
            for m in masks:
                out[m] = pdf[m].to_numpy(dtype=bool)
            yield pd.DataFrame(out)

    schema = ", ".join(fields + [f"{m} boolean" for m in masks])
    return df.select(*inputs, *masks).mapInPandas(batches, schema=schema)


def flag_rows(report: DataFrame, flags) -> DataFrame:
    """VIOLATION_SCHEMA rows from ``(condition, check, severity, detail)``
    flags over one report row, as a single
    ``explode(array_compact(array(when(...) ...)))`` projection however
    many checks feed it (a union of per-check projections would re-run
    the Python node below once per branch)."""
    arr = F.array_compact(
        F.array(
            *[
                F.when(
                    cond,
                    F.struct(F.lit(check).alias("c"), F.lit(float(sev)).alias("s"), d.alias("d")),
                )
                for cond, check, sev, d in flags
            ]
        )
    )
    return report.select("clip_id", "part", F.explode(arr).alias("v")).select(
        F.col("clip_id").alias("key"),
        F.col("v.c").alias("check"),
        F.col("v.d").alias("detail"),
        F.col("part"),
        F.col("v.s").alias("severity"),
    )


def _payload_join(clips: DataFrame, clips_ref: DataFrame, sample=None, clip_rows=False):
    """Left join of the clips onto their reference rows, pruned to the
    columns the payload kernel reads. ``sample=(frac, salt)`` keeps the
    reference comparison to a deterministic key-hash sample
    (``SuiteSpec.payload_sample``): the ref side is pruned with the
    predicate, and so is the clips side — unless ``clip_rows``, where every
    clip row stays (the per-clip kernels read them all) and ``PAYLOAD_ROW``
    marks the sampled ones. ``clip_rows`` also adds ``CLIP_ROW``, true on
    exactly one join row per clip row, so a duplicated reference key does
    not multiply per-clip results."""
    ref = clips_ref.select("clip_id", "pcm_ref", "transcript_ref")
    left = clips.select("clip_id", "part", "bytes", "sr_hz", "dur_ms", "codec", "transcript")
    if sample is not None:
        frac, salt = sample
        h = F.xxhash64(F.concat(F.col("clip_id").cast("string"), F.lit(str(salt))))
        pred = F.pmod(h, F.lit(1_000_000)) < F.lit(int(round(frac * 1_000_000)))
        ref = ref.where(pred)
        left = left.withColumn(PAYLOAD_ROW, pred) if clip_rows else left.where(pred)
    if not clip_rows:
        return left.join(ref, "clip_id", "left")
    rank = F.row_number().over(Window.partitionBy("clip_id").orderBy("clip_id"))
    return (
        left.join(ref.withColumn("__ref_rank", rank), "clip_id", "left")
        .withColumn(CLIP_ROW, F.coalesce(F.col("__ref_rank") == 1, F.lit(True)))
        .drop("__ref_rank")
    )


def decoded_violations(
    clips: DataFrame,
    kernels,
    clips_ref: DataFrame | None = None,
    sample=None,
    key_col: str = "clip_id",
    part_col: str = "part",
) -> DataFrame:
    """Violation rows of every payload-reading check in ONE Python pass:
    the clips are read once, left-joined to ``clips_ref`` once (only when
    the reference comparison is among ``kernels``), each codec group is
    decoded once, every kernel fills its columns of one wide row, and one
    explode projection emits all flags. The reference comparison flags
    every (sampled) join row; the other checks flag each clip row once."""
    src = remap_key_part(clips, key_col, part_col)
    if any(k.per_join_row for k in kernels):
        src = _payload_join(src, clips_ref, sample, not all(k.per_join_row for k in kernels))
    report = decode_pass(src, kernels, prefixed=True)
    flags = []
    for k in kernels:
        mask = PAYLOAD_ROW if k.per_join_row else CLIP_ROW
        for cond, check, sev, d in k.flags(lambda c, k=k: F.col(f"{k.name}__{c}")):
            flags.append((F.col(mask) & cond if mask in src.columns else cond, check, sev, d))
    return flag_rows(report, flags)


# ---------------------------------------------------------------------------
# reference comparison (the payload check)
# ---------------------------------------------------------------------------

_REPORT_FIELDS = (
    "codec string, decode_ok boolean, snr_db double, dur_ok boolean, "
    "transcript_ok boolean, transcript_null boolean, has_ref boolean"
)


def _validate(b: Batch) -> dict:
    """Per-clip noise/signal energy as ONE numpy op per codec group over the
    concatenation, reduced per clip with ``np.add.reduceat``."""
    pdf, n = b.pdf, b.n
    ref_col = pdf["pcm_ref"].to_numpy()
    # NULL metadata arrives as NaN floats; a straight int64 cast turns
    # NaN into INT64_MIN garbage. Null sr/dur is the schema/byte_length
    # checks' defect (no-double-count) — mask it out of the dur check.
    meta_ok = (~(pd.isna(pdf["sr_hz"]) | pd.isna(pdf["dur_ms"]))).to_numpy(dtype=bool)
    dur_col = pdf["dur_ms"].fillna(0).to_numpy(dtype=np.int64)

    decode_ok = np.zeros(n, dtype=bool)
    snr = np.full(n, np.nan)
    dur_ok = np.zeros(n, dtype=bool)
    has_ref = np.array([r is not None for r in ref_col], dtype=bool)
    transcript_null = pd.isna(pdf["transcript"]).to_numpy()
    ref_lens = np.array([len(r) if r is not None else -1 for r in ref_col], dtype=np.int64)

    for g in b.join_groups:
        idx, lens, starts = g.idx, g.lens, g.starts
        decode_ok[idx] = True
        sr = b.sr[idx]
        with np.errstate(divide="ignore", invalid="ignore"):
            dur_ok[idx] = np.where(
                meta_ok[idx],
                (sr > 0) & (dur_col[idx] == np.round(lens / np.maximum(sr, 1) * 1000.0)),
                True,  # null metadata: not this check's defect
            )

        # SNR vs reference: rows with a ref row; float32 ref => 4 B/sample
        m = has_ref[idx]
        if not m.any():
            continue
        ref_ok = (ref_lens[idx] % 4 == 0) & (ref_lens[idx] // 4 == lens) & (lens > 0)
        snr[idx[m & ~ref_ok]] = float("-inf")  # length mismatch / torn ref
        sel = np.flatnonzero(m & ref_ok)
        if sel.size == 0:
            continue
        rows = idx[sel]
        # float32 element math + float64 ACCUMULATION (reduceat dtype):
        # the decoded PCM is float32, so diffs/squares are computed at
        # source precision (a bit-exact pair still subtracts to exactly
        # 0.0) while the per-clip energy sums accumulate in float64 —
        # same inf/-inf semantics, ~1e-5 dB on finite SNR, and half the
        # allocation traffic of promoting both sides to float64
        ref_all = np.frombuffer(b"".join(ref_col[i] for i in rows), dtype=np.float32)
        test_all = np.concatenate([g.pcm[starts[j] : starts[j] + lens[j]] for j in sel])
        seg = np.zeros(sel.size, dtype=np.int64)
        np.cumsum(lens[sel][:-1], out=seg[1:])
        d = ref_all - test_all
        np.square(d, out=d)
        noise = np.add.reduceat(d, seg, dtype=np.float64)
        sig = np.add.reduceat(np.square(ref_all), seg, dtype=np.float64)
        with np.errstate(divide="ignore", invalid="ignore"):
            s = 10.0 * np.log10(sig / noise)
        # order matches codecs.snr_db: a bit-exact match is +inf even
        # when both sides are all-zero (noise==0 wins over sig==0)
        s[sig == 0.0] = float("-inf")  # silent reference can't attest
        s[noise == 0.0] = float("inf")  # bit-exact
        # any remaining NaN is corruption, not a verdict: inf/inf from
        # float32 overflow (|x| > ~1.8e19 squares past f32 max) or NaN
        # samples in either side. Spark orders NaN ABOVE every number,
        # so a NaN snr_db would silently PASS the `< threshold` check —
        # force it to a fail.
        s[np.isnan(s)] = float("-inf")
        snr[rows] = s

    # transcript byte-equality is independent of audio decode success
    tr_vals = pdf["transcript"].to_numpy()
    transcript_ok = ~transcript_null & has_ref & (tr_vals == pdf["transcript_ref"].to_numpy())
    return {
        "codec": b.codec,
        "decode_ok": decode_ok,
        "snr_db": snr,
        "dur_ok": dur_ok,
        "transcript_ok": transcript_ok,
        "transcript_null": transcript_null,
        "has_ref": has_ref,
    }


def _payload_flags(c):
    """Severities rank the final output like the reference's (prediction,
    score) sort (SURVEY.md O1)."""
    ok = c("decode_ok")
    return [
        (~ok, "codec", 5.0, F.lit("payload failed to decode")),
        (
            ok & c("has_ref") & (F.coalesce(c("snr_db"), F.lit(-1e9)) < SNR_THRESHOLD_DB),
            "payload_snr",
            4.0,
            F.concat(F.lit("snr_db="), F.round(c("snr_db"), 2).cast("string")),
        ),
        (ok & ~c("dur_ok"), "dur_mismatch", 2.5, F.lit("dur_ms != decoded length")),
        (c("transcript_null"), "transcript_null", 1.5, F.lit("null transcript")),
        (
            ~c("transcript_null") & c("has_ref") & ~c("transcript_ok"),
            "transcript_mismatch",
            2.0,
            F.lit("transcript differs from reference"),
        ),
    ]


PAYLOAD_KERNEL = Kernel(
    "payload",
    _REPORT_FIELDS,
    _validate,
    inputs=("sr_hz", "dur_ms", "transcript", "pcm_ref", "transcript_ref"),
    flags=_payload_flags,
    per_join_row=True,
)


def payload_report(clips: DataFrame, clips_ref: DataFrame) -> DataFrame:
    """Per-clip validation report (``clip_id``, ``part``, then
    ``_REPORT_FIELDS``). Lazy: one join + one mapInPandas stage; column
    pruning keeps only the 8 needed input columns at the scans.

    Flag independence (deliberate): transcript flags (``transcript_null`` /
    ``transcript_ok``) are evaluated for EVERY clip, including clips whose
    audio failed to decode — a torn payload does not suppress transcript
    violations (each check attests its own invariant). Likewise ``snr_db``
    for a ref row of matching *length zero* is -inf (a silent/empty
    reference cannot attest the signal), via the ``lens > 0`` term in
    ``ref_ok``. Covered by tests/test_payload.py::test_flags_decoupled_from_decode.
    """
    return decode_pass(_payload_join(clips, clips_ref), [PAYLOAD_KERNEL])


def payload_violations(report: DataFrame) -> DataFrame:
    """VIOLATION_SCHEMA rows from the report flags."""
    return flag_rows(report, PAYLOAD_KERNEL.flags(F.col))


def byte_length_audit(
    clips: DataFrame,
    tolerance_samples: int = 1,
    key_col: str = "clip_id",
    part_col: str = "part",
) -> DataFrame:
    """Pre-decode triage: does the payload's BYTE LENGTH match what the
    declared (dur_ms, sr_hz, codec) metadata promises? ``expected_bytes =
    round(dur_ms/1000 * sr_hz) * bytes_per_sample(codec)`` — a truncated
    upload, a payload written under a different codec than declared, or a
    dur_ms in the wrong unit all show up WITHOUT decoding a single sample.

    This is the cheap tier in front of the SNR decode check (q33): at
    10^12 clips it is a whole-stage-codegen projection over three metadata
    columns + the binary length (parquet stores byte length in the column
    data; no PCM ever materializes in Python). Verdicts: ``ok`` (within
    ``tolerance_samples``), ``truncated``, ``oversized``, ``unknown_codec``,
    ``bad_meta`` (non-positive dur/sr or null payload).

    Returns (clip_id, part, n_bytes, expected_bytes, delta_samples,
    verdict).
    """
    bps = F.create_map(
        *[
            x
            for c in codecs.CODECS
            for x in (F.lit(c), F.lit(codecs.bytes_per_sample(c)))
        ]
    )[F.col("codec")]
    n_bytes = F.length(F.col("bytes")).cast("long")
    exp_samples = F.round(F.col("dur_ms").cast("double") / 1000.0 * F.col("sr_hz"))
    exp_bytes = (exp_samples * bps).cast("long")
    byte_delta = n_bytes - exp_bytes
    delta = F.when(bps.isNotNull(), byte_delta / bps).cast("long")
    bad_meta = (
        F.col("bytes").isNull()
        | F.col("dur_ms").isNull()
        | F.col("sr_hz").isNull()
        | (F.col("dur_ms") <= 0)
        | (F.col("sr_hz") <= 0)
    )
    # verdict compares BYTES, not the truncated-toward-zero sample delta: a
    # payload short by 1.75 samples would otherwise cast to -1 and pass the
    # 1-sample tolerance. Misaligned lengths (n_bytes % bps != 0) can never
    # decode and are never 'ok' regardless of tolerance.
    verdict = (
        F.when(bad_meta, F.lit("bad_meta"))
        .when(bps.isNull(), F.lit("unknown_codec"))
        .when(
            (F.abs(byte_delta) <= tolerance_samples * bps) & (n_bytes % bps == 0),
            F.lit("ok"),
        )
        .when(byte_delta < 0, F.lit("truncated"))
        .otherwise(F.lit("oversized"))
    )
    # metadata column names (bytes/sr_hz/dur_ms/codec) are the input-hint
    # contract; only the key/partition columns are spec-configurable, and
    # they normalize to (clip_id, part) in the output
    return clips.select(
        F.col(key_col).alias("clip_id"),
        F.col(part_col).alias("part"),
        n_bytes.alias("n_bytes"),
        F.when(~bad_meta & bps.isNotNull(), exp_bytes).alias("expected_bytes"),
        F.when(~bad_meta & bps.isNotNull(), delta).alias("delta_samples"),
        verdict.alias("verdict"),
    )


def byte_length_violations(
    clips: DataFrame,
    tolerance_samples: int = 1,
    key_col: str = "clip_id",
    part_col: str = "part",
    report_unknown_codec: bool = True,
) -> DataFrame:
    """Suite adapter for ``byte_length_audit``: violation rows for payloads
    whose byte length contradicts the declared metadata (truncated /
    oversized / unknown codec). ``bad_meta`` rows are NOT re-reported — the
    schema constraints own null/non-positive metadata (no-double-count rule,
    like speaking_rate/loudness). For the same reason the runner passes
    ``report_unknown_codec=False`` whenever the schema check is also
    enabled: the allowed-codec domain constraint already owns declared-codec
    validity, and a third report of the same defect would only inflate the
    count. Severity 4.5: corruption-class, just under payload SNR failures.
    Pure codegen — safe to enable on every wave (and default-ON: at 10^12
    clips this is the cheapest violation source in the suite, catching
    truncation before the expensive decode pass)."""
    audit = byte_length_audit(clips, tolerance_samples, key_col, part_col)
    skip = ("ok", "bad_meta") if report_unknown_codec else ("ok", "bad_meta", "unknown_codec")
    bad = audit.where(~F.col("verdict").isin(*skip))
    return bad.select(
        F.col("clip_id").alias("key"),
        F.lit("byte_length").alias("check"),
        F.concat(
            F.col("verdict"),
            F.lit(": bytes="),
            F.col("n_bytes").cast("string"),
            F.lit(" expected="),
            F.coalesce(F.col("expected_bytes").cast("string"), F.lit("?")),
            F.lit(" delta_samples="),
            F.coalesce(F.col("delta_samples").cast("string"), F.lit("?")),
        ).alias("detail"),
        F.col("part"),
        F.lit(4.5).alias("severity"),
    )


# ---------------------------------------------------------------------------
# declared-codec plausibility sniff (mislabeled companding law)
# ---------------------------------------------------------------------------

_SNIFF_FIELDS = (
    "codec string, decode_ok boolean, roughness_declared double, "
    "best_alt_codec string, roughness_best_alt double, roughness_ratio double, "
    "suspect_codec boolean"
)

# a wrong-law decode looks noise-like: white noise has first-difference
# energy ~2x signal energy, correctly decoded band-limited audio sits far
# below 1. Measured on the synth corpus: own-law roughness median 0.096
# (max 1.23 on noise-heavy content), cross-law median 0.93 -- the RATIO
# separates them by ~10x while absolute thresholds would flag noisy-but-
# correct clips.
_SNIFF_MIN_ROUGHNESS = 0.5
_SNIFF_RATIO = 3.0
_SNIFF_MIN_RMS = 1e-4


def _roughness(rough, rms2, ci, idx, lens, x) -> None:
    """Per-clip roughness of ``x`` (the float64 concatenation of rows
    ``idx``, ``lens`` samples each) into column ``ci`` of ``rough``/``rms2``.
    Each clip's sums cover only its own samples, so the result does not
    depend on which other clips share the concatenation."""
    seg = np.zeros(idx.size, dtype=np.int64)
    np.cumsum(lens[:-1], out=seg[1:])
    energy = np.add.reduceat(x * x, seg)
    d2 = (x[1:] - x[:-1]) ** 2
    d2 = np.append(d2, 0.0)
    # zero the cross-clip boundary diffs BEFORE the reduceat: junk
    # reinterpretations reach ~1e38, so a boundary d2 of ~1e76 absorbs the
    # real clip sum in float64 and the subtract-after pattern
    # (audio_features' zcr, safe there because flips are 0/1) returns
    # exactly 0 here
    d2[seg + lens - 1] = 0.0
    diff_sum = np.add.reduceat(d2, seg)
    with np.errstate(divide="ignore", invalid="ignore"):
        r = (diff_sum / np.maximum(lens - 1, 1)) / (energy / lens)
    ok = (lens > 1) & (energy > 0) & np.isfinite(r)
    rough[idx[ok], ci] = r[ok]
    rms2[idx[ok], ci] = energy[ok] / lens[ok]


def _sniff(b: Batch, ratio_threshold: float, min_declared_roughness: float) -> dict:
    n = b.n
    cands = list(codecs.CODECS)
    rough = np.full((n, len(cands)), np.nan)
    rms2 = np.full((n, len(cands)), np.nan)
    declared = {g.codec: g for g in b.clip_groups}
    for ci, cand in enumerate(cands):
        elig = (b.byte_lens > 0) & (b.byte_lens % codecs.bytes_per_sample(cand) == 0)
        g = declared.get(cand)
        if g is not None:  # the shared declared-law decode
            _roughness(rough, rms2, ci, g.idx, g.lens, g.f64)
            elig[g.idx] = False
        idx = np.flatnonzero(elig)
        if idx.size == 0:
            continue
        # alternative-law decode: the extra work this check owns
        lens = b.byte_lens[idx] // codecs.bytes_per_sample(cand)
        with np.errstate(invalid="ignore"):
            x = codecs.decode(b"".join(b.raw[i] for i in idx), cand).astype(np.float64)
        _roughness(rough, rms2, ci, idx, lens, x)
    cand_index = {c: i for i, c in enumerate(cands)}
    decl_ci = np.array([cand_index.get(c, -1) for c in b.codec], dtype=np.int64)
    rows = np.arange(n)
    has_decl = decl_ci >= 0
    decl = np.full(n, np.nan)
    decl_rms2 = np.full(n, np.nan)
    decl[has_decl] = rough[rows[has_decl], decl_ci[has_decl]]
    decl_rms2[has_decl] = rms2[rows[has_decl], decl_ci[has_decl]]
    alt = rough.copy()
    alt[rows[has_decl], decl_ci[has_decl]] = np.nan
    alt_filled = np.where(np.isnan(alt), np.inf, alt)
    best_ci = np.argmin(alt_filled, axis=1)
    best_r = alt_filled[rows, best_ci]
    best_ci = np.where(np.isfinite(best_r), best_ci, -1)
    best_r = np.where(np.isfinite(best_r), best_r, np.nan)
    with np.errstate(divide="ignore", invalid="ignore"):
        ratio = decl / best_r
    decode_ok = np.isfinite(decl)
    suspect = (
        decode_ok
        & np.isfinite(ratio)
        & (decl >= min_declared_roughness)
        & (ratio >= ratio_threshold)
        & (decl_rms2 >= _SNIFF_MIN_RMS**2)
    )
    return {
        "codec": b.codec,
        "decode_ok": decode_ok,
        "roughness_declared": np.round(decl, 6),
        "best_alt_codec": [cands[c] if c >= 0 else None for c in best_ci],
        "roughness_best_alt": np.round(best_r, 6),
        "roughness_ratio": np.round(ratio, 6),
        "suspect_codec": suspect,
    }


def codec_sniff_kernel(
    ratio_threshold: float = _SNIFF_RATIO,
    min_declared_roughness: float = _SNIFF_MIN_ROUGHNESS,
) -> Kernel:
    detail = lambda c: F.concat(  # noqa: E731
        F.lit("declared="),
        c("codec"),
        F.lit(" roughness="),
        F.round(c("roughness_declared"), 3).cast("string"),
        F.lit(" best_alt="),
        F.coalesce(c("best_alt_codec"), F.lit("?")),
        F.lit(" ratio="),
        F.round(c("roughness_ratio"), 2).cast("string"),
    )
    return Kernel(
        "codec_sniff",
        _SNIFF_FIELDS,
        lambda b: _sniff(b, ratio_threshold, min_declared_roughness),
        inputs=(),
        flags=lambda c: [(c("suspect_codec"), "codec_sniff", 4.2, detail(c))],
    )


def codec_sniff_audit(
    clips: DataFrame,
    ratio_threshold: float = _SNIFF_RATIO,
    min_declared_roughness: float = _SNIFF_MIN_ROUGHNESS,
) -> DataFrame:
    """Mislabeled-codec detection from payload CONTENT: decode each clip
    under its declared codec AND every byte-length-consistent alternative,
    compare waveform roughness (first-difference energy over signal
    energy), and flag clips whose declared decode is noise-like while an
    alternative decodes to plausible audio.

    This is the corruption class the other payload tiers cannot see:
    ``byte_length_audit`` is blind to ulaw<->alaw swaps (both 1 byte per
    sample, identical size arithmetic), and the SNR check needs a
    reference row — a mislabeled clip with no ref row decodes "cleanly"
    into garbage and passes everything. The flag is deliberately RELATIVE
    (declared/alternative ratio >= ``ratio_threshold`` and declared
    roughness >= ``min_declared_roughness``): noise-heavy but correctly
    labeled content scores ~equal roughness under every law and stays
    clean, while a swapped label shows ~10x separation.

    Reference analogue: the per-event value-plausibility flags
    (SURVEY.md A10) applied at the payload-content level.

    Scale notes: a kernel of the shared decode pass; the declared-law
    decode is the pass's own, and for each alternative codec the batch's
    consistent clips decode as ONE concatenation with per-clip roughness
    from ``np.add.reduceat`` sums (the cross-clip boundary difference is
    zeroed first). Candidate count is a constant (4), so the pass stays
    O(batch bytes), never per-sample Python.
    """
    return decode_pass(clips, [codec_sniff_kernel(ratio_threshold, min_declared_roughness)])


def codec_sniff_violations(
    clips: DataFrame,
    ratio_threshold: float = _SNIFF_RATIO,
    key_col: str = "clip_id",
    part_col: str = "part",
) -> DataFrame:
    """Suite adapter for ``codec_sniff_audit``: violation rows for clips
    whose payload content contradicts the declared codec. Severity 4.2:
    corruption-class (every downstream consumer decodes garbage), just
    below byte-length mismatches (4.5) which are the cheaper, more certain
    signal. Undecodable clips are NOT re-reported (codec/payload checks
    own that class)."""
    return decoded_violations(
        clips, [codec_sniff_kernel(ratio_threshold)], key_col=key_col, part_col=part_col
    )
