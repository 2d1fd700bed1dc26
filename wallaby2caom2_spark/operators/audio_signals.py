"""One-decode multi-signal gate pass: fingerprint + VAD + spectral shape.

The three audio gates (content fingerprint for near-dup, energy VAD for
speech presence, spectral shape for tonal artifacts) each need the decoded
samples. Run separately they decode the corpus three times — at 100 TB that
is three full reads of the payload column for ~40 bytes/clip of output
each. This operator decodes ONCE per clip and emits every gate signal from
that single pass: the container parses once, the int16 view feeds the VAD's
exact integer energies, and one int16→float32 conversion feeds the
fingerprint and the Welch spectrum.

Numerically identical to the standalone operators (same helper functions:
``vad._clip_vad``, ``spectral._clip_spectrum``, ``audio.band_fingerprint``;
the float conversion is the same /32767 scaling ``decode_clip`` applies),
pinned by tests/test_audio_signals.py.

Spark shape: one projection on the scan (``mapInPandas`` for the
standalone pass, ``mapInArrow`` for ``quality_and_signals``), payload dies
in the worker, ~60 bytes/clip out, no shuffle. Undecodable / rateless clips
emit ``sig_ok=false`` containment rows.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.pandas.types import from_arrow_schema, to_arrow_schema

from ..config import DEFAULT_CONFIG
from ..functions import audio
from .fused_stage import (
    DECODE_FIELDS,
    FUSED_PA_SCHEMA,
    PASSTHROUGH_FIELDS,
    _binary_views,
    quality_arrays,
)
from .spectral import _clip_spectrum
from .vad import _clip_vad

# VAD framing shared by both passes (20 ms frames, 10 ms hop, 10 dB gate)
FRAME_MS, HOP_MS, GATE_DB = 20, 10, 10.0

SIGNALS_SCHEMA = T.StructType(
    [
        T.StructField("clip_id", T.StringType()),
        T.StructField("sig_ok", T.BooleanType()),
        T.StructField("fp_ok", T.BooleanType()),
        T.StructField("fp", T.LongType()),
        T.StructField("n_frames", T.IntegerType()),
        T.StructField("n_speech_frames", T.IntegerType()),
        T.StructField("speech_ratio", T.DoubleType()),
        T.StructField("n_speech_runs", T.IntegerType()),
        T.StructField("snr_db", T.DoubleType()),
        T.StructField("spec_ok", T.BooleanType()),
        T.StructField("flatness", T.DoubleType()),
        T.StructField("centroid_hz", T.DoubleType()),
        T.StructField("peak_share", T.DoubleType()),
    ]
)

_SIGNALS_PA = to_arrow_schema(SIGNALS_SCHEMA)
_QUALITY_SIGNALS_PA = pa.schema(
    list(FUSED_PA_SCHEMA) + [f for f in _SIGNALS_PA if f.name != "clip_id"]
)
QUALITY_SIGNALS_SCHEMA = from_arrow_schema(_QUALITY_SIGNALS_PA)


class _SignalArrays:
    """Per-batch output accumulators for the gate signals, shared by the
    survivors-only pass (``audio_signals``) and the whole-corpus fused pass
    (``quality_and_signals``) so the two can never diverge numerically
    (pinned by tests/test_audio_signals.py)."""

    def __init__(self, n: int):
        self.ok = np.zeros(n, dtype=bool)
        self.fp_ok = np.zeros(n, dtype=bool)
        self.fp = np.zeros(n, dtype=np.int64)
        self.n_fr = np.zeros(n, dtype=np.int32)
        self.n_sp = np.zeros(n, dtype=np.int32)
        self.runs = np.zeros(n, dtype=np.int32)
        self.snr = np.zeros(n, dtype=np.float64)
        self.sp_ok = np.zeros(n, dtype=bool)
        self.flat = np.zeros(n, dtype=np.float64)
        self.cent = np.zeros(n, dtype=np.float64)
        self.peak = np.zeros(n, dtype=np.float64)

    def fill_row(
        self,
        i: int,
        raw,
        codec,
        sr_decl,
        frame_ms: int = FRAME_MS,
        hop_ms: int = HOP_MS,
        gate_db: float = GATE_DB,
    ) -> None:
        """Decode one clip (zero-copy int16 view) and write every gate
        signal for row ``i``; undecodable / rateless clips leave the
        containment defaults (ok=False)."""
        # pass the Arrow buffer through as-is: decode_clip_i16 views it
        # zero-copy (a bytes() wrap here would memcpy the full payload —
        # the exact traffic this fused pass exists to avoid)
        x16, sr_meas = audio.decode_clip_i16(raw, codec)
        if x16 is None or len(x16) == 0:
            return
        sr = sr_meas or audio.declared_sr(sr_decl)
        if sr <= 0:
            return
        self.ok[i] = True
        self.n_fr[i], self.n_sp[i], self.runs[i], self.snr[i] = _clip_vad(
            x16, sr, frame_ms, hop_ms, gate_db
        )
        # the one int16→float conversion of the pass — the same
        # _FULL_SCALE scaling decode_clip applies, so fp/spectrum
        # match the standalone operators bit-for-bit
        xf = x16.astype(np.float32) / audio._FULL_SCALE
        # ONE decimation to the shared 4 kHz analysis rate: fingerprint and
        # spectrum both open with exactly this resample_linear call, so
        # pre-applying it is bit-identical to the standalone operators
        # (pinned in tests/test_audio_signals.py) and halves the second-
        # hottest line of the fused pass
        if sr > audio._FP_ANALYSIS_SR:
            xd, sr_d = (
                audio.resample_linear(xf, sr, audio._FP_ANALYSIS_SR),
                audio._FP_ANALYSIS_SR,
            )
        else:
            xd, sr_d = xf, sr
        self.fp_ok[i], self.fp[i] = audio.band_fingerprint(xd, sr_d)
        res = _clip_spectrum(xd, sr_d)
        if res is not None:
            self.sp_ok[i] = True
            self.flat[i], self.cent[i], self.peak[i] = res

    def columns(self, n: int) -> dict:
        return {
            "sig_ok": self.ok,
            "fp_ok": self.fp_ok,
            "fp": self.fp,
            "n_frames": self.n_fr,
            "n_speech_frames": self.n_sp,
            "speech_ratio": np.round(
                np.divide(
                    self.n_sp,
                    self.n_fr,
                    out=np.zeros(n, dtype=np.float64),
                    where=self.n_fr > 0,
                )
                + 1e-12,
                6,
            ),
            "n_speech_runs": self.runs,
            "snr_db": np.round(self.snr + 1e-9, 3),
            "spec_ok": self.sp_ok,
            "flatness": np.round(self.flat + 1e-12, 6),
            "centroid_hz": np.round(self.cent + 1e-9, 2),
            "peak_share": np.round(self.peak + 1e-12, 6),
        }


def audio_signals(
    df: DataFrame,
    frame_ms: int = FRAME_MS,
    hop_ms: int = HOP_MS,
    gate_db: float = GATE_DB,
) -> DataFrame:
    """(clip_id, bytes, codec, sr_hz) → every gate signal, one decode."""

    def _run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n = len(pdf)
            sig = _SignalArrays(n)
            for i, (raw, codec, sr_decl) in enumerate(
                zip(pdf["bytes"], pdf["codec"], pdf["sr_hz"])
            ):
                sig.fill_row(i, raw, codec, sr_decl, frame_ms, hop_ms, gate_db)
            cols = sig.columns(n)
            yield pd.DataFrame({"clip_id": pdf["clip_id"], **cols})

    cols = ["clip_id", "bytes", "codec", "sr_hz"]
    return df.select(*cols).mapInPandas(_run, SIGNALS_SCHEMA)


def quality_and_signals(
    df: DataFrame, signals_for_dropped: bool = False
) -> DataFrame:
    """The curation DAG's single payload pass: quality-filter features AND
    every audio gate signal from ONE decode of ONE scan.

    The round-2 funnel ran two payload passes (quality filter over all
    clips, then ``audio_signals`` over survivors) stitched by a
    ``clips ⋈ kept_ids`` semi-join — a second full read of the payload
    column and, past broadcast scale, a payload shuffle. This pass reads
    each clip once (one ``mapInArrow`` crossing, payloads read zero-copy),
    computes the quality features with the fused stage's kernel
    (``fused_stage.quality_arrays`` — the same code as the flagship
    stage) and the fingerprint/VAD/spectral signals (shared
    ``_SignalArrays`` helper — byte-identical to ``audio_signals``), so the
    whole funnel downstream is codegen + slim joins.

    By default the expensive signal block (fingerprint FFT + Welch
    spectrum + VAD) is SKIPPED for clips the quality cascade is about to
    drop: the worker evaluates the same first-match-wins decision chain the
    codegen cascade runs (``oracle.drop_reason_from_features`` — the
    single factored implementation the serial labeler uses, whose equality
    with the Catalyst when-chain is pinned by the golden fixtures and the
    flagship's row-level oracle) on the values this very pass computed,
    and only survivors pay for the FFTs. Dropped clips carry the same
    ``sig_ok=false`` containment defaults as undecodable ones — the funnel
    never reads gate signals of a stage-1-dropped clip (its stage label
    short-circuits at ``~keep``). ``signals_for_dropped=True`` restores
    unconditional computation (the numerical-identity tests use it to pin
    this pass against the standalone operators on every row; production
    equivalence of the DEFAULT path is pinned by
    tests/test_audio_signals.py::test_gated_signals_match_for_kept_clips
    and test_curate.py — identical ``_staged`` output either way).

    Two gate safeguards: (1) the gate decides with ``DEFAULT_CONFIG``, the
    config the curation DAG passes to ``cascade.with_keep_drop`` — a
    consumer cascading with another config must pass
    ``signals_for_dropped=True``, or clips it keeps could lack signals;
    (2) a predicted ``repetition`` drop does NOT skip, because that is the
    one rule whose input (``rep_ratio``) the worker re-derives via
    ``str.split()`` while the cascade tokenizes with codegen ``(?U)\\S+`` —
    the two disagree on exotic control characters (U+001C-001F), and every
    OTHER rule compares the bit-identical values this pass itself emits,
    so only ``repetition`` could mispredict.

    The container header is parsed twice per clip (decode_features + the
    signal decode) — both return zero-copy int16 views, so no sample data
    is copied either time."""

    def _run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from ..oracle import drop_reason_from_features, transcript_shape

        for batch in batches:
            cols = dict(zip(batch.schema.names, batch.columns))
            feats = quality_arrays(
                cols["bytes"], cols["codec"], cols["sr_hz"], cols["transcript"]
            )
            n = batch.num_rows
            sig = _SignalArrays(n)
            # to_pylist hands NULL declared metadata over as None — the
            # three-valued input the cascade's rules expect
            codecs, srs, durs, texts = (
                cols[c].to_pylist() for c in ("codec", "sr_hz", "dur_ms", "transcript")
            )
            nd = len(DECODE_FIELDS)
            decoded = list(zip(*(a.to_pylist() for a in feats[:nd])))
            langs, confs, ppls = (a.to_pylist() for a in feats[nd : nd + 3])
            for i, view in enumerate(_binary_views(cols["bytes"])):
                if not signals_for_dropped:
                    reason = drop_reason_from_features(
                        codecs[i], srs[i], durs[i], *decoded[i],
                        *transcript_shape(texts[i]),
                        ppls[i], langs[i], confs[i], DEFAULT_CONFIG,
                    )
                    if reason is not None and reason != "repetition":
                        continue  # containment defaults, like undecodable
                sig.fill_row(i, view, codecs[i], srs[i])
            yield pa.RecordBatch.from_arrays(
                [cols[f.name] for f in PASSTHROUGH_FIELDS]
                + feats
                + [
                    pa.array(v, type=_SIGNALS_PA.field(k).type)
                    for k, v in sig.columns(n).items()
                ],
                schema=_QUALITY_SIGNALS_PA,
            )

    cols = ["clip_id", "bytes", "sr_hz", "dur_ms", "codec", "transcript"]
    return df.select(*cols).mapInArrow(_run, QUALITY_SIGNALS_SCHEMA)
