"""Every Spark form of the fused quality-feature kernel (mapInArrow slim
rows, payload-retaining scalar Arrow UDF, kept-clips recompute) must agree
with the others and with ``quality_filter``, and the kernel's zero-copy
payload reads must be content-correct."""

from __future__ import annotations

from wallaby2caom2_spark.plans.pipeline import quality_filter


def test_kept_clips_matches_quality_filter(spark, clips_df):
    """The zero-Exchange narrow recompute (scalar fused UDF + codegen
    cascade) must select EXACTLY the quality_filter keep set and return the
    original payload rows unchanged."""
    from pyspark.sql import functions as F

    from wallaby2caom2_spark.plans.pipeline import kept_clips

    expect = {
        r["clip_id"]
        for r in quality_filter(clips_df).filter(F.col("keep")).collect()
    }
    got = kept_clips(clips_df).collect()
    assert {r["clip_id"] for r in got} == expect
    assert set(kept_clips(clips_df).columns) == set(clips_df.columns)
    # payload fidelity: rows are the source rows, not a re-encode
    src = {r["clip_id"]: r["bytes"] for r in clips_df.collect()}
    for r in got:
        assert r["bytes"] == src[r["clip_id"]]


def test_retaining_scalar_udf_equals_maparrow_stage(spark, clips_df):
    """with_fused_features_retaining (scalar Arrow UDF, payload kept
    JVM-side) must emit the identical feature struct as the flagship's
    mapInArrow fused stage for every clip."""
    from wallaby2caom2_spark.operators.fused_stage import (
        with_fused_features,
        with_fused_features_retaining,
    )

    feat_cols = [
        "pcm_ok", "sr_meas", "dur_ms_meas", "rms", "clip_rate", "dropout_ms",
        "lang", "lang_conf", "ppl", "scrubbed_all", "scrub_edits_all",
    ]

    def by_id(df):
        return {
            r["clip_id"]: tuple(r[c] for c in feat_cols)
            for r in df.select("clip_id", *feat_cols).collect()
        }

    arrow_form = by_id(with_fused_features(clips_df))
    scalar_form = by_id(with_fused_features_retaining(clips_df))
    assert arrow_form == scalar_form


def test_binary_views_zero_copy_and_slicing():
    """_binary_views must return content-correct per-row views for plain,
    null-bearing, and SLICED (non-zero offset) BinaryArrays — the layouts a
    worker can receive after Arrow-level batch slicing."""
    import pyarrow as pa

    from wallaby2caom2_spark.operators.fused_stage import _binary_views

    payloads = [b"RIFFxxxx", None, b"", b"\x01\x02" * 1000, b"fLaC1234"]
    arr = pa.array(payloads, type=pa.binary())

    def materialize(a):
        return [None if v is None else bytes(v) for v in _binary_views(a)]

    assert materialize(arr) == payloads
    # sliced array: offsets no longer start at 0
    sl = arr.slice(1, 3)
    assert materialize(sl) == payloads[1:4]
    # large_binary variant (int64 offsets)
    larr = pa.array(payloads, type=pa.large_binary())
    assert materialize(larr) == payloads
    # views must be zero-copy (share the arrow data buffer), not copies
    views = _binary_views(arr)
    assert isinstance(views[0], memoryview)


def test_decode_features_accepts_memoryview():
    """decode_features reads memoryview payloads in place (wav header walk,
    struct.unpack_from, np.frombuffer) with results identical to bytes."""
    import numpy as np

    from wallaby2caom2_spark.functions import audio

    t = np.arange(8000) / 16000.0
    wav = audio.encode_wav((0.3 * np.sin(2 * np.pi * 220 * t)).astype(np.float32), 16000)
    flac = audio.encode_flac_stub((0.2 * np.sin(2 * np.pi * 330 * t)).astype(np.float32), 16000)
    pcm = audio.encode_pcm_s16le((0.1 * np.sin(2 * np.pi * 110 * t)).astype(np.float32))
    for payload, codec in ((wav, "wav"), (flac, "flac"), (pcm, "pcm_s16le")):
        via_bytes = audio.decode_features(payload, codec, 16000)
        via_view = audio.decode_features(memoryview(payload), codec, 16000)
        assert via_bytes == via_view
        assert via_bytes[0] is True
    # truncated view → contained failure, no exception
    assert audio.decode_features(memoryview(wav)[:20], "wav", 16000)[0] is False
