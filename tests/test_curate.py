"""End-to-end curation plan (plans/curate.py): funnel accounting, signal
equivalence with the standalone operators, dedup behavior on planted
redeliveries, split determinism, and the shard/manifest contract."""

from __future__ import annotations

import json
import shutil

import pytest
from pyspark.sql import functions as F

from wallaby2caom2_spark.operators import spectral, vad
from wallaby2caom2_spark.operators.audio_fp import with_fingerprint
from wallaby2caom2_spark.operators.audio_signals import audio_signals
from wallaby2caom2_spark.plans import curate


def test_signals_match_standalone_operators(spark, clips_df):
    """The fused one-decode pass must be numerically identical to the three
    standalone operators it replaces."""
    sig = {r["clip_id"]: r for r in audio_signals(clips_df).collect()}
    fp = {r["clip_id"]: r for r in with_fingerprint(clips_df).collect()}
    vd = {r["clip_id"]: r for r in vad.vad_stats(clips_df).collect()}
    sp = {r["clip_id"]: r for r in spectral.spectral_stats(clips_df).collect()}
    assert set(sig) == set(fp) == set(vd) == set(sp)
    for cid, s in sig.items():
        assert (s["fp_ok"], s["fp"]) == (fp[cid]["fp_ok"], fp[cid]["fp"]), cid
        for k in ("n_frames", "n_speech_frames", "speech_ratio",
                  "n_speech_runs", "snr_db"):
            assert s[k] == vd[cid][k], (cid, k)
        assert s["spec_ok"] == sp[cid]["spec_ok"], cid
        for k in ("flatness", "centroid_hz", "peak_share"):
            assert s[k] == pytest.approx(sp[cid][k], abs=1e-9), (cid, k)
        # sig_ok is the decode gate: identical to vad_ok by construction
        assert s["sig_ok"] == vd[cid]["vad_ok"], cid


def test_funnel_partitions_the_input(spark, clips_df):
    out = curate.curation_funnel(clips_df).collect()
    by = {r["stage"]: r["n_clips"] for r in out}
    assert sum(by.values()) == clips_df.count()
    assert by.get("1_quality_dropped", 0) > 0
    final = sum(v for k, v in by.items() if k.startswith("4_"))
    assert final > 0 and "4_train" in by
    # every stage label is one of the documented ones
    allowed = {
        "1_quality_dropped", "2_undecodable", "2_tonal_artifact",
        "2_no_speech", "3_neardup_dropped", "4_train", "4_valid", "4_test",
    }
    assert set(by) <= allowed


def test_redelivered_copies_lose_to_canonical(spark, clips_df):
    """Byte-identical clips under new ids (upstream redelivery) must drop at
    the dedup stage, and the canonical (smaller-id) copy must survive."""
    redelivered = clips_df.filter(
        F.xxhash64("clip_id") % 20 == 0
    ).withColumn("clip_id", F.concat(F.lit("z-redeliver-"), F.col("clip_id")))
    both = clips_df.unionByName(redelivered)
    staged = curate._staged(both)
    re_rows = {
        r["clip_id"]: r["stage"]
        for r in staged.filter(
            F.col("clip_id").startswith("z-redeliver-")
        ).collect()
    }
    assert re_rows
    orig_stage = {
        r["clip_id"]: r["stage"] for r in curate._staged(clips_df).collect()
    }
    for rid, stage in re_rows.items():
        orig = orig_stage[rid.removeprefix("z-redeliver-")]
        if orig.startswith("4_"):
            # the original passed all gates → the copy must lose the
            # min-id keeper election ("z-..." sorts after every original)
            assert stage == "3_neardup_dropped", (rid, stage, orig)
        else:
            # the copy fails the same earlier gate its original failed
            assert not stage.startswith("3_"), (rid, stage, orig)


def test_split_is_deterministic_across_runs(spark, clips_df):
    a = curate._staged(clips_df).filter(F.col("stage").startswith("4_"))
    b = curate._staged(clips_df.repartition(7)).filter(
        F.col("stage").startswith("4_")
    )
    assert a.select("clip_id", "stage").exceptAll(
        b.select("clip_id", "stage")
    ).count() == 0


def test_curate_corpus_exports_valid_shards(spark, clips_df, tmp_path):
    src = str(tmp_path / "clips")
    out = str(tmp_path / "curated")
    shutil.rmtree(out, ignore_errors=True)
    clips_df.write.mode("overwrite").parquet(src)
    cached_before = spark.sparkContext._jsc.sc().getPersistentRDDs().size()
    manifest = curate.curate_corpus(spark, src, out, n_buckets=4)
    assert manifest["n_clips"] > 0 and "train" in manifest["splits"]
    with open(f"{out}/manifest.json") as fh:
        assert json.load(fh) == manifest
    shards = spark.read.parquet(f"{out}/shards")
    assert shards.count() == manifest["n_clips"]
    # geometry contract: every tensor matches its declared shape
    bad = shards.filter(
        F.length("feat_bytes") != F.col("n_frames") * F.col("n_bands") * 4
    )
    assert bad.count() == 0
    # shard membership equals the funnel's final stages (minus feat_ok
    # containment drops, which are clips too short to frame)
    funnel = {
        r["stage"]: r["n_clips"]
        for r in curate.curation_funnel(
            spark.read.parquet(src)
        ).collect()
    }
    final = sum(v for k, v in funnel.items() if k.startswith("4_"))
    assert manifest["n_clips"] <= final
    # the manifest carries the same funnel, computed by the run itself
    assert manifest["funnel"] == funnel
    assert sum(manifest["funnel"].values()) == clips_df.count()
    # idempotence: re-running converges to the same manifest
    again = curate.curate_corpus(spark, src, out, n_buckets=4)
    assert again == manifest
    # no cached blocks leak past the run (the session fixture's own
    # persisted clips_df is excluded by the before/after delta)
    cached_after = spark.sparkContext._jsc.sc().getPersistentRDDs().size()
    assert cached_after == cached_before


def test_curate_detects_stale_partitions(spark, clips_df, tmp_path):
    """Exporting a smaller corpus over an existing export must fail fast on
    the leftover partitions instead of folding foreign clips into the
    manifest."""
    src_full = str(tmp_path / "full")
    src_half = str(tmp_path / "half")
    out = str(tmp_path / "curated")
    clips_df.write.mode("overwrite").parquet(src_full)
    clips_df.limit(80).write.mode("overwrite").parquet(src_half)
    curate.curate_corpus(spark, src_full, out, n_buckets=4)
    with pytest.raises(ValueError, match="stale partitions"):
        curate.curate_corpus(spark, src_half, out, n_buckets=4)
