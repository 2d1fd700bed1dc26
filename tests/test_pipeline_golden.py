"""Golden-fixture end-to-end test — the reference's test style
(``wallaby2caom2/tests/test_caom_gen_visit.py:112-135``: build record, diff
against ``<file_id>.expected.xml``, write ``.actual`` on mismatch, fail with
the diff): run the distributed pipeline over the seeded clips table, diff
per-row against the committed golden labels (produced by the serial oracle),
write ``golden_labels.actual.jsonl`` on mismatch.

Gates (BASELINE.json): keep/drop F1 ≥ 0.99, scrubbed transcript exact
equality, drop_reason exact equality.
"""

from __future__ import annotations

import json
import os

GOLDEN = os.path.join(os.path.dirname(__file__), "data", "golden_labels.jsonl")
ACTUAL = GOLDEN.replace(".jsonl", ".actual.jsonl")


def _load_golden() -> dict[str, dict]:
    with open(GOLDEN) as f:
        return {r["clip_id"]: r for r in map(json.loads, f)}


def _f1(pairs: list[tuple[bool, bool]]) -> float:
    tp = sum(1 for g, p in pairs if g and p)
    fp = sum(1 for g, p in pairs if not g and p)
    fn = sum(1 for g, p in pairs if g and not p)
    return 2 * tp / max(2 * tp + fp + fn, 1)


def test_oracle_reproduces_golden(oracle_labels):
    """Drift guard: the live oracle still produces the committed fixture."""
    golden = _load_golden()
    # 1:1, not subset: stale extra rows in the committed file (an old or
    # larger fixture) must fail the guard too
    assert len(oracle_labels) == len(golden)
    for l in oracle_labels:
        g = golden[l["clip_id"]]
        assert l["keep"] == g["keep"]
        assert (l["drop_reason"] or None) == (g["drop_reason"] or None)
        assert l["scrubbed_transcript"] == g["scrubbed_transcript"]


def test_pipeline_matches_golden(spark, clips_df):
    from wallaby2caom2_spark.plans.pipeline import quality_filter

    golden = _load_golden()
    rows = quality_filter(clips_df).collect()
    assert len(rows) == len(golden)

    mismatches = []
    pairs = []
    for r in rows:
        g = golden[r["clip_id"]]
        pairs.append((g["keep"], r["keep"]))
        ok = (
            r["keep"] == g["keep"]
            and (r["drop_reason"] or None) == (g["drop_reason"] or None)
            and r["scrubbed_transcript"] == g["scrubbed_transcript"]
            and r["scrub_edits"] == g["scrub_edits"]
        )
        if not ok:
            mismatches.append(
                {
                    "clip_id": r["clip_id"],
                    "actual": {
                        "keep": r["keep"],
                        "drop_reason": r["drop_reason"],
                        "scrubbed_transcript": r["scrubbed_transcript"],
                    },
                    "expected": g,
                }
            )

    f1 = _f1(pairs)
    if mismatches:
        with open(ACTUAL, "w") as f:
            for m in mismatches:
                f.write(json.dumps(m) + "\n")
    assert f1 >= 0.99, f"keep/drop F1 {f1:.4f} < 0.99; see {ACTUAL}"
    assert not mismatches, f"{len(mismatches)} row mismatches; see {ACTUAL}"


def test_metrics_counters(spark, clips_df, oracle_labels):
    from wallaby2caom2_spark.plans.pipeline import quality_filter, run_metrics

    got = {
        r["outcome"]: (r["clips"], r["scrub_edits"])
        for r in run_metrics(quality_filter(clips_df)).collect()
    }
    import collections

    want = collections.Counter(l["drop_reason"] or "kept" for l in oracle_labels)
    edits = sum(l["scrub_edits"] for l in oracle_labels)
    for outcome, n in want.items():
        assert got[outcome][0] == n, outcome
    assert got["kept"][1] == edits


def test_oracle_and_pipeline_agree_on_null_metadata(spark):
    """NULL declared sr/duration must not crash the labeler (it used to
    TypeError on int(None)) and must produce the same keep/drop decision
    the Spark cascade's three-valued logic yields for the same row — on
    every Arrow path that reads declared metadata: the fused stage
    (``quality_filter``), the kept-clips recompute (``kept_clips``) and the
    curation DAG's single pass (``curate._staged``), whose worker-side
    signal gate sees NULL metadata as None, gated and ungated alike."""
    import numpy as np

    from wallaby2caom2_spark import oracle
    from wallaby2caom2_spark.config import DEFAULT_CONFIG
    from wallaby2caom2_spark.functions import audio
    from wallaby2caom2_spark.operators import cascade
    from wallaby2caom2_spark.operators.audio_signals import quality_and_signals
    from wallaby2caom2_spark.plans import curate
    from wallaby2caom2_spark.plans.pipeline import kept_clips, quality_filter

    t = np.arange(16000, dtype=np.float32) / 16000
    tone = (0.4 * np.sin(2 * np.pi * 220 * t)).astype("float32")
    wav = audio.encode_wav(tone, 16000)
    pcm = audio.encode_pcm_s16le(tone)
    text = "every morning the children walk slowly towards school"
    rows = [
        {"clip_id": cid, "bytes": payload, "sr_hz": sr, "dur_ms": dur,
         "codec": codec, "transcript": text}
        for cid, payload, codec, sr, dur in (
            ("null_sr", wav, "wav", None, 1000),
            ("null_dur", wav, "wav", 16000, None),
            ("null_both", wav, "wav", None, None),
            # headerless codec: the declared rate is the only rate
            ("null_sr_pcm", pcm, "pcm_s16le", None, 1000),
            ("null_dur_pcm", pcm, "pcm_s16le", 16000, None),
            ("null_dur_sr_mismatch", wav, "wav", 8000, None),
        )
    ]
    labels = {l["clip_id"]: l for l in oracle.label_rows(rows)}
    df = spark.createDataFrame(
        [(r["clip_id"], bytearray(r["bytes"]), r["sr_hz"], r["dur_ms"],
          r["codec"], r["transcript"]) for r in rows],
        "clip_id string, bytes binary, sr_hz int, dur_ms int, codec string, "
        "transcript string",
    )
    # the oracle labels exercise both outcomes
    assert {l["keep"] for l in labels.values()} == {True, False}

    got = {r["clip_id"]: r for r in quality_filter(df).collect()}
    # the cascade over the curation pass's own features (what _staged runs)
    single_pass = {
        r["clip_id"]: r
        for r in quality_and_signals(df)
        .transform(cascade.with_transcript_stats)
        .transform(lambda d: cascade.with_keep_drop(d, DEFAULT_CONFIG))
        .collect()
    }
    kept = {r["clip_id"] for r in kept_clips(df).collect()}
    staged = {
        gated: {
            r["clip_id"]: r["stage"]
            for r in curate._staged(df, signals_for_dropped=not gated).collect()
        }
        for gated in (True, False)
    }
    for cid, want in labels.items():
        for path in (got, single_pass):
            assert path[cid]["keep"] == want["keep"], cid
            assert (path[cid]["drop_reason"] or None) == (
                want["drop_reason"] or None
            ), cid
        assert (cid in kept) == want["keep"], cid
        assert (staged[True][cid] == "1_quality_dropped") == (not want["keep"]), cid
        # skipping signals for predicted drops never changes a label
        assert staged[True][cid] == staged[False][cid], cid
