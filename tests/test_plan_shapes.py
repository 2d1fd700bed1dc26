"""Physical-plan shape pins for the scale-critical queries.

Correctness tests prove the VALUES; these prove the PLANS — the properties
that decide whether a query survives a 100x scale-up: shuffle count, join
strategy, filter pushdown, and the single-Arrow-crossing contract. A
refactor that keeps results but, say, adds a second exchange to the
flagship or turns the range join into a cartesian product fails here
instead of in production.
"""

from __future__ import annotations

import io
from contextlib import redirect_stdout

import pytest

from wallaby2caom2_spark.queries import ALL_QUERIES

SF = "/root/testdata/sf0.001"


def formatted(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def plan_of(spark, name: str) -> str:
    return formatted(ALL_QUERIES[name](spark, SF))


def count(plan: str, token: str) -> int:
    return plan.count(token)


def test_flagship_single_exchange_single_arrow_crossing(spark):
    plan = plan_of(spark, "clips_quality_filter")
    # ONE shuffle (the salted repartition of slim rows) and ONE Python
    # crossing (the fused decode+langid+ppl+scrub stage) — the two headline
    # properties of the pipeline's scale design
    assert count(plan, "Exchange (") == 1, plan
    # tree-form tokens ("Node (id)") so the detail section's repeat of the
    # node name isn't double-counted
    assert count(plan, "MapInArrow (") + count(plan, "MapInPandas (") == 1, plan


def test_range_join_is_not_cartesian(spark):
    plan = plan_of(spark, "events_range_join")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or (
        "BroadcastHashJoin" in plan
    ), plan


def test_pricing_summary_filter_pushdown(spark):
    plan = plan_of(spark, "pricing_summary")
    # the shipdate predicate must reach the parquet scan, not sit in a
    # post-scan Filter only
    assert "PushedFilters: [" in plan, plan
    assert "LessThanOrEqual(l_shipdate" in plan, plan


def test_star_join_broadcasts_dims(spark):
    plan = plan_of(spark, "revenue_per_nation")
    assert "BroadcastHashJoin" in plan, plan


def test_two_phase_distinct_bounded_exchanges(spark):
    plan = plan_of(spark, "distinct_users_two_phase")
    # dedupe exchange + final per-type exchange (plus the orderBy's range
    # exchange) — anything beyond that means the pre-aggregation was lost
    assert count(plan, "Exchange (") <= 3, plan
    assert count(plan, "HashAggregate") >= 2, plan


def test_lsh_banding_is_equi_join(spark):
    plan = plan_of(spark, "dedup_lsh_bands")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_contrastive_mining_is_bucket_equi_join(spark):
    """Pair generation must stay blocked by the LSH bucket — the vec_id
    inequality is a post-join residual on a bucket EQUI-join, never the
    join condition of a nested-loop all-pairs plan."""
    plan = plan_of(spark, "contrastive_pair_mining")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_quality_calibration_is_jvm_single_scan(spark):
    """Score + percent_rank calibration: one documents scan, pure codegen
    (no Python stage); the only wide op is the per-source window."""
    plan = plan_of(spark, "quality_calibration_per_source")
    assert count(plan, "Location: InMemoryFileIndex") == 1, plan
    assert "MapInPandas" not in plan, plan
    assert "ArrowEvalPython" not in plan, plan
    assert "BatchEvalPython" not in plan, plan


@pytest.mark.parametrize(
    "name", ["kmeans_train", "doc_intradoc_dedup", "text_linear_classifier"]
)
def test_projection_only_ops_have_no_python_stage(spark, name):
    """Ops designed to run entirely JVM-side must not silently grow a
    Python worker stage."""
    plan = plan_of(spark, name)
    assert "MapInPandas" not in plan, plan
    assert "ArrowEvalPython" not in plan, plan
    assert "BatchEvalPython" not in plan, plan


def test_semi_join_pushes_both_filters(spark):
    """orders_with_returns_semi: EXISTS expressed as LEFT SEMI — both
    predicates must reach their parquet scans, and the join must stay a
    semi join (no distinct pass / row multiplication)."""
    plan = plan_of(spark, "orders_with_returns_semi")
    assert "LeftSemi" in plan, plan
    assert "EqualTo(l_returnflag,R)" in plan, plan
    assert "GreaterThanOrEqual(o_orderdate" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_interval_attribution_is_keyed_join(spark):
    """The stream-stream interval join's batch degradation must plan as a
    keyed join with the time bounds as post-join conditions — never a
    cartesian/BNLJ over the event table."""
    plan = plan_of(spark, "events_interval_attribution")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_decorrelated_subquery_bounded_exchanges(spark):
    """small_quantity_revenue: the per-part threshold is one aggregation
    joined back — the plan must not contain a per-row subquery artifact
    and keeps to the agg + join exchanges."""
    plan = plan_of(spark, "small_quantity_revenue")
    assert count(plan, "Exchange (") <= 3, plan
    assert "CartesianProduct" not in plan, plan


def test_deciles_window_partitioning_reused_by_groupby(spark):
    """value_deciles_by_type: the groupBy must reuse the window's
    event_type partitioning — one wide exchange of raw rows (plus the final
    orderBy range exchange), never a second hash exchange of the input."""
    plan = plan_of(spark, "value_deciles_by_type")
    assert count(plan, "Exchange (") <= 2, plan
    assert "ntile" in plan.lower(), plan


def test_rule_ablation_is_single_scan(spark):
    """quality_rule_ablation: all four rule counters must come from ONE
    pass over documents (conditional sums + stack unpivot), never a
    union of per-rule scans."""
    plan = plan_of(spark, "quality_rule_ablation")
    # one Location: line per distinct parquet scan in the detail section
    assert count(plan, "Location: InMemoryFileIndex") == 1, plan
    assert "Union" not in plan, plan


def test_split_is_jvm_only_single_scan(spark):
    """split_train_valid_test: the hash split is pure codegen over one
    scan; the share denominator must not add a second scan or a Python
    stage."""
    plan = plan_of(spark, "split_train_valid_test")
    assert count(plan, "Location: InMemoryFileIndex") == 1, plan
    assert "MapInPandas" not in plan, plan
    assert "BatchEvalPython" not in plan, plan


def test_tonality_gate_single_decode_crossing(spark):
    """audio_tonality_gate: one mapInPandas decode (payload dies in the
    worker) and the class cascade + aggregation stay JVM-side."""
    plan = plan_of(spark, "audio_tonality_gate")
    assert count(plan, "MapInPandas (") == 1, plan


# payload-bearing binary columns — source bytes plus every operator-produced
# payload (segments, augmented audio, tensors, thumbnails). None of them may
# ever enter an exchange: at 10^12 rows they are the ~50 KB/row traffic the
# whole pipeline design exists to keep out of the shuffle system.
PAYLOAD_COLS = frozenset(
    [
        "bytes", "seg_bytes", "aug_bytes", "norm_bytes", "feat_bytes",
        "thumb_png", "sgram_png", "resized_png", "rs_bytes", "sa_bytes",
        "trim_bytes",
    ]
)

CLIPS_QUERIES = [
    "clips_quality_filter",
    "clips_quality_filter_sql",
    "clips_metrics",
    "clips_curation_funnel",
    "clips_waveform_preview",
    "clips_spectrogram_preview",
    "clips_duration_histogram",
    "multimodal_media_meta",
    "multimodal_pixel_stats",
    "multimodal_jpeg_pixels",
    "multimodal_image_quality",
    "multimodal_image_resize",
    "multimodal_video_frames",
    "audio_fingerprint_neardup",
    "audio_segment_stats",
    "audio_normalize_stats",
    "audio_feature_stats",
    "audio_bandwidth_gate",
    "audio_syllable_rate_gate",
    "transcript_compression_gate",
    "clips_token_budget_report",
    "audio_health_gate",
    "audio_transcode_migration",
    "clips_leakage_free_split",
    "audio_decontaminate_eval",
    "audio_reverb_gate",
    "audio_hum_gate",
    "audio_ols_speech_model",
    "audio_mfcc_stats",
    "audio_pitch_stats",
    "audio_vad_stats",
    "audio_snr_profile",
    "audio_tonality_gate",
    "audio_trim_stats",
    "audio_speed_perturb_stats",
    "audio_speaking_rate_gate",
    "audio_noise_mix_stats",
    "audio_dropout_stats",
    "audio_resample_stats",
    "audio_specaugment_stats",
    "audio_loudness_gate",
    "audio_onset_stats",
    "audio_declip_report",
    "audio_gate_agreement",
    "clips_shard_packing",
    "corpus_shuffle_order",
    "audio_incremental_dedup",
    "crossmodal_dup_consistency",
    "clips_quality_curriculum",
    "audio_embedding_stats",
    "audio_semantic_neardup",
    "audio_cluster_balance",
]


def exchange_inputs(plan: str) -> list[tuple[str, str]]:
    """(node header, Input line) for every Exchange / BroadcastExchange
    detail block of a formatted plan."""
    out = []
    for block in plan.split("\n\n"):
        lines = block.strip().splitlines()
        if not lines:
            continue
        head = lines[0]
        if head.startswith("(") and "Exchange" in head:
            inp = next((l for l in lines if l.startswith("Input")), "")
            out.append((head, inp))
    return out


def payload_exchanges(plan: str) -> list[tuple[str, str]]:
    """The Exchange blocks of a formatted plan whose input lists a payload
    column."""
    import re

    return [
        (head, inp)
        for head, inp in exchange_inputs(plan)
        if set(re.findall(r"(\w+)#\d+", inp)) & PAYLOAD_COLS
    ]


@pytest.mark.parametrize("name", CLIPS_QUERIES)
def test_no_payload_column_crosses_an_exchange(spark, name):
    """THE byte-shuffle contract (plans/pipeline.py module docstring), now
    pinned at the plan level for every payload-consuming query: no Exchange
    of any kind (shuffle or broadcast) may list a payload column in its
    input. Round 2 violated this latently — kept-clips payloads were
    re-attached by a semi-join that only AQE's broadcast kept off the wire;
    the narrow ``kept_clips`` recompute removes the join entirely."""
    bad = payload_exchanges(plan_of(spark, name))
    assert not bad, f"{name}: payload in an exchange: {bad}"


def test_curate_survivor_attach_broadcasts_computed_stage_frame(
    spark, clips_df, tmp_path
):
    """plans/curate.py ``curate_corpus`` on a path read: the final-survivor
    attach is planned after the stage frame is cached AND computed, so the
    cached relation reports its real size, the slim id side is broadcast
    and no payload column (source bytes or tensors) enters an exchange.
    The same attach planned against the lazy stage frame puts the payload
    scan into a shuffle — the order is what keeps it out."""
    from wallaby2caom2_spark.plans import curate
    from wallaby2caom2_spark.sources.clips import read_clips

    src = str(tmp_path / "clips")
    clips_df.write.parquet(src)
    clips = read_clips(spark, src)
    caches: list = []
    staged = curate._staged(clips, caches).persist()
    caches.append(staged)
    try:
        lazy = formatted(curate._survivor_shards(clips, staged, 4))
        assert "SortMergeJoin LeftSemi" in lazy, lazy
        assert payload_exchanges(lazy), lazy
        curate._stage_counts(staged).collect()
        plan = formatted(curate._survivor_shards(clips, staged, 4))
        assert "BroadcastHashJoin LeftSemi" in plan, plan
        assert not payload_exchanges(plan), plan
    finally:
        for df in caches:
            df.unpersist()


def test_kept_clips_is_zero_exchange_single_scan(spark):
    """The kept-clips building block itself: scan → fused scalar UDF →
    codegen filter. ZERO exchanges, ONE parquet scan (the round-2 semi-join
    form planned two scans of the payload table)."""
    from wallaby2caom2_spark.plans.pipeline import kept_clips
    from wallaby2caom2_spark.queries.clips_flagship import load_clips

    plan = formatted(kept_clips(load_clips(spark, SF)))
    assert count(plan, "Exchange") == 0, plan
    assert count(plan, "Location: InMemoryFileIndex") == 1, plan


def test_sole_blame_subqueries_are_keyed_joins(spark):
    """suppliers_sole_blame: the EXISTS/NOT EXISTS pair must plan as
    hash semi/anti joins keyed on l_orderkey with the supplier inequality
    as a residual — never a nested-loop or cartesian fallback."""
    plan = plan_of(spark, "suppliers_sole_blame")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    low = plan.lower()
    assert "leftsemi" in low and "leftanti" in low, plan


def test_volume_shipping_broadcasts_dims(spark):
    plan = plan_of(spark, "volume_shipping")
    assert "CartesianProduct" not in plan, plan
    # both nation sides and the supplier dim ride broadcast hash joins;
    # only the fact-to-fact links may shuffle
    assert count(plan, "BroadcastHashJoin") >= 3, plan


def test_market_share_single_pass_conditional_agg(spark):
    plan = plan_of(spark, "market_share")
    assert "CartesianProduct" not in plan, plan
    # share = conditional sum over ONE join tree: 7 scans (nation twice —
    # customer side and supplier side), no second lineitem scan, one
    # partial+final aggregate pair (tree-form tokens, details not counted)
    assert count(plan, "Scan parquet (") <= 7, plan
    assert count(plan, "HashAggregate (") <= 2, plan


def test_customer_order_distribution_outer_join_prefiltered(spark):
    plan = plan_of(spark, "customer_order_distribution")
    assert "CartesianProduct" not in plan, plan
    # the priority exclusion reaches the orders SCAN (pre-join, where it
    # prunes) rather than filtering after the outer join
    assert "PushedFilters" in plan and "o_orderpriority" in plan, plan


def test_brand_promo_disjunction_pushes_brand_filter(spark):
    plan = plan_of(spark, "brand_promo_revenue")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    # the implied brand membership prunes the part scan before the join
    assert "In(p_brand" in plan, plan


# ---------------------------------------------------------------------------
# bounded-window contract (round-3 verdict item #4)
# ---------------------------------------------------------------------------

_BOUNDED_NODES = {"Aggregate", "GlobalLimit", "LocalLimit"}


def _subtree_is_bounded(node) -> bool:
    """True when every path from ``node`` to a leaf relation passes through
    a row-bounding operator (Aggregate or Limit) — i.e. the subtree's
    output is a bounded summary (K-row feature model, bucket totals, merge
    table), not a corpus-sized relation."""
    if node.nodeName() in _BOUNDED_NODES:
        return True
    n = node.children().size()
    if n == 0:
        return False  # leaf relation: corpus-sized
    return all(
        _subtree_is_bounded(node.children().apply(i)) for i in range(n)
    )


def _unbounded_global_windows(df) -> list[str]:
    """Violations of the bounded-window contract: Window nodes with an
    EMPTY partitionSpec (→ WindowExec collapses to one partition) whose
    input subtree reaches a leaf scan without passing a bounding
    operator. Such a window is a corpus-sized serial point — exactly the
    refactor this pin exists to catch."""
    found: list[str] = []

    def walk(node) -> None:
        if node.nodeName() == "Window" and node.partitionSpec().isEmpty():
            child = node.children().apply(0)
            if not _subtree_is_bounded(child):
                found.append(node.simpleString(100))
        for i in range(node.children().size()):
            walk(node.children().apply(i))

    walk(df._jdf.queryExecution().optimizedPlan())
    return found


@pytest.mark.parametrize(
    "name",
    [
        # each uses an unpartitioned window BY DESIGN, over a bounded
        # input (512-row DSIR feature model / K-row BPE merge list /
        # top-K priority sample / per-bucket shard totals); this pin
        # keeps a refactor from silently globalizing a corpus window
        "sample_importance_dsir",
        "bpe_train_merges",
        "sample_weighted_priority",
        "clips_shard_packing",
    ],
)
def test_global_windows_sit_above_bounded_inputs(spark, name):
    df = ALL_QUERIES[name](spark, SF)
    bad = _unbounded_global_windows(df)
    assert not bad, f"{name}: unpartitioned Window over unbounded input:\n" + "\n".join(bad)


def test_bounded_window_detector_catches_violation(spark):
    """Canary: the detector must actually flag an unpartitioned window fed
    straight from a scan — otherwise the parametrized pin above could rot
    into a vacuous pass."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    bad_df = docs.withColumn(
        "rk", F.row_number().over(W.orderBy("doc_id"))
    )
    assert _unbounded_global_windows(bad_df), "detector missed a global window over a scan"
    ok_df = (
        docs.groupBy("lang").agg(F.count("*").alias("n"))
        .withColumn("rk", F.row_number().over(W.orderBy("n")))
    )
    assert not _unbounded_global_windows(ok_df)


def test_semantic_neardup_pair_join_includes_position(spark):
    """Candidate pairs must join on (bucket AND position) — a bucket-only
    join regrows the quadratic inside a hot bucket (the sf0.1 finding:
    37k of 95k clips share one sign bucket). The plan must be a hash/SMJ
    equi-join whose keys include the position column, never a nested-loop
    fallback."""
    plan = plan_of(spark, "audio_semantic_neardup")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    # the join keys carry the shifted position (t_pos = l_pos + off)
    assert "t_pos" in plan, plan


# ---------------------------------------------------------------------------
# golden plan fingerprints for the most expensive NON-clips queries
# (round-4 verdict #6: the payload sweep pins the clips family; these pin
# the dedup/decontam/iterative analogs so a silent BroadcastNestedLoopJoin
# or an extra Exchange fails a test, not a sweep read)
# ---------------------------------------------------------------------------

_FP_NODES = [
    "Exchange", "BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin",
    "BroadcastNestedLoopJoin", "CartesianProduct", "MapInPandas",
    "MapInArrow", "Window", "Sort",
]


def plan_fingerprint(plan: str) -> dict:
    """Operator-tree shape: counts of the scale-deciding node types.
    Matches TREE lines only ("Name [modifiers] (id)"); the detail
    section's "(id) Name" repeats don't double-count."""
    import re

    fp = {}
    for n in _FP_NODES:
        c = len(re.findall(rf"\b{n}\b[^()\n]*\(\d+\)", plan))
        if c:
            fp[n] = c
    return fp


# Golden shapes at SF (sf0.001), captured from the tuned plans.  Notes:
# - the two BroadcastNestedLoopJoin entries are the DOCUMENTED bounded
#   cross joins (dedup_ngram_jaccard's hash-gated eval subset;
#   dedup_savings_report's 1-row totals broadcast) — anywhere else a BNLJ
#   appears, the golden diff fails the test;
# - dedup_connected_components / dedup_pagerank_hubs fingerprint small
#   because iterative rounds localCheckpoint their lineage (the O(1)-deep
#   plan IS the property being pinned).
_GOLDEN_FINGERPRINTS = {
    "audio_semantic_neardup": {
        "Exchange": 6, "SortMergeJoin": 1, "MapInPandas": 2, "Window": 2,
        "Sort": 5,
    },
    "classifier_train_logreg": {"Exchange": 1},
    "dedup_pagerank_hubs": {"Exchange": 1, "Sort": 1},
    "dedup_connected_components": {},
    "dedup_quality_keeper": {
        "Exchange": 3, "SortMergeJoin": 1, "Window": 1, "Sort": 3,
    },
    "dedup_savings_report": {
        "Exchange": 4, "BroadcastHashJoin": 1, "BroadcastNestedLoopJoin": 1,
        "Sort": 1,
    },
    "dedup_ngram_jaccard": {"BroadcastNestedLoopJoin": 1},
    "decontaminate_containment": {
        "Exchange": 4, "BroadcastHashJoin": 3, "Sort": 4,
    },
    "decontaminate_bloom": {"Exchange": 4, "BroadcastHashJoin": 1, "Sort": 1},
    "bpe_train_merges": {"Exchange": 3, "Window": 1},
    "crossmodal_dup_consistency": {
        "Exchange": 8, "SortMergeJoin": 3, "Sort": 7,
    },
    "audio_incremental_dedup": {
        "Exchange": 7, "SortMergeJoin": 2, "Sort": 6,
    },
    # multi-table neardup: 4 tables x (bucket window + pair SMJ) over ONE
    # persisted embed frame — the MapInPandas/Window/Sort counts are the
    # per-branch echoes of the cached lineage; the load-bearing pins are
    # SortMergeJoin == N_TABLES (each table's pair join stays an
    # equi-join on (bucket, pos)) and the absence of any BNLJ/Cartesian
    "audio_semantic_neardup_mt": {
        "Exchange": 19, "SortMergeJoin": 4, "MapInPandas": 8, "Window": 8,
        "Sort": 17,
    },
}


@pytest.mark.parametrize("name", sorted(_GOLDEN_FINGERPRINTS))
def test_golden_plan_fingerprint(spark, name):
    fp = plan_fingerprint(plan_of(spark, name))
    assert fp == _GOLDEN_FINGERPRINTS[name], (
        f"{name}: plan shape drifted — got {fp}, golden "
        f"{_GOLDEN_FINGERPRINTS[name]}. If the change is an intentional "
        "improvement, re-pin the golden; if not, the regression class is "
        "usually a dropped join key (equi-join -> BNLJ) or a new Exchange."
    )


def test_fingerprint_canary_catches_dropped_join_key(spark):
    """The round-4 regression class, reproduced: the same self-join with
    and without the position equi-key. The keyed plan fingerprints as a
    hash/merge join; dropping the key degrades to a nested-loop product
    and the fingerprint MUST see it."""
    import io
    from contextlib import redirect_stdout

    df = spark.range(100).selectExpr(
        "id % 7 AS bucket", "id AS pos", "id * 2 AS v"
    )
    l = df.selectExpr("bucket AS lb", "pos AS lp", "v AS lv")

    def fp_of(joined):
        buf = io.StringIO()
        with redirect_stdout(buf):
            joined.explain("formatted")
        return plan_fingerprint(buf.getvalue())

    keyed = fp_of(
        l.join(df, (l.lb == df.bucket) & (l.lp + 1 == df.pos))
    )
    dropped = fp_of(
        l.join(df, (l.lb <= df.bucket) & (l.lp + 1 <= df.pos))
    )
    assert (
        keyed.get("BroadcastNestedLoopJoin", 0)
        + keyed.get("CartesianProduct", 0)
        == 0
    ), keyed
    assert (
        dropped.get("BroadcastNestedLoopJoin", 0)
        + dropped.get("CartesianProduct", 0)
        > 0
    ), dropped
    assert keyed != dropped
