"""Per-layer metrics of the traced run.

Called after the timed loop with the session still up: it forces the
stand-alone measurements the table needs (the filter alone, the curation
funnel, the ``local[1]`` baseline), replays the worker-side functions,
stops Spark so the event log is complete, and derives every per-layer
metric from spans, event-log counters and output files. A layer that the
workload does not exercise reports 0 with an n/a reason.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import time

import tracing
from stats import timing_summary


RUNNER_KEYS = (
    "plans.runner.wave_s_p50", "plans.runner.wave_s_tail",
    "plans.runner.spark_jobs_per_wave", "plans.runner.outside_pipeline_share",
    "sources.clips.write_s", "sources.clips.files_written",
    "sources.lineage.append_s", "sources.checkpoint.mark_done_s",
    "sources.checkpoint.resume_redo_clips",
)
# workloads with a fixed corpus, where the local[1] baseline is forced
SCALING_WORKLOADS = ("backfill_text", "curate_audio")


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def _corpus_path(wl) -> str:
    if wl.name == "ingest_upsert":
        return os.path.join(wl.dir, "batches", "b*")
    return wl.clips


def _forced_filter(spark, path: str) -> tuple[float, dict]:
    """``quality_filter`` forced alone: (seconds, rows per outcome)."""
    from pyspark.sql import functions as F

    from wallaby2caom2_spark.plans.pipeline import quality_filter
    from wallaby2caom2_spark.sources.clips import read_clips

    t0 = time.perf_counter()
    rows = (
        quality_filter(read_clips(spark, path))
        .groupBy(F.coalesce("drop_reason", F.lit("kept")).alias("o"))
        .count()
        .collect()
    )
    return time.perf_counter() - t0, {r["o"]: int(r["count"]) for r in rows}


def _manifests(table: str) -> list[dict]:
    from wallaby2caom2_spark.sources import snapshot_table

    out = []
    for v in snapshot_table._list_versions(table):
        with open(snapshot_table._manifest_path(table, v)) as fh:
            out.append(json.load(fh))
    return out


def per_layer(spark, wl, tr, reps, window, sess, stop_spark, work, nproc,
              clips_per_s):
    """→ (metric name → value, metric name → n/a reason, the ``local[1]``
    baseline behind ``scaling_eff_1to4``)."""
    from wallaby2caom2_spark.config import DEFAULT_CONFIG, RULE_ORDER

    na: dict[str, str] = {}
    m: dict[str, float] = {}
    lo, hi = window
    loop_clips = sum(r["clips"] for r in reps) or 1

    # --- stand-alone measurements while the session is up -------------
    # The runner layers are measured on every workload: one that does not
    # call the runner gets one traced one-wave run over its own input.
    runner_window, runner_out = window, getattr(wl, "last_out", None)
    runner_clips, runner_calls = loop_clips, len(reps)
    if not tr.named("plans.runner.run_resumable", window):
        from wallaby2caom2_spark.plans import runner

        runner_out = os.path.join(work, "run", wl.name, "runner-probe")
        shutil.rmtree(runner_out, ignore_errors=True)
        t0 = time.time()
        runner.run_resumable(spark, _corpus_path(wl), runner_out, n_buckets=16, n_waves=1)
        runner_window = (t0, time.time())
        runner_clips, runner_calls = wl.input_rows, 1
        for k in RUNNER_KEYS:
            na[k] = "one-wave run_resumable over this workload's input, after the timed loop"
    _forced_filter(spark, wl.warm_input())  # warm the forced plan shape
    filter_s, outcomes = _forced_filter(spark, _corpus_path(wl))
    funnel_s = 0.0
    if wl.name == "curate_audio":
        from wallaby2caom2_spark.plans.curate import curation_funnel
        from wallaby2caom2_spark.sources.clips import read_clips

        t0 = time.perf_counter()
        curation_funnel(read_clips(spark, wl.clips)).collect()
        funnel_s = time.perf_counter() - t0
    scaling, baseline = 0.0, {}
    if wl.name in SCALING_WORKLOADS:
        from wallaby2caom2_spark import session

        stop_spark(spark)
        spark = session.get_spark(cpus=1)
        spark.sparkContext.setLogLevel("ERROR")
        _forced_filter(spark, wl.warm_input())
        t1, _ = _forced_filter(spark, wl.clips)
        scaling = filter_s and (t1 / filter_s) / nproc
        baseline = {"filter_s_local1": t1, f"filter_s_local{nproc}": filter_s}
    stop_spark(spark)
    replay = tracing.replay_workers(
        wl.input_files(), DEFAULT_CONFIG.arrow_max_records_per_batch
    )

    log = tracing.read_event_log(os.path.join(work, "eventlog"))
    ctr = tracing.engine_counters(log, window)

    # --- session ---------------------------------------------------------
    m["session.start_s"] = sess["start_s"]
    m["session.first_job_s"] = sess["first_job_s"]
    m["session.gc_share"] = ctr["gc_share"]
    m["session.spill_bytes"] = ctr["spill_bytes"]
    m["session.task_retries"] = ctr["task_retries"]

    # --- worker-side functions (replay) ----------------------------------
    m["operators.fused_stage.us_per_clip"] = replay["fused_us_per_clip"]
    # every JVM↔Python crossing of the timed loop, per clip it processed
    m["operators.fused_stage.python_bytes_in_per_clip"] = ctr["python_bytes_in"] / loop_clips
    m["operators.fused_stage.python_bytes_out_per_clip"] = ctr["python_bytes_out"] / loop_clips
    m["operators.fused_stage.arrow_batches"] = replay["arrow_batches"]
    m["functions.audio.decode_us_per_clip"] = replay["decode_us_per_clip"]
    m["functions.audio.decode_fail_ratio"] = replay["decode_fail_ratio"]
    m["functions.textscore.us_per_row"] = replay["textscore_us_per_row"]
    m["functions.scrub.us_per_row"] = replay["scrub_us_per_row"]
    m["functions.scrub.edits"] = replay["scrub_edits"]

    # --- cascade / pipeline / partitioning --------------------------------
    m["operators.cascade.kept"] = outcomes.get("kept", 0)
    for rule in RULE_ORDER:
        m[f"operators.cascade.dropped.{rule}"] = outcomes.get(rule, 0)
    plan = tr.durations("plans.pipeline.quality_filter", window)
    m["plans.pipeline.plan_s"] = _median(plan)
    if not plan:
        na["plans.pipeline.plan_s"] = "workload does not call quality_filter"
    m["plans.pipeline.filter_s"] = filter_s
    m["plans.pipeline.scaling_eff_1to4"] = scaling
    if wl.name not in SCALING_WORKLOADS:
        na["plans.pipeline.scaling_eff_1to4"] = "measured on backfill_text and curate_audio"
    m["operators.partitioning.shuffle_write_bytes_per_clip"] = ctr["shuffle_write_bytes"] / loop_clips
    m["operators.partitioning.task_skew"] = ctr["task_skew"]
    if not ctr["task_skew"]:
        na["operators.partitioning.task_skew"] = "no post-exchange stage with 2+ tasks"

    # --- runner and its sinks --------------------------------------------
    rlo, rhi = runner_window
    waves = [w for w in tracing.wave_spans(tr) if rlo <= w["start"] and w["end"] <= rhi]
    runs = tr.named("plans.runner.run_resumable", runner_window)
    ws = timing_summary([w["end"] - w["start"] for w in waves])
    m["plans.runner.wave_s_p50"] = ws["p50"]
    m["plans.runner.wave_s_tail"] = ws["tail"] or 0.0
    if ws["tail"] is None:
        na["plans.runner.wave_s_tail"] = "; ".join(
            x for x in (na.get("plans.runner.wave_s_tail"), f"{ws['n']} waves < 20") if x)
    m["plans.runner.spark_jobs_per_wave"] = tracing.jobs_in(
        log, [(w["start"], w["end"]) for w in waves]) / len(waves)
    run_s = sum(s["end"] - s["start"] for s in runs)
    m["plans.runner.outside_pipeline_share"] = 1.0 - sum(w["pipeline_s"] for w in waves) / run_s
    m["sources.clips.write_s"] = _median(tr.durations("sources.clips.write_results", runner_window))
    _b, files = tracing.dir_bytes(os.path.join(runner_out, "results"), ".parquet")
    m["sources.clips.files_written"] = files
    appends = tr.durations("sources.lineage.append_lineage", runner_window) + tr.durations(
        "sources.lineage.append_metrics", runner_window)
    m["sources.lineage.append_s"] = sum(appends) / len(waves)
    m["sources.checkpoint.mark_done_s"] = _median(
        tr.durations("sources.checkpoint.mark_done", runner_window))
    processed = [s["clips"] for s in tr.named("sources.lineage.append_lineage", runner_window)]
    m["sources.checkpoint.resume_redo_clips"] = (sum(processed) - runner_clips) / runner_calls
    in_bytes = sum(os.path.getsize(f) for f in wl.input_files())
    m["sources.clips.input_bytes_per_clip"] = in_bytes / wl.input_rows

    # --- snapshot table / upsert stream -----------------------------------
    table_keys = ("sources.snapshot_table.merge_s_p50", "sources.snapshot_table.compact_s",
                  "sources.snapshot_table.compactions", "sources.snapshot_table.read_manifest_s",
                  "sources.snapshot_table.pending_deltas_max",
                  "sources.snapshot_table.buckets_per_lookup",
                  "sources.snapshot_table.bytes_written_per_clip",
                  "sources.snapshot_table.space_amp", "streaming.upsert_stream.overhead_s")
    if wl.name == "ingest_upsert":
        merges = tr.durations("sources.snapshot_table.merge", window)
        m["sources.snapshot_table.merge_s_p50"] = _median(merges)
        reads = tr.named("sources.snapshot_table.read_buckets", window)
        parents = {s["id"]: s for s in tr.spans}
        compacts = [
            s for s in tr.named("sources.snapshot_table.compact", window)
            if any(r["parent"] == s["id"] for r in reads)
        ]
        m["sources.snapshot_table.compact_s"] = _median([s["end"] - s["start"] for s in compacts])
        m["sources.snapshot_table.compactions"] = len(compacts)
        if not compacts:
            na["sources.snapshot_table.compact_s"] = "no chain reached the compaction threshold"
        m["sources.snapshot_table.read_manifest_s"] = _median(
            tr.durations("sources.snapshot_table.read_manifest", window))
        manifests = _manifests(wl.table)
        m["sources.snapshot_table.pending_deltas_max"] = max(
            (len(lst) for mf in manifests for lst in mf.get("deltas", {}).values()), default=0)
        lookups = [r["buckets"] for r in reads if r["parent"] is not None
                   and parents[r["parent"]]["name"] == "sources.snapshot_table.read_table_by_keys"]
        m["sources.snapshot_table.buckets_per_lookup"] = (
            sum(lookups) / len(lookups) if lookups else 0.0)
        total, _n = tracing.dir_bytes(wl.table)
        committed = sum(len(wl.deliveries[k]) for k in range(wl.next_batch))
        m["sources.snapshot_table.bytes_written_per_clip"] = total / committed
        cur = manifests[-1]
        live = list(cur["buckets"].values()) + [
            rel for lst in cur.get("deltas", {}).values() for _v, rel in lst]
        live_bytes = sum(tracing.dir_bytes(os.path.join(wl.table, rel))[0] for rel in live)
        m["sources.snapshot_table.space_amp"] = total / live_bytes if live_bytes else 0.0
        m["streaming.upsert_stream.overhead_s"] = _median(
            tr.durations("streaming.upsert_stream.upsert_batch", window)) - _median(merges)
    else:
        for k in table_keys:
            m[k] = 0.0
            na[k] = "snapshot table not used"

    # --- curation ---------------------------------------------------------
    if wl.name == "curate_audio":
        m["plans.curate.funnel_s"] = funnel_s
        m["plans.curate.export_s"] = _median([r["op_s"] for r in reps]) - funnel_s
        _b, files = tracing.dir_bytes(os.path.join(wl.last_out, "shards"), ".parquet")
        m["plans.export.shard_files"] = files
    else:
        for k in ("plans.curate.funnel_s", "plans.curate.export_s", "plans.export.shard_files"):
            m[k] = 0.0
            na[k] = "curation not run"

    m["trace.clips_per_s"] = clips_per_s
    return m, na, baseline
