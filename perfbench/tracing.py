"""Driver-side spans, Spark event-log counters and single-process replays
for the traced run.

Everything here observes the program from outside: spans come from
wrapping public functions in the benchmark process (the wrappers are
removed again on ``Tracer.close``), engine counters come from the Spark
event log that the traced run switches on through its own config dir, and
worker-side costs come from replaying the Python functions the workers run
on the workload's own Arrow batches. No file of the package changes.
"""

from __future__ import annotations

import json
import os
import statistics
import time
import uuid
from contextlib import contextmanager

import numpy as np
import pyarrow.parquet as pq

from stats import covered, self_times


class Tracer:
    """In-memory span recorder; ``enabled=False`` makes every call a no-op
    so the untraced run carries no span code on its measured path."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        rec = self.add(name, time.time(), None, parent, **attrs)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def add(self, name: str, start: float, end: float | None, parent: int | None, **attrs):
        """Record a span; called directly for a span reconstructed after
        the fact (one runner wave, whose bounds come from its children)."""
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": parent,
            "run_id": self.run_id,
            "start": start,
            "end": end,
            **attrs,
        }
        self.spans.append(rec)
        return rec

    def wrap(self, owner: object, attr: str, name: str, record_args=None) -> None:
        """Replace ``owner.attr`` by a spanning wrapper. ``record_args``
        maps the call's (args, kwargs) to extra span attributes."""
        if not self.enabled:
            return
        orig = getattr(owner, attr)

        def wrapper(*args, **kwargs):
            extra = record_args(args, kwargs) if record_args else {}
            with self.span(name, **extra):
                return orig(*args, **kwargs)

        # restore the raw attribute (a class's staticmethod stays one)
        self._patches.append((owner, attr, vars(owner)[attr]))
        setattr(owner, attr, wrapper)

    def close(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    def named(self, name: str, within: tuple[float, float] | None = None) -> list[dict]:
        out = [s for s in self.spans if s["name"] == name and s["end"] is not None]
        if within is not None:
            lo, hi = within
            out = [s for s in out if s["start"] >= lo and s["end"] <= hi]
        return out

    def durations(self, name: str, within=None) -> list[float]:
        return [s["end"] - s["start"] for s in self.named(name, within)]

    def write(self, path: str) -> None:
        selfs = self_times(self.spans)
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps({**s, "self_s": selfs[s["id"]]}) + "\n")

    def self_time_table(self) -> dict[str, dict]:
        """name → {count, total_s, self_s}, summed over all spans."""
        selfs = self_times(self.spans)
        table: dict[str, dict] = {}
        for s in self.spans:
            row = table.setdefault(s["name"], {"count": 0, "total_s": 0.0, "self_s": 0.0})
            row["count"] += 1
            row["total_s"] += s["end"] - s["start"]
            row["self_s"] += selfs[s["id"]]
        return table


def _bucket_read(manifest: dict, buckets) -> dict:
    chosen = range(manifest["n_buckets"]) if buckets is None else buckets
    deltas = manifest.get("deltas", {})
    return {
        "buckets": len(chosen),
        "delta_files": sum(len(deltas.get(str(b), [])) for b in chosen),
    }


def patch_layers(tr: Tracer) -> None:
    """Wrap the public functions of each traced layer. Modules that import
    a function by name get their own binding wrapped, so the span fires
    whichever way the call is made."""
    from wallaby2caom2_spark.plans import curate, export, pipeline, runner
    from wallaby2caom2_spark.sources import checkpoint, clips, lineage, snapshot_table
    from wallaby2caom2_spark.streaming import upsert_stream

    for owner in (pipeline, runner, upsert_stream):
        tr.wrap(owner, "quality_filter", "plans.pipeline.quality_filter")
    tr.wrap(runner, "run_resumable", "plans.runner.run_resumable")
    tr.wrap(runner, "run_metrics", "plans.pipeline.run_metrics")
    tr.wrap(clips, "write_results", "sources.clips.write_results")
    tr.wrap(
        lineage,
        "append_lineage",
        "sources.lineage.append_lineage",
        lambda a, k: {"clips": int(sum(n for _b, n in a[4]))},
    )
    tr.wrap(lineage, "append_metrics", "sources.lineage.append_metrics")
    tr.wrap(checkpoint.BucketCheckpoint, "mark_done", "sources.checkpoint.mark_done")
    tr.wrap(upsert_stream, "upsert_batch", "streaming.upsert_stream.upsert_batch")
    for fn in ("merge", "compact", "read_table", "read_table_by_keys",
               "read_manifest", "create_table"):
        tr.wrap(snapshot_table, fn, f"sources.snapshot_table.{fn}")
    # the bucket list a read resolves — how many buckets a lookup touches
    tr.wrap(
        snapshot_table,
        "_read_buckets",
        "sources.snapshot_table.read_buckets",
        lambda a, k: _bucket_read(a[2], a[3] if len(a) > 3 else k.get("buckets")),
    )
    tr.wrap(curate, "curate_corpus", "plans.curate.curate_corpus")
    tr.wrap(curate, "feature_frames", "operators.features.feature_frames")
    tr.wrap(export, "write_manifest_atomic", "plans.export.write_manifest_atomic")


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------

EVENTLOG_CONF = (
    "spark.eventLog.enabled true\n"
    "spark.eventLog.compress false\n"
    "spark.eventLog.dir {dir}\n"
)


def write_trace_conf(conf_dir: str, log_dir: str) -> None:
    """A Spark config dir that only switches the event log on; the
    session's own settings still come from ``session.get_spark``."""
    os.makedirs(conf_dir, exist_ok=True)
    os.makedirs(log_dir, exist_ok=True)
    with open(os.path.join(conf_dir, "spark-defaults.conf"), "w") as fh:
        fh.write(EVENTLOG_CONF.format(dir="file://" + log_dir))


def _acc(entries: list, name: str) -> int:
    return sum(int(e.get("Update", e.get("Value", 0)) or 0)
               for e in entries if e.get("Name") == name)


def read_event_log(log_dir: str) -> dict:
    """Parse every event log under ``log_dir`` into tasks and jobs."""
    tasks, jobs = [], {}
    # Spark writes one file per application, or a directory of rolled
    # files (eventlog_v2_*) when rolling is on
    paths = [
        os.path.join(root, n)
        for root, _dirs, names in os.walk(log_dir)
        for n in names
        if not n.startswith((".", "appstatus"))
    ]
    for path in paths:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerTaskEnd":
                    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    accs = info.get("Accumulables") or []
                    tasks.append(
                        {
                            "stage": ev["Stage ID"],
                            "launch": info["Launch Time"] / 1000.0,
                            "finish": info["Finish Time"] / 1000.0,
                            "failed": bool(info.get("Failed")) or bool(info.get("Killed")),
                            "attempt": int(info.get("Attempt", 0)),
                            "run_ms": int(m.get("Executor Run Time", 0)),
                            "gc_ms": int(m.get("JVM GC Time", 0)),
                            "spill": int(m.get("Memory Bytes Spilled", 0))
                            + int(m.get("Disk Bytes Spilled", 0)),
                            "shuffle_write": int(sw.get("Shuffle Bytes Written", 0)),
                            "shuffle_read": int(sr.get("Remote Bytes Read", 0))
                            + int(sr.get("Local Bytes Read", 0)),
                            "input": int((m.get("Input Metrics") or {}).get("Bytes Read", 0)),
                            "py_in": _acc(accs, "data sent to Python workers"),
                            "py_out": _acc(accs, "data returned from Python workers"),
                        }
                    )
                elif kind == "SparkListenerJobStart":
                    jobs[ev["Job ID"]] = {"submit": ev["Submission Time"] / 1000.0}
    return {"tasks": tasks, "jobs": list(jobs.values())}


def engine_counters(log: dict, window: tuple[float, float]) -> dict:
    """Counters over the tasks launched inside ``window``."""
    lo, hi = window
    ts = [t for t in log["tasks"] if lo <= t["launch"] <= hi]
    run = sum(t["run_ms"] for t in ts)
    by_stage: dict[int, list[dict]] = {}
    for t in ts:
        by_stage.setdefault(t["stage"], []).append(t)
    skews = []
    for group in by_stage.values():
        if len(group) >= 2 and any(t["shuffle_read"] for t in group):
            times = [t["run_ms"] for t in group if not t["failed"]]
            med = statistics.median(times) if times else 0
            if med > 0:
                skews.append(max(times) / med)
    return {
        "tasks": len(ts),
        "gc_share": sum(t["gc_ms"] for t in ts) / run if run else 0.0,
        "spill_bytes": sum(t["spill"] for t in ts),
        "task_retries": sum(1 for t in ts if t["failed"] or t["attempt"] > 0),
        "shuffle_write_bytes": sum(t["shuffle_write"] for t in ts),
        "input_bytes": sum(t["input"] for t in ts),
        "python_bytes_in": sum(t["py_in"] for t in ts),
        "python_bytes_out": sum(t["py_out"] for t in ts),
        "task_skew": statistics.median(skews) if skews else 0.0,
    }


def jobs_in(log: dict, intervals: list[tuple[float, float]]) -> int:
    return sum(
        1 for j in log["jobs"] if any(a <= j["submit"] <= b for a, b in intervals)
    )


# ---------------------------------------------------------------------------
# worker-side replay
# ---------------------------------------------------------------------------

def replay_workers(files: list[str], batch_rows: int) -> dict:
    """Replay the Python functions the fused stage runs per Arrow batch,
    single-process, on the workload's own input ``files`` cut into
    ``batch_rows``-row batches (the session's Arrow batch size)."""
    from wallaby2caom2_spark.functions import audio, scrub, textscore
    from wallaby2caom2_spark.operators.fused_stage import (
        _binary_views,
        fused_features_arrow,
    )

    batches = []
    for path in files:
        batches.extend(pq.read_table(path).to_batches(max_chunksize=batch_rows))
    rows = sum(b.num_rows for b in batches)

    t0 = time.perf_counter()
    for _out in fused_features_arrow(iter(batches)):
        pass
    fused_s = time.perf_counter() - t0

    decode_s, fails = 0.0, 0
    text_s = scrub_s = 0.0
    edits = 0
    for b in batches:
        codecs = b.column("codec").to_pylist()
        srs = b.column("sr_hz").fill_null(0).to_numpy(zero_copy_only=False)
        views = _binary_views(b.column("bytes"))
        t = time.perf_counter()
        for i, v in enumerate(views):
            fails += not audio.decode_features(v, codecs[i], int(srs[i]))[0]
        decode_s += time.perf_counter() - t
        texts = b.column("transcript").to_pylist()
        t = time.perf_counter()
        textscore.score_batch(texts)
        text_s += time.perf_counter() - t
        t = time.perf_counter()
        _out, n = scrub.scrub_batch(texts)
        scrub_s += time.perf_counter() - t
        edits += int(np.sum(n))
    return {
        "rows": rows,
        "arrow_batches": len(batches),
        "fused_us_per_clip": fused_s / rows * 1e6,
        "decode_us_per_clip": decode_s / rows * 1e6,
        "decode_fail_ratio": fails / rows,
        "textscore_us_per_row": text_s / rows * 1e6,
        "scrub_us_per_row": scrub_s / rows * 1e6,
        "scrub_edits": edits,
    }


def dir_bytes(path: str, suffix: str = "") -> tuple[int, int]:
    """(total bytes, file count) of regular files under ``path``."""
    total = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.endswith(suffix):
                total += os.path.getsize(os.path.join(root, n))
                files += 1
    return total, files


def wave_spans(tr: Tracer) -> list[dict]:
    """Reconstruct one span per runner wave: a wave ends when its
    ``mark_done`` returns and starts where the previous one ended (or,
    for the first wave of a ``run_resumable`` call, where its first
    results write starts)."""
    waves = []
    for call in tr.named("plans.runner.run_resumable"):
        lo, hi = call["start"], call["end"]
        kids = [s for s in tr.spans if s["end"] is not None and lo <= s["start"] and s["end"] <= hi]
        marks = sorted((s for s in kids if s["name"] == "sources.checkpoint.mark_done"),
                       key=lambda s: s["end"])
        writes = sorted((s for s in kids if s["name"] == "sources.clips.write_results"),
                        key=lambda s: s["start"])
        prev = writes[0]["start"] if writes else lo
        for m in marks:
            w = tr.add("plans.runner.wave", prev, m["end"], call["id"])
            inside = [s for s in kids if s["parent"] == call["id"]
                      and s["id"] != w["id"] and prev <= s["start"] and s["end"] <= m["end"]]
            for s in inside:
                s["parent"] = w["id"]
            w["pipeline_s"] = covered(
                [(s["start"], s["end"]) for s in inside
                 if s["name"] == "sources.clips.write_results"],
                prev, m["end"],
            )
            waves.append(w)
            prev = m["end"]
    return waves
