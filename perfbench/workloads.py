"""The four workloads: input sizes, the timed operation, and the output
checks each one runs against the oracle labels.

Each workload is a closed loop with one client: the next operation starts
only when the previous one has returned and been checked. ``rep`` times
only the program's own calls; the check that follows reads the output
files with pyarrow, outside the timed region.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import time

import pyarrow.parquet as pq

import gen
from stats import f1_keep


class Checker:
    """Counts operations, failures and wrong rows for one run."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.wrong_rows = 0
        self.f1_min = 1.0
        self.notes: list[str] = []

    def op(self, fn, *args, **kwargs):
        """Run one operation; a raised error counts as a failed operation
        and returns None."""
        self.attempted += 1
        try:
            return fn(*args, **kwargs)
        except Exception as e:  # noqa: BLE001 - every failure is counted and reported
            self.failed += 1
            self.notes.append(f"{type(e).__name__}: {e}"[:300])
            return None

    def wrong(self, n: int, why: str) -> None:
        if n:
            self.wrong_rows += n
            self.notes.append(f"{n} wrong rows: {why}")

    def compare(self, got: list[dict], want: dict[str, dict], what: str) -> None:
        """Row-level diff of pipeline rows against oracle labels on keep,
        drop_reason and exact scrubbed_transcript; duplicates, missing and
        unexpected clip_ids are wrong rows too."""
        seen: set[str] = set()
        bad = 0
        truth, pred = [], []
        for r in got:
            cid = r["clip_id"]
            if cid in seen or cid not in want:
                bad += 1
                continue
            seen.add(cid)
            w = want[cid]
            truth.append(bool(w["keep"]))
            pred.append(bool(r["keep"]))
            if (
                bool(r["keep"]) != bool(w["keep"])
                or r["drop_reason"] != w["drop_reason"]
                or r["scrubbed_transcript"] != w["scrubbed_transcript"]
            ):
                bad += 1
        bad += len(set(want) - seen)
        self.wrong(bad, what)
        f1 = f1_keep(truth, pred)
        self.f1_min = min(self.f1_min, f1)
        if f1 < 0.99:
            self.notes.append(f"{what}: keep/drop F1 {f1:.4f} < 0.99")


def _read_rows(path: str, cols: list[str]) -> list[dict]:
    return pq.read_table(path, columns=cols).to_pylist()


def _parquet_files(path: str) -> list[str]:
    return sorted(glob.glob(os.path.join(path, "*.parquet")))


class BatchWorkload:
    """Shared shape of the three batch workloads: one corpus, one timed
    call per repetition into a fresh output directory."""

    name = ""
    profile = "text_heavy"
    n_clips = 0
    n_files = 8

    def __init__(self, cache_root: str, work: str, seed: int):
        self.cache_root, self.work, self.seed = cache_root, work, seed

    def prepare(self) -> float:
        self.dir, gen_s = gen.corpus(
            self.cache_root, self.name, self.seed, self.profile,
            self.n_clips, self.n_files,
        )
        self.clips = os.path.join(self.dir, "clips")
        self.labels = {
            r["clip_id"]: r
            for r in gen.read_labels(os.path.join(self.dir, "labels.parquet"))
        }
        self.input_rows = len(self.labels)
        return gen_s

    def input_files(self) -> list[str]:
        return _parquet_files(self.clips)

    def warm_input(self) -> str:
        """One input file, for warm-ups that need not cover the corpus."""
        return self.input_files()[0]

    def out_dir(self, tag: str) -> str:
        path = os.path.join(self.work, self.name, tag)
        shutil.rmtree(path, ignore_errors=True)
        return path

    def rep(self, spark, chk: Checker, i: int) -> dict:
        """Time one ``_run`` over the corpus into a fresh directory, then
        check its output (untimed)."""
        out = self.out_dir(f"rep{i}")
        t0 = time.perf_counter()
        result = chk.op(self._run, spark, self.clips, out)
        dt = time.perf_counter() - t0
        if result is None:
            return {"op_s": dt, "clips": 0}
        self.check(result, out, chk, f"{self.name} rep {i}")
        self.last_out = out
        return {"op_s": dt, "clips": len(self.labels)}

    def check_results(self, out: str, chk: Checker, what: str) -> None:
        rows = _read_rows(
            os.path.join(out, "results"),
            ["clip_id", "keep", "drop_reason", "scrubbed_transcript"],
        )
        chk.compare(rows, self.labels, what)


class BackfillText(BatchWorkload):
    """``run_resumable`` in one wave over a text-heavy corpus.

    One wave's fixed job and commit work is most of a run at any size a
    run can afford to generate: on a 4-core host 9000 clips took only
    about 0.4 s longer per run than 3000, and spread as widely."""

    name = "backfill_text"
    n_clips = 3000
    n_buckets = 16

    def _run(self, spark, in_path, out):
        from wallaby2caom2_spark.plans import runner

        return runner.run_resumable(
            spark, in_path, out, n_buckets=self.n_buckets, n_waves=1
        )

    def warmup(self, spark) -> None:
        # the whole corpus: after a one-file warm-up the first timed run
        # was still ~15% slower than the ones after it
        self._run(spark, self.clips, self.out_dir("warm"))

    def check(self, result, out: str, chk: Checker, what: str) -> None:
        self.check_results(out, chk, what)


class TimeboxWaves(BatchWorkload):
    """The shipped ``config/run.yml`` settings (64 buckets, 8 waves) on a
    smaller corpus; every repetition crashes after its first wave and
    resumes to completion."""

    name = "timebox_waves"
    n_clips = 500
    n_buckets = 64
    n_waves = 8
    crash_after_wave = 0

    def _run(self, spark, in_path, out) -> dict:
        from wallaby2caom2_spark.plans import runner

        try:
            runner.run_resumable(
                spark, in_path, out, n_buckets=self.n_buckets,
                n_waves=self.n_waves, fail_after_wave=self.crash_after_wave,
            )
        except runner.SimulatedCrash:
            pass
        else:
            raise RuntimeError("injected crash did not fire")
        return runner.run_resumable(
            spark, in_path, out, n_buckets=self.n_buckets, n_waves=self.n_waves
        )

    def warmup(self, spark) -> None:
        # one wave over one file runs every commit step of a wave once;
        # a full crash+resume cycle would cost as much as a timed one
        from wallaby2caom2_spark.plans import runner

        runner.run_resumable(
            spark, self.warm_input(), self.out_dir("warm"),
            n_buckets=self.n_buckets, n_waves=1,
        )

    def check(self, result, out: str, chk: Checker, what: str) -> None:
        """Rows against the oracle, and exactly-once: the lineage of both
        attempts sums to the corpus, one row per bucket."""
        self.check_results(out, chk, what)
        lineage = _read_rows(os.path.join(out, "lineage"), ["bucket", "clips"])
        total = sum(r["clips"] for r in lineage)
        buckets = sorted(int(r["bucket"]) for r in lineage)
        if total != len(self.labels) or buckets != list(range(self.n_buckets)):
            chk.wrong(
                abs(total - len(self.labels)) or 1,
                f"{what}: lineage sums to {total} clips over {len(buckets)} "
                f"bucket rows, corpus has {len(self.labels)}",
            )


class CurateAudio(BatchWorkload):
    """``curate_corpus`` over a default-profile (audio-heavy) corpus: the
    full DAG with the fingerprint dedup join and the shard export."""

    name = "curate_audio"
    profile = "default"
    n_clips = 600
    exported: set[str] | None = None  # id set of the first repetition

    def _run(self, spark, in_path, out):
        from wallaby2caom2_spark.plans import curate

        return curate.curate_corpus(spark, in_path, out, n_buckets=8)

    def warmup(self, spark) -> None:
        self._run(spark, self.warm_input(), self.out_dir("warm"))

    def check(self, manifest: dict, out: str, chk: Checker, what: str) -> None:
        """Every exported clip is oracle-kept with the oracle's scrubbed
        text, the manifest counts the shards, and the id set repeats."""
        rows = _read_rows(
            os.path.join(out, "shards"), ["clip_id", "scrubbed_transcript"]
        )
        ids = [r["clip_id"] for r in rows]
        bad = len(ids) - len(set(ids))
        for r in rows:
            want = self.labels.get(r["clip_id"])
            if (
                want is None
                or not want["keep"]
                or want["scrubbed_transcript"] != r["scrubbed_transcript"]
            ):
                bad += 1
        bad += abs(manifest["n_clips"] - len(rows))
        chk.wrong(bad, f"{what}: exported rows vs oracle")
        if self.exported is None:
            self.exported = set(ids)
        elif set(ids) != self.exported:
            chk.wrong(
                len(set(ids) ^ self.exported),
                f"{what}: exported id set differs from the first repetition",
            )


class IngestUpsert:
    """Merge-on-read micro-batch ingest with point lookups and periodic
    full scans on the same snapshot table."""

    name = "ingest_upsert"
    profile = "text_heavy"
    bootstrap = 300
    batch = 200
    n_batches = 5
    redeliver = 0.3
    lookups_per_commit = 4
    keys_per_lookup = 8
    recent_batches = 2
    recent_share = 0.75
    n_buckets = 16
    compact_min_deltas = 2

    def __init__(self, cache_root: str, work: str, seed: int):
        self.cache_root, self.work, self.seed = cache_root, work, seed

    def prepare(self) -> float:
        self.dir, gen_s = gen.ingest_stream(
            self.cache_root, self.seed, self.profile, self.bootstrap,
            self.batch, self.n_batches, self.redeliver,
            self.lookups_per_commit, self.keys_per_lookup,
            self.recent_batches, self.recent_share,
        )
        with open(os.path.join(self.dir, "plan.json")) as fh:
            self.lookups = json.load(fh)["lookups"]
        self.deliveries: dict[int, dict[str, dict]] = {}
        labels = gen.read_labels(os.path.join(self.dir, "labels.parquet"))
        for r in labels:
            self.deliveries.setdefault(r["batch"], {})[r["clip_id"]] = r
        self.input_rows = len(labels)
        self.table = os.path.join(self.work, self.name, "table")
        shutil.rmtree(os.path.dirname(self.table), ignore_errors=True)
        self.latest: dict[str, dict] = {}
        self.next_batch = 0
        self.samples: dict[str, list[float]] = {"commit": [], "lookup": [], "scan": []}
        return gen_s

    def batch_path(self, k: int) -> str:
        return os.path.join(self.dir, "batches", f"b{k:04d}")

    def input_files(self) -> list[str]:
        return sorted(glob.glob(os.path.join(self.dir, "batches", "b*", "*.parquet")))

    def warm_input(self) -> str:
        return _parquet_files(self.batch_path(1))[0]

    def _commit(self, spark, k: int) -> dict:
        from wallaby2caom2_spark.sources import snapshot_table
        from wallaby2caom2_spark.sources.clips import read_clips
        from wallaby2caom2_spark.streaming import upsert_stream

        stats = upsert_stream.upsert_batch(
            spark, read_clips(spark, self.batch_path(k)), self.table,
            n_buckets=self.n_buckets, write_mode="mor",
        )
        snapshot_table.compact(spark, self.table, min_deltas=self.compact_min_deltas)
        return stats

    def _lookup(self, spark, keys: list[str]) -> list[dict]:
        from wallaby2caom2_spark.sources import snapshot_table

        df = snapshot_table.read_table_by_keys(spark, self.table, keys)
        return [
            r.asDict()
            for r in df.select(
                "clip_id", "keep", "drop_reason", "scrubbed_transcript"
            ).collect()
        ]

    def _scan_kept(self, spark) -> int:
        from wallaby2caom2_spark.sources import snapshot_table

        return snapshot_table.read_table(spark, self.table).filter("keep").count()

    def _step(self, spark, chk: Checker, n_lookups: int) -> tuple[int, float]:
        """Commit the next batch, then run ``n_lookups`` of its scheduled
        lookups. Returns (clips committed, commit seconds)."""
        k = self.next_batch
        self.next_batch += 1
        t0 = time.perf_counter()
        stats = chk.op(self._commit, spark, k)
        dt = time.perf_counter() - t0
        if stats is None:
            return 0, dt
        self.latest.update(self.deliveries[k])
        for keys in self.lookups[k][:n_lookups]:
            t0 = time.perf_counter()
            rows = chk.op(self._lookup, spark, keys)
            lookup_s = time.perf_counter() - t0
            if rows is None:
                continue
            self.samples["lookup"].append(lookup_s)
            chk.compare(rows, {c: self.latest[c] for c in keys}, f"lookup after batch {k}")
        return len(self.deliveries[k]), dt

    def warmup(self, spark) -> None:
        chk = Checker()
        self._step(spark, chk, 0)  # bootstrap (create_table)
        self._step(spark, chk, 1)  # first merge-on-read commit + a lookup
        self.samples["lookup"].clear()
        if chk.failed or chk.wrong_rows:
            raise RuntimeError("; ".join(chk.notes))

    def exhausted(self) -> bool:
        return self.next_batch + self.compact_min_deltas > self.n_batches + 1

    def rep(self, spark, chk: Checker, i: int) -> dict:
        """One compaction cycle: ``compact_min_deltas`` commits (every
        batch touches every bucket, so chains grow in step and exactly one
        commit of the cycle compacts), each followed by its lookups, then
        one scan of the kept rows."""
        clips, commit_s = 0, 0.0
        for _ in range(self.compact_min_deltas):
            n, dt = self._step(spark, chk, self.lookups_per_commit)
            if n:
                self.samples["commit"].append(dt)
                clips += n
                commit_s += dt
        t0 = time.perf_counter()
        kept = chk.op(self._scan_kept, spark)
        dt = time.perf_counter() - t0
        if kept is not None:
            self.samples["scan"].append(dt)
            want = sum(1 for r in self.latest.values() if r["keep"])
            chk.wrong(abs(kept - want), f"kept-rows scan in cycle {i}")
        return {"op_s": commit_s, "clips": clips}

    def final_check(self, spark, chk: Checker) -> None:
        from wallaby2caom2_spark.sources import snapshot_table

        rows = chk.op(
            lambda: [
                r.asDict()
                for r in snapshot_table.read_table(spark, self.table)
                .select("clip_id", "keep", "drop_reason", "scrubbed_transcript")
                .collect()
            ]
        )
        if rows is not None:
            chk.compare(rows, self.latest, "final table vs last delivery per key")


WORKLOADS = {
    "backfill_text": BackfillText,
    "timebox_waves": TimeboxWaves,
    "curate_audio": CurateAudio,
    "ingest_upsert": IngestUpsert,
}
