"""Seeded, single-process input generator for the four workloads.

Every corpus is built from ``wallaby2caom2_spark.datagen`` rows and
labelled once by ``wallaby2caom2_spark.oracle``; both land in a cache
directory keyed by (workload, seed, profile, size), so a second run with
the same seed reuses them byte for byte. The Spark program only ever sees
the parquet files written here.
"""

from __future__ import annotations

import json
import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from wallaby2caom2_spark import datagen, oracle

LABEL_SCHEMA = pa.schema(
    [
        ("clip_id", pa.string()),
        ("keep", pa.bool_()),
        ("drop_reason", pa.string()),
        ("scrubbed_transcript", pa.string()),
    ]
)


def _rng(seed: int, tag: str) -> np.random.Generator:
    return np.random.default_rng(
        np.random.SeedSequence([seed, *tag.encode()])
    )


def _write_clips(path: str, rows: list[dict], n_files: int) -> None:
    os.makedirs(path, exist_ok=True)
    per = -(-len(rows) // n_files)
    for part, lo in enumerate(range(0, len(rows), per)):
        table = pa.Table.from_pylist(rows[lo : lo + per], schema=datagen.SCHEMA)
        pq.write_table(table, os.path.join(path, f"part-{part:05d}.parquet"))


def _labels(rows: list[dict]) -> list[dict]:
    return [
        {k: lab[k] for k in LABEL_SCHEMA.names} for lab in oracle.label_rows(rows)
    ]


def _cached(cache_root: str, key: str, build) -> tuple[str, float]:
    """Run ``build(tmp_dir)`` once per key; publish atomically by rename.
    Returns (dir, seconds spent generating — 0.0 on a cache hit)."""
    final = os.path.join(cache_root, key)
    if os.path.isdir(final):
        return final, 0.0
    tmp = final + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    t0 = time.perf_counter()
    build(tmp)
    os.replace(tmp, final)
    return final, time.perf_counter() - t0


def corpus(
    cache_root: str, workload: str, seed: int, profile: str, n: int, n_files: int
) -> tuple[str, float]:
    """``<dir>/clips`` (parquet, ``n_files`` files) + ``<dir>/labels.parquet``
    (oracle keep / drop_reason / scrubbed_transcript per clip)."""

    def build(tmp: str) -> None:
        rows = list(datagen.generate_rows(n, seed=seed, profile=profile))
        _write_clips(os.path.join(tmp, "clips"), rows, n_files)
        pq.write_table(
            pa.Table.from_pylist(_labels(rows), schema=LABEL_SCHEMA),
            os.path.join(tmp, "labels.parquet"),
        )

    return _cached(cache_root, f"{workload}-{profile}-s{seed}-n{n}", build)


def ingest_stream(
    cache_root: str,
    seed: int,
    profile: str,
    bootstrap: int,
    batch: int,
    n_batches: int,
    redeliver: float,
    lookups_per_commit: int,
    keys_per_lookup: int,
    recent_batches: int,
    recent_share: float,
) -> tuple[str, float]:
    """Micro-batch schedule for the upsert workload.

    Batch 0 bootstraps the table with ``bootstrap`` new clips. Each later
    batch holds ``batch`` clips of which a ``redeliver`` share reuse a
    clip_id delivered earlier, carrying freshly generated content (a
    re-crawl), so latest-wins resolution has real work. After each commit
    the schedule names ``lookups_per_commit`` point lookups of
    ``keys_per_lookup`` distinct keys, each key drawn from the last
    ``recent_batches`` batches with probability ``recent_share`` and from
    every delivered key otherwise.

    Layout: ``batches/b<k>/`` parquet, ``labels.parquet`` (oracle label of
    each delivery, with its batch number), ``plan.json`` (lookup keys).
    """

    def build(tmp: str) -> None:
        rng = _rng(seed, "ingest")
        source = datagen.generate_rows(
            bootstrap + batch * n_batches, seed=seed, profile=profile
        )
        delivered: list[str] = []
        batch_ids: list[list[str]] = []
        labels: list[dict] = []
        lookups: list[list[list[str]]] = []
        for k in range(n_batches + 1):
            size = bootstrap if k == 0 else batch
            n_old = 0 if k == 0 else int(round(redeliver * size))
            old = (
                rng.choice(len(delivered), size=n_old, replace=False).tolist()
                if n_old
                else []
            )
            rows = []
            for j in range(size):
                row = next(source)
                if j < n_old:
                    row["clip_id"] = delivered[old[j]]
                rows.append(row)
            new_ids = [r["clip_id"] for r in rows[n_old:]]
            delivered.extend(new_ids)
            batch_ids.append([r["clip_id"] for r in rows])
            _write_clips(os.path.join(tmp, "batches", f"b{k:04d}"), rows, 1)
            labels.extend({**lab, "batch": k} for lab in _labels(rows))
            recent = sorted(
                {c for ids in batch_ids[-recent_batches:] for c in ids}
            )
            per_commit = []
            for _ in range(lookups_per_commit):
                keys: set[str] = set()
                while len(keys) < keys_per_lookup:
                    pool = recent if rng.random() < recent_share else delivered
                    keys.add(pool[int(rng.integers(len(pool)))])
                per_commit.append(sorted(keys))
            lookups.append(per_commit)
        pq.write_table(
            pa.Table.from_pylist(
                labels, schema=LABEL_SCHEMA.append(pa.field("batch", pa.int32()))
            ),
            os.path.join(tmp, "labels.parquet"),
        )
        with open(os.path.join(tmp, "plan.json"), "w") as fh:
            json.dump({"lookups": lookups}, fh)

    key = (
        f"ingest_upsert-{profile}-s{seed}-b{bootstrap}x{batch}x{n_batches}"
        f"-r{redeliver}-l{lookups_per_commit}x{keys_per_lookup}"
        f"-rc{recent_batches}x{recent_share}"
    )
    return _cached(cache_root, key, build)


def read_labels(path: str) -> list[dict]:
    return pq.read_table(path).to_pylist()
