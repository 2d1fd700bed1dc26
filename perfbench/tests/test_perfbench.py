"""The benchmark's own tests: percentile rule, span arithmetic, seeded
corpora and the correctness gate. Run from the repository root:

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import filecmp
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, os.path.dirname(os.path.dirname(HERE)))

import gen  # noqa: E402
import run  # noqa: E402
from stats import covered, self_times, tail_percentile, timing_summary  # noqa: E402
from tracing import Tracer  # noqa: E402
from workloads import Checker  # noqa: E402


def test_tail_is_highest_percentile_with_ten_samples_beyond():
    assert tail_percentile(19) is None
    assert tail_percentile(20) == 50.0
    assert tail_percentile(39) == 50.0
    assert tail_percentile(40) == 75.0
    assert tail_percentile(100) == 90.0
    assert tail_percentile(199) == 90.0
    assert tail_percentile(200) == 95.0
    assert tail_percentile(1000) == 99.0
    assert tail_percentile(10_000) == 99.9
    s = timing_summary([float(i) for i in range(100)])
    assert (s["tail_pct"], s["n"]) == (90.0, 100)
    assert sum(1 for i in range(100) if i > s["tail"]) >= 10
    assert timing_summary([1.0, 2.0, 3.0])["tail"] is None


def test_self_time_subtracts_the_union_of_children():
    spans = [
        {"id": 0, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "parent": 0, "start": 3.0, "end": 5.0},  # overlaps span 1
        {"id": 3, "parent": 2, "start": 3.5, "end": 4.5},  # grandchild
        {"id": 4, "parent": 0, "start": 9.0, "end": 12.0},  # spills past parent
    ]
    st = self_times(spans)
    assert st[0] == 10.0 - (4.0 + 1.0)  # [1,5] and [9,10] covered
    assert st[1] == 3.0
    assert st[2] == 2.0 - 1.0
    assert st[3] == 1.0
    assert st[4] == 3.0
    assert covered([], 0.0, 1.0) == 0.0


def test_tracer_records_nesting_and_unwraps():
    class Box:
        @staticmethod
        def work(x):
            return x + 1

    tr = Tracer(True)
    tr.wrap(Box, "work", "box.work")
    with tr.span("outer"):
        assert Box.work(1) == 2
    tr.close()
    assert Box.work(1) == 2 and len(tr.spans) == 2
    outer, inner = tr.spans
    assert inner["parent"] == outer["id"] and inner["run_id"] == outer["run_id"]
    off = Tracer(False)
    off.wrap(Box, "work", "box.work")
    with off.span("outer"):
        Box.work(1)
    assert off.spans == [] and isinstance(vars(Box)["work"], staticmethod)


def test_same_seed_gives_byte_identical_corpus(tmp_path):
    a, _ = gen.corpus(str(tmp_path / "a"), "w", 5, "text_heavy", 40, 2)
    b, _ = gen.corpus(str(tmp_path / "b"), "w", 5, "text_heavy", 40, 2)
    c, _ = gen.corpus(str(tmp_path / "c"), "w", 6, "text_heavy", 40, 2)
    names = sorted(os.listdir(os.path.join(a, "clips")))
    assert len(names) == 2
    _match, mismatch, errors = filecmp.cmpfiles(
        a, b, [os.path.join("clips", n) for n in names] + ["labels.parquet"],
        shallow=False,
    )
    assert not mismatch and not errors
    assert not filecmp.cmp(
        os.path.join(a, "labels.parquet"), os.path.join(c, "labels.parquet"),
        shallow=False,
    )
    # a second call with the same key is a cache hit
    assert gen.corpus(str(tmp_path / "a"), "w", 5, "text_heavy", 40, 2)[1] == 0.0


def test_ingest_schedule_redelivers_and_favours_recent_keys(tmp_path):
    d, _ = gen.ingest_stream(str(tmp_path), 3, "text_heavy", 20, 10, 3, 0.3,
                             2, 4, 1, 1.0)
    labels = gen.read_labels(os.path.join(d, "labels.parquet"))
    by_batch: dict[int, list[str]] = {}
    for r in labels:
        by_batch.setdefault(r["batch"], []).append(r["clip_id"])
    assert [len(by_batch[k]) for k in range(4)] == [20, 10, 10, 10]
    for k in range(1, 4):
        earlier = {c for j in range(k) for c in by_batch[j]}
        assert len(set(by_batch[k]) & earlier) == 3
    with open(os.path.join(d, "plan.json")) as fh:
        lookups = json.load(fh)["lookups"]
    for k, per_commit in enumerate(lookups):
        for keys in per_commit:  # recent_share=1.0: only the last batch
            assert len(set(keys)) == 4 and set(keys) <= set(by_batch[k])


def _label(cid, keep, reason=None, text=None):
    return {"clip_id": cid, "keep": keep, "drop_reason": reason,
            "scrubbed_transcript": text}


def test_gate_catches_a_planted_wrong_row():
    want = {f"c{i}": _label(f"c{i}", i % 3 != 0, None if i % 3 else "too_short",
                            f"t{i}" if i % 3 else None) for i in range(300)}
    good = [dict(r) for r in want.values()]
    chk = Checker()
    chk.compare(good, want, "clean")
    assert chk.wrong_rows == 0 and chk.f1_min == 1.0

    planted = [dict(r) for r in want.values()]
    planted[1]["scrubbed_transcript"] = "t1 [EMAIL]"  # text drift on a kept row
    chk = Checker()
    chk.compare(planted, want, "planted")
    assert chk.wrong_rows == 1

    dup_and_missing = good[:-1] + [good[0]]
    chk = Checker()
    chk.compare(dup_and_missing, want, "dup")
    assert chk.wrong_rows == 2  # one duplicate, one missing

    flipped = [dict(r, keep=not r["keep"]) if i < 10 else r for i, r in enumerate(good)]
    chk = Checker()
    chk.compare(flipped, want, "flipped")
    assert chk.wrong_rows == 10 and chk.f1_min < 0.99


def test_checker_counts_failed_operations():
    chk = Checker()
    assert chk.op(lambda: 1) == 1
    assert chk.op(lambda: 1 / 0) is None
    assert (chk.attempted, chk.failed) == (2, 1)


def test_metric_names_match_benchmark_json_and_rule_order():
    from wallaby2caom2_spark.config import RULE_ORDER

    assert run.RULES == RULE_ORDER
    root = os.path.dirname(os.path.dirname(HERE))
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == run.END_TO_END
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == run.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOAD_NAMES)
