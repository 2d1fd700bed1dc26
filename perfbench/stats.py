"""Summary statistics shared by the benchmark's run and trace code.

Pure functions only (no Spark, no I/O) so the benchmark's own tests can
pin the arithmetic.
"""

from __future__ import annotations

import math
import statistics

# Candidate tail percentiles, highest first. The reported tail is the
# highest one that still leaves at least TAIL_BEYOND samples above it at
# the sample count a run actually collected.
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
TAIL_BEYOND = 10


def percentile(samples: list[float], pct: float) -> float:
    """Linear-interpolated percentile (numpy's default 'linear' method)."""
    xs = sorted(samples)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = (len(xs) - 1) * pct / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(n: int) -> float | None:
    """Highest ladder percentile with at least TAIL_BEYOND of ``n`` samples
    beyond it, or None when ``n`` is too small for any."""
    for pct in TAIL_LADDER:
        # rounded: 100 * (1 - 0.9) is 9.999... in binary floating point
        if round(n * (100.0 - pct) / 100.0, 9) >= TAIL_BEYOND:
            return pct
    return None


def timing_summary(samples: list[float]) -> dict:
    """Median plus the ≥10-beyond tail, with the percentile and count that
    define it. ``tail`` is None when the run collected too few samples."""
    pct = tail_percentile(len(samples))
    return {
        "p50": statistics.median(samples) if samples else None,
        "tail": percentile(samples, pct) if pct is not None else None,
        "tail_pct": pct,
        "n": len(samples),
    }


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    clipped = sorted(
        (max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo)
    )
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id → self time: its duration minus the part of its interval
    that its direct children cover (overlapping children count once)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"])
        - covered(children.get(s["id"], []), s["start"], s["end"])
        for s in spans
    }


def f1_keep(truth: list[bool], pred: list[bool]) -> float:
    """F1 of the keep class (1.0 when neither side keeps anything)."""
    tp = sum(1 for t, p in zip(truth, pred) if t and p)
    fp = sum(1 for t, p in zip(truth, pred) if p and not t)
    fn = sum(1 for t, p in zip(truth, pred) if t and not p)
    if tp + fp + fn == 0:
        return 1.0
    return 2 * tp / (2 * tp + fp + fn)
