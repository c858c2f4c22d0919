"""Arithmetic the benchmark reports with: percentiles, the percentile
rule, keep/drop F1 and prefix self-time deltas."""

from __future__ import annotations

# a tail percentile is reported only when at least this many samples
# lie beyond it
TAIL_SAMPLES = 10


def percentile(values: list[float], p: float) -> float:
    """Linear interpolation between closest ranks (numpy's default)."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    pos = (len(xs) - 1) * p / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def highest_percentile(n: int, candidates=(50, 75, 90, 95, 99)) -> int | None:
    """The highest candidate percentile with at least TAIL_SAMPLES of
    n samples beyond it; None when not even the median qualifies."""
    best = None
    for p in candidates:
        if n * (100 - p) / 100.0 >= TAIL_SAMPLES:
            best = p
    return best


def keep_f1(predicted: dict[str, bool], expected: dict[str, bool]) -> float:
    """F1 of the keep class over every expected clip; a clip missing
    from ``predicted`` counts as dropped. 1.0 when nothing is kept on
    either side."""
    tp = sum(1 for c, k in expected.items() if k and predicted.get(c, False))
    fp = sum(1 for c, k in predicted.items() if k and not expected.get(c, False))
    fn = sum(1 for c, k in expected.items() if k and not predicted.get(c, False))
    if tp + fp + fn == 0:
        return 1.0
    return 2 * tp / (2 * tp + fp + fn)


def self_times(prefix_seconds: list[tuple[str, float]]) -> dict[str, float]:
    """Self time of each layer in a plan-prefix chain: each prefix's
    time minus the previous prefix's. The first layer's self time is
    its own prefix time."""
    out, prev = {}, 0.0
    for name, secs in prefix_seconds:
        out[name] = secs - prev
        prev = secs
    return out


def steal_share(busy: int, steal: int) -> float:
    """Share of the CPU time a span's runnable CPUs wanted that the
    host withheld: steal / (busy + steal); 0 for an idle span."""
    return steal / (busy + steal) if busy + steal > 0 else 0.0


def critical_steal_ticks(samples: list[list[int]]) -> int:
    """Steal on the critical path of a span: over each interval
    between consecutive samples of every CPU's steal counter, the
    largest one CPU's steal, summed over the intervals."""
    return sum(max(b - a for a, b in zip(prev, cur)) for prev, cur in zip(samples, samples[1:]))
