"""Arithmetic of the benchmark's summary metrics (no Spark needed).

Every rule that turns raw per-query samples or spans into a reported
number lives here, so ``test_stats.py`` can pin it without a session.
"""
from __future__ import annotations

import statistics

TAIL_MIN_ABOVE = 10


def tail(samples: list[float], min_above: int = TAIL_MIN_ABOVE):
    """The per-query value at the highest percentile that still has at
    least ``min_above`` samples strictly above it in rank.

    Returns ``(value, percentile, n)``. Sorted ascending, the sample at
    index ``i`` has ``n - 1 - i`` samples above it, so the rule picks
    ``i = n - 1 - min_above``; its percentile is the share of samples at
    or below it. With fewer than ``min_above + 1`` samples no percentile
    qualifies and the function raises, so a run too short to have a tail
    fails loudly instead of reporting its maximum as one.
    """
    n = len(samples)
    i = n - 1 - min_above
    if i < 0:
        raise ValueError(f"tail needs at least {min_above + 1} samples, "
                         f"got {n}")
    return sorted(samples)[i], 100.0 * (i + 1) / n, n


def median(samples: list[float]) -> float:
    if not samples:
        raise ValueError("median of no samples")
    return float(statistics.median(samples))


def failed_share(failed: int, attempted: int) -> float:
    if attempted < 1:
        raise ValueError("no query was attempted")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside [0, {attempted}]")
    return failed / attempted


def self_times(spans: list[dict]) -> list[float]:
    """Self time of each span: its duration minus the part of its
    interval that its direct children cover.

    ``spans`` are dicts with ``start``, ``end`` and ``parent`` (the index
    of the parent span in the same list, or ``None``). Children of one
    parent run one after another on the driver thread; overlapping
    children are merged first so no interval is subtracted twice.
    """
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = []
    for i, s in enumerate(spans):
        covered, cur_s, cur_e = 0.0, None, None
        for a, b in sorted(kids.get(i, [])):
            a, b = max(a, s["start"]), min(b, s["end"])
            if b <= a:
                continue
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            covered += cur_e - cur_s
        out.append(max(0.0, (s["end"] - s["start"]) - covered))
    return out
