"""Summary statistics and metric naming shared by the benchmark."""

from __future__ import annotations

import math
import re
import statistics

NAME_RE = re.compile(r"[A-Za-z0-9_.-]+")


def check_name(name: str) -> str:
    """Return ``name`` if it is a valid metric name, else raise."""
    if not NAME_RE.fullmatch(name) or len(name) > 64 or not name[0].isalnum():
        raise ValueError(f"bad metric name {name!r}")
    return name


def median(xs) -> float:
    return float(statistics.median(xs))


def supported_percentile(xs, wanted=(50, 75, 90, 95, 99)) -> dict[int, float]:
    """Percentiles of ``xs`` (nearest-rank) that have at least ten
    samples strictly above their rank: p50 needs 20 samples, p75 40,
    p90 100, p95 200 and p99 1000. Percentiles the sample cannot
    support are left out rather than reported from too few points."""
    s = sorted(xs)
    n = len(s)
    out = {}
    for p in wanted:
        rank = math.ceil(p / 100 * n)
        if rank >= 1 and n - rank >= 10:
            out[p] = float(s[rank - 1])
    return out
