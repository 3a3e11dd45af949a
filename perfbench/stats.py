"""Order statistics used by every metric, and the fingerprint gate.

A tail is reported at the highest percentile that still has at least ten
samples beyond it, together with that percentile and the sample count, so
a run with few samples never reports a tail that rests on one or two
values.
"""

from __future__ import annotations

import math
import statistics
from typing import Sequence

TAIL_MIN_BEYOND = 10


def median(values: Sequence[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    return float(statistics.median(values))


def tail(values: Sequence[float], min_beyond: int = TAIL_MIN_BEYOND) -> dict | None:
    """Highest whole percentile p such that at least ``min_beyond``
    samples lie strictly above the p-th percentile's rank, i.e. the
    nearest-rank index ``ceil(p/100 * n)`` leaves ``n - rank >=
    min_beyond`` samples after it. ``None`` when fewer than
    ``min_beyond + 1`` samples exist."""
    n = len(values)
    if n <= min_beyond:
        return None
    ordered = sorted(values)
    for p in range(99, 0, -1):
        rank = max(math.ceil(p / 100 * n), 1)
        if n - rank >= min_beyond:
            return {"value": float(ordered[rank - 1]), "pct": p, "n": n}
    return None


def quartile_spread(values: Sequence[float]) -> float:
    """(Q3 - Q1) / median, with Q1/Q3 from ``statistics.quantiles(n=4)``."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else math.inf


class FingerprintMismatch(ValueError):
    """Two result sets were produced from different inputs."""


def check_fingerprints(a: dict, b: dict) -> None:
    """Refuse to compare runs whose inputs differ. ``a`` and ``b`` map
    ``"<workload>/<seed>"`` to the fingerprint recorded with the run; a
    key present on both sides must carry identical fingerprints."""
    bad = sorted(k for k in a.keys() & b.keys() if a[k] != b[k])
    if bad:
        raise FingerprintMismatch(
            "inputs differ for " + ", ".join(bad)
            + ": the generator or the workload parameters changed"
        )
