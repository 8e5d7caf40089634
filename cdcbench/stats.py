"""Pure statistics for the benchmark: percentiles and checkpoint lag."""

from __future__ import annotations

import bisect

#: a reported percentile must have at least this many samples beyond it
MIN_TAIL = 10


def percentile(samples: list[float], q: float) -> float:
    """Interpolated ``q``-quantile (0 < q < 1) over the samples, by the
    rule of ``statistics.quantiles(method="inclusive")``."""
    xs = sorted(samples)
    if not xs:
        raise ValueError("no samples")
    if len(xs) == 1:
        return float(xs[0])
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return float(xs[lo] + (xs[hi] - xs[lo]) * (pos - lo))


def highest_supported_percentile(n: int) -> int:
    """The highest whole percentile with at least ``MIN_TAIL`` of ``n``
    samples beyond it (0 when even the median lacks that tail)."""
    if n < 2 * MIN_TAIL:
        return 0
    return int(100 * (n - MIN_TAIL) // n)


def checkpoint_lags(items: list[tuple[int, float]],
                    checkpoints: list[tuple[int, float]]) -> list[float | None]:
    """Checkpoint lag per item.

    ``items`` are (commit_ts_us, due_wall_s): for a published file, the
    commit_ts of its last event and the time that event was created.
    ``checkpoints`` are progress-log entries (resolved_ts_us, wall_s).
    An item's lag runs from its due time to the wall time of the FIRST
    checkpoint whose resolved_ts covers its commit_ts; ``None`` when no
    checkpoint covers it."""
    cps = sorted(checkpoints, key=lambda c: c[1])
    # running max of resolved_ts in wall order: the first covering entry
    # is the first whose running max reaches the event's commit_ts
    walls, frontier, hi = [], [], None
    for ts, wall in cps:
        if ts is None:
            continue
        if hi is None or ts > hi:
            hi = ts
            walls.append(wall)
            frontier.append(ts)
    out: list[float | None] = []
    for commit_ts, due in items:
        i = bisect.bisect_left(frontier, commit_ts)
        out.append(walls[i] - due if i < len(frontier) else None)
    return out
