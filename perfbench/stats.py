"""Order statistics for the end-to-end metrics and the steadiness report."""

from __future__ import annotations

import statistics

#: op_tail_s sits at the highest rank that still has this many ops above it
TAIL_BEYOND = 10


def tail_rank(n: int) -> int:
    """0-based rank (ascending) of the tail sample among ``n`` ops: the
    highest rank with at least ``TAIL_BEYOND`` ops beyond it, but never
    below the upper median rank (a run with few ops reports its median)."""
    return max(n - 1 - TAIL_BEYOND, n // 2) if n else 0


def p50_rank(n: int) -> int:
    """0-based rank of the lower median (the sample op_p50_s reports when
    ``n`` is odd; for even ``n`` the value is the mean of this rank and
    the next)."""
    return (n - 1) // 2


def tail(latencies: list[float]) -> tuple[float, float, int]:
    """(value, percentile, ops beyond it) of the tail sample."""
    xs = sorted(latencies)
    r = tail_rank(len(xs))
    return xs[r], 100.0 * (r + 1) / len(xs), len(xs) - 1 - r


def drift(latencies: list[float]) -> float:
    """ops/min over the last quarter of timed ops divided by ops/min over
    the first quarter (1.0 = no drift; above 1 = still speeding up)."""
    q = max(1, len(latencies) // 4)
    first, last = sum(latencies[:q]), sum(latencies[-q:])
    return first / last if last > 0 else float("nan")


def band_distance(ops: list[tuple[str, float]], rank: int) -> int:
    """Ranks from ``rank`` (in the ascending latency order of ``ops``) to
    the nearest op of a different query: 1 means the neighbour belongs to
    another query's latency band, so one sample can move the statistic
    across a band boundary."""
    labels = [name for name, _ in sorted(ops, key=lambda o: o[1])]
    if not labels:
        return 0
    me = labels[rank]
    for d in range(1, len(labels)):
        for r in (rank - d, rank + d):
            if 0 <= r < len(labels) and labels[r] != me:
                return d
    return len(labels)


def per_query_medians(ops: list[tuple[str, float]]) -> dict[str, float]:
    by: dict[str, list[float]] = {}
    for name, lat in ops:
        by.setdefault(name, []).append(lat)
    return {name: round(statistics.median(v), 4) for name, v in sorted(by.items())}


def steadiness(ops: list[tuple[str, float]]) -> dict:
    """The in-run steadiness report printed next to every result."""
    lat = [x for _, x in ops]
    n = len(lat)
    value, pct, beyond = tail(lat)
    return {
        "ops": n,
        "drift_last_vs_first_quarter": round(drift(lat), 4),
        "tail_percentile": round(pct, 1),
        "tail_ops_beyond": beyond,
        "p50_band_distance": band_distance(ops, p50_rank(n)),
        "tail_band_distance": band_distance(ops, tail_rank(n)),
        "query_median_s": per_query_medians(ops),
    }
