"""Summary statistics and noop-sink ladder arithmetic."""

from __future__ import annotations

import statistics


def summary(values) -> dict:
    """Median, first and third quartile (``statistics.quantiles``, n=4) and
    the sample count. With fewer than two samples the quartiles equal the
    median."""
    vals = [float(v) for v in values]
    if not vals:
        raise ValueError("summary of no samples")
    med = statistics.median(vals)
    if len(vals) < 2:
        return {"median": med, "q1": med, "q3": med, "n": len(vals)}
    q1, _, q3 = statistics.quantiles(vals, n=4)
    return {"median": med, "q1": q1, "q3": q3, "n": len(vals)}


def ladder_increments(rungs: list[tuple[str, float]]) -> list[tuple[str, float]]:
    """Cumulative rungs ``[(name, wall_s), ...]`` (each rung runs everything
    the one before it runs, plus one layer) -> the time each layer adds.

    The increments telescope: they sum to the top rung's wall exactly. An
    increment can be negative when a layer costs less than run-to-run
    noise; it is reported as measured, not clipped."""
    out, prev = [], 0.0
    for name, wall in rungs:
        out.append((name, wall - prev))
        prev = wall
    return out
