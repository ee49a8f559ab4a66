"""Small statistics shared by the workloads (pure Python, no Spark)."""

from __future__ import annotations

MIN_BEYOND = 10


def percentile(samples: list[float], q: float, weights: list[int] | None = None) -> float:
    """Nearest-rank ``q``-th percentile of ``samples``, each counted
    ``weights[i]`` times (once by default).

    Refuses (raises ``ValueError``) unless at least ``MIN_BEYOND``
    distinct samples lie beyond it: a p90 of 50 samples rests on 5
    values and jumps from run to run, and weighting 11 chunk latencies
    by their 2,000 events each does not make them 22,000 samples.
    """
    weights = weights or [1] * len(samples)
    pairs = sorted(zip(samples, weights))
    if not pairs:
        raise ValueError("no samples")
    target = q * sum(weights) / 100
    seen = 0
    for i, (value, w) in enumerate(pairs):
        seen += w
        if seen >= target:
            break
    beyond = len(pairs) - 1 - i
    if beyond < MIN_BEYOND:
        raise ValueError(f"p{q:g} of {len(pairs)} samples has {beyond} beyond it; need {MIN_BEYOND}")
    return value


def chunk_latencies(scheduled: dict[int, float], committed: dict[int, float]) -> dict[int, float]:
    """Latency of every chunk: from its *scheduled* publish time to the
    return of the ``foreachBatch`` call that committed it.

    Timing from the schedule rather than from the actual publish makes
    a late generator or a stalled engine show up as latency on the
    chunks that waited, instead of silently shifting the clock.
    """
    return {c: committed[c] - scheduled[c] for c in scheduled}
