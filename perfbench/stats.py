"""Pure helpers: the percentile rule, span self time and Spark counter
totals per job group. Kept free of Spark and threads so the self-tests
can pin them exactly."""

from __future__ import annotations

import math

#: A tail percentile is only reported with at least this many samples
#: beyond it.
TAIL_SAMPLES = 10


def percentile(sorted_values: list[float], pct: float) -> float:
    """Nearest-rank percentile of an ascending list."""
    if not sorted_values:
        raise ValueError("percentile of no samples")
    rank = max(1, math.ceil(pct / 100.0 * len(sorted_values)))
    return sorted_values[min(rank, len(sorted_values)) - 1]


def supported_tail(n: int, wanted: float = 99.0) -> float:
    """The highest percentile ≤ ``wanted`` that leaves at least
    TAIL_SAMPLES samples above it (0 when n is too small for any)."""
    if n <= TAIL_SAMPLES:
        return 0.0
    return min(wanted, 100.0 * (n - TAIL_SAMPLES) / n)


def samples_needed(pct: float) -> int:
    """The fewest samples that leave TAIL_SAMPLES beyond percentile
    ``pct``."""
    return math.ceil(TAIL_SAMPLES * 100.0 / (100.0 - pct))


def latency_summary(samples: list[float], tail_pct: float) -> dict:
    """Sample count, median and the ``tail_pct`` percentile; the tail is
    None when fewer than samples_needed(tail_pct) samples support it."""
    s = sorted(samples)
    supported = tail_pct > 0 and len(s) >= samples_needed(tail_pct)
    return {
        "n": len(s),
        "p50": percentile(s, 50.0) if s else None,
        "tail_pct": round(tail_pct, 3),
        "tail": percentile(s, tail_pct) if supported else None,
    }


def covered_ns(intervals: list[tuple[int, int]]) -> int:
    """Length of the union of half-open [start, end) intervals."""
    total = 0
    cur_start = cur_end = None
    for start, end in sorted(intervals):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def self_time_ns(
    start: int, end: int, children: list[tuple[int, int]], inline_ns: int = 0
) -> int:
    """A span's duration minus the part of it its children cover.

    ``children`` are child span intervals (clipped to the parent);
    ``inline_ns`` is child time recorded without spans (per-key calls
    too small to span) and is subtracted as is."""
    clipped = [(max(s, start), min(e, end)) for s, e in children if e > start and s < end]
    return max(0, end - start - covered_ns(clipped) - inline_ns)


#: Spark stage counters summed per step, with the stage-data field each
#: one comes from.
STAGE_FIELDS = (
    "tasks",
    "cpu_ns",
    "run_ms",
    "shuffle_write_bytes",
    "shuffle_read_bytes",
    "spill_bytes",
    "input_bytes",
    "output_bytes",
)


def group_totals(
    job_stages: dict[int, list[int]], stages: dict[int, dict | None]
) -> dict:
    """Totals over the jobs of one job group.

    ``job_stages`` maps each job of the group to its stage ids;
    ``stages`` maps stage id to its counters (None for a stage that
    never ran, such as a skipped one). A stage shared by two jobs is
    counted once."""
    seen: set[int] = set()
    out = {"jobs": len(job_stages), **{f: 0 for f in STAGE_FIELDS}}
    for job in sorted(job_stages):
        for sid in job_stages[job]:
            if sid in seen:
                continue
            seen.add(sid)
            row = stages.get(sid)
            if row is None:
                continue
            for f in STAGE_FIELDS:
                out[f] += row.get(f, 0)
    return out


def mean_step(totals: list[dict]) -> dict:
    """Per-execution mean of a step's group totals (one dict per
    execution of the step, e.g. one per update batch)."""
    keys = ("jobs",) + STAGE_FIELDS
    if not totals:
        return {k: 0.0 for k in keys}
    return {k: sum(t[k] for t in totals) / len(totals) for k in keys}


def quartile_spread(values: list[float]) -> float:
    """(Q3 - Q1) / median, with quartiles as statistics.quantiles gives
    them (the 'exclusive' method)."""
    import statistics

    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else float("inf")
