"""The benchmark's own arithmetic: percentiles, stream row and lag accounting,
span self time and host steal. Pure functions over plain Python values, so
``test_stats.py`` checks them without Spark.
"""

from __future__ import annotations

import math
from collections.abc import Iterable, Sequence


def percentile(samples: Sequence[float], q: float) -> float:
    """The ``q``-th percentile (0..100) by linear interpolation between
    closest ranks (numpy's default method)."""
    if not samples:
        raise ValueError("percentile of no samples")
    xs = sorted(samples)
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def beyond(samples: Iterable[float], threshold: float) -> int:
    """How many samples lie strictly above ``threshold`` — the support of a
    reported percentile (a p90 over 12 samples rests on 2 of them)."""
    return sum(1 for x in samples if x > threshold)


def median(samples: Sequence[float]) -> float:
    return percentile(samples, 50)


def source_rows(progress: Sequence[dict], rows_per_second: int) -> int:
    """Rows a rate source generated over ``progress`` (streaming progress
    dicts), from its offsets rather than ``numInputRows``.

    The rate source's offset is elapsed whole seconds, and each second holds
    ``rows_per_second`` rows. A self-join reads the same source twice, so
    the progress lists it twice and ``numInputRows`` double-counts; entries
    with the same description are one source and are counted once.
    """
    total = 0
    for p in progress:
        seen = {}
        for s in p.get("sources", []):
            start = _offset_value(s.get("startOffset"))
            end = _offset_value(s.get("endOffset"))
            seen[s.get("description")] = max(0, end - start)
        total += max(seen.values(), default=0)
    return total * rows_per_second


def _offset_value(offset) -> int:
    if offset is None:
        return 0
    if isinstance(offset, str):
        offset = offset.strip()
        return int(offset) if offset.lstrip("-").isdigit() else 0
    return int(offset)


def due_time_s(row_index: int, t0_s: float, rows_per_second: int) -> float:
    """When the rate source makes row ``row_index`` due (wall seconds)."""
    return t0_s + row_index / rows_per_second


def rows_due_before(t_ms: int, t0_ms: int, rows_per_second: int) -> int:
    """How many rows the rate source makes due strictly before ``t_ms``
    when row 0 is due at ``t0_ms``: the rows v >= 0 with
    t0 + v * 1000 / rate < t. Integer arithmetic, so no rounding at the
    boundary."""
    if t_ms <= t0_ms:
        return 0
    return -(-(t_ms - t0_ms) * rows_per_second // 1000)


def backlog_rows(t_ms: int, t0_ms: int, rows_per_second: int, rows_read: int) -> int:
    """Rows the rate source has made due before ``t_ms`` that the stream
    has not read yet."""
    return max(0, rows_due_before(t_ms, t0_ms, rows_per_second) - rows_read)


def result_lags(
    batches: Sequence[tuple[float, int]], t0_s: float, rows_per_second: int
) -> list[float | None]:
    """Result lag of each batch, or None for a batch without output.

    ``batches`` is (wall time at batch end, output rows of the batch) for
    every batch of the stream, in order. The pipeline emits exactly one row
    per input row as a watermark prefix, so after a batch the cumulative
    output count C says the output covers rows 0..C-1; the lag is the batch
    end minus the due time of row C-1.
    """
    lags: list[float | None] = []
    cumulative = 0
    for end_s, out_rows in batches:
        cumulative += out_rows
        lags.append(
            end_s - due_time_s(cumulative - 1, t0_s, rows_per_second) if out_rows > 0 else None
        )
    return lags


def span_self_times(spans: Sequence[dict]) -> dict[int, float]:
    """Self time of each span: its duration minus that of its direct children.

    A span is a dict with ``id``, ``parent`` (an id or None), ``start`` and
    ``end`` (seconds). Children are clipped to their parent's interval.
    """
    by_id = {s["id"]: s for s in spans}
    self_t = {s["id"]: s["end"] - s["start"] for s in spans}
    for s in spans:
        parent = by_id.get(s["parent"])
        if parent is None:
            continue
        overlap = min(s["end"], parent["end"]) - max(s["start"], parent["start"])
        self_t[parent["id"]] -= max(0.0, overlap)
    return self_t


def cpu_times(stat_line: str) -> tuple[int, int]:
    """(total, steal) jiffies from the aggregate ``cpu`` line of /proc/stat."""
    fields = [int(x) for x in stat_line.split()[1:]]
    steal = fields[7] if len(fields) > 7 else 0
    # guest time is already counted inside user/nice
    return sum(fields[:8]), steal


def steal_pct(before: str, after: str) -> float:
    """Host steal % between two /proc/stat ``cpu`` lines."""
    t0, s0 = cpu_times(before)
    t1, s1 = cpu_times(after)
    return 100.0 * (s1 - s0) / (t1 - t0) if t1 > t0 else 0.0
