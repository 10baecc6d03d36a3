"""Tests of the benchmark's own arithmetic (no Spark needed):

    python3 -m pytest perfbench/test_stats.py -q
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import stats  # noqa: E402
from spans import Tracer  # noqa: E402


def test_percentile_interpolates_between_ranks():
    xs = [float(x) for x in range(1, 11)]
    assert stats.percentile(xs, 50) == pytest.approx(5.5)
    assert stats.percentile(xs, 90) == pytest.approx(9.1)
    assert stats.percentile(xs, 0) == 1.0
    assert stats.percentile(xs, 100) == 10.0
    assert stats.percentile([3.0], 90) == 3.0
    assert stats.percentile([4.0, 1.0, 3.0, 2.0], 50) == pytest.approx(2.5)


def test_percentile_of_nothing_is_an_error():
    with pytest.raises(ValueError):
        stats.percentile([], 50)


def test_beyond_counts_samples_strictly_above():
    xs = [float(x) for x in range(1, 11)]
    p90 = stats.percentile(xs, 90)
    assert stats.beyond(xs, p90) == 1
    assert stats.beyond(xs, stats.percentile(xs, 50)) == 5
    assert stats.beyond([2.0, 2.0, 2.0], 2.0) == 0


def _progress(start, end, description="RateStreamV2[rowsPerSecond=50]", copies=1, rows=None):
    source = {"description": description, "startOffset": start, "endOffset": end}
    if rows is not None:
        source["numInputRows"] = rows
    return {"sources": [dict(source) for _ in range(copies)], "numInputRows": rows or 0}


def test_source_rows_come_from_offsets_not_input_rows():
    # a self-join lists the rate source twice and numInputRows double-counts:
    # 76 s of source time at 200 rows/s is 15,200 rows, not 30,400
    progress = [_progress(0, 40, copies=2, rows=16000), _progress(40, 76, copies=2, rows=14400)]
    assert sum(p["numInputRows"] for p in progress) == 30_400
    assert stats.source_rows(progress, 200) == 15_200


def test_source_rows_handles_first_batch_and_string_offsets():
    assert stats.source_rows([_progress(None, 8)], 50) == 400
    assert stats.source_rows([_progress("8", "11")], 50) == 150
    assert stats.source_rows([{"sources": []}], 50) == 0


def test_rows_due_before_is_exact_at_the_boundary():
    # row v is due at t0 + 20 ms * v at 50 rows/s; a watermark 1980 ms after
    # t0 has rows 0..98 strictly before it, and row 99 is due exactly on it
    assert stats.rows_due_before(1980, 0, 50) == 99
    assert stats.rows_due_before(1981, 0, 50) == 100
    assert stats.rows_due_before(44_978, 42_998, 50) == 99
    assert stats.rows_due_before(10, 10, 50) == 0
    assert stats.rows_due_before(5, 10, 50) == 0


def test_backlog_is_due_rows_not_yet_read():
    # 1981 ms after t0 at 50 rows/s, 100 rows are due
    assert stats.backlog_rows(1981, 0, 50, 60) == 40
    assert stats.backlog_rows(1981, 0, 50, 100) == 0
    # a stream never reads ahead of the source, but the count stays >= 0
    assert stats.backlog_rows(1981, 0, 50, 150) == 0


def test_result_lag_from_cumulative_counts():
    t0, rate = 100.0, 50
    batches = [(104.0, 0), (108.0, 0), (121.8, 99), (125.9, 200), (129.7, 0)]
    lags = stats.result_lags(batches, t0, rate)
    assert lags[:2] == [None, None]
    # after 99 rows the newest covered row is 98, due at t0 + 1.96 s
    assert lags[2] == pytest.approx(121.8 - (t0 + 98 / rate))
    # after 299 rows it is row 298, due at t0 + 5.96 s
    assert lags[3] == pytest.approx(125.9 - (t0 + 298 / rate))
    assert lags[4] is None


def test_span_self_time_subtracts_direct_children_only():
    spans = [
        {"id": 0, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "parent": 1, "start": 2.0, "end": 3.0},
        {"id": 3, "parent": 0, "start": 5.0, "end": 6.5},
        # a child that outlives its parent is clipped to the parent
        {"id": 4, "parent": 3, "start": 6.0, "end": 7.0},
    ]
    self_t = stats.span_self_times(spans)
    assert self_t[0] == pytest.approx(10.0 - 3.0 - 1.5)
    assert self_t[1] == pytest.approx(3.0 - 1.0)
    assert self_t[2] == pytest.approx(1.0)
    assert self_t[3] == pytest.approx(1.5 - 0.5)
    assert self_t[4] == pytest.approx(1.0)
    # self times of a tree without clipping add up to the root's duration
    assert sum(self_t[i] for i in (0, 1, 2, 3)) + 0.5 == pytest.approx(10.0)


def test_tracer_nests_spans_and_sums_self_time_per_name():
    tr = Tracer()
    with tr.span("query.build", "q1"):
        with tr.span("catalog.load_table", "orders"):
            pass
        with tr.span("catalog.load_table", "lineitem"):
            pass
    assert [s["parent"] for s in tr.spans] == [None, 0, 0]
    totals = tr.self_seconds()
    whole = tr.spans[0]["end"] - tr.spans[0]["start"]
    assert totals["query.build"] + totals["catalog.load_table"] == pytest.approx(whole)
    assert sum(s["name"] == "catalog.load_table" for s in tr.spans) == 2
    assert tr.self_seconds(tr.spans[1:]).keys() == {"catalog.load_table"}
    tr.enabled = False
    with tr.span("ignored"):
        pass
    assert len(tr.spans) == 3


def test_tracer_counts_scan_memo_hits_by_identity():
    tr = Tracer()
    a, b, c = object(), object(), object()
    for df in (a, b, a, a):
        tr.note_scan(df)
    assert (tr.scan_calls, tr.scan_repeats) == (4, 2)
    # frames handed out while tracing is off are remembered, not counted
    tr.enabled = False
    tr.note_scan(c)
    tr.enabled = True
    tr.note_scan(c)
    assert (tr.scan_calls, tr.scan_repeats) == (5, 3)


def test_steal_pct_from_proc_stat_deltas():
    before = "cpu  100 0 50 800 10 0 5 20 0 0"
    after = "cpu  200 0 100 1500 20 0 10 45 0 0"
    # 25 steal jiffies out of 890 (user .. steal, guest excluded)
    assert stats.steal_pct(before, after) == pytest.approx(100 * 25 / 890)
    assert stats.steal_pct(before, before) == 0.0
