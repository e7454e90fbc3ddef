"""Self-tests for the benchmark's summaries, latency maths, backlog
detection and digests. Run: python3 -m pytest perfbench/tests -q"""

from __future__ import annotations

import datetime as dt
import decimal
import os
import statistics
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench import stats  # noqa: E402


def test_summary_matches_statistics_quantiles():
    vals = [5.0, 1.0, 4.0, 2.0, 3.0, 9.0]
    q1, _, q3 = statistics.quantiles(vals, n=4)
    s = stats.summary(vals)
    assert (s["q1"], s["median"], s["q3"], s["n"]) == (q1, 3.5, q3, 6)
    assert stats.summary([2.5]) == {"median": 2.5, "q1": 2.5, "q3": 2.5, "n": 1}
    with pytest.raises(ValueError):
        stats.summary([])


def test_percentile_linear_interpolation():
    vals = [10.0, 20.0, 30.0, 40.0, 50.0]
    assert stats.percentile(vals, 50) == 30.0
    assert stats.percentile(vals, 90) == pytest.approx(46.0)
    assert stats.percentile(vals, 0) == 10.0
    assert stats.percentile(vals, 100) == 50.0
    assert stats.percentile([7.0], 90) == 7.0
    assert stats.percentile([4.0, 1.0, 3.0, 2.0], 50) == 2.5  # order-free


def _progress(batch_id: int, start: str, trigger_ms: int, rows: int = 10) -> dict:
    if rows == 0:  # an idle trigger runs no batch and reports no addBatch
        return {"batchId": batch_id, "timestamp": start, "numInputRows": 0,
                "durationMs": {"latestOffset": 1, "triggerExecution": trigger_ms}}
    return {
        "batchId": batch_id, "timestamp": start, "numInputRows": rows,
        "durationMs": {"triggerExecution": trigger_ms, "addBatch": trigger_ms - 100},
    }


def test_latency_from_synthetic_progress():
    t = dt.datetime(2025, 1, 1, tzinfo=dt.timezone.utc).timestamp()
    progress = [
        _progress(0, "2025-01-01T00:00:00.000Z", 1500),
        _progress(1, "2025-01-01T00:00:01.500Z", 2000),
        # idle triggers report the id of the batch that has not run yet
        _progress(2, "2025-01-01T00:00:03.500Z", 3, rows=0),
    ]
    ends = stats.batch_ends(progress)
    assert ends[0] == pytest.approx(t + 1.5)
    assert ends[1] == pytest.approx(t + 3.5)
    assert 2 not in ends  # a file planned into batch 2 is not committed yet
    due = {"a": t - 0.5, "b": t + 0.2, "c": t + 1.0, "d": t + 2.0}
    file_batch = {"a": 0, "b": 1, "c": 1}  # d was never committed
    lat, missing = stats.file_latencies(due, file_batch, ends)
    assert lat == pytest.approx({"a": 2.0, "b": 3.3, "c": 2.5})
    assert missing == ["d"]
    assert stats.percentile(list(lat.values()), 50) == pytest.approx(2.5)
    assert stats.percentile(list(lat.values()), 90) == pytest.approx(3.14)
    # a file planned into a batch that has not reported yet is not committed
    assert stats.file_latencies({"e": t}, {"e": 5}, ends) == ({}, ["e"])


def test_backlog_growth_detected_only_when_queue_climbs():
    due = [float(i) for i in range(30)]  # one file per second
    probes = [float(i) + 0.5 for i in range(30)]
    steady = [d + 1.2 for d in due]  # every file done 1.2 s after it is due
    assert not stats.backlog_growing(due, steady, probes)
    # the engine finishes one file per 2 s: the queue grows linearly
    slow = [2.0 * i + 1.0 for i in range(30)]
    assert stats.backlog_growing(due, slow, probes)
    # files never committed count as pending forever
    assert stats.backlog_growing(due, steady[:10], probes)
    assert not stats.backlog_growing(due, slow, probes[:2])  # too few probes


def test_digest_is_order_insensitive_and_column_order_free():
    rows = [(1, "a", 0.5), (2, "b", None), (3, "c", 1.25)]
    cols = ["k", "s", "x"]
    shuffled = [rows[2], rows[0], rows[1]]
    assert stats.digest(rows, cols) == stats.digest(shuffled, cols)
    # the same table with its columns permuted
    perm = [(r[2], r[0], r[1]) for r in rows]
    assert stats.digest(perm, ["x", "k", "s"]) == stats.digest(rows, cols)
    assert stats.digest(rows, cols)[0] == 3
    assert stats.digest(rows[:2], cols) != stats.digest(rows, cols)
    assert stats.digest(rows, ["k", "s", "y"]) != stats.digest(rows, cols)


def test_digest_float_canonicalisation():
    a = [(1, 0.1 + 0.2), (2, -0.0), (3, 1e-9)]
    b = [(1, 0.3), (2, 0.0), (3, 0.0)]
    assert stats.digest(a, ["k", "v"]) == stats.digest(b, ["k", "v"])
    # decimals and floats agree; a real difference in the 6th decimal shows
    assert stats.digest([(decimal.Decimal("2.500000"),)], ["v"]) == stats.digest([(2.5,)], ["v"])
    assert stats.digest([(0.000001,)], ["v"]) != stats.digest([(0.000002,)], ["v"])
    # nested arrays and timestamps canonicalise element-wise
    assert stats.canon_value([0.1 + 0.2, None]) == "[0.300000,None]"
    ts = dt.datetime(2025, 1, 8, 12, 30, tzinfo=dt.timezone.utc)
    assert stats.canon_value(ts) == "2025-01-08 12:30:00"
    assert stats.canon_value(float("nan")) == "nan"


def test_split_problems_flags_gaps_and_negative_parts():
    assert stats.split_problems(1.0, {"a": 0.6, "b": 0.4}, 0.01) == []
    assert stats.split_problems(1.0, {"a": 0.6, "b": 0.395}, 0.01) == []
    gap = stats.split_problems(1.0, {"a": 0.6, "b": 0.3}, 0.01)
    assert len(gap) == 1 and "sum to 0.9000" in gap[0]
    # a negative residual is caught even when the parts still add up
    neg = stats.split_problems(1.0, {"a": 1.2, "b": -0.2}, 0.01)
    assert neg == ["b is negative (-0.2000 s)"]


def test_outside_window():
    iv = [(1.0, 2.0), (0.5, 1.5), (2.5, 3.05), (2.9, 3.2)]
    assert stats.outside_window(iv, 1.0, 3.0, 0.1) == [(0.5, 1.5), (2.9, 3.2)]
    assert stats.outside_window(iv, 0.0, 4.0, 0.0) == []
