"""Event-log span linking and self-time parsing on a small recorded log.

``data/eventlog_small.jsonl`` is a trimmed Spark 4 event log (local[2],
AQE off) of three actions: an untagged parquet write, then span
``p0:agg`` (scan → groupBy count → noop sink) and span ``p0:write``
(scan → filter → parquet write). Run: python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench import eventlog  # noqa: E402

LOG = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "eventlog_small.jsonl")


@pytest.fixture(scope="module")
def spans():
    return eventlog.rollup(eventlog.read_events(LOG))


def test_spans_link_execution_job_stage_task(spans):
    # the untagged first write belongs to no span
    assert set(spans) == {"p0:agg", "p0:write"}
    agg, write = spans["p0:agg"], spans["p0:write"]
    assert (sorted(agg.executions), sorted(agg.jobs), sorted(agg.stages)) == ([1], [1, 2], [1, 2, 3])
    assert (sorted(write.executions), sorted(write.jobs), sorted(write.stages)) == ([2], [3, 4], [4, 5])
    assert (agg.tasks, write.tasks) == (5, 3)


def test_task_metrics_roll_up(spans):
    agg, write = spans["p0:agg"], spans["p0:write"]
    assert (agg.shuffle_records, agg.shuffle_bytes, agg.spill_bytes) == (8, 276, 0)
    assert (write.output_records, write.output_bytes) == (10, 1563)
    assert agg.task_s == pytest.approx(1.469)
    assert write.task_s == pytest.approx(0.354)


def test_active_time_is_the_union_of_task_intervals(spans):
    agg = spans["p0:agg"]
    # two pairs of overlapping tasks plus one alone: the union is shorter
    # than the sum of task durations
    assert agg.active_s() == pytest.approx(0.834)
    assert agg.active_s() < agg.task_s
    lo = min(s for s, _ in agg.intervals)
    # clipping to a window keeps only the part of the union inside it
    assert agg.active_s(lo, lo + 0.1) == pytest.approx(0.1)
    assert agg.active_s(lo + 10, lo + 20) == 0.0


def test_self_times_add_up_to_span_wall(spans):
    """The split ``run.py`` prints: active task time plus the remainder
    (non-task time) is exactly the execute window it was clipped to."""
    for r in spans.values():
        lo = min(s for s, _ in r.intervals)
        hi = max(e for _, e in r.intervals)
        wall = hi - lo + 0.05
        active = r.active_s(lo, lo + wall)
        nontask = wall - active
        assert active + nontask == pytest.approx(wall)
        assert 0 < active <= wall


def test_sql_metrics_by_name_and_scan_location(spans):
    agg, write = spans["p0:agg"], spans["p0:write"]
    assert eventlog.sql_metric(write, "number of written files") == 2
    assert eventlog.sql_metric(write, "written output") == 1563
    assert eventlog.sql_metric(agg, "size of files read") == 1728
    assert eventlog.sql_metric(agg, "size of files read", "/perfbench-fixture/data") == 1728
    assert eventlog.sql_metric(agg, "size of files read", "/index") == 0
    assert eventlog.sql_metric(agg, "time to run Python workers") == 0


def test_union_length_edge_cases():
    assert eventlog.union_length([]) == 0.0
    assert eventlog.union_length([(0, 1), (0.5, 2), (3, 4)]) == pytest.approx(3.0)
    assert eventlog.union_length([(0, 1), (1, 2)]) == pytest.approx(2.0)
    assert eventlog.union_length([(0, 10)], 2, 5) == pytest.approx(3.0)


def test_micro_batch_property_wins_over_span_property():
    assert eventlog.span_of({eventlog.BATCH_PROP: "7", eventlog.SPAN_PROP: "x"}) == "batch:7"
    assert eventlog.span_of({eventlog.BATCH_PROP: "7", eventlog.QUERY_PROP: "q1"}) == "batch:7:q1"
    assert eventlog.span_of({eventlog.SPAN_PROP: "x"}) == "x"
    assert eventlog.span_of({}) is None
