"""Spark event-log reader for the traced run.

The traced run turns ``spark.eventLog.enabled`` on and tags its own spans
with the ``mbg.bench.span`` local property (catalog queries) or relies on
Spark's ``streaming.sql.batchId`` and ``sql.streaming.queryId`` job
properties (micro-batches). This module
links the log's records into the chain

    benchmark span → SQL execution → job → stage → task

and rolls the tasks and SQL metrics up per span. Nothing here talks to
Spark, so the self-tests run it on a small recorded log.
"""

from __future__ import annotations

import glob
import json
import os
from collections import defaultdict
from dataclasses import dataclass, field

SPAN_PROP = "mbg.bench.span"
BATCH_PROP = "streaming.sql.batchId"
QUERY_PROP = "sql.streaming.queryId"
EXEC_PROP = "spark.sql.execution.id"


@dataclass
class SpanRollup:
    """Everything the log says about one benchmark span."""

    executions: set = field(default_factory=set)
    jobs: set = field(default_factory=set)
    stages: set = field(default_factory=set)
    tasks: int = 0
    task_s: float = 0.0
    intervals: list = field(default_factory=list)  # (launch_s, finish_s)
    shuffle_records: int = 0
    shuffle_bytes: int = 0
    spill_bytes: int = 0
    output_bytes: int = 0
    output_records: int = 0
    sql: dict = field(default_factory=lambda: defaultdict(float))

    def active_s(self, lo: float | None = None, hi: float | None = None) -> float:
        """Wall seconds with at least one task running, optionally clipped
        to the window [lo, hi]."""
        return union_length(self.intervals, lo, hi)


def union_length(intervals, lo: float | None = None, hi: float | None = None) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def read_events(path: str) -> list[dict]:
    """All events of one application log: ``path`` is the log file, or a
    directory holding exactly one uncompressed log."""
    if os.path.isdir(path):
        files = [f for f in glob.glob(os.path.join(path, "*")) if os.path.isfile(f)]
        if len(files) != 1:
            raise RuntimeError(f"expected one event log in {path}, found {files}")
        path = files[0]
    with open(path, encoding="utf-8") as f:
        return [json.loads(line) for line in f if line.strip()]


def _walk_plan(info: dict):
    yield info
    for child in info.get("children", []):
        yield from _walk_plan(child)


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def span_of(props: dict) -> str | None:
    """The benchmark span a job belongs to: a micro-batch (its id, plus
    the query's id when the log has it: two queries both count batches
    from 0) wins over the property the submitting thread set."""
    if props.get(BATCH_PROP) is not None:
        query = props.get(QUERY_PROP)
        return f"batch:{props[BATCH_PROP]}" + (f":{query}" if query else "")
    return props.get(SPAN_PROP)


def rollup(events: list[dict]) -> dict[str, SpanRollup]:
    """Per-span rollup of tasks and SQL metrics. SQL metrics are keyed
    ``"<metric name>"`` and, for file scans, also
    ``"<metric name>@<scan location>"`` so callers can split reads by path."""
    job_span: dict[int, str] = {}
    stage_span: dict[int, str] = {}
    exec_span: dict[int, str] = {}
    acc_meta: dict[int, tuple[int, str, str]] = {}  # id → (exec, name, location)
    acc_value: dict[int, float] = defaultdict(float)
    spans: dict[str, SpanRollup] = defaultdict(SpanRollup)

    def plan_metrics(exec_id: int, info: dict) -> None:
        for node in _walk_plan(info):
            loc = node.get("metadata", {}).get("Location", "")
            for m in node.get("metrics", []):
                acc_meta[int(m["accumulatorId"])] = (exec_id, m["name"], loc)

    for e in events:
        kind = e["Event"].rsplit(".", 1)[-1]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            span = span_of(props)
            if span is None:
                continue
            jid = int(e["Job ID"])
            job_span[jid] = span
            spans[span].jobs.add(jid)
            for sid in e.get("Stage IDs", []):
                stage_span[int(sid)] = span
            if props.get(EXEC_PROP) is not None:
                eid = int(props[EXEC_PROP])
                exec_span.setdefault(eid, span)
                spans[span].executions.add(eid)
        elif kind in ("SparkListenerSQLExecutionStart", "SparkListenerSQLAdaptiveExecutionUpdate"):
            plan_metrics(int(e["executionId"]), e.get("sparkPlanInfo") or {})
        elif kind == "SparkListenerDriverAccumUpdates":
            for acc_id, value in e.get("accumUpdates", []):
                acc_value[int(acc_id)] += _num(value)
        elif kind == "SparkListenerTaskEnd":
            info = e["Task Info"]
            for a in info.get("Accumulables", []):
                if a.get("Metadata") == "sql":
                    acc_value[int(a["ID"])] += _num(a.get("Update"))
            span = stage_span.get(int(e["Stage ID"]))
            if span is None:
                continue
            r = spans[span]
            launch, finish = info["Launch Time"] / 1000.0, info["Finish Time"] / 1000.0
            r.stages.add(int(e["Stage ID"]))
            r.tasks += 1
            r.task_s += finish - launch
            r.intervals.append((launch, finish))
            m = e.get("Task Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            r.shuffle_records += int(sw.get("Shuffle Records Written", 0))
            r.shuffle_bytes += int(sw.get("Shuffle Bytes Written", 0))
            r.spill_bytes += int(m.get("Memory Bytes Spilled", 0)) + int(
                m.get("Disk Bytes Spilled", 0)
            )
            out = m.get("Output Metrics") or {}
            r.output_bytes += int(out.get("Bytes Written", 0))
            r.output_records += int(out.get("Records Written", 0))
    for acc_id, (exec_id, name, loc) in acc_meta.items():
        span = exec_span.get(exec_id)
        if span is None or acc_id not in acc_value:
            continue
        spans[span].sql[name] += acc_value[acc_id]
        if loc:
            spans[span].sql[f"{name}@{loc}"] += acc_value[acc_id]
    return dict(spans)


def sql_metric(r: SpanRollup, name: str, location_part: str | None = None) -> float:
    """Sum of SQL metric ``name`` in a span; with ``location_part``, only
    over file scans whose location contains it."""
    if location_part is None:
        return r.sql.get(name, 0.0)
    return sum(
        v for k, v in r.sql.items()
        if k.startswith(name + "@") and location_part in k[len(name) + 1:]
    )
