"""Pure helpers the workloads share: summaries, stream latency from
progress reports, backlog detection and order-insensitive result digests.
No Spark here, so every function is covered by the self-tests."""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import math
import statistics


def summary(values: list[float]) -> dict:
    """Median, first/third quartile (``statistics.quantiles(n=4)``, the
    exclusive method) and n. A single value is its own quartiles."""
    vals = [float(v) for v in values]
    if not vals:
        raise ValueError("summary of no values")
    if len(vals) == 1:
        q1 = med = q3 = vals[0]
    else:
        q1, med, q3 = statistics.quantiles(vals, n=4)
        med = statistics.median(vals)
    return {"median": med, "q1": q1, "q3": q3, "n": len(vals)}


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolation percentile (numpy's default), ``p`` in [0, 100]."""
    vals = sorted(float(v) for v in values)
    if not vals:
        raise ValueError("percentile of no values")
    pos = (len(vals) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(vals) - 1)
    return vals[lo] + (vals[hi] - vals[lo]) * (pos - lo)


def parse_progress_ts(stamp: str) -> float:
    """Epoch seconds of a progress report's ``timestamp`` (ISO-8601, UTC)."""
    return dt.datetime.strptime(stamp, "%Y-%m-%dT%H:%M:%S.%fZ").replace(
        tzinfo=dt.timezone.utc
    ).timestamp()


def batch_ends(progress: list[dict]) -> dict[int, float]:
    """batchId → epoch second the micro-batch finished (trigger start +
    ``durationMs.triggerExecution``). An idle trigger (no ``addBatch``)
    ran no batch: its report carries the id of the next batch, which may
    already be planned but not yet committed, so it is skipped."""
    out = {}
    for p in progress:
        d = p.get("durationMs", {})
        dur = d.get("triggerExecution")
        if dur is None or "addBatch" not in d:
            continue
        out[int(p["batchId"])] = parse_progress_ts(p["timestamp"]) + dur / 1000.0
    return out


def file_latencies(
    due: dict[str, float], file_batch: dict[str, int], ends: dict[int, float]
) -> tuple[dict[str, float], list[str]]:
    """Due time → end of the batch that committed each file. Returns the
    latency per committed file and the files that were due but never
    committed (no batch, or a batch that has not reported)."""
    lat, missing = {}, []
    for name, t_due in due.items():
        b = file_batch.get(name)
        if b is None or b not in ends:
            missing.append(name)
        else:
            lat[name] = ends[b] - t_due
    return lat, missing


def backlog_growing(
    due: list[float], committed: list[float], probes: list[float], slack: int = 1
) -> bool:
    """True when the count of due-but-uncommitted files keeps rising.
    ``due``/``committed`` are per-file epoch seconds (``committed`` may be
    shorter: files never committed count as pending forever); ``probes``
    are the sample instants, e.g. every batch start. The backlog grows if
    the pending count in the last third of the probes exceeds the first
    third's by more than ``slack`` files on average — a steady pipeline
    oscillates around a constant queue, an overloaded one climbs."""
    if len(probes) < 3:
        return False

    def pending(t: float) -> int:
        arrived = sum(1 for d in due if d <= t)
        done = sum(1 for c in committed if c <= t)
        return arrived - done

    counts = [pending(t) for t in sorted(probes)]
    k = max(1, len(counts) // 3)
    head = sum(counts[:k]) / k
    tail = sum(counts[-k:]) / k
    return tail - head > slack


# ---------------------------------------------------------- digests ----
def canon_value(v) -> str:
    """One value as the digest sees it. Floats (and decimals) are rounded
    to 6 decimals so summation order cannot flip a digest, -0.0 folds to
    0.0; sequences and maps canonicalise element-wise."""
    if v is None:
        return "None"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, (float, decimal.Decimal)):
        f = float(v)
        if math.isnan(f):
            return "nan"
        s = f"{f:.6f}"
        return "0.000000" if s == "-0.000000" else s
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat(sep=" ")
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon_value(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(
            f"{canon_value(k)}:{canon_value(x)}" for k, x in sorted(v.items())
        ) + "}"
    if hasattr(v, "asDict"):  # pyspark Row (struct column)
        return canon_value(tuple(v))
    return str(v)


def canon_rows(rows, cols: list[str]) -> tuple[list[str], list[tuple[str, ...]]]:
    """Columns sorted by name, each row canonicalised, rows sorted — the
    tools/parity.canon shape, with float canonicalisation recursive."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = sorted(tuple(canon_value(row[i]) for i in order) for row in rows)
    return [cols[i] for i in order], out


def digest(rows, cols: list[str]) -> tuple[int, str]:
    """(row count, order-insensitive sha256 of the canonical rows)."""
    names, canon = canon_rows(rows, cols)
    h = hashlib.sha256("\x1f".join(names).encode())
    for r in canon:
        h.update(b"\x1e" + "\x1f".join(r).encode())
    return len(canon), h.hexdigest()


# ------------------------------------------------------- self times ----
def split_problems(wall: float, parts: dict[str, float], tol: float) -> list[str]:
    """What is wrong with a self-time split of a span whose wall time was
    measured on its own: a part below ``-tol`` (overlapping parts), or
    parts that sum further than ``tol`` from the wall."""
    out = [f"{k} is negative ({v:.4f} s)" for k, v in parts.items() if v < -tol]
    total = sum(parts.values())
    if abs(total - wall) > tol:
        out.append(f"parts sum to {total:.4f} s but the span took {wall:.4f} s")
    return out


def outside_window(intervals, lo: float, hi: float, tol: float) -> list[tuple[float, float]]:
    """Task intervals that start before ``lo - tol`` or end after
    ``hi + tol``: work the log links to a span but that ran outside it."""
    return [(s, e) for s, e in intervals if s < lo - tol or e > hi + tol]


def file_sha256(path: str) -> str:
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()
