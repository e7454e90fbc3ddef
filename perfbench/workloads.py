"""The benchmark's workloads, each driven through the engine's public entry
points and timed from outside:

- ``catalog-cold``: a fixed set of ``bench.py`` HEADLINE rows over the
  committed sf0.001 test tables (``data/sf0.001``), every plan built fresh
  through the uncached ``CATALOG[name][0]`` builders, planned and executed
  on its own QueryExecution.
- ``stream-etl``: an open-loop tweet stream into
  ``start_etl_lifecycle_sink`` over a seeded store; a traced run then, in
  the same session, feeds open-loop 100-doc batches into
  ``start_neardup_gate_sink_indexed`` over a seeded index.
- ``stream-gate``: the gate half of ``stream-etl`` on its own (runnable,
  not listed in ``BENCHMARK.json``).

``run.py`` calls a workload's steps in this order: ``seed_once()``
(``setup_reps`` times; the median is part of ``setup_s``), ``warm()``,
``measure()`` (untraced; a traced run then restarts the session with the
event log on, calls ``rewarm()`` and ``measure()`` again), ``check()`` and,
for a traced run, ``layer_metrics()``. Every failure is printed with its
exception and counted; none is swallowed.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import threading
import time
import traceback

from perfbench import datagen, eventlog, stats

HERE = os.path.dirname(os.path.abspath(__file__))
CATALOG_DATA = os.path.join(HERE, "data", "sf0.001")
DIGESTS = os.path.join(HERE, "data", "catalog_digests.json")
# slack for the self-time checks: the event log and progress reports keep
# milliseconds, and Python's and the JVM's clocks are read separately
TOL_S = 0.02


class Failures:
    """Loud failure ledger: every failed query, batch or file is printed
    with its exception and counted against ``attempted``."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0

    def ok(self) -> None:
        self.attempted += 1

    def fail(self, what: str, exc: BaseException | str, n: int = 1) -> None:
        self.attempted += n
        self.failed += n
        print(f"FAILED {what}: {exc}", flush=True)
        if isinstance(exc, BaseException):
            traceback.print_exception(exc)


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


# per-layer metric → unit; times are per pass (catalog) or per micro-batch
# (streams), averaged over the traced window
LAYER_METRICS = {
    "plans.build_s": "s", "catalyst.plan_s": "s", "exec.task_s": "s",
    "exec.active_s": "s", "exec.nontask_s": "s", "exec.stages": "count",
    "exec.tasks": "count", "shuffle.records": "count", "shuffle.bytes": "bytes",
    "shuffle.spill_bytes": "bytes", "udf.python_s": "s", "udf.bytes_sent": "bytes",
    "streaming.add_batch_s": "s", "streaming.offsets_s": "s",
    "streaming.planning_s": "s", "streaming.commit_s": "s",
    "streaming.other_s": "s", "streaming.rows_per_batch": "rows",
    "io.bytes_written": "bytes", "io.write_amp": "ratio", "io.files_written": "count",
    "gate.batch_s": "s", "gate.index_bytes_read": "bytes",
    "gate.index_read_frac": "ratio", "gate.admitted_frac": "ratio",
}
GATE_METRICS = tuple(k for k in LAYER_METRICS if k.startswith("gate."))


def _zero_layers() -> dict:
    return {k: 0.0 for k in LAYER_METRICS}


def _add_rollup(acc: dict, r: eventlog.SpanRollup) -> None:
    acc["exec.task_s"] += r.task_s
    acc["exec.stages"] += len(r.stages)
    acc["exec.tasks"] += r.tasks
    acc["shuffle.records"] += r.shuffle_records
    acc["shuffle.bytes"] += r.shuffle_bytes
    acc["shuffle.spill_bytes"] += r.spill_bytes
    acc["udf.python_s"] += eventlog.sql_metric(r, "time to run Python workers") / 1000.0
    acc["udf.bytes_sent"] += eventlog.sql_metric(r, "data sent to Python workers")


def _mean_rows(rows: list[dict]) -> dict:
    if not rows:
        return _zero_layers()
    return {k: sum(r[k] for r in rows) / len(rows) for k in LAYER_METRICS}


# ------------------------------------------------------------ catalog ----
# HEADLINE rows kept in the pass: a scan, a window dedup over events, a
# four-way join + aggregate, exact dedup, the pandas UDF and the ETL
# lifecycle transform (the rest of HEADLINE does not fit the run budget;
# see README).
CATALOG_ROWS = (
    "q1", "q9", "q18r", "dedup_exact", "sentiment_pandas_udf", "etl_lifecycle",
)
# Rows whose output is not a function of the input alone are checked by
# row count only. None of the rows above is; the map stays so that adding
# one forces a stated reason.
COUNT_ONLY: dict[str, str] = {}


def _row_medians(spans: list[dict]) -> dict[str, float]:
    """Row name → median query latency (build + plan + execute) over spans."""
    per_row: dict[str, list[float]] = {}
    for s in spans:
        per_row.setdefault(s["row"], []).append(s["build_s"] + s["catalyst_s"] + s["exec_s"])
    return {n: statistics.median(v) for n, v in per_row.items()}


class CatalogCold:
    name = "catalog-cold"
    setup_reps = 0  # the inputs are committed files: nothing to seed

    def __init__(self, spark, work: str, seed: int, failures: Failures) -> None:
        # the seed is unused: the catalog reads fixed test tables
        self.spark, self.failures = spark, failures
        self.digests: dict[str, tuple[int, str]] = {}
        self.spans: list[dict] = []
        self.pass_walls: dict[int, float] = {}

    def _build(self, name: str):
        from mbgspark.plans.catalog import CATALOG

        return CATALOG[name][0](self.spark, CATALOG_DATA)

    def warm(self) -> None:
        """Two untimed passes. The first builds every row fresh and
        collects it, which compiles the pass's code and captures the outputs
        ``check`` digests; the second runs while the JVM still speeds up
        (after one pass alone, the next passes took 3.9, 3.3, 3.1 s)."""
        for name in CATALOG_ROWS:
            try:
                df = self._build(name)
                rows = df.collect()
                self.digests[name] = stats.digest(rows, df.columns)
                self.failures.ok()
            except Exception as e:  # noqa: BLE001 - counted and printed
                self.failures.fail(f"{self.name} warm-up {name}", e)
        self.rewarm()

    def rewarm(self) -> None:
        """One unrecorded pass: the second warm-up pass, and again after the
        session restarts (new context, new Python workers), so the traced
        passes compare with warm ones."""
        for name in CATALOG_ROWS:
            self._run(self._build(name))

    @staticmethod
    def _plan(df) -> None:
        """Optimize and plan ``df``'s own QueryExecution."""
        df._jdf.queryExecution().executedPlan()

    @staticmethod
    def _run(df) -> None:
        """Execute ``df``'s own QueryExecution (the plan ``_plan`` built)
        as one SQL execution; the result rows stay in the driver JVM."""
        df._jdf.collectAsList()

    def measure(self, seconds: float, traced: bool) -> dict:
        sc = self.spark.sparkContext
        passes, lat = [], []
        t_end = time.perf_counter() + seconds
        while time.perf_counter() < t_end or not passes:
            p = len(passes)
            p0 = time.perf_counter()
            for name in CATALOG_ROWS:
                span = f"p{p}:{name}" + (":t" if traced else "")
                sc.setLocalProperty(eventlog.SPAN_PROP, span)
                try:
                    lo = time.time()
                    q0 = time.perf_counter()
                    df = self._build(name)
                    q1 = time.perf_counter()
                    self._plan(df)
                    q2 = time.perf_counter()
                    e0 = time.time()
                    self._run(df)
                    e1 = time.time()
                    q3 = time.perf_counter()
                    lat.append(q3 - q0)
                    self.spans.append({
                        "span": span, "row": name, "pass": p, "traced": traced,
                        "build_s": q1 - q0, "catalyst_s": q2 - q1, "exec_s": q3 - q2,
                        "lo": lo, "hi": e1, "exec_lo": e0, "exec_hi": e1,
                    })
                    self.failures.ok()
                except Exception as e:  # noqa: BLE001 - counted and printed
                    self.failures.fail(f"{self.name} {span}", e)
                finally:
                    sc.setLocalProperty(eventlog.SPAN_PROP, None)
            passes.append(time.perf_counter() - p0)
            if traced:
                self.pass_walls[p] = passes[-1]
        # Each row's median over the passes is robust to one slow pass; a
        # typical pass is their sum, and the latency percentiles are taken
        # over the row medians (percentiles of the raw per-query times
        # would jump between rows of very different cost).
        row_med = list(_row_medians(self.spans[-len(lat):]).values()) if lat else []
        return {"pass_s": [sum(row_med)] if row_med else [], "pass_walls": passes,
                "latency_s": row_med}

    def report(self) -> list[str]:
        return ["per-row median s: " + "  ".join(
            f"{n} {v:.3f}" for n, v in _row_medians(self.spans).items())]

    def check(self) -> tuple[bool, list[str]]:
        """Compare each row's warm-up output with its committed digest,
        taken from the row's DuckDB oracle over the same input files
        (``make_digests.py``), after checking the inputs are those files."""
        with open(DIGESTS, encoding="utf-8") as f:
            want = json.load(f)
        notes, ok = [], True
        for table, sha in sorted(want["inputs"].items()):
            if stats.file_sha256(os.path.join(CATALOG_DATA, f"{table}.parquet")) != sha:
                ok = False
                notes.append(f"input {table}.parquet differs from the digested file")
        for name in CATALOG_ROWS:
            exp = want["rows"].get(name)
            got = self.digests.get(name)
            if exp is None or got is None:
                ok = False
                notes.append(f"{name}: no {'committed digest' if exp is None else 'output'}")
                continue
            if name in COUNT_ONLY:
                good = got[0] == exp["rows"]
                notes.append(f"{name}: count-only ({COUNT_ONLY[name]})")
            else:
                good = got == (exp["rows"], exp["sha256"])
            if not good:
                ok = False
                notes.append(f"{name}: MISMATCH spark {got} oracle {(exp['rows'], exp['sha256'])}")
        if ok:
            notes.append(f"{len(CATALOG_ROWS)} rows match their oracle digests")
        return ok, notes

    def layer_metrics(self, spans: dict[str, eventlog.SpanRollup]) -> tuple[dict, list[dict]]:
        """Per-pass layer metrics (mean over traced passes) and the
        self-time split of every traced pass, checked against the pass
        wall measured around the whole pass."""
        by_pass: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["traced"]:
                by_pass.setdefault(s["pass"], []).append(s)
        rows, splits = [], []
        for p, qs in sorted(by_pass.items()):
            acc = _zero_layers()
            problems = []
            for s in qs:
                r = spans.get(s["span"], eventlog.SpanRollup())
                # tasks run during build (eager jobs) or execute; only the
                # execute window's task time counts as exec.active_s
                active = r.active_s(s["exec_lo"], s["exec_hi"])
                acc["plans.build_s"] += s["build_s"]
                acc["catalyst.plan_s"] += s["catalyst_s"]
                acc["exec.active_s"] += active
                acc["exec.nontask_s"] += s["exec_s"] - active
                _add_rollup(acc, r)
                if not r.tasks:
                    problems.append(f"{s['span']}: no tasks linked in the event log")
                stray = stats.outside_window(r.intervals, s["lo"], s["hi"], TOL_S)
                if stray:
                    problems.append(f"{s['span']}: {len(stray)} tasks ran outside the span")
            parts = {k: acc[k] for k in ("plans.build_s", "catalyst.plan_s",
                                         "exec.active_s", "exec.nontask_s")}
            # the pass wall also holds the harness's own calls between
            # queries (local-property sets): a few ms per row
            problems += stats.split_problems(self.pass_walls[p], parts,
                                             TOL_S * len(CATALOG_ROWS))
            rows.append(acc)
            splits.append({"span": f"pass {p}", "wall_s": self.pass_walls[p],
                           "self": parts, "problems": problems})
        return _mean_rows(rows), splits


# ------------------------------------------------------------ streams ----
def _file_batches(checkpoint: str) -> dict[str, int]:
    """File name → micro-batch id, from the file source's own metadata log
    in the checkpoint (compacted files included)."""
    out: dict[str, int] = {}
    log = os.path.join(checkpoint, "sources", "0")
    if not os.path.isdir(log):
        return out
    for fname in os.listdir(log):
        if fname.startswith("."):
            continue
        with open(os.path.join(log, fname), encoding="utf-8") as f:
            for line in f:
                line = line.strip()
                if not line.startswith("{"):
                    continue
                entry = json.loads(line)
                out[os.path.basename(entry["path"])] = int(entry["batchId"])
    return out


def _progress(query) -> list[dict]:
    out = []
    for p in query.recentProgress:
        js = p.json if isinstance(p.json, str) else p.json()
        out.append(json.loads(js))
    return out


class OpenLoopStream:
    """Shared open-loop feed: files are pre-rendered, then renamed into
    the source directory at their due times by a generator thread that
    never waits for the engine. Latency runs from each file's due time to
    the end of the micro-batch that commits it, read from the query's own
    progress reports and the file source's checkpoint log."""

    files_per_s = 1.0
    warm_s = 1.0  # files due in the first warm_s seconds are not measured
    lead_s = 1.0  # time to render the files before the first is due
    drain_timeout_s = 60.0
    setup_reps = 3

    def __init__(self, spark, work: str, seed: int, failures: Failures) -> None:
        os.makedirs(work, exist_ok=True)
        self.spark, self.work, self.seed, self.failures = spark, work, seed, failures
        self.reps = 0
        self.phase = 0
        self.fed: list[dict] = []  # every file fed, for the checks
        self.batches: list[dict] = []  # measured micro-batches
        self.latencies: list[float] = []  # due → commit of measured files
        self.gen_late: list[float] = []

    def warm(self) -> None:
        pass  # the first seeding already ran the sink's lineage

    def rewarm(self) -> None:
        pass  # each measure() starts a new query whose first warm_s are warm-up

    # subclasses: source_and_checkpoint(phase), start_query(src, ck),
    # render(phase, n_files, due) -> [(rows, text, extra)]
    def measure(self, seconds: float, traced: bool) -> dict:
        phase = self.phase
        self.phase += 1
        src, ck = self.source_and_checkpoint(phase)
        staging = os.path.join(self.work, f"staging{phase}")
        os.makedirs(staging, exist_ok=True)
        os.makedirs(src, exist_ok=True)
        offsets = datagen.arrival_offsets(self.seed * 7 + phase, self.files_per_s,
                                          self.warm_s + seconds)
        n_files = len(offsets)
        query = self.start_query(src, ck)
        qid = str(query.id)
        # the schedule starts once the query runs, so a slow query start
        # cannot make the generator late
        t0 = time.time() + self.lead_s
        due = [t0 + off for off in offsets]
        files = []
        for i, (rows, text, extra) in enumerate(self.render(phase, n_files, due)):
            fname = f"p{phase}-{i:05d}.json"
            with open(os.path.join(staging, fname), "w", encoding="utf-8") as f:
                f.write(text)
            files.append({"name": fname, "due": due[i], "rows": rows,
                          "bytes": len(text.encode()), "phase": phase,
                          "measured": due[i] >= t0 + self.warm_s, **extra})
        late = []

        def feed() -> None:
            for fe in files:
                wait = fe["due"] - time.time()
                if wait > 0:
                    time.sleep(wait)
                os.rename(os.path.join(staging, fe["name"]), os.path.join(src, fe["name"]))
                late.append(max(0.0, time.time() - fe["due"]))

        gen = threading.Thread(target=feed, name="perfbench-feed")
        gen.start()
        try:
            gen.join()
            # drain: every file planned into a batch AND that batch reported
            # (stopping mid-batch would abort the batch's writes)
            deadline = time.time() + self.drain_timeout_s
            while time.time() < deadline and query.exception() is None:
                planned = _file_batches(ck)
                ends = stats.batch_ends(_progress(query))
                if all(planned.get(fe["name"]) in ends for fe in files):
                    break
                time.sleep(0.2)
            exc = query.exception()
            progress = _progress(query)
        finally:
            query.stop()
        self.gen_late.extend(late)
        if exc is not None:
            self.failures.fail(f"{self.name} query (phase {phase})", str(exc), len(files))
            return {"pass_s": [], "latency_s": []}
        committed = _file_batches(ck)
        ends = stats.batch_ends(progress)
        lat_by_file, missing = stats.file_latencies(
            {fe["name"]: fe["due"] for fe in files}, committed, ends)
        for fe in files:
            if fe["name"] in missing:
                self.failures.fail(f"{self.name} file {fe['name']}", "due but never committed")
            else:
                self.failures.ok()
                fe["batch"] = committed[fe["name"]]
        self.fed.extend(files)
        measured = [fe for fe in files if fe["measured"] and "batch" in fe]
        lat = [lat_by_file[fe["name"]] for fe in measured]
        self.latencies.extend(lat)
        by_id = {int(p["batchId"]): p for p in progress if "addBatch" in p["durationMs"]}
        batch_s = []
        for b in sorted({fe["batch"] for fe in measured}):
            p = by_id[b]
            batch_s.append(p["durationMs"]["triggerExecution"] / 1000.0)
            self.batches.append({
                "span": f"batch:{b}:{qid}", "batch_id": b, "traced": traced,
                "progress": p, "next_start": _next_start(by_id, b),
                "input_bytes": sum(fe["bytes"] for fe in files if fe.get("batch") == b),
                "files": [fe for fe in files if fe.get("batch") == b],
            })
        starts = [stats.parse_progress_ts(by_id[b]["timestamp"]) for b in sorted(by_id)]
        growing = stats.backlog_growing(
            [fe["due"] for fe in files],
            [ends[fe["batch"]] for fe in files if fe.get("batch") in ends],
            [t for t in starts if t >= t0 + self.warm_s],
        )
        if growing:
            print(f"WARNING {self.name}: backlog grew during phase {phase}; "
                  "the reference rate is above this box's knee", flush=True)
        rows_done = sum(p.get("numInputRows", 0) for p in progress)
        busy = sum(p["durationMs"].get("triggerExecution", 0) for p in progress
                   if p.get("numInputRows", 0) > 0) / 1000.0
        return {
            "pass_s": batch_s, "latency_s": lat,
            "backlog_growing": growing,
            "capacity_rows_per_s": rows_done / busy if busy else 0.0,
        }

    def report(self) -> list[str]:
        return []

    def layer_metrics(self, spans: dict[str, eventlog.SpanRollup]) -> tuple[dict, list[dict]]:
        """Per-batch layer metrics (mean over traced batches) and each
        traced batch's self-time split. The split's named parts come from
        the progress report; the checks compare them with the event log
        (tasks run inside addBatch, and inside the batch's interval) and
        the batch with the next one's start."""
        rows, splits = [], []
        for b in self.batches:
            if not b["traced"]:
                continue
            p = b["progress"]
            d = p["durationMs"]
            wall = d["triggerExecution"] / 1000.0
            add = d.get("addBatch", 0) / 1000.0
            offsets = (d.get("latestOffset", 0) + d.get("getBatch", 0)) / 1000.0
            planning = d.get("queryPlanning", 0) / 1000.0
            commit = (d.get("walCommit", 0) + d.get("commitOffsets", 0)) / 1000.0
            r = spans.get(b["span"], eventlog.SpanRollup())
            start = stats.parse_progress_ts(p["timestamp"])
            active = r.active_s()
            acc = _zero_layers()
            acc["streaming.add_batch_s"] = add
            acc["streaming.offsets_s"] = offsets
            acc["streaming.planning_s"] = planning
            acc["streaming.commit_s"] = commit
            acc["streaming.other_s"] = wall - add - offsets - planning - commit
            acc["streaming.rows_per_batch"] = p.get("numInputRows", 0)
            acc["exec.active_s"] = active
            acc["exec.nontask_s"] = add - active
            _add_rollup(acc, r)
            self.io_and_gate(acc, r, b)
            rows.append(acc)
            parts = {k: acc[k] for k in ("streaming.offsets_s", "streaming.planning_s",
                                         "streaming.commit_s", "streaming.other_s",
                                         "exec.active_s", "exec.nontask_s")}
            problems = stats.split_problems(wall, parts, TOL_S)
            if not r.tasks:
                problems.append("no tasks linked in the event log")
            stray = stats.outside_window(r.intervals, start, start + wall, TOL_S)
            if stray:
                problems.append(f"{len(stray)} tasks ran outside the batch's interval")
            if b["next_start"] is not None and b["next_start"] < start + wall - TOL_S:
                problems.append("the next batch started before this one ended")
            splits.append({"span": b["span"], "wall_s": wall, "self": parts,
                           "problems": problems})
        return _mean_rows(rows), splits

    def io_and_gate(self, acc: dict, r: eventlog.SpanRollup, batch: dict) -> None:
        raise NotImplementedError


def _next_start(by_id: dict[int, dict], b: int) -> float | None:
    later = [k for k in by_id if k > b]
    return stats.parse_progress_ts(by_id[min(later)]["timestamp"]) if later else None


class StreamEtl(OpenLoopStream):
    name = "stream-etl"
    # 80 tweets/s keeps the sink far below its knee, so a micro-batch is
    # mostly its fixed cost: at 240/s a slower box made batches carry more
    # rows, which made them slower still, and latency swung twice as far
    # as the box. Eight files a second give p90 at least ten files beyond
    # it in an 18 s window.
    files_per_s = 8.0
    rows_per_file = 10
    # a new query's first micro-batch is slow and the next ones still speed
    # up (1.5–2.6 s); files due before they settle are warm-up
    warm_s = 3.0
    store_rows = 2_000

    def source_and_checkpoint(self, phase: int) -> tuple[str, str]:
        return (os.path.join(self.work, f"src{phase}"),
                os.path.join(self.work, f"ck{phase}"))

    def seed_once(self) -> None:
        """Seed a fresh store through the sink itself (one availableNow
        batch over pre-rendered seed files)."""
        from mbgspark.streaming import start_etl_lifecycle_sink

        self.reps += 1
        seed_files = datagen.tweet_stream(self.seed + 104_729, 1, self.store_rows, 0)
        src = os.path.join(self.work, f"seed_src{self.reps}")
        os.makedirs(src)
        for i, recs in enumerate(seed_files):
            with open(os.path.join(src, f"seed-{i:03d}.json"), "w", encoding="utf-8") as f:
                f.write(datagen.render_tweets(recs, 1_700_000_000.0 + i))
        store = os.path.join(self.work, f"store{self.reps}")
        q = start_etl_lifecycle_sink(
            self.spark, src, store, os.path.join(self.work, f"seed_ck{self.reps}"),
            available_now=True,
        )
        q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(f"store seeding failed: {q.exception()}")
        if self.reps > 1:  # keep only the newest seeded store
            shutil.rmtree(self.store)
            shutil.rmtree(self.seed_src)
        self.store, self.seed_src = store, src

    def render(self, phase: int, n_files: int, due: list[float]):
        recs = datagen.tweet_stream(self.seed * 7 + phase, n_files, self.rows_per_file,
                                    first_id=self.store_rows * (phase + 1) * 10)
        for d, r in zip(due, recs):
            yield len(r), datagen.render_tweets(r, d), {}

    def start_query(self, src: str, ck: str):
        from mbgspark.streaming import start_etl_lifecycle_sink

        return start_etl_lifecycle_sink(self.spark, src, self.store, ck)

    def io_and_gate(self, acc: dict, r: eventlog.SpanRollup, batch: dict) -> None:
        acc["io.bytes_written"] = r.output_bytes
        acc["io.files_written"] = eventlog.sql_metric(r, "number of written files")
        acc["io.write_amp"] = r.output_bytes / batch["input_bytes"] if batch["input_bytes"] else 0.0

    def check(self) -> tuple[bool, list[str]]:
        """Final store == its batch twin: ``run_etl`` + keep-latest over
        every file the store ever ingested (seed and stream)."""
        from pyspark.sql import functions as F

        from mbgspark.operators.dedup import keep_latest_per_key
        from mbgspark.pipeline import locations_dim, run_etl
        from mbgspark.schema import TWEET_RAW_SCHEMA

        dirs = [self.seed_src] + sorted({
            os.path.join(self.work, f"src{fe['phase']}") for fe in self.fed
        })
        raw = self.spark.read.schema(TWEET_RAW_SCHEMA).json(dirs)
        twin = keep_latest_per_key(run_etl(raw, locations_dim(self.spark)),
                                   key="_id", order_col="scraped_at")
        got = self.spark.read.parquet(self.store)
        cols = sorted(twin.columns)
        if sorted(got.columns) != cols:
            return False, [f"store columns {sorted(got.columns)} != twin {cols}"]

        def norm(df):
            return df.select(*[F.col(c).cast("string").alias(c) for c in cols])

        # equal row counts + no store row outside the twin ⇒ the two are the
        # same multiset of rows
        n_got, n_twin = got.count(), twin.count()
        extra = norm(got).exceptAll(norm(twin)).count()
        notes = [f"store rows {n_got}, twin rows {n_twin}, rows only in store {extra}"]
        return n_got == n_twin and extra == 0, notes


class StreamGate(OpenLoopStream):
    name = "stream-gate"
    files_per_s = 0.5
    warm_s = 0.0  # warm() already ran an indexed batch
    corpus_docs = 2_000
    threshold = 0.5
    num_buckets = 8
    setup_reps = 1  # the index build compiles on its first run only

    def __init__(self, spark, work: str, seed: int, failures: Failures) -> None:
        super().__init__(spark, work, seed, failures)
        self.warm_batches = 0
        self.admitted_by_batch: dict[int, int] = {}
        self.index_bytes_on_disk = 0

    def source_and_checkpoint(self, phase: int) -> tuple[str, str]:
        # one source and checkpoint for warm-up and every phase: the gate
        # resumes where the last batch left off
        return self.src, self.ck

    def seed_once(self) -> None:
        """Seed a fresh store + bucketed MinHash index in the layout the
        indexed gate writes (``__gate_batch=-1`` base generation, bucket
        sub-partitions, meta sidecar), as ``tools/gate_bench.py`` does."""
        from pyspark.sql import functions as F

        from mbgspark.operators.dedup import build_minhash_index
        from mbgspark.streaming import write_gate_meta

        self.reps += 1
        self.corpus = datagen.gate_corpus(self.seed, self.corpus_docs)
        root = os.path.join(self.work, f"gate{self.reps}")
        src = os.path.join(root, "src")
        os.makedirs(src)
        seed_file = os.path.join(root, "seed.json")
        with open(seed_file, "w", encoding="utf-8") as f:
            f.write(datagen.render_docs(
                [{"doc_id": i, "text": t} for i, t in enumerate(self.corpus)]
            ))
        docs = self.spark.read.schema("doc_id long, text string").json(seed_file)
        nb = self.num_buckets
        docs.withColumn("__gate_batch", F.lit(-1)).write.partitionBy(
            "__gate_batch").parquet(os.path.join(root, "store"))
        bands, arrays = build_minhash_index(docs, "doc_id", "text")
        for df, path, bucket in (
            (arrays, "arrays", F.xxhash64("doc_id")),
            (bands, "bands", F.xxhash64("band_idx", "band_key")),
        ):
            (df.withColumn("__gate_batch", F.lit(-1))
             .withColumn("__bucket", F.pmod(bucket, F.lit(nb)))
             .repartition("__bucket")
             .write.partitionBy("__gate_batch", "__bucket")
             .parquet(os.path.join(root, "index", path)))
        write_gate_meta(self.spark, os.path.join(root, "index"), {
            "layout": "bucketed-v1", "num_buckets": nb, "index_arrays": True,
        })
        prev = getattr(self, "root", None)
        self.root, self.src, self.ck = root, src, os.path.join(root, "ck")
        if prev:
            shutil.rmtree(prev)

    def warm(self) -> None:
        """One availableNow batch through the indexed gate: compiles the
        gate's lineage so the measured batches are warm."""
        self.warm_batches += 1
        docs, novel = datagen.gate_batch(self.seed, self.corpus, 900_000 + self.warm_batches)
        name = f"warm-{self.warm_batches}.json"
        with open(os.path.join(self.src, name), "w", encoding="utf-8") as f:
            f.write(datagen.render_docs(docs))
        q = self.start_query(self.src, self.ck, available_now=True)
        q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(f"gate warm-up batch failed: {q.exception()}")
        self.fed.append({"name": name, "rows": len(docs), "novel": novel})

    rewarm = warm

    def start_query(self, src: str, ck: str, available_now: bool = False):
        from mbgspark.streaming import start_neardup_gate_sink_indexed

        stream = self.spark.readStream.schema("doc_id long, text string").json(src)
        return start_neardup_gate_sink_indexed(
            stream, os.path.join(self.root, "store"), os.path.join(self.root, "index"),
            ck, threshold=self.threshold, available_now=available_now,
            num_buckets=self.num_buckets,
        )

    def render(self, phase: int, n_files: int, due: list[float]):
        for i in range(n_files):
            docs, novel = datagen.gate_batch(self.seed, self.corpus, phase * 10_000 + i)
            yield len(docs), datagen.render_docs(docs), {"novel": novel}

    def report(self) -> list[str]:
        walls = [b["progress"]["durationMs"]["triggerExecution"] / 1000.0 for b in self.batches]
        if not walls:
            return ["gate: no measured batch"]
        return [f"gate: {len(walls)} measured batches, wall median "
                f"{statistics.median(walls):.3f} s, latency median "
                f"{statistics.median(self.latencies):.3f} s over {len(self.latencies)} files"]

    def io_and_gate(self, acc: dict, r: eventlog.SpanRollup, batch: dict) -> None:
        read = eventlog.sql_metric(r, "size of files read", "/index")
        on_disk = self.index_bytes_on_disk
        offered = sum(fe["rows"] for fe in batch["files"])
        admitted = self.admitted_by_batch.get(batch["batch_id"], 0)
        acc["gate.batch_s"] = batch["progress"]["durationMs"]["triggerExecution"] / 1000.0
        acc["gate.index_bytes_read"] = read
        acc["gate.index_read_frac"] = read / on_disk if on_disk else 0.0
        acc["gate.admitted_frac"] = admitted / offered if offered else 0.0

    def check(self) -> tuple[bool, list[str]]:
        """Admitted ids == the planted novel ids of every fed batch. Also
        records what each batch admitted, read from the store."""
        from pyspark.sql import functions as F

        self.index_bytes_on_disk = _dir_bytes(os.path.join(self.root, "index"))
        store = self.spark.read.parquet(os.path.join(self.root, "store"))
        self.admitted_by_batch = {
            int(r[0]): int(r[1])
            for r in store.groupBy("__gate_batch").count().collect()
        }
        got = sorted(
            r[0] for r in store.filter(F.col("doc_id") >= datagen.NOVEL_ID_BASE)
            .select("doc_id").collect()
        )
        want = sorted(i for fe in self.fed for i in fe["novel"])
        seeded = self.admitted_by_batch.get(-1, 0)
        notes = [f"gate admitted {len(got)} of {sum(fe['rows'] for fe in self.fed)} fed, "
                 f"planted novel {len(want)}, seed docs in store {seeded}"]
        ok = got == want and seeded == self.corpus_docs
        if got != want:
            notes.append(f"unexpected admits {sorted(set(got) - set(want))[:10]}, "
                         f"missing novel {sorted(set(want) - set(got))[:10]}")
        return ok, notes


class StreamEtlGate:
    """The listed stream workload: the tweet stream into the merge sink;
    in a traced run also, in the same session, the indexed gate. The
    end-to-end metrics are the tweet stream's. The traced run seeds the
    gate's index and warms it with one batch after the session restart,
    then feeds open-loop doc batches through the gate after the tweet
    stream, never beside it; they give the ``gate`` layer metrics, and
    what the gate admitted is checked. Untraced runs leave the gate out:
    a run budget of about a minute has no room for it."""

    name = "stream-etl"
    setup_reps = StreamEtl.setup_reps
    gate_seconds = 2.0  # one 100-doc batch at 0.5 files/s

    def __init__(self, spark, work: str, seed: int, failures: Failures) -> None:
        self.etl = StreamEtl(spark, work, seed, failures)
        self.gate = StreamGate(spark, os.path.join(work, "gate"), seed, failures)

    @property
    def spark(self):
        return self.etl.spark

    @spark.setter
    def spark(self, spark) -> None:
        self.etl.spark = self.gate.spark = spark

    @property
    def gen_late(self) -> list[float]:
        return self.etl.gen_late + self.gate.gen_late

    def seed_once(self) -> None:
        self.etl.seed_once()

    def warm(self) -> None:
        pass  # the first store seeding already ran the sink's lineage

    def rewarm(self) -> None:
        self.gate.seed_once()
        self.gate.warm()

    def measure(self, seconds: float, traced: bool) -> dict:
        res = self.etl.measure(seconds, traced)
        if traced:
            self.gate.measure(self.gate_seconds, traced)
        return res

    def report(self) -> list[str]:
        walls = " ".join(
            f"{b['progress']['durationMs']['triggerExecution'] / 1000.0:.2f}"
            f"/{b['progress'].get('numInputRows', 0)}"
            for b in self.etl.batches)
        return [f"etl batches in order (wall s / rows): {walls}"] + self.gate.report()

    def check(self) -> tuple[bool, list[str]]:
        ok, notes = self.etl.check()
        if self.gate.reps:
            ok_gate, notes_gate = self.gate.check()
            ok, notes = ok and ok_gate, notes + notes_gate
        return ok, notes

    def layer_metrics(self, spans: dict[str, eventlog.SpanRollup]) -> tuple[dict, list[dict]]:
        layers, splits = self.etl.layer_metrics(spans)
        gate_layers, gate_splits = self.gate.layer_metrics(spans)
        layers.update({k: gate_layers[k] for k in GATE_METRICS})
        return layers, splits + gate_splits


WORKLOADS = {w.name: w for w in (CatalogCold, StreamEtlGate, StreamGate)}
