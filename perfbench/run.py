"""One benchmark run: set up, measure, check, report.

    python3 perfbench/run.py --workload catalog-cold --seed 1 --seconds 10 --trace 0

Run from the repository root. The run builds its stream inputs from
``--seed`` under ``perfbench/.work/`` (removed on exit; the catalog reads
the committed tables in ``perfbench/data/``), measures the workload for
``--seconds`` seconds, checks every output, prints a human-readable report
and, as its last line, one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics of ``BENCHMARK.json``;
``--trace 1`` measures half of ``--seconds`` untraced, restarts the session
with Spark's event log on, measures the other half and reports the
per-layer metrics plus the trace overhead. A wrong output exits with
status 1, a failure to start (e.g. no engine next to the benchmark) with
status 2.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _fail_start(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _isolate(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``."""
    for sub in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = os.environ["TMPDIR"]
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_DRIVER_JAVA_OPTS"] = (
        f"-XX:ReservedCodeCacheSize=512m -Djava.io.tmpdir={os.environ['TMPDIR']}"
    )
    os.environ["TZ"] = "UTC"
    time.tzset()


def _session(work: str, traced: bool):
    from mbgspark.session import get_spark

    conf = {
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.streaming.numRecentProgressUpdates": "1000",
    }
    if traced:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark("perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_jvm() -> None:
    """End the py4j gateway JVM and every process under it (Python UDF
    workers included), and wait until each has exited."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    children = _descendants(os.getpid())
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.time() + 30
    while children and time.time() < deadline:
        children = [p for p in children if os.path.exists(f"/proc/{p}")
                    and _state(p) != "Z"]
        time.sleep(0.05)
    for p in children:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def _state(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/stat", encoding="ascii") as f:
            return f.read().rsplit(")", 1)[1].split()[0]
    except OSError:
        return "X"


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status", encoding="ascii") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _descendants(root_pid: int) -> list[int]:
    """Every live process below ``root_pid``."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", encoding="ascii") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root_pid]
    while todo:
        kids = children.get(todo.pop(), [])
        out.extend(kids)
        todo.extend(kids)
    return out


def _jvm_pids(root_pid: int) -> list[int]:
    out = []
    for pid in _descendants(root_pid):
        try:
            with open(f"/proc/{pid}/comm", encoding="ascii") as f:
                if f.read().strip() == "java":
                    out.append(pid)
        except OSError:
            pass
    return out


def peak_rss_mb() -> float:
    """Peak RSS of this Python process plus the driver JVM, in MB."""
    kb = _vm_hwm_kb(os.getpid()) + sum(_vm_hwm_kb(p) for p in _jvm_pids(os.getpid()))
    return kb / 1024.0


def box_probe_s() -> float:
    """Seconds a fixed pure-Python loop takes: a stamp of how fast the box
    ran around this run (it swings with neighbour load), not a metric."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(1_000_000):
        acc += i * i % 7
    return time.perf_counter() - t0


def _line(name: str, unit: str, values: list[float]) -> str:
    from perfbench.stats import summary

    s = summary(values)
    return (f"  {name:<24} {unit:<7} median {s['median']:10.4f}  "
            f"q1 {s['q1']:10.4f}  q3 {s['q3']:10.4f}  n {s['n']}")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    t_run = time.perf_counter()

    if not os.path.isdir(os.path.join(ROOT, "mbgspark")):
        _fail_start(f"no engine package next to the benchmark (looked in {ROOT})")
    sys.path.insert(0, ROOT)
    from perfbench import eventlog, stats
    from perfbench.workloads import LAYER_METRICS, WORKLOADS, Failures

    if args.workload not in WORKLOADS:
        _fail_start(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    # two task slots leave the JVM's compiler and GC threads, the Python
    # driver and the stream's generator cores of their own on a 4-core box
    cpus = os.environ.setdefault("SPARK_GRAFT_CPUS", str(min(2, os.cpu_count() or 1)))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    work = os.path.join(HERE, ".work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    _isolate(work)
    load_before = os.getloadavg()
    probe_before = box_probe_s()

    failures = Failures()
    spark = None
    try:
        t0 = time.perf_counter()
        spark = _session(work, traced=False)
        session_s = time.perf_counter() - t0
        wl = WORKLOADS[args.workload](spark, work, args.seed, failures)
        seed_s = []
        for _ in range(wl.setup_reps):
            t0 = time.perf_counter()
            wl.seed_once()
            seed_s.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        wl.warm()
        warm_s = time.perf_counter() - t0
        setup_s = session_s + (statistics.median(seed_s) if seed_s else 0.0) + warm_s

        # a traced run splits --seconds between an untraced and a traced
        # window of equal length, for the trace overhead
        window = args.seconds / 2 if args.trace else args.seconds
        res = wl.measure(window, traced=False)
        untraced = res
        if args.trace:
            spark.stop()
            spark = _session(work, traced=True)
            wl.spark = spark
            wl.rewarm()
            res = wl.measure(window, traced=True)
        correct, notes = wl.check()
        rss = peak_rss_mb()
        spark.stop()  # also closes the event log
        spark = None
        if args.trace:
            spans = eventlog.rollup(eventlog.read_events(os.path.join(work, "eventlog")))
    finally:
        if spark is not None:
            spark.stop()
        _stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    load_after = os.getloadavg()
    probe_after = box_probe_s()

    print(f"perfbench {args.workload} seed={args.seed} seconds={args.seconds} "
          f"trace={args.trace}")
    print(f"  stamps: nproc {os.cpu_count()}  SPARK_GRAFT_CPUS {cpus}  "
          f"loadavg before {load_before}  after {load_after}  "
          f"box probe before {probe_before:.3f} s  after {probe_after:.3f} s")
    print(f"  setup: session {session_s:.3f} s, seeding {[round(s, 3) for s in seed_s]} s "
          f"(median counted), warm-up {warm_s:.3f} s")
    if wl.name.startswith("stream") and wl.gen_late:
        print(f"  gen.late_s.max {max(wl.gen_late):.4f}  "
              f"capacity_rows_per_s {res.get('capacity_rows_per_s', 0.0):.1f}  "
              f"backlog_growing {res.get('backlog_growing')}")
    for line in wl.report():
        print("  " + line)
    print(f"  correct {correct}: " + "; ".join(notes))

    metrics: dict[str, dict] = {}
    ok_measure = bool(res["pass_s"]) and bool(res["latency_s"])
    if not ok_measure:
        failures.fail(f"{args.workload} measurement", "no completed pass or batch")
    elif args.trace == 0:
        print(_line("setup_s", "s", [setup_s]))
        print(_line("pass_s", "s", res["pass_s"]))
        if "pass_walls" in res:
            print(_line("(pass wall)", "s", res["pass_walls"]))
            print("  pass walls in order: " + " ".join(f"{w:.3f}" for w in res["pass_walls"]))
        print(_line("latency_s", "s", res["latency_s"]))
        print(_line("peak_rss_mb", "MB", [rss]))
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "pass_s": {"value": statistics.median(res["pass_s"]), "unit": "s"},
            "latency_s.p50": {"value": stats.percentile(res["latency_s"], 50), "unit": "s"},
            "latency_s.p90": {"value": stats.percentile(res["latency_s"], 90), "unit": "s"},
            "peak_rss_mb": {"value": rss, "unit": "MB"},
        }
    else:
        layers, splits = wl.layer_metrics(spans)
        layers["trace.overhead_s"] = (
            statistics.median(res["pass_s"]) - statistics.median(untraced["pass_s"])
            if untraced["pass_s"] else 0.0
        )
        print("  self time per traced span (the layers must add up to the span's "
              "separately measured wall, none negative):")
        for sp in splits:
            total = sum(sp["self"].values())
            parts = "  ".join(f"{k} {v:.4f}" for k, v in sp["self"].items())
            print(f"    {sp['span']:<12} wall {sp['wall_s']:.4f}, sum {total:.4f}: {parts}")
            for problem in sp["problems"]:
                failures.fail(f"self-time split of {sp['span']}", problem)
        print(f"  trace.overhead_s {layers['trace.overhead_s']:.4f} "
              "(traced minus untraced median pass_s)")
        for k, v in layers.items():
            print(f"  {k:<28} {v:.6g}")
        units = {**LAYER_METRICS, "trace.overhead_s": "s"}
        metrics = {k: {"value": v, "unit": units[k]} for k, v in layers.items()}

    correct = correct and failures.failed == 0
    failed_frac = failures.failed / max(failures.attempted, 1)
    print(f"  failed_frac {failed_frac:.4f} ({failures.failed}/{failures.attempted})")
    print(f"  run wall {time.perf_counter() - t_run:.1f} s")
    print(json.dumps({
        "correct": correct, "attempted": failures.attempted,
        "failed": failures.failed, "metrics": metrics,
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
