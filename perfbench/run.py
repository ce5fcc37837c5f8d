#!/usr/bin/env python3
"""Paper-path benchmark of tslib_spark: one workload, one seed, one run.

    python3 perfbench/run.py --workload pipeline --seed 1 --seconds 10 --trace 0

Run from the repository root. Workloads: ``pipeline`` (the north-star batch
job) and ``serve`` (range reads, aggregates and streaming upserts against a
stored store); see README.md.

With ``--trace 0`` the run measures the end-to-end metrics with tracing
off. With ``--trace 1`` the same window runs with a span around every
layer call; the run reports per-layer metrics harvested from Spark after
the window, and the tracing overhead (time spent at span boundaries as a
share of the operations' time). Every operation's output is checked;
failures are counted, never fatal. Standard output carries exactly two
lines: a self-describing report, then the result line ``{"correct",
"attempted", "failed", "metrics"}``. Everything the run writes stays
under ``.perfbench_work/`` (removed at the end), ``.perfbench_cache/``
(the ``serve`` store, reused by later runs) and ``.perfbench_out/``
(traces) in the current directory.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time
from collections import defaultdict
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SETUP_REPS = 5
MAX_CORES = 4
STOP_STARTING_AFTER_S = 140  # no new cycle after this; a run must end within 180 s


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["pipeline", "serve"])
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=[0, 1])
    return ap.parse_args(argv)


def code_fingerprint() -> dict:
    from common import code_hash

    try:
        commit = subprocess.run(
            ["git", "-C", str(ROOT), "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        ).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        commit = None
    return {"git_commit": commit, "tslib_spark_sha256": code_hash()}


def measure(wl, seconds: float, checks, stop_at: float):
    """Run whole cycles of the workload's mix until ``seconds`` have passed
    (at least one cycle). Returns per-kind wall-clock latencies, per-kind
    CPU seconds the process tree spent inside each operation (checks
    excluded) and the window's wall time."""
    from common import TreeMonitor

    lat, cpu = defaultdict(list), defaultdict(list)
    t0 = time.perf_counter()
    while True:
        with checks.op("cycle"):
            for kind, run, check in wl.cycle():
                with checks.op(kind):
                    c, t = TreeMonitor.cpu_seconds(), time.perf_counter()
                    result = run()
                    lat[kind].append(time.perf_counter() - t)
                    cpu[kind].append(TreeMonitor.cpu_seconds() - c)
                    check(result)
        now = time.perf_counter()
        if now - t0 >= seconds or now >= stop_at:
            break
    return lat, cpu, time.perf_counter() - t0


def _finite(obj):
    """NaN and infinities (an operation kind with no sample) become null."""
    if isinstance(obj, float):
        return obj if math.isfinite(obj) else None
    if isinstance(obj, dict):
        return {k: _finite(v) for k, v in obj.items()}
    if isinstance(obj, (list, tuple)):
        return [_finite(v) for v in obj]
    return obj


def stop_spark(spark) -> None:
    """Stop the session, end the gateway JVM and wait for every process
    this run started to exit."""
    from pyspark import SparkContext

    from common import _proc_table, tree_pids

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)
    deadline = time.time() + 30
    while True:
        left = [p for p in tree_pids(os.getpid(), _proc_table()) if p != os.getpid()]
        if not left:
            return
        if time.time() > deadline:
            for p in left:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.time() + 10
        time.sleep(0.2)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "tslib_spark" / "__init__.py").is_file():
        print(f"perfbench: no tslib_spark package under {ROOT}; run from a checkout "
              "of the repository", file=sys.stderr)
        return 2
    if args.seconds < 1:
        print("perfbench: --seconds must be at least 1", file=sys.stderr)
        return 2
    started = time.perf_counter()

    # host shape, before pyspark starts a JVM or Python workers
    os.environ["TZ"] = "UTC"
    time.tzset()
    cores = min(len(os.sched_getaffinity(0)), MAX_CORES)
    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    out_dir = ROOT / ".perfbench_out"
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ["TMPDIR"] = str(work / "tmp")
    # every JVM (the launcher and the driver): temp files in the work
    # directory, and no hsperfdata file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}"
    sys.path.insert(0, str(ROOT))
    load_at_start = os.getloadavg()
    # keep stdout for the two result lines: everything else, the JVM and
    # Python workers included, writes to stderr
    result_fd = os.dup(1)
    os.dup2(2, 1)

    from common import Checks, Ctx, TreeMonitor, median, steal_seconds
    from layers import per_layer
    from pipeline import Pipeline
    from serve import Serve
    from spans import Tracer, seconds_table
    from tslib_spark.session import get_spark

    checks = Checks()
    report: dict = {}
    try:
        with TreeMonitor() as mon:
            spark = get_spark(
                f"perfbench-{args.workload}",
                master=f"local[{cores}]",
                extra_conf={
                    "spark.local.dir": str(work / "spark-local"),
                    "spark.sql.warehouse.dir": str(work / "warehouse"),
                    "spark.ui.retainedJobs": "100000",
                    "spark.ui.retainedStages": "100000",
                    "spark.sql.ui.retainedExecutions": "100000",
                },
            )
            spark.sparkContext.setLogLevel("ERROR")
            tracer = Tracer(spark, bool(args.trace))
            ctx = Ctx(spark, tracer, checks, args.seed, work, ROOT / ".perfbench_cache")
            wl = {"pipeline": Pipeline, "serve": Serve}[args.workload](ctx)

            tracer.phase = "setup"
            wl.prepare()
            setup_s = []
            for _ in range(SETUP_REPS):
                t = time.perf_counter()
                wl.setup()
                setup_s.append(time.perf_counter() - t)
            tracer.phase = "window"
            steal0 = steal_seconds()
            lat, cpu, window_s = measure(wl, args.seconds, checks, started + STOP_STARTING_AFTER_S)
            steal_s = steal_seconds() - steal0
            ops = [x for xs in lat.values() for x in xs]
            ops_cpu = [x for xs in cpu.values() for x in xs]
            mon.sample()
            named = {k: {"value": v, "unit": u} for k, (v, u) in wl.named(lat).items()}
            e2e = {
                "setup_s": {"value": median(setup_s), "unit": "s"},
                "op_cpu_p50_s": {"value": median(ops_cpu) if ops else float("nan"), "unit": "s"},
                "cpu_s_per_op": {"value": sum(ops_cpu) / len(ops) if ops else float("nan"), "unit": "s"},
            }
            wall = {
                "op_p50_ms": {"value": median(ops) * 1e3 if ops else float("nan"), "unit": "ms"},
                "op_mean_ms": {"value": sum(ops) / len(ops) * 1e3 if ops else float("nan"), "unit": "ms"},
            }
            report = {
                "workload": args.workload, "seed": args.seed, "trace": args.trace,
                "seconds": args.seconds, "window_s": window_s,
                "inputs": wl.inputs(),
                "ops": {k: len(v) for k, v in lat.items()},
                "setup_s_samples": setup_s,
                "named_metrics": {
                    **named,
                    **wall,
                    "setup_s": e2e["setup_s"],
                    "peak_rss_mb": {"value": mon.peak_rss / 2**20, "unit": "MB"},
                },
                "host": {"cores_used": cores, "nproc": os.cpu_count(),
                         "loadavg_at_start": load_at_start,
                         # CPU time other guests took from the host's CPUs
                         # during the window: the wall-clock metrics grow with it
                         "cpu_steal_s_in_window": steal_s},
                "code": code_fingerprint(),
                "spark_version": spark.version,
                **ctx.info,
            }
            metrics = e2e
            if args.trace:
                # the window above was traced; its bookkeeping is the overhead
                overhead = tracer.bookkeeping_s["window"] / max(sum(ops), 1e-9)
                tracer.phase = "probe"
                wl.probes()
                spans = tracer.finished()
                metrics = per_layer(spans, cores, overhead)
                report["tracing_overhead_frac"] = overhead
                stem = out_dir / f"{args.workload}-seed{args.seed}"
                out_dir.mkdir(exist_ok=True)
                trace_file = Path(f"{stem}-trace.json")
                trace_file.write_text(json.dumps(
                    _finite({"report": report, "per_layer": metrics, "spans": spans}),
                    indent=1, default=str))
                Path(f"{stem}-seconds.md").write_text(seconds_table(spans) + "\n")
                report["trace_file"] = str(trace_file.relative_to(ROOT))
            stop_spark(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            (ROOT / ".perfbench_work").rmdir()
        except OSError:
            pass

    report["named_metrics"]["failed_frac"] = {
        "value": checks.failed / max(checks.attempted, 1), "unit": "fraction"}
    report["failures"] = checks.failures[:20]
    report["total_s"] = time.perf_counter() - started
    result = {
        "correct": checks.failed == 0,
        "attempted": max(checks.attempted, 1),
        "failed": checks.failed,
        "metrics": metrics,
    }
    with os.fdopen(result_fd, "w") as out:
        out.write(json.dumps(_finite({"report": report}), default=str) + "\n")
        out.write(json.dumps(_finite(result)) + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
