"""Spans around layer calls, with Spark's own counters harvested per span.

A span is opened by the benchmark around each call it makes into a layer
of ``tslib_spark``. When tracing is off, ``Tracer.span`` does nothing. When
it is on, a span only records, at its two boundaries, the wall clock and
the DAG scheduler's next job id, and sets the Spark job description to its
name; everything else happens in ``harvest``, after the measured window:

- a job belongs to the innermost span whose id range holds it (its *self*
  work). The benchmark is a single closed-loop client, so the ranges
  partition the jobs exactly. Ids are used rather than job groups because
  streaming micro-batches run on the query's own thread, which does not
  inherit the caller's job group;
- per job: submission/completion times and, per stage that ran, task
  count, executor run and CPU time, GC time, input, output and shuffle
  bytes (``AppStatusStore.lastStageAttempt``);
- per SQL execution, credited to the span of its first job (or, without
  jobs, of its submission time): operator metrics of scans, writes and
  Python nodes (``SQLAppStatusStore.planGraph`` / ``executionMetrics``).

The time spent in the boundary bookkeeping is the tracing overhead inside
the window and is reported as such. Spans stay in memory until the run
ends.
"""

from __future__ import annotations

import re
import time
from collections import defaultdict
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

# SQL operator metrics kept per span: (node kind, metric name) -> key
_PY_NODE = re.compile(r"(InPandas|Python|InArrow)")
_SQL_KEYS = {
    ("scan", "number of files read"): "scan_files",
    ("scan", "size of files read"): "scan_bytes",
    ("scan", "number of output rows"): "scan_rows",
    ("scan", "scan time"): "scan_ms",
    ("python", "time to run Python workers"): "py_total_ms",
    ("python", "time to start Python workers"): "py_boot_ms",
    ("python", "time to initialize Python workers"): "py_init_ms",
    ("python", "data sent to Python workers"): "py_bytes_sent",
    ("python", "data returned from Python workers"): "py_bytes_received",
    ("python", "number of output rows"): "py_rows_out",
    ("write", "number of written files"): "files_written",
    ("write", "written output"): "bytes_written",
    ("write", "number of output rows"): "rows_written",
}
_UNITS = {
    "": 1.0, "B": 1.0, "KiB": 1024.0, "MiB": 1024.0**2, "GiB": 1024.0**3, "TiB": 1024.0**4,
    "ms": 1.0, "s": 1e3, "m": 6e4, "h": 3.6e6,
}
_NUM = re.compile(r"(-?[\d,]*\.?\d+)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """A formatted SQL metric -> bytes, ms or count. Handles "1,234",
    "12.3 MiB", "1.2 s" and the multi-task form whose second line starts
    with the total: "total (min, med, max ...)" newline "12.3 MiB (...)"."""
    body = text.split("\n", 1)[1] if "\n" in text else text
    m = _NUM.search(body)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


def _node_kind(name: str) -> str | None:
    if name.startswith("Scan"):
        return "scan"
    if "InsertInto" in name or name.startswith("Execute Save") or "WriteFiles" in name:
        return "write"
    if _PY_NODE.search(name):
        return "python"
    return None


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.phase = "window"  # also "setup", and "probe" for calls after the window
        self.bookkeeping_s: dict[str, float] = defaultdict(float)
        self._spans: list[dict] = []
        self._stack: list[dict] = []
        self._sc = spark.sparkContext
        if enabled:
            jsc = self._sc._jsc.sc()
            self._dag = jsc.dagScheduler()
            self._bus = jsc.listenerBus()
            self._app = jsc.statusStore()
            self._sql = spark._jsparkSession.sharedState().statusStore()
            self._exec_cursor = int(self._sql.executionsCount())

    # ------------------------------------------------------------ spans
    @contextmanager
    def span(self, name: str, layer: str, **counts):
        """Open a span; the yielded dict collects the caller's counts."""
        if not self.enabled:
            yield dict(counts)
            return
        t0 = time.perf_counter()
        rec = {
            "id": len(self._spans),
            "name": name,
            "layer": layer,
            "phase": self.phase,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "counts": dict(counts),
            "epoch": (time.time(), None),
            "job_lo": self._dag.nextJobId(),
        }
        self._spans.append(rec)
        self._stack.append(rec)
        self._sc.setJobDescription(name)
        rec["start"] = time.perf_counter()
        self.bookkeeping_s[self.phase] += rec["start"] - t0
        try:
            yield rec["counts"]
        finally:
            rec["end"] = t1 = time.perf_counter()
            rec["job_hi"] = self._dag.nextJobId()
            rec["epoch"] = (rec["epoch"][0], time.time())
            self._stack.pop()
            self._sc.setJobDescription(self._stack[-1]["name"] if self._stack else None)
            self.bookkeeping_s[self.phase] += time.perf_counter() - t1

    def count(self, key: str, n: float = 1) -> None:
        """Add to a count on the innermost open span (no-op when off)."""
        if self.enabled and self._stack:
            c = self._stack[-1]["counts"]
            c[key] = c.get(key, 0) + n

    # ---------------------------------------------------------- harvest
    def finished(self) -> list[dict]:
        """Harvest Spark's counters for every span; return the spans with
        their self figures, in start order."""
        self._bus.waitUntilEmpty()
        owner: dict[int, dict] = {}
        for rec in self._spans:  # parents start first, so children overwrite
            for jid in range(rec["job_lo"], rec["job_hi"]):
                owner[jid] = rec
        for rec in self._spans:
            rec.update(jobs=[], stage=defaultdict(float), sql=defaultdict(float), executions=0)
        for jid, rec in owner.items():
            self._harvest_job(rec, jid)
        n_exec = int(self._sql.executionsCount())
        if n_exec > self._exec_cursor:
            execs = self._sql.executionsList(self._exec_cursor, n_exec - self._exec_cursor)
            for i in range(execs.size()):
                ex = execs.apply(i)
                jobs = ex.jobs().keys().toList()
                ids = [int(jobs.apply(k)) for k in range(jobs.size())]
                rec = owner.get(min(ids)) if ids else self._span_at(ex.submissionTime() / 1e3)
                if rec is not None:
                    self._harvest_execution(rec, ex)
            self._exec_cursor = n_exec
        children_s = defaultdict(float)
        for rec in self._spans:
            if rec["parent"] is not None:
                children_s[rec["parent"]] += rec["end"] - rec["start"]
        out = []
        for rec in self._spans:
            wall = rec["end"] - rec["start"]
            self_s = max(0.0, wall - children_s[rec["id"]])
            busy = _union([iv for iv in rec["jobs"] if None not in iv])
            out.append({
                "id": rec["id"], "parent": rec["parent"], "name": rec["name"],
                "layer": rec["layer"], "phase": rec["phase"],
                "wall_s": wall, "self_s": self_s, "jobs": len(rec["jobs"]),
                "job_busy_s": busy, "driver_wait_s": max(0.0, self_s - busy),
                "executions": rec["executions"], "counts": rec["counts"],
                "stage": dict(rec["stage"]), "sql": dict(rec["sql"]),
            })
        return out

    def _span_at(self, epoch: float) -> dict | None:
        """The innermost span open at wall-clock time ``epoch``."""
        hits = [r for r in self._spans if r["epoch"][0] <= epoch <= r["epoch"][1]]
        return hits[-1] if hits else None

    def _harvest_job(self, rec: dict, jid: int) -> None:
        try:
            job = self._app.job(jid)
        except Py4JJavaError:  # an id the scheduler handed out without a job record
            return
        sub, done = job.submissionTime(), job.completionTime()
        rec["jobs"].append((
            sub.get().getTime() / 1e3 if sub.isDefined() else None,
            done.get().getTime() / 1e3 if done.isDefined() else None,
        ))
        st = rec["stage"]
        ids = job.stageIds()
        for k in range(ids.size()):
            sd = self._app.lastStageAttempt(ids.apply(k))
            if str(sd.status()) == "SKIPPED":
                continue
            st["stages"] += 1
            st["tasks"] += sd.numCompleteTasks()
            st["failed_tasks"] += sd.numFailedTasks()
            st["executor_run_s"] += sd.executorRunTime() / 1e3
            st["executor_cpu_s"] += sd.executorCpuTime() / 1e9
            st["gc_s"] += sd.jvmGcTime() / 1e3
            st["input_bytes"] += sd.inputBytes()
            st["input_records"] += sd.inputRecords()
            st["output_bytes"] += sd.outputBytes()
            st["shuffle_read_bytes"] += sd.shuffleReadBytes()
            st["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            st["shuffle_write_s"] += sd.shuffleWriteTime() / 1e9

    def _harvest_execution(self, rec: dict, ex) -> None:
        rec["executions"] += 1
        eid = ex.executionId()
        values = self._sql.executionMetrics(eid)
        nodes = self._sql.planGraph(eid).allNodes()
        for i in range(nodes.size()):
            node = nodes.apply(i)
            kind = _node_kind(node.name())
            if kind is None:
                continue
            metrics = node.metrics()
            for k in range(metrics.size()):
                m = metrics.apply(k)
                key = _SQL_KEYS.get((kind, m.name()))
                if key is None:
                    continue
                v = values.get(m.accumulatorId())
                if v.isDefined():
                    rec["sql"][key] += parse_metric(v.get())


def instrument_store(tracer: Tracer, store) -> None:
    """Span each per-tier ``materialize`` and each ``upsert_partitions``
    call of one TierStore instance, and count lineage manifest writes.

    Wraps bound methods on the instance only (the class is untouched), so
    calls made from inside the store (``materialize_chain`` ->
    ``self.materialize``) are seen too. No-op when tracing is off."""
    if not tracer.enabled:
        return

    materialize, upsert = store.materialize, store.upsert_partitions

    def traced_materialize(tier, source):
        with tracer.span(f"retention.materialize.{tier}", "operators.retention") as c:
            written = materialize(tier, source)
            c["partitions_written"] = len(written)
        return written

    def traced_upsert(tier, source, part_keys):
        with tracer.span("retention.upsert_partitions", "operators.retention") as c:
            written = upsert(tier, source, part_keys)
            c["partitions_written"] = c["partitions_rewritten"] = len(written)
        return written

    store.materialize, store.upsert_partitions = traced_materialize, traced_upsert
    for name in ("mark", "mark_many"):
        inner = getattr(store.checkpoint, name)

        def counted(*args, _inner=inner, **kwargs):
            tracer.count("generations_written")
            return _inner(*args, **kwargs)

        setattr(store.checkpoint, name, counted)


def _union(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def seconds_table(spans: list[dict]) -> str:
    """Markdown "where the seconds go" of the window and probe spans, per
    span name, largest self time first."""
    rows: dict[tuple, dict] = {}
    for s in spans:
        if s["phase"] == "setup":
            continue
        r = rows.setdefault(
            (s["name"], s["phase"]),
            {"layer": s["layer"], "calls": 0, "wall": 0.0, "self": 0.0, "wait": 0.0,
             "jobs": 0, "stages": 0.0, "tasks": 0.0, "run": 0.0, "shuffle": 0.0},
        )
        r["calls"] += 1
        r["wall"] += s["wall_s"]
        r["self"] += s["self_s"]
        r["wait"] += s["driver_wait_s"]
        r["jobs"] += s["jobs"]
        r["stages"] += s["stage"].get("stages", 0)
        r["tasks"] += s["stage"].get("tasks", 0)
        r["run"] += s["stage"].get("executor_run_s", 0)
        r["shuffle"] += s["stage"].get("shuffle_write_bytes", 0)
    window_self = sum(r["self"] for (_, phase), r in rows.items() if phase == "window") or 1.0
    lines = [
        "| span | layer | phase | calls | wall s | self s | % of window | driver wait s | jobs | stages | tasks | executor run s | shuffle KiB |",
        "|---|---|---|---:|---:|---:|---:|---:|---:|---:|---:|---:|---:|",
    ]
    for (name, phase), r in sorted(rows.items(), key=lambda kv: (kv[0][1] != "window", -kv[1]["self"])):
        share = f"{100 * r['self'] / window_self:.1f}" if phase == "window" else ""
        lines.append(
            f"| {name} | {r['layer']} | {phase} | {r['calls']} | {r['wall']:.2f} | {r['self']:.2f} "
            f"| {share} | {r['wait']:.2f} | {r['jobs']} | {r['stages']:.0f} | {r['tasks']:.0f} "
            f"| {r['run']:.2f} | {r['shuffle'] / 1024:.1f} |"
        )
    return "\n".join(lines)
