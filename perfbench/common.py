"""Shared pieces of the workloads: run context, checks, process-tree probes."""

from __future__ import annotations

import hashlib
import os
import sys
import threading
import traceback
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path

KEYS = ["url", "lang"]
ROOT = Path(__file__).resolve().parent.parent


def code_hash(extra: list[Path] = ()) -> str:
    """sha256 over the tslib_spark sources (and ``extra`` files)."""
    h = hashlib.sha256()
    for p in [*sorted((ROOT / "tslib_spark").rglob("*.py")), *extra]:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


class Checks:
    """Counts attempted and failed operations and correctness checks.

    A failure is recorded with its reason on stderr and never aborts the
    run; the result line reports the totals."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    def check(self, name: str, ok: bool, detail: str = "") -> bool:
        self.attempted += 1
        if not ok:
            self._fail(f"check {name} failed {detail}".rstrip())
        return bool(ok)

    @contextmanager
    def op(self, name: str):
        """Count one operation; an exception inside marks it failed."""
        self.attempted += 1
        try:
            yield
        except Exception as e:  # the boundary that must keep the run going
            self._fail(f"op {name} raised {type(e).__name__}", traceback.format_exc())

    def _fail(self, summary: str, detail: str = "") -> None:
        self.failed += 1
        self.failures.append(summary[:300])
        print(f"[perfbench] {summary}\n{detail}".rstrip(), file=sys.stderr)


@dataclass
class Ctx:
    spark: object
    tracer: object
    checks: Checks
    seed: int
    work: Path
    cache: Path
    info: dict = field(default_factory=dict)


# ------------------------------------------------------------- process tree
def _proc_table() -> dict[int, tuple[int, float, int]]:
    """pid -> (ppid, cpu seconds incl. reaped children, rss bytes)."""
    tick = os.sysconf("SC_CLK_TCK")
    page = os.sysconf("SC_PAGE_SIZE")
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # fields[0] is state (field 3); ppid=4, utime..cstime=14..17, rss=24
        ppid = int(fields[1])
        cpu = sum(int(x) for x in fields[11:15]) / tick
        out[int(d)] = (ppid, cpu, int(fields[21]) * page)
    return out


def tree_pids(root: int, table: dict) -> list[int]:
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


class TreeMonitor:
    """Samples the RSS of this process and all its descendants (the
    Spark JVM and its Python workers) and keeps the peak."""

    INTERVAL_S = 0.25

    def __init__(self):
        self.peak_rss = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    def _loop(self):
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.INTERVAL_S)

    def sample(self) -> None:
        table = _proc_table()
        rss = sum(table[p][2] for p in tree_pids(os.getpid(), table) if p in table)
        self.peak_rss = max(self.peak_rss, rss)

    @staticmethod
    def cpu_seconds() -> float:
        """CPU seconds used so far by the live process tree, including
        children it has already reaped (finished Python workers)."""
        table = _proc_table()
        return sum(table[p][1] for p in tree_pids(os.getpid(), table) if p in table)


def steal_seconds() -> float:
    """CPU time taken from this host's CPUs by other guests of the
    hypervisor so far (``steal`` in /proc/stat, all CPUs)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def median(xs: list[float]) -> float:
    s = sorted(xs)
    n = len(s)
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def latency_summary(xs: list[float]) -> dict:
    """Median, and p90 only when at least ten samples lie beyond it."""
    n = len(xs)
    out = {"n": n}
    if xs:
        out["p50_ms"] = median(xs) * 1e3
        p90 = int(0.9 * n)
        if n - p90 - 1 >= 10:
            out["p90_ms"] = sorted(xs)[p90] * 1e3
    return out


def dir_bytes(path) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total
