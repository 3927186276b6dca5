"""Shared pieces of the benchmark: the run context, the order-insensitive value
hash both workloads check outputs with, and small statistics helpers."""

from __future__ import annotations

import hashlib
import math
import os
import resource
import statistics
import sys
import time
from dataclasses import dataclass
from datetime import date, datetime, timezone


@dataclass
class Context:
    spark: object
    tracer: object  # trace.Tracer
    seed: int
    seconds: float
    tiny: bool
    tamper: bool
    work: str  # per-run scratch dir, removed at exit
    cache: str  # kept between runs: generated lakes, oracle hashes
    cpu: "CpuClock"
    attempted: int = 0
    failed: int = 0

    def check(self, ok: bool, what: str) -> bool:
        """Count one operation; a failed check is a failed operation."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"# CHECK FAILED: {what}", file=sys.stderr)
        return ok


def _cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, datetime):
        if v.tzinfo is not None:
            v = v.astimezone(timezone.utc).replace(tzinfo=None)
        return v.isoformat(sep=" ", timespec="microseconds")
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, bool):
        return "true" if v else "false"
    return str(v)


def value_hash(cols: list[str], rows: list[tuple]) -> str:
    """md5 over rows sorted after sorting columns by lower-cased name: equal
    for equal result sets whatever the row or column order."""
    order = sorted(range(len(cols)), key=lambda i: cols[i].lower())
    canon = sorted(tuple(_cell(r[i]) for i in order) for r in rows)
    h = hashlib.md5()
    for row in canon:
        h.update("\x1f".join(row).encode())
        h.update(b"\x1e")
    return h.hexdigest()


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def geomean(xs) -> float:
    xs = [x for x in xs if x > 0]
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else 0.0


def schedule(seconds: float, trace: bool, at_least: int = 1):
    """Yield the index of each unit of work (a cycle or a pass).

    ``at_least`` units always run, so that every run measures the same work
    however busy the host is; more follow while the next one, if it takes as
    long as the last, still ends within ``seconds``. A traced run runs the
    first unit only, so that its spans describe the same unit an untraced
    run's first sample measures.
    """
    if trace:
        yield 0
        return
    start = time.perf_counter()
    index = 0
    while True:
        t0 = time.perf_counter()
        yield index
        index += 1
        now = time.perf_counter()
        if index >= at_least and now - start + (now - t0) > seconds:
            return


class CpuClock:
    """CPU seconds used so far by this process, the JVM and every process
    the JVM started (Python workers), counting children they have reaped.

    Wall time on a shared host moved by up to 1.6x between runs minutes
    apart; CPU time moves far less. ``read(jit=False)`` leaves out the JVM's
    JIT compiler threads: on warm work their background compiling lands in
    whichever step happens to be running, while on cold work it is a steady
    part of the cost.
    """

    JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid
        self.tick = os.sysconf("SC_CLK_TCK")
        # compiler thread -> ticks when last seen, kept after it exits
        self._jit: dict[str, int] = {}

    @staticmethod
    def _stat(path: str) -> tuple[str, list[str]] | None:
        try:
            with open(path) as f:
                text = f.read()
        except OSError:
            return None  # exited meanwhile
        head, _, rest = text.rpartition(")")
        return head.partition("(")[2], rest.split()

    def _tree(self) -> list[int]:
        children: dict[int, list[int]] = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                st = self._stat(f"/proc/{name}/stat")
                if st is not None:
                    children.setdefault(int(st[1][1]), []).append(int(name))
        tree, todo = [], [self.jvm_pid]
        while todo:
            pid = todo.pop()
            tree.append(pid)
            todo.extend(children.get(pid, ()))
        return tree

    def read(self, jit: bool = True) -> float:
        ticks = 0
        for pid in self._tree():
            st = self._stat(f"/proc/{pid}/stat")
            if st is not None:
                ticks += sum(int(x) for x in st[1][11:15])
        if not jit:
            task_dir = f"/proc/{self.jvm_pid}/task"
            for tid in os.listdir(task_dir):
                st = self._stat(f"{task_dir}/{tid}/stat")
                if st is not None and st[0].startswith(self.JIT_THREADS):
                    self._jit[tid] = int(st[1][11]) + int(st[1][12])
            ticks -= sum(self._jit.values())
        ru = resource.getrusage(resource.RUSAGE_SELF)
        return ru.ru_utime + ru.ru_stime + ticks / self.tick
