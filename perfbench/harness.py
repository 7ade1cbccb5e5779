"""Closed-loop op runner and the end-to-end metric summaries.

One client runs one op at a time. Every op gets a timeout and a check
against its oracle; the check runs after the op's clock has stopped.
An op fails when it raises, times out or its check fails. Latency
statistics use successful timed ops only.
"""

from __future__ import annotations

import itertools
import math
import os
import re
import statistics
import threading
import time
from dataclasses import dataclass, field

# Percentiles tried for ``op_tail_s``, highest first.
TAIL_GRID = (99.0, 95.0, 90.0, 75.0, 50.0)


@dataclass
class Op:
    name: str
    group: str
    wall_s: float
    ok: bool
    timed: bool
    known_defect: bool = False
    error: str | None = None
    items: int = 0
    progress: dict | None = None
    counters: dict | None = None


def nearest_rank(xs: list[float], p: float) -> float:
    s = sorted(xs)
    return s[max(0, math.ceil(p / 100.0 * len(s)) - 1)]


def tail(xs: list[float]) -> tuple[float, float]:
    """(percentile, value) of the highest grid percentile that leaves at
    least ten samples above its rank; (100, max) when there are fewer
    than twenty samples."""
    n = len(xs)
    for p in TAIL_GRID:
        if n - math.ceil(p / 100.0 * n) >= 10:
            return p, nearest_rank(xs, p)
    return 100.0, max(xs)


class MemorySampler:
    """High-water memory of a process tree (the driver JVM and the Python
    workers it forks), sampled every 250 ms as the sum of each process's
    proportional set size: resident pages, with the pages that forked
    Python workers share counted once."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.root_pid: int | None = None
        self.peak_bytes = 0
        self.peak_root_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def start(self, root_pid: int) -> None:
        self.root_pid = root_pid
        self._thread.start()

    def _tree(self, pid: int) -> list[int]:
        out, todo = [], [pid]
        while todo:
            p = todo.pop()
            out.append(p)
            try:
                for tid in os.listdir(f"/proc/{p}/task"):
                    with open(f"/proc/{p}/task/{tid}/children") as fh:
                        todo.extend(int(c) for c in fh.read().split())
            except OSError:
                continue
        return out

    @staticmethod
    def _pss(pid: int) -> int:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
        return 0

    def sample(self) -> int:
        total = 0
        for p in self._tree(self.root_pid):
            try:
                pss = self._pss(p)
            except (OSError, ValueError):
                continue
            total += pss
            if p == self.root_pid:
                self.peak_root_bytes = max(self.peak_root_bytes, pss)
        self.peak_bytes = max(self.peak_bytes, total)
        return total

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def retained(self, spark) -> dict:
        """Memory kept once the JVM has run full collections, in bytes:
        the JVM's own count of used heap and non-heap memory, plus the
        proportional set size of the (idle) Python workers; ``total`` is
        their sum. Unlike the sampled peak, it does not depend on when
        the collector chose to grow the heap."""
        jvm = spark.sparkContext._jvm
        # the first collection hands unreachable broadcasts and shuffles
        # to Spark's ContextCleaner, which drops their blocks shortly
        # after; the second one then frees what those blocks held
        jvm.java.lang.System.gc()
        time.sleep(1.0)
        jvm.java.lang.System.gc()
        mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        workers = self._tree(self.root_pid)[1:]
        out = {"heap": mx.getHeapMemoryUsage().getUsed(),
               "non_heap": mx.getNonHeapMemoryUsage().getUsed(),
               "python_workers": 0, "python_worker_count": len(workers)}
        for p in workers:
            try:
                out["python_workers"] += self._pss(p)
            except (OSError, ValueError):
                continue
        out["total"] = out["heap"] + out["non_heap"] + out["python_workers"]
        return out

    def stop(self) -> None:
        self._stop.set()
        if self._thread.is_alive():
            self._thread.join(timeout=2)


def _chain(exc: BaseException) -> str:
    """Type and full message of an exception and of each exception it
    was raised from, for matching against a known defect."""
    out = []
    while exc is not None and len(out) < 8:
        out.append(f"{type(exc).__name__}: {exc}")
        exc = exc.__cause__ or exc.__context__
    return "\n".join(out)


@dataclass
class Harness:
    spark: object
    tracer: object
    progress: object = None
    op_timeout_s: float = 60.0
    ops: list[Op] = field(default_factory=list)
    drains: list[Op] = field(default_factory=list)
    timed: bool = False
    _ids = itertools.count()

    def call(self, name: str, group: str, fn, check=None, items: int = 0,
             known_defect: str | None = None, timeout: float | None = None,
             expand=None):
        """Run ``fn()`` as one op; returns its value (None on failure).

        ``check(value)`` returns None when the output is right, else a
        reason. ``known_defect`` is a regular expression for the failure
        a documented defect causes at this commit: a failure whose
        exception chain or mismatch reason matches it is still counted,
        but as a known-defect failure; any other failure is unexpected.
        ``expand(op, progress)`` replaces a successful streaming drain by
        one op per micro-batch, from the listener's progress events.
        """
        timeout = self.op_timeout_s if timeout is None else timeout
        sc = self.spark.sparkContext
        group_id = f"perfbench-{next(self._ids)}"
        box: dict = {}

        def target():
            sc.setJobGroup(group_id, name, interruptOnCancel=True)
            box["t0"] = time.perf_counter()
            try:
                box["value"] = fn()
            except Exception as exc:  # the op's failure is the result
                box["error"] = f"{type(exc).__name__}: {str(exc)[:300]}"
                box["chain"] = _chain(exc)
            box["t1"] = time.perf_counter()

        span = self.tracer.begin(name, group)
        worker = threading.Thread(target=target, daemon=True)
        worker.start()
        worker.join(timeout)
        if worker.is_alive():
            # the worker may still finish later; nothing it writes is read
            sc.cancelJobGroup(group_id)
            wall, value = timeout, None
            error = f"OpTimeout: no result within {timeout:.0f}s"
        else:
            wall, value = box["t1"] - box["t0"], box.get("value")
            error = box.get("error")
        self.tracer.end(span)
        cause = box.get("chain", error)
        if error is None and check is not None:
            try:
                reason = check(value)
            except Exception as exc:  # a crashing check is a failed op
                reason = f"check raised {type(exc).__name__}: {exc}"
            if reason is not None:
                error = cause = f"mismatch: {reason}"
        defect = (error is not None and known_defect is not None
                  and re.search(known_defect, cause) is not None)
        op = Op(name=name, group=group, wall_s=wall,
                ok=error is None, timed=self.timed, known_defect=defect,
                error=error, items=items if error is None else 0)
        self.tracer.after_op(op, span)
        if span is not None:
            op.counters = span.counters
        if expand is not None:
            progress = self.progress.drain()
            if op.ok:
                self.drains.append(op)
                self.ops.extend(expand(op, progress))
                return value
        self.ops.append(op)
        return value if error is None else None

    # -- summaries ----------------------------------------------------
    def timed_ok(self) -> list[Op]:
        return [o for o in self.ops if o.timed and o.ok]

    def latency(self) -> dict:
        walls = [o.wall_s for o in self.timed_ok()]
        if not walls:
            return {"op_p50_s": float("nan"), "op_tail_s": float("nan"),
                    "tail_percentile": None, "samples": 0}
        p, v = tail(walls)
        return {"op_p50_s": statistics.median(walls), "op_tail_s": v,
                "tail_percentile": p, "samples": len(walls)}

    def items_per_s(self, groups: set[str]) -> float:
        """Items per second of the wall time of the successful timed ops
        in ``groups``."""
        ops = [o for o in self.timed_ok() if o.group in groups]
        wall = sum(o.wall_s for o in ops)
        return sum(o.items for o in ops) / wall if wall else float("nan")

    def failures(self) -> dict:
        failed = [o for o in self.ops if not o.ok]
        return {
            "attempted": len(self.ops),
            "failed": len(failed),
            "unexpected": [f"{o.name}: {o.error}" for o in failed
                           if not o.known_defect],
            "known_defect": [f"{o.name}: {o.error}" for o in failed
                             if o.known_defect],
        }
