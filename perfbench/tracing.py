"""Traced runs: spans around the benchmark's calls into each layer, plus
Spark's own counters for the work each span caused.

Spans are kept in memory and written out when the run ends. Counters
come from two places:

- the Spark UI REST status API (jobs, stages and per-node SQL metrics,
  and the storage endpoint for checkpointed blocks), read after each op
  once the op's clock has stopped;
- ``spark.streams.addListener`` for micro-batch progress
  (``StreamProgress``, which untraced runs use as well).

Untraced runs use ``NullTracer``, which records no spans or counters.
"""

from __future__ import annotations

import datetime as dt
import json
import re
import threading
import time
import urllib.request
from dataclasses import dataclass, field

PYTHON_NODES = ("ArrowEvalPython", "BatchEvalPython", "MapInArrow",
                "MapInPandas", "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas",
                "AggregateInPandas", "WindowInPandas", "PythonMapInArrow",
                "FlatMapGroupsInPandasWithState", "ArrowWindowPython",
                "ArrowAggregatePython", "FlatMapGroupsInArrow")
JOIN_NODES = ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin",
              "BroadcastNestedLoopJoin", "CartesianProduct")
_UNITS = {"B": 1, "KiB": 1024, "MiB": 1024 ** 2, "GiB": 1024 ** 3,
          "TiB": 1024 ** 4, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
          "ns": 1e-9}
_NUM = re.compile(r"(-?[\d,]+(?:\.\d+)?)\s*(B|KiB|MiB|GiB|TiB|ms|ns|s|m|h)?\b")
MB = 1024 ** 2


def parse_metric(text: str) -> float:
    """First (total) value of a SQL UI metric string, in bytes, seconds
    or a plain count: ``"1,234"``, ``"12.5 MiB"`` or
    ``"total (min, med, max ...)\\n1.2 s (0 ms, ...)"``."""
    body = text.split("\n", 1)[1] if "\n" in text else text
    m = _NUM.search(body)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2) or "", 1.0)


def _epoch(ts: str | None) -> float | None:
    if not ts:
        return None
    return dt.datetime.strptime(ts.replace("GMT", "+0000"),
                                "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


def union_length(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


@dataclass
class Span:
    id: int
    name: str
    group: str
    parent: int | None
    start: float
    end: float = 0.0
    counters: dict = field(default_factory=dict)


class NullTracer:
    enabled = False

    def begin(self, name, group):
        return None

    def end(self, span):
        pass

    def after_op(self, op, span):
        pass


class StreamProgress:
    """Collects StreamingQueryListener events (progress as JSON). Used in
    every run: streaming ops are timed per micro-batch from them. The
    listener runs on py4j callback threads, hence the lock."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        outer = self
        self._lock = threading.Lock()
        self.progress: list[dict] = []
        self.running: set[str] = set()

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                with outer._lock:
                    outer.running.add(str(event.id))

            def onQueryProgress(self, event):
                with outer._lock:
                    outer.progress.append(json.loads(event.progress.json))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                with outer._lock:
                    outer.running.discard(str(event.id))

        self.listener = _Listener()
        spark.streams.addListener(self.listener)

    def drain(self, timeout: float = 5.0) -> list[dict]:
        """Progress events since the last drain, once every started query
        has reported its termination (the listener bus delivers a query's
        progress events before its termination)."""
        deadline = time.monotonic() + timeout
        while time.monotonic() < deadline:
            with self._lock:
                if not self.running:
                    break
            time.sleep(0.02)
        with self._lock:
            out, self.progress = self.progress, []
        return out


class Tracer:
    enabled = True

    def __init__(self, spark, run_id: str):
        self.spark = spark
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.collect_s = 0.0
        self.peak_block_bytes = 0
        self._seen_sql = 0
        self._seen_stage = -1
        self._seen_job = -1
        ui = spark.sparkContext.uiWebUrl
        port = ui.rsplit(":", 1)[1]
        app = spark.sparkContext.applicationId
        self._base = f"http://127.0.0.1:{port}/api/v1/applications/{app}"
        # start the cursors after the work done before tracing began
        self.collect(0.0, 0.0)

    # -- spans --------------------------------------------------------
    def begin(self, name: str, group: str) -> Span:
        parent = self._stack[-1].id if self._stack else None
        span = Span(len(self.spans), name, group, parent, time.time())
        self.spans.append(span)
        self._stack.append(span)
        return span

    def end(self, span: Span) -> None:
        span.end = time.time()
        self._stack.remove(span)

    def self_times(self) -> dict[int, float]:
        child: dict[int, list] = {}
        for s in self.spans:
            if s.parent is not None:
                child.setdefault(s.parent, []).append((s.start, s.end))
        return {s.id: (s.end - s.start) - union_length(child.get(s.id, []))
                for s in self.spans}

    # -- Spark counters -----------------------------------------------
    def _get(self, path: str):
        with urllib.request.urlopen(self._base + path, timeout=10) as r:
            return json.loads(r.read())

    def _new_sql(self) -> list[dict]:
        """SQL executions since the last call, waiting (up to 3 s) for
        the status store to record their completion."""
        deadline = time.monotonic() + 3.0
        while True:
            execs = self._get(f"/sql?details=true&planDescription=false"
                              f"&offset={self._seen_sql}&length=100000")
            if all(e.get("status") != "RUNNING" for e in execs) or \
                    time.monotonic() > deadline:
                break
            time.sleep(0.05)
        self._seen_sql += len(execs)
        return execs

    def _new_stages(self) -> list[dict]:
        deadline = time.monotonic() + 3.0
        while True:
            stages = [s for s in self._get("/stages")
                      if s["stageId"] > self._seen_stage]
            if all(s["status"] not in ("ACTIVE", "PENDING") for s in stages) \
                    or time.monotonic() > deadline:
                break
            time.sleep(0.05)
        if stages:
            self._seen_stage = max(s["stageId"] for s in stages)
        return stages

    def _new_jobs(self) -> int:
        jobs = [j for j in self._get("/jobs") if j["jobId"] > self._seen_job]
        if jobs:
            self._seen_job = max(j["jobId"] for j in jobs)
        return len(jobs)

    def after_op(self, op, span: Span) -> None:
        t = time.perf_counter()
        span.counters = self.collect(span.start, span.end)
        self.collect_s += time.perf_counter() - t

    def collect(self, start: float, end: float) -> dict:
        """Counters for the Spark work since the previous collect."""
        c = {"jobs": self._new_jobs(), "stages": 0, "tasks": 0,
             "executor_run_s": 0.0, "executor_cpu_s": 0.0, "gc_s": 0.0,
             "shuffle_write_b": 0, "shuffle_read_b": 0, "spill_b": 0,
             "input_b": 0, "python_run_s": 0.0, "python_start_s": 0.0,
             "python_sent_b": 0.0, "python_returned_b": 0.0,
             "written_b": 0.0, "files_written": 0.0, "commit_s": 0.0,
             "scan_b": 0.0, "join_rows_max": 0.0}
        intervals = []
        for s in self._new_stages():
            if s["status"] == "SKIPPED":
                continue
            c["stages"] += 1
            c["tasks"] += s.get("numCompleteTasks", 0)
            c["executor_run_s"] += s.get("executorRunTime", 0) / 1e3
            c["executor_cpu_s"] += s.get("executorCpuTime", 0) / 1e9
            c["gc_s"] += s.get("jvmGcTime", 0) / 1e3
            c["shuffle_write_b"] += s.get("shuffleWriteBytes", 0)
            c["shuffle_read_b"] += s.get("shuffleReadBytes", 0)
            c["spill_b"] += s.get("memoryBytesSpilled", 0) + s.get("diskBytesSpilled", 0)
            c["input_b"] += s.get("inputBytes", 0)
            a = _epoch(s.get("submissionTime"))
            b = _epoch(s.get("completionTime"))
            if a is not None and b is not None:
                intervals.append((max(a, start), min(b, end)))
        busy = union_length([(a, b) for a, b in intervals if b > a])
        c["driver_gap_s"] = max(0.0, (end - start) - busy)
        for e in self._new_sql():
            for node in e.get("nodes", []):
                name = node.get("nodeName", "")
                m = {x["name"]: parse_metric(x["value"])
                     for x in node.get("metrics", [])}
                if name.startswith(PYTHON_NODES):
                    c["python_run_s"] += m.get("time to run Python workers", 0.0)
                    c["python_start_s"] += m.get("time to start Python workers", 0.0) \
                        + m.get("time to initialize Python workers", 0.0)
                    c["python_sent_b"] += m.get("data sent to Python workers", 0.0)
                    c["python_returned_b"] += m.get("data returned from Python workers", 0.0)
                elif "InsertIntoHadoopFsRelationCommand" in name or name == "WriteFiles":
                    c["written_b"] += m.get("written output", 0.0)
                    c["files_written"] += m.get("number of written files", 0.0)
                    c["commit_s"] += m.get("task commit time", 0.0) \
                        + m.get("job commit time", 0.0)
                elif name.startswith("Scan ") or "FileScan" in name:
                    c["scan_b"] += m.get("size of files read", 0.0)
                elif name.startswith(JOIN_NODES):
                    c["join_rows_max"] = max(c["join_rows_max"],
                                             m.get("number of output rows", 0.0))
        blocks = sum(r.get("memoryUsed", 0) + r.get("diskUsed", 0)
                     for r in self._get("/storage/rdd"))
        self.peak_block_bytes = max(self.peak_block_bytes, blocks)
        return c

    def dump(self) -> list[dict]:
        selft = self.self_times()
        return [{"run_id": self.run_id, "id": s.id, "name": s.name,
                 "group": s.group, "parent": s.parent, "start": s.start,
                 "end": s.end, "self_s": selft[s.id],
                 "counters": s.counters}
                for s in self.spans]
