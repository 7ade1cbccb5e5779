"""Per-layer metrics of a traced run, named after the package modules.

Every metric is computed on every workload; a layer the workload does
not call reads 0. Sums are per measured pass; latencies are medians over
the run's calls. ``PER_LAYER`` is the list ``BENCHMARK.json`` declares.
"""

from __future__ import annotations

import statistics

from analytics import QUERIES_RUN as QUERY_ROWS
from tracing import MB

# (name, unit); every metric is better lower except these.
HIGHER_IS_BETTER = {"pipeline.records_per_s", "queries.per_s",
                    "queries.slot_busy_ratio", "streaming.events_per_s"}
PER_LAYER = (
    [("session.start_s", "s"), ("catalog.warm_s", "s")]
    + [(f"readers.{f}_s", "s") for f in ("csv", "txt", "xml", "json")]
    + [("readers.python_s", "s"), ("extract.patterns_s", "s"),
       ("quality.validate_s", "s"), ("quality.issue_rows", "count"),
       ("schema_registry.register_s", "s"), ("schema_registry.jobs", "count"),
       ("schema_registry.versions", "count"),
       ("pipeline.ingest_s", "s"), ("pipeline.commit_s", "s"),
       ("pipeline.written_mb", "MB"), ("pipeline.files_written", "count"),
       ("pipeline.store_files", "count"), ("pipeline.browse_s", "s"),
       ("pipeline.upsert_s", "s"), ("pipeline.migrate_s", "s"),
       ("pipeline.partitions_rewritten", "count"),
       ("pipeline.records_per_s", "1/s"),
       ("queries.jobs", "count"), ("queries.stages", "count"),
       ("queries.tasks", "count"), ("queries.executor_run_s", "s"),
       ("queries.executor_cpu_s", "s"), ("queries.gc_s", "s"),
       ("queries.shuffle_write_mb", "MB"), ("queries.shuffle_read_mb", "MB"),
       ("queries.spill_mb", "MB"), ("queries.scan_mb", "MB"),
       ("queries.driver_gap_s", "s"), ("queries.slot_busy_ratio", "ratio"),
       ("queries.per_s", "1/s")]
    + [(f"queries.{q}_s", "s") for q in QUERY_ROWS]
    + [("operators.python_run_s", "s"), ("operators.control_python_run_s", "s"),
       ("operators.python_start_s", "s"),
       ("operators.python_sent_mb", "MB"), ("operators.python_returned_mb", "MB"),
       ("operators.python_share", "ratio"),
       ("operators.candidates_per_pair", "ratio"),
       ("materialize.block_mb", "MB"),
       ("streaming.triggers", "count"), ("streaming.trigger_s", "s"),
       ("streaming.add_batch_s", "s"), ("streaming.planning_s", "s"),
       ("streaming.commit_s", "s"), ("streaming.state_rows", "count"),
       ("streaming.state_mb", "MB"), ("streaming.state_update_s", "s"),
       ("streaming.state_commit_s", "s"),
       ("streaming.late_dropped_rows", "count"),
       ("streaming.python_run_s", "s"), ("streaming.events_per_s", "1/s"),
       ("streaming.running_totals_s", "s"),
       ("trace.collect_s", "s"), ("trace.overhead_ratio", "ratio")]
)


def _median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def _sum(ops, key) -> float:
    return sum((o.counters or {}).get(key, 0.0) for o in ops)


def compute(h, tracer, wl, setup: dict, passes: int, window_s: float,
            cores: int) -> dict:
    timed = [o for o in h.ops if o.timed and o.ok]
    every = [o for o in h.ops if o.ok]

    def group(g, ops=timed):
        return [o for o in ops if o.group == g]

    def prefix(p, ops=timed):
        return [o for o in ops if o.group.startswith(p)]

    facts = wl.layer_facts()
    m: dict[str, float] = {
        "session.start_s": setup["session_s"],
        "catalog.warm_s": setup["catalog_s"],
    }
    for f in ("csv", "txt", "xml", "json"):
        m[f"readers.{f}_s"] = _median(o.wall_s for o in group(f"readers.{f}", every))
    decoded = [o for o in group("pipeline.ingest")
               if o.name in ("ingest.txt", "ingest.xml")]
    m["readers.python_s"] = _sum(decoded, "python_run_s") / passes
    m["extract.patterns_s"] = _median(o.wall_s for o in group("extract.patterns", every))
    m["quality.validate_s"] = _median(o.wall_s for o in group("quality.validate", every))
    m["quality.issue_rows"] = facts.get("issue_rows", 0)
    reg = group("schema_registry.register", every)
    m["schema_registry.register_s"] = _median(o.wall_s for o in reg)
    m["schema_registry.jobs"] = _sum(reg, "jobs")
    m["schema_registry.versions"] = facts.get("versions", 0)

    ingest = group("pipeline.ingest")
    writes = ingest + group("pipeline.upsert") + group("pipeline.migrate")
    m["pipeline.ingest_s"] = _median(o.wall_s for o in ingest)
    m["pipeline.commit_s"] = _sum(writes, "commit_s") / passes
    m["pipeline.written_mb"] = _sum(writes, "written_b") / MB / passes
    m["pipeline.files_written"] = _sum(writes, "files_written") / passes
    m["pipeline.store_files"] = facts.get("store_files", 0)
    m["pipeline.browse_s"] = _median(o.wall_s for o in group("pipeline.browse"))
    m["pipeline.upsert_s"] = _median(o.wall_s for o in group("pipeline.upsert"))
    m["pipeline.migrate_s"] = _median(o.wall_s for o in group("pipeline.migrate"))
    m["pipeline.partitions_rewritten"] = facts.get("rewritten", 0)
    stored = ingest + group("pipeline.upsert")
    wall = sum(o.wall_s for o in stored)
    m["pipeline.records_per_s"] = sum(o.items for o in stored) / wall if wall else 0.0

    q = prefix("queries.")
    for key, name, scale in (("jobs", "jobs", 1), ("stages", "stages", 1),
                             ("tasks", "tasks", 1),
                             ("executor_run_s", "executor_run_s", 1),
                             ("executor_cpu_s", "executor_cpu_s", 1),
                             ("gc_s", "gc_s", 1),
                             ("shuffle_write_b", "shuffle_write_mb", MB),
                             ("shuffle_read_b", "shuffle_read_mb", MB),
                             ("spill_b", "spill_mb", MB),
                             ("scan_b", "scan_mb", MB),
                             ("driver_gap_s", "driver_gap_s", 1)):
        m[f"queries.{name}"] = _sum(q, key) / scale / passes
    q_wall = sum(o.wall_s for o in q)
    m["queries.slot_busy_ratio"] = (_sum(q, "executor_run_s") / (q_wall * cores)
                                    if q_wall else 0.0)
    m["queries.per_s"] = len(q) / q_wall if q_wall else 0.0
    for name in QUERY_ROWS:
        m[f"queries.{name}_s"] = _median(o.wall_s for o in q if o.name == name)

    m["operators.python_run_s"] = _sum(q, "python_run_s") / passes
    # the JVM-only plans alone: the control, which should stay 0
    m["operators.control_python_run_s"] = (
        _sum(group("queries.sql"), "python_run_s") / passes)
    m["operators.python_start_s"] = _sum(q, "python_start_s") / passes
    m["operators.python_sent_mb"] = _sum(q, "python_sent_b") / MB / passes
    m["operators.python_returned_mb"] = _sum(q, "python_returned_b") / MB / passes
    run_s = _sum(q, "executor_run_s")
    m["operators.python_share"] = _sum(q, "python_run_s") / run_s if run_s else 0.0
    pairs = [o for o in q if o.name in getattr(wl, "pair_queries", ())]
    out_rows = sum(facts.get("result_rows", {}).get(o.name, 0) for o in pairs)
    m["operators.candidates_per_pair"] = (_sum(pairs, "join_rows_max") / out_rows
                                          if out_rows else 0.0)
    m["materialize.block_mb"] = tracer.peak_block_bytes / MB

    triggers = [o for o in prefix("streaming.") if o.progress is not None]
    prog = [o.progress for o in triggers]

    def dur(key):
        return sum(p["durationMs"].get(key, 0) for p in prog) / 1e3 / passes

    def state(key):
        return sum(s.get(key, 0) for p in prog for s in p.get("stateOperators", []))

    drains = [o for o in h.drains if o.timed and o.group.startswith("streaming.")]
    m["streaming.triggers"] = len(prog) / passes
    m["streaming.trigger_s"] = dur("triggerExecution")
    m["streaming.add_batch_s"] = dur("addBatch")
    m["streaming.planning_s"] = dur("queryPlanning")
    m["streaming.commit_s"] = dur("walCommit") + dur("commitOffsets")
    last = {}
    for o in triggers:
        last[o.group] = o.progress
    m["streaming.state_rows"] = sum(
        s.get("numRowsTotal", 0) for p in last.values()
        for s in p.get("stateOperators", []))
    m["streaming.state_mb"] = max(
        [sum(s.get("memoryUsedBytes", 0) for s in p.get("stateOperators", []))
         for p in prog] or [0]) / MB
    m["streaming.state_update_s"] = state("allUpdatesTimeMs") / 1e3 / passes
    m["streaming.state_commit_s"] = state("commitTimeMs") / 1e3 / passes
    m["streaming.late_dropped_rows"] = state("numRowsDroppedByWatermark")
    m["streaming.python_run_s"] = _sum(drains, "python_run_s") / passes
    drain_wall = sum(o.wall_s for o in drains)
    m["streaming.events_per_s"] = (sum(o.items for o in triggers) / drain_wall
                                   if drain_wall else 0.0)
    m["streaming.running_totals_s"] = _median(o.wall_s for o in drains)
    m["trace.collect_s"] = tracer.collect_s / passes
    m["trace.overhead_ratio"] = tracer.collect_s / window_s
    return m
