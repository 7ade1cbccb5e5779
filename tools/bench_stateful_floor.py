"""Per-micro-batch cost of the per-user state drains.

Replays the events of ``sf_dir`` through ``user_running_totals``
(update mode) and ``user_sessions_stateful`` (append mode), cut by time
into N chunks that stream one file per trigger, and reports the slope
``(t[N=max] - t[N=min]) / (max - min)``: the seconds each additional
micro-batch costs. Every replay also carries two far-future sentinel
files, so the sessionizer's watermark passes every real event and all
sessions finalize; they add the same two triggers at every N, so they
cancel out of the slope.

The chunk counts alternate inside each run in ONE session, so warm-up
and host drift land on both sides. Chunks are staged with pyarrow
(physical ts type kept), written once per N and reused across runs.

Usage:
  python tools/bench_stateful_floor.py [sf_dir] [--runs N] [--chunks 1,8]
sf_dir defaults to the 10x corpus of tools/make_scale_corpus.py
(``python tools/make_scale_corpus.py 10 --only events`` builds the
events it needs in seconds).
Output: one JSON line per (op, chunks, run) plus a summary line with
per-op best-of times and the median per-run slope.
"""
from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


def stage_chunks(events_path: str, n: int, out: Path) -> None:
    """Write the events sorted by ts as ``n`` time-ordered files plus
    two sentinel files (user -1, 10 and 20 days past the last event),
    with ascending mtimes so the file source reads them in order."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    tbl = pq.read_table(events_path)
    tbl = tbl.take(pc.sort_indices(tbl, [("ts", "ascending")]))
    step = -(-tbl.num_rows // n)
    files = [tbl.slice(i * step, step) for i in range(n)]
    last = tbl.slice(tbl.num_rows - 1, 1).to_pylist()[0]
    for k, days in enumerate((10, 20), start=1):
        row = {**last, "event_id": -k, "user_id": -1,
               "ts": last["ts"] + dt.timedelta(days=days)}
        files.append(pa.Table.from_pylist([row], schema=tbl.schema))
    out.mkdir(parents=True)
    now = time.time()
    for i, part in enumerate(files):
        dest = out / f"{i:04d}.parquet"
        pq.write_table(part, dest)
        os.utime(dest, (now + i, now + i))


def measure(spark, root: Path, counts: list[int],
            runs: int) -> dict[tuple[str, int], list[float]]:
    """Drain both ops over every staged chunk count, ``runs`` times,
    alternating the chunk-count order per run; returns the seconds."""
    from dynamic_etl_pipeline_spark.streaming.sinks import (
        run_available_now_to_memory,
    )
    from dynamic_etl_pipeline_spark.streaming.source import stream_events_dir
    from dynamic_etl_pipeline_spark.streaming.stateful import (
        user_running_totals,
        user_sessions_stateful,
    )

    ops = {
        "user_running_totals": (user_running_totals, "update"),
        "user_sessions_stateful": (user_sessions_stateful, "append"),
    }
    schema = spark.read.parquet(str(root / f"n{counts[0]}")).schema

    def drain(name: str, n: int) -> tuple[int, float]:
        op, mode = ops[name]
        t0 = time.perf_counter()
        stream = stream_events_dir(spark, str(root / f"n{n}"), schema)
        rows = run_available_now_to_memory(
            op(stream), output_mode=mode, timeout_s=3600).count()
        return rows, time.perf_counter() - t0

    for name in ops:                 # warm-up: codegen + source listing
        drain(name, counts[0])
    secs: dict[tuple[str, int], list[float]] = {}
    for r in range(runs):
        for n in counts if r % 2 == 0 else counts[::-1]:
            for name in ops:
                rows, dt_s = drain(name, n)
                secs.setdefault((name, n), []).append(dt_s)
                print(json.dumps({"op": name, "chunks": n, "run": r,
                                  "rows": rows, "sec": round(dt_s, 2)}),
                      flush=True)
    return secs


def parse_args(argv: list[str]) -> tuple[str, int, list[int]]:
    """(sf_dir, runs, chunk counts); '--flag value' and '--flag=value'
    both parse, a dangling flag exits."""
    p = argparse.ArgumentParser()
    p.add_argument("sf_dir", nargs="?", default="/tmp/sfscale/sf1.0")
    p.add_argument("--runs", type=int, default=2)
    p.add_argument("--chunks", default="1,8")
    a = p.parse_args(argv)
    return a.sf_dir, a.runs, [int(x) for x in a.chunks.split(",")]


def main() -> None:
    sf_dir, runs, counts = parse_args(sys.argv[1:])

    from dynamic_etl_pipeline_spark.catalog import table_path
    from dynamic_etl_pipeline_spark.session import get_spark

    spark = get_spark("bench-stateful-floor")
    root = Path(tempfile.mkdtemp(prefix="stateful_floor_"))
    try:
        for n in counts:
            stage_chunks(table_path(sf_dir, "events"), n, root / f"n{n}")
        secs = measure(spark, root, counts, runs)
    finally:
        shutil.rmtree(root, ignore_errors=True)

    lo, hi = min(counts), max(counts)
    summary = {}
    for name in sorted({name for name, _ in secs}):
        slopes = [(b - s) / (hi - lo)
                  for s, b in zip(secs[(name, lo)], secs[(name, hi)])]
        summary[name] = {
            "best_of": {n: round(min(secs[(name, n)]), 2) for n in counts},
            "slope_s_per_batch": round(statistics.median(slopes), 2),
        }
    print(json.dumps({"summary": summary, "sf_dir": sf_dir,
                      "runs": runs, "chunks": counts}), flush=True)


if __name__ == "__main__":
    main()
