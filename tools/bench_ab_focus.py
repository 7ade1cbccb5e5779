"""Alternating-session A/B of two revisions over a query set: the
headline set by default, or a NAMED SUBSET.

Cross-round bench deltas are noise-limited (byte-identical q1 moved
1.03 -> 1.58 s between rounds), so both revisions run on one host in
ALTERNATING subprocess sessions (A B A B ...), and slow host drift lands
on both sides equally. Each session warms every query once, then times
each one best-of-``--runs`` through the noop sink (bench.py's
methodology). Per revision the tool reports the per-query MEDIAN over
sessions, the B/A ratio and the totals, over the queries both
revisions have.

Without ``--queries`` the set is bench.py's ``HEADLINE`` list: the
round-level regression gate. Naming a subset answers "are these movers
real or fat-tail noise?" — more sessions on fewer queries give a
per-query median that resolves a 1.2-1.3x question.

A revision is either a git revision, checked out into a temporary
``git worktree``, or the path of an existing checkout directory (say a
``git archive`` of the parent), used as-is. The per-session runner is
piped in on stdin (``python -``) with cwd at the checkout, so it needs
nothing to exist at the old revision beyond the package itself.

Usage:
  python tools/bench_ab_focus.py REV_A [REV_B] [--queries a,b]
      [--sessions 5] [--runs 3] [--sf-dir /root/testdata/sf0.1]
      [--out BENCH_AB_FOCUS_rNN.json]
REV_B defaults to the current working tree (run in place, uncommitted
changes included). Output: one JSON line to stdout (+ optional file);
progress to stderr.
"""
from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import tempfile

RUNNER = r'''
import json, sys, time
sys.path.insert(0, ".")
names = json.loads(sys.argv[1]); sf_dir = sys.argv[2]; runs = int(sys.argv[3])
from dynamic_etl_pipeline_spark.session import get_spark
from dynamic_etl_pipeline_spark.queries import QUERIES
from pyspark.sql import functions as F
names = [n for n in names if n in QUERIES]  # a revision may predate some
spark = get_spark("ab-focus")
spark.range(64).repartition(32).select(
    F.pandas_udf(lambda s: s, "long")("id")
).write.format("noop").mode("overwrite").save()
for n in names:  # warm pass: JVM codegen + parquet footers, unmeasured
    QUERIES[n](spark, sf_dir).write.format("noop").mode("overwrite").save()
out = {}
for n in names:
    ts = []
    for _ in range(runs):
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        QUERIES[n](spark, sf_dir).write.format("noop").mode("overwrite").save()
        ts.append(time.perf_counter() - t0)
    out[n] = round(min(ts), 3)
print("ABFOCUS " + json.dumps(out))
'''


def _run_session(cwd: str, names: list[str], sf_dir: str,
                 runs: int) -> dict[str, float]:
    out = subprocess.run(
        [sys.executable, "-", json.dumps(names), sf_dir, str(runs)],
        cwd=cwd, input=RUNNER, capture_output=True, text=True, timeout=3600,
        env=dict(os.environ),
    )
    if out.returncode != 0:
        sys.stderr.write(out.stderr[-2000:])
        raise RuntimeError(f"runner failed in {cwd}")
    line = [ln for ln in out.stdout.splitlines()
            if ln.startswith("ABFOCUS ")][-1]
    return json.loads(line[len("ABFOCUS "):])


def _median(xs: list[float]) -> float:
    xs = sorted(xs)
    n = len(xs)
    return xs[n // 2] if n % 2 else (xs[n // 2 - 1] + xs[n // 2]) / 2


def _headline(repo: str) -> list[str]:
    sys.path.insert(0, repo)
    from bench import HEADLINE

    return list(HEADLINE)


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("rev_a")
    p.add_argument("rev_b", nargs="?", default=None)
    p.add_argument("--queries", default=None,
                   help="comma-separated names (default: bench.py HEADLINE)")
    p.add_argument("--sessions", type=int, default=5)
    p.add_argument("--runs", type=int, default=3)
    p.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    p.add_argument("--out", default=None)
    a = p.parse_args()
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    names = a.queries.split(",") if a.queries else _headline(repo)

    wts: list[str] = []

    def checkout(rev: str) -> str:
        if os.path.isdir(rev):
            return os.path.abspath(rev)
        wt = tempfile.mkdtemp(prefix=f"ab_focus_{rev[:8]}_")
        subprocess.run(["git", "worktree", "add", "--detach", wt, rev],
                       cwd=repo, check=True, capture_output=True)
        wts.append(wt)
        return wt

    try:
        wt_a = checkout(a.rev_a)
        wt_b = checkout(a.rev_b) if a.rev_b else repo
        a_runs: list[dict[str, float]] = []
        b_runs: list[dict[str, float]] = []
        for s in range(a.sessions):
            sys.stderr.write(f"session {s + 1}/{a.sessions} A ({a.rev_a})\n")
            a_runs.append(_run_session(wt_a, names, a.sf_dir, a.runs))
            sys.stderr.write(f"session {s + 1}/{a.sessions} B "
                             f"({a.rev_b or 'worktree'})\n")
            b_runs.append(_run_session(wt_b, names, a.sf_dir, a.runs))
            # named queries must exist at both revisions; the default
            # headline set is cut to the queries both have
            absent = [q for q in names
                      if q not in a_runs[0] or q not in b_runs[0]]
            if a.queries and absent:
                raise SystemExit(f"not registered at both revisions: {absent}")
        common = [q for q in names
                  if all(q in r for r in a_runs + b_runs)]
        result = {
            "rev_a": a.rev_a, "rev_b": a.rev_b or "worktree",
            "sessions": a.sessions, "runs_per_session": a.runs,
            "sf_dir": a.sf_dir, "queries": common,
            "a_sessions": a_runs, "b_sessions": b_runs,
            "a_median": {q: round(_median([r[q] for r in a_runs]), 3)
                         for q in common},
            "b_median": {q: round(_median([r[q] for r in b_runs]), 3)
                         for q in common},
        }
        result["b_over_a"] = {
            q: round(result["b_median"][q] / result["a_median"][q], 3)
            if result["a_median"][q] else None
            for q in common
        }
        result["total_a"] = round(sum(result["a_median"].values()), 3)
        result["total_b"] = round(sum(result["b_median"].values()), 3)
        line = json.dumps(result)
        print(line)
        if a.out:
            with open(os.path.join(repo, a.out), "w") as f:
                json.dump(result, f, indent=1)
    finally:
        for wt in wts:
            subprocess.run(["git", "worktree", "remove", "--force", wt],
                           cwd=repo, capture_output=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
