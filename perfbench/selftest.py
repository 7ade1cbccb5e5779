"""Fast self-test of the benchmark, on the sf0.001 fixture.

Run from the repository root:

    python3 perfbench/selftest.py

It checks that ``BENCHMARK.json`` declares exactly the metrics the runs
print, with the same units; that the tail rule, the oracle comparison
and the known-defect rule behave; that one traced ``ingest`` run prints every
per-layer metric with its unit and fails only its known-defect ops; and
that one ``analytics`` run prints every end-to-end metric with its unit
and counts a deliberately perturbed oracle result as a failed op.
Exits 0 when every check holds.
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from pathlib import Path
from types import SimpleNamespace

HERE = Path(__file__).resolve().parent


def _check(cond: bool, what: str, failures: list) -> None:
    print(("ok    " if cond else "FAIL  ") + what, flush=True)
    if not cond:
        failures.append(what)


def _printed(result: dict, declared: list[tuple[str, str]]) -> bool:
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    numeric = all(isinstance(v["value"], float) for v in result["metrics"].values())
    return got == dict(declared) and numeric


def main() -> int:
    root = Path.cwd()
    sys.path[:0] = [str(HERE), str(root)]
    import analytics
    import harness
    import ingest
    import layers
    import oracle
    import pandas as pd
    import run
    from tracing import NullTracer

    failures: list[str] = []
    bench = json.loads((root / "BENCHMARK.json").read_text())
    _check([(m["name"], m["unit"]) for m in bench["end_to_end"]] == run.E2E,
           "BENCHMARK.json end_to_end matches run.E2E", failures)
    _check([(m["name"], m["unit"]) for m in bench["per_layer"]]
           == list(layers.PER_LAYER),
           "BENCHMARK.json per_layer matches layers.PER_LAYER", failures)
    _check([w["name"] for w in bench["workloads"]] == list(run.WORKLOADS),
           "BENCHMARK.json workloads match run.WORKLOADS", failures)

    _check(harness.tail(list(range(40))) == (75.0, 29)
           and harness.tail(list(range(19)))[0] == 100.0,
           "tail: highest percentile with ten samples beyond it", failures)
    want = pd.DataFrame({"k": [1, 2], "v": [0.5, 1.25]})
    bad = want.assign(v=[0.5, 1.25 + 1e-9])
    _check(oracle.mismatch(want.iloc[::-1], want) is None
           and oracle.mismatch(bad, want) is not None,
           "oracle: row order ignored, a perturbed cell caught", failures)

    # only the documented failure of a known-defect op is excused
    sc = SimpleNamespace(setJobGroup=lambda *a, **k: None,
                         cancelJobGroup=lambda *a: None)
    h = harness.Harness(SimpleNamespace(sparkContext=sc), NullTracer())

    def merge_error():
        try:
            raise ValueError("[CANNOT_MERGE_SCHEMAS] Failed merging schemas")
        except ValueError as exc:
            raise RuntimeError("record store has TYPE-drifted partitions") from exc

    h.call("other", "g", lambda: 1 / 0, known_defect=ingest.RECORDS_DEFECT)
    h.call("merge", "g", merge_error, known_defect=ingest.RECORDS_DEFECT)
    h.call("migrate", "g", lambda: 0, known_defect=ingest.MIGRATE_DEFECT,
           check=lambda n: f"rewrote {n} partitions, expected 2")
    h.call("migrate", "g", merge_error, known_defect=ingest.MIGRATE_DEFECT)
    f = h.failures()
    _check([u.split(":")[0] for u in f["unexpected"]] == ["other", "migrate"]
           and len(f["known_defect"]) == 2,
           "known defect: only the documented failure is excused", failures)

    # the sf0.001 fixture
    analytics.SF = ingest.SF = "0.001"
    ingest.BATCH_DOCS = 50

    args = argparse.Namespace(workload="ingest", seed=7, seconds=1, trace=1)
    res = run.run(args, root, time.perf_counter())
    _check(_printed(res, layers.PER_LAYER),
           "traced ingest prints every per-layer metric with its unit", failures)
    _check(res["correct"] and res["attempted"] > 0,
           "ingest: only known-defect ops fail", failures)

    def perturb(wl):
        frame = wl.want["part_abc_classification"]
        col = frame.select_dtypes("number").columns[0]
        frame.loc[0, col] = frame.loc[0, col] + 1

    args = argparse.Namespace(workload="analytics", seed=7, seconds=1, trace=0)
    res = run.run(args, root, time.perf_counter(), adjust=perturb)
    _check(_printed(res, run.E2E),
           "analytics prints every end-to-end metric with its unit", failures)
    _check(res["failed"] == 1 and not res["correct"],
           "analytics: the perturbed result is one failed op", failures)

    print("selftest:", "FAILED " + "; ".join(failures) if failures else "passed")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
