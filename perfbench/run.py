"""Repository benchmark: one workload, closed loop, one client.

Usage, from the repository root:

    python3 perfbench/run.py --workload {ingest,analytics} --seed N \\
        --seconds S --trace {0,1}

A run derives its inputs from the benchmark's fixture and ``--seed``
under ``.perfbench_work/`` and evaluates the oracles, then sets up once,
cold (start the JVM, build the session, load the catalog, warm up),
then measures whole passes of the workload until ``--seconds`` have
elapsed. Every op is checked against an oracle or a known count.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` -- the end-to-end metrics with ``--trace 0``,
the per-layer metrics of ``layers.py`` with ``--trace 1``. Details (every
op, the set-up phases, the spans of a traced run) are written to
``.perfbench_work/results/``.

The session runs on ``local[<usable cores>]`` with
``SPARK_GRAFT_DRIVER_MEM=2g``, from the repository root, as a user would
launch it; Spark's scratch space and temp files stay under
``.perfbench_work/``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import importlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import threading  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
WORKLOADS = ("ingest", "analytics")
DRIVER_MEM = "2g"
DEADLINE_S = 170.0
E2E = [("setup_s", "s"), ("op_p50_s", "s"), ("items_per_s", "1/s"),
       ("retained_mb", "MB")]


def _configure(work: Path, cores: int) -> None:
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    tempfile.tempdir = str(tmp)  # the module caches TMPDIR on first use
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": str(work / "spark-local"),
        "TMPDIR": str(tmp),
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYSPARK_SUBMIT_ARGS": (
            "--conf spark.ui.showConsoleProgress=false "
            f"--conf spark.sql.warehouse.dir={work / 'warehouse'} pyspark-shell"
        ),
    })


def _host_cpu() -> list[int]:
    """The machine's cumulative CPU times from ``/proc/stat`` (user, nice,
    system, idle, iowait, irq, softirq, steal), in clock ticks."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def _cpu_share(before: list[int], after: list[int]) -> dict:
    """Busy and stolen shares of the machine's CPU time between two
    ``_host_cpu`` readings: how much other work shared the host."""
    d = [b - a for a, b in zip(before, after)]
    total = sum(d) or 1
    return {"busy": (total - d[3] - d[4]) / total, "steal": d[7] / total}


def _stop_jvm(proc) -> None:
    """Stop Spark, close the py4j gateway and wait for the JVM (and the
    Python workers it forked) to exit; kill it if it does not."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is not None:
        try:
            gw.shutdown()
        except Exception:  # noqa: BLE001 - the JVM may already be gone
            pass
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is None:
        return
    try:
        proc.stdin.close()
    except (OSError, AttributeError):
        pass
    try:
        proc.wait(timeout=20)
    except Exception:  # noqa: BLE001 - TimeoutExpired: force it
        proc.kill()
        proc.wait(timeout=10)


def _watchdog(state: dict, t_start: float) -> threading.Timer:
    def fire():
        print(f"perfbench: run exceeded {DEADLINE_S:.0f}s; stopping",
              file=sys.stderr, flush=True)
        proc = state.get("jvm")
        if proc is not None:
            proc.kill()
            proc.wait(timeout=10)
        os._exit(3)

    t = threading.Timer(max(1.0, DEADLINE_S - (time.perf_counter() - t_start)), fire)
    t.daemon = True
    t.start()
    return t


def run(args, root: Path, t_start: float, adjust=None) -> dict:
    """One benchmark run; ``t_start`` is when the process (or, in the
    self-test, the run) started. ``adjust(workload)`` may change the
    generated workload before Spark starts (the self-test uses it)."""
    from harness import Harness, MemorySampler
    from tracing import NullTracer, StreamProgress, Tracer

    cores = len(os.sched_getaffinity(0))
    run_id = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = root / ".perfbench_work" / f"{run_id}-{os.getpid()}"
    _configure(work, cores)
    state: dict = {}
    watchdog = _watchdog(state, t_start)

    from dynamic_etl_pipeline_spark.session import get_spark

    module = importlib.import_module(args.workload)
    t = time.perf_counter()
    wl = module.Workload(work / "in", args.seed)
    if adjust is not None:
        adjust(wl)
    gen_s = time.perf_counter() - t

    mem = MemorySampler()
    try:
        # set-up runs from process start, less input generation and
        # oracle evaluation, to the first timed op
        t0 = time.perf_counter()
        spark = get_spark(app_name="perfbench")
        t1 = time.perf_counter()
        spark.sparkContext.setLogLevel("ERROR")
        state["jvm"] = spark.sparkContext._gateway.proc
        mem.start(state["jvm"].pid)
        wl.catalog(spark)
        setup_h = Harness(spark, NullTracer())
        wl.warm_op(setup_h)
        t2 = time.perf_counter()
        setup = {"setup_s": t2 - t_start - gen_s,
                 "session_s": t1 - t0, "catalog_s": t2 - t1}

        tracer = Tracer(spark, run_id) if args.trace else NullTracer()
        h = Harness(spark, tracer, StreamProgress(spark))
        h.ops += setup_h.ops
        h.timed = True
        cpu0 = _host_cpu()
        t = time.perf_counter()
        passes = 0
        while passes == 0 or time.perf_counter() - t < args.seconds:
            wl.run_pass(h)
            passes += 1
        window_s = time.perf_counter() - t
        host_cpu = _cpu_share(cpu0, _host_cpu())
        h.timed = False
        retained = mem.retained(spark)
        wl.finish(h)

        fails = h.failures()
        lat = h.latency()
        if args.trace:
            import layers

            metrics = layers.compute(h, tracer, wl, setup, passes, window_s, cores)
            units = dict(layers.PER_LAYER)
        else:
            metrics = {
                "setup_s": setup["setup_s"],
                "op_p50_s": lat["op_p50_s"],
                "items_per_s": h.items_per_s(wl.throughput_groups),
                "retained_mb": retained["total"] / 2 ** 20,
            }
            units = dict(E2E)
        details = {
            "run_id": run_id, "seed": args.seed, "seconds": args.seconds,
            "cores": cores, "driver_mem": DRIVER_MEM, "input_generation_s": gen_s,
            "setup": setup, "passes": passes, "window_s": window_s,
            "host_cpu_in_window": host_cpu,
            "retained": retained,
            "peak_pss_mb": mem.peak_bytes / 2 ** 20,
            "peak_jvm_pss_mb": mem.peak_root_bytes / 2 ** 20,
            "latency": lat, "failures": fails, "facts": wl.facts,
            "failed_ops_ratio": fails["failed"] / max(1, fails["attempted"]),
            "ops": [{k: v for k, v in vars(o).items() if k != "progress"}
                    for o in h.ops],
            "spans": tracer.dump() if args.trace else [],
            "metrics": metrics,
        }
    finally:
        mem.stop()
        _stop_jvm(state.get("jvm"))
        watchdog.cancel()
        shutil.rmtree(work, ignore_errors=True)
    out = root / ".perfbench_work" / "results"
    out.mkdir(parents=True, exist_ok=True)
    (out / f"{run_id}.json").write_text(json.dumps(details, indent=1, default=str))
    for line in fails["unexpected"] + fails["known_defect"]:
        print(f"perfbench: failed op {line}", file=sys.stderr)
    return {
        "correct": not fails["unexpected"] and fails["attempted"] > 0,
        "attempted": fails["attempted"],
        "failed": fails["failed"],
        "metrics": {k: {"value": float(metrics[k]), "unit": units[k]}
                    for k in units},
    }


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    root = Path.cwd()
    if not (root / "dynamic_etl_pipeline_spark" / "__init__.py").is_file():
        print("perfbench: run from the repository root; "
              "dynamic_etl_pipeline_spark/ is not there", file=sys.stderr)
        return 2
    sys.path[:0] = [str(HERE), str(root)]
    result = run(args, root, T_START)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
