"""sparkpipe benchmark: one workload per invocation, one JSON result line.

    python3 perfbench/run.py --workload catchup --seed 1 --seconds 15 --trace 0

Run from the repository root. Inputs are generated from ``--seed``; the
last line of standard output is
``{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}``
holding every end-to-end metric of ``BENCHMARK.json`` (``--trace 0``) or
every per-layer metric (``--trace 1``), each with its unit. Progress and
percentile summaries go to standard error; a traced run also writes its
spans to ``.perfbench_work/traces/``. A failed correctness check prints
``"correct": false`` and exits 1.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DEADLINE_S = 170


def log(msg: str) -> None:
    print(f"[perfbench {time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr, flush=True)


def configure_env(work: str, cpus: int) -> None:
    """Size Spark to the host's cores and keep every file it writes inside
    the work directory. Must run before pyspark is imported."""
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # every JVM, the launcher's too: temp files in the work directory, no
    # perf-data file in the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
    os.environ.pop("SPARK_GRAFT_ON_CLUSTER", None)


def _deadline(signum, frame):
    raise TimeoutError(f"benchmark ran past {DEADLINE_S} s")


def shutdown_jvm() -> None:
    """Stop the Spark session and wait for the JVM it launched to exit
    (the gateway exits when its stdin closes)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def result_line(spec: dict, run, trace: bool) -> dict:
    wanted = spec["per_layer" if trace else "end_to_end"]
    have = run.layers if trace else run.e2e
    missing = [m["name"] for m in wanted if m["name"] not in have]
    if missing:
        raise RuntimeError(f"metrics not measured: {missing}")
    return {
        "correct": True,
        "attempted": max(run.attempted, 1),
        "failed": run.failed,
        "metrics": {m["name"]: {"value": float(have[m["name"]]), "unit": m["unit"]} for m in wanted},
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        ap.error(f"unknown workload {args.workload!r}")

    sys.path.insert(0, ROOT)
    if importlib.util.find_spec("streaming_data_pipeline_azure_spark") is None:
        log(f"no streaming_data_pipeline_azure_spark package under {ROOT}; run from a checkout")
        return 2
    signal.signal(signal.SIGALRM, _deadline)
    signal.alarm(DEADLINE_S)
    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    configure_env(work, cpus)
    import workloads
    from harness import cpu_times, steal_share

    cpu0 = cpu_times()
    run = workloads.Run(work, args.seed, args.seconds, bool(args.trace), cpus, log)
    t0 = time.perf_counter()
    correct = True
    try:
        try:
            workloads.WORKLOADS[args.workload](run)
        except workloads.CheckFailed as e:
            log(f"correctness check failed: {e}")
            correct = False
        if run.spark is not None:
            run.layers["mem.peak_rss_mb"] = run.rss_mb()
        if args.trace:
            trace_path = os.path.join(ROOT, ".perfbench_work", "traces", f"{args.workload}-seed{args.seed}.json")
            run.tracer.write(trace_path)
            log(f"spans written to {trace_path}")
        log(f"{args.workload}: end-to-end {run.e2e}")
        if args.trace:
            log(f"{args.workload}: per-layer {run.layers}")
        out = result_line(spec, run, bool(args.trace)) if correct else {
            "correct": False, "attempted": max(run.attempted, 1), "failed": run.failed, "metrics": {}}
    finally:
        shutdown_jvm()
        signal.alarm(0)
        shutil.rmtree(work, ignore_errors=True)
    log(f"run took {time.perf_counter() - t0:.1f} s; host CPU steal {steal_share(cpu0, cpu_times()):.1%}")
    print(json.dumps(out), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
