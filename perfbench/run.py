"""Ingest-and-curate benchmark of the engine.

    python3 perfbench/run.py --workload ingest_incremental --seed 1 --seconds 10 --trace 0

Run from the repository root. One run starts a Spark session, generates
the workload's inputs from ``--seed`` ``SETUP_REPS`` times (into
``.perfbench_work/``, the only place it reads and writes), runs the
workload's warm-up once (see workloads.py), then runs timed passes back
to back -- a closed loop from this one driver -- until ``--seconds``
have elapsed. Every pass starts from a fresh directory and a cleared
session, and its outputs are checked after its clock stops. ``setup_s``
is the session start plus the median generation plus the warm-up, in
wall seconds. The pass metrics are CPU seconds of this process and its
descendants (the JVM and its Python workers): on a shared host, wall
time follows the other tenants' load, so the wall-clock figures go to
the settings line only.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` runs one
discarded pass, then half the time untraced and half with the span
recorder installed (perfbench/layers.py), and prints the per-layer
metrics plus the tracing overhead. The last stdout line is one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``; the line
before it records the settings and sample counts.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench_work"
ENGINE = ROOT / "cdk_datalake_ingest_bigmagic_spark" / "__init__.py"

#: Spark local[k] and the runner's max_concurrency, each capped at nproc.
#: Two leave the driver's own Python and JVM threads (and the JIT) cores
#: of their own on a small shared host; four ran slower and spread more.
CORES = 2
SETUP_REPS = 3
#: fixed JVM heap (-Xms = -Xmx), so the driver's resident set does not
#: follow the collector's heap resizing
DRIVER_MEMORY = "1g"

END_TO_END = {
    "setup_s": "s", "cpu_s": "s", "rows_per_cpu_s": "1/s", "day_cpu_s_p50": "s",
    "stage_write_amp": "ratio", "peak_rss_mb": "MB",
}


def start_session(cores: int):
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    from cdk_datalake_ingest_bigmagic_spark import get_spark

    return get_spark(
        app_name="perfbench",
        shuffle_partitions=cores,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": str(WORK / "spark-local"),
            "spark.sql.warehouse.dir": str(WORK / "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{DRIVER_MEMORY}",
            # the traced run reads a whole pass's jobs back from the store
            "spark.ui.retainedJobs": "5000",
            "spark.ui.retainedStages": "20000",
        },
    )


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run_passes(wl, seconds: float, on_pass=None) -> list:
    """Timed passes until ``seconds`` have elapsed (at least one)."""
    from perfbench.workloads import reset_session_state

    results = []
    deadline = time.perf_counter() + seconds
    while not results or time.perf_counter() < deadline:
        pass_dir = wl.work / f"pass-{len(results)}"
        shutil.rmtree(pass_dir, ignore_errors=True)
        reset_session_state(wl.spark)
        res = wl.run_pass(pass_dir)
        if on_pass is not None:
            on_pass(res)
        shutil.rmtree(pass_dir, ignore_errors=True)
        results.append(res)
    return results


def end_to_end(passes, setup_s: float, rss_mb: float) -> dict[str, float]:
    return {
        "setup_s": setup_s,
        "cpu_s": statistics.median(p.cpu_s for p in passes),
        "rows_per_cpu_s": statistics.median(p.rows / p.cpu_s for p in passes),
        "day_cpu_s_p50": statistics.median(t for p in passes for t in p.day_cpu_s),
        "stage_write_amp": statistics.median(
            p.written_bytes / p.live_bytes for p in passes),
        "peak_rss_mb": rss_mb,
    }


def wall_times(passes) -> dict[str, float]:
    """The wall-clock counterparts of the CPU metrics, for the settings
    line: on a shared host they follow the other tenants' load."""
    return {
        "wall_s": statistics.median(p.wall_s for p in passes),
        "rows_per_s": statistics.median(p.rows / p.wall_s for p in passes),
        "day_s_p50": statistics.median(t for p in passes for t in p.day_s),
        "read_s_p50": statistics.median(t for p in passes for t in p.read_s),
    }


def traced_passes(wl, seconds: float) -> tuple[list, dict[str, float]]:
    """One discarded pass, so both sides below run warm; then half the
    time untraced and half traced. Per-layer metrics are the median over
    traced passes, plus the tracing overhead on wall_s."""
    from perfbench import layers
    from perfbench.spans import Tracer

    warm = run_passes(wl, 0)
    plain = run_passes(wl, seconds / 2)
    tracer = Tracer(wl.spark)
    layers.install(tracer)
    wl.tracer = tracer
    per_pass: list[dict[str, float]] = []

    def collect(res):
        per_pass.append(layers.pass_metrics(
            tracer.spans, tracer.job_counters(), res.inspect))
        tracer.spans.clear()

    try:
        traced = run_passes(wl, seconds / 2, on_pass=collect)
    finally:
        tracer.uninstall()
        wl.tracer = None
    metrics = {k: statistics.median(m[k] for m in per_pass) for k in per_pass[0]}
    metrics["trace.overhead_s"] = (statistics.median(p.wall_s for p in traced)
                                   - statistics.median(p.wall_s for p in plain))
    return warm + plain + traced, metrics


def measure(spark, cores: int, workload: str, seed: int, seconds: float,
            trace: int, session_s: float, work: Path = WORK) -> tuple[dict, dict]:
    """Set up, run the passes and score them: (settings line, result
    line) of the output."""
    from perfbench.layers import unit_of
    from perfbench.workloads import WORKLOADS, peak_rss_mb

    wl = WORKLOADS[workload](spark, work, seed, cores)
    reps = []
    for rep in range(SETUP_REPS):
        t = time.perf_counter()
        wl.generate(rep)
        reps.append(time.perf_counter() - t)
    t = time.perf_counter()
    wl.warm()
    warm_s = time.perf_counter() - t
    if trace:
        passes, metrics = traced_passes(wl, seconds)
        units = {k: unit_of(k) for k in metrics}
    else:
        passes = run_passes(wl, seconds)
        setup_s = session_s + statistics.median(reps) + warm_s
        metrics = end_to_end(passes, setup_s, peak_rss_mb(spark))
        units = END_TO_END
    failed_checks = [c for p in passes for c in p.failed_checks]
    for c in failed_checks:
        print(f"check failed: {c}", file=sys.stderr)
    failed = sum(p.failed_units for p in passes) + len(failed_checks)
    settings = {
        "workload": workload, "seed": seed, "trace": trace,
        "loop": "closed, 1 driver", "local_cores": cores,
        "max_concurrency": cores, "passes": len(passes),
        "session_s": session_s, "generate_s": reps, "warm_s": warm_s,
        "day_samples": sum(len(p.day_s) for p in passes),
        "read_samples": sum(len(p.read_s) for p in passes),
        "wall": wall_times(passes),
    }
    result = {
        "correct": failed == 0,
        "attempted": sum(p.units + p.checks for p in passes),
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in sorted(metrics)},
    }
    return settings, result


def main(argv: list[str] | None = None) -> int:
    from perfbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    shutil.rmtree(WORK, ignore_errors=True)
    cores = min(CORES, len(os.sched_getaffinity(0)))
    t0 = time.perf_counter()
    spark = start_session(cores)
    session_s = time.perf_counter() - t0
    try:
        settings, result = measure(spark, cores, args.workload, args.seed,
                                   args.seconds, args.trace, session_s)
    finally:
        stop_session(spark)
        shutil.rmtree(WORK, ignore_errors=True)
    print(json.dumps(settings))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    if not ENGINE.is_file():
        print(f"perfbench: engine package missing under {ROOT}", file=sys.stderr)
        sys.exit(2)
    sys.path[0] = str(ROOT)  # the engine and this package, not perfbench/ itself
    sys.exit(main())
