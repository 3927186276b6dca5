"""Benchmark of the billing pipeline and the catalog, run from the repository
root:

    python3 perfbench/run.py [--workload billing_pipeline|catalog_mix]
                             [--seed N] [--seconds S] [--trace 0|1] [--tiny]

Without ``--workload`` both workloads run, one after the other, in one
session. Each workload prints its metrics one per line (``name value unit``)
and then, as the last line, one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. With ``--trace 0`` the metrics are the
end-to-end metrics of BENCHMARK.json; with ``--trace 1`` they are its
per-layer metrics, taken from traced cycles, plus the tracing overhead.
``--tiny`` runs at the self-test's scale. ``--tamper`` corrupts one output
before the correctness checks so that the self-test can see them fail.

The exit code is 0 when every output was correct, 1 when a check failed and
2 when the package to measure is missing. Everything the run writes goes to
``.perfbench/`` under the repository root: generated lakes and oracle hashes
stay there as a cache, the rest is removed when the run ends.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "billing_data_pipeline_spark"
WORKLOADS = ("billing_pipeline", "catalog_mix")
# the JSON result's metrics with --trace 0: CPU seconds, which a busy shared
# host inflates far less than wall time
END_TO_END = {"setup_s": "s", "cycle_cpu_s": "s", "geomean_cpu_s": "s"}
# printed as lines only: wall times, memory, storage and the failure ratio
PRINTED = {
    "billing_pipeline": {
        "backfill_s": "s",
        "daily_run_s": "s",
        "noop_run_s": "s",
        "cycle_s": "s",
        "backfill_cpu_s": "s",
        "daily_run_cpu_s": "s",
        "noop_run_cpu_s": "s",
        "storage_amp": "bytes/byte",
    },
    "catalog_mix": {
        "cycle_s": "s",
        "catalog_pass_s": "s",
        "catalog_geomean_s": "s",
        "catalog_pass_cpu_s": "s",
        "catalog_geomean_cpu_s": "s",
    },
}


def per_layer_names() -> dict[str, str]:
    from perfbench import billing, catalog

    return {
        "session.start_s": "s",
        "session.start_cpu_s": "s",
        "process.peak_rss_mb": "MB",
        "trace.overhead_s": "s",
        **billing.per_layer_names(),
        **catalog.per_layer_names(),
    }


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true")
    ap.add_argument("--tamper", action="store_true")
    return ap.parse_args(argv)


def _environment(work: str) -> None:
    """Workers import the package through PYTHONPATH; Spark's scratch space,
    temp files and metastore stay inside the run directory."""
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    for sub in ("local", "tmp"):
        os.makedirs(os.path.join(work, sub))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.chdir(work)


def _start_session(work: str, trace: bool):
    """Cold set-up: import, get_spark in a fresh JVM, first trivial job.
    Returns the session, its wall time and the CPU time it used."""
    t0 = time.perf_counter()
    ru = resource.getrusage(resource.RUSAGE_SELF)
    cpu0 = ru.ru_utime + ru.ru_stime
    from billing_data_pipeline_spark.session import get_spark

    conf = {
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
    }
    if trace:  # keep every job's record until the spans are counted
        conf.update({"spark.ui.retainedJobs": "100000", "spark.ui.retainedStages": "100000"})
    spark = get_spark(app_name="perfbench", extra_conf=conf)
    spark.range(1000).selectExpr("sum(id)").collect()
    wall = time.perf_counter() - t0
    from perfbench.common import CpuClock

    clock = CpuClock(spark._jvm.java.lang.ProcessHandle.current().pid())
    return spark, wall, clock, clock.read() - cpu0


def _stop_session(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:  # a JVM that ignores shutdown is killed
            proc.kill()
            proc.wait()


def _peak_rss_mb(jvm_pid: int) -> float:
    jvm_kb = 0
    with open(f"/proc/{jvm_pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + py_kb) / 1024


def _report(ctx, workload: str, out: dict, setup: tuple[float, float], trace: bool) -> dict:
    setup_wall, setup_cpu = setup
    rss = _peak_rss_mb(ctx.cpu.jvm_pid)
    if trace:
        units = per_layer_names()
        metrics = {k: 0.0 for k in units}
        metrics.update(out["layers"])
        metrics.update({"session.start_s": setup_wall, "session.start_cpu_s": setup_cpu,
                        "process.peak_rss_mb": rss})
        lines = {}
    else:
        s = out["summary"]
        units = {**END_TO_END, **PRINTED[workload], "setup_wall_s": "s", "peak_rss_mb": "MB"}
        metrics = {"setup_s": setup_cpu, "cycle_cpu_s": s["cycle_cpu_s"],
                   "geomean_cpu_s": s["geomean_cpu_s"]}
        lines = {"setup_wall_s": setup_wall, "peak_rss_mb": rss}
        lines.update({k: s[k] for k in PRINTED[workload]})
    units["failed_ratio"] = "fraction"
    lines["failed_ratio"] = ctx.failed / ctx.attempted if ctx.attempted else 1.0
    for k, v in {**metrics, **lines}.items():
        print(f"{workload} {k} {v:.6g} {units[k]}")
    return {
        "correct": ctx.failed == 0 and ctx.attempted > 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }


def main(argv=None) -> int:
    args = _parse(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"error: {PACKAGE}/ not found next to perfbench/", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    base = os.path.join(ROOT, ".perfbench")
    cache = os.path.join(base, "cache")
    os.makedirs(cache, exist_ok=True)
    work = tempfile.mkdtemp(prefix="run-", dir=base)
    cwd = os.getcwd()
    spark = None
    results = []
    try:
        _environment(work)
        from perfbench import billing, catalog
        from perfbench.common import Context
        from perfbench.trace import Tracer, install

        spark, setup_wall, clock, setup_cpu = _start_session(work, bool(args.trace))
        tracer = Tracer(spark, enabled=False)
        if args.trace:
            install(tracer)
        modules = {"billing_pipeline": billing, "catalog_mix": catalog}
        for workload in [args.workload] if args.workload else WORKLOADS:
            ctx = Context(spark, tracer, args.seed, args.seconds, args.tiny,
                          args.tamper, os.path.join(work, workload), cache, clock)
            os.makedirs(ctx.work)
            out = modules[workload].run(ctx, bool(args.trace))
            result = _report(ctx, workload, out, (setup_wall, setup_cpu), bool(args.trace))
            if args.trace:
                tracer.dump(os.path.join(base, f"spans-{workload}.jsonl"))
                tracer.spans.clear()
            results.append(result)
            print(json.dumps(result), flush=True)
    finally:
        if spark is not None:
            _stop_session(spark)
        os.chdir(cwd)
        shutil.rmtree(work, ignore_errors=True)
    return 0 if all(r["correct"] for r in results) else 1


if __name__ == "__main__":
    sys.exit(main())
