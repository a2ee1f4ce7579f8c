"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds a local Spark session with one thread
per available core, runs one workload (perfbench/workloads.py) for about
`--seconds` of measured time, checks its outputs, and prints one JSON object
as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics; --trace 1 instruments the layer
calls and reports the per-layer metrics instead. The metric names and units
are those BENCHMARK.json lists. All scratch data lives in
.perfbench_work/ under the current directory and is removed on exit.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import subprocess
import sys
import time


def _cores() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def _session(work: str):
    """Local Spark with every scratch path inside `work`. Imports pyspark
    only after TMPDIR points there, since the gateway launcher writes its
    connection file to the temp dir."""
    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    for d in (local, tmp):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    # every JVM spark-submit starts, its launcher included, would otherwise
    # write a perf-data file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    import tempfile

    tempfile.tempdir = tmp
    from ticdc_spark.session import build_session

    n = _cores()
    spark = build_session(
        app_name="perfbench",
        master=f"local[{n}]",
        shuffle_partitions=n,
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM child process to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def _peak_rss_mb(spark) -> float:
    """Peak resident memory of this Python driver plus the Spark JVM."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024.0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    sys.path.insert(0, root)
    work = os.path.join(root, ".perfbench_work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    t_setup = time.perf_counter()
    spark = None
    try:
        # import before Spark starts: a checkout without the engine fails here
        import workloads as W

        if args.workload not in W.WORKLOADS:
            raise SystemExit(f"unknown workload {args.workload!r}; one of {sorted(W.WORKLOADS)}")
        spark = _session(work)
        session_s = time.perf_counter() - t_setup
        from spans import Tracer

        ctx = W.Ctx(spark, work, args.seed, args.seconds, Tracer(spark, bool(args.trace)))
        res = W.WORKLOADS[args.workload](ctx)
        setup_s = session_s + sum(res.setup_parts.values())
        rss = _peak_rss_mb(spark)
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)

    print(f"set-up parts: session_s={session_s:.2f} {res.setup_parts}", file=sys.stderr)
    for p in res.problems:
        print(f"problem: {p}", file=sys.stderr)
    e2e = {"setup_s": setup_s, **res.e2e}
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.trace:
        layers = {
            **res.layers,
            "failed_ops_frac": res.failed / max(1, res.attempted),
            "process.peak_rss_mb": rss,
            "trace.events_per_s": e2e["events_per_s"],
            "trace.freshness_p50_s": e2e["freshness_p50_s"],
        }
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        # a layer the workload bypasses reports 0
        values = {k: layers.get(k, 0.0) for k in units}
    else:
        units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
        values = {k: e2e[k] for k in units}
    out = {
        "correct": not res.problems and res.failed == 0,
        "attempted": int(res.attempted),
        "failed": int(res.failed),
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in values.items()},
    }
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
