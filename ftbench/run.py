"""Run one benchmark workload and print its metrics.

    python3 ftbench/run.py --workload {bulk_load,stream_update} \\
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout. The engine runs on Spark ``local[n]``
with n = the number of usable cores, driven by this one process and one
client. Scratch files go under ``.ftbench_work/`` and are removed at the
end; traced runs leave their spans and event-log figures in
``.ftbench_out/``. The last line of standard output is one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics``: the
end-to-end metrics with ``--trace 0``, the per-layer ones with
``--trace 1``. The line before it carries the workload's detail figures.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seconds_since_process_start() -> float:
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    boot_now = time.clock_gettime(time.CLOCK_BOOTTIME)
    return boot_now - start_ticks / os.sysconf("SC_CLK_TCK")


def spark_session(work: str, trace: bool):
    from pyspark.sql import SparkSession

    cores = len(os.sched_getaffinity(0))
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("ftbench")
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", "2g")
        .config("spark.local.dir", os.path.join(work, "local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.driver.extraJavaOptions", "-XX:+UseParallelGC")
    )
    if trace:
        b = (b.config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.compress", "false")
             .config("spark.eventLog.dir", os.path.join(work, "events")))
    return b.getOrCreate(), cores


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it runs in (the gateway exits when
    its stdin closes), and wait for it, so no process outlives the run."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=120)


def main(argv: list[str]) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    try:
        import kafka_connect_opensearch_spark  # noqa: F401
    except ImportError as e:
        print(f"ftbench: engine package not found under {ROOT}: {e}",
              file=sys.stderr)
        return 2
    import workloads
    from spans import PeakMemory

    if args.workload not in workloads.WORKLOADS:
        print(f"ftbench: unknown workload {args.workload!r}; one of "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".ftbench_work", str(os.getpid()))
    for d in ("local", "warehouse", "tmp", "events"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    # Python workers import the engine from the checkout; temp files of the
    # driver, the JVM launcher and the workers stay inside the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [x for x in os.environ.get("PYTHONPATH", "").split(os.pathsep)
                  if x])
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # every JVM, the launcher's too: no perf-data or temp files outside
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}")
    import tempfile
    tempfile.tempdir = None

    # a SIGTERM unwinds through the finally below: the JVM is stopped and
    # the scratch directory removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    spark = None
    try:
        with PeakMemory() as mem:
            spark, cores = spark_session(work, bool(args.trace))
            spark.sparkContext.setLogLevel("ERROR")
            run = workloads.Run(spark, cores, work, args.seed, args.seconds,
                                bool(args.trace), seconds_since_process_start)
            result = workloads.WORKLOADS[args.workload](run)
            if args.trace:
                stop_spark(spark)
                spark = None
                result.finish_trace(os.path.join(work, "events"))
            result.e2e["peak_pss_mb"] = (mem.peak_mb, "MB")
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass

    metrics = result.per_layer if args.trace else result.e2e
    want = workloads.PER_LAYER if args.trace else workloads.E2E
    if set(metrics) != set(want):
        print(f"ftbench: metrics {sorted(set(metrics) ^ set(want))} missing "
              "or undeclared", file=sys.stderr)
        return 1
    if args.trace:
        out = os.path.join(ROOT, ".ftbench_out",
                           f"trace-{args.workload}-{args.seed}.json")
        result.tracer.dump(out, {"figures": result.figures,
                                 "per_layer": result.per_layer,
                                 "e2e": result.e2e,
                                 "detail": result.detail})
    for err in result.errors[:20]:
        print(f"ftbench: check failed: {err}", file=sys.stderr)
    print(json.dumps({"detail": result.detail}))
    print(json.dumps({
        "correct": not result.errors,
        "attempted": result.attempted,
        "failed": result.failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in sorted(metrics.items())},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
