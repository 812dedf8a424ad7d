#!/usr/bin/env python3
"""CDC engine benchmark: runs one workload and prints its metrics.

    python3 perfbench/run.py --workload replay|tail|serve --seed N \\
        --seconds S --trace 0|1

Run from the repository root. The last line of standard output is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``: with ``--trace 0``
every end-to-end metric, with ``--trace 1`` every per-layer metric; every
workload prints the same names. The line before it is a JSON detail record (host, JVM and Spark
configuration, load average, set-up phases, sample counts, error rate).
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: Spark settings recorded with every run (the session.get_spark values)
RECORDED_CONF = (
    "spark.master",
    "spark.driver.memory",
    "spark.driver.extraJavaOptions",
    "spark.sql.shuffle.partitions",
    "spark.sql.adaptive.enabled",
    "spark.sql.adaptive.coalescePartitions.enabled",
    "spark.sql.adaptive.skewJoin.enabled",
    "spark.sql.session.timeZone",
    "spark.sql.execution.arrow.pyspark.enabled",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.outputTimestampType",
    "spark.sql.parquet.compression.codec",
    "spark.sql.streaming.schemaInference",
)


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=["replay", "tail", "serve"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def heap_gb() -> int:
    """Driver heap from the machine's memory: an eighth of it, 1-4 GiB
    (the inputs are small; the machine may be shared)."""
    with open("/proc/meminfo") as fh:
        kb = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:"))
    return max(1, min(4, -(-kb // (8 << 20))))


def configure(work: str) -> dict:
    """Process environment for Spark, set before pyspark starts the JVM:
    everything Spark, the JVM and Python write goes under ``work``, and
    Spark's Python workers can import the package from any directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    nproc = len(os.sched_getaffinity(0))
    heap = heap_gb()
    java_opts = f"-Djava.io.tmpdir={tmp}"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = tmp
    os.environ["TZ"] = "UTC"  # naive datetimes in scan bounds are UTC
    time.tzset()
    os.environ["SPARK_DRIVER_MEM"] = f"{heap}g"
    os.environ["SPARK_GRAFT_JAVA_OPTS"] = java_opts
    return {"nproc": nproc, "heap_gb": heap, "java_opts": java_opts}


def start_spark(work: str, nproc: int):
    from nifi_dicom_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        cpus=nproc,
        extra_conf={
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.ui.showConsoleProgress": "false",
        },
    )


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers) to
    exit."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits when stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — a JVM that will not exit is killed
            proc.kill()
            proc.wait()


def main(argv: list[str] | None = None, sizes=None) -> int:
    """``sizes`` replaces the workloads' default input sizes (self-test)."""
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "nifi_dicom_spark", "__init__.py")):
        print(f"perfbench: no nifi_dicom_spark package in {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import layers, tracing, workloads

    work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    load_start = os.getloadavg()[0]
    host = configure(work)
    try:
        t0 = time.monotonic()
        spark = start_spark(work, host["nproc"])
        session_s = time.monotonic() - t0
        try:
            tracer = tracing.Tracer() if args.trace else tracing.NullTracer()
            progress = tracing.progress_listener() if args.trace else None
            restore = tracing.install(tracer) if args.trace else None
            if progress is not None:
                spark.streams.addListener(progress)
            run = workloads.Run(
                spark, work, args.seed, args.seconds, tracer, bool(args.trace),
                sizes or workloads.Sizes(), progress,
            )
            try:
                outcome = workloads.WORKLOADS[args.workload](run)
                if progress is not None:
                    progress.settle()
                    spark.streams.removeListener(progress)
                layer_metrics = layers.per_layer(run) if args.trace else None
            finally:
                if restore is not None:
                    restore()
            conf = dict(spark.sparkContext.getConf().getAll())
        finally:
            stop_spark(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    setup_s = session_s + sum(run.setup.values())
    e2e = {"setup_s": (setup_s, "s"), **outcome.metrics}
    metrics = layer_metrics if args.trace else e2e
    correct = run.failed == 0 and outcome.invalid is None
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "error_rate": run.failed / max(1, run.attempted),
        "invalid": outcome.invalid,
        "setup_phases_s": {"session": session_s, **run.setup},
        # a traced run's end-to-end numbers, to set against an untraced
        # run of the same seed for the tracing overhead
        "end_to_end": {k: v[0] for k, v in e2e.items()},
        **outcome.detail,
        "host": {
            **host,
            "load_1m_start": load_start,
            "load_1m_end": os.getloadavg()[0],
        },
        "spark_conf": {k: conf.get(k) for k in RECORDED_CONF},
    }
    print(json.dumps(detail))
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": run.attempted,
                "failed": run.failed,
                "metrics": {
                    k: {"value": value, "unit": unit}
                    for k, (value, unit) in metrics.items()
                },
            }
        ),
        flush=True,
    )
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
