"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds its inputs from the seed, starts
one Spark session (``local[nproc]``), sets up and warms the workload,
times a window of about ``--seconds`` seconds of fixed work, checks every
output, and prints one JSON object as the last line of standard output:
the end-to-end metrics of BENCHMARK.json with ``--trace 0``, its per-layer
metrics with ``--trace 1``. A traced run also writes its spans to
``perfbench/traces/``. Everything else the run writes lives in a private
directory under ``perfbench/.work/``, removed when the run ends.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()  # setup_s counts from here

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import kinesis_stream_consumer_spark  # noqa: E402,F401 - fails outside a checkout

from perfbench import common  # noqa: E402

WORKLOADS = ("engine_large_replay", "analytics_queries")
DRIVER_MEMORY = "4g"
# The driver JVM's heap is sized and touched up front, so neither heap
# growth nor first-touch page faults fall into the timed window, and hot
# methods are JIT-compiled after a tenth of the usual invocations, so a
# few warm operations reach the steady state (see README, Warm-up).
DRIVER_JAVA_OPTIONS = f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch -XX:CompileThresholdScaling=0.1"


def _environment(work: str) -> None:
    """Keep every file Spark, its workers and the package write inside the
    run's directory, and give executors the benchmark's task module."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # every JVM, the spark-submit launcher's included: no hsperfdata files
    # in /tmp, temporary files in the run's directory
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYSPARK_SUBMIT_ARGS"] = f'--driver-java-options "{DRIVER_JAVA_OPTIONS}" pyspark-shell'
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.chdir(work)


def _calibrate(spark) -> float:
    """A fixed synthetic Spark job; its time tracks host speed."""
    job = (
        spark.range(0, 4_000_000, numPartitions=8)
        .selectExpr("hash(id) % 1009 AS k", "id")
        .groupBy("k")
        .agg({"id": "sum"})
    )
    job.collect()
    t = time.perf_counter()
    job.collect()
    return time.perf_counter() - t


def _stop(spark) -> None:
    """Stop the session and the JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)


def _metrics(spec: dict, kind: str, values: dict) -> dict:
    return {
        m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
        for m in spec[kind]
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    base = os.path.join(ROOT, "perfbench", ".work")
    os.makedirs(base, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=base)
    run = common.Run(
        workload=args.workload, seed=args.seed, seconds=args.seconds,
        trace=bool(args.trace), work=work, t0=T0, tracer=common.Tracer(bool(args.trace)),
    )
    spark = None
    try:
        _environment(work)
        load_start = common.loadavg()
        from kinesis_stream_consumer_spark.session import get_spark

        with run.tracer.span("setup.session"):
            t = time.perf_counter()
            spark = get_spark("perfbench")
            spark.sparkContext.setLogLevel("ERROR")
            session_s = time.perf_counter() - t
        run.spark = spark
        with run.tracer.span("setup.calibrate"):
            calibration_s = _calibrate(spark)
        import pyspark

        java = spark.sparkContext._jvm.System.getProperty("java.version")
        print(
            f"env: nproc={os.cpu_count()} SPARK_GRAFT_CPUS={os.environ['SPARK_GRAFT_CPUS']} "
            f"pyspark={pyspark.__version__} java={java} "
            f"loadavg={' '.join(f'{x:.2f}' for x in os.getloadavg())} "
            f"calibration_s={calibration_s:.4f}",
            flush=True,
        )

        if args.workload == "analytics_queries":
            from perfbench.analytics import analytics_queries as workload
        else:
            from perfbench.consumer import engine_large_replay as workload
        out = workload(run)

        jvm_pid = getattr(getattr(spark.sparkContext._gateway, "proc", None), "pid", None)
        run.layer.update({
            "session.start_s": session_s,
            "session.peak_rss_mb": common.peak_rss_mb([os.getpid(), jvm_pid]),
            "host.calibration_s": calibration_s,
            "host.loadavg_start": load_start,
            "host.loadavg_end": common.loadavg(),
            "trace.work_s": out.work_s,
        })
    finally:
        if spark is not None:
            _stop(spark)
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)

    tail_s, tail_pct, n = common.tail(out.op_s)
    print(
        f"ops: {n} timed, p50 {common.median(out.op_s):.4f} s, "
        f"tail {tail_s:.4f} s at p{tail_pct} of {n}, "
        f"flatness (second-half / first-half median) {common.flatness(out.op_s):.3f}, "
        f"setup {out.setup_s:.2f} s, window {out.work_s:.2f} s, "
        f"op_s {[round(x, 3) for x in out.op_s]}"
    )
    if run.trace:
        trace_dir = os.path.join(ROOT, "perfbench", "traces")
        os.makedirs(trace_dir, exist_ok=True)
        path = os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.json")
        with open(path, "w") as f:
            json.dump({"layer": run.layer, "spans": run.tracer.spans}, f, indent=1, default=str)
        print(f"trace: {os.path.relpath(path, ROOT)}")
        metrics = _metrics(spec, "per_layer", run.layer)
    else:
        metrics = _metrics(spec, "end_to_end", {
            "setup_s": out.setup_s,
            "work_s": out.work_s,
            "op_p50_s": common.median(out.op_s),
            "items_per_s": out.items / out.work_s if out.work_s else 0.0,
        })
    print(json.dumps({
        "correct": out.correct and out.failed == 0,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": metrics,
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
