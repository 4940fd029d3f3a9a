"""salescore benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload etl_incremental --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The benchmark generates its inputs
from the seed under ``.perfbench_work/`` (so it only writes inside the
checkout), starts the program's own Spark session on
``local[<cpus>]``, warms up, runs the workload as a closed loop with
one client for ``--seconds``, checks every output, and prints one JSON
object as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` wraps the
program's layer entry points in timing spans and reports the per-layer
metrics instead, writing every span to
``.perfbench_work/traces/<workload>-seed<seed>.json``. It exits non-zero
without a result line when the program is missing.
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
WORKLOADS = ("etl_incremental", "query_mix")
HEAP = "1g"


def _declared(kind: str) -> dict[str, str]:
    """Metric name -> unit, as BENCHMARK.json declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def _spark_conf(work: str) -> dict[str, str]:
    return {
        # A fixed heap, committed and touched at start: the machine is
        # shared, and a heap that grows on demand reports a peak resident
        # set that swings with GC timing from run to run. The peak then
        # moves with off-heap, metaspace, thread and Python memory.
        "spark.driver.memory": HEAP,
        "spark.ui.showConsoleProgress": "false",
        # keep every job of the run in the status store for attribution
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Xms{HEAP} -XX:+AlwaysPreTouch",
    }


def _stop_spark(spark) -> None:
    """Stop the session and wait for its gateway JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=120)
        SparkContext._gateway = SparkContext._jvm = None


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="tiny inputs, for the benchmark's own tests")
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import sales_data_pipeline_spark
    except ImportError as e:
        print(f"perfbench: the program is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    if not sales_data_pipeline_spark.__file__.startswith(ROOT + os.sep):
        print(f"perfbench: imported {sales_data_pipeline_spark.__file__}, not the checkout's",
              file=sys.stderr)
        return 2

    import gen
    import layers
    from procfs import ProcSet, gateway_pid
    from spans import StatusStore, Tracer
    from workloads import Context, Etl, QueryMix

    work_root = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(work_root, args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    # every scratch file of Python, the JVMs and Spark stays in the checkout
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    cores = os.cpu_count() or 1

    if args.workload == "query_mix":
        wl = QueryMix(work, args.seed, os.path.join(work_root, "oracle-cache"))
    else:
        wl = Etl(work, args.seed, gen.TINY if args.size == "tiny" else gen.FULL)
    t_prep = time.perf_counter()
    wl.prepare()
    print(f"perfbench: inputs ready in {time.perf_counter() - t_prep:.1f}s", file=sys.stderr)

    from sales_data_pipeline_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{args.workload}", master=f"local[{cores}]",
                      extra_conf=_spark_conf(work))
    spark.sparkContext.setLogLevel("ERROR")
    try:
        t_warm = time.perf_counter()
        wl.warmup(spark)
        setup_s = time.perf_counter() - t0
        print(f"perfbench: session {t_warm - t0:.1f}s, warm-up {setup_s - t_warm + t0:.1f}s",
              file=sys.stderr)

        procs = ProcSet([os.getpid(), gateway_pid()])
        tracer = Tracer(f"{args.workload}-seed{args.seed}-{int(time.time())}") if args.trace else None
        if tracer:
            layers.install(tracer)
        procs.reset_peak_rss()
        try:
            ops = wl.measure(Context(spark, procs, tracer, args.seconds))
        finally:
            if tracer:
                tracer.unpatch()
        peak_rss_mb = procs.peak_rss_mb()
        print(f"perfbench: {len(ops)} operations, " + ", ".join(f"{o.wall_s:.2f}" for o in ops),
              file=sys.stderr)
        latency_s, write_amp = wl.latency(ops)

        if tracer:
            tracer.attach_spark(*StatusStore(spark.sparkContext).fetch())
            for op in ops:
                layers.finish_op(tracer, op)
            metrics, report = layers.reduce(tracer, ops, cores)
            metrics["trace.latency_s"] = latency_s
            traces = os.path.join(work_root, "traces")
            os.makedirs(traces, exist_ok=True)
            with open(os.path.join(traces, f"{args.workload}-seed{args.seed}.json"), "w") as f:
                json.dump({**tracer.to_json(), "report": report, "metrics": metrics}, f)
            print("self time by layer: " + ", ".join(
                f"{k} {v:.1%}" for k, v in sorted(report["self_share"].items(),
                                                 key=lambda kv: -kv[1])), file=sys.stderr)
        else:
            metrics = {"setup_s": setup_s, "latency_s": latency_s, "write_amp": write_amp,
                       "peak_rss_mb": peak_rss_mb}
    finally:
        _stop_spark(spark)

    declared = _declared("per_layer" if args.trace else "end_to_end")
    failed = sum(not o.ok for o in ops)
    print(f"{args.workload}: input {json.dumps(wl.input_size())}, {len(ops)} operations",
          file=sys.stderr)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": unit} for k, unit in declared.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
