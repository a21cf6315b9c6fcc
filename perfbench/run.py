"""Benchmark entry point.

    python3 perfbench/run.py --workload kvs-ingest --seed 1 --seconds 12 --trace 0

Run from the repository root. Builds the workload's inputs from the
seed, starts the program's SparkSession with its shipped defaults on
every core (`SPARK_GRAFT_CPUS=$(nproc)`), warms up untimed, measures
for `--seconds`, checks every output, and prints one JSON line as the
last line of standard output:

    {"correct": ..., "attempted": N, "failed": M, "metrics": {...}}

`--trace 0` reports the end-to-end metrics; `--trace 1` reports the
per-layer metrics of a traced run (see traced.py) and writes its spans
to `.bench_work/traces/`. `--describe` prints the amounts of work a
seed produces. Exits non-zero without a result line when the program
is not importable. Design decisions and measured spread: RESULTS.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

WORK_DIR = ".bench_work"   # working space inside the checkout, removed per run
UNITS = {"setup_s": "s", "drain_rps": "1/s", "latency_p50_ms": "ms",
         "latency_p90_ms": "ms", "job_s": "s"}


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["kvs-ingest", "events-stateful", "corpus-dedup"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--cpus", type=int, default=len(os.sched_getaffinity(0)),
                    help="SPARK_GRAFT_CPUS for the session (default: every core)")
    ap.add_argument("--describe", action="store_true",
                    help="print the amounts of work the seed produces and exit")
    ap.add_argument("--drain-only", action="store_true",
                    help="drain right after warm-up, skipping the open loop, and "
                         "print only drain_rps (the traced run's single-core baseline)")
    return ap.parse_args(argv)


def program_env(cpus: int, work: str) -> None:
    """Core count for `get_spark`; the repository root on the Python
    path of the Spark workers (they unpickle program code); and every
    temporary file of Python, the JVM and Spark inside `work`, so a run
    writes only inside its checkout."""
    root = os.getcwd()
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    paths = [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    if root not in sys.path:
        sys.path.insert(0, root)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    java = os.environ.get("JAVA_TOOL_OPTIONS", "")
    os.environ["JAVA_TOOL_OPTIONS"] = f"{java} -Djava.io.tmpdir={tmp} -XX:-UsePerfData".strip()


def stop_spark(spark) -> None:
    """Stop the session, then end its JVM and wait for it: the JVM
    exits when the pipe to its standard input closes."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None


def make_workload(name: str, spark, work: str, seed: int, seconds: float, tracer,
                  traced: bool = False):
    import workloads

    cls = {"kvs-ingest": workloads.KvsIngest,
           "events-stateful": workloads.EventsStateful,
           "corpus-dedup": workloads.CorpusDedup}[name]
    return cls(spark, work, seed, seconds, tracer, traced)


def run_untraced(args, work: str) -> dict:
    """One end-to-end run with tracing off."""
    import spans as tr
    from awskinesisconsumer_spark.session import get_spark

    wl = make_workload(args.workload, None, work, args.seed, args.seconds, tr.NULL)
    wl.prepare()
    t0 = time.perf_counter()
    spark = get_spark()
    try:
        spark.sparkContext.setLogLevel("ERROR")
        wl.spark = spark
        wl.warmup()
        setup_s = time.perf_counter() - t0
        if args.drain_only:
            return {"drain_rps": wl.drain()}
        metrics = wl.measure()
        wl.check()
    finally:
        stop_spark(spark)
    metrics["setup_s"] = setup_s
    return {
        "correct": wl.failed == 0 and len(metrics) == len(UNITS),
        "attempted": wl.attempted,
        "failed": wl.failed,
        "metrics": {k: {"value": metrics[k], "unit": UNITS[k]} for k in UNITS if k in metrics},
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(os.getcwd(), "awskinesisconsumer_spark")):
        print("perfbench: run from the repository root; awskinesisconsumer_spark/ "
              "is not in the current directory", file=sys.stderr)
        return 2
    work = os.path.abspath(os.path.join(WORK_DIR, f"{args.workload}-{args.seed}-{os.getpid()}"))
    os.makedirs(work)
    try:
        program_env(args.cpus, work)
        if args.describe:
            wl = make_workload(args.workload, None, work, args.seed, args.seconds, None)
            wl.prepare()
            result = wl.describe()
        elif args.trace:
            import traced

            result = traced.run(args, work)
        else:
            result = run_untraced(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
