#!/usr/bin/env python3
"""Run one benchmark workload and print its result as one JSON line.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 12 --trace 0

Run it from the root of a checkout of the repository. The workload's
inputs come from ``--seed`` only; every run is a fresh process with a
fresh Spark session, and all scratch files stay under ``.perfbench_work/``
in the checkout and are removed at exit. With ``--trace 0`` the result
holds the end-to-end metrics; with ``--trace 1`` the per-layer metrics,
and the spans are written to ``.perfbench_out/``. See perfbench/README.md.
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
RUN_DEADLINE_S = 150.0      # stop starting operations this long after start


def parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def stop_spark(spark) -> None:
    """Stop the session and wait until its JVM has exited (the JVM exits
    when its stdin closes; its Python workers go with it)."""
    from pyspark import SparkContext
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def main(argv=None) -> int:
    args = parse(argv)
    t_proc = time.perf_counter()
    sys.path.insert(0, ROOT)
    try:
        import pyspark  # noqa: F401
        import spatialsketch_spark
    except ImportError as e:
        print(f"perfbench: the engine is not importable from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    if not spatialsketch_spark.__file__.startswith(ROOT + os.sep):
        print(f"perfbench: the engine was imported from "
              f"{spatialsketch_spark.__file__}, not from {ROOT}",
              file=sys.stderr)
        return 2
    from perfbench import host, report
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS, Ctx
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"have {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        host.configure(ROOT, work, bool(args.trace))
        from spatialsketch_spark.config import get_spark
        tracer = Tracer(bool(args.trace))
        cpus = host.spark_cpus()
        with tracer.span("session"):
            spark = get_spark(f"perfbench-{args.workload}", cpus=cpus,
                              shuffle_partitions=cpus)
        try:
            spark.sparkContext.setLogLevel("ERROR")
            tracer.sc = spark.sparkContext
            ctx = Ctx(spark=spark, tracer=tracer, seed=args.seed,
                      seconds=args.seconds, work=work,
                      deadline=t_proc + RUN_DEADLINE_S)
            WORKLOADS[args.workload](ctx)
            if args.trace:
                from perfbench import census
                census.run(ctx, args.workload)
            log_dir = os.path.join(work, "eventlog")
        finally:
            stop_spark(spark)
        if args.trace:
            metrics = report.per_layer(ctx, log_dir)
            out = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out, exist_ok=True)
            tracer.write(os.path.join(
                out, f"spans-{args.workload}-{args.seed}.json"))
        else:
            metrics = report.end_to_end(ctx)
        result = {"correct": ctx.failed == 0, "attempted": ctx.attempted,
                  "failed": ctx.failed, "metrics": metrics}
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
