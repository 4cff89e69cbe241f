#!/usr/bin/env python3
"""margaret_spark benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload log_api --seed 1 --seconds 10 --trace 0

Run from the repository root. ``--trace 0`` prints the end-to-end
metrics of BENCHMARK.json; ``--trace 1`` prints the per-layer metrics of
a separate traced run. Every file the run writes (generated inputs,
the on-disk log, Spark scratch space) lives under
``perfbench/.work/`` and is removed at exit. See perfbench/README.md.
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
WORKLOADS = ("log_api", "pipeline")


class Run:
    """What one benchmark run shares across its phases: the session, the
    tracer, the work directory and the operation/failure tally."""

    def __init__(self, args, spark, work, session_start_s):
        from tracing import Tracer

        self.seed = args.seed
        self.seconds = args.seconds
        self.traced = bool(args.trace)
        self.spark = spark
        self.work = work
        self.session_start_s = session_start_s
        self.tracer = Tracer(spark, self.traced)
        self.attempted = 0
        self.failures: list[str] = []

    def stop(self, job_ids=(), skip_groups=()):
        """Read peak memory and, when traced, the task totals of
        ``job_ids`` (leaving out jobs of the groups in ``skip_groups``);
        then stop the session."""
        from tracing import JobStats, peak_rss_mb

        self.driver_rss_mb, self.jvm_rss_mb = peak_rss_mb(self.spark)
        stats = JobStats(self.spark, job_ids, skip_groups) if self.traced else None
        self.spark.stop()
        self.spark = None
        return stats

    def op(self, ok: bool, what: str) -> None:
        """Count one attempted operation or output check."""
        self.attempted += 1
        if not ok:
            self.failures.append(what)


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _session(work: str, traced: bool):
    from margaret_spark.session import get_spark

    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if traced:
        from tracing import STATUS_STORE_CONF

        conf.update(STATUS_STORE_CONF)
    spark = get_spark(
        app_name="margaret-spark-perfbench",
        cpus=len(os.sched_getaffinity(0)),
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def main(argv=None) -> int:
    args = _parse(argv)
    if not (
        os.path.isdir(os.path.join(ROOT, "margaret_spark"))
        and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))
    ):
        print(
            f"perfbench: no margaret_spark package beside {HERE}; run from a "
            "full checkout of the repository",
            file=sys.stderr,
        )
        return 2
    sys.path[:0] = [HERE, ROOT]
    from metrics import END_TO_END, PER_LAYER

    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    # Spark, its JVMs, its Python workers and the graded query's temp
    # dirs all follow these: nothing is written outside the checkout
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    spark = run = jvm = None
    try:
        t0 = time.perf_counter()
        spark = _session(work, bool(args.trace))
        jvm = spark.sparkContext._gateway.proc
        spark.range(1).count()
        run = Run(args, spark, work, time.perf_counter() - t0)
        if args.workload == "log_api":
            import logapi as workload
        else:
            import pipeline as workload
        values = workload.run(run, args.workload)
        units = PER_LAYER if args.trace else END_TO_END
        if set(values) != set(units):
            raise RuntimeError(f"metric names differ: {sorted(set(values) ^ set(units))}")
        for what in run.failures:
            print(f"perfbench: failed: {what}", file=sys.stderr)
        result = {
            "correct": not run.failures,
            "attempted": run.attempted,
            "failed": len(run.failures),
            "metrics": {
                name: {"value": values[name], "unit": unit}
                for name, unit in units.items()
            },
        }
        print(json.dumps(result))
        return 0
    finally:
        if spark is not None and (run is None or run.spark is not None):
            spark.stop()
        if jvm is not None:
            # the gateway JVM exits when its stdin closes; wait for it
            jvm.stdin.close()
            jvm.wait(timeout=60)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
