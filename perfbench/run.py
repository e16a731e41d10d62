"""Benchmark for firmwarescraper_spark.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. Workloads (see README.md):

  polite_crawl  seeds-to-fixpoint crawl under a binding politeness budget
  query_suite   a fixed selection of the declared analytics queries

Each run starts its own Spark session on ``local[4]`` and drives the
engine's public API from one client in a closed loop: the next round or
query is issued only when the previous one has returned. The inputs
depend on ``--seed`` alone (the query tables on nothing); ``--seconds``
fixes how many passes a run measures. With ``--trace 0`` the last line of
standard output is the end-to-end result; with ``--trace 1`` the same
work runs with spans recorded, then the layer replays, and the last line
carries the per-layer metrics.

Everything the run writes goes under ``.perfbench/`` in the checkout; the
span log of a traced run stays there as ``traces/<workload>-<seed>.jsonl``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("polite_crawl", "query_suite")


class Session:
    """A Spark session whose JVM and Python workers live under ``work``
    and are stopped, and waited for, by ``close``."""

    def __init__(self, work: str):
        tmp = os.path.join(work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        # Python workers import the package from the checkout
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
        os.environ["TMPDIR"] = tmp
        # the launcher JVM that spark-submit starts first
        os.environ["SPARK_LAUNCHER_OPTS"] = (
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
        from firmwarescraper_spark.session import get_spark

        from common import CORES

        self.spark = get_spark(
            app_name="perfbench", master=f"local[{CORES}]",
            shuffle_partitions=CORES,
            extra_conf={
                "spark.local.dir": os.path.join(work, "spark-local"),
                "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
                "spark.ui.showConsoleProgress": "false",
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
            })
        self.spark.sparkContext.setLogLevel("FATAL")

    def close(self):
        from pyspark import SparkContext

        from sysmon import _tree

        gateway = SparkContext._gateway
        others = set(_tree(os.getpid())) - {os.getpid()}
        self.spark.stop()
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
        # the Python worker daemons exit once the JVM is gone
        deadline = time.monotonic() + 30
        while others and time.monotonic() < deadline:
            others = {p for p in others if os.path.exists(f"/proc/{p}")}
            time.sleep(0.1)
        for pid in others:
            with contextlib.suppress(ProcessLookupError):
                os.kill(pid, signal.SIGKILL)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # the engine and the query registry are measured from the checkout;
    # without them there is nothing to measure
    for name in ("firmwarescraper_spark/__init__.py", "__spark_entry__.py"):
        if not os.path.isfile(os.path.join(ROOT, name)):
            print(f"perfbench: {name} not found under {ROOT}", file=sys.stderr)
            return 2
    sys.path.insert(0, ROOT)

    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        if args.workload == "polite_crawl":
            from crawlbench import run_workload
        else:
            from querybench import run_workload
        from common import host_loop_s

        probe = [host_loop_s()]
        t0 = time.monotonic()
        session = Session(work)
        session_s = time.monotonic() - t0
        try:
            result = run_workload(session.spark, work, args, session_s)
        finally:
            session.close()
        probe.append(host_loop_s())
        result.values["host.loop_s"] = sum(probe) / 2
        result.notes.append(
            "host speed probe (fixed pure-Python loop, no engine process "
            f"alive): {probe[0]:.3f} s before the run, {probe[1]:.3f} s after")
        if result.tracer is not None:
            traces = os.path.join(base, "traces")
            os.makedirs(traces, exist_ok=True)
            result.tracer.dump(os.path.join(
                traces, f"{args.workload}-{args.seed}.jsonl"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    for line in result.notes:
        print(line)
    print(json.dumps({
        "correct": not result.failures,
        "attempted": result.attempted,
        "failed": result.failed,
        "metrics": result.metrics(bool(args.trace)),
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
