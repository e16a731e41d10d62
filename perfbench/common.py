"""What both workloads share: metric names and units, the result of one
run, and the timing helpers."""

from __future__ import annotations

import json
import math
import os
import statistics
import time
from dataclasses import dataclass, field

CORES = 4
SETUP_REPS = 3

# The metric names and units are those of BENCHMARK.json at the root of the
# checkout: the end-to-end ones are printed with --trace 0, the per-layer
# ones with --trace 1, on every workload. Throughput is URLs resolved into
# the seen set per second on polite_crawl and query executions per second
# on query_suite; a layer a workload does not run reads 0.
with open(os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "BENCHMARK.json")) as _fh:
    _SPEC = json.load(_fh)
END_TO_END = {m["name"]: m["unit"] for m in _SPEC["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in _SPEC["per_layer"]}


@dataclass
class Result:
    attempted: int = 0
    failures: list = field(default_factory=list)  # names of failed ops
    values: dict = field(default_factory=dict)
    notes: list = field(default_factory=list)     # printed before the result
    tracer: object = None

    @property
    def failed(self) -> int:
        return len(self.failures)

    def metrics(self, traced: bool) -> dict:
        units = PER_LAYER if traced else END_TO_END
        return {name: {"value": float(self.values.get(name, 0.0)),
                       "unit": unit} for name, unit in units.items()}


def passes(seconds: float, pass_s: float) -> int:
    """How many passes a run of ``seconds`` measures: the work is fixed by
    ``seconds`` and a pass's nominal length, not by how fast the machine
    runs, so that a faster program shows a shorter ``wall_s``."""
    return max(1, round(seconds / pass_s))


def median_setup(fn, reps: int = SETUP_REPS):
    """Run ``fn`` ``reps`` times; (last result, median seconds)."""
    times, out = [], None
    for _ in range(reps):
        t0 = time.monotonic()
        out = fn()
        times.append(time.monotonic() - t0)
    return out, statistics.median(times)


def tail(values: list) -> float:
    """The highest percentile of ``values`` that has at least ten samples
    beyond it. Below 21 samples that percentile would sit under the
    median, so the 90th percentile (nearest rank) stands in."""
    vals = sorted(values)
    n = len(vals)
    if n >= 21:
        return vals[n - 11]
    return vals[max(0, math.ceil(0.9 * n) - 1)]


def tail_label(n: int) -> str:
    return f"p{100 * (n - 10) / n:.1f}" if n >= 21 else "p90 (nearest rank)"


def host_loop_s(n: int = 10_000_000) -> float:
    """Seconds a fixed pure-Python loop takes: a probe of the machine's
    speed, independent of the engine. Run with no engine process alive,
    it shows how fast the machine itself ran around a run."""
    t0, x = time.perf_counter(), 0
    for i in range(n):
        x += i
    return time.perf_counter() - t0


def measure(fn, spark):
    """(result, wall s, process-tree CPU s, peak memory sampler)."""
    from pyspark import SparkContext

    from sysmon import JvmMemory, PeakMemory, tree_cpu_seconds

    jvm = JvmMemory(spark.sparkContext._jvm, SparkContext._gateway.proc.pid)
    with PeakMemory(jvm=jvm) as mem:
        cpu0, t0 = tree_cpu_seconds(), time.monotonic()
        out = fn()
        wall, cpu = time.monotonic() - t0, tree_cpu_seconds() - cpu0
    return out, wall, cpu, mem


def memory_note(mem) -> str:
    parts = ", ".join(f"{name} {b / 2**20:.0f} MB"
                      for name, b in mem.jvm_parts.items())
    return (f"peak memory: Python processes {mem.pss_peak / 2**20:.0f} MB "
            f"(PSS), JVM {mem.jvm_peak / 2**20:.0f} MB ({parts}); "
            f"JVM resident {mem.jvm_pss_peak / 2**20:.0f} MB")


def memory_values(mem) -> dict:
    return {"peak_mem_mb": mem.peak / 2**20,
            "mem.jvm_pss_mb": mem.jvm_pss_peak / 2**20,
            "mem.spark_storage_mb": mem.jvm_parts["storage"] / 2**20,
            "mem.spark_execution_mb": mem.jvm_parts["execution"] / 2**20}
