"""Tests of the benchmark's own instruments.

    python3 -m pytest perfbench -q -p no:cacheprovider

Run from the repository root; the harvester test starts a small local
Spark session.
"""

import ast
import os
import subprocess
import sys
import time

import pytest

import sparkstats
import sysmon
from querymap import MODULES, QUERY_MODULE

HERE = os.path.dirname(os.path.abspath(__file__))


def test_every_query_is_mapped_exactly_once():
    import __spark_entry__ as E

    # a dict literal silently keeps the last of two equal keys: count the
    # keys as written
    tree = ast.parse(open(os.path.join(HERE, "querymap.py")).read())
    literal = next(n.value for n in tree.body if isinstance(n, ast.Assign)
                   and n.targets[0].id == "QUERY_MODULE")
    written = [k.value for k in literal.keys]
    assert len(written) == len(set(written))
    assert set(written) == set(E.queries())
    assert len(written) == 99
    assert set(QUERY_MODULE.values()) <= set(MODULES)


def test_query_selection_covers_every_module():
    from querybench import MODULE_REPLAYS, QUERIES, WARM_UP

    chosen = QUERIES + MODULE_REPLAYS
    assert len(set(chosen)) == len(chosen)
    assert {QUERY_MODULE[q] for q in chosen} == set(MODULES)
    assert WARM_UP in QUERY_MODULE and WARM_UP not in chosen


_BURN = "import time\nt = time.process_time()\nwhile time.process_time() - t < {s}: pass\n"


def test_tree_cpu_counts_a_reaped_child():
    before = sysmon.tree_cpu_seconds()
    subprocess.run([sys.executable, "-c", _BURN.format(s=1.0)], check=True)
    spent = sysmon.tree_cpu_seconds() - before
    # one second of child CPU, plus the interpreter's own start-up
    assert 0.95 <= spent <= 1.6


def test_tree_cpu_counts_a_live_grandchild():
    # a shell that starts a busy Python process: the busy process is a
    # grandchild, still running when the second sample is taken
    proc = subprocess.Popen(
        ["/bin/sh", "-c", f'{sys.executable} -c "{_BURN.format(s=30.0)}" & wait'])
    try:
        time.sleep(0.3)
        before = sysmon.tree_cpu_seconds()
        time.sleep(1.0)
        spent = sysmon.tree_cpu_seconds() - before
    finally:
        subprocess.run(["pkill", "-P", str(proc.pid)])
        proc.wait(timeout=10)
    assert 0.8 <= spent <= 1.2


def test_peak_memory_sees_an_allocation():
    with sysmon.PeakMemory(interval=0.05) as mem:
        base = sysmon.tree_pss_bytes()
        block = bytearray(200 * 2**20)
        block[::4096] = b"x" * len(block[::4096])  # touch every page
        time.sleep(0.2)
        del block
    assert mem.peak - base >= 180 * 2**20


def test_peak_memory_counts_forked_pages_once():
    # a forked child shares its parent's pages: PSS splits them, RSS
    # would count them twice
    block = bytearray(200 * 2**20)
    block[::4096] = b"x" * len(block[::4096])
    base = sysmon.tree_pss_bytes()
    pid = os.fork()
    if pid == 0:
        time.sleep(1.0)
        os._exit(0)
    try:
        time.sleep(0.3)
        with_child = sysmon.tree_pss_bytes()
    finally:
        os.waitpid(pid, 0)
    assert with_child - base < 50 * 2**20


@pytest.fixture(scope="module")
def spark():
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    s = (SparkSession.builder.master("local[2]").appName("perfbench-test")
         .config("spark.ui.enabled", "false").getOrCreate())
    yield s
    s.stop()
    # stop the JVM too, and wait for it, so that no process outlives the test
    gateway = SparkContext._gateway
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def test_harvest_counts_a_known_job(spark):
    from operator import add

    sc = spark.sparkContext
    t0 = time.time() * 1e3
    rdd = sc.parallelize(range(100), 4).map(lambda x: (x % 3, 1))
    counts = rdd.reduceByKey(add, 2)
    assert sorted(counts.collect()) == [(0, 34), (1, 33), (2, 33)]
    t1 = time.time() * 1e3
    # the same action again: its map stage is skipped (shuffle reused)
    counts.collect()
    t2 = time.time() * 1e3

    log = sparkstats.harvest(spark)
    first = log.totals([(t0, t1)])
    assert (first.jobs, first.stages, first.tasks, first.failed_tasks) == (1, 2, 6, 0)
    assert first.exec_run_s >= 0 and first.exec_cpu_s >= 0
    assert first.shuffle_write_mb > 0
    assert first.shuffle_read_mb == pytest.approx(first.shuffle_write_mb)
    second = log.totals([(t1, t2)])
    assert (second.jobs, second.stages, second.tasks) == (1, 1, 2)
    both = log.totals([(t0, t1), (t1, t2)])
    assert (both.jobs, both.stages, both.tasks) == (2, 3, 8)
    assert log.totals([(t2 + 1, t2 + 2)]).jobs == 0


def test_jvm_memory_counts_cached_rows(spark):
    from pyspark import SparkContext

    jvm = sysmon.JvmMemory(spark.sparkContext._jvm,
                           SparkContext._gateway.proc.pid)
    base = jvm.sample()
    # a million distinct 128-character strings cached in the JVM
    rows = spark.range(1_000_000).selectExpr(
        "sha2(cast(id as string), 512) as s").persist()
    assert rows.count() == 1_000_000
    try:
        with sysmon.PeakMemory(interval=0.1, jvm=jvm,
                               jvm_interval=0.02) as mem:
            time.sleep(0.3)
    finally:
        rows.unpersist(blocking=True)
    assert mem.jvm_parts["storage"] - base[0] >= 100 * 2**20
    assert mem.jvm_parts["non_heap"] > 0
    assert mem.jvm_peak >= sum(base) + 100 * 2**20
    # the JVM's resident size is reported, not counted
    assert mem.jvm_pss_peak > 0
    assert mem.peak == mem.pss_peak + mem.jvm_peak
    assert jvm.sample()[0] < base[0] + 10 * 2**20


def test_passes_are_fixed_by_seconds():
    from common import passes

    assert passes(12, 6.0) == 2
    assert passes(12, 45.0) == 1
    assert passes(100, 45.0) == 2


def test_tail_percentile():
    from common import tail

    assert tail([3.0, 1.0, 2.0]) == 3.0
    assert tail(list(range(1, 21))) == 18          # p90 by nearest rank
    assert tail(list(range(1, 22))) == 11          # ten samples beyond
    assert tail(list(range(1, 101))) == 90
