"""The ``query_suite`` workload: declared analytics queries, each built
and collected to the driver, checked against its DuckDB twin.

The tables are the seed-42 sf0.01 tables in ``data/`` (read-only; the
same scale the repository's oracle tests use); the seed does not apply.
Set-up computes the DuckDB reference for every selected query. The timed
region runs ``--seconds / PASS_S`` passes over the selection (at least
one); each query execution is one op. Each execution's rows are compared with
the reference after the timed region, normalized as in
``tests/test_entry_oracle.py``.
"""

from __future__ import annotations

import math
import os
import time

from querymap import QUERY_MODULE

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")

# The timed selection: the cheapest query (measured at sf0.01) of eight
# operator modules, including the three the crawl shares (frontier,
# extract, urlfilter). Fixed, and issued in this order, so that every run
# measures the same work.
QUERIES = (
    "hash_split",            # curation
    "token_counts",          # textops
    "dedup_exact",           # dedup
    "robots_directives",     # extract
    "hll_distinct",          # sketches
    "trap_signals",          # urlfilter
    "politeness_dequeue",    # frontier
    "json_extract",          # none
)
# The traced run also times one query of each remaining module after the
# timed pass, so that every module of querymap has a query_s figure.
MODULE_REPLAYS = (
    "cosine_topk_lsh",       # similarity
    "pagerank",              # graph
    "bpe_pair_counts",       # bpe
    "surt_canon",            # sources
    "media_meta",            # multimodal
    "sessionize",            # streaming
)
# one untimed execution warms the session before the timed passes
WARM_UP = "group_metrics"
# nominal seconds of one pass over QUERIES on a 4-core machine
PASS_S = 6.0


def _norm_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.6f}"
    return str(v)


def normalize(pdf):
    pdf = pdf[sorted(pdf.columns)]
    rows = sorted(tuple(_norm_cell(v) for v in row)
                  for row in pdf.itertuples(index=False))
    return list(pdf.columns), rows


def reference(names) -> dict:
    import duckdb

    import __spark_entry__ as E

    oracle = E.oracle_sql()
    con = duckdb.connect()
    try:
        for t in TABLES:
            path = os.path.join(DATA, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        return {n: normalize(con.execute(oracle[n]).fetchdf()) for n in names}
    finally:
        con.close()


def mismatch(name: str, got, want) -> str | None:
    (g_cols, g_rows), (w_cols, w_rows) = got, want
    if g_cols != w_cols:
        return f"{name}: columns {g_cols} vs {w_cols}"
    if g_rows != w_rows:
        return f"{name}: {len(g_rows)} rows vs {len(w_rows)}, rows differ"
    return None


def run_workload(spark, work: str, args, session_s: float):
    import statistics

    import __spark_entry__ as E
    from common import (CORES, Result, measure, median_setup, memory_note,
                        memory_values, passes, tail, tail_label)
    from spans import Tracer

    res = Result()
    queries = E.queries()
    checked = QUERIES + (MODULE_REPLAYS if args.trace else ())
    ref, ref_s = median_setup(lambda: reference(checked))
    t0 = time.monotonic()
    queries[WARM_UP](spark, DATA).toPandas()
    setup_s = session_s + ref_s + time.monotonic() - t0

    tracer = Tracer(f"query_suite-{args.seed}") if args.trace else None
    runs = []  # (name, seconds, rows or exception)

    def one(name):
        t = time.monotonic()
        try:
            if tracer is None:
                pdf = queries[name](spark, DATA).toPandas()
            else:
                with tracer.span("query", query=name):
                    with tracer.span("query.build", query=name):
                        df = queries[name](spark, DATA)
                    with tracer.span("query.sink", query=name):
                        pdf = df.toPandas()
            runs.append((name, time.monotonic() - t, pdf))
        except Exception as exc:  # a failing query is reported, not fatal
            runs.append((name, time.monotonic() - t, exc))

    def timed():
        for _ in range(passes(args.seconds, PASS_S)):
            for name in QUERIES:
                one(name)

    t_start = time.time() * 1e3
    _, wall, cpu, mem = measure(timed, spark)
    t_end = time.time() * 1e3
    n_timed = len(runs)
    if tracer is not None:
        overhead = tracer.self_cost
        for name in MODULE_REPLAYS:
            one(name)

    for name, _, out in runs:
        res.attempted += 1
        if isinstance(out, Exception):
            res.failures.append(f"{name}: {type(out).__name__}: {str(out)[:200]}")
        else:
            bad = mismatch(name, normalize(out), ref[name])
            if bad:
                res.failures.append(bad)
    res.notes += [f"FAILED {f}" for f in dict.fromkeys(res.failures)]
    times = [s for _, s, _ in runs[:n_timed]]
    v = res.values
    v.update({
        "setup_s": setup_s,
        "wall_s": wall,
        "cpu_s": cpu,
        **memory_values(mem),
        "throughput": n_timed / wall,
        "query_s.p50": statistics.median(times),
        "query_s.p90": tail(times),
    })
    res.notes.append(
        f"query_suite seed={args.seed}: {len(times)} executions of "
        f"{len(QUERIES)} queries; query_s.p90 = {tail_label(len(times))}; "
        "seconds per query: " + ", ".join(
            f"{n}={t:.2f}" for n, t, _ in runs[:n_timed])
        + f"; set-up: session {session_s:.2f} s, reference {ref_s:.2f} s, "
        f"warm-up {setup_s - session_s - ref_s:.2f} s; " + memory_note(mem))
    if tracer is None:
        return res

    res.tracer = tracer
    from sparkstats import harvest

    totals = harvest(spark).totals([(t_start, t_end)])
    for name, val in vars(totals).items():
        v[f"spark.{name}"] = val
    v["spark.busy_ratio"] = totals.exec_run_s / (wall * CORES)
    for sp in tracer.spans:
        if sp.name == "query":
            key = f"query_s.{QUERY_MODULE[sp.attrs['query']]}"
            v[key] = v.get(key, 0.0) + sp.end - sp.start
    v["trace.wall_s"] = wall
    v["trace.overhead_s"] = overhead
    v["trace.spans"] = len(tracer.spans)
    selfs = tracer.self_times()
    res.notes.append(
        f"self time: build {selfs.get('query.build', 0):.3f} s, "
        f"sink {selfs.get('query.sink', 0):.3f} s, "
        f"between {selfs.get('query', 0):.3f} s")
    return res
