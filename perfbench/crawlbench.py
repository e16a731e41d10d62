"""The ``polite_crawl`` workload: a seeds-to-fixpoint crawl under a
politeness budget that binds on the hot host.

Set-up writes the pages corpus as parquet (pyarrow, no Spark), computes
the reference crawl with ``plans.simulator.simulate`` and warms the
session. The timed region is ``--seconds / CRAWL_S`` crawls (at least
one), each a ``CrawlEngine.run`` from the seeds to the fixpoint; each
``run_round`` call inside it is timed on its own. The check afterwards
compares the engine's seen set and item multiset with the reference
crawl.

The traced run then replays layers one public function at a time into a
noop sink: the selection layers of each round on that round's captured
inputs (its frontier snapshot and the seen rows committed before it), and
every layer on one round-shaped pass over the whole corpus with all rule
packs (``_Replay``). It also reads the state directory.
"""

from __future__ import annotations

import os
import random
import time
import zlib
from datetime import datetime, timedelta, timezone
from urllib.parse import parse_qsl

import pyarrow as pa
import pyarrow.parquet as pq

from firmwarescraper_spark.functions.html import extract_text
from firmwarescraper_spark.plans.simulator import simulate
from firmwarescraper_spark.sources import generate as G

# Corpus shape: the two reference sites and a few AVM mirror hosts for a
# many-host frontier; download.avm.de stays the hot host. The seven-vendor
# + FTP pages are in the corpus for the traced run's all-rules replay; the
# timed crawl does not reach them (see crawl_seeds).
CORPUS = dict(n_avm=2, n_linksys=2, n_mirrors=4, n_avm_mirror=2, n_pad=0,
              vendor_scale=1)
CORPUS_FILES = 4
# download.avm.de's robots.txt sets Crawl-delay: 1, so its per-round
# budget is ROUND_SECONDS URLs. It has 12 seeds, so the budget defers one
# of them to the second round.
ROUND_SECONDS = 11.0
TOKENS_PER_HOST = 10_000
SALT_BUCKETS = 4
COMPACT_EVERY = 2
# nominal seconds of one crawl on a 4-core machine
CRAWL_S = 45.0
# rounds whose layers the traced run replays
REPLAY_ROUNDS = (0, 1, 2)

_EPOCH = datetime(2020, 1, 1, tzinfo=timezone.utc)
_SCHEMA = pa.schema([
    ("url", pa.string()),
    ("warc_ts", pa.timestamp("us", tz="UTC")),
    ("html", pa.binary()),
    ("text", pa.string()),
    ("lang", pa.string()),
])


def crawl_seeds(seed: int) -> list:
    """The Linksys start URL and the AVM product pages three levels below
    the AVM start URLs (the reference crawl's depth-3 AVM requests, which
    carry no lineage and yield the AVM items), in an order drawn from
    ``seed``. Starting the AVM trees at their leaves makes the crawl as
    deep as the Linksys tree, three rounds, which keeps a run short. The
    order changes the crawl order; the reference crawl starts from the
    same list."""
    start = G.seeds(n_mirrors=CORPUS["n_mirrors"])
    top = simulate(G.corpus_dict(**CORPUS), start)
    seeds = [s for s in start if not s[1].startswith("avm:")] + [
        (url, rule) for _, url, _, depth, rule in top.order
        if depth == 3 and rule.startswith("avm:")]
    random.Random(seed).shuffle(seeds)
    return seeds


def write_corpus(out_dir: str) -> int:
    """The pages table in the engine's input layout, split by URL hash
    into ``CORPUS_FILES`` parquet files."""
    pages = G.corpus_dict(**CORPUS)
    parts = [[] for _ in range(CORPUS_FILES)]
    for url, body in pages.items():
        crc = zlib.crc32(url.encode())
        parts[crc % CORPUS_FILES].append({
            "url": url,
            "warc_ts": _EPOCH + timedelta(seconds=crc % 86400),
            "html": body.encode("utf-8"),
            "text": extract_text(body),
            "lang": "de" if "linksys" in url else "en",
        })
    os.makedirs(out_dir, exist_ok=True)
    for i, rows in enumerate(parts):
        pq.write_table(pa.Table.from_pylist(rows, schema=_SCHEMA),
                       os.path.join(out_dir, f"part-{i:05d}.parquet"))
    return len(pages)


def reference(seeds: list):
    return simulate(G.corpus_dict(**CORPUS), seeds)


def all_requests() -> list:
    """(url, rule, form) of every request of the reference crawl from all
    seeds, the seven vendors included; the form of a POST request is read
    back from its fetch key."""
    ref = simulate(G.corpus_dict(**CORPUS),
                   G.seeds(n_mirrors=CORPUS["n_mirrors"], include_vendors=True))
    return [(url, rule, dict(parse_qsl(key.partition("|form|")[2],
                                       keep_blank_values=True)) or None)
            for _, url, key, _, rule in ref.order]


def item_key(d: dict) -> tuple:
    return tuple(tuple(d[c]) for c in
                 ("vendor", "device_name", "firmware_version",
                  "device_class", "release_date", "file_urls"))


class PoliteCrawl:
    """One polite crawl over a corpus directory, with per-round times."""

    def __init__(self, spark, pages: str, state: str, tracer=None):
        from firmwarescraper_spark.plans.crawl import CrawlEngine

        self.tracer = tracer
        self.eng = CrawlEngine(
            spark, pages, state, tokens_per_host=TOKENS_PER_HOST,
            salt_buckets=SALT_BUCKETS, round_seconds=ROUND_SECONDS,
            compact_every=COMPACT_EVERY)
        self.round_s: list[float] = []
        self.phases: list[dict] = []
        round_fn, compact_fn = self.eng.run_round, self.eng.compact_state
        if tracer is not None:
            round_fn = tracer.wrap("run_round", round_fn)
            compact_fn = tracer.wrap("compact_state", compact_fn)

        def timed_round(rnd):
            t0 = time.monotonic()
            out = round_fn(rnd)
            self.round_s.append(time.monotonic() - t0)
            self.phases.append(dict(self.eng.last_round_phases))
            return out

        # instance attributes shadow the methods that run() calls
        self.eng.run_round = timed_round
        self.eng.compact_state = compact_fn

    def run(self, seeds: list) -> dict:
        if self.tracer is None:
            return self.eng.run(seeds, fresh=True)
        with self.tracer.span("run"):
            return self.eng.run(seeds, fresh=True)

    def check(self, ref) -> list:
        """Names of the failed checks (empty when the crawl matches)."""
        failed = []
        seen = {r[0] for r in self.eng.seen().select("fetch_key").collect()}
        if seen != ref.seen:
            failed.append(f"seen set: {len(seen - ref.seen)} extra, "
                          f"{len(ref.seen - seen)} missing")
        items = sorted(item_key(r.asDict())
                       for r in self.eng.items().drop("round").collect())
        if items != sorted(item_key(d) for d in ref.items):
            failed.append(f"item multiset: {len(items)} engine items, "
                          f"{len(ref.items)} reference items")
        return failed


def _warm_up(spark, pages: str) -> None:
    """Start the Python workers and load the scan, Arrow-UDF and parse
    code paths that the first round would otherwise pay for."""
    from pyspark.sql import functions as F

    from firmwarescraper_spark.functions import url as U
    from firmwarescraper_spark.functions.html import parse_page_udf

    (spark.read.parquet(pages)
     .select(U.canonicalize_url_udf()(F.col("url")),
             parse_page_udf()(F.col("html").cast("string")))
     .write.format("noop").mode("overwrite").save())


class _Replay:
    """Layer replays of the traced run. Each layer's output goes to a noop
    sink inside its span, then is cached and counted outside the span as
    the next layer's input; ``close`` drops the cached frames."""

    def __init__(self, eng, tracer):
        self.eng, self.tr = eng, tracer
        self.counts: dict = {}
        self.rules: set = set()
        self.held = []

    def hold(self, df):
        df = df.persist()
        self.held.append(df)
        return df, df.count()

    def sink(self, name, *dfs, **attrs):
        with self.tr.span(name, **attrs):
            for df in dfs:
                df.write.format("noop").mode("overwrite").save()

    def add(self, key, n):
        self.counts[key] = self.counts.get(key, 0) + n

    def close(self):
        for df in self.held:
            df.unpersist()
        self.held = []

    def round(self, rnd: int) -> None:
        """The selection layers of round ``rnd`` on its captured inputs:
        its frontier snapshot and the seen rows committed before it. Each
        layer is called with the arguments ``run_round`` passes it."""
        from pyspark.sql import functions as F

        from firmwarescraper_spark.operators import frontier as FR
        from firmwarescraper_spark.operators import robots as RB

        eng = self.eng
        frontier, n_frontier = self.hold(eng._read_frontier(rnd))
        seen, n_seen = self.hold(eng.seen().filter(F.col("round") < rnd)
                                 .select("url_hash", "fetch_key"))
        if n_seen:
            cand = FR.anti_join_seen(frontier, seen,
                                     bloom=eng.use_bloom_prefilter)
            self.sink("frontier.anti_join", cand, round=rnd)
            cand, n_cand = self.hold(cand)
        else:
            # run_round skips the anti-join while nothing is seen
            cand, n_cand = frontier, n_frontier

        rules, budget = eng._robots(frontier)
        allowed, blocked, joined = RB.robots_filter(
            cand, rules, persist_split=True)
        self.held.append(joined)
        self.sink("robots.filter", allowed, blocked, round=rnd)
        allowed, n_allowed = self.hold(allowed)

        if (eng._budget_all_unlimited
                and eng.tokens_per_host >= FR.UNLIMITED_TOKENS):
            budget = None
        dequeued, deferred = FR.politeness_dequeue(
            allowed, eng.tokens_per_host, eng.salt_buckets, budget)
        self.sink("frontier.dequeue", dequeued, deferred, round=rnd)
        dequeued, n_dequeued = self.hold(dequeued)

        use_bcast = eng._fetch_broadcast_choice(rnd)
        eng.pages()  # resolves the corpus columns the fetcher reads
        fetched = eng.fetcher.fetch(dequeued, use_bcast)
        self.sink("fetch.join", fetched, round=rnd)
        for key, n in (("frontier", n_frontier), ("cand", n_cand),
                       ("robots_in", n_cand), ("allowed", n_allowed),
                       ("dequeued", n_dequeued),
                       ("fetched", fetched.count()),
                       ("broadcast", int(use_bcast))):
            self.add(key, n)

    def all_rules(self, requests: list) -> None:
        """The layers of one round-shaped pass over every request of the
        reference crawl from all seeds, vendors included, each with the
        rule the reference assigned it, so that all rule packs run (lineage
        starts empty). Its frontier first meets the crawl's final seen set
        in the anti-join, which drops the pages the crawl fetched.

        The parse, rule and child-normalization steps are not public
        functions of the engine but inline code of ``run_round``; they are
        rebuilt here from the same calls (see README.md for where they
        differ)."""
        from pyspark.sql import functions as F

        from firmwarescraper_spark.functions import url as U
        from firmwarescraper_spark.functions.html import parse_page_udf
        from firmwarescraper_spark.operators import frontier as FR
        from firmwarescraper_spark.plans import rulepacks as RP
        from firmwarescraper_spark.plans.crawl import FRONTIER_SCHEMA

        eng = self.eng
        frontier, n_frontier = self.hold(eng.seed_frontier(requests))
        seen, _ = self.hold(eng.seen().select("url_hash", "fetch_key"))
        cand = FR.anti_join_seen(frontier, seen, bloom=eng.use_bloom_prefilter)
        self.sink("frontier.anti_join", cand)
        self.add("frontier", n_frontier)
        self.add("cand", cand.count())
        eng.pages()  # resolves the corpus columns the fetcher reads
        fetched, _ = self.hold(eng.fetcher.fetch(frontier, True))
        parsed = (
            fetched.filter((F.col("status") >= 200) & (F.col("status") < 300))
            .drop("status")
            .withColumn("page_bytes", F.length("html"))
            .withColumn("parsed", parse_page_udf(
                tuple(sorted(RP.RULE_PARSE_FIELDS.items())))(
                    F.col("html"), F.col("rule")))
            .withColumn("html",
                        F.when(F.col("rule").contains("ftp"), F.col("html"))))
        self.sink("html.parse", parsed)
        parsed, n_pages = self.hold(parsed)

        present = set(frontier.agg(F.collect_set("rule")).first()[0])
        children, pats, items, quarantine = [], set(), [], []
        with self.tr.span("rules.plan"):
            for rule, fn in RP.RULES.items():
                if rule not in present:
                    continue
                res = fn(parsed.filter(F.col("rule") == rule))
                if res[0] is not None:
                    pat = RP.allowed_host_pattern(rule)
                    pats.add(pat)
                    children.append(res[0].withColumn("_pat", F.lit(pat)))
                if res[1] is not None:
                    items.append(res[1])
                if len(res) > 2 and res[2] is not None:
                    quarantine.append(res[2])
        self.rules = present
        kids = children[0]
        for df in children[1:]:
            kids = kids.unionByName(df)
        self.sink("rules.extract", kids, *items, *quarantine)
        kids, n_kids = self.hold(kids)

        offsite = F.coalesce(
            *[F.when(F.col("_pat") == p, F.col("host").rlike(p))
              for p in sorted(pats)],
            F.lit(False))
        fresh = (
            kids.repartition(eng.spark.sparkContext.defaultParallelism)
            .withColumn("canon_url", U.canonicalize_url_udf()(F.col("url")))
            .withColumn("fetch_key",
                        U.fetch_key_col(F.col("canon_url"), F.col("form_data")))
            .withColumn("url_hash", F.xxhash64("fetch_key"))
            .withColumn("host", U.url_host_udf()(F.col("url")))
            .filter(offsite)
            .withColumn("priority", FR.priority_score(F.col("url")))
            .withColumn("seq", F.concat_ws(
                ".", F.col("parent_seq"),
                F.format_string("%09d", F.col("pos"))))
            .withColumn("round_added", F.lit(1))
            .withColumn("retry_count", F.lit(0))
            .select([f.name for f in FRONTIER_SCHEMA.fields]))
        self.sink("url.normalize", fresh)
        fresh, _ = self.hold(fresh)
        # run_round dedups against this round's seen rows (here every
        # request, all fetched), the earlier seen rows and the rows
        # scheduled for the next round (none: nothing is deferred)
        kept = FR.dedup_new_children(
            fresh, frontier.select("url_hash", "fetch_key")
            .unionByName(seen))
        self.sink("frontier.dedup_children", kept)
        n_items = sum(df.count() for df in items)
        for key, n in (("pages", n_pages), ("children", n_kids),
                       ("items", n_items), ("kept", kept.count())):
            self.add(key, n)


def _dir_stats(path: str) -> tuple:
    files = size = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(root, n))
    return files, size


def _ratio(num, den) -> float:
    return num / den if den else 0.0


def run_workload(spark, work: str, args, session_s: float):
    import shutil
    import statistics

    from common import (CORES, Result, measure, median_setup, memory_note,
                        memory_values, passes, tail, tail_label)
    from spans import Tracer

    res = Result()
    pages = os.path.join(work, "pages")

    def generate():
        shutil.rmtree(pages, ignore_errors=True)
        return write_corpus(pages)

    _, gen_s = median_setup(generate)
    t0 = time.monotonic()
    seeds = crawl_seeds(args.seed)
    ref = reference(seeds)
    _warm_up(spark, pages)
    setup_s = session_s + gen_s + time.monotonic() - t0

    tracer = Tracer(f"polite_crawl-{args.seed}") if args.trace else None
    crawl = PoliteCrawl(spark, pages, os.path.join(work, "state"), tracer)
    wall = cpu = 0.0
    peak = None  # the memory sampler of the pass with the highest peak
    urls = 0
    windows = []  # epoch ms of each timed crawl, for the Spark totals
    for _ in range(passes(args.seconds, CRAWL_S)):
        n_before = len(crawl.round_s)
        t_start = time.time() * 1e3
        try:
            summary, w, c, mem = measure(lambda: crawl.run(seeds), spark)
        except Exception as exc:  # a failed round ends the run, reported
            res.attempted += len(crawl.round_s) - n_before + 1
            res.failures.append(
                f"round {len(crawl.round_s) - n_before}: "
                f"{type(exc).__name__}: {str(exc)[:200]}")
            break
        windows.append((t_start, time.time() * 1e3))
        wall, cpu = wall + w, cpu + c
        if peak is None or mem.peak > peak.peak:
            peak = mem
        urls += summary["seen"]
        rounds = len(crawl.round_s) - n_before
        res.attempted += rounds
        # a wrong final state fails every round of that crawl
        for name in crawl.check(ref):
            res.failures += [f"crawl check: {name}"] * rounds
    if res.failures:
        res.notes += [f"FAILED {f}" for f in dict.fromkeys(res.failures)]
    if peak is None:
        return res
    v = res.values
    v.update({
        "setup_s": setup_s,
        "wall_s": wall,
        "cpu_s": cpu,
        **memory_values(peak),
        "throughput": urls / wall if wall else 0.0,
        "round_s.p50": statistics.median(crawl.round_s),
        "round_s.tail": tail(crawl.round_s),
    })
    times = ", ".join(f"{t:.2f}" for t in crawl.round_s)
    res.notes.append(
        f"polite_crawl seed={args.seed}: {len(crawl.round_s)} rounds "
        f"({times} s), {urls} URLs; round_s.tail = "
        f"{tail_label(len(crawl.round_s))}; set-up: session {session_s:.2f} s, "
        f"corpus {gen_s:.2f} s, reference and warm-up "
        f"{setup_s - session_s - gen_s:.2f} s; {memory_note(peak)}")
    if tracer is None:
        return res

    # -- per-layer metrics of the traced crawl ------------------------------
    res.tracer = tracer
    from sparkstats import harvest

    for name in ("dequeue", "materialize", "plan_build", "mat_wait",
                 "writes", "commit"):
        v[f"crawl.{name}_s"] = sum(p.get(name, 0.0) for p in crawl.phases)
    v["crawl.serial_s"] = (v["crawl.dequeue_s"] + v["crawl.plan_build_s"]
                           + v["crawl.commit_s"])
    v["crawl.rounds"] = len(crawl.round_s)
    totals = harvest(spark).totals(windows)
    for name, val in vars(totals).items():
        v[f"spark.{name}"] = val
    v["spark.busy_ratio"] = totals.exec_run_s / (wall * CORES)
    v["trace.wall_s"] = wall
    v["trace.overhead_s"] = tracer.self_cost
    v["state.compact_s"] = tracer.total("compact_state")
    files, size = _dir_stats(crawl.eng.state_dir)
    v["state.files"], v["state.mb"] = files, size / 2**20
    with tracer.span("state.seen_read"):
        crawl.eng.seen().write.format("noop").mode("overwrite").save()
    v["state.seen_read_s"] = tracer.total("state.seen_read")

    replay = _Replay(crawl.eng, tracer)
    replayed = [r for r in REPLAY_ROUNDS if r < len(crawl.round_s)]
    try:
        for rnd in replayed:
            replay.round(rnd)
        replay.all_rules(all_requests())
    finally:
        replay.close()
    c = replay.counts.get
    spent = {n: tracer.total(n) for n in (
        "frontier.anti_join", "robots.filter", "frontier.dequeue",
        "fetch.join", "html.parse", "rules.plan", "rules.extract",
        "url.normalize", "frontier.dedup_children")}
    v.update({
        "frontier.anti_join_s": spent["frontier.anti_join"],
        "frontier.seen_drop_ratio": _ratio(
            c("frontier", 0) - c("cand", 0), c("frontier")),
        "robots.filter_s": spent["robots.filter"],
        "robots.blocked": c("robots_in", 0) - c("allowed", 0),
        "frontier.dequeue_s": spent["frontier.dequeue"],
        "frontier.deferred_ratio": _ratio(
            c("allowed", 0) - c("dequeued", 0), c("allowed")),
        "fetch.join_s": spent["fetch.join"],
        "fetch.miss_ratio": _ratio(
            c("dequeued", 0) - c("fetched", 0), c("dequeued")),
        "fetch.broadcast": c("broadcast", 0),
        "html.parse_ms_per_page": _ratio(1e3 * spent["html.parse"], c("pages")),
        "html.pages": c("pages", 0),
        "rules.present": len(replay.rules),
        "rules.plan_s": spent["rules.plan"],
        "rules.extract_s": spent["rules.extract"],
        "rules.children": c("children", 0),
        "rules.items": c("items", 0),
        "url.normalize_us_per_row": _ratio(
            1e6 * spent["url.normalize"], c("children")),
        "url.children": c("children", 0),
        "frontier.dedup_children_s": spent["frontier.dedup_children"],
        "frontier.children_dup_ratio": _ratio(
            c("children", 0) - c("kept", 0), c("children")),
        "trace.spans": len(tracer.spans),
    })
    res.notes.append(
        f"replayed rounds {replayed}; all-rules replay over "
        f"{c('pages', 0)} pages, {len(replay.rules)} rules; self time per "
        "span: " + ", ".join(f"{k}={t:.3f}" for k, t in
                             sorted(tracer.self_times().items())))
    return res
