"""Property-based hardening (hypothesis): random inputs through the JPEG
codec and the partitioned Bloom filter. Sizes are kept small so the whole
module stays in CI-scale time; determinism comes from hypothesis' own
example database being disabled (derandomize) so driver runs never flake."""

import numpy as np
import pytest
from hypothesis import HealthCheck, given, settings, strategies as st

from firmwarescraper_spark.multimodal import jpeg as J

_img_shapes = st.tuples(st.integers(8, 33), st.integers(8, 33))


@settings(max_examples=20, deadline=None, derandomize=True,
          suppress_health_check=[HealthCheck.too_slow])
@given(shape=_img_shapes, seed=st.integers(0, 2**31 - 1),
       quality=st.sampled_from([50, 75, 90]),
       sub=st.sampled_from(["444", "422", "420"]))
def test_jpeg_roundtrip_random(shape, seed, quality, sub):
    """Any uint8 RGB image encodes to a decodable stream with exact
    dimensions and bounded error (quant tables bound the per-pixel error;
    random noise is the worst case for DCT coding)."""
    h, w = shape
    img = np.random.default_rng(seed).integers(0, 256, (h, w, 3),
                                               dtype=np.uint8)
    dec = J.decode_jpeg(J.encode_jpeg(img, quality=quality, subsampling=sub))
    assert dec.shape == img.shape
    # noise at q50/4:2:0 is the loosest case; bound generously but finitely
    assert np.abs(dec.astype(int) - img.astype(int)).mean() < 64


@settings(max_examples=15, deadline=None, derandomize=True,
          suppress_health_check=[HealthCheck.too_slow])
@given(shape=_img_shapes, seed=st.integers(0, 2**31 - 1),
       quality=st.sampled_from([60, 85]),
       sub=st.sampled_from(["444", "420"]))
def test_jpeg_progressive_identity_random(shape, seed, quality, sub):
    """For EVERY image, progressive must decode pixel-identical to its
    baseline twin — the strongest whole-codec invariant we have: any bit
    misalignment in EOBRUN/refinement cascades into visible garbage."""
    h, w = shape
    img = np.random.default_rng(seed).integers(0, 256, (h, w, 3),
                                               dtype=np.uint8)
    base = J.decode_jpeg(J.encode_jpeg(img, quality=quality, subsampling=sub))
    prog = J.decode_jpeg(
        J.encode_jpeg_progressive(img, quality=quality, subsampling=sub))
    assert np.array_equal(base, prog)


@settings(max_examples=10, deadline=None, derandomize=True,
          suppress_health_check=[HealthCheck.too_slow])
@given(seed=st.integers(0, 2**31 - 1), n=st.integers(1, 400),
       ri=st.integers(1, 5))
def test_jpeg_gray_restart_random(seed, n, ri):
    """Grayscale + restart intervals: restarts must be decode-transparent
    for any content and any interval."""
    rng = np.random.default_rng(seed)
    img = rng.integers(0, 256, (8 + n % 40, 8 + (n * 7) % 40),
                       dtype=np.uint8)
    plain = J.decode_jpeg(J.encode_jpeg(img, quality=80))
    with_rst = J.decode_jpeg(
        J.encode_jpeg(img, quality=80, restart_interval=ri))
    assert np.array_equal(plain, with_rst)


def test_bloom_partition_parity_random(spark):
    """Randomized Bloom parity sweep (driven, not @given — one Spark
    session, several drawn cases): for random seen/frontier overlaps,
    bucket counts, and fpp, the bloom-split anti-join equals the exact
    anti-join on both probe paths."""
    from pyspark.sql import functions as F

    from firmwarescraper_spark.operators import frontier as FR

    rng = np.random.default_rng(42)
    for _ in range(4):
        n_f = int(rng.integers(50, 2000))
        step = int(rng.integers(2, 9))
        buckets = int(rng.choice([1, 3, 16, 64]))
        fpp = float(rng.choice([0.01, 0.1, 0.3]))
        probe = str(rng.choice(["broadcast", "cogroup"]))
        frontier = spark.range(0, n_f).select(
            F.col("id"), F.xxhash64("id").alias("url_hash"))
        seen = spark.range(0, n_f, step).select(
            F.xxhash64("id").alias("url_hash"))
        plain = {r["id"] for r in FR.anti_join_seen(frontier, seen).collect()}
        bloom = {r["id"] for r in FR.anti_join_seen(
            frontier, seen, bloom=True, fpp=fpp, buckets=buckets,
            probe=probe).collect()}
        assert plain == bloom, (n_f, step, buckets, fpp, probe)


def test_politeness_budget_properties_random(spark):
    """Randomized politeness invariants: dequeued ∪ deferred == frontier
    (no row lost or duplicated), per-host dequeue count <= budget, and the
    dequeued set is the TOP-budget rows per host by (priority desc, seq)."""
    from pyspark.sql import functions as F

    from firmwarescraper_spark.operators import frontier as FR

    rng = np.random.default_rng(7)
    for _ in range(3):
        n = int(rng.integers(100, 1200))
        hosts = int(rng.integers(1, 9))
        budget = int(rng.integers(1, 40))
        salts = int(rng.choice([1, 4, 8]))
        rows = [(f"h{int(rng.integers(0, hosts))}",
                 f"http://x/{i}", int(rng.integers(0, 3)), f"{i:09d}")
                for i in range(n)]
        frontier = spark.createDataFrame(
            rows, "host string, canon_url string, priority int, seq string"
        ).withColumn("url_hash", F.xxhash64("canon_url"))
        deq, defer = FR.politeness_dequeue(
            frontier, tokens_per_host=budget, salt_buckets=salts)
        d = [(r["host"], r["seq"], r["priority"]) for r in deq.collect()]
        f = [(r["host"], r["seq"], r["priority"]) for r in defer.collect()]
        allrows = [(r[0], r[3], r[2]) for r in rows]
        assert sorted(d + f) == sorted(allrows), "partition property broken"
        per_host = {}
        for hhost, _, _ in d:
            per_host[hhost] = per_host.get(hhost, 0) + 1
        assert all(v <= budget for v in per_host.values())
        # exact top-k per host
        import collections
        by_host = collections.defaultdict(list)
        for hhost, seq, pri in allrows:
            by_host[hhost].append((-pri, seq))
        expect = []
        for hhost, lst in by_host.items():
            for negp, seq in sorted(lst)[:budget]:
                expect.append((hhost, seq, -negp))
        assert sorted(d) == sorted(expect), (n, hosts, budget, salts)


# --- URL canonicalization fast path (round 5) --------------------------------

_url_piece = st.text(
    alphabet=("abcdefghijklmnopqrstuvwxyz"
              "ABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789"
              "/;:@&=+$,!~*'()-._%?#[]{}| üß \\"),
    min_size=0, max_size=24,
)


@settings(max_examples=300, deadline=None, derandomize=True)
@given(scheme=st.sampled_from(["http", "HTTP", "https", "ftp"]),
       host=st.sampled_from(["h.example", "Example.COM", "127.0.0.1",
                             "mirror-03.avm.de", "h"]),
       port=st.sampled_from(["", ":80", ":443", ":8080", ":21"]),
       path=_url_piece)
def test_canonicalize_series_parity_random(scheme, host, port, path):
    """The vectorized fast paths in _canonicalize_series/_host_series
    must agree with per-row canonicalize_url/url_host for ANY url
    assembled from adversarial pieces (mixed case, ports,
    escapes-in-waiting, queries, fragments, spaces, brackets,
    non-ascii, userinfo-looking '@' in the path)."""
    import pandas as pd

    from firmwarescraper_spark.functions.url import (
        _canonicalize_series, _host_series, canonicalize_url, url_host)

    url = f"{scheme}://{host}{port}/{path}"
    s = pd.Series([url], dtype=object)
    assert _canonicalize_series(s)[0] == canonicalize_url(url)
    assert _host_series(s)[0] == url_host(url)
