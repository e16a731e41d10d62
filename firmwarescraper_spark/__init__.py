"""firmwarescraper_spark — a PySpark-native URL-frontier + fetch-scheduler
analytics engine with the query/data-processing capabilities of
mellowCS/FirmwareScraper (reference at /root/reference), re-expressed
Spark-first.

Layout:
    functions/   — column-expression rule packs + vectorized pandas UDFs
                   (URL canonicalization, HTML extraction, version/date zoo)
    operators/   — engine operators: frontier discipline (seen anti-join,
                   politeness token bucket, salted dequeue), robots matching,
                   dedup (exact / MinHash-LSH / SimHash / n-gram / embedding),
                   similarity search (cosine top-k, LSH-bucketed ANN)
    sources/     — pages-corpus reader/writer + deterministic synthetic
                   corpus generator (input_hint schema:
                   url, warc_ts, html:binary, text, lang)
    plans/       — declarative per-vendor rule packs + the round-based crawl
                   driver loop (the reference's scrapy engine, as DataFrame
                   jobs) + a pure-Python reference simulator for parity
    streaming/   — Structured Streaming facade over the events table
    multimodal/  — binary-column (image/audio/video) plumbing: pure-numpy
                   BMP/PNG/WAV/JPEG codecs, stub-tagged fallback for the
                   rest
"""

__version__ = "0.1.0"
