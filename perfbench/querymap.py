"""Which operator module each declared query exercises.

``query_s.<module>`` in the traced query_suite run sums the time of the
queries mapped to that module. Each of the 99 queries in
``__spark_entry__.queries()`` maps to exactly one module, read off the
package aliases the query's body calls. A query that calls several
modules goes to the first of: curation, dedup, urlfilter, extract,
sources, graph, similarity, sketches, bpe, multimodal, streaming,
textops, frontier. ``none`` marks queries built from plain DataFrame
functions (or the ``functions.versions`` helpers) only.
"""

MODULES = (
    "curation", "textops", "similarity", "extract", "dedup", "sketches",
    "graph", "bpe", "urlfilter", "frontier", "sources", "multimodal",
    "streaming", "none",
)

QUERY_MODULE = {
    # curation
    "dsir": "curation",
    "upsample_epochs": "curation",
    "budget_mix": "curation",
    "global_shuffle": "curation",
    "hash_split": "curation",
    "stratified_sample": "curation",
    "weighted_sample": "curation",
    "pii_scrub": "curation",
    "chunk_dedup": "curation",
    "chunk_dedup_apply": "curation",
    "site_boilerplate": "curation",
    "host_profile": "curation",
    "decontaminate": "curation",
    "domain_mix": "curation",
    "c4_clean": "curation",
    "semdedup": "curation",
    "diversity_sample": "curation",
    "pack_sequences": "curation",
    # textops
    "classifier_score": "textops",
    "classifier_train": "textops",
    "quality_train_filter": "textops",
    "ccnet_normalize": "textops",
    "pr_curve": "textops",
    "bm25_topk": "textops",
    "lm_score": "textops",
    "ppl_buckets": "textops",
    "build_postings": "textops",
    "langid": "textops",
    "quality": "textops",
    "token_counts": "textops",
    "fingerprint": "textops",
    "repetition": "textops",
    "pipeline_filter": "textops",
    # similarity
    "cosine_topk_lsh": "similarity",
    "ivf_topk": "similarity",
    "pq_topk": "similarity",
    # extract
    "html_main_content": "extract",
    "anchor_texts": "extract",
    "robots_directives": "extract",
    "detect_charset": "extract",
    "decode_entities": "extract",
    # dedup
    "dup_spans": "dedup",
    "dedup_exact": "dedup",
    "minhash_signatures": "dedup",
    "minhash_lsh_pairs": "dedup",
    "incremental_neardup": "dedup",
    "neardup_components": "dedup",
    "dedup_keep_best": "dedup",
    "simhash": "dedup",
    "simhash_pairs": "dedup",
    "ngram_jaccard": "dedup",
    "embedding_neardup": "dedup",
    "embedding_neardup_lsh": "dedup",
    "cosine_topk": "dedup",
    # sketches
    "hll_distinct": "sketches",
    "cms_heavy_hitters": "sketches",
    # graph
    "redirect_resolve": "graph",
    "pagerank": "graph",
    "hyperball": "graph",
    # bpe
    "bpe_encode": "bpe",
    "bpe_pair_counts": "bpe",
    # urlfilter
    "url_filter": "urlfilter",
    "trap_signals": "urlfilter",
    "mirror_hosts": "urlfilter",
    # frontier
    "bloom_anti_join": "frontier",
    "politeness_dequeue": "frontier",
    # sources
    "warc_roundtrip": "sources",
    "warc_revisit": "sources",
    "surt_canon": "sources",
    "cdx_roundtrip": "sources",
    "cdx_index": "sources",
    "sitemap_urls": "sources",
    "recrawl_priority": "sources",
    "crawl_diff": "sources",
    # multimodal
    "media_meta": "multimodal",
    "mjpeg_frames": "multimodal",
    "dhash_neardup": "multimodal",
    # streaming
    "sessionize": "streaming",
    # none
    "revenue_by_segment": "none",
    "length_quantiles": "none",
    "anti_join_seen": "none",
    "top1_per_group": "none",
    "first_match_in_list": "none",
    "header_skip": "none",
    "positional_zip_join": "none",
    "lookup_join": "none",
    "whitelist_semijoin": "none",
    "skipset_antijoin": "none",
    "extension_predicate": "none",
    "regex_extract_version": "none",
    "month_abbr_convert": "none",
    "date_zoo": "none",
    "url_basename": "none",
    "whitespace_collapse": "none",
    "json_extract": "none",
    "distinct_pairs": "none",
    "group_metrics": "none",
    "tumbling_window": "none",
    "salted_skew_agg": "none",
}
