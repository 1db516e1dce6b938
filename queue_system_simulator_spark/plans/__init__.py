from queue_system_simulator_spark.plans.registry import (  # noqa: F401
    QUERIES,
    QuerySpec,
    all_queries,
    all_oracles,
)

# importing these modules populates the registry
from queue_system_simulator_spark.plans import (  # noqa: F401,E402
    analytics_queries,
    reference_queries,
    tpch_queries,
    llm_queries,
    multimodal_queries,
    relational_queries,
    kernel_queries,
    streaming_queries,
    scale_queries,
)

#: The driver grades exactly the FIRST 50 entries of ``queries()`` in
#: registration order, so ordering is part of the contract.  Round-12
#: rotation (VERDICT_r11 items 2 + 3): CORRECTNESS_r11 was 50/50 green
#: (cumulative 260/260; no green older than r06).  This window keeps
#: the 2 continuity anchors, grades the round-12 addition
#: ``versioned_streaming_sink`` (the verdict's item-3 seam: a streaming
#: writer INTO the versioned lake — foreachBatch committing every
#: microbatch as a manifest version through the crash-recoverable swap
#: with txnVersion idempotency, graded against the batch-written
#: chain's log-derived definition; hash-equal locally at
#: sf0.001/0.01/0.1, crash-ordering pytest-gated), re-greens ALL 20
#: r06-era queries (exact list from the verdict, led by the two most
#: expensive, ``cogroup_click_context`` and ``kcore_peel_rounds``), and
#: fills the remaining 27 slots from the r07-era tier (47 rows) with
#: the verdict's named five family anchors (``minhash_lsh_pairs``,
#: ``dedup_clusters``, ``embed_ivf_probe_topk``,
#: ``contamination_ngram_overlap``, ``seq_pack_chunks``) plus the usual
#: one-per-family spread: dedup (exact, verified-minhash, simhash,
#: ngram-jaccard), ANN (cosine/LSH-bucket/near-dup/kmeans), text
#: (lang-ID, stats, quality, fingerprint, BPE), multimodal features,
#: streaming (FIFO state, foreachBatch merge, tumbling counts,
#: watermark audit), TPC-H q15, as-of join, XML connector, and the
#: Z-order layout manifest.  After this round no query's newest green
#: is older than r07 and the r07 tier shrinks 47 -> 20.  Everything
#: rotated OUT was driver-green in a prior round and stays registered +
#: locally gated (COVERAGE_LEDGER.md is the committed snapshot).
#:
#: Round-14 rotation (VERDICT_r13 item 1): grades the five LSH consumers
#: rewritten in r13, whose candidates now come from the shared blocking
#: layer (``operators/blocking.py``).  Rotated out: the two function
#: showcases, ``events_calendar_profile``, ``value_moments_by_type`` and
#: ``dp_noisy_counts`` (r06-era, re-greened in r12, untouched since).
DRIVER_WINDOW = [
    # --- continuity anchors (green every round r01..r11) ---
    "ingest_requests",
    "kernel_fifo_k1",
    # --- round-12 addition (local-green at 3 scales; VERDICT_r11 item 3:
    # the Delta streaming-sink shape — writeStream.foreachBatch
    # committing microbatches as manifest versions of the versioned
    # lake, exactly-once under crashes on either side of the commit) ---
    "versioned_streaming_sink",
    # --- freshness re-greens: r06-era queries ---
    "cogroup_click_context",
    "kcore_peel_rounds",
    "column_profile_drift",
    "context_windows",
    "corpus_mix_sample",
    "curation_pipeline_report",
    "filter_threshold_sweep",
    "lsh_threshold_sweep",
    "quantile_normalize_embeddings",
    "sampled_count_estimate",
    "source_lang_entropy",
    "tfidf_cosine_pairs",
    "token_shard_assignment",
    "tokenizer_fertility_by_lang",
    "zipf_exponent_fit",
    # --- round-14: r13-rewritten LSH consumers (shared blocking layer) ---
    "lsh_recall_eval",
    "cross_source_dup_matrix",
    "dedup_keep_best_quality",
    "quality_dup_calibration",
    "pair_graph_triangles",
    # --- freshness re-greens, r07-era: verdict's named family anchors ---
    "minhash_lsh_pairs",
    "dedup_clusters",
    "embed_ivf_probe_topk",
    "contamination_ngram_overlap",
    "seq_pack_chunks",
    # --- freshness re-greens, r07-era: dedup family ---
    "dedup_exact",
    "minhash_verified_pairs",
    "simhash_near_dup_pairs",
    "ngram_jaccard_pairs",
    # --- freshness re-greens, r07-era: ANN / embeddings family ---
    "embed_cosine_topk",
    "embed_lsh_bucket_topk",
    "embed_near_dup_pairs",
    "kmeans_assign",
    # --- freshness re-greens, r07-era: text analysis family ---
    "lang_id",
    "text_stats",
    "doc_quality_score",
    "doc_fingerprint",
    "bpe_pair_frequencies",
    # --- freshness re-greens, r07-era: multimodal / streaming ---
    "multimodal_features",
    "streaming_fifo_state",
    "streaming_foreachbatch_merge",
    "streaming_tumbling_counts",
    "watermark_lateness_audit",
    # --- freshness re-greens, r07-era: relational / connectors / layout ---
    "tpch_q15_top_supplier",
    "asof_join_purchase",
    "xml_roundtrip",
    "zorder_layout_manifest",
]


def _apply_driver_order() -> None:
    ordered: dict[str, QuerySpec] = {}
    for name in DRIVER_WINDOW:
        if name in QUERIES:
            ordered[name] = QUERIES[name]
    for name, spec in QUERIES.items():
        if name not in ordered:
            ordered[name] = spec
    QUERIES.clear()
    QUERIES.update(ordered)


_apply_driver_order()
