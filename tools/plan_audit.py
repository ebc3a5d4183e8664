"""Physical-plan anti-pattern data for the registry sweep
(tools/oracle_check.py::sweep), which flags every NODES operator in a
query's formatted physical plan that has no ALLOWED row. These are the
operators that do not survive a 100 TB scale-up:

- CartesianProduct          unpartitioned all-pairs; never acceptable
- BroadcastNestedLoopJoin   acceptable ONLY when the broadcast side is
                            provably tiny (documented allowlist below)
- BatchEvalPython           row-at-a-time Python UDF on the hot path
- ArrowEvalPython /         Python with Arrow batching — acceptable only
  FlatMapGroupsInPandas /   where no native expression exists
  MapInPandas               (multimodal feature extraction)

The allowlist is part of the contract: every entry names the design
that justifies the operator, so a NEW query acquiring one of these
nodes fails tests/test_plans.py::test_no_unexpected_plan_antipatterns
until it is either re-planned or explicitly justified here. Every name
in ALLOWED must be a registered query (tests/test_entry_rotation.py):
no row is staged ahead of registration.
"""

from __future__ import annotations

# (query, node) pairs that are deliberate, documented designs.
ALLOWED = {
    # broadcast top-k/cross designs: the broadcast side is the N_QUERIES
    # query vectors or an O(1) aggregate — tiny by construction
    ("similarity_topk_bruteforce", "BroadcastNestedLoopJoin"),
    ("similarity_ann_recall", "BroadcastNestedLoopJoin"),
    ("similarity_ivf_recall", "BroadcastNestedLoopJoin"),
    # quantized brute-force recall: broadcast(N_QUERIES quantized
    # vectors) x corpus on <> — same deliberate baseline shape as
    # similarity_topk_bruteforce, on 4x narrower codes
    ("similarity_quantize_recall", "BroadcastNestedLoopJoin"),
    # IVF-SQ8 recall: the loop join is the EXACT arm (the same
    # broadcast(N_QUERIES) x corpus baseline every recall metric
    # embeds); the quantized-IVF arm under test is cell equi-join only
    ("similarity_ann_quantized", "BroadcastNestedLoopJoin"),
    ("join_cross", "BroadcastNestedLoopJoin"),  # the cross-join surface itself
    ("q22_dormant_customers", "BroadcastNestedLoopJoin"),  # scalar-threshold broadcast
    ("q11_important_parts", "BroadcastNestedLoopJoin"),    # scalar-threshold broadcast
    ("q15_top_supplier", "BroadcastNestedLoopJoin"),       # max-scalar broadcast
    ("agg_approx_bounds", "BroadcastNestedLoopJoin"),      # O(1) bounds row
    # quartile cutpoints: broadcast 1-row percentile aggregate (the
    # scale-correct form of ntile(4) — text.py quality_bins docstring)
    ("text_quality_binning", "BroadcastNestedLoopJoin"),
    ("agg_approx", "BroadcastNestedLoopJoin"),             # O(1) bounds row
    ("dq_audit_orders", "BroadcastNestedLoopJoin"),        # O(1) stats-row assembly
    ("subquery_scalar", "BroadcastNestedLoopJoin"),        # scalar subquery
    # broadcast 1-row total_docs aggregate (the oracle's CROSS JOIN n
    # mirrored) replacing a per-plan-construction driver count (r8)
    ("text_tfidf_top_terms", "BroadcastNestedLoopJoin"),
    # unigram-LM logp table: broadcast 1-row corpus-total aggregate
    # against the |vocab|-row counts frame (text.py perplexity_proxy
    # docstring) — same O(1)-row shape as tfidf's total_docs
    ("text_perplexity_proxy", "BroadcastNestedLoopJoin"),
    # temperature mixture: broadcast 1-row grand-total and 1-row c_max
    # aggregates against the |hosts|-row weight table (sampling.py
    # domain_reweight docstring) — same shape as sample_corpus_mix
    ("sample_domain_reweight", "BroadcastNestedLoopJoin"),
    # 3-row band table broadcast against the fact scan: the interval
    # predicate is the query's entire point, and the fact side never
    # shuffles (relational.py join_nonequi_range docstring)
    ("join_nonequi_range", "BroadcastNestedLoopJoin"),
    # centroid assignment: corpus x broadcast(n_cells centroids) — at
    # 100 TB centroids are trained offline and stay broadcast-sized
    # (similarity.py IVF docstring)
    ("similarity_ann_ivf", "BroadcastNestedLoopJoin"),
    # RRF fusion reuses the IVF branch's broadcast centroid assignment
    ("similarity_rrf_fusion", "BroadcastNestedLoopJoin"),
    # SemDeDup clusters with the same broadcast centroid assignment;
    # the pair compare itself is an equi-join on cell_id
    ("dedup_semantic", "BroadcastNestedLoopJoin"),
    # Python-with-Arrow where no native expression exists (SURVEY §2.2
    # UDF posture): multimodal feature extraction over binary payloads
    ("multimodal_blob_metadata", "ArrowEvalPython"),
    ("multimodal_blob_metadata", "MapInPandas"),
    ("multimodal_blob_metadata", "FlatMapGroupsInPandas"),
    # nearest-neighbor image resize: pixel-block manipulation has no
    # native expression — numpy over Arrow batches is the design
    # (llm_ops/multimodal.resize_images docstring)
    ("multimodal_resize", "MapInPandas"),
    ("multimodal_resize", "ArrowEvalPython"),
    # perceptual image hash: pixel decode -> 64-bit dHash has no
    # native expression — numpy over Arrow batches, then the banded
    # hamming join is pure built-ins (llm_ops/multimodal.image_dhash)
    ("dedup_image_dhash", "MapInPandas"),
    ("dedup_image_dhash", "ArrowEvalPython"),
    ("dedup_image_clusters", "MapInPandas"),
    ("dedup_image_clusters", "ArrowEvalPython"),
    # ANN index append: corpus x broadcast(n_cells frozen centroids),
    # the same deliberate design as similarity_ann_ivf's assignment
    ("similarity_index_update", "BroadcastNestedLoopJoin"),
    # ANN index delete: the takedown itself is a hash anti-join, but
    # the index(t+1) it deletes from is built by the same broadcast
    # centroid assignment as the append row above
    ("similarity_index_delete", "BroadcastNestedLoopJoin"),
    # corpus mix: the 1-row c_max feasibility scalar broadcast onto
    # the |sources|-row rate table (sampling.sample_corpus_mix)
    ("sample_corpus_mix", "BroadcastNestedLoopJoin"),
    # DSIR's 1-row corpus-totals broadcast onto the DSIR_BUCKETS-row
    # log-ratio table, and epoch planning's 1-row source-count
    # broadcast — both the same O(1)-row shape as tfidf/perplexity
    ("sample_dsir_importance", "BroadcastNestedLoopJoin"),
    ("sample_epoch_plan", "BroadcastNestedLoopJoin"),
    # CCNet bucketing: the 2-number tertile-cutpoint aggregate
    # broadcast back — quality_bins' exact idiom, plus the nested
    # perplexity plan's own allowlisted 1-row totals broadcast
    ("text_ccnet_bucket", "BroadcastNestedLoopJoin"),
    # curriculum quality mix: inherits text_quality_binning's 3-number
    # percentile-cutpoint broadcast (the scalar-threshold idiom); the
    # mix itself adds only a map-side filter + 4-row audit aggregate
    ("sample_quality_mix", "BroadcastNestedLoopJoin"),
    # purged temporal holdout: the 2-number min/max time-range
    # aggregate broadcast back (the scalar-threshold idiom)
    ("sample_temporal_holdout", "BroadcastNestedLoopJoin"),
    # PQ: corpus x broadcast(M x codewords codebook) assignment and
    # queries x broadcast(codebook) LUT — both broadcast sides are
    # O(M x codewords) frozen training rows, the similarity_ann_ivf
    # centroid shape (similarity.py pq_codes/ann_topk_pq docstrings)
    ("similarity_ann_pq", "BroadcastNestedLoopJoin"),
    # IVF-PQ inherits BOTH parents' deliberate crosses — queries x
    # broadcast(n_cells frozen centroids) routing and the PQ codebook
    # assignment/LUT crosses above
    ("similarity_ann_ivfpq", "BroadcastNestedLoopJoin"),
    # broadcast(N_QUERIES generated vectors) x corpus
    # on <> — the similarity_topk_bruteforce baseline shape over the
    # engine-generated embed-hash vectors (similarity.embed_hash_topk
    # docstring; the IVF/LSH/PQ tiers are the corpus-contact path)
    ("similarity_embed_hash_topk", "BroadcastNestedLoopJoin"),
    # Python-with-Arrow where no native expression exists: audio
    # header decode over binary payloads (multimodal.audio_metadata)
    ("multimodal_audio_metadata", "MapInPandas"),
    ("multimodal_audio_metadata", "ArrowEvalPython"),
}

NODES = (
    "CartesianProduct",
    "BroadcastNestedLoopJoin",
    "BatchEvalPython",
    "ArrowEvalPython",
    "FlatMapGroupsInPandas",
    "MapInPandas",
)
