"""coursera_etl_pipeline_spark — a PySpark-native analytics engine.

A brand-new engine with the query/data-processing capabilities of the
reference ETL pipeline (`levdalba/coursera-etl-pipeline`), re-expressed
Spark-first: DataFrame/SQL logical plans optimized by Catalyst, executed
by Tungsten, with Structured Streaming for the incremental path.

Layout:
    session     SparkSession bootstrap (AQE, UTC, arrow, shuffle sizing)
    catalog     parquet table loading + temp-view registration
    registry    the query/oracle registry consumed by __spark_entry__
    operators/  relational core: filters, joins, aggs, windows, setops
    plans/      reference-parity pipeline (nested JSON -> 15-col table)
    sources/    file discovery, latest-partition selection, HTTP source
    streaming/  file-source ingest, watermarks, windowed aggs, dedup
    llm_ops/    dedup (exact/minhash/simhash/jaccard), similarity
                search, text analysis, multimodal column plumbing
"""

__version__ = "0.1.0"

# public name -> submodule that defines it (resolved lazily below)
_HOMES = {
    "get_spark": "session",
    "load_table": "catalog",
    "run_transform": "plans.pipeline",
    "write_csv": "plans.pipeline",
    "append_to_table": "plans.pipeline",
    "attribution_join": "streaming.joins",
    "drop_exact_duplicates": "llm_ops.dedup",
    "minhash_lsh_pairs": "llm_ops.dedup",
    "jaccard_pairs_prefix": "llm_ops.dedup",
    "minhash_index_artifacts": "llm_ops.dedup",
    "minhash_index_update": "llm_ops.dedup",
    "minhash_index_delete": "llm_ops.dedup",
    "minhash_drop_ledger": "llm_ops.dedup",
    "apply_index_increment": "streaming.parity",
    "apply_index_delete": "streaming.parity",
    "compact_index": "streaming.parity",
    "ivf_index_append": "llm_ops.similarity",
    "ivf_index_delete": "llm_ops.similarity",
    "lsh_index_append": "llm_ops.similarity",
    "lsh_index_delete": "llm_ops.similarity",
    "image_dhash": "llm_ops.multimodal",
    "dedup_survivors": "llm_ops.clusters",
    "connected_components": "llm_ops.clusters",
    "ann_topk_lsh": "llm_ops.similarity",
    "ann_topk_ivf": "llm_ops.similarity",
    "sample_stratified_hash": "llm_ops.sampling",
    "text_pack_sequences": "llm_ops.sampling",
    "resize_images": "llm_ops.multimodal",
    "dedup_paragraphs_keep_first": "llm_ops.dedup",
    "canonical_url": "llm_ops.dedup",
    "dedup_by_canonical_url": "llm_ops.dedup",
    "url_host_filter": "llm_ops.text",
    "split_assign": "llm_ops.sampling",
    "cap_source_tokens": "llm_ops.sampling",
    "quality_bins": "llm_ops.text",
}

__all__ = list(_HOMES)


def __getattr__(name):
    """Lazy public API: importing the package stays cheap (no Spark
    classes touched); the first attribute access resolves the symbol."""
    import importlib

    if name in _HOMES:
        mod = importlib.import_module(f"{__name__}.{_HOMES[name]}")
        return getattr(mod, name)
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
