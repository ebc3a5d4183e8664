"""Quiet-window probe for the PRE-BUILT (not yet registered) operators.

quiet_probe.py keys on the registry, so the deferred-registration
pre-builds (COVERAGE.md round-15 queue) can't ride it; this sibling
times the same engine-vs-DuckDB pair straight off the production
functions and their oracle builders, with the identical protocol
(noop-sink materialization, warm run + N samples, fetchall on the
DuckDB side, K-fold replica via scale_probe.build_scaled).

Usage: python tools/probe_prebuilt.py K SAMPLES [name ...]
Names default to every queued operator (the _prebuilt dict is the
source of truth — ADVICE r15 caught a stale hand-written count here);
prints one JSON line like quiet_probe.

Round 16 drained the r15 queue (all five registered — they now ride
tools/quiet_probe under their registry names) and staged the NEXT
five: text_corpus_profile, sample_temporal_holdout, dedup_bloom_probe,
dedup_minhash_calibration, similarity_ann_pq (registration deferred
to round 17 by the window arithmetic). The pre-build discipline
(core + oracle + parity test a round ahead of registration) is how
every r15/r16 operator shipped.

Round 17 drained that queue in turn (all five registered, registry on
the 160 band edge) and staged the round-18 batch ops:
similarity_ann_ivfpq (IVF-routed PQ/ADC — the production
vector-store operating point) and text_embed_hash (signed
feature-hashing embedding generation). stream_bloom_bits_parity is
also r18-queued but is a stream parity (memoized memory sink) — it
rides its in-suite test, not this probe. All r18 registrations wait
on the next rotation-band revision.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from coursera_etl_pipeline_spark.session import get_spark  # noqa: E402


def _prebuilt():
    """name -> (query_fn(spark, sf_dir) -> DataFrame, oracle_sql) for
    every PRE-BUILT operator not yet registered. Keys MUST be the
    pinned future registry names (ADVICE r15: a diverging probe key
    breaks provenance against plan_audit and the BASELINE.md rows).

    Contract change r16: values are (spark, sf_dir)-style callables,
    not cores over a documents frame — the queue spans the documents,
    events, AND embeddings tables.

    Round 18 drained the r17-staged queue (all six probe-riding
    members registered under their pinned names; the stream parity
    rode its in-suite test) and staged the round-19 batch: the
    MP4/AVI/MKV container-metadata golden-fixture rows, the IVF-PQ
    recall metric, the exact Lloyd k-means step, last-touch
    attribution, median/MAD anomaly flags, and the BPE merge-step
    pair statistics. All r19 registrations wait on the r19 window
    (COVERAGE.md round-18/extended notes; registering all seven lands
    the registry ON the 175 band edge)."""
    from coursera_etl_pipeline_spark.catalog import load_table
    from coursera_etl_pipeline_spark.operators.layout import (
        layout_zorder_key_core,
        r20_layout_zorder_key_oracle,
    )
    from coursera_etl_pipeline_spark.llm_ops.multimodal import (
        multimodal_container_metadata_core,
        multimodal_video_metadata_core,
        r19_multimodal_container_metadata_oracle,
        r19_multimodal_video_metadata_oracle,
    )
    from coursera_etl_pipeline_spark.llm_ops.similarity import (
        ivfpq_recall_core,
        kmeans_refine,
        r19_similarity_ivfpq_recall_oracle,
        r19_similarity_kmeans_refine_oracle,
    )
    from coursera_etl_pipeline_spark.llm_ops.text import (
        bpe_merge_step,
        bpe_pair_counts,
        cms_topk,
        r19_text_bpe_pair_counts_oracle,
        r20_text_bpe_merge_step_oracle,
        r20_text_cms_topk_oracle,
    )
    from coursera_etl_pipeline_spark.streaming.queries import (
        attribution_last_touch,
        daily_anomaly_mad,
        r19_events_anomaly_mad_oracle,
        r19_events_attribution_oracle,
    )

    def over(table, core):
        return lambda spark, sf_dir: core(load_table(spark, sf_dir, table))

    return {
        # golden-fixture queries: ignore sf_dir (self-generated
        # corpora, the multimodal_resize convention) — K-replica
        # timing is a constant; they ride this dict for the
        # type-parity gate
        "multimodal_video_metadata": (
            multimodal_video_metadata_core,
            r19_multimodal_video_metadata_oracle()),
        "multimodal_container_metadata": (
            multimodal_container_metadata_core,
            r19_multimodal_container_metadata_oracle()),
        "similarity_ivfpq_recall": (
            ivfpq_recall_core,
            r19_similarity_ivfpq_recall_oracle()),
        "similarity_kmeans_refine": (
            over("embeddings", kmeans_refine),
            r19_similarity_kmeans_refine_oracle()),
        "events_attribution": (
            over("events", attribution_last_touch),
            r19_events_attribution_oracle()),
        "events_anomaly_mad": (
            over("events", daily_anomaly_mad),
            r19_events_anomaly_mad_oracle()),
        "text_bpe_pair_counts": (
            over("documents", bpe_pair_counts),
            r19_text_bpe_pair_counts_oracle()),
        # r20 queue (COVERAGE.md round-18-extended note)
        "text_bpe_merge_step": (
            over("documents", bpe_merge_step),
            r20_text_bpe_merge_step_oracle()),
        "text_cms_topk": (
            over("documents", cms_topk),
            r20_text_cms_topk_oracle()),
        "layout_zorder_key": (
            layout_zorder_key_core,
            r20_layout_zorder_key_oracle()),
    }


def main() -> None:
    import duckdb

    from tools.quiet_probe import _duck_con
    from tools.scale_probe import build_scaled

    k = int(sys.argv[1])
    samples = int(sys.argv[2])
    ops = _prebuilt()
    names = sys.argv[3:] or list(ops)
    spark = get_spark("probe_prebuilt")
    spark.sparkContext.setLogLevel("ERROR")
    if k == 1:
        from coursera_etl_pipeline_spark.catalog import TABLES, table_path

        dest = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
        con = duckdb.connect()
        for t in TABLES:
            p = table_path(dest, t)
            if os.path.exists(p):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"read_parquet('{p}')")
    elif k == 1000:
        from tools.scale_point_sf100 import build_1000x

        dest = build_1000x(spark)
        con = _duck_con(dest)
    else:
        dest = build_scaled(spark, k, dest=f"/tmp/spark_graft_bench_{k}x",
                            reuse=True)
        con = _duck_con(dest)
    rows = {}
    for name in names:
        fn, sql = ops[name]

        def run_engine():
            fn(spark, dest).write.format("noop").mode("overwrite").save()

        run_engine()  # warm
        eng = []
        for _ in range(samples):
            t0 = time.perf_counter()
            run_engine()
            eng.append(round(time.perf_counter() - t0, 3))
            print(json.dumps({name: {"engine_sample": eng[-1]}}),
                  file=sys.stderr)
        # the oracle side may be infeasible at feasibility-class K —
        # under _duck_con's memory_limit it fails with a clean
        # exception (OOM / spill-disk-full) instead of taking the
        # process down; record it as a bounded row rather than losing
        # the remaining queue members (the scale_pairwise contract)
        try:
            con.execute(sql).fetchall()  # warm
            duck = []
            for _ in range(samples):
                t0 = time.perf_counter()
                con.execute(sql).fetchall()
                duck.append(round(time.perf_counter() - t0, 3))
                print(json.dumps({name: {"duckdb_sample": duck[-1]}}),
                      file=sys.stderr)
        except Exception as exc:
            rows[name] = {"engine": eng,
                          "engine_median": round(statistics.median(eng), 3),
                          "duckdb_error": str(exc)[:200]}
            continue
        em, dm = statistics.median(eng), statistics.median(duck)
        rows[name] = {"engine": eng, "duckdb": duck,
                      "engine_median": round(em, 3),
                      "duckdb_median": round(dm, 3),
                      "ratio": round(em / dm, 2)}
    print(json.dumps({"k": k, "samples": samples, "rows": rows}))


if __name__ == "__main__":
    main()
