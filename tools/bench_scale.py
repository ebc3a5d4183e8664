"""Single-point larger-scale bench (BASELINE.md §4): build a K-fold
key-shifted replica of the sf0.1 fixtures (~sf{K/10}-equivalent) and
run the BENCH protocol — noop-sink materialization, median of 3 warm
runs — for both this engine and DuckDB on the identical parquet files.

Purpose: the §2 engine-vs-DuckDB ratios at sf0.1 are dominated by
Spark's fixed per-query JVM/planning/task cost; §3 shows growth RATIOS
but no absolute comparison. This tool pins the absolute comparison at
a bigger single point, replacing the "ratios will collapse as sf
grows" extrapolation with data.

Query subset: the §2 comparable headline set MINUS the pairwise
self-join family (dedup_*, similarity_*) — K-fold replication of
near-identical text/vectors grows their TRUE pair output ~K^2, which
benchmarks the replicated data, not the plan (same exclusion rule as
tools/scale_probe.py) — and minus pipeline_courses_parity (reads
fixture JSON, not sf-dir tables; scale-invariant).

Usage: python tools/bench_scale.py [K]   (default K=10 -> ~sf1)
Prints one JSON line:
{"k": K, "sf_equiv": K/10, "engine": {...}, "duckdb": {...},
 "engine_total": s, "duckdb_total": s}
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402
from coursera_etl_pipeline_spark.catalog import TABLES, table_path  # noqa: E402
from coursera_etl_pipeline_spark.session import get_spark  # noqa: E402
from tools.scale_probe import build_scaled  # noqa: E402

BENCH_QUERIES = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "join_left_outer",
    "agg_cube",
    "window_ranking",
    "window_latest_per_key",
    "sort_multi_key",
    "events_session_window",
    "events_sliding_window",
    "scalar_json_pack",
    "text_quality_score",
    "join_asof",
    "join_salted_skew",
    "text_tfidf_top_terms",
    "q6_forecast_revenue",
    "q10_returned_items",
    "events_interval_join",
    "sample_stratified_hash",
    "text_pack_sequences",
    # round 7: uncapped resample scales with keys on key-shifted
    # replicas (the earlier user_id cap made it scale-invariant; the
    # cap is gone). text_decontaminate and the dedup/similarity family
    # stay EXCLUDED: replicated text makes every replica overlap the
    # benchmark slice, benchmarking the replication artifact.
    "events_resample_gapfill",
    # round 10: per-doc repetition gates (sorted-array run-length
    # fold) — replication-safe: no self-join, score depends only on
    # each doc's own text
    "text_repetition_score",
]


def _median3(fn) -> float:
    fn()  # warm
    samples = []
    for _ in range(3):
        t0 = time.perf_counter()
        fn()
        samples.append(time.perf_counter() - t0)
    return round(statistics.median(samples), 3)


def main() -> None:
    k = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    spark = get_spark("bench_scale")
    spark.sparkContext.setLogLevel("ERROR")
    dest = build_scaled(spark, k, dest=f"/tmp/spark_graft_bench_{k}x",
                        reuse=True)

    queries = entrymod.queries()
    engine: dict[str, float] = {}
    for name in BENCH_QUERIES:
        fn = queries[name]
        engine[name] = _median3(
            lambda: fn(spark, dest).write.format("noop").mode("overwrite").save())

    con = duckdb.connect()
    for t in TABLES:
        p = table_path(dest, t)
        if os.path.exists(p):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}/*.parquet')")
    # replica events.ts carries whatever physical type the CURRENT
    # fixture shipped (the driver has regenerated it as nanos-bigint,
    # micros-NTZ, and UTC timestamp across rounds — build_scaled writes
    # back what Spark read). Dispatch on the observed type exactly like
    # catalog.normalize_ts: raw int64 nanos -> floor-div to micros;
    # any real timestamp type -> passthrough.
    ts_type = con.execute(
        "SELECT typeof(ts) FROM read_parquet('{}/events.parquet/*.parquet') LIMIT 1"
        .format(dest)).fetchone()[0]
    ts_expr = "make_timestamp(ts // 1000)" if ts_type == "BIGINT" else "ts"
    con.execute("""
        CREATE OR REPLACE VIEW events AS
        SELECT event_id, {} AS ts,
               user_id, event_type, value, props
        FROM read_parquet('{}/events.parquet/*.parquet')
    """.format(ts_expr, dest))
    oracles = entrymod.oracle_sql()
    duck: dict[str, float] = {}
    for name in BENCH_QUERIES:
        sql = oracles.get(name)
        if sql is None:
            continue
        duck[name] = _median3(lambda: con.execute(sql).fetchall())

    print(json.dumps({
        "k": k,
        "sf_equiv": k / 10,
        "engine": engine,
        "duckdb": duck,
        "engine_total": round(sum(engine.values()), 3),
        "duckdb_total": round(sum(duck.values()), 3),
    }))


if __name__ == "__main__":
    main()
