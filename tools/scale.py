"""Scale evidence (BASELINE.md §3/§4): the engine and its DuckDB oracle
timed on a K-fold replica of the fixtures.

    python tools/scale.py KIND K SAMPLES [QUERY ...]

KIND is the replica:
  shifted   every table K times, the keys of copy i shifted by i * 1e8
            (cast to bigint, so no 32-bit key wraps), so joins stay 1:1
            and windows gain partitions, like ingesting more days of
            data; the dimension tables (region, nation) are copied once.
  distinct  documents only, copy i with every token suffixed `~i` and
            doc_id shifted by i * 1e7, so the K corpora share no token
            and a pairwise operator's true output grows K-fold, not
            K^2-fold as it does on shifted copies of the same text.

The source is SPARK_GRAFT_SF_DIR (default sf0.1); K=1 times the source
itself. A K > 100 that is a multiple of 100 is built in two stages from
the K=100 replica (strides 1e10 and 1e9), so no plan unions more than
100 copies. A replica lives at <tmpdir>/spark_graft_{KIND}_{K}x and is
reused only when its marker names the same source dir and K.

Each query runs once untimed, then SAMPLES times per side: the engine
into the noop sink, DuckDB its oracle with fetchall(). Engine samples go
to stderr before the oracle runs. DuckDB is capped at 600 s per run
and a quarter of physical RAM; a run that hits a cap is recorded as
that query's duckdb_error. Without QUERY arguments the §4 list runs
(shifted only). Prints one JSON line: k, sf_equiv, the engine and
duckdb medians per query, their totals and every sample.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import tempfile
import threading
import time
from functools import reduce

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from coursera_etl_pipeline_spark.catalog import (  # noqa: E402
    DEFAULT_SF_DIR,
    TABLES,
    table_path,
)

# key columns shifted per copy; a table with none is copied once
KEY_SHIFTS = {
    "lineitem": ["l_orderkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}
# (stage 1, stage 2) stride per copy; stage 2 clears the K=100 key range
STRIDES = {"shifted": (10**8, 10**10), "distinct": (10**7, 10**9)}
MARKER = "_REPLICA.json"
DUCK_CAP_S = 600

# The §4 set: the §2 headline rows whose work is linear in the copies.
# Excluded: the pairwise self-join families (dedup_*, similarity_*,
# text_decontaminate), whose true output grows K^2 on shifted copies of
# the same text, and pipeline_courses_parity, which reads fixture JSON.
DEFAULT_QUERIES = [
    "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier_volume",
    "join_left_outer", "agg_cube", "window_ranking", "window_latest_per_key",
    "sort_multi_key", "events_session_window", "events_sliding_window",
    "scalar_json_pack", "text_quality_score", "join_asof", "join_salted_skew",
    "text_tfidf_top_terms", "q6_forecast_revenue", "q10_returned_items",
    "events_interval_join", "sample_stratified_hash", "text_pack_sequences",
    "events_resample_gapfill", "text_repetition_score",
]


def _shifted(spark, base: str, dest: str, copies: int, stride: int) -> None:
    # under nanosAsLong a nanos events.ts reads and is written back as
    # int64; catalog.normalize_ts and oracle_check.duck_views read either
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    for t in TABLES:
        src = table_path(base, t)
        if not os.path.exists(src):
            continue
        df, keys = spark.read.parquet(src), KEY_SHIFTS.get(t, [])
        parts = [df.select(*[
            (F.col(c).cast("bigint") + F.lit(i * stride)).alias(c)
            if c in keys else c for c in df.columns])
            for i in range(copies if keys else 1)]
        reduce(DataFrame.union, parts).write.parquet(table_path(dest, t))


def _distinct(spark, base: str, copies: int, stride: int) -> DataFrame:
    src = spark.read.parquet(table_path(base, "documents"))
    parts = []
    for i in range(copies):
        tag = F.lit(f"~{i}")
        text = F.when(F.col("text").isNotNull(), F.array_join(F.transform(
            F.split(F.col("text"), " "), lambda tok: F.concat(tok, tag)), " "))
        parts.append(src.select(
            (F.col("doc_id") + F.lit(i * stride)).alias("doc_id"),
            text.alias("text"), "lang", "source",
            # recomputed: the suffixes lengthen the text
            F.coalesce(F.length(text), F.lit(0)).cast("bigint").alias("n_chars")))
    return reduce(DataFrame.union, parts)


def build(spark, kind: str, k: int, src: str,
          root: str = tempfile.gettempdir()) -> str:
    """The K-fold replica of `src` of this kind -> its directory."""
    if k == 1:
        return src
    dest = os.path.join(root, f"spark_graft_{kind}_{k}x")
    stamp = {"src": os.path.abspath(src), "k": k}
    try:
        with open(os.path.join(dest, MARKER)) as f:
            if json.load(f) == stamp:
                return dest
    except (OSError, ValueError):
        pass
    shutil.rmtree(dest, ignore_errors=True)
    two_stage = k > 100 and k % 100 == 0
    base = build(spark, kind, 100, src, root) if two_stage else src
    os.makedirs(dest)
    copies, stride = (k // 100 if two_stage else k), STRIDES[kind][two_stage]
    if kind == "shifted":
        _shifted(spark, base, dest, copies, stride)
    else:  # spread over files so scans parallelise like real data
        _distinct(spark, base, copies, stride).repartition(
            min(256, max(32, k))).write.parquet(table_path(dest, "documents"))
    with open(os.path.join(dest, MARKER), "w") as f:
        json.dump(stamp, f)
    return dest


def timed(fn, samples: int) -> list[float]:
    """One untimed warm-up run, then `samples` timed runs."""
    fn()
    out = []
    for _ in range(samples):
        t0 = time.perf_counter()
        fn()
        out.append(round(time.perf_counter() - t0, 3))
    return out


def duck_connect(sf_dir: str):
    import duckdb

    from tools.oracle_check import duck_views

    con = duckdb.connect()
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    # the driver heap takes half of RAM; DuckDB spills past a quarter
    con.execute(f"SET memory_limit = '{max(1, ram // 4 // 2**30)}GB'")
    duck_views(con, sf_dir)
    return con


def run_duck(con, sql: str) -> None:
    timer = threading.Timer(DUCK_CAP_S, con.interrupt)
    timer.start()
    try:  # execute, not sql: the client path of the §2 and §4 DuckDB rows
        con.execute(sql).fetchall()
    finally:
        timer.cancel()


def main(argv: list[str]) -> int:
    if len(argv) < 3 or argv[0] not in STRIDES or (
            argv[0] == "distinct" and len(argv) == 3):
        print(__doc__, file=sys.stderr)
        return 2
    kind, k, samples = argv[0], int(argv[1]), int(argv[2])
    names = argv[3:] or DEFAULT_QUERIES
    import __spark_entry__ as entrymod
    from coursera_etl_pipeline_spark.session import get_spark

    spark = get_spark("scale")
    spark.sparkContext.setLogLevel("ERROR")
    dest = build(spark, kind, k, DEFAULT_SF_DIR)
    queries, oracles = entrymod.queries(), entrymod.oracle_sql()
    con = duck_connect(dest)
    engine, duck, errors, runs = {}, {}, {}, {}
    for name in names:
        fn = queries[name]
        eng = timed(lambda: fn(spark, dest).write.format("noop")
                    .mode("overwrite").save(), samples)
        runs[name] = {"engine": eng}
        engine[name] = round(statistics.median(eng), 3)
        print(json.dumps({name: runs[name]}), file=sys.stderr, flush=True)
        if name not in oracles:
            continue
        try:
            runs[name]["duckdb"] = timed(
                lambda: run_duck(con, oracles[name]), samples)
            duck[name] = round(statistics.median(runs[name]["duckdb"]), 3)
        except Exception as exc:  # a capped or infeasible oracle at this K
            errors[name] = str(exc)[:200]
    sf = float(DEFAULT_SF_DIR.rstrip("/").rsplit("sf", 1)[-1])
    print(json.dumps({
        "kind": kind, "k": k, "sf_equiv": round(sf * k, 6),
        "engine": engine, "duckdb": duck,
        "engine_total": round(sum(engine.values()), 3),
        "duckdb_total": round(sum(duck.values()), 3),
        "samples": runs, "duckdb_errors": errors,
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
