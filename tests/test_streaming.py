"""Structured Streaming tests (SURVEY §5.2 item 3).

File-arrival ingest with availableNow, append + dedup semantics
(re-delivered data must NOT duplicate — the fix for the reference's
WRITE_APPEND rerun hazard, transform-service/main.py:65), and
batch/stream window equivalence.
"""

from __future__ import annotations

import uuid

from pyspark.sql import functions as F

from coursera_etl_pipeline_spark.catalog import load_table
from coursera_etl_pipeline_spark.streaming import ingest


def _sink(prefix: str) -> str:
    return f"{prefix}_{uuid.uuid4().hex[:8]}"


def _events(spark, sf_dir):
    return load_table(spark, sf_dir, "events")


def test_file_stream_ingests_all_rows(spark, sf_dir, tmp_path):
    ev = _events(spark, sf_dir)
    landing = str(tmp_path / "landing")
    ev.limit(200).write.parquet(landing)

    stream = ingest.stream_files(spark, landing, ev.schema)
    assert stream.isStreaming
    name = _sink("ingest")
    ingest.run_available_now(stream, name)
    assert spark.table(name).count() == 200


def test_incremental_discovery_only_new_files(spark, sf_dir, tmp_path):
    """The checkpoint makes each file count exactly once across runs —
    the streaming replacement for O9 latest-file bookkeeping."""
    ev = _events(spark, sf_dir).limit(100).cache()
    landing = str(tmp_path / "landing")
    chk = str(tmp_path / "chk")
    out = str(tmp_path / "out")
    ev.write.mode("append").parquet(landing)

    stream = ingest.stream_files(spark, landing, ev.schema)
    ingest.write_stream_parquet(stream, out, chk).awaitTermination()
    n1 = spark.read.parquet(out).count()
    assert n1 == 100

    ev.write.mode("append").parquet(landing)  # second batch arrives
    stream2 = ingest.stream_files(spark, landing, ev.schema)
    ingest.write_stream_parquet(stream2, out, chk).awaitTermination()
    n2 = spark.read.parquet(out).count()
    assert n2 == 200  # +100 new, nothing reprocessed


def test_dedup_within_watermark_drops_redelivery(spark, sf_dir, tmp_path):
    """Same rows delivered twice -> exactly one copy per event_id."""
    ev = _events(spark, sf_dir).limit(150).cache()
    landing = str(tmp_path / "landing")
    ev.write.mode("append").parquet(landing)
    ev.write.mode("append").parquet(landing)  # duplicate delivery

    stream = ingest.stream_files(spark, landing, ev.schema)
    deduped = ingest.dedup_within_watermark(stream, ["event_id"], watermark="48 hours")
    name = _sink("dedup")
    ingest.run_available_now(deduped, name)
    got = spark.table(name)
    assert got.count() == 150
    assert got.select("event_id").distinct().count() == 150


def test_streaming_tumbling_equals_batch(spark, sf_dir, tmp_path):
    """The same windowed plan run incrementally (availableNow) and as a
    batch produces identical finalized aggregates."""
    ev = _events(spark, sf_dir)
    landing = str(tmp_path / "landing")
    ev.write.parquet(landing)

    stream = ingest.stream_files(spark, landing, ev.schema)
    name = _sink("tumble")
    # 'complete' mode: all windows emitted regardless of watermark
    q = (ingest.tumbling_counts(stream).writeStream.outputMode("complete")
         .format("memory").queryName(name).trigger(availableNow=True).start())
    q.awaitTermination()

    batch = ingest.tumbling_counts(ev)
    stream_rows = {tuple(r) for r in spark.table(name).collect()}
    batch_rows = {tuple(r) for r in batch.collect()}
    assert stream_rows == batch_rows
    assert len(stream_rows) > 0


def test_sessionized_stream_runs(spark, sf_dir, tmp_path):
    ev = _events(spark, sf_dir).filter(F.col("user_id") < 20)
    landing = str(tmp_path / "landing")
    ev.write.parquet(landing)

    stream = ingest.stream_files(spark, landing, ev.schema)
    name = _sink("sess")
    q = (ingest.sessionized(stream).writeStream.outputMode("complete")
         .format("memory").queryName(name).trigger(availableNow=True).start())
    q.awaitTermination()
    got = spark.table(name)
    batch = ingest.sessionized(ev)
    assert got.count() == batch.count() > 0


def test_stream_stream_interval_join_equals_batch(spark, sf_dir, tmp_path):
    """The attribution interval join run as a REAL stream-stream join
    (two file streams, watermarked, availableNow) must emit exactly the
    batch result — and the time bound keeps its state finite, which is
    why append mode accepts it at all."""
    from coursera_etl_pipeline_spark.streaming.joins import attribution_join

    ev = _events(spark, sf_dir).filter(F.col("user_id") < 200)
    views_dir, clicks_dir = str(tmp_path / "views"), str(tmp_path / "clicks")
    ev.filter(F.col("event_type") == "view").write.parquet(views_dir)
    ev.filter(F.col("event_type") == "click").write.parquet(clicks_dir)

    v_stream = ingest.stream_files(spark, views_dir, ev.schema)
    c_stream = ingest.stream_files(spark, clicks_dir, ev.schema)
    joined = attribution_join(v_stream, c_stream)
    assert joined.isStreaming
    name = _sink("attrib")
    q = (joined.writeStream.outputMode("append").format("memory")
         .queryName(name).trigger(availableNow=True).start())
    q.awaitTermination()

    batch = attribution_join(
        ev.filter(F.col("event_type") == "view"),
        ev.filter(F.col("event_type") == "click"))
    stream_rows = {tuple(r) for r in spark.table(name).collect()}
    batch_rows = {tuple(r) for r in batch.collect()}
    assert stream_rows == batch_rows
    assert len(stream_rows) > 0


def test_watermark_drops_late_data(spark, sf_dir, tmp_path):
    """Append-mode windowed agg with a watermark: a record arriving
    far behind the advanced watermark must NOT resurrect its window.
    (The reference has no late-data story at all — SURVEY §2.2.)"""
    ev = _events(spark, sf_dir)
    schema = ev.schema
    landing = str(tmp_path / "landing")
    chk = str(tmp_path / "chk")
    name = _sink("late")

    on_time = ev.filter(
        (F.col("ts") >= F.lit("2024-01-10").cast("timestamp"))
        & (F.col("ts") < F.lit("2024-01-20").cast("timestamp")))
    late = ev.filter(F.col("ts") < F.lit("2024-01-03").cast("timestamp"))
    assert late.count() > 0
    on_time.write.mode("append").parquet(landing)

    stream = ingest.stream_files(spark, landing, schema)
    agg = ingest.tumbling_counts(stream, size="1 day", watermark="2 days")
    q = (agg.writeStream.outputMode("append").format("memory").queryName(name)
         .option("checkpointLocation", chk).start())
    q.processAllAvailable()

    late.write.mode("append").parquet(landing)  # arrives days too late
    q.processAllAvailable()
    q.stop()

    from datetime import datetime

    got_windows = {r.window_start for r in spark.table(name).collect()}
    # no window before 2024-01-10 may appear: the late batch was dropped
    assert got_windows, "no finalized windows emitted"
    assert min(got_windows) >= datetime(2024, 1, 10)


def test_events_stream_normalizes_every_fixture_encoding(spark, tmp_path):
    """The driver has shipped events.ts three ways across fixture
    regenerations — TIMESTAMP(NANOS), TIMESTAMP(MICROS, NTZ), and
    UTC-adjusted TIMESTAMP — and a hardcoded stream schema broke on a
    flip (round 5). _events_stream must stream-read all three to the
    IDENTICAL microsecond instants."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from coursera_etl_pipeline_spark.streaming.parity import _events_stream

    micros = [1_700_000_000_000_000 + i * 3_600_000_000 for i in range(24)]
    base = {
        "event_id": pa.array(range(24), pa.int64()),
        "user_id": pa.array([i % 5 for i in range(24)], pa.int64()),
        "event_type": pa.array([f"t{i % 3}" for i in range(24)]),
        "value": pa.array([float(i) for i in range(24)]),
        "props": pa.array(["{}"] * 24),
    }
    encodings = {
        "nanos": pa.array([m * 1000 for m in micros],
                          pa.timestamp("ns")),
        "micros_ntz": pa.array(micros, pa.timestamp("us")),
        "micros_utc": pa.array(micros, pa.timestamp("us", tz="UTC")),
    }
    results = {}
    for enc, ts_arr in encodings.items():
        d = dict(base)
        d["ts"] = ts_arr
        sf = tmp_path / enc
        sf.mkdir()
        pq.write_table(pa.table(d), sf / "events.parquet")
        src = _events_stream(spark, str(sf))
        assert dict(src.dtypes)["ts"] == "timestamp"
        name = _sink(f"enc_{enc}")
        q = (src.select("event_id", F.date_format("ts", "yyyy-MM-dd HH:mm:ss")
                        .alias("ts_str"))
             .writeStream.format("memory").queryName(name)
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination()
        results[enc] = sorted(map(tuple, spark.table(name).collect()))
        spark.catalog.dropTempView(name)
    assert results["nanos"] == results["micros_ntz"] == results["micros_utc"]
    assert results["nanos"][0] == (0, "2023-11-14 22:13:20")  # known instant


def test_stream_index_update_multi_batch_append_equals_rebuild(spark, sf_dir, tmp_path):
    """The streamed dedup-index lifecycle across MULTIPLE micro-batches:
    two landing-zone files consumed one per trigger (maxFilesPerTrigger=1),
    each foreachBatch increment verifying against the index AS STORED at
    its start and appending survivors. Whatever order the file source
    picks, the final stored artifacts must equal a from-scratch rebuild
    over the final survivor set — the order-independent certification of
    append-only maintenance (the batch-side twin of this law is
    test_llm_ops.test_index_update_two_increments_equal_rebuild)."""
    from coursera_etl_pipeline_spark.llm_ops import dedup
    from coursera_etl_pipeline_spark.streaming.parity import (
        apply_index_increment,
    )

    docs = load_table(spark, sf_dir, "documents")
    ten = F.col("doc_id") % 10
    band_dir, post_dir = str(tmp_path / "band"), str(tmp_path / "post")
    c_post, c_band = dedup.minhash_index_artifacts(docs.filter((ten != 0) & (ten != 5)))
    c_post.write.parquet(post_dir)
    c_band.write.parquet(band_dir)

    landing = tmp_path / "landing"
    docs.filter(ten == 0).coalesce(1).write.parquet(str(landing / "b0"))
    docs.filter(ten == 5).coalesce(1).write.parquet(str(landing / "b1"))

    batches = []

    def inc(bdf, epoch_id):
        batches.append(bdf.count())
        apply_index_increment(bdf, post_dir, band_dir)

    src = (spark.readStream.schema(docs.schema)
           .option("maxFilesPerTrigger", 1)
           .parquet(str(landing / "*")))
    q = (src.writeStream.foreachBatch(inc)
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination()
    assert len(batches) == 2 and all(n > 0 for n in batches)

    final_band = spark.read.parquet(band_dir)
    final_post = spark.read.parquet(post_dir)
    final_ids = [r.doc_id for r in
                 final_band.select("doc_id").distinct().collect()]
    rb_post, rb_band = dedup.minhash_index_artifacts(
        docs.filter(F.col("doc_id").isin(final_ids)))
    assert (sorted(tuple(r) for r in final_band.collect())
            == sorted(tuple(r) for r in rb_band.collect()))
    assert (sorted(tuple(r) for r in final_post.collect())
            == sorted(tuple(r) for r in rb_post.collect()))
    # second increment really saw the first's appends: the stored index
    # monotonically contains the corpus seed
    corpus_rows = {tuple(r) for r in c_band.collect()}
    assert corpus_rows <= {tuple(r) for r in final_band.collect()}


def test_storage_append_then_delete_equals_rebuild(spark, tmp_path):
    """Full lifecycle against parquet-backed storage: seed corpus, TWO
    increments in the delete-capable layout (ledger + tombstones), then
    a takedown of corpus doc 11 — the stored artifacts must equal the
    from-scratch rebuild over the hand-derived final set, resurrection
    included. Every step is a read-modify-write of the index dirs, so
    this chain also exercises the stage-then-commit machinery for the
    DELETE path (the r8 cache-invalidation hazard applies to any
    read-modify-write of those dirs, not only appends)."""
    from coursera_etl_pipeline_spark.llm_ops import dedup
    from coursera_etl_pipeline_spark.streaming.parity import (
        apply_index_delete,
        apply_index_increment,
    )

    def doc(i):
        return " ".join(f"d{i}t{j}" for j in range(30))

    docs = spark.createDataFrame(
        [(11, doc(11)), (21, doc(21)), (31, doc(31)),   # corpus
         (10, doc(11)), (40, doc(40)), (50, doc(40)),   # batch 1
         (20, doc(21)), (60, doc(60))],                 # batch 2
        "doc_id long, text string")
    dirs = {n: str(tmp_path / n)
            for n in ("post", "band", "ledger", "tpost", "tband")}
    aux = (dirs["ledger"], dirs["tpost"], dirs["tband"])

    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    c_post, c_band = dedup.minhash_index_artifacts(corpus)
    c_post.write.parquet(dirs["post"])
    c_band.write.parquet(dirs["band"])
    # aux artifacts start empty but typed (appends need the schema)
    spark.createDataFrame([], "doc_id long, partner long") \
        .write.parquet(dirs["ledger"])
    c_post.limit(0).write.parquet(dirs["tpost"])
    c_band.limit(0).write.parquet(dirs["tband"])

    # increment 1: 10 drops (dup of corpus 11), 50 drops (dup of
    # smaller batch doc 40), 40 survives
    apply_index_increment(
        docs.filter(F.col("doc_id").isin([10, 40, 50])),
        dirs["post"], dirs["band"], aux_dirs=aux)
    # increment 2: 20 drops (dup of corpus 21), 60 survives
    apply_index_increment(
        docs.filter(F.col("doc_id").isin([20, 60])),
        dirs["post"], dirs["band"], aux_dirs=aux)
    ledger = {(r.doc_id, r.partner)
              for r in spark.read.parquet(dirs["ledger"]).collect()}
    assert ledger == {(10, 11), (50, 40), (20, 21)}

    # takedown corpus doc 11: 10 resurrects (only justification gone),
    # 50 and 20 stay dropped
    apply_index_delete(
        spark, spark.createDataFrame([(11,)], "doc_id long"),
        dirs["post"], dirs["band"], *aux)

    final_band = spark.read.parquet(dirs["band"])
    final_ids = {r.doc_id for r in
                 final_band.select("doc_id").distinct().collect()}
    assert final_ids == {21, 31, 40, 60, 10}
    rb_post, rb_band = dedup.minhash_index_artifacts(
        docs.filter(F.col("doc_id").isin(sorted(final_ids))))
    assert (sorted(tuple(r) for r in final_band.collect())
            == sorted(tuple(r) for r in rb_band.collect()))
    assert (sorted(tuple(r) for r in spark.read.parquet(dirs["post"]).collect())
            == sorted(tuple(r) for r in rb_post.collect()))
    # store invariants after delete: ledger holds only still-justified
    # drops, tombstones hold exactly the still-dropped docs
    assert {(r.doc_id, r.partner)
            for r in spark.read.parquet(dirs["ledger"]).collect()} \
        == {(50, 40), (20, 21)}
    assert {r.doc_id for r in spark.read.parquet(dirs["tband"])
            .select("doc_id").distinct().collect()} == {50, 20}


def test_storage_compact_preserves_content_and_reduces_files(spark, sf_dir, tmp_path):
    """COMPACT is a pure storage-layout verb: after several appends the
    index dirs hold one file-set per increment; compaction must leave
    every row bit-identical while collapsing each dir to the target
    file count — and the compacted store must still serve the next
    increment correctly (the stored-state probe reads it)."""
    import glob

    from coursera_etl_pipeline_spark.llm_ops import dedup
    from coursera_etl_pipeline_spark.streaming.parity import (
        apply_index_increment,
        compact_index,
    )

    docs = load_table(spark, sf_dir, "documents").limit(60)
    ten = F.col("doc_id") % 10
    corpus = docs.filter(ten != 0)
    c_post, c_band = dedup.minhash_index_artifacts(corpus)
    post_dir, band_dir = str(tmp_path / "post"), str(tmp_path / "band")
    c_post.write.parquet(post_dir)
    c_band.write.parquet(band_dir)

    # three appends -> three extra file-sets per dir
    batch = docs.filter(ten == 0)
    for lo, hi in [(0, 20), (20, 40), (40, 10**9)]:
        apply_index_increment(
            batch.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi)),
            post_dir, band_dir)
    before_band = sorted(tuple(r) for r in spark.read.parquet(band_dir).collect())
    before_post = sorted(tuple(r) for r in spark.read.parquet(post_dir).collect())
    n_files_before = len(glob.glob(f"{band_dir}/*.parquet"))
    assert n_files_before >= 4  # seed + one file-set per increment

    compact_index(spark, [post_dir, band_dir], target_files=2)

    assert sorted(tuple(r) for r in spark.read.parquet(band_dir).collect()) \
        == before_band
    assert sorted(tuple(r) for r in spark.read.parquet(post_dir).collect()) \
        == before_post
    assert len(glob.glob(f"{band_dir}/*.parquet")) <= 2
    assert len(glob.glob(f"{post_dir}/*.parquet")) <= 2


def test_ann_store_append_delete_compact_equals_rebuild(spark, sf_dir, tmp_path):
    """The full ANN lifecycle chain through parquet storage —
    append -> delete -> compact — must equal assigning the remainder
    from scratch against the frozen centroids, and compaction must
    collapse the accumulated delta file-sets to the target count."""
    import glob

    from coursera_etl_pipeline_spark.llm_ops.similarity import (
        assign_to_centroids,
        ivf_assign,
    )
    from coursera_etl_pipeline_spark.streaming.parity import (
        apply_ann_index_delete,
        apply_ann_index_increment,
        compact_index,
    )

    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 80)
    ten = F.col("vec_id") % 10
    assigned, centroids = ivf_assign(emb.filter(ten.isin(2, 3, 4, 5)))
    cent_dir, index_dir = str(tmp_path / "cent"), str(tmp_path / "index")
    centroids.write.parquet(cent_dir)
    assigned.select("vec_id", "cell_id").write.parquet(index_dir)

    # two append ticks, then a takedown of the %10==3 corpus slice
    for residue in (0, 1):
        apply_ann_index_increment(emb.filter(ten == residue),
                                  cent_dir, index_dir)
    n_files_appended = len(glob.glob(f"{index_dir}/*.parquet"))
    assert n_files_appended >= 3  # seed + one file-set per tick
    apply_ann_index_delete(spark, emb.filter(ten == 3).select("vec_id"),
                           index_dir)
    compact_index(spark, [index_dir], target_files=2)

    stored = sorted(tuple(r) for r in spark.read.parquet(index_dir).collect())
    rebuild = assign_to_centroids(
        emb.filter(ten.isin(0, 1, 2, 4, 5)),
        spark.read.parquet(cent_dir)).select("vec_id", "cell_id")
    assert stored == sorted(tuple(r) for r in rebuild.collect())
    assert len(glob.glob(f"{index_dir}/*.parquet")) <= 2


def test_ann_delete_rejects_unindexed_ids(spark, sf_dir, tmp_path):
    """apply_ann_index_delete must fail loudly when asked to remove a
    vec_id the store never indexed (ADVICE-r9 contract, ANN twin)."""
    import pytest

    from coursera_etl_pipeline_spark.llm_ops.similarity import ivf_assign
    from coursera_etl_pipeline_spark.streaming.parity import (
        apply_ann_index_delete,
    )

    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 40)
    assigned, _cent = ivf_assign(emb)
    index_dir = str(tmp_path / "index")
    assigned.select("vec_id", "cell_id").write.parquet(index_dir)
    with pytest.raises(ValueError, match="not in the stored index"):
        apply_ann_index_delete(
            spark, spark.createDataFrame([(10**9,)], "vec_id long"),
            index_dir)


def test_stream_late_data_parity_drops_rows_and_withholds_windows(spark, sf_dir):
    """The registered late-data parity is not vacuous at sf0.001: the
    fixture's staged lateness makes the engine actually drop rows and
    leave the last windows unemitted. The registry sweep checks its
    values against the DuckDB oracle; this reads the same session memo.
    If a fixture regeneration ever collapses the drop set to zero, this
    fails with a pointer instead of the certification silently
    degrading to a plain stream==batch check."""
    import duckdb

    from coursera_etl_pipeline_spark.streaming.parity import (
        stream_late_data_parity,
    )
    from tools.oracle_check import duck_views

    got = [tuple(str(c) for c in r)
           for r in stream_late_data_parity(spark, sf_dir).collect()]
    con = duckdb.connect()
    duck_views(con, sf_dir)

    # the emitted aggregate must differ from the no-drop batch aggregate
    # over the same emitted windows (rows were dropped), and some open
    # windows must be missing entirely (append gating)
    full = con.execute("""
        SELECT strftime(to_timestamp((epoch_us(ts) // 43200000000) * 43200)
                        AT TIME ZONE 'UTC', '%Y-%m-%d %H:%M:%S'),
               event_type, COUNT(*) FROM events GROUP BY 1, 2
    """).fetchall()
    emitted = {(r[0], r[1]) for r in got}
    n_full = {(w, t): n for w, t, n in full}
    n_got = {(r[0], r[1]): int(r[2]) for r in got}
    assert any(n_got[k] < n_full[k] for k in emitted), \
        "no late row was dropped: the staged lateness is vacuous"
    assert emitted < set(n_full), \
        "every window was emitted: append-mode gating never fired"


def test_late_drop_rule_matches_engine_on_random_zones(spark, tmp_path):
    """The closed-form watermark rule stream_late_data_parity's oracle
    encodes — drop iff window end <= watermark after batch k-2, emit
    iff window end <= final watermark — re-verified against the ENGINE
    on three randomized micro-zones (random batch counts, timestamps,
    delays). The registered parity pins the rule on one fixture shape;
    this pins it generically, so a Spark upgrade that moved the late
    threshold or emission boundary fails HERE with a small repro
    instead of as an opaque driver hash mismatch."""
    import datetime as dt
    import os
    import random
    import time as _time
    import uuid

    BASE = dt.datetime(2024, 1, 1)
    WIN_US = 10 * 60 * 1_000_000
    rng = random.Random(20260814)
    for case in range(3):
        n_batches = rng.choice([3, 4])
        delay_us = rng.choice([25, 35, 55]) * 60 * 1_000_000
        batches: list[list[int]] = []
        for b in range(n_batches):
            batches.append(sorted(
                (rng.randint(0, 300) * 60_000_000 + rng.randint(0, 59_999_999))
                for _ in range(rng.randint(6, 12))))

        zone = tmp_path / f"zone{case}"
        zone.mkdir()
        t0 = _time.time() - 10 * n_batches
        for b, uss in enumerate(batches):
            df = spark.createDataFrame(
                [(BASE + dt.timedelta(microseconds=us),) for us in uss],
                "ts timestamp")
            tmp = str(tmp_path / f"tmp{case}_{b}")
            df.coalesce(1).write.mode("overwrite").parquet(tmp)
            part = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
            dst = str(zone / f"batch{b}.parquet")
            os.replace(os.path.join(tmp, part), dst)
            os.utime(dst, (t0 + 10 * b,) * 2)

        name = "wmrule_" + uuid.uuid4().hex[:8]
        spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled",
                       "true")
        schema = spark.read.parquet(str(zone)).schema
        src = (spark.readStream.schema(schema)
               .option("maxFilesPerTrigger", "1").parquet(str(zone)))
        agg = (src.withWatermark("ts", f"{delay_us // 60_000_000} minutes")
               .groupBy(F.window("ts", "10 minutes"))
               .agg(F.count(F.lit(1)).alias("n"))
               .select(F.col("window.start").cast("string").alias("ws"), "n"))
        q = (agg.writeStream.format("memory").queryName(name)
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination()
        got = {(r.ws, r.n) for r in spark.table(name).collect()}

        # the closed-form rule, in plain integers
        batch_max = [max(uss) for uss in batches]
        survivors: list[int] = []
        for k, uss in enumerate(batches):
            wm = (max(batch_max[:k - 1]) - delay_us) if k >= 2 else None
            for us in uss:
                wend = (us // WIN_US + 1) * WIN_US
                if wm is None or wend > wm:
                    survivors.append(us)
        final_wm = max(batch_max) - delay_us
        counts: dict[int, int] = {}
        for us in survivors:
            ws = us // WIN_US * WIN_US
            if ws + WIN_US <= final_wm:
                counts[ws] = counts.get(ws, 0) + 1
        want = {
            (str(BASE + dt.timedelta(microseconds=ws)), n)
            for ws, n in counts.items()}
        assert got == want, f"case {case}: engine diverged from the rule"


def test_replayed_micro_batches_are_idempotent(spark, sf_dir, tmp_path):
    """foreachBatch is at-least-once: a crash between a batch's commit
    and the checkpoint write re-delivers the same epoch. Every storage
    verb must no-op on the replay (epoch markers), and the markers must
    survive the overwrite-commit verbs (delete, compact) so a replay
    arriving after maintenance still no-ops."""
    from coursera_etl_pipeline_spark.llm_ops import dedup, similarity
    from coursera_etl_pipeline_spark.streaming.parity import (
        apply_ann_index_delete,
        apply_ann_index_increment,
        apply_index_increment,
        compact_index,
    )

    def doc(i):
        return " ".join(f"d{i}t{j}" for j in range(30))

    docs = spark.createDataFrame(
        [(11, doc(11)), (21, doc(21)), (31, doc(31)),
         (40, doc(40)), (60, doc(60))],
        "doc_id long, text string")
    post_dir, band_dir = str(tmp_path / "post"), str(tmp_path / "band")
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    c_post, c_band = dedup.minhash_index_artifacts(corpus)
    c_post.write.parquet(post_dir)
    c_band.write.parquet(band_dir)

    batch = docs.filter(F.col("doc_id") % 10 == 0)
    apply_index_increment(batch, post_dir, band_dir, epoch_id=0)
    once = sorted(tuple(r) for r in spark.read.parquet(band_dir).collect())
    # the replay: same epoch re-delivered -> must not double-append
    apply_index_increment(batch, post_dir, band_dir, epoch_id=0)
    assert sorted(tuple(r)
                  for r in spark.read.parquet(band_dir).collect()) == once
    # markers survive COMPACT, so a replay after maintenance still no-ops
    compact_index(spark, [post_dir, band_dir], target_files=1)
    apply_index_increment(batch, post_dir, band_dir, epoch_id=0)
    assert sorted(tuple(r)
                  for r in spark.read.parquet(band_dir).collect()) == once
    # a NEW epoch is a genuine new delta and must apply
    apply_index_increment(batch, post_dir, band_dir, epoch_id=1)
    assert len(spark.read.parquet(band_dir).collect()) > len(once)

    # ANN family: append replay, then delete replay, then a stale
    # append replay arriving after the delete
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 60)
    assigned, centroids = similarity.ivf_assign(
        emb.filter(F.col("vec_id") % 10 != 0))
    cent_dir, index_dir = str(tmp_path / "cent"), str(tmp_path / "index")
    centroids.write.parquet(cent_dir)
    assigned.select("vec_id", "cell_id").write.parquet(index_dir)

    abatch = emb.filter(F.col("vec_id") % 10 == 0)
    apply_ann_index_increment(abatch, cent_dir, index_dir, epoch_id=0)
    once_ann = sorted(tuple(r)
                      for r in spark.read.parquet(index_dir).collect())
    apply_ann_index_increment(abatch, cent_dir, index_dir, epoch_id=0)
    assert sorted(tuple(r)
                  for r in spark.read.parquet(index_dir).collect()) == once_ann

    removed = emb.filter(F.col("vec_id") % 10 == 3).select("vec_id")
    apply_ann_index_delete(spark, removed, index_dir, epoch_id=0)
    after_del = sorted(tuple(r)
                       for r in spark.read.parquet(index_dir).collect())
    assert after_del != once_ann
    # replayed delete: the contract check would reject the now-absent
    # ids, so the marker must short-circuit BEFORE it
    apply_ann_index_delete(spark, removed, index_dir, epoch_id=0)
    assert sorted(tuple(r)
                  for r in spark.read.parquet(index_dir).collect()) == after_del
    # stale APPEND replay after the delete (markers survived the
    # overwrite): still a no-op, the deleted rows must not resurrect
    apply_ann_index_increment(abatch, cent_dir, index_dir, epoch_id=0)
    assert sorted(tuple(r)
                  for r in spark.read.parquet(index_dir).collect()) == after_del


def test_two_tick_admission_dependence_and_order(spark, tmp_path):
    """The cross-tick clause of the multi-tick parity oracle, pinned
    at toy scale (the sf0.01 fixture has no cross-tick near-dups, so
    the driver's run exercises it only at sf0.1): a tick-2 doc that
    near-dups a tick-1 ADMISSION must drop — and with the arrival
    order REVERSED, the other doc of the pair drops instead, proving
    the admitted set is genuinely order-dependent (exactly what the
    mtime-ordered staging pins for the oracle)."""
    from coursera_etl_pipeline_spark.llm_ops import dedup
    from coursera_etl_pipeline_spark.streaming.parity import (
        apply_index_increment,
    )

    def doc(i, base):
        return " ".join(f"{base}t{j}" for j in range(30))

    docs = spark.createDataFrame(
        [(3, doc(3, "corpus")),       # corpus, unrelated
         (20, doc(20, "pair")),       # tick-1 (id % 20 == 0)
         (30, doc(30, "pair")),       # tick-2, SAME text as 20
         (50, doc(50, "solo"))],      # tick-2, unrelated
        "doc_id long, text string")

    def run(order):
        post, band = str(tmp_path / f"p{order}"), str(tmp_path / f"b{order}")
        c_post, c_band = dedup.minhash_index_artifacts(
            docs.filter(F.col("doc_id") == 3))
        c_post.write.parquet(post)
        c_band.write.parquet(band)
        ticks = [docs.filter(F.col("doc_id") == 20),
                 docs.filter(F.col("doc_id").isin(30, 50))]
        if order == "reversed":
            ticks.reverse()
        for e, t in enumerate(ticks):
            apply_index_increment(t, post, band, epoch_id=e)
        return {r.doc_id for r in
                spark.read.parquet(band).select("doc_id").distinct().collect()}

    # forward: 20 admitted at tick 1, so 30 drops against the stored
    # index at tick 2; 50 is untouched either way
    assert run("forward") == {3, 20, 50}
    # reversed: 30 admitted first, so 20 drops at its tick
    assert run("reversed") == {3, 30, 50}


def test_sliding_late_zone_has_partial_drops(sf_dir):
    """Fixture guard for stream_late_sliding_parity's distinctive
    case: at least one row must be dropped from SOME of its three
    overlapping windows while kept in others (kept in 1 or 2 of 3).
    If a regeneration collapses this to zero, the sliding parity
    silently degrades to the tumbling one."""
    import duckdb

    from tools.oracle_check import duck_views

    con = duckdb.connect()
    duck_views(con, sf_dir)
    n = con.execute("""
    WITH tagged AS (
      SELECT event_id, us,
             CASE WHEN event_id % 11 = 0 THEN 3
                  WHEN event_id % 5 = 0 THEN least(3, sl + 1)
                  ELSE sl END AS batch_seq
      FROM (SELECT event_id, epoch_us(ts) AS us,
                   least(3, greatest(0, (epoch_us(ts) - 1704067200000000)
                         // 648000000000)) AS sl
            FROM events)
    ),
    batch_max AS (SELECT batch_seq, max(us) AS mx FROM tagged GROUP BY 1),
    filter_wm AS (
      SELECT k.batch_seq,
             (SELECT max(b.mx) - 169200000000 FROM batch_max b
              WHERE b.batch_seq <= k.batch_seq - 2) AS wm_us
      FROM batch_max k
    ),
    per_row AS (
      SELECT t.event_id,
             sum(CASE WHEN f.wm_us IS NULL
                        OR (t.us // 14400000000) * 14400000000
                           - k.k * 14400000000 + 43200000000 > f.wm_us
                      THEN 1 ELSE 0 END) AS kept
      FROM tagged t JOIN filter_wm f USING (batch_seq),
           (SELECT unnest([0,1,2]) AS k) k
      GROUP BY 1
    )
    SELECT count(*) FROM per_row WHERE kept IN (1, 2)
    """).fetchone()[0]
    assert n > 0, (
        "no partially-dropped row in the staged late zone: the sliding "
        "parity no longer exercises per-(row, window) filtering")


def test_dedup_expiry_zone_exercises_both_outcomes(sf_dir):
    """Fixture guard for stream_dedup_expiry_parity: the staged
    redeliveries must split into BOTH outcomes — some dropped (state
    still live) and some re-emitted (state expired) — or the expiry
    certification degrades to a plain dedup check."""
    import duckdb

    from tools.oracle_check import duck_views

    con = duckdb.connect()
    duck_views(con, sf_dir)
    n_dups, n_re = con.execute("""
    WITH orig AS (
      SELECT event_id, epoch_us(ts) AS us,
             least(3, greatest(0, (epoch_us(ts) - 1704067200000000)
                   // 648000000000)) AS b
      FROM events),
    dups AS (SELECT event_id, us + 1296000000000 AS us, us AS orig_us,
                    b + 2 AS b
             FROM orig WHERE event_id % 17 = 0 AND b <= 1),
    all_rows AS (SELECT us, b FROM orig UNION ALL SELECT us, b FROM dups),
    batch_max AS (SELECT b, max(us) AS mx FROM all_rows GROUP BY 1)
    SELECT count(*),
           count(*) FILTER (WHERE
             (SELECT max(m.mx) - 169200000000 FROM batch_max m
              WHERE m.b <= d.b - 2) > d.orig_us + 169200000000)
    FROM dups d
    """).fetchone()
    assert n_dups > 0 and 0 < n_re < n_dups, (
        f"redeliveries {n_dups}, re-emitted {n_re}: both the live-drop "
        "and the expiry-re-emit paths must fire")


def test_dq_gate_quarantines_poisoned_batch_and_commits_rest(spark, sf_dir):
    """The streamed DQ gate's contract (VERDICT r10 item 5): the
    poisoned micro-batch (slice 1, planted n_chars drift) lands whole
    in the quarantine zone, the healthy drops before AND after it
    commit to the accept zone, and nothing is lost or duplicated —
    the per-batch all-or-nothing routing, observed end to end through
    the real engine run the registered query performs."""
    from coursera_etl_pipeline_spark.streaming.parity import (
        DQ_POISON_SLICE,
        stream_dq_gate_parity,
    )

    out = stream_dq_gate_parity(spark, sf_dir, force=True)
    rows = out.collect()
    docs_n = load_table(spark, sf_dir, "documents").count()
    assert len(rows) == docs_n, "every staged row lands in exactly one zone"
    assert len({r.doc_id for r in rows}) == len(rows), "no duplicates"
    by_zone = {}
    for r in rows:
        by_zone.setdefault(r.zone, set()).add(r.slice_id)
    assert by_zone["quarantined"] == {DQ_POISON_SLICE}, \
        "exactly the poisoned drop is quarantined"
    assert by_zone["accepted"] == {0, 2}, \
        "the drops before and after the bad one both commit"


def test_dq_gate_replay_is_idempotent(spark, sf_dir, tmp_path):
    """Re-delivering an already-routed micro-batch (same epoch, same
    checkpoint token) must no-op via its marker — the accepted zone
    must not double-count. Runs the gate verb directly against fresh
    dirs so the assertion is on the verb, not the memoized view."""
    from coursera_etl_pipeline_spark.streaming.parity import apply_dq_gate

    docs = load_table(spark, sf_dir, "documents").limit(50)
    accept, reject = str(tmp_path / "acc"), str(tmp_path / "rej")
    import os as _os
    _os.makedirs(accept)
    _os.makedirs(reject)
    apply_dq_gate(docs, accept, reject, epoch_id=0, run_token="t0")
    n1 = spark.read.parquet(accept).count()
    apply_dq_gate(docs, accept, reject, epoch_id=0, run_token="t0")
    assert spark.read.parquet(accept).count() == n1 == 50
    # a DIFFERENT epoch under the same token is a new tick, not a replay
    apply_dq_gate(docs, accept, reject, epoch_id=1, run_token="t0")
    assert spark.read.parquet(accept).count() == 100


def test_lsh_store_append_delete_compact_equals_rebuild(spark, sf_dir,
                                                       tmp_path):
    """The LSH band index's storage verbs compose to the remainder
    rebuild: seed + blind append + shared anti-join delete + compact
    yields exactly the remainder's from-scratch band rows, with the
    file count bounded by the compaction target (the strict-reduction
    property is pinned by
    test_storage_compact_preserves_content_and_reduces_files; here the
    delete's own overwrite-commit may already have consolidated)."""
    import os as _os

    from coursera_etl_pipeline_spark.llm_ops import similarity
    from coursera_etl_pipeline_spark.streaming.parity import (
        apply_ann_index_delete,
        apply_lsh_index_increment,
        compact_index,
    )

    emb = (spark.read.parquet(f"{sf_dir}/embeddings.parquet")
           .select("vec_id", "embedding"))
    idx_dir = str(tmp_path / "band")
    corpus = emb.filter(F.col("vec_id") % 10 != 0)
    similarity.flatten_band_index(similarity.signatures(corpus)) \
        .write.parquet(idx_dir)
    apply_lsh_index_increment(emb.filter(F.col("vec_id") % 10 == 0), idx_dir)
    removed = emb.filter(F.col("vec_id") % 10 == 1).select("vec_id")
    apply_ann_index_delete(spark, removed, idx_dir)
    compact_index(spark, [idx_dir], target_files=2)
    files_after = sum(1 for f in _os.listdir(idx_dir)
                      if f.endswith(".parquet"))
    assert files_after <= 2
    got = sorted(tuple(r) for r in spark.read.parquet(idx_dir).collect())
    want = sorted(tuple(r) for r in similarity.flatten_band_index(
        similarity.signatures(emb.filter(F.col("vec_id") % 10 != 1)))
        .collect())
    assert got == want
