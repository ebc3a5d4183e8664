"""Stream-vs-batch parity under the driver's value-hash oracle, and the
streamed index-maintenance verbs those parities certify.

The other streaming registry entries (streaming/queries.py) verify the
WINDOW SEMANTICS by running the same logical plan in batch mode. The
entries here run the actual Structured Streaming engine — micro-batch
planner, state store, sink commit protocol — end to end inside a
registered query, so the driver's DuckDB oracle hash-checks what the
STREAM produced, not a batch stand-in. `availableNow` is exactly
"process whatever has landed, then stop", i.e. one tick of the
reference's cron-triggered incremental pipeline (O21, README.md:102).

Two kinds of registered query live here, each memoized per (session,
sf_dir) by `_memo` (a temp view; `force=True` reruns the stream):

- memory-sink parities stream a plan into a memory sink through
  `ingest.run_available_now`. The sink is harness plumbing (the
  production sinks are the checkpointed parquet paths in
  pipeline_stream.py); the streamed plan itself is the scale path.
- store parities seed a parquet-backed store with the frozen corpus
  slice, then hand a source and a maintenance verb to `_run_stream`
  (readStream -> foreachBatch -> availableNow -> await), optionally
  replaying epoch 0 the way a restart after checkpoint lag re-delivers
  it. The oracle is the from-scratch rebuild, so one hash certifies
  the storage-mediated maintenance, replay included.

Replay contract. foreachBatch is AT-LEAST-ONCE: a crash between a
batch's commit and the engine's checkpoint write re-delivers the same
epoch. Every verb therefore seals a marker `_applied_<tag>_<token>_<epoch>`
in its anchor dir after a successful commit and no-ops when it is
already there. The marker is underscore-prefixed, so Spark's readers
ignore it, and it lives IN the store, so it travels with the data.
Epoch ids are relative to a checkpoint, not to the store, so callers
that own a checkpoint pass ``run_token`` (`_ckpt_token` hashes the
checkpoint path): the same checkpoint's replays no-op, a fresh
checkpoint never collides. Batch-side callers pass neither epoch nor
token and get no marker.

One commit (`_commit`) serves every storage verb: the appends
(increments, blind appends, the DQ gate, `pipeline_stream.start_append`)
and the overwrites (deletes and compaction, whose outputs are
read-modify-writes of the dirs they replace). Nothing is staged
elsewhere: the verbs that keep ``staging_root`` in their signature
(`apply_index_increment`, `compact_index`) ignore it.

1. `_settle` the dirs: a committed swap recorded beside one is rolled
   forward, and the `.next` dirs and record copies of an attempt that
   died before its commit point are dropped;
2. marker present -> no-op;
3. ``build()`` yields one frame per destination (None: leave that dir
   as it is); it runs after the settle, because `spark.read.parquet(dir)`
   lists files when the frame is created, and it may refuse before
   anything is written (the delete verbs' indexed-ids check);
4. seed each written destination's dot-prefixed sibling `.<base>.next`
   and write its frame there ONCE with `mode("append")`. An appending
   verb seeds it with a hard link to every live file of the
   destination (the sibling is on the same filesystem), so its delta
   lands beside the live rows; an overwriting verb seeds only the
   destination's `_applied_*` markers;
5. `_publish` the swap record (the next/dest pairs and the in-flight
   marker) beside every destination as `.<base>.swap`, by tmp +
   `os.replace`; the last destination's copy is the commit point, so
   all of a verb's dirs change together;
6. `_finish_swap`: rename `dest -> .old` and `next -> dest`, drop
   `.old`, `catalog.refreshByPath` each dir (as Spark's own writes do),
   `_seal_epoch`, drop the record copies.

A crash at any step converges on replay alone: before the commit
point the live dirs are untouched and the settle drops the debris;
after it the settle rolls the swap forward and the marker makes the
replay a no-op. A rename or a hard link is cheap on a POSIX or HDFS
store and a full copy on an object store, and plain parquet gives
readers no atomic switch across several dirs — a table format
(Iceberg/Delta) would.

Each commit logs one structured event per epoch on this module's
logger (`record.epoch`): verb, epoch id, run token, whether the replay
was skipped, files and bytes committed, and commit ms — all read from
the filesystem, so the event costs no Spark action.
"""

from __future__ import annotations

import contextlib
import hashlib
import json
import logging
import os
import re
import shutil
import time
import uuid
from collections.abc import Callable, Iterator

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from coursera_etl_pipeline_spark.catalog import (
    _path_fingerprint,
    load_table,
    normalize_ts,
    scratch_dir,
    scratch_root,
    table_path,
)
from coursera_etl_pipeline_spark.llm_ops.dedup import (
    BLOOM_BITS,
    BLOOM_HASHES,
    DUCK_CONTENT_FP,
    INCREMENTAL_BATCH_MOD,
    TAKEDOWN_RESIDUE,
    _banded,
    _bloom_positions,
    _duck_increment_pairs,
    _duck_index_delete_oracle,
    _duck_index_update_oracle,
    _materialize,
    _signatures_from_shingles,
    content_fp,
    minhash_drop_ledger,
    minhash_index_artifacts,
    minhash_index_delete,
    minhash_index_update,
    shingles,
)
from coursera_etl_pipeline_spark.llm_ops.similarity import (
    ANN_BATCH_MOD,
    ANN_TAKEDOWN_RESIDUE,
    _duck_ivf_index_rebuild,
    _duck_ivf_remainder_rebuild,
    _duck_lsh_sig,
    assign_to_centroids,
    flatten_band_index,
    ivf_assign,
    ivf_index_delete,
    signatures,
)
from coursera_etl_pipeline_spark.llm_ops.text import (
    _duck_embed_feats_ctes,
    embed_hash,
    head_fp_col,
    head_fp_sql,
)
from coursera_etl_pipeline_spark.registry import dsum, query
from coursera_etl_pipeline_spark.streaming.ingest import (
    run_available_now,
    stream_files,
)

_log = logging.getLogger(__name__)


# --- replay markers -----------------------------------------------------------


def _epoch_marker(anchor_dir: str, verb: str, epoch_id,
                  run_token: str | None = None) -> str | None:
    if epoch_id is None:
        return None
    tok = f"{run_token}_" if run_token else ""
    return os.path.join(anchor_dir, f"_applied_{verb}_{tok}{epoch_id}")


def _ckpt_token(ckpt_path: str) -> str:
    """Marker scope for one checkpoint's lifetime (module docstring)."""
    return hashlib.md5(ckpt_path.encode()).hexdigest()[:8]


def _epoch_already_applied(marker: str | None) -> bool:
    return marker is not None and os.path.exists(marker)


def _seal_epoch(marker: str | None) -> None:
    if marker is not None:
        open(marker, "w").close()


def _parquet_files(dir_: str) -> list[str]:
    """The data files of a parquet dir (Spark skips `_`/`.` names)."""
    return sorted(n for n in os.listdir(dir_)
                  if n.endswith(".parquet") and not n.startswith(("_", ".")))


def _unlink(path: str) -> None:
    with contextlib.suppress(OSError):
        os.remove(path)


# --- the commit -----------------------------------------------------------------


def _log_epoch(verb: str, epoch_id, run_token: str | None, t0: float,
               skipped: bool = False, files: int = 0, nbytes: int = 0) -> None:
    event = {"verb": verb, "epoch_id": epoch_id, "run_token": run_token,
             "replay_skipped": skipped, "files": files, "bytes": nbytes,
             "commit_ms": round((time.perf_counter() - t0) * 1e3, 1)}
    _log.info("epoch %s", event, extra={"epoch": event})


def _commit(verb: str, tag: str | None, anchor_dir: str, dests,
            build: Callable[[], Iterator[DataFrame | None]],
            epoch_id=None, run_token: str | None = None,
            append: bool = False) -> None:
    """THE commit (module docstring): settle ``dests`` -> marker check
    -> ``build()``, a generator of one frame (or None) per dir of
    ``dests`` -> seed each written dir's `.next` (hard links to its
    live files if ``append``, else its markers) and write the frame
    there -> publish the swap record -> `_finish_swap`. Closing the
    generator releases what it holds, also on a crash. The event counts
    the written files, not the linked ones."""
    t0 = time.perf_counter()
    _settle(dests)
    marker = _epoch_marker(anchor_dir, tag, epoch_id, run_token)
    if _epoch_already_applied(marker):
        return _log_epoch(verb, epoch_id, run_token, t0, skipped=True)
    pairs, files, nbytes = [], 0, 0
    with contextlib.closing(build()) as frames:
        for frame, dest in zip(frames, dests, strict=True):
            if frame is None:
                continue
            nxt = _beside(dest, "next")
            os.makedirs(nxt)
            for n in os.listdir(dest) if os.path.isdir(dest) else ():
                if append:
                    # Spark names every part file uniquely, so the append
                    # writes through a link only to rewrite the empty
                    # `_SUCCESS` and its checksum, with the same bytes
                    os.link(os.path.join(dest, n), os.path.join(nxt, n))
                elif n.startswith("_applied_"):
                    open(os.path.join(nxt, n), "w").close()
            seeded = set(os.listdir(nxt))
            frame.write.mode("append").parquet(nxt)
            new = [os.path.join(nxt, n) for n in _parquet_files(nxt)
                   if n not in seeded]
            files += len(new)
            nbytes += sum(map(os.path.getsize, new))
            pairs.append((nxt, dest))
    rec = {"id": uuid.uuid4().hex, "pairs": pairs, "marker": marker}
    _publish(rec)
    _finish_swap(rec)
    _log_epoch(verb, epoch_id, run_token, t0, files=files, nbytes=nbytes)


def _beside(dest: str, suffix: str) -> str:
    """`<parent>/.<base>.<suffix>`, which Spark and pyarrow skip."""
    parent, base = os.path.split(dest.rstrip("/"))
    return os.path.join(parent, f".{base}.{suffix}")


def _publish(rec: dict) -> None:
    """Write the swap record beside every dir it swaps (tmp in the
    `.next` dir + `os.replace`); the last dir's copy is the commit
    point."""
    for nxt, dest in rec["pairs"]:
        with open(os.path.join(nxt, "_swap"), "w") as f:
            json.dump(rec, f)
        os.replace(f.name, _beside(dest, "swap"))


def _read_swap(dest: str) -> dict | None:
    try:
        with open(_beside(dest, "swap")) as f:
            return json.load(f)
    except FileNotFoundError:
        return None


def _swap_pair(nxt: str, dest: str) -> None:
    """Replace ``dest`` by ``nxt``: `dest -> .old`, `next -> dest`, drop
    `.old`. Rerunnable from any point: a missing `next` means the
    renames are done."""
    old = _beside(dest, "old")
    if os.path.isdir(nxt):
        if os.path.isdir(dest):
            os.rename(dest, old)
        os.rename(nxt, dest)
    shutil.rmtree(old, ignore_errors=True)


def _finish_swap(rec: dict) -> None:
    """Roll a published swap record forward: swap each pair and refresh
    Spark's cached plans over it (as a Spark write does through
    CacheManager.recacheByPath), seal the marker, then drop the
    record's copies — the commit-point copy last."""
    catalog = SparkSession.active().catalog
    for nxt, dest in rec["pairs"]:
        _swap_pair(nxt, dest)
        catalog.refreshByPath(dest)
    _seal_epoch(rec["marker"])
    for _nxt, dest in rec["pairs"]:
        _unlink(_beside(dest, "swap"))


def _settle(dirs) -> None:
    """Leave ``dirs`` with no swap in flight. A record copy beside a dir
    is committed iff the copy beside the record's last dir is the same
    record: roll it forward. What is left beside ``dirs`` after that —
    record copies and `.next` dirs — belongs to an attempt that crashed
    before its commit point, so drop it."""
    for d in dirs:
        rec = _read_swap(d)
        if rec is not None and rec == _read_swap(rec["pairs"][-1][1]):
            _finish_swap(rec)
    for d in dirs:
        _unlink(_beside(d, "swap"))
        shutil.rmtree(_beside(d, "next"), ignore_errors=True)


# --- the stream runner and the registered-query memo --------------------------


def _landing(spark: SparkSession, dir_: str, glob: str,
             **options) -> DataFrame:
    """File-source stream over the `glob` files of ``dir_`` (one table of
    a fixture dir, or a staged landing zone), schema from a batch read
    of the same files."""
    schema = spark.read.option("pathGlobFilter", glob).parquet(dir_).schema
    return stream_files(spark, dir_, schema, pathGlobFilter=glob, **options)


def _run_stream(src: DataFrame, ckpt: str,
                verb: Callable[[DataFrame, int, str], None],
                ) -> Callable[[DataFrame], None]:
    """THE foreachBatch stream run: every micro-batch of ``src`` goes to
    ``verb(bdf, epoch_id, run_token)`` under checkpoint ``ckpt`` (token
    `_ckpt_token(ckpt)`), availableNow, awaited. Returns the epoch-0
    replay: calling it re-delivers a frame as this checkpoint's first
    epoch — what a restart after checkpoint lag does — which the
    verb's marker must turn into a no-op."""
    tok = _ckpt_token(ckpt)
    q = (src.writeStream
         .foreachBatch(lambda bdf, epoch: verb(bdf, epoch, tok))
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination()
    return lambda frame: verb(frame, 0, tok)


def _needs_run(spark: SparkSession, name: str, force: bool) -> bool:
    return force or not spark.catalog.tableExists(name)


def _memo(spark: SparkSession, prefix: str, sf_dir: str, force: bool,
          build: Callable[[], DataFrame],
          sink_mode: str | None = None) -> DataFrame:
    """THE registered-query memo: one run per (session, sf_dir). The
    memo is the temp view's own existence in the session catalog, not a
    process-global cache keyed on id(spark). ``build()`` returns a
    streaming plan for a memory sink in ``sink_mode`` (its view is the
    sink; `run_available_now` drops it if the stream fails) or the
    store read-back to register as the view."""
    name = prefix + re.sub(r"\W", "_", sf_dir).strip("_")
    if _needs_run(spark, name, force):
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        frame = build()
        if sink_mode is None:
            frame.createOrReplaceTempView(name)
        else:
            run_available_now(frame, name, sink_mode)
    return spark.table(name)


# --- memory-sink parities ------------------------------------------------------


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over events.parquet with `ts` normalized to
    microsecond TimestampType whatever the fixture's physical encoding.

    The fixture has been regenerated under three encodings —
    TIMESTAMP(NANOS), TIMESTAMP(MICROS, NTZ), UTC TIMESTAMP — and a
    hardcoded stream schema broke on each flip. readStream needs an
    explicit schema, so it comes from a batch footer read of the same
    file: under the nanosAsLong conf a nanos file surfaces `ts` as
    bigint, exactly what the stream will then see, and
    `catalog.normalize_ts` dispatches on the observed dtype — one
    conversion policy for the batch and streaming paths."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return normalize_ts(_landing(spark, sf_dir, "events.parquet"))


def _window_totals(events: DataFrame, delay: str, *window: str) -> DataFrame:
    """Per (window, event_type): count, dsum(value), max(value) under a
    `delay` watermark — the aggregate the window parities certify."""
    return (
        events.withWatermark("ts", delay)
        .groupBy(F.window("ts", *window), "event_type")
        .agg(F.count(F.lit(1)).alias("n"),
             F.expr(dsum("value")).alias("total_value"),
             F.max("value").alias("max_value"))
        .select(F.date_format("window.start", "yyyy-MM-dd HH:mm:ss")
                .alias("window_start"),
                "event_type", "n", "total_value", "max_value"))


@query(
    "stream_batch_parity",
    # 12-hour tumbling windows epoch-align to the size grid; DuckDB has
    # no sub-day date_trunc, so the oracle rebuilds the same grid with
    # integer epoch arithmetic (floor() first: DuckDB epoch() is
    # fractional and CAST rounds).
    oracle=f"""
    SELECT strftime(to_timestamp(CAST(floor(epoch(ts) / 43200) AS BIGINT) * 43200)
                    AT TIME ZONE 'UTC', '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           COUNT(*) AS n,
           {dsum('value')} AS total_value,
           max(value) AS max_value
    FROM events
    GROUP BY 1, 2
    """,
)
def stream_batch_parity(spark: SparkSession, sf_dir: str,
                        force: bool = False) -> DataFrame:
    """Runs the REAL stream: file-source readStream over the events
    parquet, 1-day watermark, 12h tumbling window aggregation, memory
    sink via availableNow; returns the sink table. Complete mode keeps
    every closed-and-open window in the result, sidestepping append
    mode's "last watermark never fires" availableNow corner, so the
    relational oracle covers ALL windows and a hash match proves the
    incremental execution is value-identical to batch."""
    return _memo(spark, "stream_parity_", sf_dir, force,
                 lambda: _window_totals(_events_stream(spark, sf_dir),
                                        "1 day", "12 hours"),
                 sink_mode="complete")


@query(
    "stream_dedup_parity",
    # the doubled stream deduplicated on event_id is exactly the
    # distinct event set; event_ids are unique in the fixture, so this
    # is the full events relation. The view's naive ts is already UTC,
    # so strftime renders it directly — an AT TIME ZONE 'UTC' cast
    # would re-render through the DuckDB session TimeZone and shift
    # the string on non-UTC hosts.
    oracle="""
    SELECT event_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_str,
           user_id, event_type, value
    FROM events
    """,
)
def stream_dedup_parity(spark: SparkSession, sf_dir: str,
                        force: bool = False) -> DataFrame:
    """Streaming DEDUP state store under the value-hash oracle: the
    events stream self-unioned (every event arrives twice, as in an
    at-least-once ingest) then `dropDuplicates(event_id)` — the real
    micro-batch dedup operator holding per-key state — written to a
    memory sink in append mode via availableNow. A hash match against
    the plain relation proves exactly-once output from at-least-once
    input.

    Scale posture: dedup state partitions on event_id (high-cardinality,
    unskewed); production would add `withWatermark` +
    dropDuplicatesWithinWatermark to bound state (see
    stream_dedup_expiry_parity); the bounded availableNow run here needs
    no eviction."""
    def deduped() -> DataFrame:
        src = _events_stream(spark, sf_dir)
        return (src.union(src)
                .dropDuplicates(["event_id"])
                .select("event_id",
                        F.date_format("ts", "yyyy-MM-dd HH:mm:ss")
                        .alias("ts_str"),
                        "user_id", "event_type", "value"))

    return _memo(spark, "stream_dedup_", sf_dir, force, deduped,
                 sink_mode="append")


def _incremental_stream_oracle() -> str:
    """Built from the SAME shared definitions as the Spark plan — the
    batch-split modulus (dedup.INCREMENTAL_BATCH_MOD, shared with
    dedup_incremental_minhash so the two incremental queries describe
    one split) and text_fingerprint's head_fp key (text.head_fp_sql) —
    so neither can drift between the queries."""
    return f"""
    WITH corpus AS (
      SELECT {head_fp_sql('text')} AS head_fp,
             MIN(doc_id) AS keeper_doc_id
      FROM documents WHERE doc_id % {INCREMENTAL_BATCH_MOD} <> 0
      GROUP BY 1
    )
    SELECT d.doc_id AS new_doc_id, c.keeper_doc_id, c.head_fp
    FROM documents d JOIN corpus c
      ON {head_fp_sql('d.text')} = c.head_fp
    WHERE d.doc_id % {INCREMENTAL_BATCH_MOD} = 0
    """


@query(
    "stream_incremental_dedup",
    # new-batch docs joined against the frozen corpus's 8-token-head
    # fingerprint index (text_fingerprint's prefix-dup key —
    # whole-content fps never cross the fixture's batch/corpus split,
    # head fps do): one row per new doc whose prefix duplicates corpus
    # content, carrying the corpus keeper.
    oracle=_incremental_stream_oracle(),
)
def stream_incremental_dedup(spark: SparkSession, sf_dir: str,
                             force: bool = False) -> DataFrame:
    """Continuous-ingest dedup as a REAL stream-static join: new
    documents arrive as a file-source stream (the deterministic
    doc_id % 10 batch slice playing today's landing zone) and probe a
    STATIC corpus fingerprint index built batch-side — the streaming
    twin of `dedup_incremental_minhash`'s cost shape, where the corpus
    is a frozen artifact and only arrivals do new work.

    The streamed plan is fully STATELESS (map to content fingerprint +
    stream-static join, append mode): no watermark, no state store, so
    an availableNow run is exactly one cron tick of the reference's
    incremental ingest (O21) and exactly-once per input file. Scale
    posture: the static index re-resolves per micro-batch; at 100 TB
    it lives bucketed on content_fp so the per-batch join co-locates
    without reshuffling the corpus, and the stream side only ever
    shuffles the day's arrivals."""
    def hits() -> DataFrame:
        fp = head_fp_col("text")
        is_batch = F.col("doc_id") % INCREMENTAL_BATCH_MOD == 0
        corpus = (load_table(spark, sf_dir, "documents")
                  .filter(~is_batch)
                  .groupBy(fp.alias("head_fp"))
                  .agg(F.min("doc_id").alias("keeper_doc_id")))
        return (_landing(spark, sf_dir, "documents.parquet")
                .filter(is_batch)
                .select(F.col("doc_id").alias("new_doc_id"),
                        fp.alias("head_fp"))
                .join(corpus, "head_fp")
                .select("new_doc_id", "keeper_doc_id", "head_fp"))

    return _memo(spark, "stream_incdedup_", sf_dir, force, hits,
                 sink_mode="append")


@query(
    "stream_stateful_profile_parity",
    # the custom applyInPandasWithState operator's final per-user
    # profile must equal the plain relational aggregate — count, dsum
    # (the operator accumulates the SAME integer micro-units, so the
    # totals are bit-identical, not approximately equal), max ts.
    oracle=f"""
    SELECT user_id,
           COUNT(*) AS n_events,
           {dsum('value')} AS total_value,
           strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS last_ts
    FROM events
    GROUP BY user_id
    """,
)
def stream_stateful_profile_parity(spark: SparkSession, sf_dir: str,
                                   force: bool = False) -> DataFrame:
    """CUSTOM STATEFUL OPERATOR under the value-hash gate: the
    applyInPandasWithState per-user running profile (streaming/
    stateful.py) executed by the real micro-batch engine — Python
    worker state serialization, GroupState updates, update-mode sink —
    must converge to exactly the batch aggregate. This is the one
    operator class with no SQL surface at all (arbitrary Python over
    per-key state), which is why it carries a full oracle rather than
    a rows-only check: the profile's value total accumulates the same
    integer micro-units as registry.dsum, so the comparison is
    bit-exact.

    Update-mode sink rows are one profile per (user, micro-batch);
    n_events grows strictly within a user, so the final profile is the
    max-n_events row — selected relationally below, keeping the parity
    deterministic even if the file source splits the fixture into
    multiple micro-batches."""
    from coursera_etl_pipeline_spark.streaming.stateful import user_profiles

    sink = _memo(spark, "stream_stateful_", sf_dir, force,
                 lambda: user_profiles(_events_stream(spark, sf_dir)
                                       .select("user_id", "ts", "value")),
                 sink_mode="update")
    w = W.partitionBy("user_id").orderBy(F.desc("n_events"))
    return (sink.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select("user_id", "n_events", "total_value",
                    F.date_format("last_ts", "yyyy-MM-dd HH:mm:ss")
                    .alias("last_ts")))


# --- storage verbs: each is its own frame computation plus one commit ---------


def apply_index_increment(bdf: DataFrame, post_dir: str,
                          band_dir: str,
                          staging_root: str | None = None,
                          aux_dirs: tuple[str, str, str] | None = None,
                          epoch_id: int | None = None,
                          run_token: str | None = None,
                          ) -> None:
    """One dedup-index increment against parquet-backed storage: verify
    the batch against the index AS STORED, append the survivors' band
    and posting rows. The foreachBatch unit of the streamed lifecycle
    — also callable batch-side (one cron tick).

    ``aux_dirs`` = (ledger_dir, tomb_post_dir, tomb_band_dir) opts the
    store into the DELETE-capable layout: the increment also appends
    the drop LEDGER (every justification pair) and the dropped docs'
    artifacts as TOMBSTONES — what ``apply_index_delete`` later needs
    to resurrect without re-shingling. Default None keeps the
    two-artifact store.

    Write-beside-then-swap is mandatory here, not just prudent: the
    survivors' lineage READS the index dirs, and Spark invalidates every
    cached plan over a path the moment something writes to it
    (CacheManager.recacheByPath), so a direct first append would make
    the second delta recompute survivors against the appended band rows
    (caught by test_stream_index_update_multi_batch_append_equals_rebuild).
    The deltas land in the `.next` siblings, and the live dirs change
    only at the swap, all five together. The shared frames stay
    persisted while the deltas are written: the survivors' verify DAG
    is the expensive part."""
    def build() -> Iterator[DataFrame]:
        s = bdf.sparkSession
        b_post, b_band = minhash_index_artifacts(bdf)
        b_post, b_band = b_post.persist(), b_band.persist()
        held = [b_post, b_band]
        try:
            if aux_dirs is None:
                survivors, _post, _idx = minhash_index_update(
                    bdf,
                    corpus_postings=s.read.parquet(post_dir),
                    corpus_index=s.read.parquet(band_dir),
                    batch_postings=b_post,
                    batch_index=b_band)
            else:
                ledger = minhash_drop_ledger(
                    b_band, s.read.parquet(band_dir),
                    s.read.parquet(post_dir).unionByName(b_post)).persist()
                held.append(ledger)
                # anti/semi build side: duplicates are harmless
                survivors = bdf.select("doc_id").join(
                    ledger.select("doc_id"), "doc_id", "left_anti")
            survivors = survivors.persist()
            held.append(survivors)
            yield b_post.join(survivors, "doc_id", "left_semi")
            yield b_band.join(survivors, "doc_id", "left_semi")
            if aux_dirs is not None:
                dropped = ledger.select("doc_id")
                yield ledger
                yield b_post.join(dropped, "doc_id", "left_semi")
                yield b_band.join(dropped, "doc_id", "left_semi")
        finally:
            for frame in held:
                frame.unpersist()

    _commit("apply_index_increment", "inc", band_dir,
            (post_dir, band_dir, *(aux_dirs or ())), build, epoch_id,
            run_token, append=True)


def apply_index_delete(spark: SparkSession, removed_ids: DataFrame,
                       post_dir: str, band_dir: str,
                       ledger_dir: str, tomb_post_dir: str,
                       tomb_band_dir: str,
                       epoch_id: int | None = None,
                       run_token: str | None = None) -> None:
    """The DELETE verb against parquet-backed index storage: remove the
    given corpus docs' rows and RESURRECT previously-dropped docs whose
    every ledger justification was removed (llm_ops.dedup
    .minhash_index_delete, which see for the no-cascade argument).

    ``removed_ids`` must be docs the store INDEXES (corpus rows or
    admitted survivors): a dropped or unknown id would leave stale
    ledger rows keyed by it, and a later takedown of its partners would
    "resurrect" a doc the caller meant to erase — so any such id raises
    ValueError before anything is written.

    Plain parquet makes delete a full rewrite of the five dirs; a 100 TB
    deployment keeps these artifacts in a table format with delete-file
    support (Iceberg/Delta), where the same anti/semi-join plan emits
    O(|removed| + |touched ledger rows|) delete records instead."""
    def build() -> Iterator[DataFrame]:
        removed = removed_ids.select("doc_id")
        n_unindexed = (removed
                       .join(spark.read.parquet(band_dir).select("doc_id"),
                             "doc_id", "left_anti").count())
        if n_unindexed:
            raise ValueError(
                f"apply_index_delete: {n_unindexed} removed doc_id(s) are "
                "not in the stored band index — only indexed (corpus or "
                "surviving) docs can be taken down; dropped docs are "
                "already absent and must not leave stale ledger rows")
        new_post, new_index, resurrected = minhash_index_delete(
            removed_ids,
            postings=spark.read.parquet(post_dir),
            index=spark.read.parquet(band_dir),
            drop_ledger=spark.read.parquet(ledger_dir),
            tombstone_postings=spark.read.parquet(tomb_post_dir),
            tombstone_index=spark.read.parquet(tomb_band_dir))
        rem_partner = removed.withColumnRenamed("doc_id", "partner")
        new_ledger = (spark.read.parquet(ledger_dir)
                      .join(rem_partner, "partner", "left_anti")
                      .join(resurrected, "doc_id", "left_anti"))
        new_tpost, new_tband = (
            spark.read.parquet(d).join(resurrected, "doc_id", "left_anti")
            .join(removed, "doc_id", "left_anti")
            for d in (tomb_post_dir, tomb_band_dir))
        yield from (new_post, new_index, new_ledger, new_tpost, new_tband)

    _commit("apply_index_delete", "del", band_dir,
            (post_dir, band_dir, ledger_dir, tomb_post_dir, tomb_band_dir),
            build, epoch_id, run_token)


def compact_index(spark: SparkSession, dirs: list[str],
                  target_files: int = 4,
                  staging_root: str | None = None) -> None:
    """The COMPACT verb of the index lifecycle: every append leaves one
    small parquet file-set per batch, and a year of ingest ticks turns
    each index dir into thousands of footer-read-dominated files.
    Compaction rewrites each dir's CONTENT-IDENTICAL rows into
    `target_files` files — a pure storage-layout verb, no row added,
    removed, or changed (pinned by
    test_storage_compact_preserves_content_and_reduces_files). It reads
    the very dirs it overwrites, and the commit seeds each `.next` with
    the dir's markers only; the markers it carries across keep a later
    replayed increment a no-op.

    At 100 TB this is the maintenance job a table format schedules
    (Iceberg rewrite_data_files / Delta OPTIMIZE); target_files maps to
    max-file-size there."""
    _commit("compact_index", None, dirs[0], dirs,
            lambda: (spark.read.parquet(d).repartition(target_files)
                     for d in dirs))


def _blind_append(verb: str, dest: str, delta: Callable[[], DataFrame],
                  epoch_id, run_token) -> None:
    """Appending commit of one frame that never reads ``dest``."""
    def build() -> Iterator[DataFrame]:
        yield delta()

    _commit(verb, "inc", dest, [dest], build, epoch_id, run_token,
            append=True)


def apply_ann_index_increment(bdf: DataFrame, centroid_dir: str,
                              index_dir: str,
                              epoch_id: int | None = None,
                              run_token: str | None = None) -> None:
    """One ANN-index append against parquet-backed storage: assign the
    arriving embeddings to the FROZEN centroid table and append their
    (vec_id, cell_id) rows. The append never READS index_dir
    (assignment depends only on the batch and the frozen centroids)."""
    _blind_append(
        "apply_ann_index_increment", index_dir,
        lambda: assign_to_centroids(
            bdf, bdf.sparkSession.read.parquet(centroid_dir))
        .select("vec_id", "cell_id"),
        epoch_id, run_token)


def apply_ann_index_delete(spark: SparkSession, removed_ids: DataFrame,
                           index_dir: str,
                           epoch_id: int | None = None,
                           run_token: str | None = None) -> None:
    """The ANN index's DELETE verb against parquet-backed storage: one
    anti-join rewrite (llm_ops.similarity.ivf_index_delete — vectors
    are independent, nothing resurrects). It keys on vec_id and never
    interprets the payload columns, so the LSH band index shares it.
    Removed ids must be indexed (ValueError otherwise)."""
    def build() -> Iterator[DataFrame]:
        removed = removed_ids.select("vec_id")
        n_unindexed = (removed
                       .join(spark.read.parquet(index_dir).select("vec_id"),
                             "vec_id", "left_anti").count())
        if n_unindexed:
            raise ValueError(
                f"apply_ann_index_delete: {n_unindexed} removed vec_id(s) "
                "are not in the stored index — only indexed vectors can "
                "be taken down")
        yield ivf_index_delete(removed, spark.read.parquet(index_dir))

    _commit("apply_ann_index_delete", "del", index_dir, [index_dir], build,
            epoch_id, run_token)


def apply_lsh_index_increment(bdf: DataFrame, index_dir: str,
                              epoch_id: int | None = None,
                              run_token: str | None = None) -> None:
    """One LSH band-index append against parquet-backed storage: band
    the arriving embeddings with the frozen hyperplanes and append
    their (vec_id, band, bucket) rows. Blind append (never reads
    index_dir)."""
    _blind_append("apply_lsh_index_increment", index_dir,
                  lambda: flatten_band_index(signatures(bdf)),
                  epoch_id, run_token)


DQ_N_SLICES = 3
DQ_POISON_MOD = 7  # within the poisoned slice: doc_id % 7 == 0 rows drift
DQ_POISON_SLICE = 1  # doc_id % 3 == 1 plays "the corrupted drop"
# Gate on structural checks only: the exact-duplicate-rate check is a
# corpus-level statistic (the sf0.1 fixture legitimately carries dup
# texts inside each slice), not an ingest-stopping defect — dup
# handling is the dedup family's job, quarantining on it would reject
# healthy drops wholesale.
DQ_GATE_EXCLUDED = ("exact_dup_texts",)


def apply_dq_gate(bdf: DataFrame, accept_dir: str, reject_dir: str,
                  epoch_id: int | None = None,
                  run_token: str | None = None) -> None:
    """One gated ingest tick: run the registered corpus DQ suite over
    the arriving micro-batch; if any structural expectation fails,
    append the WHOLE batch to the quarantine path, else to the
    warehouse path — all-or-nothing per batch, O2's
    crash-on-bad-payload (extract-service/main.py:144-161) generalized
    to keep the stream alive (the bad drop is preserved for repair
    instead of wedging the query). The marker is anchored in
    accept_dir, and the commit settles BOTH destinations: the verdict
    is recomputed deterministically, but even a flipped one could not
    leave the batch delivered twice, because a crashed attempt's batch
    reaches neither dir before its swap record is published."""
    from coursera_etl_pipeline_spark.operators.quality import (
        dq_audit_documents,
    )

    def build() -> Iterator[DataFrame | None]:
        batch = bdf.persist()
        try:
            n_failed = (dq_audit_documents(batch)
                        .filter(~F.col("passed")
                                & ~F.col("check_name").isin(*DQ_GATE_EXCLUDED))
                        .count())
            yield None if n_failed else batch
            yield batch if n_failed else None
        finally:
            batch.unpersist()

    _commit("apply_dq_gate", "dq", accept_dir, (accept_dir, reject_dir),
            build, epoch_id, run_token, append=True)


def _bloom_bits_slice(df: DataFrame, tag: str) -> DataFrame:
    """(src, pos): the DISTINCT Bloom bit positions of one doc slice,
    tagged with its provenance. Distinct WITHIN the slice only — the
    stored table keeps corpus and batch contributions as separate
    rows, so a double-append (replay bug) shows up as doubled batch
    rows under the rebuild oracle instead of being masked by a global
    distinct."""
    return (df.select(content_fp().alias("fp"))
            .select(F.explode(F.array(*_bloom_positions(F.col("fp"))))
                    .alias("pos"))
            .distinct()
            .select(F.lit(tag).alias("src"), "pos"))


def apply_bloom_increment(bdf: DataFrame, bits_dir: str,
                          epoch_id: int | None = None,
                          run_token: str | None = None) -> None:
    """One Bloom-bits append against parquet-backed storage: the
    arriving docs' distinct bit positions land as (src='batch', pos)
    rows, LESS any position an earlier micro-batch already stored.

    The rebuild oracle computes DISTINCT positions over the whole batch
    slice, so if availableNow splits the slice, a position shared by two
    epochs must not be stored twice: the new positions anti-join the
    stored src='batch' rows (a bounded read — at most BLOOM_BITS rows
    per src). That read is built in ``build``, after the settle, so it
    lists the dir the commit then seeds from. An unseeded store
    (absent, or an empty dir with no schema) has nothing to exclude."""
    def build() -> Iterator[DataFrame]:
        fresh = _bloom_bits_slice(bdf, "batch")
        try:
            stored = (bdf.sparkSession.read.parquet(bits_dir)
                      .filter(F.col("src") == "batch").select("pos"))
        except AnalysisException:
            stored = None
        if stored is not None:
            fresh = fresh.join(stored, "pos", "left_anti")
        yield fresh

    _commit("apply_bloom_increment", "inc", bits_dir, [bits_dir], build,
            epoch_id, run_token, append=True)


def apply_embed_hash_increment(bdf: DataFrame, emb_dir: str,
                               epoch_id: int | None = None,
                               run_token: str | None = None) -> None:
    """One embedding-store append: the arriving docs' feature rows.
    Like the ANN append, it never READS emb_dir — embed_hash is
    per-document pure, so append == rebuild by construction. Unlike the
    Bloom bits, no cross-micro-batch anti-join is needed: every stored
    row carries its doc_id and a document arrives in exactly one
    micro-batch."""
    _blind_append("apply_embed_hash_increment", emb_dir,
                  lambda: embed_hash(bdf).filter(F.col("dim_id").isNotNull()),
                  epoch_id, run_token)


# --- store parities: seed, source, verb -> _run_stream ---------------------------


def _seed_dedup_store(spark: SparkSession, sf_dir: str, root: str,
                      delete_capable: bool = False,
                      ) -> tuple[DataFrame, dict[str, str]]:
    """Seed `{root}/{post,band}` with the frozen corpus slice from the
    same `_materialize`d whole-documents frames the batch dedup queries
    share; ``delete_capable`` adds an empty ledger and tombstones.
    Returns the documents table and the store dirs."""
    docs = load_table(spark, sf_dir, "documents")
    is_batch = F.col("doc_id") % INCREMENTAL_BATCH_MOD == 0
    sh_idx = _materialize(
        shingles(docs)
        .select("doc_id", F.size("_shingles").alias("nsh"),
                F.explode("_shingles").alias("shingle")))
    banded = _banded(_signatures_from_shingles(sh_idx))
    dirs = {n: f"{root}/{n}" for n in ("post", "band", "ledger", "tpost", "tband")}
    sh_idx.filter(~is_batch).write.parquet(dirs["post"])
    banded.filter(~is_batch).write.parquet(dirs["band"])
    if delete_capable:
        spark.createDataFrame([], "doc_id long, partner long") \
            .write.parquet(dirs["ledger"])
        sh_idx.limit(0).write.parquet(dirs["tpost"])
        banded.limit(0).write.parquet(dirs["tband"])
    return docs, dirs


def _append_tick(spark: SparkSession, sf_dir: str, table: str, is_batch,
                 frame: DataFrame, root: str,
                 verb: Callable[[DataFrame, int, str], None]) -> None:
    """Stream the ``is_batch`` slice of a fixture table through ``verb``,
    then replay epoch 0 with the same slice of ``frame``."""
    replay = _run_stream(
        _landing(spark, sf_dir, f"{table}.parquet").filter(is_batch),
        f"{root}/ckpt", verb)
    replay(frame.filter(is_batch))


def _run_stream_index_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One streamed increment of the dedup-index lifecycle, then a
    replay of its epoch 0; returns the final band index.

    SINGLE-MICRO-BATCH ASSUMPTION: the fixture is one parquet file, so
    availableNow delivers the whole batch slice as ONE micro-batch —
    exactly the one-increment split the rebuild oracle computes. A
    split slice would make each micro-batch its own increment probing
    the previous ones' appends, an arrival-order-dependent lifecycle
    the single-increment oracle does not describe; multi-tick
    sequencing is pinned by stream_index_multi_tick_parity."""
    root = scratch_dir("stream_dedup_index_")
    docs, d = _seed_dedup_store(spark, sf_dir, root)
    _append_tick(spark, sf_dir, "documents",
                 F.col("doc_id") % INCREMENTAL_BATCH_MOD == 0, docs, root,
                 lambda b, e, t: apply_index_increment(
                     b, d["post"], d["band"], epoch_id=e, run_token=t))
    return spark.read.parquet(d["band"])


@query(
    "stream_index_update_parity",
    # same full-rebuild oracle as dedup_index_update: band rows of
    # corpus ∪ surviving batch docs computed from scratch
    oracle=_duck_index_update_oracle(),
)
def stream_index_update_parity(spark: SparkSession, sf_dir: str,
                               force: bool = False) -> DataFrame:
    """The WRITE side of incremental dedup run by the REAL streaming
    engine: arriving documents (the doc_id % 10 slice playing the
    landing zone) are consumed by `foreachBatch`, each micro-batch
    LSH-verified against the index AS STORED at its start, and the
    survivors' band + posting rows APPENDED to parquet-backed index
    storage — the production maintenance loop
    (index(t+1) = index(t) + survivors) end to end. The run also
    REPLAYS its tick, which the epoch marker must no-op. The oracle is
    `dedup_index_update`'s full-rebuild SQL.

    Scale posture: per micro-batch work is the batch increment's
    (O(|batch| x collision rate) probe + verify); at 100 TB the stored
    index lives bucketed on (band, bucket) so the probe co-locates
    without reshuffling the corpus."""
    return _memo(spark, "stream_idxupd_", sf_dir, force,
                 lambda: _run_stream_index_update(spark, sf_dir))


def _seed_ivf_store(spark: SparkSession, sf_dir: str, root: str) -> DataFrame:
    """Seed `{root}/{centroids,index}` from the frozen corpus slice;
    returns the embeddings table."""
    emb = load_table(spark, sf_dir, "embeddings")
    is_batch = F.col("vec_id") % ANN_BATCH_MOD == 0
    assigned, centroids = ivf_assign(emb.filter(~is_batch))
    centroids.write.parquet(f"{root}/centroids")
    assigned.select("vec_id", "cell_id").write.parquet(f"{root}/index")
    return emb


def _ann_append(root: str) -> Callable[[DataFrame, int, str], None]:
    return lambda b, e, t: apply_ann_index_increment(
        b, f"{root}/centroids", f"{root}/index", epoch_id=e, run_token=t)


def _vec_takedown(index_dir: str) -> Callable[[DataFrame, int, str], None]:
    return lambda b, e, t: apply_ann_index_delete(
        b.sparkSession, b.select("vec_id"), index_dir,
        epoch_id=e, run_token=t)


def _run_stream_ann_index_update(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """Seed the IVF index, stream the arriving vectors through the
    append verb, replay epoch 0; returns the stored assignment."""
    root = scratch_dir("stream_ann_index_")
    emb = _seed_ivf_store(spark, sf_dir, root)
    _append_tick(spark, sf_dir, "embeddings",
                 F.col("vec_id") % ANN_BATCH_MOD == 0, emb, root,
                 _ann_append(root))
    return spark.read.parquet(f"{root}/index")


@query(
    "stream_ann_index_parity",
    # similarity_index_update's full-rebuild oracle: every vector
    # assigned from scratch against the frozen corpus centroids
    oracle=_duck_ivf_index_rebuild(),
)
def stream_ann_index_parity(spark: SparkSession, sf_dir: str,
                            force: bool = False) -> DataFrame:
    """The ANN index's append verb run by the REAL streaming engine:
    arriving embeddings (the vec_id % 10 slice) hit `foreachBatch`, are
    assigned against the centroid table AS STORED (frozen at corpus
    build), and their index rows appended to parquet. The oracle is the
    from-scratch rebuild over frozen centroids, so the hash certifies
    the append equals the rebuild — including that no micro-batch
    refreshed centroids, and that a REPLAYED tick no-ops.

    Scale posture: per tick O(|batch| x n_cells) against a broadcast
    centroid table, blind parquet appends, zero corpus contact."""
    return _memo(spark, "stream_annidx_", sf_dir, force,
                 lambda: _run_stream_ann_index_update(spark, sf_dir))


def _run_stream_ann_index_delete(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """Seed the IVF index, stream the append tick, stream the takedown
    tick through the DELETE verb, then COMPACT the accumulated file
    sets; returns the stored assignment. Same single-micro-batch-per-
    tick assumption as ``_run_stream_index_update``."""
    root = scratch_dir("stream_ann_idxdel_")
    _seed_ivf_store(spark, sf_dir, root)
    src = _landing(spark, sf_dir, "embeddings.parquet")
    mod = F.col("vec_id") % ANN_BATCH_MOD
    _run_stream(src.filter(mod == 0), f"{root}/ckpt_inc", _ann_append(root))
    _run_stream(src.filter(mod == ANN_TAKEDOWN_RESIDUE).select("vec_id"),
                f"{root}/ckpt_del", _vec_takedown(f"{root}/index"))
    compact_index(spark, [f"{root}/index"], target_files=4)
    return spark.read.parquet(f"{root}/index")


@query(
    "stream_ann_index_delete_parity",
    # similarity_index_delete's oracle: the remainder assigned from
    # scratch against the FROZEN corpus centroids
    oracle=_duck_ivf_remainder_rebuild(),
)
def stream_ann_index_delete_parity(spark: SparkSession, sf_dir: str,
                                   force: bool = False) -> DataFrame:
    """The ANN DELETE verb run by the REAL streaming engine, chained
    after a streamed append against the same parquet store, then
    COMPACTED: micro-batch 1 appends the arriving vectors, micro-batch 2
    consumes the takedown feed (vec_id % 10 == 1) through
    `apply_ann_index_delete`, and `compact_index` rewrites the
    accumulated small files. The oracle rebuilds the remainder from
    scratch, so one hash certifies BOTH maintenance verbs through
    storage: the delete removed exactly the right rows, and compaction
    changed layout without touching content.

    Scale posture: per tick O(|batch| x n_cells) appends /
    O(|removed|) delete records; compaction is the maintenance job a
    table format schedules automatically."""
    return _memo(spark, "stream_annidxdel_", sf_dir, force,
                 lambda: _run_stream_ann_index_delete(spark, sf_dir))


def _run_dedup_index_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-side increment-then-compact: seed the frozen corpus store,
    apply one epoch-less increment (one delta file-set per dir — the
    state a tick of ingest leaves), COMPACT both dirs, return the band
    index."""
    root = scratch_dir("dedup_idx_compact_")
    docs, d = _seed_dedup_store(spark, sf_dir, root)
    apply_index_increment(
        docs.filter(F.col("doc_id") % INCREMENTAL_BATCH_MOD == 0),
        d["post"], d["band"])
    compact_index(spark, [d["post"], d["band"]], target_files=2)
    return spark.read.parquet(d["band"])


@query(
    "dedup_index_compact",
    # dedup_index_update's full-rebuild oracle: compaction must be
    # content-invisible, so the post-compact store hashes equal to the
    # from-scratch rebuild of the post-increment index
    oracle=_duck_index_update_oracle(),
)
def dedup_index_compact(spark: SparkSession, sf_dir: str,
                        force: bool = False) -> DataFrame:
    """The COMPACT verb of the dedup-index lifecycle at driver level:
    one increment appends its delta file-set to the parquet store, then
    `compact_index` rewrites both artifact dirs into a bounded file
    count. The post-compact band index under `dedup_index_update`'s
    full-rebuild oracle certifies compaction is a pure storage-layout
    verb; the file-count reduction itself is pinned by
    test_storage_compact_preserves_content_and_reduces_files."""
    return _memo(spark, "dedup_idxcompact_", sf_dir, force,
                 lambda: _run_dedup_index_compact(spark, sf_dir))


def _run_stream_index_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seed the corpus in the DELETE-capable layout, stream the arriving
    batch through the increment (ledger + tombstones recorded), then
    stream the takedown ids through the DELETE verb; returns the stored
    band index. One tick per verb, as in ``_run_stream_index_update``."""
    root = scratch_dir("stream_dedup_idxdel_")
    _docs, d = _seed_dedup_store(spark, sf_dir, root, delete_capable=True)
    aux = (d["ledger"], d["tpost"], d["tband"])
    src = _landing(spark, sf_dir, "documents.parquet")
    mod = F.col("doc_id") % INCREMENTAL_BATCH_MOD
    _run_stream(src.filter(mod == 0), f"{root}/ckpt_inc",
                lambda b, e, t: apply_index_increment(
                    b, d["post"], d["band"], aux_dirs=aux,
                    epoch_id=e, run_token=t))
    _run_stream(src.filter(mod == TAKEDOWN_RESIDUE).select("doc_id"),
                f"{root}/ckpt_del",
                lambda b, e, t: apply_index_delete(
                    b.sparkSession, b.select("doc_id"), d["post"],
                    d["band"], *aux, epoch_id=e, run_token=t))
    return spark.read.parquet(d["band"])


@query(
    "stream_index_delete_parity",
    # dedup_index_delete's oracle: the from-scratch rebuild over
    # (corpus ∖ removed) ∪ batch with the increment's drop rule
    # applied against the REMAINING corpus — resurrection included
    oracle=_duck_index_delete_oracle(),
)
def stream_index_delete_parity(spark: SparkSession, sf_dir: str,
                               force: bool = False) -> DataFrame:
    """The DELETE verb run by the REAL streaming engine, chained after
    a streamed increment against the same parquet store: micro-batch 1
    ingests the arriving documents (ledger and tombstones recorded),
    micro-batch 2 consumes the takedown feed (doc_id % 10 == 1) and
    applies `apply_index_delete` — anti-join the removed docs' rows and
    resurrect previously-dropped docs whose every justification was
    removed, every artifact round-tripped through parquet. The oracle
    rebuilds from scratch over the remaining corpus, so the hash
    certifies the streamed GDPR-erasure path equals a rebuild.

    Scale posture: identical to the batch verbs per tick — the
    takedown costs O(|removed| + touched ledger rows) in joins, plus
    (plain-parquet only) the dir rewrite a table format would replace
    with delete files."""
    return _memo(spark, "stream_idxdel_", sf_dir, force,
                 lambda: _run_stream_index_delete(spark, sf_dir))


# --- staged landing zones and the watermark parities ----------------------------
#
# Every other streaming parity feeds availableNow a landing zone whose
# slices arrive as ONE micro-batch, so the watermark's defining
# behavior — DROPPING data that arrives after its window was finalized
# — never fires. The zone parities stage multi-file landing zones with
# deterministic late arrivals, stream them one file per micro-batch,
# and hash-certify the drop and emission sets against DuckDB oracles
# that recompute the engine's watermark rule in closed form.
#
# The rule, established empirically on this Spark build (two
# experiments, four micro-batches each, numRowsDroppedByWatermark
# cross-checked) and encoded in the oracles:
#
#   * the watermark AFTER micro-batch k is max(event time over batches
#     <= k) - delay;
#   * a row arriving in batch k is DROPPED iff its window end <= the
#     watermark after batch k-2 — one batch more lenient than the
#     batch-k watermark, because the late filter admits any row whose
#     window is still in the state store, and eviction at the end of
#     batch k-1 used the watermark computed from batches <= k-2;
#   * append mode emits exactly the windows with end <= final
#     watermark (non-strict), the final no-data micro-batch included
#     (spark.sql.streaming.noDataMicroBatches, default on).
#
# Both engines compute the batch assignment and thresholds in exact
# integer microsecond arithmetic, so the only equality risk would be a
# window end EXACTLY equal to a watermark — impossible here: window
# ends are multiples of 12h while watermarks inherit the fixture
# timestamps' microsecond noise.

LATE_EPOCH0_US = 1_704_067_200 * 1_000_000  # 2024-01-01, fixture origin
LATE_SLICE_US = 648_000 * 1_000_000  # 7.5 days: 4 slices over the span
LATE_WINDOW_US = 43_200 * 1_000_000  # the 12h tumbling grid
LATE_DELAY_US = 47 * 3600 * 1_000_000  # odd on purpose: off the grid
LATE_N_BATCHES = 4


def _stage_zone(tagged: "DataFrame", zone: str, n_files: int,
                file_prefix: str) -> str:
    """Shared landing-zone stager: write each `_b` slice of
    ``tagged`` as ONE parquet file with mtimes ascending 10s apart, so
    FileStreamSource's (modTime, path) order IS the batch order; seal
    with a `_STAGED` marker via stage-then-rename (a crashed build
    leaves only the ._build dir, never a half-staged zone).

    An EMPTY slice fails loudly: every staged-zone oracle keys its
    per-batch rule on `_b` VALUES matching the engine's delivery
    POSITIONS, which holds only when every slice lands a file — a
    fixture regeneration that empties a middle slice must fail here,
    not silently certify a rule the engine doesn't run.

    Concurrency: zones are fingerprint-keyed, so two stagers build
    IDENTICAL content. If another stager won while we built, we
    discard OUR build rather than rmtree a completed zone a live
    availableNow stream may be mid-read on; the marker re-check
    narrows (not eliminates — plain dirs have no atomic replace) the
    delete-while-reading window, and reuse refreshes the zone's mtime
    so the 24h scratch TTL never sweeps a zone that is actively
    consumed."""
    marker = os.path.join(zone, "_STAGED")
    build = zone + "._build"
    shutil.rmtree(build, ignore_errors=True)
    os.makedirs(build)
    t0 = time.time() - 10 * n_files
    for k in range(n_files):
        tmp = os.path.join(build, f"_tmp{k}")
        (tagged.filter(F.col("_b") == k).drop("_b")
         .coalesce(1).write.mode("overwrite").parquet(tmp))
        parts = [f for f in os.listdir(tmp) if f.endswith(".parquet")]
        if not parts:
            raise ValueError(
                f"_stage_zone({os.path.basename(zone)}): slice {k} of "
                f"{n_files} staged EMPTY — batch_seq values would no "
                "longer match delivery positions and the zone oracles "
                "would certify a rule the engine doesn't run; fix the "
                "slicing constants for this fixture instead")
        dst = os.path.join(build, f"{file_prefix}{k}.parquet")
        shutil.copy(os.path.join(tmp, parts[0]), dst)
        os.utime(dst, (t0 + 10 * k,) * 2)
        shutil.rmtree(tmp)
    open(os.path.join(build, "_STAGED"), "w").close()
    if os.path.exists(marker):
        # a concurrent stager committed while we built: identical
        # content — keep theirs, never delete under a live reader
        shutil.rmtree(build, ignore_errors=True)
        return zone
    shutil.rmtree(zone, ignore_errors=True)
    try:
        os.rename(build, zone)
    except OSError:
        # lost the final rename race: the winner's zone is complete
        # (its marker exists by rename atomicity) — use it
        shutil.rmtree(build, ignore_errors=True)
        if not os.path.exists(marker):
            raise
    return zone


def _zone_path(sf_dir: str, table: str, prefix: str,
               salt: str = "") -> tuple[str, str]:
    """(zone, marker) for a fingerprint-keyed landing zone; reuse
    refreshes the zone mtime so the scratch TTL spares live zones."""
    fp = _path_fingerprint(table_path(sf_dir, table))
    key = hashlib.md5(f"{salt}{sf_dir}|{fp}".encode()).hexdigest()[:12]
    zone = os.path.join(scratch_root(), f"{prefix}_{key}")
    marker = os.path.join(zone, "_STAGED")
    if os.path.exists(marker):
        try:
            os.utime(zone, None)
        except OSError:
            pass
    return zone, marker


def _stage_late_zone(spark: SparkSession, sf_dir: str) -> str:
    """Stage the events fixture as a 4-file landing zone with
    deterministic late arrivals: each row's file = its 7.5-day time
    slice, except event_id % 5 rows shift one file later (late by up
    to 7.5 days — some beyond the 47h delay, some within it) and
    event_id % 11 rows land in the last file regardless (late by up
    to three slices — always beyond).

    Staged once per (fixture fingerprint); a driver-regenerated
    fixture misses the marker and re-stages (same invalidation policy
    as catalog.load_table). On a cluster the zone would live on the
    shared filesystem; the per-slice single file is the fixture's
    analogue of "one landing-zone drop per tick", not a scale claim —
    each micro-batch's aggregation still shuffles per (window, key)."""
    zone, marker = _zone_path(sf_dir, "events", "late_zone")
    if os.path.exists(marker):
        return zone

    ev = load_table(spark, sf_dir, "events")
    # exact integer slice: `div` truncates where DuckDB's // floors,
    # but the clamp to [0, 3] makes them agree on every input
    sl = F.least(
        F.lit(LATE_N_BATCHES - 1),
        F.greatest(
            F.lit(0),
            F.expr(f"(unix_micros(ts) - {LATE_EPOCH0_US}) "
                   f"div {LATE_SLICE_US}").cast("int")))
    batch_seq = (
        F.when(F.col("event_id") % 11 == 0, F.lit(LATE_N_BATCHES - 1))
        .when(F.col("event_id") % 5 == 0,
              F.least(F.lit(LATE_N_BATCHES - 1), sl + 1))
        .otherwise(sl))
    return _stage_zone(ev.withColumn("_b", batch_seq), zone,
                       LATE_N_BATCHES, "batch")


def _duck_late_data_oracle() -> str:
    """Closed-form recomputation of the streamed append-mode result:
    tag each row with its staged batch, derive each batch's late-filter
    threshold (watermark after batch k-2), keep the rows the engine
    keeps, aggregate, and emit only the windows the final watermark
    closed. All thresholds in exact BIGINT microseconds."""
    e0, slc = LATE_EPOCH0_US, LATE_SLICE_US
    w, d, nb = LATE_WINDOW_US, LATE_DELAY_US, LATE_N_BATCHES
    return f"""
    WITH tagged AS (
      SELECT event_type, value, us,
             CASE WHEN event_id % 11 = 0 THEN {nb - 1}
                  WHEN event_id % 5 = 0 THEN least({nb - 1}, sl + 1)
                  ELSE sl END AS batch_seq
      FROM (SELECT event_id, event_type, value, epoch_us(ts) AS us,
                   least({nb - 1}, greatest(0,
                         (epoch_us(ts) - {e0}) // {slc})) AS sl
            FROM events)
    ),
    batch_max AS (SELECT batch_seq, max(us) AS mx FROM tagged GROUP BY 1),
    filter_wm AS (
      SELECT k.batch_seq,
             (SELECT max(b.mx) - {d} FROM batch_max b
              WHERE b.batch_seq <= k.batch_seq - 2) AS wm_us
      FROM batch_max k
    ),
    survivors AS (
      SELECT t.us, t.event_type, t.value
      FROM tagged t JOIN filter_wm f USING (batch_seq)
      WHERE f.wm_us IS NULL OR (t.us // {w} + 1) * {w} > f.wm_us
    ),
    final_wm AS (SELECT max(us) - {d} AS wm_us FROM tagged)
    SELECT strftime(to_timestamp((us // {w}) * {w} // 1000000)
                    AT TIME ZONE 'UTC', '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           COUNT(*) AS n,
           {dsum('value')} AS total_value,
           max(value) AS max_value
    FROM survivors, final_wm f
    WHERE (us // {w} + 1) * {w} <= f.wm_us
    GROUP BY 1, 2
    """


def _zone_events(spark: SparkSession, sf_dir: str,
                 stage: Callable[[SparkSession, str], str]) -> DataFrame:
    """The staged 4-file events zone, one file per micro-batch in mtime
    order, with the final no-data micro-batch enabled."""
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "true")
    return _landing(spark, stage(spark, sf_dir), "batch*.parquet",
                    maxFilesPerTrigger="1")


@query("stream_late_data_parity", oracle=_duck_late_data_oracle())
def stream_late_data_parity(spark: SparkSession, sf_dir: str,
                            force: bool = False) -> DataFrame:
    """Watermark LATE-DATA semantics under the driver's hash gate: the
    staged 4-file landing zone streams one file per micro-batch
    (maxFilesPerTrigger=1) through a 47h watermark and 12h tumbling
    aggregation in APPEND mode — so rows genuinely arrive after their
    window's state was evicted and are dropped by the engine, and only
    watermark-closed windows reach the sink. The oracle recomputes the
    engine's exact drop and emission rule (see the note above), so a
    hash match certifies per-batch watermark advancement, late-row
    dropping, and append-mode window finalization — the three behaviors
    complete-mode parity cannot see. State is watermark-bounded (47h of
    open windows per key), so the identical plan runs unchanged on a
    1000-executor cluster."""
    return _memo(spark, "stream_late_", sf_dir, force,
                 lambda: _window_totals(
                     _zone_events(spark, sf_dir, _stage_late_zone),
                     "47 hours", "12 hours"),
                 sink_mode="append")


# --- multi-tick streamed index lifecycle -----------------------------------------
#
# `stream_index_update_parity` certifies ONE tick. The production loop
# is MULTI-tick: tick t+1 verifies against the index AS STORED AFTER
# tick t, so the admitted set is arrival-order-dependent. This query
# pins the EXACT admitted set: the landing-zone order is made
# deterministic (mtime-ordered tick files), and the oracle replays the
# two-tick sequencing in SQL — tick-1 docs drop against corpus and
# smaller tick-1 ids; tick-2 docs drop against corpus, tick-1 ADMITTED
# docs, and smaller tick-2 ids.

def _stage_doc_tick_zone(spark: SparkSession, sf_dir: str) -> str:
    """Stage the batch slice (doc_id % 10 == 0) of the documents table
    as two mtime-ordered tick files: tick0 = doc_id % 20 == 0,
    tick1 = doc_id % 20 == 10. Same fingerprint-keyed staging and
    concurrent-stager tolerance as the late-data zone."""
    zone, marker = _zone_path(sf_dir, "documents", "doc_tick_zone")
    if os.path.exists(marker):
        return zone

    docs = load_table(spark, sf_dir, "documents")
    tick = (F.when(F.col("doc_id") % 20 == 0, 0)
            .when(F.col("doc_id") % 20 == 10, 1))
    return _stage_zone(
        docs.withColumn("_b", tick).filter(F.col("_b").isNotNull()),
        zone, 2, "tick")


def _run_stream_multi_tick_index(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """Seed the corpus store, then let the real engine run BOTH ticks
    of one landing-zone drain (maxFilesPerTrigger=1, mtime order);
    each foreachBatch increment probes the index as stored at its
    start. Returns the final stored band index."""
    root = scratch_dir("stream_multi_tick_")
    _docs, d = _seed_dedup_store(spark, sf_dir, root)
    zone = _stage_doc_tick_zone(spark, sf_dir)
    _run_stream(_landing(spark, zone, "tick*.parquet", maxFilesPerTrigger="1"),
                f"{root}/ckpt",
                lambda b, e, t: apply_index_increment(
                    b, d["post"], d["band"], epoch_id=e, run_token=t))
    return spark.read.parquet(d["band"])


def _duck_two_tick_oracle() -> str:
    """SQL replay of the two-tick sequencing. Reuses the shared
    minhash CTE chain (pairs = exact-jaccard verified, which the
    green single-tick parity already certifies equals the engine's
    band-collide+verify on this fixture), then applies the increment
    drop rule tick by tick: admitted(1) feeds the indexed side of
    tick 2."""
    mod = INCREMENTAL_BATCH_MOD
    return _duck_increment_pairs() + f""", drop1 AS (
      -- tick-1 doc loses to any corpus doc, or a smaller tick-1 id
      SELECT doc_a AS doc_id FROM pairs
      WHERE doc_a % 20 = 0 AND doc_b % {mod} != 0
      UNION
      SELECT doc_b FROM pairs
      WHERE doc_b % 20 = 0 AND doc_a % {mod} != 0
      UNION
      SELECT doc_b FROM pairs
      WHERE doc_a % 20 = 0 AND doc_b % 20 = 0
    ), adm1 AS (
      SELECT doc_id FROM cnt
      WHERE doc_id % 20 = 0
        AND doc_id NOT IN (SELECT doc_id FROM drop1)
    ), drop2 AS (
      -- tick-2 doc loses to any doc indexed at its start (corpus or
      -- tick-1 ADMITTED, either id order), or a smaller tick-2 id
      SELECT doc_a AS doc_id FROM pairs
      WHERE doc_a % 20 = 10 AND doc_b % {mod} != 0
      UNION
      SELECT doc_b FROM pairs
      WHERE doc_b % 20 = 10 AND doc_a % {mod} != 0
      UNION
      SELECT doc_a FROM pairs
      WHERE doc_a % 20 = 10 AND doc_b IN (SELECT doc_id FROM adm1)
      UNION
      SELECT doc_b FROM pairs
      WHERE doc_b % 20 = 10 AND doc_a IN (SELECT doc_id FROM adm1)
      UNION
      SELECT doc_b FROM pairs
      WHERE doc_a % 20 = 10 AND doc_b % 20 = 10
    )
    SELECT doc_id, CAST(band AS INTEGER) AS band, bucket
    FROM banded
    WHERE doc_id % {mod} != 0
       OR (doc_id % 20 = 0
           AND doc_id NOT IN (SELECT doc_id FROM drop1))
       OR (doc_id % 20 = 10
           AND doc_id NOT IN (SELECT doc_id FROM drop2))
    """


@query("stream_index_multi_tick_parity", oracle=_duck_two_tick_oracle())
def stream_index_multi_tick_parity(spark: SparkSession, sf_dir: str,
                                   force: bool = False) -> DataFrame:
    """TWO ticks of the streamed dedup-index lifecycle under the hash
    gate: the batch slice lands as two mtime-ordered files, the engine
    drains them one micro-batch each, and each increment verifies
    against the index AS STORED at its start — so tick 2's drops depend
    on tick 1's admissions through parquet. The oracle replays that
    sequencing in SQL, so the hash certifies the arrival-order-dependent
    admitted set exactly."""
    return _memo(spark, "stream_multitick_", sf_dir, force,
                 lambda: _run_stream_multi_tick_index(spark, sf_dir))


SLIDE_US = 4 * 3600 * 1_000_000  # sliding step: 12h windows every 4h


@query(
    "stream_late_sliding_parity",
    # Same staged zone and watermark rule as stream_late_data_parity,
    # on SLIDING windows (12h every 4h = 3 windows per row). The late
    # filter is per (row, window) — a late row can be dropped for its
    # oldest overlapping window (already evicted) while still counting
    # toward the newer ones (still open), which the tumbling parity
    # structurally cannot exhibit. The oracle explodes each row into
    # its 3 epoch-aligned windows (offsets 0/1/2 slides back; all 3
    # always overlap since size = 3 x slide) and applies the drop and
    # emission thresholds per window end.
    oracle=f"""
    WITH tagged AS (
      SELECT event_type, value, us,
             CASE WHEN event_id % 11 = 0 THEN {LATE_N_BATCHES - 1}
                  WHEN event_id % 5 = 0 THEN least({LATE_N_BATCHES - 1}, sl + 1)
                  ELSE sl END AS batch_seq
      FROM (SELECT event_id, event_type, value, epoch_us(ts) AS us,
                   least({LATE_N_BATCHES - 1}, greatest(0,
                         (epoch_us(ts) - {LATE_EPOCH0_US}) // {LATE_SLICE_US}))
                     AS sl
            FROM events)
    ),
    batch_max AS (SELECT batch_seq, max(us) AS mx FROM tagged GROUP BY 1),
    filter_wm AS (
      SELECT k.batch_seq,
             (SELECT max(b.mx) - {LATE_DELAY_US} FROM batch_max b
              WHERE b.batch_seq <= k.batch_seq - 2) AS wm_us
      FROM batch_max k
    ),
    exploded AS (
      SELECT t.us, t.event_type, t.value, f.wm_us,
             (t.us // {SLIDE_US}) * {SLIDE_US} - k.k * {SLIDE_US} AS ws
      FROM tagged t
        JOIN filter_wm f USING (batch_seq),
        (SELECT unnest([0, 1, 2]) AS k) k
    ),
    survivors AS (
      SELECT us, event_type, value, ws FROM exploded
      WHERE wm_us IS NULL OR ws + {LATE_WINDOW_US} > wm_us
    ),
    final_wm AS (SELECT max(us) - {LATE_DELAY_US} AS wm_us FROM tagged)
    SELECT strftime(to_timestamp(ws // 1000000) AT TIME ZONE 'UTC',
                    '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           COUNT(*) AS n,
           {dsum('value')} AS total_value,
           max(value) AS max_value
    FROM survivors, final_wm f
    WHERE ws + {LATE_WINDOW_US} <= f.wm_us
    GROUP BY 1, 2
    """,
)
def stream_late_sliding_parity(spark: SparkSession, sf_dir: str,
                               force: bool = False) -> DataFrame:
    """Watermark late-data semantics at per-(row, window) granularity:
    the staged multi-file zone streamed through SLIDING 12h/4h windows
    in append mode. A late row's three overlapping windows have three
    different ends, so the engine drops it from evicted windows while
    merging it into open ones — the oracle replays exactly that, and
    the hash certifies the window-expansion-then-filter order the
    tumbling parity cannot distinguish."""
    return _memo(spark, "stream_lateslide_", sf_dir, force,
                 lambda: _window_totals(
                     _zone_events(spark, sf_dir, _stage_late_zone),
                     "47 hours", "12 hours", "4 hours"),
                 sink_mode="append")


# --- dedup state expiry under the watermark -------------------------------------
#
# `stream_dedup_parity` certifies exactly-once output from at-least-
# once delivery with UNBOUNDED dedup state. Production uses
# dropDuplicatesWithinWatermark, whose state EXPIRES — and the
# interesting boundary is what happens to a redelivery that arrives
# after its key's state expired. Empirically (six-case probe, this
# Spark build): a redelivery carrying the ORIGINAL event time can
# never be re-emitted (state expiry requires wm > ts + delay, which
# makes the original ts late — the late filter eats it); a RE-STAMPED
# redelivery (replayed feed assigning a fresh ingest time, the shape
# that actually threatens downstream idempotence) in micro-batch k is
# re-emitted iff the PREVIOUS batch's watermark passed the original
# state's expiry:  wm_{k-1} > ts_orig + delay,  with wm_{k-1} =
# max(event time over batches <= k-2) - delay — the same one-batch
# lag as the aggregation rules above (eviction at the end of batch m
# uses wm_m; arrival in batch k sees state alive iff no m < k
# evicted it). A dropped redelivery does NOT refresh the state's
# expiry (also pinned by the probe).

DEDUP_DUP_MOD = 17  # event_id % 17 == 0 originals get one redelivery


def _stage_dedup_zone(spark: SparkSession, sf_dir: str) -> str:
    """Stage events as a 4-file zone in plain time-slice order (no
    late shifts), PLUS one re-stamped redelivery for each
    event_id % 17 == 0 original in slices 0-1: the duplicate lands
    two batches later with ts = original + 2 slices (within its
    batch's native range, so it is never watermark-late, and never
    shares a micro-batch with its original — same-batch pairs would
    make the surviving row nondeterministic)."""
    zone, marker = _zone_path(sf_dir, "events", "dedup_zone",
                              salt="dedupzone|")
    if os.path.exists(marker):
        return zone

    ev = load_table(spark, sf_dir, "events")
    sl = F.least(
        F.lit(LATE_N_BATCHES - 1),
        F.greatest(
            F.lit(0),
            F.expr(f"(unix_micros(ts) - {LATE_EPOCH0_US}) "
                   f"div {LATE_SLICE_US}").cast("int")))
    orig = ev.withColumn("_b", sl)
    dups = (orig.filter((F.col("event_id") % DEDUP_DUP_MOD == 0)
                        & (F.col("_b") <= 1))
            .withColumn("ts", F.timestamp_micros(
                F.unix_micros("ts") + F.lit(2 * LATE_SLICE_US)))
            .withColumn("_b", F.col("_b") + 2))
    return _stage_zone(orig.unionByName(dups), zone,
                       LATE_N_BATCHES, "batch")


@query(
    "stream_dedup_expiry_parity",
    # Every original is its id's first arrival -> emitted. A
    # redelivery (batch b = sl+2, re-stamped +2 slices) is re-emitted
    # iff wm_{b-1} > orig_ts + delay. Batch maxima include the
    # redeliveries' re-stamped times — exactly what the engine's
    # watermark tracker sees.
    oracle=f"""
    WITH orig AS (
      SELECT event_id, user_id, event_type, value, epoch_us(ts) AS us,
             least({LATE_N_BATCHES - 1}, greatest(0,
                   (epoch_us(ts) - {LATE_EPOCH0_US}) // {LATE_SLICE_US}))
               AS b
      FROM events
    ),
    dups AS (
      SELECT event_id, user_id, event_type, value,
             us + {2 * LATE_SLICE_US} AS us, us AS orig_us, b + 2 AS b
      FROM orig
      WHERE event_id % {DEDUP_DUP_MOD} = 0 AND b <= 1
    ),
    all_rows AS (
      SELECT event_id, user_id, event_type, value, us, b FROM orig
      UNION ALL
      SELECT event_id, user_id, event_type, value, us, b FROM dups
    ),
    batch_max AS (SELECT b, max(us) AS mx FROM all_rows GROUP BY 1),
    emitted AS (
      SELECT event_id, user_id, event_type, value, us FROM orig
      UNION ALL
      SELECT d.event_id, d.user_id, d.event_type, d.value, d.us
      FROM dups d
      WHERE (SELECT max(m.mx) - {LATE_DELAY_US} FROM batch_max m
             WHERE m.b <= d.b - 2) > d.orig_us + {LATE_DELAY_US}
    )
    SELECT event_id,
           strftime(to_timestamp(us // 1000000) AT TIME ZONE 'UTC',
                    '%Y-%m-%d %H:%M:%S') AS ts_str,
           user_id, event_type, value
    FROM emitted
    """,
)
def stream_dedup_expiry_parity(spark: SparkSession, sf_dir: str,
                               force: bool = False) -> DataFrame:
    """dropDuplicatesWithinWatermark's STATE-EXPIRY boundary under the
    hash gate: the staged zone redelivers ~6% of slice-0/1 events two
    micro-batches later with re-stamped times. Within the 47h state
    window the redelivery is dropped (exactly-once holds); once the
    watermark passes the original's expiry the state is gone and the
    redelivery is RE-EMITTED (the at-least-once boundary every
    downstream consumer must reason about). The oracle replays the
    engine's lagged eviction rule per redelivery, so the hash
    certifies both the kept and re-emitted sets exactly."""
    return _memo(spark, "stream_dedupexp_", sf_dir, force,
                 lambda: _zone_events(spark, sf_dir, _stage_dedup_zone)
                 .withWatermark("ts", "47 hours")
                 .dropDuplicatesWithinWatermark(["event_id"])
                 .select("event_id",
                         F.date_format("ts", "yyyy-MM-dd HH:mm:ss")
                         .alias("ts_str"),
                         "user_id", "event_type", "value"),
                 sink_mode="append")


# --- streamed LSH band-index lifecycle -------------------------------------------


def _run_stream_lsh_index_delete(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """Seed the corpus band rows, stream the append tick, stream the
    takedown tick through the shared `apply_ann_index_delete`, replay
    the append tick — its marker, carried across the delete's swap,
    must no-op it — then COMPACT. Returns the stored
    band index."""
    root = scratch_dir("stream_lsh_idxdel_")
    index_dir = f"{root}/index"
    mod = F.col("vec_id") % ANN_BATCH_MOD
    emb = load_table(spark, sf_dir, "embeddings")
    flatten_band_index(signatures(emb.filter(~(mod == 0)))) \
        .write.parquet(index_dir)
    src = _landing(spark, sf_dir, "embeddings.parquet")
    replay = _run_stream(
        src.filter(mod == 0), f"{root}/ckpt_inc",
        lambda b, e, t: apply_lsh_index_increment(b, index_dir, epoch_id=e,
                                                  run_token=t))
    _run_stream(src.filter(mod == ANN_TAKEDOWN_RESIDUE).select("vec_id"),
                f"{root}/ckpt_del", _vec_takedown(index_dir))
    replay(emb.filter(mod == 0))
    compact_index(spark, [index_dir], target_files=4)
    return spark.read.parquet(index_dir)


@query(
    "stream_lsh_index_delete_parity",
    # similarity_lsh_index_delete's oracle: every surviving vector's
    # band signature from scratch, takedown slice excluded; bucket
    # CAST BIGINT as throughout the family
    oracle=f"""
    SELECT vec_id, band, CAST(bucket AS BIGINT) AS bucket
    FROM ({_duck_lsh_sig()})
    WHERE vec_id % {ANN_BATCH_MOD} <> {ANN_TAKEDOWN_RESIDUE}
    """,
)
def stream_lsh_index_delete_parity(spark: SparkSession, sf_dir: str,
                                   force: bool = False) -> DataFrame:
    """The LSH band index's streamed append+delete+compact under the
    hash gate: micro-batch 1 appends the arriving vectors' band rows
    (blind append against compile-time hyperplanes), micro-batch 2
    consumes the takedown feed through the shared anti-join delete
    verb, a deliberate epoch-0 replay then proves the carried marker
    no-ops re-delivery, and `compact_index` bounds the file count. The
    remainder-rebuild oracle certifies all three verbs through storage
    in one hash — the streamed twin of `similarity_lsh_index_delete`.

    Scale posture: append is O(|batch| x n_planes) narrow work, delete
    O(|removed| x n_bands) records, compaction the table-format
    maintenance job; corpus contact zero throughout."""
    return _memo(spark, "stream_lshidxdel_", sf_dir, force,
                 lambda: _run_stream_lsh_index_delete(spark, sf_dir))


# --- streamed data-quality gate ---------------------------------------------------
#
# The DQ family (operators/quality.py) audits a table batch-side; this
# is its streaming form: a micro-batch that fails an expectation is
# QUARANTINED rather than appended, and later batches keep committing.
# The staged zone poisons exactly one slice (n_chars drifts off the
# text length for some rows); the oracle recomputes every slice's
# verdict from the corruption rule in SQL, so the hash certifies the
# routing decision AND the delivered row sets.

def _stage_dq_zone(spark: SparkSession, sf_dir: str) -> str:
    """Stage the documents table as a 3-file landing zone, one slice
    per doc_id % 3, with slice 1's doc_id % 7 == 0 rows POISONED:
    n_chars + 1, off the text's true length (the pristine fixture
    satisfies n_chars == length(text) everywhere, pinned by the green
    dq_audit_documents row). Same fingerprint-keyed staging and
    concurrent-stager tolerance as the other zones."""
    zone, marker = _zone_path(sf_dir, "documents", "dq_zone")
    if os.path.exists(marker):
        return zone

    docs = load_table(spark, sf_dir, "documents")
    poison = ((F.col("doc_id") % DQ_N_SLICES == DQ_POISON_SLICE)
              & (F.col("doc_id") % DQ_POISON_MOD == 0))
    staged = docs.withColumn(
        "n_chars",
        F.when(poison, F.col("n_chars") + 1).otherwise(F.col("n_chars")))
    return _stage_zone(
        staged.withColumn("_b", (F.col("doc_id") % DQ_N_SLICES).cast("int")),
        zone, DQ_N_SLICES, "drop")


def _run_stream_dq_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drain the 3-slice zone one micro-batch per file through the DQ
    gate, replay epoch 0 (the accepted slice-0 drop), and return every
    delivered row tagged with the zone it landed in."""
    root = scratch_dir("stream_dq_gate_")
    accept_dir, reject_dir = f"{root}/accept", f"{root}/reject"
    os.makedirs(accept_dir)
    os.makedirs(reject_dir)
    zone = _stage_dq_zone(spark, sf_dir)
    src = _landing(spark, zone, "drop*.parquet", maxFilesPerTrigger="1")
    replay = _run_stream(
        src, f"{root}/ckpt",
        lambda b, e, t: apply_dq_gate(b, accept_dir, reject_dir,
                                      epoch_id=e, run_token=t))
    replay(spark.read.parquet(os.path.join(zone, "drop0.parquet")))
    # an explicit schema reads an empty dir as an empty frame — no
    # special case when every batch routed to one side
    acc, rej = (spark.read.schema(src.schema).parquet(d)
                .withColumn("zone", F.lit(z))
                for d, z in ((accept_dir, "accepted"),
                             (reject_dir, "quarantined")))
    return (acc.unionByName(rej)
            .select("doc_id",
                    (F.col("doc_id") % DQ_N_SLICES).alias("slice_id"),
                    "zone"))


@query(
    "stream_dq_gate_parity",
    # Recompute every slice's verdict from the staged corruption rule:
    # a slice is accepted iff it passes ALL gated structural checks
    # (identity, emptiness, ASCII purity, metadata consistency) over
    # its staged — possibly poisoned — rows. The oracle derives the
    # poison in SQL rather than assuming slice 1 fails, so a fixture
    # where the poison happened to be a no-op (or where a pristine
    # slice was already corrupt) flips the verdict on BOTH engines.
    oracle=f"""
    WITH staged AS (
      SELECT doc_id, text,
             CASE WHEN doc_id % {DQ_N_SLICES} = {DQ_POISON_SLICE}
                       AND doc_id % {DQ_POISON_MOD} = 0
                  THEN n_chars + 1 ELSE n_chars END AS n_chars,
             doc_id % {DQ_N_SLICES} AS slice_id
      FROM documents
    ), v AS (
      SELECT slice_id,
             count(*) AS n_rows,
             count(doc_id) AS n_key,
             count(DISTINCT doc_id) AS n_key_d,
             sum(CASE WHEN text IS NULL OR text = '' THEN 1 ELSE 0 END)
               AS n_empty,
             sum(CASE WHEN octet_length(encode(text)) <> length(text)
                      THEN 1 ELSE 0 END) AS n_nonascii,
             sum(CASE WHEN n_chars <> length(text) THEN 1 ELSE 0 END)
               AS n_meta_bad
      FROM staged GROUP BY slice_id
    ), verdict AS (
      SELECT slice_id,
             (n_rows > 0 AND n_rows - n_key = 0 AND n_key - n_key_d = 0
              AND n_empty = 0 AND n_nonascii = 0 AND n_meta_bad = 0) AS ok
      FROM v
    )
    SELECT s.doc_id, s.slice_id,
           CASE WHEN v.ok THEN 'accepted' ELSE 'quarantined' END AS zone
    FROM staged s JOIN verdict v USING (slice_id)
    """,
)
def stream_dq_gate_parity(spark: SparkSession, sf_dir: str,
                          force: bool = False) -> DataFrame:
    """The streamed DQ GATE under the hash gate: the documents table
    lands as three mtime-ordered drops, one with planted metadata
    corruption; each micro-batch runs the registered corpus DQ suite in
    `foreachBatch` and is routed whole — accepted drops append to the
    warehouse path, failing drops quarantine to a reject path, and the
    stream keeps committing after the bad drop. A deliberate epoch-0
    replay proves the routing is idempotent under re-delivery. One hash
    certifies the gate fired on exactly the right batch AND every
    delivered row landed in exactly one zone.

    Scale posture: the gate's cost is the DQ suite itself — one
    multi-aggregate pass per micro-batch, no joins, no driver collect
    beyond the 7-row verdict frame; routing is a single parquet append
    either way."""
    return _memo(spark, "stream_dqgate_", sf_dir, force,
                 lambda: _run_stream_dq_gate(spark, sf_dir))


# --- streamed Bloom-bits and embedding-store maintenance -------------------------


def _run_stream_bloom_bits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seed the bits store from the frozen corpus slice, stream the
    arriving batch slice's bits, replay epoch 0, and return the bits
    AS STORED."""
    root = scratch_dir("stream_bloom_")
    bits_dir = f"{root}/bits"
    is_batch = F.col("doc_id") % INCREMENTAL_BATCH_MOD == 0
    docs = load_table(spark, sf_dir, "documents")
    _bloom_bits_slice(docs.filter(~is_batch), "corpus") \
        .write.parquet(bits_dir)
    _append_tick(spark, sf_dir, "documents", is_batch, docs, root,
                 lambda b, e, t: apply_bloom_increment(
                     b, bits_dir, epoch_id=e, run_token=t))
    return spark.read.parquet(bits_dir)


def bloom_bits_rebuild_oracle() -> str:
    """Rebuild oracle for the streamed Bloom-bits store: distinct bit
    positions per slice, from scratch — the streamed store must hash
    equal, which certifies both the append and the replay no-op."""
    pos_exprs = ", ".join(
        f"('0x' || substr(fp, {1 + 8 * h}, 8))::BIGINT % {BLOOM_BITS}"
        for h in range(BLOOM_HASHES))
    return f"""
    WITH keyed AS (
      SELECT doc_id, {DUCK_CONTENT_FP} AS fp FROM documents
    ),
    corpus AS (SELECT * FROM keyed WHERE doc_id % {INCREMENTAL_BATCH_MOD} != 0),
    batch  AS (SELECT * FROM keyed WHERE doc_id % {INCREMENTAL_BATCH_MOD} = 0)
    SELECT 'corpus' AS src, pos
    FROM (SELECT DISTINCT unnest([{pos_exprs}]) AS pos FROM corpus)
    UNION ALL
    SELECT 'batch' AS src, pos
    FROM (SELECT DISTINCT unnest([{pos_exprs}]) AS pos FROM batch)
    """


@query("stream_bloom_bits_parity", oracle=bloom_bits_rebuild_oracle())
def stream_bloom_bits_parity(spark: SparkSession, sf_dir: str,
                             force: bool = False) -> DataFrame:
    """The Bloom seen-before filter (llm_ops.dedup.bloom_probe_audit)
    kept current by the real micro-batch engine: every ingest tick
    appends the arriving docs' distinct bit positions to parquet-backed
    bits storage, and a replayed tick no-ops. The rebuild oracle
    certifies the stored bits."""
    return _memo(spark, "stream_bloom_", sf_dir, force,
                 lambda: _run_stream_bloom_bits(spark, sf_dir))


def _run_stream_embed_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seed the store from the frozen corpus slice, stream the arriving
    batch slice's feature rows, replay epoch 0, and return the store AS
    STORED. The store holds FEATURE rows only (featureless docs have
    nothing to store; the registered batch query surfaces them via its
    LEFT join instead)."""
    root = scratch_dir("stream_embed_")
    emb_dir = f"{root}/emb"
    is_batch = F.col("doc_id") % INCREMENTAL_BATCH_MOD == 0
    docs = load_table(spark, sf_dir, "documents")
    (embed_hash(docs.filter(~is_batch))
     .filter(F.col("dim_id").isNotNull())
     .write.parquet(emb_dir))
    _append_tick(spark, sf_dir, "documents", is_batch, docs, root,
                 lambda b, e, t: apply_embed_hash_increment(
                     b, emb_dir, epoch_id=e, run_token=t))
    return spark.read.parquet(emb_dir)


def embed_hash_rebuild_oracle() -> str:
    """Rebuild oracle: the shared feature-row CTE block over the WHOLE
    documents table (corpus ∪ batch) — the streamed store must hash
    equal, certifying both the append and the replay no-op."""
    return f"""
    WITH {_duck_embed_feats_ctes()}
    SELECT doc_id, dim_id, weight FROM feats
    """


@query("stream_embed_hash_parity", oracle=embed_hash_rebuild_oracle())
def stream_embed_hash_parity(spark: SparkSession, sf_dir: str,
                             force: bool = False) -> DataFrame:
    """The generated-embedding store (llm_ops.text.embed_hash) kept
    current by the real micro-batch engine: arriving docs' (doc_id,
    dim_id, weight) rows append per ingest tick, and a replayed tick
    no-ops. The rebuild oracle certifies the stored rows."""
    return _memo(spark, "stream_embed_", sf_dir, force,
                 lambda: _run_stream_embed_hash(spark, sf_dir))
