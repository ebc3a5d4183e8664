"""The three workloads: what each lap calls and how its output is checked.

A workload makes its inputs before the engine starts (`prepare`), does
its engine set-up (`setup`, timed as part of setup_s), and then yields
the same list of calls for every lap (`lap`). Each call names the
package layer it enters; the harness times it and runs its check
outside the timing.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import math
import os
from dataclasses import dataclass
from typing import Any, Callable

import pyarrow as pa

import gen


@dataclass
class Call:
    layer: str
    name: str
    build: Callable[[], Any]
    act: Callable[[Any], Any] | None = None
    check: Callable[[Any], bool] | None = None


def to_arrow(df):
    return df.toArrow()


# --- output comparison ------------------------------------------------------

def _cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, dt.datetime) and v.tzinfo is not None:
        v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    return str(v)


def _strings(col) -> pa.ChunkedArray:
    """One column as strings that are equal exactly when the values are
    (floats in shortest round-trip form, timestamps as UTC wall time)."""
    if pa.types.is_timestamp(col.type):
        col = col.cast(pa.timestamp("us"))
    try:
        return col.cast(pa.string())
    except (pa.ArrowNotImplementedError, pa.ArrowInvalid):
        return pa.chunked_array([pa.array([_cell(v) for v in col.to_pylist()],
                                          pa.string())])


def canonical(table) -> pa.Table:
    """Columns in name order, every value as a string, rows sorted: two
    results canonicalise equal exactly when they hold the same rows in
    any order."""
    names = sorted(table.column_names)
    t = pa.Table.from_arrays([_strings(table.column(n)) for n in names], names=names)
    return t.sort_by([(n, "ascending") for n in names]).combine_chunks()


def digest(table: pa.Table) -> str:
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, table.schema) as w:
        w.write_table(table)
    return hashlib.sha256(sink.getvalue()).hexdigest()


class Oracle:
    """DuckDB over one directory of `<table>.parquet` datasets."""

    def __init__(self, root: str):
        import duckdb

        self.con = duckdb.connect()
        for name in sorted(os.listdir(root)):
            if name.endswith(".parquet"):
                self.con.execute(
                    f"CREATE VIEW {name[:-8]} AS SELECT * FROM "
                    f"read_parquet('{root}/{name}/*.parquet')")

    def rows(self, sql: str) -> pa.Table:
        return canonical(self.con.execute(sql).arrow())

    def close(self) -> None:
        self.con.close()


# --- sql_repeat -------------------------------------------------------------

SQL_QUERIES = (
    "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier_volume",
    "q6_forecast_revenue", "q10_returned_items", "agg_cube",
    "join_left_outer", "window_ranking", "window_latest_per_key",
    "sort_multi_key", "events_session_window", "events_funnel",
    "scalar_json_pack", "join_asof",
)


class SqlRepeat:
    """An analyst re-running a dashboard: the same registered queries
    over the same tables every lap; each result is fetched to the
    client as Arrow."""

    lap_s = 8.0  # nominal warm lap on 4 cores, sets the lap count

    def __init__(self, root: str, scale: float):
        self.data = os.path.join(root, "tables")
        self.sf = 0.1 * scale
        self.first: dict[str, str] = {}
        self.oracle: Oracle | None = None

    def prepare(self, rng, laps: int) -> None:
        gen.relational_tables(rng, self.sf, self.data)

    def setup(self, spark) -> None:
        from coursera_etl_pipeline_spark.catalog import load_table

        import __spark_entry__ as entry

        self.queries = entry.queries()
        self.oracle_sql = entry.oracle_sql()
        for t in ("region", "nation", "customer", "supplier", "part",
                  "orders", "lineitem", "events"):
            load_table(spark, self.data, t)

    def lap(self, spark, i: int) -> list[Call]:
        return [Call("operators", q,
                     build=lambda q=q: self.queries[q](spark, self.data),
                     act=to_arrow, check=lambda t, q=q: self._check(q, t))
                for q in SQL_QUERIES]

    def _check(self, name: str, table) -> bool:
        """Lap 0 against the DuckDB oracle; later laps hash-equal lap 0."""
        normed = canonical(table)
        if name in self.first:
            return digest(normed) == self.first[name]
        self.oracle = self.oracle or Oracle(self.data)
        self.first[name] = digest(normed)
        return normed.num_rows > 0 and normed.equals(self.oracle.rows(self.oracle_sql[name]))


# --- corpus_fresh -----------------------------------------------------------

# text_tfidf_top_terms is left out: on generated shards two terms can
# tie exactly in tf-idf, and its rank is taken on an unrounded double
# sum whose last bits depend on summation order, so it disagrees with
# its DuckDB oracle on some seeds (see perfbench/README.md).
CORPUS_QUERIES = (
    "dedup_minhash_lsh", "dedup_paragraph_keep_first",
    "similarity_ann_ivf", "text_quality_score", "dedup_semantic",
)


class CorpusFresh:
    """A curator processing a new crawl shard each lap: every lap reads
    new bytes of the same shape, so no memo keyed on the input hits."""

    lap_s = 9.0

    def __init__(self, root: str, scale: float):
        self.root = root
        self.n_docs = max(int(200 * scale), 40)
        self.n_images = max(int(16 * scale), 8)
        self.shards: list[dict] = []
        self.lsh_pairs: list[tuple[int, int]] = []

    def prepare(self, rng, laps: int) -> None:
        for i in range(laps):
            d = os.path.join(self.root, f"shard_{i:02d}")
            info = gen.corpus_shard(rng, d, self.n_docs, self.n_docs,
                                    self.n_images)
            self.shards.append({"dir": d, **info})

    def setup(self, spark) -> None:
        import __spark_entry__ as entry

        self.queries = entry.queries()
        self.oracle_sql = entry.oracle_sql()

    def lap(self, spark, i: int) -> list[Call]:
        from coursera_etl_pipeline_spark.catalog import load_table
        from coursera_etl_pipeline_spark.llm_ops.clusters import dedup_survivors
        from coursera_etl_pipeline_spark.llm_ops.dedup import minhash_lsh_pairs

        shard = self.shards[i]
        d = shard["dir"]
        calls = [Call("llm_ops", q,
                      build=lambda q=q: self.queries[q](spark, d),
                      act=to_arrow,
                      check=lambda t, q=q: self._check_oracle(d, q, t))
                 for q in CORPUS_QUERIES]

        def survivors():
            docs = load_table(spark, d, "documents")
            return dedup_survivors(docs, minhash_lsh_pairs(docs))

        calls.append(Call("llm_ops", "dedup_survivors", build=survivors,
                          act=to_arrow, check=self._check_survivors))
        calls.append(Call("llm_ops", "image_dhash",
                          build=lambda: self._dhash(spark, d), act=to_arrow,
                          check=lambda t: self._check_dhash(shard, t)))
        return calls

    def _check_oracle(self, shard_dir: str, name: str, table) -> bool:
        """Every shard against the registered DuckDB oracle."""
        normed = canonical(table)
        oracle = Oracle(shard_dir)
        try:
            expected = oracle.rows(self.oracle_sql[name])
        finally:
            oracle.close()
        if name == "dedup_minhash_lsh":
            self.lsh_pairs = list(zip(table.column("doc_a").to_pylist(),
                                      table.column("doc_b").to_pylist()))
        return normed.num_rows > 0 and normed.equals(expected)

    def _check_survivors(self, table) -> bool:
        """Invariant: the survivors are every document except the
        non-minimal members of the components that this lap's
        (oracle-checked) LSH pairs connect."""
        root: dict[int, int] = {}

        def find(x: int) -> int:
            while root.get(x, x) != x:
                x = root[x]
            return x

        for a, b in self.lsh_pairs:
            ra, rb = find(a), find(b)
            root[max(ra, rb)] = min(ra, rb)
        losers = {d for d in root if find(d) != d}
        got = sorted(table.column("doc_id").to_pylist())
        return bool(losers) and got == sorted(set(range(self.n_docs)) - losers)

    @staticmethod
    def _dhash(spark, d):
        from pyspark.sql import functions as F

        from coursera_etl_pipeline_spark.llm_ops.multimodal import (
            image_dhash,
            read_blob_files,
        )

        blobs = read_blob_files(spark, os.path.join(d, "images"))
        idx = F.regexp_extract(F.col("source_path"), r"img_(\d+)", 1)
        return image_dhash(blobs.select(idx.cast("long").alias("doc_id"), "payload"))

    def _check_dhash(self, shard: dict, table) -> bool:
        """Invariant: one hash per image, and every planted brightness
        shift hashes like its original."""
        h = {r["doc_id"]: (r["dhash_lo"], r["dhash_hi"]) for r in table.to_pylist()}
        if sorted(h) != list(range(self.n_images)):
            return False
        return all(h[int(a[4:])] == h[int(b[4:])] for a, b in shard["image_pairs"])


# --- etl_ingest -------------------------------------------------------------

DEDUP_KEYS = ["collection_id", "course_id"]
INDEX_DIRS = ("post", "band", "ledger", "tpost", "tband")


class EtlIngest:
    """The reference's scheduled job with writes beside reads. A lap is
    one maintenance cycle: each epoch lands a GraphQL file (new entities
    plus re-sent ones), streams it into the courses dataset, appends a
    document batch to the delete-capable dedup index and reads both
    back; the cycle ends with a compaction and a CSV export."""

    lap_s = 15.0
    epochs = 1

    def __init__(self, root: str, scale: float):
        self.root = root
        self.inputs = os.path.join(root, "inputs")
        self.landing = os.path.join(root, "landing")
        self.store = os.path.join(root, "store")
        self.staging = os.path.join(root, "staging")
        self.courses = os.path.join(self.store, "courses")
        self.checkpoint = os.path.join(self.store, "checkpoint")
        self.exports = os.path.join(self.store, "exports")
        self.index = {n: os.path.join(self.store, "index", n) for n in INDEX_DIRS}
        self.sizes = dict(entities=max(int(32 * scale), 8), resent=0.25,
                          corpus_docs=max(int(120 * scale), 40),
                          batch_docs=max(int(32 * scale), 8))
        self.landed: set[int] = set()

    def prepare(self, rng, laps: int) -> None:
        self.plan = gen.ingest_plan(rng, self.inputs, cycles=laps,
                                    epochs=self.epochs, **self.sizes)
        for d in (self.landing, self.staging):
            os.makedirs(d, exist_ok=True)

    def user_bytes(self) -> int:
        """Bytes of user data landed so far: landing files and the
        document batches appended to the index."""
        done = [e for e in self.plan["epochs"]
                if os.path.exists(os.path.join(self.landing, e["landing"]))]
        return (gen.tree_bytes(self.landing)
                + sum(gen.tree_bytes(os.path.join(self.inputs, f"{e['batch']}.parquet"))
                      for e in done)
                + gen.tree_bytes(os.path.join(self.inputs, "corpus.parquet")))

    def live_bytes(self, live_ids: set[int]) -> int:
        """Bytes of user data still live: the distinct landed entities
        as JSON plus the text of every live indexed document."""
        from coursera_etl_pipeline_spark.plans.fixtures import make_entity

        docs = self.plan["all_docs"]
        return (sum(len(json.dumps(make_entity(i))) for i in self.landed)
                + sum(len(docs[i]) + 8 for i in live_ids))

    def setup(self, spark) -> None:
        """Initial index build over the corpus (part of set-up)."""
        from coursera_etl_pipeline_spark.catalog import load_table
        from coursera_etl_pipeline_spark.llm_ops.dedup import minhash_index_artifacts

        corpus = load_table(spark, self.inputs, "corpus")
        post, band = minhash_index_artifacts(corpus.select("doc_id", "text"))
        post.write.parquet(self.index["post"])
        band.write.parquet(self.index["band"])
        spark.createDataFrame([], "doc_id long, partner long").write.parquet(
            self.index["ledger"])
        post.limit(0).write.parquet(self.index["tpost"])
        band.limit(0).write.parquet(self.index["tband"])

    def lap(self, spark, i: int) -> list[Call]:
        from coursera_etl_pipeline_spark.llm_ops.dedup import minhash_index_update
        from coursera_etl_pipeline_spark.plans.pipeline import run_transform, write_csv
        from coursera_etl_pipeline_spark.streaming.parity import (
            apply_index_increment,
            compact_index,
        )
        from coursera_etl_pipeline_spark.streaming.pipeline_stream import (
            start_append,
            stream_courses,
        )

        ix = self.index
        aux = (ix["ledger"], ix["tpost"], ix["tband"])
        calls: list[Call] = []
        for e in range(self.epochs):
            ep = self.plan["epochs"][i * self.epochs + e]
            batch = os.path.join(self.inputs, f"{ep['batch']}.parquet")
            probe = os.path.join(self.inputs, f"{ep['probe']}.parquet")

            def append(ep=ep):
                os.rename(os.path.join(self.inputs, "landing_src", ep["landing"]),
                          os.path.join(self.landing, ep["landing"]))
                self.landed.update(ep["entities"])
                q = start_append(stream_courses(spark, self.landing + "/*.json"),
                                 self.courses, self.checkpoint, dedup_keys=DEDUP_KEYS)
                q.awaitTermination()
                return q.exception() is None

            def readback():
                spark.read.parquet(self.courses).createOrReplaceTempView("courses")
                spark.sql("SELECT * FROM courses LIMIT 10").toArrow()
                return spark.sql("SELECT count(*) AS n, count(DISTINCT course_id) AS d "
                                 "FROM courses")

            def probe_build(probe=probe):
                survivors, _, _ = minhash_index_update(
                    spark.read.parquet(probe).select("doc_id", "text"),
                    corpus_postings=spark.read.parquet(ix["post"]),
                    corpus_index=spark.read.parquet(ix["band"]))
                return survivors.select("doc_id")

            calls += [
                Call("streaming", "start_append", build=append, check=bool),
                Call("streaming", "apply_index_increment",
                     build=lambda batch=batch: apply_index_increment(
                         spark.read.parquet(batch).select("doc_id", "text"),
                         ix["post"], ix["band"], staging_root=self.staging,
                         aux_dirs=aux)),
                Call("readback", "courses_sql", build=readback, act=to_arrow,
                     check=self._check_courses),
                Call("readback", "index_probe", build=probe_build, act=to_arrow,
                     check=lambda t, probe=probe: self._check_probe(probe, t)),
            ]
        latest = self.plan["epochs"][(i + 1) * self.epochs - 1]
        calls += [
            Call("streaming", "compact_index",
                 build=lambda: compact_index(
                     spark, [self.courses, ix["post"], ix["band"]],
                     target_files=2, staging_root=self.staging)),
            Call("plans", "run_transform_csv",
                 build=lambda: write_csv(run_transform(spark, self.landing), self.exports),
                 check=lambda _: self._check_cycle(spark, latest)),
        ]
        return calls

    def _check_courses(self, table) -> bool:
        """Exactly once: one row per distinct landed entity."""
        n, d = table.column("n")[0].as_py(), table.column("d")[0].as_py()
        return n == d == len(self.landed)

    def live_ids(self) -> set[int]:
        """Documents the stored index holds, read without Spark."""
        return set(_read(self.index["band"], ["doc_id"])["doc_id"].to_pylist())

    def _check_probe(self, probe: str, table) -> bool:
        """A probe document whose text equals a live indexed document's
        never survives; survivors are probe documents."""
        docs = self.plan["all_docs"]
        live_texts = {docs[i] for i in self.live_ids()}
        p = _read(probe, ["doc_id", "text"]).to_pydict()
        text = dict(zip(p["doc_id"], p["text"]))
        got = set(table.column("doc_id").to_pylist())
        return got <= set(text) and not any(text[x] in live_texts for x in got)

    def _check_cycle(self, spark, latest: dict) -> bool:
        """The courses dataset holds exactly the distinct landed
        entities, the export holds the latest landing file, and the
        index store equals a rebuild from its live documents."""
        from coursera_etl_pipeline_spark.llm_ops.dedup import minhash_index_artifacts

        ids = _read(self.courses, ["course_id"])["course_id"].to_pylist()
        if sorted(ids) != sorted(f"ent-{i}" for i in self.landed):
            return False
        if _csv_rows(self.exports) != len(latest["entities"]):
            return False
        live = self.live_ids()
        if not set(range(self.sizes["corpus_docs"])) <= live:
            return False
        if live & set(_read(self.index["tband"], ["doc_id"])["doc_id"].to_pylist()):
            return False
        docs = self.plan["all_docs"]
        live_df = spark.createDataFrame([(i, docs[i]) for i in sorted(live)],
                                        "doc_id long, text string")
        for stored, rebuilt in zip((self.index["post"], self.index["band"]),
                                   minhash_index_artifacts(live_df)):
            a = _read(stored)
            b = rebuilt.select(*a.column_names).toArrow()
            if _sorted_rows(a) != _sorted_rows(b):
                return False
        return True


def _read(path: str, columns: list[str] | None = None):
    """A parquet dataset the engine wrote, read with pyarrow."""
    import pyarrow.dataset as ds

    return ds.dataset(path, format="parquet").to_table(columns=columns)


def _sorted_rows(table) -> list[tuple]:
    cols = [table.column(c).to_pylist() for c in sorted(table.column_names)]
    return sorted(zip(*cols))


def _csv_rows(path: str) -> int:
    """Data rows of a headed CSV dataset the engine wrote."""
    n = 0
    for f in os.listdir(path):
        if f.endswith(".csv"):
            with open(os.path.join(path, f), encoding="utf-8") as fh:
                n += max(sum(1 for _ in fh) - 1, 0)
    return n


WORKLOADS = {"sql_repeat": SqlRepeat, "corpus_fresh": CorpusFresh,
             "etl_ingest": EtlIngest}


def n_warm_laps(workload: str, seconds: int) -> int:
    """Warm laps for a run: a fixed function of --seconds, never of a
    clock, so every run makes the same calls in the same order."""
    return max(1, int(round(seconds / WORKLOADS[workload].lap_s)))

