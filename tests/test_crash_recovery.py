"""Crash matrix for the storage verbs.

Every verb commits through the one commit of streaming/parity.py: it
writes each destination's new content into a `.next` sibling,
publishes a swap record, then swaps each destination for its `.next`
dir and seals the epoch's marker. Each verb is killed at each step of
that commit — after the `.next` dirs are written but before the record
is published ('written'), before the first swap ('before'), between
the first and second swap (multi-destination verbs) and after the last
swap but before `_seal_epoch` ('seal') — and the epoch is then
re-delivered the way foreachBatch's at-least-once contract does. Each
case first checks the crashed attempt's debris — `.next` dirs beside
untouched live dirs, or a swap record — and then the re-delivery alone
must converge to the from-scratch rebuild, exactly once: the commit
drops an unpublished attempt and rolls a published swap forward before
anything else.

The protocol-level guarantees (write-once overwrite, cache refresh,
per-epoch log event, single commit and run points) are pinned by the
tests after the matrix.
"""

from __future__ import annotations

import ast
import logging
import os
import shutil
from dataclasses import dataclass
from typing import Callable

import pytest
from pyspark.errors import StreamingQueryException
from pyspark.sql import functions as F
from pyspark.sql.readwriter import DataFrameWriter

from coursera_etl_pipeline_spark.llm_ops import dedup
from coursera_etl_pipeline_spark.llm_ops.similarity import (
    assign_to_centroids,
    flatten_band_index,
    ivf_assign,
    signatures,
)
from coursera_etl_pipeline_spark.llm_ops.text import embed_hash
from coursera_etl_pipeline_spark.plans import fixtures, pipeline
from coursera_etl_pipeline_spark.streaming import parity, pipeline_stream


class Crash(RuntimeError):
    pass


def _doc(i: int) -> str:
    return " ".join(f"d{i}t{j}" for j in range(30))


def _markers(dir_):
    return {n for n in os.listdir(dir_) if n.startswith("_applied_")}


def _live(c):
    """Name -> size of every file in the store's dirs (the stream
    checkpoint aside)."""
    return {os.path.join(d, n): os.path.getsize(os.path.join(d, n))
            for k, d in c.items() if isinstance(d, str) and k != "chk"
            and os.path.isdir(d) for n in os.listdir(d)}


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _docs(spark):
    return spark.createDataFrame(
        [(11, _doc(11)), (21, _doc(21)), (31, _doc(31)),   # corpus
         (10, _doc(11)), (40, _doc(40))],                  # batch
        "doc_id long, text string")


def _emb(spark):
    return spark.createDataFrame(
        [(i, [float((i * 7 + j * 3) % 11 - 5) for j in range(64)])
         for i in range(20)],
        "vec_id long, embedding array<float>")


def _is_batch(col: str):
    return F.col(col) % 10 == 0


@pytest.fixture()
def crash(monkeypatch):
    """``crash(point)`` arms one crash for the next verb call. 'written'
    fails `_publish` after every `.next` dir is written; 'before' /
    'between' fail the first / second `_swap_pair` before it runs;
    'seal' fails `_seal_epoch` after every swap landed."""
    state = {"point": None, "steps": 0}
    real_publish, real_swap = parity._publish, parity._swap_pair
    real_seal = parity._seal_epoch

    def fire(point: str | None, msg: str) -> None:
        if point is not None and state["point"] == point:
            state["point"] = None
            raise Crash(f"simulated crash {msg}")

    def publish(rec):
        fire("written", "before the swap record is published")
        return real_publish(rec)

    def swap(nxt, dest):
        state["steps"] += 1
        fire({1: "before", 2: "between"}.get(state["steps"]),
             f"at swap {state['steps']}")
        return real_swap(nxt, dest)

    def seal(marker):
        fire("seal", "between the swaps and the seal")
        real_seal(marker)

    monkeypatch.setattr(parity, "_publish", publish)
    monkeypatch.setattr(parity, "_swap_pair", swap)
    monkeypatch.setattr(parity, "_seal_epoch", seal)

    def arm(point: str) -> None:
        state.update(point=point, steps=0)

    return arm


@dataclass
class Case:
    """One verb under the matrix. ``setup`` seeds a store (a dict of
    frames and dirs), ``run`` delivers epoch 0 under token "tok", and
    ``want`` maps store keys to their from-scratch rebuild (None: no
    data files). ``anchor`` is the key of the dir holding the markers;
    ``tag`` is None for the epoch-less compaction, and ``token`` gives
    the run token of the store's markers. ``replay`` re-delivers the
    crashed epoch (default: ``run`` again)."""
    points: tuple[str, ...]
    setup: Callable
    run: Callable
    want: Callable
    anchor: str
    tag: str | None = "inc"
    token: Callable = lambda c: "tok"
    replay: Callable | None = None


@pytest.fixture(scope="module")
def seeded(tmp_path_factory):
    """Per-verb seeded stores and expected rebuilds, built once for the
    module: every matrix case copies its verb's store template."""
    return {"factory": tmp_path_factory, "store": {}, "want": {}}


def _seeded_store(seeded, verb, case, spark, tmp):
    if verb not in seeded["store"]:
        tpl = seeded["factory"].mktemp(f"template_{verb}")
        seeded["store"][verb] = (str(tpl), case.setup(spark, tpl))
    tpl, c = seeded["store"][verb]
    shutil.copytree(tpl, tmp, dirs_exist_ok=True)
    return {k: v.replace(tpl, str(tmp)) if isinstance(v, str) else v
            for k, v in c.items()}


def _assert_rebuilt(seeded, verb, case, spark, c):
    if verb not in seeded["want"]:
        seeded["want"][verb] = {
            k: None if f is None else (f.columns, _rows(f))
            for k, f in case.want(spark, c).items()}
    for key, want in seeded["want"][verb].items():
        if want is None:
            assert not parity._parquet_files(c[key])
        else:
            cols, rows = want
            assert _rows(spark.read.parquet(c[key]).select(*cols)) == rows, key


def _index_store(spark, tmp, aux=False, tok=None):
    """Corpus {11, 21, 31} seeded; with ``tok``, the batch {10, 40}
    already applied as epoch 0 under that token."""
    docs = _docs(spark)
    c = {"docs": docs, **{n: str(tmp / n) for n in
                          ("post", "band", "ledger", "tpost", "tband")}}
    c_post, c_band = dedup.minhash_index_artifacts(docs.filter(~_is_batch("doc_id")))
    c_post.write.parquet(c["post"])
    c_band.write.parquet(c["band"])
    if aux:
        spark.createDataFrame([], "doc_id long, partner long") \
            .write.parquet(c["ledger"])
        c_post.limit(0).write.parquet(c["tpost"])
        c_band.limit(0).write.parquet(c["tband"])
    if tok:
        _inc(c, tok, aux)
    return c


def _inc(c, tok, aux=False):
    parity.apply_index_increment(
        c["docs"].filter(_is_batch("doc_id")), c["post"], c["band"],
        aux_dirs=(c["ledger"], c["tpost"], c["tband"]) if aux else None,
        epoch_id=0, run_token=tok)


def _index_rebuild(ids):
    def want(spark, c):
        post, band = dedup.minhash_index_artifacts(
            c["docs"].filter(F.col("doc_id").isin(ids)))
        return {"post": post, "band": band}
    return want


# survivors of the batch {10, 40}: 10 duplicates corpus 11 and drops
_AFTER_INC = [11, 21, 31, 40]


def _ivf_store(spark, tmp, tok=None):
    emb = _emb(spark)
    assigned, centroids = ivf_assign(emb.filter(~_is_batch("vec_id")))
    c = {"emb": emb, "cent": str(tmp / "cent"), "index": str(tmp / "index")}
    centroids.write.parquet(c["cent"])
    assigned.select("vec_id", "cell_id").write.parquet(c["index"])
    if tok:
        _ann_inc(c, tok)
    return c


def _ann_inc(c, tok):
    parity.apply_ann_index_increment(c["emb"].filter(_is_batch("vec_id")),
                                     c["cent"], c["index"],
                                     epoch_id=0, run_token=tok)


def _ivf_rebuild(removed=None):
    """Every vector assigned from scratch, less the ``removed`` residue."""
    def want(spark, c):
        emb = c["emb"]
        if removed is not None:
            emb = emb.filter(F.col("vec_id") % 10 != removed)
        return {"index": assign_to_centroids(emb, spark.read.parquet(c["cent"]))
                .select("vec_id", "cell_id")}
    return want


def _lsh_store(spark, tmp):
    emb = _emb(spark)
    index = str(tmp / "index")
    flatten_band_index(signatures(emb.filter(~_is_batch("vec_id")))) \
        .write.parquet(index)
    return {"emb": emb, "index": index}


def _dq_store(spark, tmp):
    docs = spark.createDataFrame(
        [(i, _doc(i), "en", "s", len(_doc(i))) for i in range(8)],
        "doc_id long, text string, lang string, source string, "
        "n_chars long")
    c = {"docs": docs, "accept": str(tmp / "accept"), "reject": str(tmp / "reject")}
    os.makedirs(c["accept"])
    os.makedirs(c["reject"])
    return c


def _doc_store(key, seed):
    """Corpus slice of `_docs` written by ``seed(frame)`` under ``key``."""
    def setup(spark, tmp):
        docs = _docs(spark)
        seed(docs.filter(~_is_batch("doc_id"))).write.parquet(str(tmp / key))
        return {"docs": docs, key: str(tmp / key)}
    return setup


_KEYS = ["course_id", "collection_id"]


def _deliver(spark, c, chk):
    """One `start_append` run over every landed file under checkpoint
    ``chk``. The commit runs on foreachBatch's callback thread, so a
    simulated crash there surfaces as the stream's failure."""
    q = pipeline_stream.start_append(
        pipeline_stream.stream_courses(spark, f"{c['landing']}/*.json"),
        c["courses"], chk, dedup_keys=_KEYS)
    try:
        q.awaitTermination()
    except StreamingQueryException as e:
        if "simulated crash" not in str(e):
            raise
        raise Crash(str(e)) from e


def _courses_store(spark, tmp):
    """The courses dir after one delivery of 2x3 entities under its own
    checkpoint, and a landed second file of 4x3 that re-delivers those
    6 and adds 6; the crashed run reads both under a fresh checkpoint."""
    c = {"landing": str(tmp / "landing"), "courses": str(tmp / "courses"),
         "chk": str(tmp / "chk")}
    os.makedirs(c["landing"])
    fixtures.write_response_file(fixtures.make_response(2, 3), c["landing"],
                                 "20240101_000000")
    _deliver(spark, c, str(tmp / "chk_seed"))
    fixtures.write_response_file(fixtures.make_response(4, 3), c["landing"],
                                 "20240102_000000")
    return c


def _features(docs):
    return embed_hash(docs).filter(F.col("dim_id").isNotNull())


def _batch(c, key="docs", col="doc_id"):
    return c[key].filter(_is_batch(col))


CASES = {
    "apply_index_increment": Case(
        ("written", "before", "between", "seal"),
        lambda spark, tmp: _index_store(spark, tmp, aux=True),
        run=lambda spark, c: _inc(c, "tok", aux=True),
        want=_index_rebuild(_AFTER_INC), anchor="band"),
    "apply_ann_index_increment": Case(
        ("before", "seal"), _ivf_store,
        run=lambda spark, c: _ann_inc(c, "tok"),
        want=_ivf_rebuild(), anchor="index"),
    "apply_lsh_index_increment": Case(
        ("before", "seal"), _lsh_store,
        run=lambda spark, c: parity.apply_lsh_index_increment(
            _batch(c, "emb", "vec_id"), c["index"], epoch_id=0, run_token="tok"),
        want=lambda spark, c: {"index": flatten_band_index(signatures(c["emb"]))},
        anchor="index"),
    "apply_dq_gate": Case(
        ("before", "seal"), _dq_store,
        run=lambda spark, c: parity.apply_dq_gate(
            c["docs"], c["accept"], c["reject"], epoch_id=0, run_token="tok"),
        want=lambda spark, c: {"accept": c["docs"], "reject": None},
        anchor="accept", tag="dq"),
    "apply_bloom_increment": Case(
        ("before", "seal"),
        _doc_store("bits", lambda d: parity._bloom_bits_slice(d, "corpus")),
        run=lambda spark, c: parity.apply_bloom_increment(
            _batch(c), c["bits"], epoch_id=0, run_token="tok"),
        want=lambda spark, c: {"bits": parity._bloom_bits_slice(
            c["docs"].filter(~_is_batch("doc_id")), "corpus")
            .unionByName(parity._bloom_bits_slice(_batch(c), "batch"))},
        anchor="bits"),
    "apply_embed_hash_increment": Case(
        ("before", "seal"), _doc_store("emb", _features),
        run=lambda spark, c: parity.apply_embed_hash_increment(
            _batch(c), c["emb"], epoch_id=0, run_token="tok"),
        want=lambda spark, c: {"emb": _features(c["docs"])}, anchor="emb"),
    "apply_index_delete": Case(
        ("before", "between", "seal"),
        lambda spark, tmp: _index_store(spark, tmp, aux=True, tok="inc"),
        # take down 11: 10 resurrects (its sole justification removed)
        run=lambda spark, c: parity.apply_index_delete(
            spark, spark.createDataFrame([(11,)], "doc_id long"),
            c["post"], c["band"], c["ledger"], c["tpost"], c["tband"],
            epoch_id=0, run_token="tok"),
        want=_index_rebuild([21, 31, 40, 10]), anchor="band", tag="del"),
    "apply_ann_index_delete": Case(
        ("before", "seal"), lambda spark, tmp: _ivf_store(spark, tmp, tok="inc"),
        run=lambda spark, c: parity.apply_ann_index_delete(
            spark, c["emb"].filter(F.col("vec_id") % 10 == 1).select("vec_id"),
            c["index"], epoch_id=0, run_token="tok"),
        want=_ivf_rebuild(removed=1), anchor="index", tag="del"),
    "compact_index": Case(
        ("before", "between", "seal"),
        lambda spark, tmp: _index_store(spark, tmp, tok="inc"),
        run=lambda spark, c: parity.compact_index(
            spark, [c["post"], c["band"]], target_files=2),
        want=_index_rebuild(_AFTER_INC), anchor="band", tag=None,
        # no epoch of its own: the re-delivery is the increment whose
        # marker the compaction carried
        replay=lambda spark, c: _inc(c, "inc")),
    "start_append": Case(
        ("written", "before", "seal"), _courses_store,
        run=lambda spark, c: _deliver(spark, c, c["chk"]),
        want=lambda spark, c: {"courses": pipeline.transform_courses(
            pipeline.read_responses(spark, f"{c['landing']}/*.json"))
            .select(*_KEYS).distinct()},
        anchor="courses", token=lambda c: parity._ckpt_token(c["chk"])),
}

MATRIX = [(verb, point) for verb, case in CASES.items() for point in case.points]


@pytest.mark.parametrize("verb,point", MATRIX)
def test_crash_matrix(spark, tmp_path, crash, seeded, verb, point):
    case = CASES[verb]
    c = _seeded_store(seeded, verb, case, spark, tmp_path)
    anchor = c[case.anchor]
    marker = case.tag and parity._epoch_marker(anchor, case.tag, 0,
                                               case.token(c))
    sealed, live = _markers(anchor), _live(c)
    crash(point)
    with pytest.raises(Crash):
        case.run(spark, c)
    # the crashed epoch is unsealed: nothing may trust the store's contents
    assert not marker or not os.path.exists(marker)
    # the crashed attempt left debris for the re-delivery to resolve:
    # unpublished `.next` dirs beside live dirs it never touched, or a
    # published swap record
    beside = [n for n in os.listdir(tmp_path) if n.startswith(".")]
    if point == "written":
        assert beside and all(n.endswith(".next") for n in beside)
        assert _live(c) == live
    else:
        assert any(n.endswith(".swap") for n in beside)

    replay = case.replay or case.run
    replay(spark, c)  # the re-delivery converges unaided
    # every earlier epoch's marker is carried, and the crashed one sealed
    assert _markers(anchor) == sealed | (
        {os.path.basename(marker)} if marker else set())
    assert not [n for n in os.listdir(tmp_path) if n.startswith(".")]
    assert all(os.stat(p).st_nlink == 1 for p in _live(c))
    _assert_rebuilt(seeded, verb, case, spark, c)

    replay(spark, c)  # a further delivery does nothing
    _assert_rebuilt(seeded, verb, case, spark, c)


def _writes(monkeypatch, run) -> list[str]:
    """The paths ``run()`` hands to `DataFrameWriter.parquet`."""
    targets = []
    real_parquet = DataFrameWriter.parquet

    def parquet(self, path, *a, **kw):
        targets.append(str(path))
        return real_parquet(self, path, *a, **kw)

    monkeypatch.setattr(DataFrameWriter, "parquet", parquet)
    try:
        run()
    finally:
        monkeypatch.undo()
    return targets


def test_overwrite_writes_each_target_once(spark, tmp_path, monkeypatch):
    """Every verb writes each target frame exactly once, beside its
    destination, and leaves nothing beside it afterwards: a compaction
    of two dirs, and the five-dir increment, whose dirs then hold no
    file still linked from a `.next` dir."""
    c = _index_store(spark, tmp_path, aux=True)
    five = ("post", "band", "ledger", "tpost", "tband")
    before = {k: _rows(spark.read.parquet(c[k])) for k in ("post", "band")}
    targets = _writes(monkeypatch, lambda: parity.compact_index(
        spark, [c["post"], c["band"]], target_files=2))
    assert targets == [parity._beside(c[k], "next") for k in ("post", "band")]
    assert sorted(os.listdir(tmp_path)) == sorted(five)
    assert {k: _rows(spark.read.parquet(c[k])) for k in before} == before

    targets = _writes(monkeypatch, lambda: _inc(c, "tok", aux=True))
    assert targets == [parity._beside(c[k], "next") for k in five]
    assert sorted(os.listdir(tmp_path)) == sorted(five)
    assert all(os.stat(p).st_nlink == 1 for p in _live(c))


def test_overwrite_refreshes_cached_reads(spark, tmp_path):
    """A persisted read of a dir shows the rows an overwrite verb
    committed, not stale cached ones: the swap refreshes Spark's cache
    by path, as Spark's own overwrite write does."""
    c = _ivf_store(spark, tmp_path)
    cached = spark.read.parquet(c["index"]).persist()
    try:
        n = cached.count()
        removed = c["emb"].filter(F.col("vec_id") % 10 == 1).select("vec_id")
        parity.apply_ann_index_delete(spark, removed, c["index"])
        assert cached.count() == n - removed.count() < n
    finally:
        cached.unpersist()


def test_start_append_settles_a_crashed_compaction(spark, tmp_path, crash):
    """The streamed courses dir is appended and compacted through the
    one commit. A compaction that crashed past its commit point is
    rolled forward before the next streamed append, so the rows that
    append lands survive the next compaction."""
    landing, out = str(tmp_path / "landing"), str(tmp_path / "courses")
    os.makedirs(landing)

    def deliver(n_collections: int, stamp: str) -> None:
        fixtures.write_response_file(
            fixtures.make_response(n_collections, 3), landing, stamp)
        pipeline_stream.start_append(
            pipeline_stream.stream_courses(
                spark, f"{landing}/coursera_response_*.json"),
            out, str(tmp_path / "chk"),
            dedup_keys=["course_id", "collection_id"]).awaitTermination()

    deliver(2, "20240101_000000")
    crash("before")
    with pytest.raises(Crash):
        parity.compact_index(spark, [out], target_files=1)
    deliver(4, "20240102_000000")  # 6 rows already stored, 6 new
    parity.compact_index(spark, [out], target_files=1)
    assert spark.read.parquet(out).count() == 12


def test_commit_logs_one_event_per_epoch(spark, tmp_path, caplog):
    """Each commit emits one structured event per epoch, read from the
    filesystem: an append reports exactly the delta files it wrote, not
    the live files it linked, a replay is reported as skipped, and an
    epoch-less overwrite reports what it rewrote."""
    c = _lsh_store(spark, tmp_path)
    batch = _batch(c, "emb", "vec_id")
    live = set(parity._parquet_files(c["index"]))
    with caplog.at_level(logging.INFO, logger=parity.__name__):
        parity.apply_lsh_index_increment(batch, c["index"], epoch_id=0,
                                         run_token="tok")
        landed = [os.path.getsize(os.path.join(c["index"], n))
                  for n in parity._parquet_files(c["index"])
                  if n not in live]
        parity.apply_lsh_index_increment(batch, c["index"], epoch_id=0,
                                         run_token="tok")
        parity.compact_index(spark, [c["index"]], target_files=2)
    events = [r.epoch for r in caplog.records if hasattr(r, "epoch")]
    assert [e["verb"] for e in events] == [
        "apply_lsh_index_increment", "apply_lsh_index_increment",
        "compact_index"]
    first, replay, compact = events
    assert (first["epoch_id"], first["run_token"]) == (0, "tok")
    assert not first["replay_skipped"]
    assert live and first["files"] == len(landed) >= 1
    assert first["bytes"] == sum(landed)
    assert replay["replay_skipped"] and replay["files"] == 0
    parts = [os.path.getsize(os.path.join(c["index"], n))
             for n in parity._parquet_files(c["index"])]
    assert compact["epoch_id"] is None and compact["files"] == len(parts)
    assert compact["bytes"] == sum(parts)
    assert all(e["commit_ms"] >= 0 for e in events)


def test_commit_points_live_only_in_the_protocol():
    """The link, publish, swap, settle, seal, stream-start and memo
    calls of streaming/parity.py each have their fixed homes — the one
    commit, the swap roll-forward, the stream runner and the
    registered-query memo — so a verb or parity cannot grow its own
    copy back."""
    homes = {
        "link": {"_commit"},
        "_publish": {"_commit"},
        "_swap_pair": {"_finish_swap"},
        "_finish_swap": {"_commit", "_settle"},
        "_settle": {"_commit"},
        "_seal_epoch": {"_finish_swap"},
        "foreachBatch": {"_run_stream"},
        "_needs_run": {"_memo"},
    }
    tree = ast.parse(open(parity.__file__).read())
    seen = {name: set() for name in homes}
    for fn in tree.body:
        for node in ast.walk(fn):
            if not isinstance(node, ast.Call):
                continue
            f = node.func
            name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
            if name in homes:
                seen[name].add(getattr(fn, "name", "<module>"))
    assert seen == homes
