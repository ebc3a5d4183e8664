"""LLM-ops property tests (SURVEY §5.2 item 5): deterministic-seed
planted-duplicate recall for the probabilistic operators, symmetry/
self-similarity laws, and multimodal plumbing shape checks."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from coursera_etl_pipeline_spark.catalog import load_table
from coursera_etl_pipeline_spark.llm_ops import dedup, multimodal, similarity


# --- planted corpus ----------------------------------------------------------

BASE = ("the quick brown fox jumps over the lazy dog while data pipelines "
        "shuffle partitions and spark executors aggregate rows in batches "
        "of columnar arrow buffers for every query plan stage").split()


def _doc(words):
    return " ".join(words)


@pytest.fixture(scope="module")
def planted_docs(spark):
    """Deterministic corpus: 20 distinct docs; doc 100 == doc 0 exactly;
    doc 101 = doc 1 with ONE word changed (near-dup); doc 102 = doc 2
    reversed (same vocab, different shingles)."""
    rows = []
    for i in range(20):
        # doc-unique tokens every 5th position keep distinct docs far
        # apart in shingle space (else a cyclic vocab makes them alias)
        words = [f"w{i}x{j}" if j % 5 == 0 else BASE[(i * 7 + j) % len(BASE)]
                 for j in range(40)]
        rows.append((i, _doc(words)))
    rows.append((100, rows[0][1]))                       # exact dup of 0
    near = rows[1][1].split()
    near[20] = "zzz"
    rows.append((101, _doc(near)))                       # near dup of 1
    rows.append((102, _doc(rows[2][1].split()[::-1])))   # shuffled copy of 2
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup_keeps_min_id(planted_docs):
    out = dedup.drop_exact_duplicates(planted_docs)
    ids = {r.doc_id for r in out.select("doc_id").collect()}
    assert 100 not in ids        # duplicate of doc 0 dropped
    assert 0 in ids and 101 in ids and 102 in ids
    assert len(ids) == 22


def test_minhash_lsh_finds_planted_near_dup(planted_docs):
    pairs = dedup.minhash_lsh_pairs(planted_docs, threshold=0.5)
    got = {(r.doc_a, r.doc_b) for r in pairs.collect()}
    assert (0, 100) in got       # identical docs always collide
    assert (1, 101) in got       # one-word edit: jaccard ~0.92
    # every returned pair is exact-verified: jaccard >= threshold
    for r in pairs.collect():
        assert r.jaccard >= 0.5
        assert r.doc_a < r.doc_b  # canonical orientation, no self-pairs


def test_jaccard_prefix_equals_bruteforce_under_hot_shingles(spark):
    """Adversarial skew corpus: every doc shares one hot stopword run
    (df = n_docs shingles), only one pair is a true near-dup. The
    prefix-filtered join must return exactly the brute-force answer —
    the prefix theorem guarantees recall 1.0, and hot shingles must not
    inflate it with false candidates."""
    hot = "to be or not to be that is the question of the day again"
    rows = []
    for i in range(30):
        uniq = " ".join(f"u{i}q{j}" for j in range(12))
        rows.append((i, f"{hot} {uniq}"))
    near = rows[7][1].split()
    near[-1] = "changed"
    rows.append((200, " ".join(near)))  # near-dup of doc 7
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    sh = dedup._shingle_index(docs)
    fast = dedup.jaccard_pairs_prefix(sh, threshold=0.5)

    # brute force: full inverted-index self-join (the oracle shape)
    a, b = sh.alias("a"), sh.alias("b")
    common = (a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
                     & (F.col("a.doc_id") < F.col("b.doc_id")))
              .groupBy(F.col("a.doc_id").alias("doc_a"),
                       F.col("b.doc_id").alias("doc_b"),
                       F.col("a.nsh").alias("na"), F.col("b.nsh").alias("nb"))
              .agg(F.count(F.lit(1)).alias("c")))
    jac = F.col("c") * 1.0 / (F.col("na") + F.col("nb") - F.col("c"))
    slow = (common.filter(jac >= 0.5)
            .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard")))

    got = {(r.doc_a, r.doc_b, r.jaccard) for r in fast.collect()}
    want = {(r.doc_a, r.doc_b, r.jaccard) for r in slow.collect()}
    assert got == want
    assert (7, 200) in {(x, y) for x, y, _ in got}


def test_incremental_minhash_equals_filtered_full_selfjoin(planted_docs):
    """The incremental (corpus-vs-batch) plan must return EXACTLY the
    full self-join's pairs restricted to pairs touching the batch
    (doc_id % INCREMENTAL_BATCH_MOD == 0) — switching a pipeline to
    incremental mode changes cost, never output. The planted corpus
    puts docs 0, 10, 100 in the batch, so the exact-dup pair (0, 100)
    is batch x batch and near-dup corpus pairs must NOT appear."""
    mod = dedup.INCREMENTAL_BATCH_MOD
    full = dedup.minhash_lsh_pairs(planted_docs, threshold=0.5)
    expected = sorted(
        (r.doc_a, r.doc_b, r.jaccard) for r in full.collect()
        if r.doc_a % mod == 0 or r.doc_b % mod == 0)
    got = sorted(
        (r.doc_a, r.doc_b, r.jaccard)
        for r in dedup.minhash_incremental_pairs(
            planted_docs, threshold=0.5).collect())
    assert got == expected
    assert (0, 100, 1.0) in got          # batch x batch exact dup survives
    assert all(a % mod == 0 or b % mod == 0 for a, b, _ in got)


def test_index_update_two_increments_equal_rebuild(planted_docs):
    """Index lifecycle (write side): applying two consecutive
    ``minhash_index_update`` increments must leave EXACTLY the index a
    from-scratch rebuild over the final survivor set produces — both
    the banded signature index and the shingle postings. Splits:
    corpus = doc_id % 10 ∉ {0, 5}; batch1 = % 10 == 0 (contains 0 and
    100, an exact-dup pair — 100 must lose to corpus-priority-free
    batch tie-break); batch2 = % 10 == 5."""
    docs = planted_docs
    ten = F.col("doc_id") % 10
    corpus = docs.filter((ten != 0) & (ten != 5))
    c_post, c_band = dedup.minhash_index_artifacts(corpus)
    c_post, c_band = dedup._materialize(c_post), dedup._materialize(c_band)

    s1, post1, idx1 = dedup.minhash_index_update(
        docs.filter(ten == 0), c_post, c_band, threshold=0.5)
    s2, post2, idx2 = dedup.minhash_index_update(
        docs.filter(ten == 5), post1, idx1, threshold=0.5)

    surv1 = {r.doc_id for r in s1.collect()}
    surv2 = {r.doc_id for r in s2.collect()}
    assert 0 in surv1 and 100 not in surv1   # batch dup loses to min id
    final_ids = ({r.doc_id for r in corpus.select("doc_id").collect()}
                 | surv1 | surv2)

    rebuild_post, rebuild_band = dedup.minhash_index_artifacts(
        docs.filter(F.col("doc_id").isin(list(final_ids))))
    assert (sorted(tuple(r) for r in idx2.collect())
            == sorted(tuple(r) for r in rebuild_band.collect()))
    assert (sorted(tuple(r) for r in post2.collect())
            == sorted(tuple(r) for r in rebuild_post.collect()))
    # increments only ever APPEND: increment-1 index ⊆ increment-2 index
    i1 = {tuple(r) for r in idx1.collect()}
    i2 = {tuple(r) for r in idx2.collect()}
    assert i1 <= i2


def _uniq_doc(i: int) -> str:
    """30 doc-unique tokens: identical ids -> jaccard 1.0, distinct ids
    -> jaccard 0 (no shared shingles at all)."""
    return " ".join(f"d{i}t{j}" for j in range(30))


def test_index_delete_resurrection_matches_rebuild(spark):
    """DELETE verb semantics on a planted store: removing corpus doc 11
    must resurrect batch doc 10 (its ONLY justification), while 20
    (justified by surviving corpus doc 21) and 50 (justified by
    smaller surviving batch doc 40) stay dropped — and the resulting
    index must equal the from-scratch rebuild over the remaining
    corpus, which is the no-cascade claim in executable form."""
    rows = [(11, _uniq_doc(11)), (21, _uniq_doc(21)), (31, _uniq_doc(31)),
            (10, _uniq_doc(11)),   # batch: dup of corpus 11 (removed later)
            (20, _uniq_doc(21)),   # batch: dup of corpus 21 (kept)
            (30, _uniq_doc(30)),   # batch: unique survivor
            (40, _uniq_doc(40)),   # batch: survivor, justifies 50
            (50, _uniq_doc(40))]   # batch: dup of smaller batch doc 40
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    ten = F.col("doc_id") % 10
    corpus, batch = docs.filter(ten != 0), docs.filter(ten == 0)
    c_post, c_band = dedup.minhash_index_artifacts(corpus)
    b_post, b_band = dedup.minhash_index_artifacts(batch)

    ledger = dedup.minhash_drop_ledger(
        b_band, c_band, c_post.unionByName(b_post))
    got_ledger = {(r.doc_id, r.partner) for r in ledger.collect()}
    assert got_ledger == {(10, 11), (20, 21), (50, 40)}

    dropped = ledger.select("doc_id").distinct()
    survivors = batch.select("doc_id").join(dropped, "doc_id", "left_anti")
    post_t1 = c_post.unionByName(
        b_post.join(survivors, "doc_id", "left_semi"))
    index_t1 = c_band.unionByName(
        b_band.join(survivors, "doc_id", "left_semi"))

    removed = spark.createDataFrame([(11,)], "doc_id long")
    new_post, new_index, resurrected = dedup.minhash_index_delete(
        removed, post_t1, index_t1, ledger,
        tombstone_postings=b_post.join(dropped, "doc_id", "left_semi"),
        tombstone_index=b_band.join(dropped, "doc_id", "left_semi"))
    assert {r.doc_id for r in resurrected.collect()} == {10}

    final_ids = {r.doc_id for r in
                 new_index.select("doc_id").distinct().collect()}
    assert final_ids == {21, 31, 10, 30, 40}
    rb_post, rb_band = dedup.minhash_index_artifacts(
        docs.filter(F.col("doc_id").isin(sorted(final_ids))))
    assert (sorted(tuple(r) for r in new_index.collect())
            == sorted(tuple(r) for r in rb_band.collect()))
    assert (sorted(tuple(r) for r in new_post.collect())
            == sorted(tuple(r) for r in rb_post.collect()))


def test_decontaminate_flags_benchmark_duplicate(planted_docs):
    """Doc 0 is in the benchmark slice (0 % 97 == 0); doc 100 is its
    exact copy in the corpus, so every one of its 8-grams overlaps ->
    contaminated, ratio 1.0. Every other corpus doc carries a
    doc-unique token in each 8-gram window (planted every 5th
    position), so nothing else can overlap the benchmark."""
    from coursera_etl_pipeline_spark.llm_ops.text import decontaminate

    rows = {r.doc_id: r for r in decontaminate(planted_docs).collect()}
    assert 0 not in rows                      # benchmark doc excluded
    assert rows[100].contaminated and rows[100].overlap_ratio == 1.0
    clean = [r for i, r in rows.items() if i != 100]
    assert clean and all(not r.contaminated and r.n_overlap == 0 for r in clean)


def test_minhash_identical_signatures_for_identical_docs(planted_docs):
    sigs = dedup.minhash_signatures(planted_docs)
    rows = {r.doc_id: tuple(r[c] for c in sigs.columns if c.startswith("mh"))
            for r in sigs.collect()}
    assert rows[0] == rows[100]          # identical text -> identical sig
    assert rows[1] != rows[3]            # distinct docs differ


def test_simhash_close_for_near_dup(planted_docs):
    fps = dedup.simhash_fingerprints(planted_docs)
    got = {r.doc_id: r.simhash for r in fps.collect()}
    assert got[0] == got[100]            # identical docs -> same fingerprint
    ham = bin(got[1] ^ got[101]).count("1")
    assert ham <= dedup.SIMHASH_MAX_HAMMING  # one-word edit stays close
    # shuffled doc has the SAME distinct-token set -> same simhash
    assert got[2] == got[102]


def test_jaccard_detects_planted_not_shuffled(spark, planted_docs):
    planted_docs.createOrReplaceTempView("planted")
    sh = dedup.shingles(planted_docs)
    ex = sh.select("doc_id", F.explode("_shingles").alias("s"))
    a = ex.alias("a"); b = ex.alias("b")
    common = (a.join(b, (F.col("a.s") == F.col("b.s"))
                     & (F.col("a.doc_id") < F.col("b.doc_id")))
              .groupBy(F.col("a.doc_id").alias("da"), F.col("b.doc_id").alias("db"))
              .agg(F.count("*").alias("c")))
    pairs = {(r.da, r.db): r.c for r in common.collect()}
    assert (0, 100) in pairs
    # word-order reversal destroys 3-gram shingles: (2,102) shares ~none
    assert pairs.get((2, 102), 0) <= 2


def test_ann_lsh_recall_vs_bruteforce(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    exact = similarity.similarity_topk_bruteforce(spark, sf_dir)
    approx = similarity.ann_topk_lsh(emb)
    ex = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    ap = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    recall = len(ex & ap) / len(ex)
    # deterministic planes + fixture seed -> stable; require a sane floor
    assert recall >= 0.25, f"ANN recall collapsed: {recall}"
    assert all(r.rank <= similarity.TOP_K for r in approx.collect())


def test_cosine_self_similarity_and_symmetry(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings").limit(20)
    a = emb.select(F.col("vec_id").alias("ia"), F.col("embedding").alias("va"))
    b = emb.select(F.col("vec_id").alias("ib"), F.col("embedding").alias("vb"))
    sims = (a.crossJoin(b)
            .withColumn("sim", similarity.cosine("va", "vb"))
            .select("ia", "ib", "sim").collect())
    d = {(r.ia, r.ib): r.sim for r in sims}
    for i, j in list(d):
        if i == j:
            assert d[(i, j)] == pytest.approx(1.0, abs=1e-12)
        assert d[(i, j)] == d[(j, i)]  # exact: same accumulation order


def test_multimodal_blob_and_features(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").limit(50)
    blobs = multimodal.as_blobs(docs)
    assert [f.name for f in blobs.schema.fields] == ["doc_id", "payload", "media_type", "n_bytes"]
    assert dict(blobs.dtypes)["payload"] == "binary"

    feats = multimodal.extract_features(blobs)
    rows = feats.collect()
    assert len(rows) == 50
    for r in rows[:5]:
        assert len(r.features) == multimodal.N_FEATURES
        assert sum(r.features) == pytest.approx(1.0, abs=1e-9)  # L1-normalized

    again = {r.doc_id: tuple(r.features) for r in multimodal.extract_features(blobs).collect()}
    first = {r.doc_id: tuple(r.features) for r in rows}
    assert again == first  # deterministic fake extractor


def test_multimodal_decode_stub_raises():
    # genuinely unsupported (codec-level sample decode; every container
    # family's header walk is now real): NotImplementedError. MP4 left
    # this class in round 18, AVI/MKV in the r18 extended session — a
    # truncated payload of any supported magic now fails the
    # supported-magic way (ValueError).
    with pytest.raises(NotImplementedError, match="codec"):
        multimodal.decode_media(b"OggS\x00\x02 ogg-container", "audio/ogg")
    with pytest.raises(NotImplementedError, match="codec"):
        multimodal.decode_media(b"FLV\x01\x05 flash-video", "video/flv")
    with pytest.raises(ValueError, match="AVI"):
        multimodal.decode_media(b"RIFFxxxxAVI LIST", "video/avi")
    with pytest.raises(ValueError, match="MP4"):
        multimodal.decode_media(
            b"\x00\x00\x00\x18ftypmp42 video-ish", "video/mp4")


def test_multimodal_decode_malformed_raises_valueerror():
    """Supported magics with truncated/corrupt headers fail LOUDLY with
    context (never a silent 0x0 dimension) — and as ValueError, not a
    stdlib internal error leaking out of the Arrow UDF."""
    cases = [
        (b"\xff\xd8\xff\xe0 jpeg-truncated", "image/jpeg", "JPEG"),
        (b"\x89PNG\r\n\x1a\n\x00\x00", "image/png", "PNG"),
        (b"GIF89a\x0c", "image/gif", "GIF"),
        (b"BM\x00\x00\x00\x00\x00\x00", "image/bmp", "BMP"),
        (b"P6\n# no dims", "image/ppm", "netpbm"),
        (b"RIFF\x08\x00\x00\x00WAVEjunk", "audio/wav", "RIFF"),
        (b"ID3\x04\x00\x00\x00\x00\x00\x00no-sync", "audio/mp3", "sync"),
        # FLAC (round 17): block header cut short / STREAMINFO body cut
        # short / wrong first block type / reserved zero sample rate
        (b"fLaC\x80\x00", "audio/flac", "block header cut short"),
        (b"fLaC\x80\x00\x00\x22" + b"\x00" * 20, "audio/flac",
         "STREAMINFO cut short"),
        (b"fLaC\x84\x00\x00\x22" + b"\x00" * 34, "audio/flac",
         "mandatory first"),
        (b"fLaC\x80\x00\x00\x10" + b"\x00" * 34, "audio/flac",
         "length 16 < 34"),
        (_flac_bytes(rate=0), "audio/flac", "sample rate 0"),
    ]
    for payload, mt, msg in cases:
        with pytest.raises(ValueError, match=msg):
            multimodal.decode_media(payload, mt)


def _flac_bytes(rate=44100, channels=2, bits=16, total=44100):
    """Minimal well-formed FLAC prefix: magic + last-block STREAMINFO
    header + the 34-byte STREAMINFO body with the given fields packed
    at the spec's bit offsets (16+16+24+24 sizes, then 20-bit rate,
    3-bit channels-1, 5-bit bits-1, 36-bit total samples, 128-bit md5
    left zero)."""
    info = bytearray(34)
    info[0:2] = (4096).to_bytes(2, "big")   # min block size
    info[2:4] = (4096).to_bytes(2, "big")   # max block size
    info[10] = (rate >> 12) & 0xFF
    info[11] = (rate >> 4) & 0xFF
    info[12] = ((rate & 0xF) << 4) | ((channels - 1) << 1) | ((bits - 1) >> 4)
    info[13] = (((bits - 1) & 0xF) << 4) | ((total >> 32) & 0xF)
    info[14:18] = (total & 0xFFFFFFFF).to_bytes(4, "big")
    return b"fLaC" + b"\x80" + (34).to_bytes(3, "big") + bytes(info)


def _mp4_box(btype, body):
    return (8 + len(body)).to_bytes(4, "big") + btype + body


def _mp4_bytes(timescale=600, duration=1800, v=0, tracks=((320, 240),)):
    """Minimal ISO BMFF skeleton: ftyp + moov(mvhd + trak(tkhd)...) —
    container boxes only, no sample data (the FLAC-prefix fixture
    discipline applied to MP4)."""
    if v == 1:
        mvhd = (bytes([1, 0, 0, 0]) + b"\x00" * 16
                + timescale.to_bytes(4, "big") + duration.to_bytes(8, "big"))
    else:
        mvhd = (bytes(4) + b"\x00" * 8
                + timescale.to_bytes(4, "big") + duration.to_bytes(4, "big"))
    moov_body = _mp4_box(b"mvhd", mvhd)
    for w, h in tracks:
        tkhd = (bytes(4) + b"\x00" * 72
                + int(w * 65536).to_bytes(4, "big")
                + int(h * 65536).to_bytes(4, "big"))
        moov_body += _mp4_box(b"trak", _mp4_box(b"tkhd", tkhd))
    return (_mp4_box(b"ftyp", b"isom\x00\x00\x00\x00")
            + _mp4_box(b"moov", moov_body))


def test_multimodal_decode_mp4_container():
    """Round 18 (VERDICT r17 item 7): MP4/ISO-BMFF container decode is
    a declared-size box walk — duration from moov/mvhd (v0 and v1),
    track count + max presentation dims from the tkhd boxes."""
    meta = multimodal.decode_media(_mp4_bytes(), "video/mp4")
    assert meta["kind"] == "video"
    assert meta["duration_sec"] == pytest.approx(3.0)
    assert (meta["n_tracks"], meta["width"], meta["height"]) == (1.0, 320.0, 240.0)

    # v1 mvhd: 64-bit duration; a second (audio) track carries 0x0
    # dims and must not shrink the max
    m2 = multimodal.decode_media(
        _mp4_bytes(timescale=90000, duration=90000 * 7200 + 45000, v=1,
                   tracks=((1920, 1080), (0, 0))), "video/mp4")
    assert m2["duration_sec"] == pytest.approx(7200.5)
    assert (m2["n_tracks"], m2["width"], m2["height"]) == (2.0, 1920.0, 1080.0)
    # a non-integral v1 duration is units / timescale exactly: 2437
    # units at 1200/s round to 2030833 micros
    m3 = multimodal.decode_media(
        _mp4_bytes(timescale=1200, duration=2437, v=1,
                   tracks=((336, 256), (0, 0))), "video/mp4")
    assert m3["duration_sec"] == 2437 / 1200
    assert int(m3["duration_sec"] * 1_000_000 + 0.5) == 2_030_833
    assert (m3["n_tracks"], m3["width"], m3["height"]) == (2.0, 336.0, 256.0)

    # size==0 (to-end) on the last box and size==1 (largesize) both walk
    raw = _mp4_bytes()
    ftyp_len = 16
    moov = bytearray(raw)
    moov[ftyp_len:ftyp_len + 4] = (0).to_bytes(4, "big")
    assert multimodal.decode_media(bytes(moov), "video/mp4")[
        "duration_sec"] == pytest.approx(3.0)
    moov_body = raw[ftyp_len + 8:]
    large = (raw[:ftyp_len] + (1).to_bytes(4, "big") + b"moov"
             + (16 + len(moov_body)).to_bytes(8, "big") + moov_body)
    assert multimodal.decode_media(large, "video/mp4")[
        "duration_sec"] == pytest.approx(3.0)


def test_multimodal_decode_mp4_malformed():
    """Truncated/malformed containers raise contextual ValueError —
    never garbage metadata — and non-BMFF video stays the documented
    NotImplementedError."""
    # a box that declares more bytes than the payload holds
    raw = bytearray(_mp4_bytes())
    raw[16:20] = (1 << 24).to_bytes(4, "big")  # moov size absurd
    with pytest.raises(ValueError, match="overruns|ends at"):
        multimodal.decode_media(bytes(raw), "video/mp4")
    # ftyp alone: no moov/mvhd anywhere
    with pytest.raises(ValueError, match="no moov/mvhd"):
        multimodal.decode_media(
            _mp4_box(b"ftyp", b"isom\x00\x00\x00\x00"), "video/mp4")
    # timescale 0
    with pytest.raises(ValueError, match="timescale 0"):
        multimodal.decode_media(_mp4_bytes(timescale=0), "video/mp4")
    # tkhd cut short
    bad_tkhd = (_mp4_box(b"ftyp", b"isom\x00\x00\x00\x00")
                + _mp4_box(b"moov",
                           _mp4_box(b"mvhd", bytes(4) + b"\x00" * 8
                                    + (600).to_bytes(4, "big")
                                    + (600).to_bytes(4, "big"))
                           + _mp4_box(b"trak",
                                      _mp4_box(b"tkhd", bytes(20)))))
    with pytest.raises(ValueError, match="tkhd cut short"):
        multimodal.decode_media(bad_tkhd, "video/mp4")
    # mkv (EBML magic) decodes for real since the r18 extended session
    # — 64 zero bytes after the magic is a malformed vint, not a stub
    with pytest.raises(ValueError, match="vint"):
        multimodal.decode_media(b"\x1a\x45\xdf\xa3" + b"\x00" * 64,
                                "video/mkv")


def _jpeg_bytes(width=640, height=480):
    """Minimal JPEG prefix: SOI, APP0 stub, SOF0 with dimensions."""
    app0 = b"\xff\xe0" + (15).to_bytes(2, "big") + b"JFIF\x00" + b"\x00" * 8
    sof0 = (b"\xff\xc0" + (17).to_bytes(2, "big") + b"\x08"
            + height.to_bytes(2, "big") + width.to_bytes(2, "big")
            + b"\x03" + b"\x01\x11\x00\x02\x11\x01\x03\x11\x01")
    return b"\xff\xd8" + app0 + sof0


def _mp3_bytes(n_frames=10):
    """CBR MPEG1 Layer III frames: 128 kbps, 44100 Hz, mono.
    Frame size = floor(144 * 128000 / 44100) = 417 bytes."""
    frame = b"\xff\xfb\x90\xc0" + b"\x00" * 413
    return frame * n_frames


def test_multimodal_decode_jpeg_mp3_headers():
    jpg = multimodal.decode_media(_jpeg_bytes(640, 480), "image/jpeg")
    assert (jpg["kind"], jpg["width"], jpg["height"]) == ("image", 640.0, 480.0)

    raw = _mp3_bytes(10)
    mp3 = multimodal.decode_media(raw, "audio/mp3")
    assert mp3["kind"] == "audio"
    assert mp3["channels"] == 1.0 and mp3["sample_rate"] == 44100.0
    # CBR estimate: len * 8 / 128000; 10 frames of 417 B ~ 0.26 s
    assert mp3["duration_sec"] == pytest.approx(len(raw) * 8 / 128000)
    assert mp3["n_frames"] == float(int(mp3["duration_sec"] * 44100 / 1152))

    # ID3v2 tag (100-byte body) is skipped, duration excludes it
    tagged = (b"ID3\x04\x00\x00" + bytes([0, 0, 0, 100]) + b"\x00" * 100
              + raw)
    mp3t = multimodal.decode_media(tagged, "audio/mp3")
    assert mp3t["duration_sec"] == pytest.approx(len(raw) * 8 / 128000)

    # ADVICE r8: footer flag (0x10) adds 10 bytes beyond the syncsafe
    # size — without it the sync probe lands inside the footer
    footed = (b"ID3\x04\x00\x10" + bytes([0, 0, 0, 100])
              + b"\x00" * 100 + b"3DI" + b"\x00" * 7 + raw)
    mp3f = multimodal.decode_media(footed, "audio/mp3")
    assert mp3f["duration_sec"] == pytest.approx(len(raw) * 8 / 128000)

    # ADVICE r8: a trailing 128-byte ID3v1 tag is audio-free — the CBR
    # estimate must not count it
    v1 = raw + b"TAG" + b"\x00" * 125
    mp3v1 = multimodal.decode_media(v1, "audio/mp3")
    assert mp3v1["duration_sec"] == pytest.approx(len(raw) * 8 / 128000)


def test_multimodal_decode_id3_prefixed_flac():
    """ADVICE r17: FLAC files carry leading ID3v2 tags in the wild —
    the dispatcher must sniff the post-tag magic instead of assuming
    ID3 == MP3 (which died on a misleading 'no frame sync')."""
    flac = _flac_bytes(rate=48000, channels=2, bits=24, total=96000)
    tagged = (b"ID3\x04\x00\x00" + bytes([0, 0, 0, 100]) + b"\x00" * 100
              + flac)
    meta = multimodal.decode_media(tagged, "audio/flac")
    assert meta["kind"] == "audio"
    assert meta["sample_rate"] == 48000.0 and meta["bits"] == 24.0
    assert meta["duration_sec"] == pytest.approx(2.0)

    # the footer flag shifts the magic too (the MP3 footer lesson)
    footed = (b"ID3\x04\x00\x10" + bytes([0, 0, 0, 100])
              + b"\x00" * 100 + b"3DI" + b"\x00" * 7 + flac)
    assert multimodal.decode_media(footed, "audio/flac")["bits"] == 24.0

    # malformed case: ID3-prefixed FLAC whose STREAMINFO is truncated
    # must raise the FLAC error, not fall into the MP3 branch
    broken = (b"ID3\x04\x00\x00" + bytes([0, 0, 0, 10]) + b"\x00" * 10
              + b"fLaC\x80\x00\x00\x22" + b"\x00" * 20)
    with pytest.raises(ValueError, match="STREAMINFO cut short"):
        multimodal.decode_media(broken, "audio/flac")

    # an ID3 tag followed by an MP3 frame still routes to MP3
    mp3 = multimodal.decode_media(
        b"ID3\x04\x00\x00" + bytes([0, 0, 0, 4]) + b"\x00" * 4
        + _mp3_bytes(4), "audio/mp3")
    assert mp3["bits"] == 0.0 and mp3["sample_rate"] == 44100.0


def test_multimodal_decode_jpeg_eoi_before_sof_raises():
    """ADVICE r8: EOI (FFD9) must terminate the marker walk — reading a
    segment length past it would parse arbitrary trailing bytes. A
    stream that ends (EOI) without ever carrying an SOF is malformed,
    not a source of garbage dimensions."""
    app0 = b"\xff\xe0" + (15).to_bytes(2, "big") + b"JFIF\x00" + b"\x00" * 8
    # SOI, APP0, EOI, then trailing junk that would misparse as a
    # segment were the walk to continue
    payload = b"\xff\xd8" + app0 + b"\xff\xd9" + b"\xff\xc0\x00\x05trail"
    with pytest.raises(ValueError, match="no SOF"):
        multimodal.decode_media(payload, "image/jpeg")


def _wav_bytes(channels=1, rate=8000, n_frames=800):
    import io
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(channels)
        w.setsampwidth(2)
        w.setframerate(rate)
        w.writeframes(b"\x00\x01" * channels * n_frames)
    return buf.getvalue()


def test_multimodal_decode_headers_real():
    wav = multimodal.decode_media(_wav_bytes(2, 16000, 1600), "audio/wav")
    assert wav == {"kind": "audio", "channels": 2.0, "sample_rate": 16000.0,
                   "bits": 16.0, "n_frames": 1600.0, "duration_sec": 0.1}
    ppm = multimodal.decode_media(
        b"P6\n# a comment 99 99\n640 480\n255\n" + b"\x00" * 10, "image/ppm")
    assert (ppm["width"], ppm["height"]) == (640.0, 480.0)
    png = multimodal.decode_media(
        b"\x89PNG\r\n\x1a\n" + (13).to_bytes(4, "big") + b"IHDR"
        + (320).to_bytes(4, "big") + (200).to_bytes(4, "big"), "image/png")
    assert (png["width"], png["height"]) == (320.0, 200.0)
    gif = multimodal.decode_media(
        b"GIF89a" + (12).to_bytes(2, "little") + (34).to_bytes(2, "little"),
        "image/gif")
    assert (gif["width"], gif["height"]) == (12.0, 34.0)

    # FLAC (round 17): exact duration from STREAMINFO's total-samples
    # field — including a rate whose low nibble and a bit depth whose
    # high bit cross the packed byte boundaries, and a >2^32 total
    # exercising the 36-bit field's high nibble
    flac = multimodal.decode_media(
        _flac_bytes(rate=44100, channels=2, bits=16, total=88200),
        "audio/flac")
    assert flac == {"kind": "audio", "channels": 2.0,
                    "sample_rate": 44100.0, "bits": 16.0,
                    "n_frames": 88200.0, "duration_sec": 2.0}
    odd = multimodal.decode_media(
        _flac_bytes(rate=96001, channels=5, bits=24, total=(1 << 35) + 7),
        "audio/flac")
    assert (odd["channels"], odd["sample_rate"], odd["bits"],
            odd["n_frames"]) == (5.0, 96001.0, 24.0, float((1 << 35) + 7))
    # total == 0 is 'unknown' per spec: well-formed, zero duration
    unk = multimodal.decode_media(_flac_bytes(total=0), "audio/flac")
    assert (unk["n_frames"], unk["duration_sec"]) == (0.0, 0.0)


def test_multimodal_real_mode_end_to_end(spark, tmp_path):
    """The full real path: media files on disk -> binaryFile ingest ->
    mapInPandas header decode -> typed feature vectors. No codec libs,
    no fakes — the WAV/PPM bytes are genuine files."""
    (tmp_path / "a.wav").write_bytes(_wav_bytes(1, 8000, 800))
    (tmp_path / "b.ppm").write_bytes(b"P6\n320 240\n255\n" + b"\x00" * 30)
    (tmp_path / "c.jpg").write_bytes(_jpeg_bytes(1024, 768))
    mp3_raw = _mp3_bytes(5)
    (tmp_path / "d.mp3").write_bytes(mp3_raw)
    (tmp_path / "e.flac").write_bytes(
        _flac_bytes(rate=48000, channels=2, bits=24, total=96000))
    blobs = multimodal.read_blob_files(spark, str(tmp_path))
    feats = multimodal.extract_features(blobs, mode="real")
    by_type = {r.media_type: r.features for r in feats.collect()}
    assert by_type["audio/wav"] == [1.0, 1.0, 8000.0, 16.0, 800.0, 0.1, 0.0, 0.0]
    assert by_type["image/ppm"] == [
        2.0, 320.0, 240.0, 320.0 * 240.0, 0.0, 0.0, 0.0, 0.0]
    assert by_type["image/jpg"][:4] == [2.0, 1024.0, 768.0, 1024.0 * 768.0]
    mp3f = by_type["audio/mp3"]
    assert mp3f[0] == 1.0 and mp3f[2] == 44100.0
    assert mp3f[5] == pytest.approx(len(mp3_raw) * 8 / 128000)
    assert by_type["audio/flac"] == [
        1.0, 2.0, 48000.0, 24.0, 96000.0, 2.0, 0.0, 0.0]


def test_multimodal_real_mode_raises_per_batch_not_plan_time(spark, sf_dir):
    """mode='real' wiring for NON-header-decodable payloads: building
    the plan must succeed (decode runs per Arrow batch inside
    mapInPandas, not at plan time), and executing it must surface the
    NotImplementedError cleanly — the guarantee that swapping in a real
    codec is a pure function swap."""
    from pyspark.errors.exceptions.captured import PythonException

    docs = load_table(spark, sf_dir, "documents").limit(5)
    blobs = multimodal.as_blobs(docs)
    feats = multimodal.extract_features(blobs, mode="real")  # plan: fine
    assert [f.name for f in feats.schema.fields] == [
        "doc_id", "media_type", "n_bytes", "features"]
    with pytest.raises(PythonException, match="NotImplementedError"):
        feats.collect()  # execution: the stub raises inside the batch


def test_multimodal_resize_exact_nearest_neighbor(spark, tmp_path):
    """resize_images must produce EXACTLY the nearest-neighbor grid
    (source index floor(k*s/t)) for both P6 RGB and P5 grayscale, as
    valid re-emitted netpbm — checked pixel-for-pixel with numpy
    (the registered query's SQL oracle covers dims/bytes; it cannot
    express pixel blocks)."""
    import numpy as np

    w, h = 16, 12
    rgb = ((np.arange(h)[:, None, None] * 3
            + np.arange(w)[None, :, None] * 5
            + np.arange(3)[None, None, :]) % 256).astype(np.uint8)
    (tmp_path / "a.ppm").write_bytes(
        b"P6\n" + f"{w} {h}\n255\n".encode() + rgb.tobytes())
    gray = ((np.arange(h)[:, None, None] * 7
             + np.arange(w)[None, :, None]) % 256).astype(np.uint8)
    (tmp_path / "b.pgm").write_bytes(
        b"P5\n" + f"{w} {h}\n255\n".encode() + gray.tobytes())

    blobs = multimodal.read_blob_files(spark, str(tmp_path))
    out = {r.media_type: r for r in
           multimodal.resize_images(blobs, max_side=8).collect()}

    for mt, src, ch in [("image/ppm", rgb, 3), ("image/pgm", gray, 1)]:
        r = out[mt]
        scale = max(w, h) / 8
        nw, nh = int(w / scale), int(h / scale)
        assert (r.in_width, r.in_height, r.out_width, r.out_height) == (
            w, h, nw, nh)
        yi = (np.arange(nh) * h) // nh
        xi = (np.arange(nw) * w) // nw
        expected = src[yi][:, xi]
        payload = bytes(r.payload)
        # the emitted payload is itself valid netpbm the decoder reads
        meta = multimodal.decode_media(payload, mt)
        assert (meta["width"], meta["height"]) == (float(nw), float(nh))
        pw, ph, pch, off = multimodal._parse_netpbm_raw(payload)
        assert (pw, ph, pch) == (nw, nh, ch)
        got = np.frombuffer(payload, np.uint8, count=nw * nh * ch,
                            offset=off).reshape(nh, nw, ch)
        assert np.array_equal(got, expected)

    # compressed formats fail loudly inside the batch, not silently
    import pytest as _pytest
    with _pytest.raises(NotImplementedError, match="codec"):
        multimodal._parse_netpbm_raw(_jpeg_bytes())


def test_frame_sampling_shape(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").limit(5)
    blobs = multimodal.as_blobs(docs)
    frames = multimodal.sample_frames(blobs, every_n_bytes=64)
    got = frames.collect()
    assert {f.name for f in frames.schema.fields} == {"doc_id", "frame_idx", "frame_bytes"}
    per_doc = {}
    for r in got:
        per_doc.setdefault(r.doc_id, []).append(r.frame_idx)
        assert len(r.frame_bytes) <= 64
    for idxs in per_doc.values():
        assert sorted(idxs) == list(range(len(idxs)))  # contiguous frames


def test_sample_frames_slices_bytes_not_chars(spark):
    """sample_frames operates on BYTES of the binary payload — pinned
    on a payload with multi-byte content so a regression to character
    slicing fails. Frames reassemble the sampled prefix exactly and
    the count is max(trunc(n_bytes/stride), 1)."""
    payload = ("héllo wörld! " * 40).encode()  # non-ASCII bytes
    df = spark.createDataFrame(
        [(1, bytearray(payload), len(payload))],
        "doc_id long, payload binary, n_bytes long")
    got = sorted((r.frame_idx, bytes(r.frame_bytes))
                 for r in multimodal.sample_frames(df, every_n_bytes=64).collect())
    n_frames = max(len(payload) // 64, 1)
    assert [i for i, _ in got] == list(range(n_frames))
    assert b"".join(b for _, b in got) == payload[:n_frames * 64]


def test_documents_fixture_is_ascii():
    """multimodal_frame_sample's oracle equates DuckDB CHARACTER
    substring/md5 with Spark's BYTE slice — valid only while the
    documents text is pure ASCII. Pin that data property at every
    fixture scale so a regeneration with multi-byte text fails HERE
    with a pointer, not as an opaque driver hash mismatch."""
    import duckdb

    con = duckdb.connect()
    for sf in ("0.001", "0.01", "0.1"):
        n = con.execute(
            "SELECT sum(CASE WHEN octet_length(encode(text)) <> length(text)"
            " THEN 1 ELSE 0 END) FROM read_parquet("
            f"'/root/testdata/sf{sf}/documents.parquet')").fetchone()[0]
        assert n == 0, (
            f"sf{sf} documents contain {n} non-ASCII doc(s): "
            "multimodal_frame_sample's char-slice oracle no longer "
            "matches the byte slicer — rewrite the oracle before "
            "re-running the driver gate")


def test_ann_ivf_recall_vs_bruteforce(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    exact = similarity.similarity_topk_bruteforce(spark, sf_dir)
    approx = similarity.ann_topk_ivf(emb)
    ex = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    ap = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    recall = len(ex & ap) / len(ex)
    assert recall >= 0.25, f"IVF recall collapsed: {recall}"


def test_stratified_sample_rates_and_determinism(spark, sf_dir):
    from coursera_etl_pipeline_spark.llm_ops import sampling

    s1 = sampling.sample_stratified_hash(spark, sf_dir)
    s2 = sampling.sample_stratified_hash(spark, sf_dir)
    rows1 = {r.doc_id for r in s1.collect()}
    rows2 = {r.doc_id for r in s2.collect()}
    assert rows1 == rows2  # reproducible selection, not a Bernoulli draw

    d = load_table(spark, sf_dir, "documents")
    total = {r.lang: r.cnt for r in
             d.groupBy("lang").agg(F.count(F.lit(1)).alias("cnt")).collect()}
    kept = {r.lang: r.cnt for r in
            s1.groupBy("lang").agg(F.count(F.lit(1)).alias("cnt")).collect()}
    en_rate = kept.get("en", 0) / total["en"]
    other = [lang for lang in total if lang != "en"]
    other_rate = sum(kept.get(x, 0) for x in other) / sum(total[x] for x in other)
    assert 0.08 < en_rate < 0.35          # targets 20%
    assert 0.45 < other_rate < 0.75       # targets 60%
    assert en_rate < other_rate           # the stratification actually bites


def test_sequence_packing_contiguous_and_bounded(spark, sf_dir):
    """Packs are contiguous runs of doc_ids per source, pack ids are
    non-decreasing in doc order, and no pack STARTS past its budget
    boundary (a doc may straddle the end — packing by start offset)."""
    from coursera_etl_pipeline_spark.llm_ops.sampling import PACK_BUDGET, text_pack_sequences

    rows = sorted(
        text_pack_sequences(spark, sf_dir).collect(),
        key=lambda r: (r.source, r.doc_id))
    by_source: dict = {}
    for r in rows:
        by_source.setdefault(r.source, []).append(r)
    assert len(by_source) > 1
    for docs in by_source.values():
        cum = 0
        for r in docs:
            assert r.pack_id == cum // PACK_BUDGET
            cum += r.n_tok
        packs = [r.pack_id for r in docs]
        assert packs == sorted(packs)  # non-decreasing in doc order


def test_connected_components_transitive(spark):
    """A-B and B-C pairs must merge into one cluster {A,B,C} even
    though A-C was never emitted as a pair (transitivity), and the
    canonical label is the min id."""
    from coursera_etl_pipeline_spark.llm_ops.clusters import (
        connected_components,
        dedup_survivors,
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 23)],
        "doc_a long, doc_b long")
    comp = {r.doc_id: r.component for r in connected_components(pairs).collect()}
    assert comp[1] == comp[2] == comp[3] == 1
    assert comp[10] == comp[11] == 10
    assert comp[20] == comp[21] == comp[22] == comp[23] == 20

    docs = spark.createDataFrame(
        [(i, f"text {i}") for i in (1, 2, 3, 5, 10, 11)],
        "doc_id long, text string")
    kept = {r.doc_id for r in dedup_survivors(docs, pairs).collect()}
    assert kept == {1, 5, 10}  # min of each cluster + untouched singleton


def test_connected_components_long_chain(spark):
    """A 30-node path graph (diameter 29): the star algorithm must
    converge in O(log^2 n) rounds — label propagation at one hop per
    round would need 29. Also exercises reversed/duplicated edges."""
    from coursera_etl_pipeline_spark.llm_ops.clusters import connected_components

    chain = [(i, i + 1) for i in range(29)]
    noisy = chain + [(b, a) for a, b in chain[::3]] + chain[::5]
    pairs = spark.createDataFrame(noisy, "doc_a long, doc_b long")
    comp = {r.doc_id: r.component for r in connected_components(pairs).collect()}
    assert len(comp) == 30
    assert set(comp.values()) == {0}


def test_caches_invalidate_on_fixture_rewrite(spark, tmp_path):
    """The driver regenerates fixture parquet at the SAME path between
    rounds. Both memo layers — load_table's DataFrame cache and
    _materialize's persisted intermediates — key on an input-file
    fingerprint (mtime/size), so an identical plan over a rewritten
    file must serve the NEW rows, never stale persisted blocks
    (ADVICE r6)."""
    import os
    import time

    from coursera_etl_pipeline_spark.catalog import load_table
    from coursera_etl_pipeline_spark.llm_ops.dedup import (
        _materialize,
        clear_materialized,
    )

    sf = str(tmp_path)
    path = os.path.join(sf, "documents.parquet")

    def write(rows):
        (spark.createDataFrame(rows, "doc_id long, text string")
         .coalesce(1).write.mode("overwrite").parquet(path))

    write([(1, "alpha"), (2, "beta")])
    d1 = load_table(spark, sf, "documents")
    assert d1 is load_table(spark, sf, "documents")  # stable file -> same object
    m1 = _materialize(d1.groupBy("text").count())
    assert sorted(r.text for r in m1.collect()) == ["alpha", "beta"]

    time.sleep(0.05)  # ensure mtime_ns moves even on coarse filesystems
    write([(3, "gamma"), (4, "delta"), (5, "delta")])

    d2 = load_table(spark, sf, "documents")
    assert d2 is not d1                              # fingerprint miss
    assert sorted(r.text for r in d2.collect()) == ["delta", "delta", "gamma"]
    m2 = _materialize(d2.groupBy("text").count())
    assert {(r.text, r["count"]) for r in m2.collect()} == {("gamma", 1), ("delta", 2)}

    # In-place overwrite: SAME file name, SAME logical plan, new bytes —
    # the sameSemantics-true / fingerprint-miss branch must unpersist
    # the stale blocks and recompute, not serve the cached rows.
    import pyarrow as pa
    import pyarrow.parquet as pq

    single = os.path.join(sf, "single.parquet")
    pq.write_table(pa.table({"k": [1, 1, 2]}), single)
    plan1 = _materialize(spark.read.parquet(single).groupBy("k").count())
    assert {(r.k, r["count"]) for r in plan1.collect()} == {(1, 2), (2, 1)}
    time.sleep(0.05)
    pq.write_table(pa.table({"k": [7, 7, 7, 8]}), single)
    plan2 = _materialize(spark.read.parquet(single).groupBy("k").count())
    assert {(r.k, r["count"]) for r in plan2.collect()} == {(7, 3), (8, 1)}
    clear_materialized(spark)


def test_materialize_memoizes_per_plan(spark, sf_dir):
    """Repeated invocations of the same query must reuse ONE persisted
    intermediate, not pin a fresh copy per call (the round-5 bench
    creep): the per-session cache gains at most one entry across three
    identical runs, and results stay value-identical."""
    from coursera_etl_pipeline_spark.llm_ops.dedup import (
        _MATERIALIZED,
        clear_materialized,
        dedup_ngram_jaccard,
    )

    clear_materialized(spark)
    before = sum(len(b) for d in _MATERIALIZED.values() for b in d.values())
    first = sorted(map(tuple, dedup_ngram_jaccard(spark, sf_dir).collect()))
    for _ in range(2):
        again = sorted(map(tuple, dedup_ngram_jaccard(spark, sf_dir).collect()))
        assert again == first
    after = sum(len(b) for d in _MATERIALIZED.values() for b in d.values())
    # Two distinct memoized frames since r19 (the shingle index AND the
    # prefix frame — jaccard_pairs_prefix materializes the prefix for
    # its self-join's two sides); the property under test is that the
    # count stays FLAT across the three identical runs, not the exact
    # number of frames one run pins.
    assert after - before == 2

    clear_materialized(spark)
    assert spark not in _MATERIALIZED
    # still computable after release (lineage intact, just uncached)
    assert sorted(map(tuple, dedup_ngram_jaccard(spark, sf_dir).collect())) == first
    clear_materialized(spark)


def test_simhash_banded_join_equals_bruteforce(spark, sf_dir):
    """The banded plan (pigeonhole chunks + first-zero-byte uniqueness
    filter, no distinct) must return EXACTLY the brute-force pair set —
    each qualifying pair once, none missed, none duplicated."""
    docs = load_table(spark, sf_dir, "documents")
    fps = dedup.simhash_fingerprints(docs)
    a = fps.select(F.col("doc_id").alias("doc_a"), F.col("simhash").alias("fa"))
    b = fps.select(F.col("doc_id").alias("doc_b"), F.col("simhash").alias("fb"))
    ham = F.bit_count(F.col("fa").bitwiseXOR(F.col("fb")))
    brute = (a.crossJoin(b)
             .filter((F.col("doc_a") < F.col("doc_b"))
                     & (ham <= dedup.SIMHASH_MAX_HAMMING))
             .select("doc_a", "doc_b", ham.cast("int").alias("hamming")))
    banded_rows = [tuple(r) for r in dedup.dedup_simhash(spark, sf_dir).collect()]
    assert len(banded_rows) == len(set(banded_rows))  # no duplicate emissions
    assert sorted(banded_rows) == sorted(map(tuple, brute.collect()))


def test_prefix_filter_equals_naive_on_random_sets(spark):
    """AllPairs/PPJoin equivalence on synthesized shingle sets: the
    prefix-filtered plan must return EXACTLY the naive all-pairs
    J >= t result, including a pair planted at exactly J = 0.8
    (|A|=|B|=9, 8 common -> 8/10) — the ceil-epsilon boundary the
    prefix-length formula must not lose."""
    import itertools
    import random

    rnd = random.Random(42)
    sets = {d: set(rnd.sample(range(200), rnd.randint(5, 25)))
            for d in range(40)}
    sets[100] = set(range(1000, 1009))                      # 9 shingles
    sets[101] = set(range(1000, 1008)) | {2000}             # J = 8/10 = 0.8
    sets[102] = set(range(3000, 3009))
    sets[103] = set(range(3000, 3007)) | {4000, 4001}       # J = 7/11 < 0.8
    rows = [(d, len(s), sh) for d, s in sets.items() for sh in s]
    sh_idx = spark.createDataFrame(rows, "doc_id long, nsh int, shingle long")

    got = {(r.doc_a, r.doc_b): r.jaccard
           for r in dedup.jaccard_pairs_prefix(sh_idx).collect()}
    expect = {}
    for x, y in itertools.combinations(sorted(sets), 2):
        j = len(sets[x] & sets[y]) / len(sets[x] | sets[y])
        if j >= dedup.JACCARD_THRESHOLD:
            expect[(x, y)] = j
    assert set(got) == set(expect), (set(got) ^ set(expect))
    for pair, j in expect.items():
        assert abs(got[pair] - j) < 1e-9, (pair, got[pair], j)
    assert (100, 101) in got  # exact-boundary pair survived


def test_image_dhash_properties(spark, tmp_path):
    """dHash invariants on crafted netpbm images: a global brightness
    shift that crosses no mod-256 wrap leaves the hash IDENTICAL
    (adjacent-pixel comparisons are offset-invariant), while an
    unrelated pattern lands far away in hamming space — the two
    properties that make dHash a perceptual (not cryptographic)
    fingerprint."""
    import numpy as np

    w, h = 20, 16
    rng_y, rng_x = np.mgrid[0:h, 0:w]
    base = (((rng_x * 73 + rng_y * 151) * 2654435761) >> 8) % 200  # <200: +7 wraps nothing
    other = (((rng_x * 31 + rng_y * 97 + 5000) * 2654435761) >> 8) % 256

    def ppm(pix):
        arr = np.repeat(pix.astype(np.uint8)[:, :, None], 3, axis=2)
        return b"P6\n" + f"{w} {h}\n255\n".encode() + arr.tobytes()

    for name, pix in [("a", base), ("b", (base + 7) % 256), ("c", other)]:
        (tmp_path / f"{name}.ppm").write_bytes(ppm(pix))
    blobs = multimodal.read_blob_files(spark, str(tmp_path))
    hashes = multimodal.image_dhash(blobs).collect()
    by_id = {r.doc_id: (r.dhash_lo, r.dhash_hi) for r in hashes}
    names = {r.doc_id: r.source_path.rsplit("/", 1)[-1]
             for r in blobs.select("doc_id", "source_path").collect()}
    by_name = {names[k]: v for k, v in by_id.items()}

    def hamming(p, q):
        return (bin(p[0] ^ q[0]).count("1") + bin(p[1] ^ q[1]).count("1"))

    assert by_name["a.ppm"] == by_name["b.ppm"]          # shift-invariant
    assert hamming(by_name["a.ppm"], by_name["c.ppm"]) > 10


def test_dedup_image_dhash_recovers_planted_pairs(spark):
    """The registered query must return EXACTLY the 16 planted
    variant pairs (2g, 2g+1) of the generated fixture — the measured
    separation (within-group hamming <= 5, cross-group minimum 8)
    makes the threshold-6 result set deterministic."""
    from coursera_etl_pipeline_spark.llm_ops.multimodal import (
        dedup_image_dhash,
    )
    rows = dedup_image_dhash(spark, "/unused").collect()
    got = {(r.doc_a, r.doc_b) for r in rows}
    assert got == {(2 * g, 2 * g + 1) for g in range(16)}
    assert all(r.hamming <= 6 for r in rows)


def test_collect_centroids_empty_contract(spark, sf_dir):
    """Pins the _collect_centroids/pq_codes NON-EMPTY input contract
    (ADVICE r18): the broadcast-array helpers aggregate to ONE row even
    for an empty centroid table, so assignment over it yields |corpus|
    NULL-cell rows rather than the zero rows the pre-r18 cross join
    produced. A filter guard would change ten certified consumers'
    plans (rotation-window math in __spark_entry__), so the behavior
    is pinned here so any future caller that can see an empty centroid
    set knows to guard at ITS edge."""
    emb = (spark.read.parquet(f"{sf_dir}/embeddings.parquet")
           .filter(F.col("vec_id") < 5))
    empty = (emb.filter(F.lit(False))
             .select(F.col("vec_id").alias("cell_id"),
                     F.col("embedding").alias("cv")))
    out = similarity.assign_to_centroids(emb, empty).collect()
    assert len(out) == emb.count()  # one row per vector survives...
    assert all(r.cell_id is None for r in out)  # ...with a NULL cell


def test_ivf_index_append_two_increments_equal_rebuild(spark, sf_dir):
    """Chained ANN appends against frozen centroids must equal one
    from-scratch assignment of the full set — including that neither
    increment refreshes centroids from the grown corpus (the failure
    mode the oracle certifies at driver level)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    ten = F.col("vec_id") % 10
    corpus = emb.filter(ten.isin(1, 2, 3, 4, 5, 6, 7))
    b1 = emb.filter(ten.isin(0, 8))
    b2 = emb.filter(ten == 9)

    assigned, centroids = similarity.ivf_assign(corpus)
    t1 = similarity.ivf_index_append(b1, centroids, assigned)
    t2 = similarity.ivf_index_append(b2, centroids, t1)
    got = sorted((r.vec_id, r.cell_id)
                 for r in t2.select("vec_id", "cell_id").collect())

    rebuilt = similarity.assign_to_centroids(emb, centroids)
    want = sorted((r.vec_id, r.cell_id)
                  for r in rebuilt.select("vec_id", "cell_id").collect())
    assert got == want and len(got) == emb.count()


def test_lsh_index_append_equals_rebuild(spark, sf_dir):
    """The LSH band signature is a per-row pure function of constant
    hyperplanes, so append == rebuild by construction — pinned anyway
    so a future stateful signature (e.g. learned planes) cannot land
    without updating the lifecycle contract."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    ten = F.col("vec_id") % 10
    corpus, batch = emb.filter(ten != 0), emb.filter(ten == 0)
    appended = similarity.lsh_index_append(
        batch, similarity.signatures(corpus))
    cols = ["vec_id", "band0", "band1", "band2"]
    got = sorted(tuple(r) for r in appended.select(*cols).collect())
    want = sorted(tuple(r)
                  for r in similarity.signatures(emb).select(*cols).collect())
    assert got == want


def test_dedup_image_clusters_labels_planted_pairs(spark):
    """Cluster labels over the dHash fixture: each of the 16 planted
    variant pairs forms its own component labeled by the smaller
    index; no cross-group edges exist (measured hamming separation),
    so every image is labeled and there are exactly 16 components."""
    from coursera_etl_pipeline_spark.llm_ops.multimodal import (
        dedup_image_clusters,
    )
    rows = dedup_image_clusters(spark, "/unused").collect()
    got = {r.doc_id: r.component for r in rows}
    assert got == {i: (i // 2) * 2 for i in range(32)}


def test_ivf_index_delete_is_antijoin(spark, sf_dir):
    """ANN delete == rebuild over the remainder: frozen centroids make
    assignment per-row pure, so dropping the removed rows IS the
    rebuild — pinned against assign-from-scratch on the remainder."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    assigned, centroids = similarity.ivf_assign(emb)
    removed = emb.filter(F.col("vec_id") % 7 == 0).select("vec_id")
    after = similarity.ivf_index_delete(removed, assigned)
    got = sorted((r.vec_id, r.cell_id)
                 for r in after.select("vec_id", "cell_id").collect())
    remainder = emb.filter(F.col("vec_id") % 7 != 0)
    want = sorted((r.vec_id, r.cell_id)
                  for r in similarity.assign_to_centroids(remainder, centroids)
                  .select("vec_id", "cell_id").collect())
    assert got == want


def test_lsh_index_delete_equals_remainder_rebuild(spark, sf_dir):
    """LSH band-index delete == rebuild over the remainder: signatures
    are per-row functions of compile-time hyperplanes, so the anti-join
    IS the rebuild. The pin exists so a future signature scheme that
    coupled rows (data-dependent hyperplanes, corpus-calibrated
    quantization) fails HERE instead of silently diverging from
    rebuild semantics."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    is_batch = F.col("vec_id") % 10 == 0
    idx = similarity.lsh_index_append(emb.filter(is_batch),
                                      similarity.signatures(emb.filter(~is_batch)))
    removed = emb.filter(F.col("vec_id") % 7 == 0).select("vec_id")
    after = similarity.lsh_index_delete(removed, idx)
    got = sorted(tuple(r) for r in after.collect())
    want = sorted(tuple(r) for r in
                  similarity.signatures(
                      emb.filter(F.col("vec_id") % 7 != 0)).collect())
    assert got == want


def test_index_delete_empty_and_total_takedown(spark):
    """DELETE verb edges: an empty takedown is the identity on every
    artifact, and taking down ALL corpus docs resurrects exactly the
    batch docs whose every justification was corpus-side — batch x
    batch drops (smaller-id winner) survive takedowns untouched."""
    rows = [(11, _uniq_doc(11)), (21, _uniq_doc(21)),
            (10, _uniq_doc(11)),   # drops: dup of corpus 11
            (20, _uniq_doc(21)),   # drops: dup of corpus 21
            (40, _uniq_doc(40)),   # survives
            (50, _uniq_doc(40))]   # drops: dup of smaller batch doc 40
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    ten = F.col("doc_id") % 10
    corpus, batch = docs.filter(ten != 0), docs.filter(ten == 0)
    c_post, c_band = dedup.minhash_index_artifacts(corpus)
    b_post, b_band = dedup.minhash_index_artifacts(batch)
    ledger = dedup.minhash_drop_ledger(
        b_band, c_band, c_post.unionByName(b_post))
    dropped = ledger.select("doc_id").distinct()
    survivors = batch.select("doc_id").join(dropped, "doc_id", "left_anti")
    post_t1 = c_post.unionByName(b_post.join(survivors, "doc_id", "left_semi"))
    index_t1 = c_band.unionByName(b_band.join(survivors, "doc_id", "left_semi"))
    tomb_p = b_post.join(dropped, "doc_id", "left_semi")
    tomb_b = b_band.join(dropped, "doc_id", "left_semi")

    # empty takedown: identity
    empty = spark.createDataFrame([], "doc_id long")
    p0, i0, r0 = dedup.minhash_index_delete(
        empty, post_t1, index_t1, ledger, tomb_p, tomb_b)
    assert r0.count() == 0
    assert (sorted(tuple(r) for r in i0.collect())
            == sorted(tuple(r) for r in index_t1.collect()))

    # total corpus takedown: 10 and 20 resurrect (corpus-justified),
    # 50 stays dropped (justified by surviving batch doc 40)
    all_corpus = corpus.select("doc_id")
    _p, i1, r1 = dedup.minhash_index_delete(
        all_corpus, post_t1, index_t1, ledger, tomb_p, tomb_b)
    assert {r.doc_id for r in r1.collect()} == {10, 20}
    final_ids = {r.doc_id for r in i1.select("doc_id").distinct().collect()}
    assert final_ids == {10, 20, 40}


def test_index_delete_equals_rebuild_property(spark):
    """Property: for RANDOM duplicate topologies and takedown subsets,
    increment-then-delete equals the from-scratch rebuild whose drop
    rule runs against the remaining corpus. Docs are unique-token
    blocks (jaccard 1.0 within a content group, 0.0 across), so the
    expected survivor set has a closed form in pure Python — the
    Spark artifacts must match it row-for-row. Deterministic,
    derandomized hypothesis (3 examples keeps the Spark round-trips
    bounded); any found counterexample shrinks to a minimal topology."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    corpus_ids = [11, 21, 31, 41]
    batch_ids = [10, 20, 30, 40]

    @settings(max_examples=3, deadline=None, derandomize=True,
              suppress_health_check=list(HealthCheck))
    @given(groups=st.fixed_dictionaries(
               {i: st.integers(0, 2) for i in corpus_ids + batch_ids}),
           removed=st.sets(st.sampled_from(corpus_ids)))
    def check(groups, removed):
        docs = spark.createDataFrame(
            [(i, _uniq_doc(groups[i])) for i in corpus_ids + batch_ids],
            "doc_id long, text string")
        ten = F.col("doc_id") % 10
        corpus, batch = docs.filter(ten != 0), docs.filter(ten == 0)
        c_post, c_band = dedup.minhash_index_artifacts(corpus)
        b_post, b_band = dedup.minhash_index_artifacts(batch)
        ledger = dedup.minhash_drop_ledger(
            b_band, c_band, c_post.unionByName(b_post))
        dropped_t1 = {r.doc_id for r in
                      ledger.select("doc_id").distinct().collect()}
        surv = spark.createDataFrame(
            [(i,) for i in batch_ids if i not in dropped_t1], "doc_id long")
        post_t1 = c_post.unionByName(b_post.join(surv, "doc_id", "left_semi"))
        index_t1 = c_band.unionByName(b_band.join(surv, "doc_id", "left_semi"))
        rm = spark.createDataFrame([(i,) for i in sorted(removed)] or
                                   [], "doc_id long")
        dropped_df = ledger.select("doc_id").distinct()
        _p, new_index, _r = dedup.minhash_index_delete(
            rm, post_t1, index_t1, ledger,
            tombstone_postings=b_post.join(dropped_df, "doc_id", "left_semi"),
            tombstone_index=b_band.join(dropped_df, "doc_id", "left_semi"))

        # closed-form expected survivors of the rebuild over the
        # remaining corpus: batch b drops iff a REMAINING corpus doc
        # shares its group, or a smaller batch doc shares its group
        # (pair-local rule — independent of that doc's own fate)
        remaining = [c for c in corpus_ids if c not in removed]
        expected = set(remaining)
        for b in batch_ids:
            corpus_hit = any(groups[c] == groups[b] for c in remaining)
            batch_hit = any(groups[b2] == groups[b]
                            for b2 in batch_ids if b2 < b)
            if not corpus_hit and not batch_hit:
                expected.add(b)
        got_ids = {r.doc_id for r in
                   new_index.select("doc_id").distinct().collect()}
        assert got_ids == expected
        rb_post, rb_band = dedup.minhash_index_artifacts(
            docs.filter(F.col("doc_id").isin(sorted(expected))))
        assert (sorted(tuple(r) for r in new_index.collect())
                == sorted(tuple(r) for r in rb_band.collect()))

    check()


def test_media_header_parsers_total_on_garbage():
    """Fuzz property (no Spark): the stdlib header parsers are TOTAL
    over arbitrary bytes — they either return a dict/tuple or raise
    the contractual ValueError / NotImplementedError, never an
    IndexError/KeyError/struct error from unguarded byte indexing.
    Magic-prefixed variants steer the fuzz into each format's deeper
    branches (marker walks, syncsafe sizes, header token scans)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    prefixes = [b"", b"\xff\xd8", b"ID3", b"RIFF", b"\x89PNG\r\n\x1a\n",
                b"GIF89a", b"BM", b"P5\n", b"P6\n", b"P6 # c\n",
                b"ID3\x04\x00\x10", b"\xff\xfb"]

    @settings(max_examples=300, deadline=None, derandomize=True)
    @given(prefix=st.sampled_from(prefixes),
           tail=st.binary(min_size=0, max_size=64))
    def check(prefix, tail):
        payload = prefix + tail
        for mt in ("image/jpeg", "audio/mp3", "audio/wav", "image/png",
                   "image/gif", "image/bmp", "image/ppm", "image/pgm"):
            try:
                multimodal.decode_media(payload, mt)
            except (ValueError, NotImplementedError):
                pass  # the contract
        try:
            multimodal._parse_netpbm_raw(payload)
        except (ValueError, NotImplementedError):
            pass

    check()


def test_chunk_overlap_properties(spark, sf_dir):
    """Chunking invariants at smoke scale: chunks tile each document
    with the configured overlap — chunk k starts at token k*stride,
    consecutive full chunks share exactly (chunk - stride) tokens,
    concatenating chunk 0 with the non-overlapped tails of chunks
    1..K reconstructs the document, and every token count is in
    (0, CHUNK_TOKENS]."""
    from coursera_etl_pipeline_spark.llm_ops.text import (
        CHUNK_STRIDE,
        CHUNK_TOKENS,
        text_chunk_overlap,
    )

    rows = text_chunk_overlap(spark, sf_dir).collect()
    docs = {r.doc_id: r.text.split(" ")
            for r in spark.read.parquet(f"{sf_dir}/documents.parquet").collect()}
    by_doc: dict[int, list] = {}
    for r in rows:
        assert 0 < r.n_tokens <= CHUNK_TOKENS
        assert r.n_tokens == len(r.chunk_text.split(" "))
        by_doc.setdefault(r.doc_id, []).append(r)
    assert set(by_doc) == set(docs)
    for doc_id, chunks in by_doc.items():
        chunks.sort(key=lambda r: r.chunk_idx)
        toks = docs[doc_id]
        assert [c.chunk_idx for c in chunks] == list(range(len(chunks)))
        for prev, cur in zip(chunks, chunks[1:]):
            p, c = prev.chunk_text.split(" "), cur.chunk_text.split(" ")
            if len(p) == CHUNK_TOKENS:  # full chunk: exact overlap
                assert p[CHUNK_STRIDE:] == c[:CHUNK_TOKENS - CHUNK_STRIDE]
        # reconstruction via start offsets: chunks tile the document
        rebuilt = []
        for c in chunks:
            start = c.chunk_idx * CHUNK_STRIDE
            ctoks = c.chunk_text.split(" ")
            rebuilt[start:start + len(ctoks)] = ctoks
        assert rebuilt == toks


def test_rrf_fusion_branches_disagree(spark, sf_dir):
    """Fusion is only meaningful if the branches differ: at smoke
    scale some fused pairs must come from exactly one branch (NULL on
    the other side), and the fused ranking must not simply equal
    either branch's ranking."""
    fused = similarity.similarity_rrf_fusion(spark, sf_dir).collect()
    assert fused
    only_lsh = [r for r in fused if r.r_ivf is None]
    only_ivf = [r for r in fused if r.r_lsh is None]
    assert only_lsh or only_ivf, "branches returned identical pair sets"
    fused_order = {(r.query_id, r.rrf_rank): r.neighbor_id for r in fused}
    lsh_order = {(r.query_id, r.rank): r.neighbor_id
                 for r in similarity.ann_topk_lsh(
                     load_table(spark, sf_dir, "embeddings")).collect()}
    assert fused_order != lsh_order, "fusion degenerated to the LSH ranking"


def test_repetition_score_matches_bruteforce(spark, sf_dir):
    """Pin the shuffle-free run-length-fold top frequencies against an
    independent Python Counter recount, and require the keep flag to
    be non-vacuous (both classes present) at smoke scale."""
    from collections import Counter

    from coursera_etl_pipeline_spark.llm_ops.text import (
        text_repetition_score)

    scored = {r.doc_id: r
              for r in text_repetition_score(spark, sf_dir).collect()}
    docs = load_table(spark, sf_dir, "documents").collect()
    assert len(scored) == len(docs)
    for d in docs:
        toks = d.text.split(" ")
        n = len(toks)
        top_tok = max(Counter(toks).values())
        bgs = [f"{a} {b}" for a, b in zip(toks, toks[1:])]
        top_bg = max(Counter(bgs).values()) if bgs else 0
        r = scored[d.doc_id]
        assert r.n_tokens == n
        assert r.distinct_ratio == round(len(set(toks)) / n, 6)
        assert r.top_token_cov == round(top_tok / n, 6)
        assert r.top_bigram_cov == round(top_bg * 2 / n, 6)
    keeps = {r.keep for r in scored.values()}
    assert keeps == {0, 1}, f"keep flag vacuous at smoke scale: {keeps}"


def test_corpus_mix_rates_feasible(spark, sf_dir):
    """The mix must be FEASIBLE (no source oversampled past 100%) and
    BINDING (at least one source pinned at rate 100 — the c_max
    minimizer — and at least one below, else the weights did nothing);
    each rate must equal the closed-form floor(100*c_max*w/total)."""
    from coursera_etl_pipeline_spark.llm_ops.sampling import (
        MIX_W_EVEN, MIX_W_ODD, sample_corpus_mix)

    rows = sample_corpus_mix(spark, sf_dir).collect()
    assert rows
    w = {r.source: MIX_W_EVEN if int(r.source[3:]) % 2 == 0 else MIX_W_ODD
         for r in rows}
    c_max = min(r.total_toks / w[r.source] for r in rows)
    rates = sorted(r.rate_pct for r in rows)
    # the c_max minimizer's rate is 100 in real arithmetic; IEEE
    # rounding may floor it to 99 (identically on both engines)
    assert rates[-1] >= 99 and rates[0] < rates[-1]
    for r in rows:
        assert 0 <= r.rate_pct <= 100
        assert r.rate_pct == min(
            100, int(100.0 * c_max * w[r.source] // r.total_toks))
        assert 0 <= r.kept_docs and 0 <= r.kept_toks <= r.total_toks


def test_max_run_fold_property(spark):
    """Property: the sorted-array run-length fold used by
    text_repetition_score equals the Counter max multiplicity for
    RANDOM token lists (incl. empty strings and single elements).
    Deterministic, derandomized hypothesis; one Spark round-trip
    evaluates all drawn examples in a single DataFrame."""
    from collections import Counter

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from coursera_etl_pipeline_spark.llm_ops.text import _max_run

    token = st.sampled_from(["a", "b", "ab", "", "zz"])

    @settings(max_examples=3, deadline=None, derandomize=True,
              suppress_health_check=list(HealthCheck))
    @given(arrays=st.lists(st.lists(token, max_size=12),
                           min_size=20, max_size=20))
    def check(arrays):
        df = spark.createDataFrame(
            [(i, a) for i, a in enumerate(arrays)],
            "id long, toks array<string>")
        got = {r.id: r.m for r in df.select(
            "id", _max_run(F.array_sort("toks")).alias("m")).collect()}
        for i, a in enumerate(arrays):
            expect = max(Counter(a).values()) if a else 0
            assert got[i] == expect, (a, got[i], expect)

    check()


def test_dedup_semantic_drops_planted_pair(spark, sf_dir):
    """SemDeDup non-vacuity on a planted semantic duplicate: append an
    exact copy of an existing vector under a larger vec_id — identical
    vectors assign to the same cell (per-row pure assignment) and
    cosine 1.0 clears any threshold, so the copy MUST be dropped and
    the original (smaller id, no smaller-id partner of its own in this
    construction) kept. Also pins the drop rule's direction: dropped
    implies a smaller-id above-threshold partner in the same cell."""
    emb = (spark.read.parquet(f"{sf_dir}/embeddings.parquet")
           .select("vec_id", "embedding"))
    donor = emb.filter(F.col("vec_id") == 37)
    planted_id = 1_000_000
    planted = donor.select(F.lit(planted_id).cast("long").alias("vec_id"),
                           "embedding")
    verdicts = similarity.semantic_dedup_verdicts(emb.unionByName(planted))
    rows = {r.vec_id: r for r in verdicts.collect()}
    assert rows[planted_id].dropped, "planted exact copy must be dropped"
    assert rows[planted_id].cell_id == rows[37].cell_id, \
        "identical vectors must land in the same cell"
    n_dropped = sum(1 for r in rows.values() if r.dropped)
    assert 0 < n_dropped < len(rows), "verdicts must be non-vacuous"


def test_dedup_semantic_dropped_have_smaller_kept_or_dropped_partner(
        spark, sf_dir):
    """Drop-rule law on the fixture: every dropped vector has SOME
    smaller-id above-threshold partner in its own cell (the pair that
    justified the drop), and no vector pairs across cells — the
    clustered compare must never consult other cells."""
    emb = (spark.read.parquet(f"{sf_dir}/embeddings.parquet")
           .select("vec_id", "embedding"))
    verdicts = similarity.semantic_dedup_verdicts(emb)
    assigned = verdicts.select("vec_id", "cell_id")
    a = assigned.select(F.col("vec_id").alias("va"), "cell_id")
    b = (verdicts.filter("dropped")
         .select(F.col("vec_id").alias("vb"), "cell_id"))
    pairs = (a.join(b, "cell_id").filter(F.col("va") < F.col("vb"))
             .join(emb.select(F.col("vec_id").alias("va"),
                              F.col("embedding").alias("ea")), "va")
             .join(emb.select(F.col("vec_id").alias("vb"),
                              F.col("embedding").alias("eb")), "vb")
             .withColumn("sim", similarity.cosine("ea", "eb"))
             .filter(F.col("sim") >= similarity.SEMDEDUP_COSINE))
    justified = {r.vb for r in pairs.select("vb").distinct().collect()}
    dropped = {r.vec_id for r in verdicts.filter("dropped").collect()}
    assert dropped == justified


# --- boilerplate span removal & PII scrub (round 11) -------------------------


def test_boilerplate_removal_planted(spark):
    """A 10-token span planted verbatim into three otherwise-distinct
    docs is cut from all three; doc-unique spans survive; a doc made
    ENTIRELY of the shared span collapses to empty text; within-doc
    repetition alone (same span twice in ONE doc) is not boilerplate."""
    from coursera_etl_pipeline_spark.llm_ops.dedup import remove_boilerplate

    shared = " ".join(f"s{j}" for j in range(10))
    selfrep = " ".join(f"r{j}" for j in range(10))
    rows = [
        (0, shared + " " + " ".join(f"a{j}" for j in range(10))),
        (1, " ".join(f"b{j}" for j in range(10)) + " " + shared),
        (2, shared),                       # nothing but boilerplate
        (3, selfrep + " " + selfrep),      # repeats only within itself
        (4, " ".join(f"c{j}" for j in range(10))),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in remove_boilerplate(docs).collect()}
    assert set(out) == {0, 1, 2, 3, 4}
    assert out[0].clean_text == " ".join(f"a{j}" for j in range(10))
    assert out[1].clean_text == " ".join(f"b{j}" for j in range(10))
    assert (out[0].n_chunks, out[0].n_dup_chunks) == (2, 1)
    assert out[2].clean_text == "" and out[2].n_dup_chunks == 1
    assert out[3].clean_text == rows[3][1]       # self-repeat kept
    assert out[3].n_dup_chunks == 0
    assert out[4].clean_text == rows[4][1]


def test_boilerplate_reassembly_preserves_order(spark):
    """Kept chunks reassemble in original position order even when the
    cut chunk sits in the middle (array_sort on (chunk_id, chunk)
    structs, not arrival order)."""
    from coursera_etl_pipeline_spark.llm_ops.dedup import remove_boilerplate

    shared = " ".join(f"s{j}" for j in range(10))
    head = " ".join(f"h{j}" for j in range(10))
    tail = " ".join(f"t{j}" for j in range(10))
    docs = spark.createDataFrame(
        [(0, f"{head} {shared} {tail}"), (1, shared)],
        "doc_id long, text string")
    out = {r.doc_id: r for r in remove_boilerplate(docs).collect()}
    assert out[0].clean_text == f"{head} {tail}"
    assert (out[0].n_chunks, out[0].n_dup_chunks) == (3, 1)


def test_substring_dedup_catches_chunk_straddling_run(spark):
    """The case fixed-chunk boilerplate removal MISSES by construction
    (VERDICT r11 item 3): a k-token run shared by two docs at offsets
    that straddle every chunk boundary. With k=5 windows the run is
    cut from both docs wherever it sits; remove_boilerplate with
    5-token chunks provably keeps it (the planted offsets never align
    a full chunk inside the run on both sides)."""
    from coursera_etl_pipeline_spark.llm_ops.dedup import (
        remove_boilerplate,
        remove_repeated_substrings,
    )

    run = " ".join(f"s{j}" for j in range(5))
    a_head = " ".join(f"a{j}" for j in range(7))    # run at offset 7
    a_tail = " ".join(f"a{j}" for j in range(7, 10))
    b_head = " ".join(f"b{j}" for j in range(3))    # run at offset 3
    b_tail = " ".join(f"b{j}" for j in range(3, 11))
    docs = spark.createDataFrame(
        [(0, f"{a_head} {run} {a_tail}"),
         (1, f"{b_head} {run} {b_tail}"),
         (2, " ".join(f"c{j}" for j in range(12)))],
        "doc_id long, text string")

    out = {r.doc_id: r
           for r in remove_repeated_substrings(docs, k=5, min_docs=2)
           .collect()}
    assert out[0].clean_text == f"{a_head} {a_tail}"
    assert out[1].clean_text == f"{b_head} {b_tail}"
    assert (out[0].n_tokens, out[0].n_dup_tokens) == (15, 5)
    assert (out[1].n_tokens, out[1].n_dup_tokens) == (16, 5)
    unrelated = " ".join(f"c{j}" for j in range(12))
    assert out[2].clean_text == unrelated and out[2].n_dup_tokens == 0

    # the contrast that motivates the operator: fixed 5-token chunks
    # never align with the run in BOTH docs, so boilerplate removal
    # keeps it everywhere
    boiler = {r.doc_id: r
              for r in remove_boilerplate(docs, chunk_tokens=5,
                                          min_docs=2).collect()}
    assert boiler[0].n_dup_chunks == 0 and boiler[1].n_dup_chunks == 0


def test_substring_dedup_covers_runs_longer_than_k(spark):
    """A shared run LONGER than k is fully covered by its overlapping
    k-windows (the union-of-windows coverage), and within-doc-only
    repetition is untouched at min_docs=2 — both properties of the
    suffix-array formulation this operator mirrors."""
    from coursera_etl_pipeline_spark.llm_ops.dedup import (
        remove_repeated_substrings,
    )

    long_run = " ".join(f"s{j}" for j in range(9))   # 9 tokens, k=4
    selfrep = " ".join(f"r{j}" for j in range(4))
    docs = spark.createDataFrame(
        [(0, f"x0 x1 {long_run} x2"),
         (1, f"y0 {long_run} y1 y2 y3"),
         (2, f"{selfrep} z0 {selfrep}")],
        "doc_id long, text string")
    out = {r.doc_id: r
           for r in remove_repeated_substrings(docs, k=4, min_docs=2)
           .collect()}
    assert out[0].clean_text == "x0 x1 x2"
    assert out[0].n_dup_tokens == 9
    assert out[1].clean_text == "y0 y1 y2 y3"
    assert out[2].clean_text == f"{selfrep} z0 {selfrep}"
    assert out[2].n_dup_tokens == 0


def test_substring_dedup_short_and_empty_docs(spark):
    """Docs shorter than k have no window and pass through unchanged;
    the window explode's greatest() guard must not manufacture a
    phantom window for them."""
    from coursera_etl_pipeline_spark.llm_ops.dedup import (
        remove_repeated_substrings,
    )

    docs = spark.createDataFrame(
        [(0, "a b c"), (1, "a b c"), (2, "")],
        "doc_id long, text string")
    out = {r.doc_id: r
           for r in remove_repeated_substrings(docs, k=5, min_docs=2)
           .collect()}
    # identical 3-token docs: too short for a 5-token run — kept
    assert out[0].clean_text == "a b c" and out[0].n_dup_tokens == 0
    assert out[1].clean_text == "a b c"
    # split('') yields one empty token on both engines; no window
    assert out[2].n_tokens == 1 and out[2].n_dup_tokens == 0


def test_substring_dup_arm_equivalence(spark):
    """The O(1)-state min!=max arm (min_docs=2) selects EXACTLY the
    fingerprint set the general count_distinct arm does, on a fixture
    exercising both failure modes: within-doc repetition (one doc,
    many windows per fp — must NOT mark) and cross-doc duplication
    (must mark). VERDICT r13 item 4."""
    from pyspark.sql import functions as F

    from coursera_etl_pipeline_spark.llm_ops.dedup import _dup_fingerprints

    wins = spark.createDataFrame(
        [
            (0, 0, "shared"), (1, 3, "shared"),       # cross-doc dup
            (2, 0, "selfrep"), (2, 7, "selfrep"),     # within-doc only
            (3, 1, "unique"),                          # singleton
            (4, 0, "triple"), (5, 2, "triple"), (6, 9, "triple"),
        ],
        "doc_id long, start int, fp string")
    fast = sorted(r.fp for r in _dup_fingerprints(wins, 2).collect())
    slow = sorted(
        r.fp
        for r in wins.groupBy("fp")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2).select("fp").collect())
    assert fast == slow == ["shared", "triple"]
    # the fast arm's plan carries no distinct-set aggregate
    plan = _dup_fingerprints(wins, 2)._jdf.queryExecution().toString()
    assert "count(distinct" not in plan.lower()


def test_paragraph_keep_first_vs_boilerplate_vs_substring(spark):
    """The three corpus-dedup semantics on ONE planted fixture: a
    5-token paragraph shared by two docs at tile-aligned offsets.
    keep-first KEEPS exactly the first occurrence (doc 0, tile 1) and
    drops the later copy; boilerplate removes ALL occurrences
    (including the first); substring dedup cuts the run from BOTH
    docs. VERDICT r13 item 1's done-criteria case."""
    from coursera_etl_pipeline_spark.llm_ops.dedup import (
        dedup_paragraphs_keep_first,
        remove_boilerplate,
        remove_repeated_substrings,
    )

    shared = " ".join(f"s{j}" for j in range(5))
    a = " ".join(f"a{j}" for j in range(5))
    a2 = " ".join(f"a{j}" for j in range(5, 10))
    b = " ".join(f"b{j}" for j in range(5))
    docs = spark.createDataFrame(
        [(0, f"{a} {shared} {a2}"),       # shared at tile 1
         (1, f"{b} {shared}")],           # shared at tile 1, later doc
        "doc_id long, text string")

    keep = {r.doc_id: r
            for r in dedup_paragraphs_keep_first(docs, para_tokens=5)
            .collect()}
    assert keep[0].clean_text == f"{a} {shared} {a2}"   # first copy kept
    assert keep[0].n_dropped_paras == 0
    assert keep[1].clean_text == b                       # later copy drops
    assert (keep[1].n_paras, keep[1].n_dropped_paras) == (2, 1)

    boiler = {r.doc_id: r
              for r in remove_boilerplate(docs, chunk_tokens=5,
                                          min_docs=2).collect()}
    assert boiler[0].clean_text == f"{a} {a2}"           # ALL copies cut
    assert boiler[1].clean_text == b

    sub = {r.doc_id: r
           for r in remove_repeated_substrings(docs, k=5, min_docs=2)
           .collect()}
    assert sub[0].clean_text == f"{a} {a2}"              # cut from both
    assert sub[1].clean_text == b


def test_paragraph_keep_first_within_doc_and_order(spark):
    """Keep-first is GLOBAL: a within-doc repeat also drops (unlike
    substring dedup's min_docs=2 cross-doc rule), the argmin order is
    (doc_id, para_id) so doc order beats paragraph position, and the
    delimiter arm paragraphizes on the separator."""
    from coursera_etl_pipeline_spark.llm_ops.dedup import (
        dedup_paragraphs_keep_first,
    )

    p = " ".join(f"p{j}" for j in range(3))
    q = " ".join(f"q{j}" for j in range(3))
    docs = spark.createDataFrame(
        [(0, f"{q}|{p}"),     # q first at (0,0); p at (0,1)
         (1, f"{p}|{p}"),     # both drop: (0,1) owns p — within-doc
                              # repeat at (1,1) drops too
         (2, q)],             # later doc: drops
        "doc_id long, text string")
    out = {r.doc_id: r
           for r in dedup_paragraphs_keep_first(docs, delimiter="[|]")
           .collect()}
    assert out[0].clean_text == f"{q} {p}" and out[0].n_dropped_paras == 0
    assert out[1].clean_text == "" and out[1].n_dropped_paras == 2
    assert out[2].clean_text == "" and out[2].n_dropped_paras == 1


def test_split_leakage_safe_semantics(spark):
    """Exact-duplicate docs ALWAYS share a split (the leakage
    property randomSplit lacks), every doc gets exactly one split,
    and the assignment is a pure function of content+rep (stable
    under row order/partitioning)."""
    from coursera_etl_pipeline_spark.llm_ops.sampling import split_assign

    rows = [(i, f"unique text {i}") for i in range(40)]
    rows += [(100, "duplicated body"), (101, "duplicated body"),
             (102, "duplicated body")]
    rows += [(200, None), (201, None)]              # NULL text
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r.split for r in split_assign(docs).collect()}
    assert len(out) == 45                            # NULL docs NOT lost
    assert 200 in out and 201 in out                 # (review r14)
    assert out[100] == out[101] == out[102]          # leakage-safe
    assert set(out.values()) <= {"train", "val", "test"}
    # stability: reversed input order yields the identical assignment
    docs_rev = spark.createDataFrame(rows[::-1], "doc_id long, text string")
    out2 = {r.doc_id: r.split
            for r in split_assign(docs_rev.repartition(7)).collect()}
    assert out == out2


def test_quality_bins_semantics(spark):
    """Quartile cutpoints split a known score set correctly, ties at
    a cutpoint go to the LOWER bin, and every row keeps its score."""
    from coursera_etl_pipeline_spark.llm_ops.text import quality_bins

    scored = spark.createDataFrame(
        [(i, s) for i, s in enumerate(
            [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9])],
        "doc_id long, quality_score double")
    out = {r.doc_id: r.quality_bin for r in quality_bins(scored).collect()}
    # exact percentiles of 9 points: c0=0.3, c1=0.5, c2=0.7; ties lower
    assert [out[i] for i in range(9)] == [0, 0, 0, 1, 1, 2, 2, 3, 3]
    # plan sanity: no global sort of the scored side (the ntile trap)
    plan = quality_bins(scored)._jdf.queryExecution().executedPlan().toString()
    assert "Sort " not in plan


def test_source_token_cap_semantics(spark):
    """Docs admit in doc_id order per source; the doc that CROSSES
    the cap drops (with everything after it), other sources are
    unaffected, and an exactly-at-cap prefix is kept whole."""
    from coursera_etl_pipeline_spark.llm_ops.sampling import (
        cap_source_tokens,
    )

    def words(n):
        return " ".join("w" * 1 for _ in range(n))

    docs = spark.createDataFrame(
        [(0, "a", words(4)), (1, "a", words(4)), (2, "a", words(3)),
         (3, "a", words(1)),                    # a: 4,8,11>10 -> 0,1 kept
         (10, "b", words(6)), (11, "b", words(4)),  # b: 6,10 == cap: both
         (20, "c", words(11)),                      # c: first doc over cap
         (30, "d", None), (31, "d", words(9))],     # d: NULL text = 0 tok
        "doc_id long, source string, text string")
    out = {r.doc_id: r for r in cap_source_tokens(docs, cap=10).collect()}
    assert sorted(out) == [0, 1, 10, 11, 30, 31]
    assert out[1].cum_tokens == 8 and out[11].cum_tokens == 10
    # NULL-text docs are zero-token and KEPT, never silently dropped
    # (ADVICE r14: uncoalesced size(split(NULL)) is NULL -> filtered)
    assert out[30].n_tokens == 0 and out[31].cum_tokens == 9


def test_canonical_url_and_dedup(spark):
    """Canonicalization: query/fragment stripped, host (not path)
    case-folded, one www. stripped, trailing slash removed; variants
    of one page collapse to a single kept representative while
    distinct paths stay distinct."""
    from coursera_etl_pipeline_spark.llm_ops.dedup import (
        dedup_by_canonical_url,
    )

    docs = spark.createDataFrame(
        [(0, "https://Site.Example.org/A/b?utm=1#x"),
         (1, "https://www.site.example.org/A/b/"),
         (2, "HTTPS://SITE.EXAMPLE.ORG/A/b"),      # scheme+host folded
         (3, "https://site.example.org/a/b"),       # path case differs: kept
         (4, "https://wwwsite.example.org/A/b")],   # no dot: not a www strip
        "doc_id long, url string")
    out = {r.doc_id: r for r in dedup_by_canonical_url(docs).collect()}
    assert out[0].is_kept and not out[1].is_kept and not out[2].is_kept
    assert out[0].canon_url == "https://site.example.org/A/b"
    assert out[3].is_kept and out[3].canon_url == "https://site.example.org/a/b"
    assert out[4].is_kept and out[4].canon_url.startswith(
        "https://wwwsite.example.org")
    # NULL urls are KEPT independently, never silently dropped
    # (review r14: a NULL join key matches nothing in the equi-join)
    # — and the per-doc fallback key is UNFORGEABLE (ADVICE r14): it
    # starts with '?', which canonicalization strips from every real
    # URL, so even a url string spelled exactly like doc 1's fallback
    # key cannot group with doc 1's NULL-url group.
    nulled = spark.createDataFrame(
        [(0, "https://x.org/a"), (1, None), (2, None),
         (3, "?null-url:1")],
        "doc_id long, url string")
    nout = {r.doc_id: r for r in dedup_by_canonical_url(nulled).collect()}
    assert sorted(nout) == [0, 1, 2, 3]
    assert nout[1].is_kept and nout[2].is_kept and nout[3].is_kept
    assert nout[3].canon_url != nout[1].canon_url


def test_canonical_url_idempotent(spark):
    """Canonicalization is a FIXED POINT: canonical(canonical(u)) ==
    canonical(u) over an adversarial URL batch (double-www, query
    that contains a url, fragment-only, root slash, mixed case,
    ports, userinfo-ish '@' paths). A non-idempotent canonicalizer
    dedups differently on re-ingestion — the silent-corruption mode
    this pins against."""
    from pyspark.sql import functions as F

    from coursera_etl_pipeline_spark.llm_ops.dedup import canonical_url

    urls = [
        "https://www.www.example.org/a",          # double www: strip ONE
        "https://example.org/a?next=https://b.io/c",
        "https://example.org/#frag",
        "https://example.org/",
        "HTTP://WWW.EXAMPLE.ORG",
        "https://example.org:8080/x/",
        "ftp://Files.Example.org/pub/",
        "https://example.org/a@b/c?x#y",
        "https://example.org/a//",                 # double slash: one strip
    ]
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    out = df.select(
        canonical_url(F.col("url")).alias("c1")).select(
        "c1", canonical_url(F.col("c1")).alias("c2")).collect()
    for r in out:
        assert r.c1 == r.c2, (r.c1, r.c2)


def test_url_host_filter_semantics(spark):
    """Host extraction handles scheme variants, ports, query strings,
    path-free URLs, userinfo, and IPv6 literals (VERDICT r14 item 8);
    the blocklist anti-join drops by HOST (not substring) and CANNOT
    be bypassed by case, an explicit port, or a userinfo prefix; the
    allowlist semi-join drops by lang; duplicate list entries never
    blow up the row count (anti/semi, not inner)."""
    from coursera_etl_pipeline_spark.llm_ops.text import url_host_filter

    docs = spark.createDataFrame(
        [
            (0, "en", "https://good.example.org/a/b?q=1"),
            (1, "en", "http://bad.example.org/x"),        # blocked host
            (2, "zh", "https://good.example.org/y"),      # blocked lang
            (3, "en", "https://good.example.org:8443"),   # port, no path
            (4, "en", "https://bad.example.org.evil.io/z"),  # NOT blocked:
                                                             # host differs
            (5, "en", "HTTPS://BAD.Example.ORG/x"),       # blocked: case
                                                          # cannot bypass
            (6, "en", "https://bad.example.org:443/x"),   # blocked: port
                                                          # cannot bypass
            (7, "en", "https://u:p@bad.example.org/x"),   # blocked: userinfo
                                                          # cannot bypass
            (8, "en", "https://user@good.example.org:80/a"),  # both at once
            (9, "en", "https://[2001:DB8::1]:8080/a"),    # IPv6 literal
        ],
        "doc_id long, lang string, url string")
    blocked = spark.createDataFrame(
        [("bad.example.org",), ("bad.example.org",)], "host string")
    allowed = spark.createDataFrame(
        [("en",), ("en",), ("de",)], "lang string")
    out = {r.doc_id: r
           for r in url_host_filter(docs, blocked, allowed).collect()}
    assert sorted(out) == [0, 3, 4, 8, 9]
    assert out[0].host == "good.example.org" and out[0].tld == "org"
    assert out[3].host == "good.example.org"   # port stripped (r15)
    assert out[3].tld == "org"          # port-robust TLD (review r14)
    assert out[4].host == "bad.example.org.evil.io"
    assert out[4].tld == "io"
    assert out[8].host == "good.example.org"   # userinfo+port stripped
    assert out[9].host == "[2001:db8::1]"      # bracketed literal, folded
    assert out[9].tld == ""                    # no dot-label TLD


def test_url_host_regex_output_invariant_on_fixture(spark, sf_dir):
    """Carve-out proof for the r15 URL_HOST_RE hardening (userinfo/
    port/IPv6 stripping): the registered `text_url_host_filter` query
    synthesizes URLs with no userinfo, port, or bracket, so the NEW
    regex must extract the IDENTICAL host as the old raw-authority
    regex on EVERY fixture row — which is why the hardened query is
    not re-forced into the rotation window (__spark_entry__ carve-out
    rule: output-invariance stated WITH its proof)."""
    from pyspark.sql import functions as F

    from coursera_etl_pipeline_spark.catalog import load_table
    from coursera_etl_pipeline_spark.llm_ops.text import URL_HOST_RE

    OLD_RE = "^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)"
    docs = (load_table(spark, sf_dir, "documents")
            .select(F.concat(F.lit("https://"), F.col("source"),
                             F.lit(".example.org/"), F.col("lang"),
                             F.lit("/doc-"), F.col("doc_id").cast("string"))
                    .alias("url")))
    diverged = docs.filter(
        F.regexp_extract("url", OLD_RE, 1)
        != F.regexp_extract("url", URL_HOST_RE, 1)).count()
    assert diverged == 0


def test_pii_scrub_semantics(spark):
    """Masking is global (all occurrences), counts match occurrences,
    and PII-free text passes through byte-identical."""
    from coursera_etl_pipeline_spark.llm_ops.text import scrub_pii

    docs = spark.createDataFrame(
        [
            (0, "mail a.b+c@ex-1.example.org and d@e.io today"),
            (1, "call +1-202-555-0142 or +44-700-900-123 now"),
            (2, "plain text with no contact details at all"),
            (3, "x@y.example.com then +1-303-555-0100 then x@y.example.com"),
        ],
        "doc_id long, body string")
    out = {r.doc_id: r for r in scrub_pii(docs, "body").collect()}
    assert out[0].n_emails == 2 and out[0].n_phones == 0
    assert out[0].scrubbed == "mail <EMAIL> and <EMAIL> today"
    assert out[1].n_emails == 0 and out[1].n_phones == 2
    assert out[1].scrubbed == "call <PHONE> or <PHONE> now"
    assert out[2].scrubbed == docs.collect()[2].body
    assert out[3].n_emails == 2 and out[3].n_phones == 1
    assert out[3].scrubbed == "<EMAIL> then <PHONE> then <EMAIL>"


def test_pii_scrub_registered_query_nonvacuous(spark, sf_dir):
    """The registered fixture query injects 1 email (2 on every third
    doc) + 1 phone per doc, and the scrubbed output carries no
    residual match of either pattern."""
    from coursera_etl_pipeline_spark.llm_ops.text import (
        PII_EMAIL_RE,
        PII_PHONE_RE,
        text_pii_scrub,
    )

    out = text_pii_scrub(spark, sf_dir)
    rows = out.collect()
    assert all(r.n_emails == (2 if r.doc_id % 3 == 0 else 1) for r in rows)
    assert all(r.n_phones == 1 for r in rows)
    residue = out.filter(
        F.col("scrubbed").rlike(PII_EMAIL_RE)
        | F.col("scrubbed").rlike(PII_PHONE_RE)).count()
    assert residue == 0


def test_quantize_int8_semantics(spark):
    """Quantization invariants on planted vectors: the max-|x| element
    maps to exactly ±127, codes are within [-127, 127], dequantized
    values sit within scale/2 of the input, and the zero vector maps
    to all-zero codes with scale 0."""
    from coursera_etl_pipeline_spark.llm_ops.similarity import quantize_int8

    rows = [
        (0, [1.0, -0.5, 0.25, 0.0]),
        (1, [-2.0, 2.0, 1.0, -1.0]),   # tie on |max|: both ends saturate
        (2, [0.0, 0.0, 0.0, 0.0]),     # zero vector
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r.vec_id: r for r in quantize_int8(emb).collect()}
    assert out[0].scale == 1.0 / 127
    # -0.5/scale = -63.5; floor(-63.5 + 0.5) = floor(-63.0) = -63 (the
    # floor(x + 0.5) convention rounds halves UP, i.e. toward +inf)
    assert out[0].q == [127, -63, 32, 0]
    assert out[1].q[0] == -127 and out[1].q[1] == 127
    assert out[2].scale == 0.0 and out[2].q == [0, 0, 0, 0]
    for r in out.values():
        assert all(-127 <= v <= 127 for v in r.q)
        for x, qv in zip(r.embedding, r.q):
            assert abs(qv * r.scale - x) <= r.scale / 2 + 1e-12


def test_ann_quantized_recall_bounded_by_parts(spark, sf_dir):
    """The IVF-SQ8 composition's recall floor: combining cell pruning
    with int8 codes can lose at most what the two parts lose — on the
    fixture the composed recall stays >= 0.4 per query with mean
    >= 0.75, and any query the pure-IVF search answers perfectly with
    near-dup top-1s keeps its top hit (cosine ~1 survives both the
    probe cut and 8-bit rounding)."""
    from coursera_etl_pipeline_spark.llm_ops.similarity import (
        similarity_ann_quantized,
    )

    rows = similarity_ann_quantized(spark, sf_dir).collect()
    assert len(rows) > 0
    assert all(r.recall >= 0.4 for r in rows)
    assert sum(r.recall for r in rows) / len(rows) >= 0.75


def test_quantize_recall_floor_and_mean(spark, sf_dir):
    """On the fixture corpus the quantized ranking stays close to the
    exact top-5: per-query recall never drops below 0.6 and the mean
    holds >= 0.9 (the r11 measured mean is 0.98; the floor leaves
    headroom for rank flips among near-tied tails, which 8-bit
    rounding legitimately reorders)."""
    from coursera_etl_pipeline_spark.llm_ops.similarity import (
        similarity_quantize_recall,
    )

    rows = similarity_quantize_recall(spark, sf_dir).collect()
    assert len(rows) > 0
    assert all(r.recall >= 0.6 for r in rows)
    assert sum(r.recall for r in rows) / len(rows) >= 0.9


# --- round 15: Gopher rules / vocab top-k / LM scores / novelty / splits ------


def test_gopher_rules_semantics(spark):
    """Each rule gate flips on exactly the planted violation while the
    other four rules stay green, and `keep` is the AND of all five."""
    from coursera_etl_pipeline_spark.llm_ops.text import gopher_rules

    def doc(words):
        return " ".join(words)

    rows = [
        (0, doc(["the", "a"] + ["word"] * 48)),        # passes all five
        (1, doc(["the", "a"] + ["word"] * 47)),        # 49 words: too few
        (2, doc(["the", "a"] + ["ab"] * 48)),          # mean word len 2.0
        (3, doc(["the", "a"] + ["word"] * 42 + ["$$$"] * 6)),  # symbols
        (4, doc(["the", "a"] + ["word"] * 28 + ["123"] * 20)),  # digit words
        (5, doc(["the"] + ["word"] * 49)),             # only 1 marker
        (6, None),                                     # NULL text
    ]
    out = {r.doc_id: r for r in gopher_rules(
        spark.createDataFrame(rows, "doc_id long, text string")).collect()}
    assert out[0].keep
    assert all([out[0].rule_word_count, out[0].rule_word_len,
                out[0].rule_symbol_ratio, out[0].rule_alpha_words,
                out[0].rule_stopwords])
    assert not out[1].rule_word_count and not out[1].keep
    assert out[1].rule_word_len          # only the planted rule flips
    assert not out[2].rule_word_len and not out[2].keep
    assert out[2].mean_word_len == 2.0  # (3+1+2*48)/50
    assert not out[3].rule_symbol_ratio and not out[3].keep
    assert out[3].symbol_ratio == 18 / 50 and out[3].rule_alpha_words
    assert not out[4].rule_alpha_words and not out[4].keep
    assert out[4].rule_symbol_ratio     # digits are not symbols
    assert not out[5].rule_stopwords and not out[5].keep
    assert out[5].n_stopword_markers == 1
    # NULL text = empty text: an explicit keep=False verdict, not a
    # NULL that a downstream filter(keep) would silently drop
    assert out[6].keep is False and out[6].n_words == 1
    assert out[6].rule_symbol_ratio and not out[6].rule_word_count


def test_vocab_topk_semantics_and_plan(spark):
    """Min-count floor drops singletons, the (count DESC, token ASC)
    tie-break decides the truncation boundary deterministically, and
    the physical plan is TakeOrderedAndProject — never a global Sort
    (the 100 TB point of the operator)."""
    from coursera_etl_pipeline_spark.llm_ops.text import vocab_topk

    docs = spark.createDataFrame(
        [(0, "aa aa aa bb cc"), (1, "bb cc dd")],
        "doc_id long, text string")
    # counts: aa=3 bb=2 cc=2 dd=1; min_count=2 drops dd
    top = vocab_topk(docs, k=2, min_count=2)
    assert [(r.token, r.n_occ) for r in top.collect()] == [("aa", 3), ("bb", 2)]
    top3 = vocab_topk(docs, k=3, min_count=2).collect()
    assert [(r.token, r.n_occ) for r in top3] == [
        ("aa", 3), ("bb", 2), ("cc", 2)]
    plan = top._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "Sort " not in plan


def test_perplexity_proxy_exact_micro_values(spark):
    """The certified output equals the hand-computed unigram-LM
    expectation: logp is rounded ONCE per distinct term to micro-nats
    and per-doc accumulation is exact integer arithmetic."""
    import math

    from coursera_etl_pipeline_spark.llm_ops.text import perplexity_proxy

    docs = spark.createDataFrame(
        [(0, "a a b"), (1, "b c"), (2, None)], "doc_id long, text string")
    # corpus: T=5, c(a)=2, c(b)=2, c(c)=1 (NULL text contributes nothing)
    lp = {t: math.floor(math.log(c / 5) * 1e6 + 0.5)
          for t, c in {"a": 2, "b": 2, "c": 1}.items()}
    out = {r.doc_id: r for r in perplexity_proxy(docs).collect()}
    assert len(out) == 3
    assert out[0].sum_logp_micro == 2 * lp["a"] + lp["b"]
    assert out[1].sum_logp_micro == lp["b"] + lp["c"]
    assert out[0].avg_logp == (out[0].sum_logp_micro * 1.0 / 3) / 1e6
    assert out[1].n_tokens == 2
    # the proxy orders docs by LM fit: the all-common-token doc wins
    assert out[0].avg_logp > out[1].avg_logp
    # NULL-text docs surface unscored, never silently dropped
    assert out[2].n_tokens == 0 and out[2].avg_logp is None


def test_token_entropy_semantics(spark):
    """Uniform tokens hit ln(k), constant docs hit 0, values are exact
    micro-nat arithmetic (no float-sum nondeterminism), and NULL-text
    docs surface with 0 tokens / NULL entropy, never dropped."""
    import math

    from coursera_etl_pipeline_spark.llm_ops.text import token_entropy

    docs = spark.createDataFrame(
        [(0, "a a b b"), (1, "a b c"), (2, "a a a a"), (3, None)],
        "doc_id long, text string")
    out = {r.doc_id: r for r in token_entropy(docs).collect()}
    assert len(out) == 4
    assert abs(out[0].entropy_nats - math.log(2)) < 1e-6
    assert abs(out[1].entropy_nats - math.log(3)) < 1e-6
    assert out[2].entropy_nats == 0.0
    assert out[1].n_distinct_tokens == 3
    assert out[3].n_tokens == 0 and out[3].entropy_nats is None


def test_ngram_novelty_semantics(spark):
    """First occurrence scores 1.0, an exact duplicate scores 0.0, a
    half-overlapping doc scores the overlap fraction, and a doc too
    short to shingle surfaces with zero shingles and NULL novelty
    instead of vanishing or erroring."""
    from coursera_etl_pipeline_spark.llm_ops.text import ngram_novelty

    docs = spark.createDataFrame(
        [(0, "w1 w2 w3 w4"),        # shingles: w1w2w3, w2w3w4 -> all novel
         (1, "w1 w2 w3 w4"),        # exact dup -> nothing novel
         (2, "w2 w3 w4 w5"),        # shares w2w3w4; w3w4w5 is new
         (3, "x y")],               # 2 tokens: no 3-gram shingles
        "doc_id long, text string")
    out = {r.doc_id: r for r in ngram_novelty(docs).collect()}
    assert len(out) == 4
    assert out[0].novelty == 1.0 and out[0].n_shingles == 2
    assert out[1].novelty == 0.0
    assert out[2].n_novel == 1 and out[2].novelty == 0.5
    assert out[3].n_shingles == 0 and out[3].novelty is None


def test_split_minhash_coherence_and_stability(spark):
    """Exact duplicates (identical signatures) always share a split,
    unshingleable docs fall back to per-doc keys (present, never
    lost), and the assignment is stable under repartitioning."""
    from coursera_etl_pipeline_spark.llm_ops.sampling import (
        split_assign_minhash,
    )

    body = ("the quick brown fox jumps over the lazy dog and keeps "
            "running through the wide open field")
    rows = [(i, f"unique document number {i} with its own words here")
            for i in range(20)]
    rows += [(100, body), (101, body), (102, body)]   # exact dups
    rows += [(200, "xy")]                             # too short to shingle
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r.split for r in split_assign_minhash(docs).collect()}
    assert len(out) == 24
    assert out[100] == out[101] == out[102]
    assert 200 in out
    out2 = {r.doc_id: r.split
            for r in split_assign_minhash(docs.repartition(7)).collect()}
    assert out == out2


def test_domain_reweight_semantics(spark):
    """The dominant host is downweighted toward sqrt-share (rate ~33%
    for a 90/10 corpus), the minority (binding) host keeps EXACTLY
    100% (the r15 rate spelling divides c_max by the very double
    min() returned), rates derive from exact integer weights, kept
    counts respect the rates, and NULL-url docs form their own
    unforgeable '/null-host/' group instead of being charged into
    the totals and then silently dropped by the rate join."""
    import math

    from coursera_etl_pipeline_spark.llm_ops.sampling import domain_reweight

    def words(n):
        return " ".join(["w"] * n)

    rows = [(i, f"https://big.example.org/p{i}", words(9)) for i in range(10)]
    rows += [(100 + i, f"https://small.example.org/p{i}", words(5))
             for i in range(2)]
    rows += [(200, None, words(4))]
    docs = spark.createDataFrame(rows, "doc_id long, url string, text string")
    out = {r.host: r for r in domain_reweight(docs).collect()}
    big, small = out["big.example.org"], out["small.example.org"]
    assert big.total_toks == 90 and small.total_toks == 10
    w_big = math.floor(math.sqrt(90 / 104) * 1e9 + 0.5)
    w_small = math.floor(math.sqrt(10 / 104) * 1e9 + 0.5)
    assert big.w == w_big and small.w == w_small
    c_max = min(90 * 1.0 / w_big, 10 * 1.0 / w_small,
                4 * 1.0 / math.floor(math.sqrt(4 / 104) * 1e9 + 0.5))
    assert big.rate_pct == min(
        100, math.floor(100.0 * (c_max / (90 * 1.0 / w_big))))
    assert big.rate_pct < 40            # sqrt-tempered, not proportional
    assert big.kept_docs <= 10
    # NULL-url docs: their own rated group, never silently dropped.
    # Here the 4-token null-host group is also the BINDING host
    # (smallest total/w), so its rate is exactly 100 by construction
    # and its doc is kept — under the old multiply-out spelling an
    # IEEE ulp could floor this to 99, and under the old NULL join
    # key the doc was charged into the totals yet never kept
    nh = out["/null-host/"]
    assert nh.total_toks == 4
    assert nh.rate_pct == 100 and nh.kept_docs == 1


def test_materialized_scoring_plans_cache_the_explode(spark, sf_dir):
    """Regression guard for the r15 review's multi-consumer recompute
    class: perplexity's tf matrix and novelty's shingle stream are
    _materialize'd (persist), so every consumer reads the cache via
    InMemoryTableScan and the corpus explode computes ONCE — before
    the fix it ran 3x (perplexity) / 2x (novelty) per query, which
    only showed up as a 4x growth-row anomaly at 10x data. (The
    Generate text still APPEARS inside the InMemoryRelation's cached-
    plan description; the boundary node is what proves single
    computation.)"""
    from coursera_etl_pipeline_spark.registry import QUERIES

    for name in ("text_perplexity_proxy", "text_ngram_novelty"):
        df = QUERIES[name](spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "InMemoryTableScan" in plan, (
            f"{name}: no cache boundary in the final plan — the "
            "materialize fix regressed (multi-consumer recompute class)")


# --- registered LLM-data operators: planted semantics. Fixture value
# parity against each composed DuckDB oracle is the registry sweep's
# (tests/test_plans.py::test_registry_sweep_values_types_and_plans).


def test_minhash_keep_representative_planted_dups(spark, sf_dir):
    """End-to-end near-dup verdict: exact dups share a component and
    only the min id is kept, singletons keep themselves, every doc
    surfaces."""
    from coursera_etl_pipeline_spark.llm_ops.clusters import (
        minhash_keep_representative,
    )

    body = ("the quick brown fox jumps over the lazy dog and keeps "
            "running through the wide open field all day long")
    rows = [(i, f"totally unique document number {i} speaking of "
                f"subject {i} alone") for i in range(6)]
    rows += [(100, body), (101, body), (102, body)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in minhash_keep_representative(docs).collect()}
    assert len(out) == 9
    assert out[100].component == out[101].component == out[102].component == 100
    assert out[100].is_kept and not out[101].is_kept and not out[102].is_kept
    assert all(out[i].is_kept and out[i].component == i for i in range(6))


def test_quality_mix_planted_bins(spark, sf_dir):
    """Curriculum rates attach to the right bins, kept counts respect
    the md5-bucket filter, totals cover every doc."""
    from coursera_etl_pipeline_spark.llm_ops.sampling import (
        QUALITY_MIX_RATES,
        quality_mix,
    )
    from coursera_etl_pipeline_spark.llm_ops.text import quality_bins

    scored = spark.createDataFrame(
        [(i, s / 10.0) for i, s in enumerate(range(1, 21))],
        "doc_id long, quality_score double")
    audit = {r.quality_bin: r for r in quality_mix(
        quality_bins(scored).select("doc_id", "quality_bin")).collect()}
    assert set(audit) == {0, 1, 2, 3}
    assert all(audit[b].rate_pct == r for b, r in QUALITY_MIX_RATES.items())
    assert sum(r.total_docs for r in audit.values()) == 20
    assert all(r.kept_docs <= r.total_docs for r in audit.values())
    assert audit[3].kept_docs == audit[3].total_docs  # top tier kept whole


def test_dsir_importance_planted_ratios(spark, sf_dir):
    """Target-like docs score higher than off-target docs; short/NULL
    docs surface with zero features and NULL weight (never vanish)."""
    from coursera_etl_pipeline_spark.llm_ops.sampling import (
        dsir_importance,
    )

    en = "the model trains on the clean corpus and the loss falls"
    de = "das modell lernt auf dem korpus und der verlust sinkt ab"
    rows = ([(i, en, "en") for i in range(4)]
            + [(10 + i, de, "de") for i in range(4)]
            + [(20, en, "de"),       # en-shaped text labeled de:
               (21, "solo", "de"),   # 1 token -> no bigrams
               (22, None, "de")])    # NULL text -> no bigrams
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string")
    out = {r.doc_id: r for r in dsir_importance(docs).collect()}
    assert len(out) == 11
    # bigrams drawn from the target distribution outweigh off-target
    assert out[0].avg_logratio > out[10].avg_logratio
    # the en-shaped doc scores like the en docs regardless of label
    assert abs(out[20].avg_logratio - out[0].avg_logratio) < 1e-9
    for short in (21, 22):
        assert out[short].n_feats == 0
        assert out[short].weight_micro is None
        assert out[short].avg_logratio is None


def test_epoch_plan_planted_cap(spark, sf_dir):
    """Hand-computed plan: a scarce source hits the 4-epoch cap, an
    abundant one realizes its target exactly."""
    from coursera_etl_pipeline_spark.llm_ops.sampling import (
        epoch_plan,
    )

    def words(n):
        return " ".join(f"w{i}" for i in range(n))

    docs = spark.createDataFrame(
        [(0, words(100), "scarce"), (1, words(1000), "rich")],
        "doc_id long, text string, source string")
    out = {r.source: r for r in
           epoch_plan(docs, budget=1000, cap_milli=4000).collect()}
    # target = floor(1000 / 2) = 500 tokens per source
    assert out["scarce"].target_toks == 500
    # scarce: 500/100 = 5.0 epochs -> capped at 4.0, realizes 400
    assert out["scarce"].epochs_milli == 4000
    assert out["scarce"].capped
    assert out["scarce"].realized_toks == 400
    # rich: 500/1000 = 0.5 epochs, realizes exactly the 500 target
    assert out["rich"].epochs_milli == 500
    assert not out["rich"].capped
    assert out["rich"].realized_toks == 500


def test_soft_dedup_weights_planted_copies(spark, sf_dir):
    """1/n_copies micro-weights: triplicate docs weigh 333333, unique
    docs 1000000, NULL and empty text share one fingerprint group."""
    from coursera_etl_pipeline_spark.llm_ops.dedup import (
        soft_dedup_weights,
    )

    docs = spark.createDataFrame(
        [(0, "same text"), (1, "same text"), (2, "same text"),
         (3, "unique text"), (4, None), (5, "")],
        "doc_id long, text string")
    out = {r.doc_id: r for r in soft_dedup_weights(docs).collect()}
    assert len(out) == 6
    for i in range(3):
        assert out[i].n_copies == 3 and out[i].weight_micro == 333333
    assert out[3].n_copies == 1 and out[3].weight_micro == 1_000_000
    # NULL normalizes to '' — one group of two, no silent row loss
    assert out[4].n_copies == 2 and out[5].n_copies == 2


def test_c4_rules_planted_violations(spark, sf_dir):
    """One violation per rule flips exactly that flag (the gopher-pack
    planted pattern); NULL text gets an explicit keep=False."""
    from coursera_etl_pipeline_spark.llm_ops.text import (
        c4_rules,
    )

    good = "this page has plenty of words and it ends properly."
    docs = spark.createDataFrame(
        [(0, good),
         (1, "too short."),                              # < 5 words
         (2, good[:-1] + " with lorem ipsum filler."),   # placeholder
         (3, good[:-1] + " with code { inside }."),      # brace
         (4, good[:-1] + " and our cookie policy too."),  # boilerplate
         (5, good[:-1]),                                 # no terminal punct
         (6, None)],                                     # NULL text
        "doc_id long, text string")
    out = {r.doc_id: r for r in c4_rules(docs).collect()}
    assert out[0].keep
    assert not out[1].rule_min_words and not out[1].keep
    assert not out[2].rule_no_lorem and not out[2].keep
    assert not out[3].rule_no_brace and not out[3].keep
    assert not out[4].rule_no_policy and not out[4].keep
    assert not out[5].rule_terminal_punct and not out[5].keep
    assert out[6].keep is False and not out[6].rule_min_words
    # every planted violation flips ONLY its own flag
    assert out[2].rule_min_words and out[2].rule_no_brace \
        and out[2].rule_no_policy and out[2].rule_terminal_punct


def test_c4_policy_phrase_escaping(spark, monkeypatch):
    """The c4 oracle ''-escapes policy phrases into its SQL literals
    (ADVICE r15). Two halves: every CURRENT phrase is quote-free, so
    the r16 escaping change is provably byte-neutral on the generated
    oracle; and a phrase that DOES carry a quote yields valid DuckDB
    SQL whose verdict matches the engine on a planted doc."""
    import duckdb

    from coursera_etl_pipeline_spark.llm_ops import text as textmod

    assert all("'" not in p for p in textmod.C4_POLICY_PHRASES)

    quoted = "don't sell my information"
    monkeypatch.setattr(textmod, "C4_POLICY_PHRASES",
                        textmod.C4_POLICY_PHRASES + (quoted,))
    sql = textmod.text_c4_rules_oracle()
    con = duckdb.connect()
    con.execute("CREATE VIEW documents AS SELECT * FROM (VALUES "
                "(0, 'this page has plenty of words and it ends "
                "properly.'), "
                f"(1, 'a long enough page saying {quoted.replace(chr(39), chr(39) * 2)} here.')"
                ") AS t(doc_id, text)")
    rows = {r[0]: r for r in con.sql(sql).fetchall()}
    cols = con.sql(sql).columns
    keep, no_policy = cols.index("keep"), cols.index("rule_no_policy")
    assert rows[0][keep] and rows[0][no_policy]
    assert not rows[1][no_policy] and not rows[1][keep]

    out = {r.doc_id: r for r in textmod.c4_rules(
        spark.createDataFrame(
            [(0, "this page has plenty of words and it ends properly."),
             (1, f"a long enough page saying {quoted} here.")],
            "doc_id long, text string")).collect()}
    assert out[0].keep and not out[1].rule_no_policy and not out[1].keep


def test_ccnet_buckets_planted_tertiles(spark, sf_dir):
    """Tertile membership follows the perplexity proxy (common-word
    docs are head, rare-word docs are tail), unscorable docs surface
    as 'unscored'."""
    from coursera_etl_pipeline_spark.llm_ops.text import (
        ccnet_buckets,
    )

    common = "the the the the the the"      # highest avg logp
    mid = "the the the mid mid mid"
    rare = " ".join(f"rare{i}" for i in range(6))  # lowest avg logp
    rows = ([(i, common) for i in range(3)]
            + [(10 + i, mid) for i in range(3)]
            + [(20 + i, rare + f" only{i}") for i in range(3)]
            + [(30, None)])
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in ccnet_buckets(docs).collect()}
    assert len(out) == 10
    assert all(out[i].ppl_bucket == "head" for i in range(3))
    assert all(out[10 + i].ppl_bucket == "middle" for i in range(3))
    assert all(out[20 + i].ppl_bucket == "tail" for i in range(3))
    assert out[30].ppl_bucket == "unscored" and out[30].avg_logp is None


def test_soft_dedup_weight_mass_property(spark):
    """Property: for RANDOM duplicate topologies, every copy of a
    fingerprint group carries the same weight, the group's total
    weight mass is 1.0 up to the documented floor(1e6/n + 0.5)
    rounding (|n * w - 1e6| <= n/2), and every input row surfaces.
    Deterministic, derandomized hypothesis (3 examples keeps the
    Spark round-trips bounded)."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from coursera_etl_pipeline_spark.llm_ops.dedup import soft_dedup_weights

    @settings(max_examples=3, deadline=None, derandomize=True,
              suppress_health_check=list(HealthCheck))
    @given(groups=st.lists(st.integers(0, 3), min_size=1, max_size=12))
    def check(groups):
        docs = spark.createDataFrame(
            [(i, f"group text {g}") for i, g in enumerate(groups)],
            "doc_id long, text string")
        rows = soft_dedup_weights(docs).collect()
        assert len(rows) == len(groups)
        by_doc = {r.doc_id: r for r in rows}
        from collections import Counter
        sizes = Counter(groups)
        for i, g in enumerate(groups):
            r = by_doc[i]
            n = sizes[g]
            assert r.n_copies == n
            assert abs(n * r.weight_micro - 1_000_000) <= n / 2

    check()


def test_dsir_importance_stable_under_repartitioning(spark):
    """The DSIR weights are exact BIGINT sums over per-bucket rounded
    log-ratios, so the output must be IDENTICAL (not just close)
    under any input partitioning — the determinism contract every
    sampling operator in this package carries."""
    from coursera_etl_pipeline_spark.llm_ops.sampling import dsir_importance

    rows = [(i, f"tok{i % 7} tok{(i + 1) % 5} tok{(i + 2) % 3} end{i % 2}",
             "en" if i % 3 == 0 else "de") for i in range(40)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    a = sorted(map(tuple, dsir_importance(docs.repartition(1)).collect()))
    b = sorted(map(tuple, dsir_importance(docs.repartition(8)).collect()))
    assert a == b


def test_corpus_profile_planted_sources(spark, sf_dir):
    """Hand-computed per-source profile on a planted corpus (dup
    pressure, NULL hygiene, language spread, token volume)."""
    from coursera_etl_pipeline_spark.llm_ops.text import (
        corpus_profile,
    )

    rows = [
        (0, "alpha beta gamma", "en", "web"),
        (1, "alpha beta gamma", "en", "web"),    # exact dup of 0
        (2, "delta epsilon", "de", "web"),
        (3, None, "en", "web"),                  # NULL text
        (4, "", "fr", "web"),                    # '' shares 3's fp group
        (5, "solo doc here", "en", "books"),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string")
    out = {r.source: r for r in corpus_profile(docs).collect()}
    web = out["web"]
    assert web.n_docs == 5 and web.null_docs == 1
    # tokens: 3 + 3 + 2 + 0 (NULL) + 1 ('' splits to one empty token)
    assert web.total_ws_toks == 9
    assert web.n_langs == 3
    # distinct texts: {alpha..., delta..., ''} — NULL and '' merge
    assert web.distinct_texts == 3 and web.dup_excess == 2
    assert web.dup_ratio_micro == 400_000  # floor(2e6/5 + .5)
    books = out["books"]
    assert books.n_docs == 1 and books.dup_excess == 0
    assert books.dup_ratio_micro == 0


def test_temporal_holdout_planted_timeline(spark, sf_dir):
    """A hand-built hour-spaced timeline: the last 20% of the range is
    test, the hour before it is purged to embargo, everything earlier
    trains, NULL timestamps surface as 'unsplit'."""
    import datetime as dt

    from coursera_etl_pipeline_spark.llm_ops.sampling import (
        temporal_holdout,
    )

    base = dt.datetime(2026, 1, 1, 0, 0, 0)
    # 11 events at t = 0h..10h: range = 10h, cutoff = 0h + 8h = t8;
    # embargo hour [t7, t8) -> exactly the t=7h event
    rows = [(i, base + dt.timedelta(hours=i), 100 + i) for i in range(11)]
    rows.append((99, None, 111))
    ev = spark.createDataFrame(rows, "event_id long, ts timestamp, user_id long")
    out = {r.event_id: r.split for r in temporal_holdout(ev).collect()}
    assert len(out) == 12
    for i in range(7):
        assert out[i] == "train", (i, out[i])
    assert out[7] == "embargo"
    for i in (8, 9, 10):
        assert out[i] == "test"
    assert out[99] == "unsplit"


def test_bloom_probe_planted_split(spark, sf_dir):
    """Planted corpus/batch split: a batch doc duplicating a corpus
    text MUST hit (no false negatives, the Bloom guarantee — asserted
    over every exact dup), a batch doc with novel text is exactly
    right unless a (detectable) collision fires; and over the whole
    fixture every exact dup hits."""
    from coursera_etl_pipeline_spark.llm_ops.dedup import (
        bloom_probe_audit,
    )

    rows = [(i, f"corpus text number {i}") for i in range(1, 9)]  # corpus
    rows += [(10, "corpus text number 3"),   # batch: exact dup -> must hit
             (20, "totally novel content"),  # batch: new
             (30, None)]                      # batch: NULL text (novel '')
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in bloom_probe_audit(docs).collect()}
    assert set(out) == {10, 20, 30}  # batch docs only
    assert out[10].exact_dup and out[10].bloom_hit  # no false negatives
    assert not out[10].false_positive
    for d in (20, 30):
        assert not out[d].exact_dup
        # bloom_hit may be a (legal) false positive, but then it must
        # be flagged as one
        assert out[d].false_positive == out[d].bloom_hit

    from coursera_etl_pipeline_spark.catalog import load_table
    docs = load_table(spark, sf_dir, "documents")
    audit = bloom_probe_audit(docs)
    # the structural guarantee on the whole fixture: every exact dup hits
    assert audit.filter("exact_dup AND NOT bloom_hit").count() == 0


def test_minhash_calibration_planted_pair(spark, sf_dir):
    """Identical docs estimate at exactly 1e6 micro with zero error;
    every estimate is a legal 16th in [0, 1e6]."""
    from coursera_etl_pipeline_spark.llm_ops.dedup import (
        minhash_calibration,
    )

    body = ("the quick brown fox jumps over the lazy dog and keeps "
            "running through the wide open field all day long")
    rows = [(i, f"unique filler document number {i} about topic {i}")
            for i in range(4)]
    rows += [(100, body), (101, body)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = minhash_calibration(docs).collect()
    pair = {(r.doc_a, r.doc_b): r for r in out}[(100, 101)]
    assert pair.exact_jaccard == 1.0
    assert pair.est_micro == 1_000_000 and pair.err_micro == 0
    for r in out:
        assert 0 <= r.est_micro <= 1_000_000
        # every estimate is floor(a*1e6/16 + .5) for an integer
        # agreement count a in 0..16 — a legal sixteenth, nothing else
        assert any(r.est_micro == int(a * 1_000_000.0 / 16 + 0.5)
                   for a in range(17)), r.est_micro


def test_ann_pq_planted_codes(spark, sf_dir):
    """PQ/ADC on a planted separable corpus: codes are the nearest
    codeword per subspace, an exact duplicate of a training vector
    ranks it first with ADC distance 0, rankings are complete per
    query."""
    from coursera_etl_pipeline_spark.llm_ops.similarity import (
        PQ_CODEWORDS,
        TOP_K,
        ann_topk_pq,
        pq_codebook,
        pq_codes,
    )

    # 16 training vectors: one-hot-ish blocks so assignments are
    # unambiguous; vector 20 duplicates trainer 3 exactly
    def vec(seed):
        return [float((seed * 31 + j * 7) % 13) for j in range(64)]

    rows = [(i, vec(i)) for i in range(PQ_CODEWORDS)]
    rows += [(20, vec(3)), (21, vec(5))]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cb = pq_codebook(emb)
    assert cb.count() == 4 * PQ_CODEWORDS
    codes = {(r.vec_id, r.sub): r.code for r in pq_codes(emb, cb).collect()}
    for s in range(4):
        assert codes[(20, s)] == 3   # exact dup -> trainer 3's codes
        assert codes[(21, s)] == 5
        assert codes[(3, s)] == 3    # trainers code to themselves
    topk = ann_topk_pq(emb, n_queries=4)
    got = {(r.query_id, r.rank): r for r in topk.collect()}
    # query 3's rank-1 is its exact duplicate 20 at ADC distance 0
    assert got[(3, 1)].neighbor_id == 20
    assert got[(3, 1)].adc_dist == 0.0
    for q in range(4):
        ranks = sorted(r for (qq, r) in got if qq == q)
        assert ranks == list(range(1, TOP_K + 1))


def test_ann_ivfpq_routing_prunes(spark, sf_dir):
    """IVF-PQ composition: every returned neighbor must sit in one of
    its query's probed cells (the routing actually prunes), an exact
    duplicate of a trainer ranks first at ADC 0 when it shares the
    query's cells, results are stable under repartitioning
    (frozen-parameter determinism)."""
    from coursera_etl_pipeline_spark.llm_ops.similarity import (
        N_PROBE,
        ann_topk_ivfpq,
        ivf_assign,
    )

    def vec(seed):
        return [float((seed * 31 + j * 7) % 13) for j in range(64)]

    rows = [(i, vec(i)) for i in range(16)] + [(20, vec(3)), (21, vec(5))]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    topk = ann_topk_ivfpq(emb, n_queries=4).collect()

    # routing really prunes: recompute each query's probed cells and
    # the corpus assignment, assert membership for every result row
    from pyspark.sql import functions as SF

    assigned, centroids = ivf_assign(emb)
    cell_of = {r.vec_id: r.cell_id
               for r in assigned.select("vec_id", "cell_id").collect()}
    # derive each query's probed cells from the same deterministic
    # routing expression the operator uses
    probes = {}
    from coursera_etl_pipeline_spark.llm_ops.similarity import cosine
    from pyspark.sql import Window as W

    q = (emb.filter(SF.col("vec_id") < 4)
         .select(SF.col("vec_id").alias("query_id"),
                 SF.col("embedding").alias("qv")))
    wp = W.partitionBy("query_id").orderBy(SF.desc("csim"),
                                           SF.asc("cell_id"))
    pr = (q.crossJoin(SF.broadcast(centroids))
          .withColumn("csim", cosine("qv", "cv"))
          .withColumn("rk", SF.row_number().over(wp))
          .filter(SF.col("rk") <= N_PROBE).select("query_id", "cell_id")
          .collect())
    for r in pr:
        probes.setdefault(r.query_id, set()).add(r.cell_id)
    assert topk, "composition returned no rows"
    for r in topk:
        assert cell_of[r.neighbor_id] in probes[r.query_id], (
            "neighbor outside the query's probed cells", r)
    got = {(r.query_id, r.rank): r for r in topk}
    # query 3's exact duplicate (vec 20) shares its cells by
    # construction (identical vector -> identical routing), so it must
    # lead at ADC distance 0
    assert got[(3, 1)].neighbor_id == 20 and got[(3, 1)].adc_dist == 0.0

    a = sorted(map(tuple, ann_topk_ivfpq(emb.repartition(1),
                                         n_queries=4).collect()))
    b = sorted(map(tuple, ann_topk_ivfpq(emb.repartition(8),
                                         n_queries=4).collect()))
    assert a == b


def test_embed_hash_planted_weights(spark, sf_dir):
    """Feature-hashing embedding generation: planted weights equal an
    independent hashlib recomputation (bucket = md5[0:8] % dim, sign =
    parity of the 9th hex digit), NULL-text docs surface as (doc_id,
    NULL, NULL) instead of vanishing, and the total |weight| mass is
    bounded by the token count."""
    import hashlib

    from coursera_etl_pipeline_spark.llm_ops.text import (
        EMBED_HASH_DIM,
        embed_hash,
    )

    docs = spark.createDataFrame(
        [(1, "alpha beta alpha gamma"), (2, "beta"), (3, None), (4, "")],
        "doc_id long, text string")
    rows = embed_hash(docs).collect()

    def expect(text):
        out = {}
        for t in text.split(" "):
            h = hashlib.md5(t.encode()).hexdigest()
            b = int(h[:8], 16) % EMBED_HASH_DIM
            s = 1 if int(h[8], 16) % 2 == 0 else -1
            out[b] = out.get(b, 0) + s
        return out

    got = {}
    for r in rows:
        got.setdefault(r.doc_id, {})[r.dim_id] = r.weight
    assert got[1] == expect("alpha beta alpha gamma")
    assert got[2] == expect("beta")
    assert got[3] == {None: None}          # NULL text surfaces, not lost
    assert got[4] == expect("")            # '' is one (hashable) token
    n_toks = 4
    assert sum(abs(w) for w in got[1].values()) <= n_toks


def test_audio_metadata_hand_computed_rows(spark, sf_dir):
    """Certified audio metadata over the golden mixed-codec fixture:
    the REAL WAV/FLAC/MP3 header decoders run end-to-end through
    binaryFile + mapInPandas, one row per file, and two hand-computed
    rows cross-check the arithmetic independently of both the decoders
    and the closed-form oracle."""
    from coursera_etl_pipeline_spark.llm_ops.multimodal import (
        N_FIXTURE_AUDIO,
        multimodal_audio_metadata,
    )

    got = multimodal_audio_metadata(spark, sf_dir)
    rows = {r.name: r for r in got.collect()}
    assert len(rows) == N_FIXTURE_AUDIO

    # hand-computed: file 0 is WAV (rate 8000, 1 ch, 400 frames ->
    # 50 ms), file 1 is FLAC (48000 Hz — odd index, 2 ch, 16-bit,
    # 2000 samples)
    w0 = rows["aud_00.wav"]
    assert (w0.kind, w0.channels, w0.sample_rate, w0.bits,
            w0.n_frames, w0.duration_micro, w0.n_bytes) == (
        "audio", 1, 8000, 16, 400, 50000, 44 + 400 * 2)
    f1 = rows["aud_01.flac"]
    assert (f1.kind, f1.channels, f1.sample_rate, f1.bits,
            f1.n_frames, f1.n_bytes) == ("audio", 2, 48000, 16, 2000, 42)
    assert f1.duration_micro == int(2000 / 48000 * 1_000_000 + 0.5)


def test_embed_hash_topk_planted_dup(spark, sf_dir):
    """Generation -> retrieval end to end: an exact text duplicate has
    identical generated vectors and ranks first at cosine 1.0; a
    NULL-text doc is a zero vector scoring 0.0 everywhere (never NaN);
    rankings are complete."""
    from coursera_etl_pipeline_spark.llm_ops.similarity import (
        embed_hash_topk,
    )

    docs = spark.createDataFrame(
        [(0, "alpha beta gamma delta"), (1, None),
         (2, "epsilon zeta eta theta"),
         (30, "alpha beta gamma delta"),     # exact dup of doc 0
         (31, "iota kappa lambda mu nu xi")],
        "doc_id long, text string")
    got = {(r.query_id, r.rank): r
           for r in embed_hash_topk(docs, k=4, n_queries=3).collect()}
    assert got[(0, 1)].neighbor_id == 30 and got[(0, 1)].sim == 1.0
    # NULL-text query: zero vector -> sim 0.0 against every neighbor
    assert all(got[(1, r)].sim == 0.0 for r in range(1, 5))
    for qid in (0, 1, 2):
        assert sorted(r for (q, r) in got if q == qid) == [1, 2, 3, 4]


def test_funnel_depth_planted_paths(spark, sf_dir):
    """Greedy-earliest funnel: planted users pin the strict-order
    semantics — full completion, out-of-order steps stop the walk,
    step-1-only, no-step users at depth 0, and a NULL-timestamp step
    contributing nothing."""
    import datetime as dt

    from coursera_etl_pipeline_spark.streaming.queries import (
        funnel_depth,
    )

    t0 = dt.datetime(2024, 1, 1)

    def ev(i, user, minutes, typ):
        return (i, None if minutes is None
                else t0 + dt.timedelta(minutes=minutes), user, typ)

    rows = [
        # user 1: view(0) -> click(10) -> purchase(20): depth 3
        ev(1, 1, 0, "view"), ev(2, 1, 10, "click"), ev(3, 1, 20, "purchase"),
        # user 2: view(0), purchase(5), click(10): click follows view
        # but no purchase AFTER the click -> depth 2
        ev(4, 2, 0, "view"), ev(5, 2, 5, "purchase"), ev(6, 2, 10, "click"),
        # user 3: click(0) then view(5): no click after view -> depth 1
        ev(7, 3, 0, "click"), ev(8, 3, 5, "view"),
        # user 4: only errors -> depth 0
        ev(9, 4, 0, "error"),
        # user 5: a NULL-ts view only -> depth 0 (NULL drops from MIN)
        ev(10, 5, None, "view"),
    ]
    e = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string")
    got = {r.user_id: r for r in funnel_depth(e).collect()}
    assert len(got) == 5
    assert [got[u].depth for u in (1, 2, 3, 4, 5)] == [3, 2, 1, 0, 0]
    assert got[1].t3_us is not None and got[2].t3_us is None
    # greedy-earliest: user 1's t2 is the first click after its view
    assert got[1].t2_us == int((t0 + dt.timedelta(minutes=10))
                               .replace(tzinfo=dt.timezone.utc).timestamp()
                               * 1_000_000)


def test_retention_cohorts_planted_users(spark, sf_dir):
    """Cohort retention triangle: planted users pin the first-seen
    cohort day, distinct-day counting (two events one day count once),
    and the offset arithmetic; every cohort's offset-0 row counts its
    full cohort."""
    import datetime as dt

    from coursera_etl_pipeline_spark.streaming.queries import (
        retention_cohorts,
    )

    def ev(i, user, day, hour=1):
        return (i, dt.datetime(2024, 1, day, hour), user, "view")

    rows = [
        ev(1, 1, 1), ev(2, 1, 1, 9), ev(3, 1, 2), ev(4, 1, 4),
        ev(5, 2, 1), ev(6, 2, 4),
        ev(7, 3, 2), ev(8, 3, 3),
    ]
    e = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string")
    got = {(r.cohort_date, r.day_offset): r.n_active
           for r in retention_cohorts(e).collect()}
    assert got == {
        ("2024-01-01", 0): 2,   # users 1, 2 (dup same-day event counts once)
        ("2024-01-01", 1): 1,   # user 1
        ("2024-01-01", 3): 2,   # users 1, 2
        ("2024-01-02", 0): 1,   # user 3
        ("2024-01-02", 1): 1,   # user 3
    }


def test_bloom_no_false_negatives_property(spark):
    """Property: for RANDOM corpus/batch duplicate topologies, every
    batch doc whose exact fingerprint exists in the corpus gets
    bloom_hit=True (the Bloom guarantee), every batch doc surfaces
    exactly once, and false_positive is set iff (hit AND NOT dup).
    Derandomized hypothesis, 3 examples (bounded Spark round-trips)."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from coursera_etl_pipeline_spark.llm_ops.dedup import bloom_probe_audit

    @settings(max_examples=3, deadline=None, derandomize=True,
              suppress_health_check=list(HealthCheck))
    @given(groups=st.lists(st.integers(0, 5), min_size=4, max_size=16))
    def check(groups):
        # doc_id = index; every 10th doc is batch (the 90/10 split)
        docs = spark.createDataFrame(
            [(i, f"group text {g}") for i, g in enumerate(groups)],
            "doc_id long, text string")
        out = {r.doc_id: r for r in bloom_probe_audit(docs).collect()}
        batch_ids = [i for i in range(len(groups)) if i % 10 == 0]
        assert sorted(out) == batch_ids
        corpus_groups = {g for i, g in enumerate(groups) if i % 10 != 0}
        for i in batch_ids:
            r = out[i]
            if groups[i] in corpus_groups:
                assert r.exact_dup and r.bloom_hit  # no false negatives
            else:
                assert not r.exact_dup
            assert r.false_positive == (r.bloom_hit and not r.exact_dup)

    check()


def test_temporal_holdout_embargo_property(spark):
    """Property: for RANDOM timelines, every train row predates every
    test row by AT LEAST the embargo (the purge guarantee), no row is
    lost, and only NULL timestamps land in 'unsplit'. Derandomized
    hypothesis, 3 examples."""
    import datetime as dt

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from coursera_etl_pipeline_spark.llm_ops.sampling import (
        TEMPORAL_EMBARGO_US,
        temporal_holdout,
    )

    base = dt.datetime(2026, 1, 1)

    @settings(max_examples=3, deadline=None, derandomize=True,
              suppress_health_check=list(HealthCheck))
    @given(offsets=st.lists(st.integers(0, 600), min_size=2, max_size=24))
    def check(offsets):
        rows = [(i, base + dt.timedelta(minutes=m), i)
                for i, m in enumerate(offsets)]
        ev = spark.createDataFrame(
            rows, "event_id long, ts timestamp, user_id long")
        out = temporal_holdout(ev).collect()
        assert len(out) == len(offsets)
        by_split = {}
        for r in out:
            assert r.split in ("train", "embargo", "test")
            by_split.setdefault(r.split, []).append(
                offsets[r.event_id] * 60_000_000)  # minutes -> micros
        if "train" in by_split and "test" in by_split:
            gap = min(by_split["test"]) - max(by_split["train"])
            assert gap >= TEMPORAL_EMBARGO_US, (gap, by_split)

    check()


def test_pq_codes_stable_under_repartitioning(spark):
    """PQ codes and the full ADC top-k are exact expectations of the
    frozen codebook, so output must be IDENTICAL (not just close)
    under any input partitioning — the determinism contract."""
    from coursera_etl_pipeline_spark.llm_ops.similarity import ann_topk_pq

    def vec(seed):
        return [float((seed * 37 + j * 11) % 17) for j in range(64)]

    emb = spark.createDataFrame(
        [(i, vec(i)) for i in range(40)],
        "vec_id long, embedding array<float>")
    a = sorted(map(tuple, ann_topk_pq(emb.repartition(1)).collect()))
    b = sorted(map(tuple, ann_topk_pq(emb.repartition(8)).collect()))
    assert a == b


def test_bloom_increment_accepts_unseeded_store(spark, sf_dir):
    """ADVICE r17: the cross-micro-batch anti-join made the write path
    read bits_dir unconditionally, so the FIRST increment against a
    never-seeded store threw on the missing parquet dir. An unseeded
    store must accept its first increment (and the second must still
    anti-join the first's rows)."""
    from coursera_etl_pipeline_spark.catalog import load_table, scratch_dir
    from coursera_etl_pipeline_spark.streaming.parity import (
        apply_bloom_increment,
    )

    bits_dir = f"{scratch_dir('bloom_unseeded_')}/bits"
    docs = load_table(spark, sf_dir, "documents").limit(50)
    apply_bloom_increment(docs, bits_dir, epoch_id=0, run_token="t0")
    first = spark.read.parquet(bits_dir)
    n1 = first.count()
    assert n1 > 0 and first.filter("src != 'batch'").count() == 0
    # second increment with overlapping docs: the anti-join drops the
    # already-stored positions, so the stored table stays DISTINCT
    apply_bloom_increment(docs, bits_dir, epoch_id=1, run_token="t0")
    stored = spark.read.parquet(bits_dir)
    assert stored.count() == stored.select("pos").distinct().count() == n1


def test_stream_embed_hash_store_equals_batch_rows(spark, sf_dir):
    """The streamed embed-hash store (real micro-batch engine +
    replay-idempotent commit + deliberate epoch-0 replay inside the
    runner) is consistent with the batch query: the store's rows are
    exactly the batch operator's non-NULL feature rows."""
    from coursera_etl_pipeline_spark.catalog import load_table
    from coursera_etl_pipeline_spark.llm_ops.text import embed_hash
    from coursera_etl_pipeline_spark.streaming.parity import (
        stream_embed_hash_parity,
    )

    stored = stream_embed_hash_parity(spark, sf_dir, force=True)

    batch = (embed_hash(load_table(spark, sf_dir, "documents"))
             .filter("dim_id IS NOT NULL"))
    assert (sorted(map(tuple, stored.collect()))
            == sorted(map(tuple, batch.collect())))


def test_bloom_increment_dedups_across_micro_batches(spark, tmp_path):
    """A bit position delivered by TWO different micro-batches must be
    stored once: the rebuild oracle computes DISTINCT positions over
    the WHOLE batch slice, so a cross-epoch double-append would fail
    parity spuriously whenever availableNow splits the slice into
    several micro-batches — multi-part source files or a
    maxFilesPerTrigger setting (ADVICE r16; the fixture happens to
    deliver one micro-batch, which is why the runner never tripped).
    Planted: two epochs share a document text (same fingerprint ->
    identical bit positions); the second epoch's shared positions must
    anti-join away, a replay of epoch 0 must still no-op via the
    marker, and the stored batch rows must equal the from-scratch
    distinct over BOTH slices."""
    from coursera_etl_pipeline_spark.streaming.parity import (
        _bloom_bits_slice,
        apply_bloom_increment,
    )

    bits_dir = str(tmp_path / "bits")
    corpus = spark.createDataFrame(
        [(1, "corpus only text")], "doc_id long, text string")
    _bloom_bits_slice(corpus, "corpus").write.parquet(bits_dir)

    b0 = spark.createDataFrame(
        [(10, "shared text"), (20, "epoch zero text")],
        "doc_id long, text string")
    b1 = spark.createDataFrame(
        [(30, "shared text"), (40, "epoch one text")],
        "doc_id long, text string")
    apply_bloom_increment(b0, bits_dir, epoch_id=0, run_token="t")
    apply_bloom_increment(b1, bits_dir, epoch_id=1, run_token="t")
    apply_bloom_increment(b0, bits_dir, epoch_id=0, run_token="t")  # replay

    stored = spark.read.parquet(bits_dir).filter("src = 'batch'")
    got = sorted(r.pos for r in stored.collect())
    assert len(got) == len(set(got)), "cross-epoch double-append"
    expect = sorted(
        r.pos for r in _bloom_bits_slice(b0.union(b1), "batch").collect())
    assert got == expect


def test_container_decode_malformed():
    """AVI/MKV container decoders: well-formed headers decode to exact
    duration, stream count and dims (an odd-length JUNK chunk is
    skipped by its padded size; MKV audio TrackEntries count as
    tracks under every TimecodeScale); payloads that MATCH the AVI/MKV
    magics but carry truncated or malformed headers raise contextual
    ValueError, and unknown magics keep raising NotImplementedError."""
    import struct

    import pytest as pt

    from coursera_etl_pipeline_spark.llm_ops.multimodal import decode_media

    def chunk(fourcc, body):
        pad = b"\x00" if len(body) & 1 else b""
        return fourcc + len(body).to_bytes(4, "little") + body + pad

    def riff(body):
        return b"RIFF" + len(body).to_bytes(4, "little") + body

    # well-formed AVI: 33100 usec/frame x 55 frames is exactly
    # 1820500 micros, dwStreams 2, 656x376; the 1-byte JUNK chunk
    # (padded to 2) is skipped whether it trails or leads the header
    avih = ((33100).to_bytes(4, "little") + bytes(12)
            + (55).to_bytes(4, "little") + bytes(4)
            + (2).to_bytes(4, "little") + bytes(4)
            + (656).to_bytes(4, "little") + (376).to_bytes(4, "little")
            + bytes(16))
    hdrl = chunk(b"LIST", b"hdrl" + chunk(b"avih", avih))
    junk = chunk(b"JUNK", bytes(1))
    for body in (hdrl + junk, junk + hdrl):
        meta = decode_media(riff(b"AVI " + body), "video/avi")
        assert (meta["kind"], meta["n_tracks"], meta["width"],
                meta["height"]) == ("video", 2.0, 656.0, 376.0)
        assert int(meta["duration_sec"] * 1_000_000 + 0.5) == 33100 * 55

    # AVI magic but no hdrl/avih anywhere
    with pt.raises(ValueError, match="no LIST/hdrl"):
        decode_media(riff(b"AVI " + chunk(b"JUNK", b"xx")), "video/avi")
    # avih main header shorter than the 40 bytes the fields need
    short = riff(b"AVI " + chunk(b"LIST", b"hdrl" + chunk(b"avih", bytes(16))))
    with pt.raises(ValueError, match="avih main header"):
        decode_media(short, "video/avi")
    # chunk declaring more bytes than the payload holds
    bad = b"RIFF" + (100).to_bytes(4, "little") + b"AVI " \
        + b"LIST" + (90).to_bytes(4, "little") + b"hdrl"
    with pt.raises(ValueError, match="malformed RIFF"):
        decode_media(bad, "video/avi")

    def el(eid, body):
        return eid + bytes([0x40 | (len(body) >> 8), len(body) & 0xFF]) + body

    seg = b"\x18\x53\x80\x67"
    info = b"\x15\x49\xa9\x66"
    ebml = el(b"\x1a\x45\xdf\xa3", b"")

    def mkv(scale_ns, units, w, h, audio):
        video = el(b"\xae", el(b"\xe0", el(b"\xb0", w.to_bytes(2, "big"))
                                + el(b"\xba", h.to_bytes(2, "big"))))
        tracks = video + (el(b"\xae", el(b"\xe1", b"")) if audio else b"")
        return ebml + el(seg, el(info, el(b"\x2a\xd7\xb1",
                                          scale_ns.to_bytes(3, "big"))
                                 + el(b"\x44\x89", struct.pack(">d", units)))
                         + el(b"\x16\x54\xae\x6b", tracks))

    # well-formed MKV (float64 Duration x TimecodeScale ns): an audio
    # TrackEntry (no Video element) counts as a track without touching
    # the dims, at the default and at non-default scales
    for scale_ns, units, audio, micros in (
            (1_000_000, 1000.0, True, 1_000_000),
            (500_000, 2017.0, False, 1_008_500),
            (500_000, 2017.0, True, 1_008_500),
            (2_000_000, 3034.0, True, 6_068_000)):
        meta = decode_media(mkv(scale_ns, units, 1296, 724, audio),
                            "video/mkv")
        assert (meta["n_tracks"], meta["width"], meta["height"]) == (
            2.0 if audio else 1.0, 1296.0, 724.0)
        assert int(meta["duration_sec"] * 1_000_000 + 0.5) == micros
    # element declares a body running past the payload end
    with pt.raises(ValueError, match="declares"):
        decode_media(ebml + seg + bytes([0x40, 0x50]), "video/mkv")
    # Duration must be an EBML float (4 or 8 bytes), not 2
    bad_dur = ebml + el(seg, el(info, el(b"\x44\x89", b"\x3f\x80")))
    with pt.raises(ValueError, match="4 or 8"):
        decode_media(bad_dur, "video/mkv")
    # a Segment with Info but no Duration element at all
    no_dur = ebml + el(seg, el(info, el(b"\x2a\xd7\xb1", b"\x0f\x42\x40")))
    with pt.raises(ValueError, match="no Segment/Info/Duration"):
        decode_media(no_dur, "video/mkv")
    # well-formed MKV with a float32 Duration decodes (the narrow path)
    ok = ebml + el(seg, el(info, el(b"\x44\x89", struct.pack(">f", 500.0))))
    meta = decode_media(ok, "video/mkv")
    assert meta["duration_sec"] == 0.5 and meta["n_tracks"] == 0.0
    # unknown magic still raises the documented NotImplementedError
    with pt.raises(NotImplementedError):
        decode_media(b"\x00\x01\x02\x03" * 8, "application/octet-stream")


def test_tfidf_equal_scores_rank_by_term(spark, tmp_path):
    """text_tfidf_top_terms: two terms whose scores are mathematically
    equal (11 * ln(5/3)) but built from different per-document counts
    (a: 1+5+5, b: 3+4+4) must tie bit-for-bit and rank by term on both
    engines. Summing f * idf per document gives a 5.619081861425897
    and b 5.619081861425898 in every summation order, which ranked b
    first; the score is SUM(f) * idf, so the tie is exact."""
    import pandas as pd

    import duckdb

    from coursera_etl_pipeline_spark.llm_ops.text import text_tfidf_top_terms
    from coursera_etl_pipeline_spark.registry import ORACLE
    from tools.oracle_check import compare, duck_views

    texts = ["a b b b z", "a a a a a b b b b z", "a a a a a b b b b z",
             "z", "z"]
    pd.DataFrame({
        "doc_id": range(1, 6), "text": texts, "lang": ["en"] * 5,
        "source": ["s"] * 5, "n_chars": [len(t) for t in texts],
    }).to_parquet(tmp_path / "documents.parquet", index=False)

    got = text_tfidf_top_terms(spark, str(tmp_path))
    rows = {r.term: r for r in got.collect()}
    assert {t: r.rank for t, r in rows.items()} == {"a": 1, "b": 2, "z": 3}
    assert rows["a"].tfidf == rows["b"].tfidf
    con = duckdb.connect()
    duck_views(con, str(tmp_path))
    res = compare(got, con.sql(ORACLE["text_tfidf_top_terms"]))
    assert res["flags"] == [] and res["diff"] is None, res
