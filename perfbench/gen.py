"""Seeded input generator for the benchmark workloads.

Runs before the engine starts and outside every timed metric, with only
numpy and pyarrow. The same seed gives byte-identical files; another
seed gives files of the same shape (row counts, schemas, duplicate
structure, length distributions) with different contents.

Layouts follow the engine's fixture tables (FIXTURES.md): one
``<table>.parquet`` directory per table, holding one part file.
"""

from __future__ import annotations

import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark line sort window order data column join small customer query "
    "filter big group stream vector index shard token corpus crawl page "
    "link text word model train eval score dedup near copy"
).split()
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
DAY_US = 86_400_000_000
EPOCH_1995_US = 788_918_400_000_000  # 1995-01-01T00:00:00Z
EPOCH_2024_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z


def _write(table: pa.Table, root: str, name: str) -> str:
    d = os.path.join(root, f"{name}.parquet")
    os.makedirs(d, exist_ok=True)
    pq.write_table(table, os.path.join(d, "part-00000.parquet"))
    return d


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(values_us) -> pa.Array:
    return pa.array(np.asarray(values_us, dtype="int64"), pa.timestamp("us"))


# --- relational tables + events (sql_repeat) -------------------------------

def relational_tables(rng: np.random.Generator, sf: float, root: str) -> None:
    """TPC-H-shaped star schema plus the `events` stream table, with the
    value domains the fixture tables use (FIXTURES.md section 1)."""
    n_cust = max(int(150_000 * sf), 50)
    n_part = max(int(200_000 * sf), 50)
    n_supp = max(int(10_000 * sf), 10)
    n_ord = max(int(1_500_000 * sf), 100)
    n_ev = max(int(1_000_000 * sf), 200)
    n_users = max(int(15_000 * sf), 20)

    _write(pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    }), root, "region")
    _write(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }), root, "nation")
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    _write(pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)],
    }), root, "customer")
    _write(pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    }), root, "supplier")
    adj = np.array(["blue", "hot", "large", "small", "red", "green"])
    noun = np.array(["anvil", "bolt", "ring", "widget", "gear", "valve"])
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    _write(pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 6, n_part)], " "),
                              noun[rng.integers(0, 6, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": types[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": _money(rng, 900.0, 999.9, n_part),
    }), root, "part")

    odate = EPOCH_1995_US + rng.integers(0, 2404, n_ord) * DAY_US
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _ts(odate),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                     "4-NOT SPECIFIED", "5-LOW"])[rng.integers(0, 5, n_ord)],
    }), root, "orders")

    lines = rng.permutation(np.resize(np.arange(1, 8), n_ord))  # fixed total
    okey = np.repeat(np.arange(n_ord), lines)
    lnum = np.concatenate([np.arange(1, k + 1) for k in lines])
    n_li = len(okey)
    qty = rng.integers(1, 51, n_li).astype("float64")
    _write(pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * _money(rng, 900.0, 2100.0, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(np.repeat(odate, lines)
                          + rng.integers(1, 96, n_li) * DAY_US),
    }), root, "lineitem")

    ts = np.sort(EPOCH_2024_US + rng.integers(0, 30 * DAY_US, n_ev))
    _write(pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": _ts(ts),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": np.array(["click", "error", "purchase", "signup",
                                "view"])[rng.integers(0, 5, n_ev)],
        "value": np.round(np.minimum(rng.exponential(40.0, n_ev), 560.0), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    }), root, "events")


# --- documents, embeddings, images (corpus_fresh, etl_ingest) --------------

def doc_texts(rng: np.random.Generator, n: int, dup_share: float = 0.3,
              base: list[str] | None = None) -> list[str]:
    """`n` space-joined texts of 20-90 vocabulary words. A `dup_share`
    of them copy an earlier text (of this list, or of `base` when
    given) with zero or one word replaced: exact and near duplicates in
    a fixed proportion."""
    out: list[str] = []
    for i in range(n):
        pool = base if base else out
        if pool and rng.random() < dup_share:
            words = pool[int(rng.integers(0, len(pool)))].split()
            if rng.random() < 0.5:
                words[int(rng.integers(0, len(words)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            out.append(" ".join(words))
        else:
            k = int(rng.integers(20, 91))
            out.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), k)))
    return out


def documents_table(rng: np.random.Generator, ids, texts) -> pa.Table:
    n = len(texts)
    return pa.table({
        "doc_id": pa.array(np.asarray(ids), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(len(LANGS), n, p=LANG_P)],
        "source": np.char.add("src", rng.integers(0, 20, n).astype(str)),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def embeddings_table(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    """Unit vectors scattered around 10 labelled centres."""
    centres = rng.normal(size=(10, dim))
    label = rng.integers(0, 10, n)
    v = centres[label] + 0.6 * rng.normal(size=(n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype("float32")
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    })


def netpbm_images(rng: np.random.Generator, n: int, out_dir: str,
                  shifted: int) -> list[tuple[str, str]]:
    """`n` raw netpbm images (P5 or P6) with random gradient textures;
    the last `shifted` are uniform brightness shifts of earlier ones,
    which leave a dHash unchanged (pixels stay below 256). Returns the
    (original, shifted) file-name pairs."""
    os.makedirs(out_dir, exist_ok=True)
    pairs, arrays = [], []
    for i in range(n):
        if i >= n - shifted:
            j = int(rng.integers(0, n - shifted))
            arr = arrays[j] + np.uint8(rng.integers(1, 30))
            pairs.append((f"img_{j:03d}", f"img_{i:03d}"))
        else:
            h, w = (int(x) for x in rng.integers(12, 40, 2))
            ch = 1 if rng.random() < 0.3 else 3
            gy, gx = rng.integers(1, 9, 2)
            base = (np.arange(h)[:, None] * gy + np.arange(w)[None, :] * gx) % 200
            arr = (base[:, :, None] + rng.integers(0, 25, (h, w, ch))).astype(np.uint8)
        arrays.append(arr)
        h, w, ch = arr.shape
        magic, ext = (b"P5", "pgm") if ch == 1 else (b"P6", "ppm")
        with open(os.path.join(out_dir, f"img_{i:03d}.{ext}"), "wb") as fh:
            fh.write(magic + b"\n" + f"{w} {h}\n255\n".encode() + arr.tobytes())
    return pairs


def corpus_shard(rng: np.random.Generator, root: str, n_docs: int,
                 n_vecs: int, n_images: int) -> dict:
    """One crawl shard: documents, embeddings and images. Shards of one
    size share row counts, duplicate share and length distribution."""
    texts = doc_texts(rng, n_docs)
    _write(documents_table(rng, np.arange(n_docs), texts), root, "documents")
    _write(embeddings_table(rng, n_vecs), root, "embeddings")
    pairs = netpbm_images(rng, n_images, os.path.join(root, "images"),
                          shifted=n_images // 4)
    return {"image_pairs": pairs}


# --- landing payloads and index batches (etl_ingest) -----------------------

def landing_payload(entity_ids: list[int]) -> list[dict]:
    """A GraphQL response in the reference's shape, entities split over
    two collections by id parity (a re-sent entity lands in the same
    collection as the first time)."""
    from coursera_etl_pipeline_spark.plans.fixtures import make_entity

    colls = []
    for c in range(2):
        colls.append({
            "__typename": "DiscoveryCollection",
            "id": f"coll-{c}",
            "label": f"Collection {c}",
            "linkedCollectionPageMetadata": {"url": f"/collections/coll-{c}"},
            "entities": [make_entity(i) for i in entity_ids if i % 2 == c],
        })
    return [{"data": {"DiscoveryCollections": {"queryCollections": colls}}}]


def ingest_plan(rng: np.random.Generator, root: str, *, cycles: int,
                epochs: int, entities: int, resent: float, corpus_docs: int,
                batch_docs: int) -> dict:
    """Everything the ingest workload lands, in order. Entity ids start
    at a seed-chosen offset; each epoch re-sends a fixed share of
    earlier entities, as a rerun of the extract would. Document batches
    near-duplicate the corpus in a fixed share; each comes with a probe
    batch that near-duplicates it."""
    offset = int(rng.integers(0, 1_000_000)) * 10
    corpus_texts = doc_texts(rng, corpus_docs, dup_share=0.1)
    _write(documents_table(rng, np.arange(corpus_docs), corpus_texts), root, "corpus")
    n_resent = int(round(entities * resent))
    landed: list[int] = []
    next_doc = corpus_docs
    plan = {"epochs": [], "offset": offset}
    all_docs = {i: t for i, t in enumerate(corpus_texts)}
    for c in range(cycles):
        for e in range(epochs):
            new = [offset + len(landed) + k for k in range(entities - n_resent)]
            again = ([int(x) for x in rng.choice(landed, n_resent, replace=False)]
                     if landed else [])
            ids = sorted(new + again)
            landed.extend(new)
            name = f"coursera_response_2024{c + 1:02d}{e + 1:02d}T000000.json"
            path = os.path.join(root, "landing_src", name)
            os.makedirs(os.path.dirname(path), exist_ok=True)
            with open(path, "w", encoding="utf-8") as fh:
                json.dump(landing_payload(ids), fh, indent=2)
            texts = doc_texts(rng, batch_docs, dup_share=0.3, base=corpus_texts)
            ids_d = np.arange(next_doc, next_doc + batch_docs)
            all_docs.update(zip(ids_d.tolist(), texts))
            next_doc += batch_docs
            bname = f"batch_c{c}_e{e}"
            _write(documents_table(rng, ids_d, texts), root, bname)
            probe = doc_texts(rng, batch_docs // 2, dup_share=0.5, base=texts)
            pname = f"probe_c{c}_e{e}"
            _write(documents_table(rng, np.arange(10**9, 10**9 + len(probe)), probe),
                   root, pname)
            plan["epochs"].append({"landing": name, "entities": ids,
                                   "batch": bname, "probe": pname})
    plan["all_docs"] = all_docs
    return plan


def tree_hash(root: str) -> str:
    """sha256 over every file under `root` (relative path and bytes),
    in sorted order: both sides of a comparison ran on these bytes."""
    h = hashlib.sha256()
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames.sort()
        for f in sorted(filenames):
            p = os.path.join(dirpath, f)
            h.update(os.path.relpath(p, root).encode() + b"\0")
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def tree_bytes(root: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(root) for f in fs)
