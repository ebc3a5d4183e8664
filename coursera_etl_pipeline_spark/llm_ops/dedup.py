"""Deduplication operators: exact, n-gram Jaccard, SimHash, MinHash LSH.

North-star extension (SURVEY §2.2) — no reference counterpart. All
deterministic: token hashes derive from md5 (identical hex in Spark
and DuckDB) and the minhash coefficients are fixed at import, so every
operator here — including MinHash-LSH — runs under the value-hash
oracle ("probabilistic" describes LSH's recall guarantee, not its
output); candidate verification is exact Jaccard, so precision is 1.0
by construction, and property tests additionally pin recall on planted
duplicates.

Scale design:
  - exact dedup: one hash-aggregate on the fingerprint — the only
    correct O(n) approach at 100 TB (never sort, never window-over-all);
  - Jaccard pairs: shingle-inverted-index self-join — the quadratic
    blowup is bounded per shingle bucket, and hot shingles (stopword
    runs) are the skew case AQE's skew-join splitting handles;
  - SimHash: banded join on fingerprint chunks. hamming <= 3 with 4
    chunks is pigeonhole-COMPLETE (3 differing bits can touch at most
    3 of 4 chunks), so the banded plan returns exactly the brute-force
    answer while joining on equality — shuffle on chunk value instead
    of an O(n^2) cross join;
  - MinHash LSH: the sub-quadratic path for when even one shared
    shingle is too many candidates — band-bucket join, then exact
    verification of the candidate set only.
"""

from __future__ import annotations

import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from coursera_etl_pipeline_spark.catalog import load_table
from coursera_etl_pipeline_spark.registry import query

M31 = 2_147_483_647  # 2^31 - 1, Mersenne prime for minhash arithmetic


# --- shared building blocks -------------------------------------------------

def shingles(df: DataFrame, n: int = 3, text_col: str = "text") -> DataFrame:
    """Distinct word n-gram shingles per document, built JVM-side:
    transform over an index sequence + slice + array_join.

    The token array is materialized as its own column first: inlining
    `split()` in the lambda re-evaluates it per element (interpreted
    higher-order eval has no common-subexpression elimination), turning
    shingling O(tokens^2) per document."""
    toks = F.col("_toks")
    sh = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(toks) - (n - 1), F.lit(0))),
        lambda i: F.array_join(F.slice(toks, i, n), " "))
    return (df.withColumn("_toks", F.split(text_col, " "))
            .withColumn("_shingles", F.array_distinct(sh))
            .drop("_toks"))


def _hash32(col):
    """Deterministic 32-bit token hash both engines can reproduce:
    first 8 hex chars of md5, as int."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("bigint")


# Persisted intermediates, memoized per (session, logical plan, input
# files): WeakKeyDictionary[SparkSession,
# dict[semanticHash, list[(fingerprint, DataFrame)]]].
# Weak-keyed on the session object itself — not id(spark), which CPython
# can recycle after GC — so a dropped session releases its entries.
_MATERIALIZED: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()


def _input_fingerprint(df: DataFrame) -> tuple:
    """(path, mtime_ns, size) per input file of the plan.  An identical
    logical plan over a REWRITTEN file (the driver regenerates fixture
    parquet between rounds, same path, new bytes) must not hit the
    memo — the persisted blocks hold the old file's rows.  stat() of
    the plan's input files catches that: any rewrite bumps mtime/size."""
    import os

    from urllib.parse import unquote, urlparse

    fp = []
    for path in sorted(df.inputFiles()):
        # inputFiles() yields URIs ('file:/x/y%20z.parquet'): strip the
        # scheme AND percent-decode, else any space/non-ASCII path makes
        # stat() fail and the fingerprint degrades to a constant — which
        # would silently disable exactly this invalidation.
        local = unquote(urlparse(path).path) if "://" in path or \
            path.startswith("file:") else path
        try:
            st = os.stat(local)
            fp.append((path, st.st_mtime_ns, st.st_size))
        except OSError:
            fp.append((path, None, None))
    return tuple(fp)


def _materialize(df: DataFrame) -> DataFrame:
    """Materialize an intermediate used on both sides of a self-join
    (or across stages), so it computes once instead of per-consumer.

    persist(), NOT localCheckpoint(): checkpoint blocks truncate
    lineage, so they are pinned unevictable until RDD GC — across
    repeated invocations (bench loops, interactive reuse) they pile up
    and thrash the block manager, and their recompute-impossible stages
    spam 'non-existent accumulator' errors on late task completions.
    Cached blocks are LRU-evictable and rebuild from lineage on loss.

    Memoized on the plan's semantics (semanticHash bucket, confirmed by
    sameSemantics): a bench loop or interactive session re-running the
    same query gets the SAME persisted DataFrame back instead of
    pinning a fresh copy per invocation — round 5's monotonic bench
    creep (sort_multi_key 0.15s -> 2.05s across rounds) was exactly
    this accumulation taxing later queries with memory pressure. The
    cache is bounded by the number of DISTINCT (session, plan) pairs,
    i.e. queries x sf_dirs, not invocations. On a production cluster
    the same role is played by persisting the shingle/signature index
    to storage (it IS the inverted index you'd keep between runs)."""
    per_session = _MATERIALIZED.setdefault(df.sparkSession, {})
    bucket = per_session.setdefault(df.semanticHash(), [])
    fp = _input_fingerprint(df)
    for i, (cached_fp, cached) in enumerate(bucket):
        if cached.sameSemantics(df):
            if cached_fp == fp:
                return cached
            # Same plan, but an input file was rewritten underneath it
            # (fixture regeneration): the persisted blocks are stale.
            cached.unpersist()
            del bucket[i]
            break
    df = df.persist()
    bucket.append((fp, df))
    return df


def clear_materialized(spark: SparkSession) -> None:
    """Unpersist and forget every memoized intermediate of a session
    (test/bench hygiene between unrelated phases)."""
    for bucket in _MATERIALIZED.pop(spark, {}).values():
        for _fp, df in bucket:
            df.unpersist()


# --- exact dedup ------------------------------------------------------------

@query(
    "dedup_exact",
    oracle="""
    SELECT md5(lower(trim(text))) AS content_fp,
           MIN(doc_id) AS keep_doc_id,
           COUNT(*)    AS n_copies
    FROM documents
    GROUP BY md5(lower(trim(text)))
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup as hash-groupBy on a normalized content fingerprint:
    keep the lowest doc_id per group. One partial-aggregated shuffle on
    a 128-bit key — the plan that survives 100 TB."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.withColumn("content_fp", F.md5(F.lower(F.trim(F.col("text")))))
        .groupBy("content_fp")
        .agg(F.min("doc_id").alias("keep_doc_id"),
             F.count(F.lit(1)).alias("n_copies"))
    )


def drop_exact_duplicates(df: DataFrame, text_col: str = "text",
                          id_col: str = "doc_id") -> DataFrame:
    """Survivor-set form: the full rows of each group's min-id doc."""
    fp = F.md5(F.lower(F.trim(F.col(text_col))))
    w_min = (df.withColumn("_fp", fp)
             .groupBy("_fp").agg(F.min(id_col).alias(id_col)))
    return df.join(w_min, id_col, "left_semi")


# --- n-gram Jaccard (exact near-dup) ----------------------------------------

JACCARD_THRESHOLD = 0.8


def _shingle_index(df: DataFrame, n: int = 3,
                   text_col: str = "text") -> DataFrame:
    """Materialized inverted-index postings (doc_id, nsh, shingle):
    one row per distinct shingle per doc, with the doc's shingle-set
    size carried on every row (computed pre-explode — no extra join).
    Postings key on a 64-bit shingle hash, not the string: the shuffle
    moves 8-byte keys and joins compare longs (collision odds across
    ~|corpus| distinct shingles are ~n^2/2^64 — immaterial)."""
    d = shingles(df, n=n, text_col=text_col)
    sh = d.select("doc_id", F.size("_shingles").alias("nsh"),
                  F.explode("_shingles").alias("shingle_str"))
    return _materialize(
        sh.select("doc_id", "nsh", F.xxhash64("shingle_str").alias("shingle")))


def _verify_exact_jaccard(cand: DataFrame, sh_idx: DataFrame,
                          threshold: float,
                          carry: tuple[str, ...] = ()) -> DataFrame:
    """Exact Jaccard over a candidate-pair set: join each (doc_a,
    doc_b) to both docs' postings, count common shingles,
    |A∪B| = |A|+|B|-common. Work is bounded by |candidates| x
    shingles-per-doc — never all-pairs.

    ``carry`` names extra candidate columns to keep through the
    verification (added to the pair groupBy and the output) — lets a
    caller tag heterogeneous candidate sets and verify them in ONE
    postings pass instead of one pass per set."""
    sa = sh_idx.select(F.col("doc_id").alias("doc_a"),
                       F.col("nsh").alias("na"), F.col("shingle").alias("sh_a"))
    sb = sh_idx.select(F.col("doc_id").alias("doc_b2"),
                       F.col("nsh").alias("nb"), F.col("shingle").alias("sh_b"))
    common = (
        cand.join(sa, "doc_a")
        .join(sb, (F.col("doc_b") == F.col("doc_b2"))
              & (F.col("sh_a") == F.col("sh_b")))
        .groupBy("doc_a", "doc_b", "na", "nb", *carry)
        .agg(F.count(F.lit(1)).alias("c"))
    )
    jac = F.col("c") * 1.0 / (F.col("na") + F.col("nb") - F.col("c"))
    return (
        common.filter(jac >= threshold)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"), *carry)
    )


def jaccard_pairs_prefix(sh_idx: DataFrame,
                         threshold: float = JACCARD_THRESHOLD) -> DataFrame:
    """EXACT Jaccard >= t pairs via prefix filtering (AllPairs/PPJoin,
    Bayardo et al. WWW'07) — the 100 TB shape for exact set-similarity.

    Order every doc's shingles by global document frequency ascending
    (rarest first). If J(A,B) >= t, the two docs MUST share a shingle
    inside their (n - ceil(t*n) + 1)-length prefixes under any common
    total order — so joining PREFIX postings only finds every
    qualifying pair (recall 1.0 by theorem, no sampling caveat).

    This also solves hot-shingle skew structurally: a stopword-run
    shingle with huge df sorts LAST, so it enters a prefix only for
    docs made almost entirely of hot shingles — candidate buckets stay
    near-uniform without AQE rescue. df=1 shingles are dropped before
    ranking (they cannot create a pair; removing unique elements only
    raises J, so the prefix guarantee still holds for the true sets).
    Candidates then get exact verification against the FULL index."""
    from pyspark.sql import Window as W

    # df via count() OVER (PARTITION BY shingle), not groupBy +
    # join-back: the window computes document frequency in the same
    # exchange that carries the posting rows, where the join-back form
    # either re-shuffles the postings a second time (sort-merge at
    # corpus scale) or builds a distinct-shingle broadcast (local AQE).
    # Interleaved A/B (tools/ab_lsh_band_r18.py @ 3f77309, r18 optimization,
    # guide §2.3/§2.4): 5.479 s / 10 jobs -> 2.393 s / 8 jobs.
    # Skew trade, stated honestly: a hot shingle's whole posting list
    # lands in ONE window task (a streaming count — no per-row state),
    # and AQE's skew splitting applies to joins only, so the window
    # arm cannot be runtime-split; but the sort-merge join-back it
    # replaces keys the postings by the SAME shingle, so per-key
    # locality is identical — the window only gives up the
    # broadcast-hash escape, which stops existing at corpus scale
    # anyway. Contrast dedup_paragraphs_keep_first / _dup_fingerprints
    # consumers, which KEEP groupBy+join-back: their aggregate output
    # (the dup/argmin fingerprint SET) stays broadcast-size at any
    # corpus scale (true boilerplate is a small distinct set), so
    # their join-back never re-shuffles the big side — this df table
    # is |distinct shingles|, corpus-sized, never broadcastable.
    wsh = W.partitionBy("shingle")
    w = W.partitionBy("doc_id")
    ranked = (
        sh_idx.withColumn("df", F.count(F.lit(1)).over(wsh))
        .filter(F.col("df") >= 2)
        .select("doc_id", "nsh", "shingle",
                F.row_number().over(w.orderBy("df", "shingle")).alias("rk"),
                F.count(F.lit(1)).over(w).alias("n2"))
    )
    # ceil with epsilon: t*n2 computed in floating point can land a hair
    # ABOVE an exact integer (0.8*10 -> 8.000000000000002), which would
    # shrink the prefix below the theorem's bound and lose pairs.
    # _materialize'd (r19, guide §2.4): the candidate self-join consumes
    # the prefix frame on BOTH sides, and without the cache each side
    # recomputes the df-window + rank-window chain over the postings
    # (the before-plan shows the 2-Exchange/3-Window subtree twice) —
    # the same both-sides-of-a-self-join treatment the shingle index
    # itself already gets. Interleaved A/B (tools/ab_ngram_r19.py @ 3f77309):
    # 1.133 s -> 1.021 s median with visibly tighter variance; at
    # corpus scale this is one window pass over the postings instead
    # of two per query.
    prefix = _materialize(ranked.filter(
        F.col("rk") <= F.col("n2") - F.ceil(F.lit(threshold) * F.col("n2") - 1e-9) + 1))

    pa = prefix.select(F.col("doc_id").alias("doc_a"),
                       F.col("nsh").alias("na"), "shingle")
    pb = prefix.select(F.col("doc_id").alias("doc_b"),
                       F.col("nsh").alias("nb"), "shingle")
    cand = (
        pa.join(pb, "shingle")
        .filter((F.col("doc_a") < F.col("doc_b"))
                # length filter: J >= t forces min(|A|,|B|) >= t*max
                # (epsilon again guards the exact-boundary float case)
                & (F.least("na", "nb")
                   >= F.lit(threshold) * F.greatest("na", "nb") - 1e-9))
        .select("doc_a", "doc_b").distinct()
    )
    return _verify_exact_jaccard(cand, sh_idx, threshold)


@query(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH sh AS (
      SELECT DISTINCT doc_id, shingle
      FROM (SELECT doc_id,
                   unnest(list_transform(range(1, greatest(len(t) - 2, 0) + 1),
                          s -> t[s] || ' ' || t[s+1] || ' ' || t[s+2])) AS shingle
            FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents))
    ), cnt AS (
      SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
    ), common AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS c
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           round(c * 1.0 / (ca.n + cb.n - c), 6) AS jaccard
    FROM common
      JOIN cnt ca ON ca.doc_id = doc_a
      JOIN cnt cb ON cb.doc_id = doc_b
    WHERE c * 1.0 / (ca.n + cb.n - c) >= {JACCARD_THRESHOLD}
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard near-dup pairs; the oracle is the naive
    full inverted-index self-join (shingling bounded by each doc's own
    token count), the Spark plan is the prefix-filtered equivalent —
    identical results, sub-quadratic candidate generation."""
    return jaccard_pairs_prefix(
        _shingle_index(load_table(spark, sf_dir, "documents")))


# --- SimHash ----------------------------------------------------------------

SIMHASH_BITS = 32
SIMHASH_MAX_HAMMING = 3  # 4 chunks ⇒ banded join complete up to 3


def simhash_fingerprints(df: DataFrame, text_col: str = "text") -> DataFrame:
    """32-bit SimHash over distinct whitespace tokens (unit weights):
    per bit position, sum +-1 contributions of every token's hash bit;
    fingerprint bit = sign. Pure built-in expressions.

    One groupBy with 32 bit-sum aggregates (partial-agg'd map-side)
    instead of exploding 32 position rows per token — the input to the
    shuffle is |tokens| rows, not 32x|tokens|. Each sum is just the
    shifted bit ((h >> p) & 1): with n tokens, the +-1 contribution sum
    is 2*sum_bits - n, so sign(s_p) > 0 <=> 2*sum_bits > n — same
    fingerprint, ~15% cheaper than per-bit conditionals."""
    toks = (df.select("doc_id", F.explode(F.array_distinct(F.split(text_col, " "))).alias("tok"))
            .withColumn("h", _hash32(F.col("tok"))))
    aggs = [F.sum(F.shiftright("h", pos).bitwiseAND(F.lit(1))).alias(f"b{pos}")
            for pos in range(SIMHASH_BITS)] + [F.count(F.lit(1)).alias("ntok")]
    sums = toks.groupBy("doc_id").agg(*aggs)
    fp = None
    for pos in range(SIMHASH_BITS):
        term = F.when(2 * F.col(f"b{pos}") > F.col("ntok"),
                      F.lit(1 << pos).cast("bigint")).otherwise(0)
        fp = term if fp is None else fp + term
    return sums.select("doc_id", fp.alias("simhash"))


@query(
    "dedup_simhash",
    oracle=f"""
    WITH toks AS (
      SELECT DISTINCT doc_id, t AS tok
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents)
    ), hashed AS (
      SELECT doc_id, ('0x' || substr(md5(tok), 1, 8))::BIGINT AS h FROM toks
    ), bits AS (
      SELECT doc_id, s.pos,
             CASE WHEN (h // CAST(pow(2, s.pos) AS BIGINT)) % 2 = 1 THEN 1 ELSE -1 END AS contrib
      FROM hashed, generate_series(0, {SIMHASH_BITS - 1}) AS s(pos)
    ), sums AS (
      SELECT doc_id, pos, SUM(contrib) AS sgn FROM bits GROUP BY doc_id, pos
    ), fps AS (
      SELECT doc_id,
             SUM(CASE WHEN sgn > 0 THEN CAST(pow(2, pos) AS BIGINT) ELSE 0 END) AS simhash
      FROM sums GROUP BY doc_id
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
    FROM fps a JOIN fps b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= {SIMHASH_MAX_HAMMING}
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs at hamming <= 3, via a banded equi-join:
    split the 32-bit fingerprint into 4 byte chunks; any pair within
    hamming 3 must agree on >= 1 chunk (pigeonhole), so joining on
    (chunk_idx, chunk_value) finds ALL such pairs — equality shuffle
    instead of the oracle's O(n^2) cross join, same exact answer."""
    # materialize: the chunk self-join consumes the fingerprint index on
    # BOTH sides — without it the token-explode + 32-agg stage runs twice
    fps = _materialize(simhash_fingerprints(load_table(spark, sf_dir, "documents")))

    chunks = fps.select(
        "doc_id", "simhash",
        F.explode(F.sequence(F.lit(0), F.lit(3))).alias("ci"),
    ).withColumn("chunk", F.expr("(simhash div CAST(pow(2, ci * 8) AS BIGINT)) % 256"))

    a = chunks.alias("a")
    b = chunks.alias("b")
    cand = (
        a.join(b, (F.col("a.ci") == F.col("b.ci"))
               & (F.col("a.chunk") == F.col("b.chunk"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"),
                F.col("a.ci").alias("ci"),
                F.col("a.simhash").alias("fa"), F.col("b.simhash").alias("fb"))
    )
    # Emit each pair exactly once WITHOUT a dedup shuffle: which chunks
    # match is fully determined by fa^fb (chunk j matches <=> byte j of
    # the xor is zero), so keep a pair only at its FIRST zero byte — a
    # pure expression filter replacing the former .distinct(), whose
    # exchange shuffled the whole candidate set (the largest
    # intermediate in the plan) a second time.
    x = F.col("fa").bitwiseXOR(F.col("fb"))
    byte = [F.shiftright(x, 8 * j).bitwiseAND(F.lit(255)) for j in range(4)]
    first_zero = (F.when(byte[0] == 0, 0).when(byte[1] == 0, 1)
                  .when(byte[2] == 0, 2).otherwise(3))
    hamming = F.bit_count(x)
    return (cand.filter((F.col("ci") == first_zero)
                        & (hamming <= SIMHASH_MAX_HAMMING))
            .select("doc_a", "doc_b", hamming.cast("int").alias("hamming")))


# --- MinHash + LSH ----------------------------------------------------------

NUM_HASHES = 16
NUM_BANDS = 4  # 4 rows per band
# Shingle width every minhash consumer shares. Callers that gate
# shingleability (shared `shingles` requires >= n tokens or slice
# throws) must derive their guard from THIS constant, not a literal
# (r15 review: a hardcoded 3 becomes a runtime crash if the width
# ever changes).
MINHASH_SHINGLE_N = 3


def _minhash_params() -> list[tuple[int, int]]:
    """Fixed (a, b) coefficients: an LCG unrolled at import time —
    deterministic, no RNG state, reproducible across runs/engines."""
    params, x = [], 1
    for _ in range(NUM_HASHES):
        x = (1103515245 * x + 12345) % M31
        a = x | 1
        x = (1103515245 * x + 12345) % M31
        params.append((a, x))
    return params


def _signatures_from_shingles(sh: DataFrame) -> DataFrame:
    x = sh.withColumn("x", _hash32(F.col("shingle")) % M31)
    aggs = [F.min((F.lit(a) * F.col("x") + F.lit(b)) % M31).alias(f"mh{i}")
            for i, (a, b) in enumerate(_minhash_params())]
    return x.groupBy("doc_id").agg(*aggs)


def minhash_signatures(df: DataFrame, n: int = MINHASH_SHINGLE_N,
                       text_col: str = "text") -> DataFrame:
    """k=16 minhash values per doc over MINHASH_SHINGLE_N-gram
    shingles: h_i(x) = (a_i * x + b_i) mod (2^31-1), x = 31-bit
    shingle hash. One explode + one groupBy — linear."""
    return _signatures_from_shingles(
        shingles(df, n=n, text_col=text_col)
        .select("doc_id", F.explode("_shingles").alias("shingle")))


def _banded(sigs: DataFrame) -> DataFrame:
    """(doc_id, band, bucket) LSH band rows of a signature frame: each
    band's bucket is the md5 of its ``rows_per`` minhash values. One
    row per (doc, band) — the unit the candidate equi-joins key on."""
    rows_per = NUM_HASHES // NUM_BANDS
    band_cols = [
        F.struct(F.lit(bi).alias("band"),
                 F.md5(F.concat_ws(",", *[F.col(f"mh{bi * rows_per + r}")
                                          for r in range(rows_per)])).alias("bucket"))
        for bi in range(NUM_BANDS)
    ]
    return (sigs.select("doc_id", F.explode(F.array(*band_cols)).alias("bb"))
            .select("doc_id", "bb.band", "bb.bucket"))


def minhash_lsh_pairs(df: DataFrame, threshold: float = JACCARD_THRESHOLD,
                      n: int = 3, text_col: str = "text") -> DataFrame:
    """Candidate pairs via band-bucket equality, then EXACT Jaccard
    verification of candidates only — precision 1.0, recall set by the
    (bands, rows) curve: P(candidate) = 1-(1-j^4)^4 (~0.98 at j=0.8).

    This is the 100 TB near-dup plan: no pair enumeration ever happens
    outside hash-equal buckets."""
    sh_idx = _materialize(
        shingles(df, n=n, text_col=text_col)
        .select("doc_id", F.size("_shingles").alias("nsh"),
                F.explode("_shingles").alias("shingle")))
    # _materialize'd (r19, guide §2.4): the candidate self-join consumes
    # the banded frame on BOTH sides, and without the cache each side
    # recomputes the 16-aggregate signature groupBy + band explode over
    # the postings (the before-plan shows that subtree twice — one per
    # join side; at corpus scale that is two signature passes per query
    # where one suffices, and in production this frame IS the persisted
    # band index). Interleaved A/B (tools/ab_lsh_r19.py @ 3f77309): 0.943 s ->
    # 0.871 s median, same job count. The incremental variant's batch
    # slice measured flat under the same treatment (1.029 -> 0.998 —
    # its corpus side is already materialized) and was left alone.
    banded = _materialize(_banded(_signatures_from_shingles(sh_idx)))

    a = banded.alias("a")
    b = banded.alias("b")
    cand = (
        a.join(b, (F.col("a.band") == F.col("b.band"))
               & (F.col("a.bucket") == F.col("b.bucket"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    # exact verification of the candidate set only, reusing the
    # materialized shingle index from the signature stage
    return _verify_exact_jaccard(cand, sh_idx, threshold)


def _duck_sig_ctes() -> str:
    """sh/xs/sig CTE block — distinct MINHASH_SHINGLE_N-gram shingles
    -> 31-bit hash -> 16-column minhash signature — shared by EVERY
    DuckDB minhash oracle (the LSH pipeline, the incremental variant,
    and sampling's signature-split). Defined once so an engine-side
    recipe change cannot leave one consumer's oracle certifying a
    stale signature (r15 review — the HEAD_FP_TOKENS single-definition
    rule applied to signatures)."""
    mh_cols = ",\n             ".join(
        f"MIN(({a} * x + {b}) % {M31}) AS mh{i}"
        for i, (a, b) in enumerate(_minhash_params()))
    return f"""sh AS (
      SELECT DISTINCT doc_id, shingle
      FROM (SELECT doc_id,
                   unnest(list_transform(range(1, greatest(len(t) - 2, 0) + 1),
                          s -> t[s] || ' ' || t[s+1] || ' ' || t[s+2])) AS shingle
            FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents))
    ), xs AS (
      SELECT doc_id,
             ('0x' || substr(md5(shingle), 1, 8))::BIGINT % {M31} AS x
      FROM sh
    ), sig AS (
      SELECT doc_id,
             {mh_cols}
      FROM xs GROUP BY doc_id
    )"""


def _duck_pair_ctes(cand_where: str = "") -> str:
    """banded/cand/cnt/common CTE block — LSH banding over an IN-SCOPE
    sh/xs/sig chain (see ``_duck_sig_ctes``) down to the per-candidate
    common-shingle counts. Extracted from ``_duck_minhash_oracle`` so a
    composing oracle (the r17 calibration audit) can splice the pair
    recipe next to the SAME sig chain instead of nesting the whole
    oracle and redeclaring sh/xs/sig at its outer scope (ADVICE r16 —
    the shadowed duplicates computed the shingle/signature chain twice
    per oracle run). ``_duck_minhash_oracle``'s emitted text is
    byte-identical to the pre-refactor spelling (hash-verified, the
    r15 `_duck_sig_ctes` precedent)."""
    rows_per = NUM_HASHES // NUM_BANDS
    band_cases = "\n          ".join(
        "WHEN {b} THEN md5({concat})".format(
            b=b,
            concat=" || ',' || ".join(
                f"CAST(mh{b * rows_per + r} AS VARCHAR)" for r in range(rows_per)))
        for b in range(NUM_BANDS))
    return f"""banded AS (
      SELECT doc_id, b.band,
        CASE b.band
          {band_cases}
        END AS bucket
      FROM sig, (SELECT unnest(range(0, {NUM_BANDS})) AS band) b
    ), cand AS (
      SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
      FROM banded l JOIN banded r
        ON l.band = r.band AND l.bucket = r.bucket AND l.doc_id < r.doc_id
      {cand_where}
    ), cnt AS (
      SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
    ), common AS (
      SELECT c.doc_a, c.doc_b, COUNT(*) AS cc
      FROM cand c
        JOIN sh sa ON sa.doc_id = c.doc_a
        JOIN sh sb ON sb.doc_id = c.doc_b AND sa.shingle = sb.shingle
      GROUP BY c.doc_a, c.doc_b
    )"""


def _duck_pair_select() -> str:
    """The verified-pair SELECT over an in-scope common/cnt pair block:
    exact Jaccard from common-shingle counts, thresholded. Usable as a
    top-level SELECT (``_duck_minhash_oracle``) or inside a CTE body
    (the calibration oracle's mh_pairs)."""
    return f"""SELECT doc_a, doc_b,
           round(cc * 1.0 / (ca.n + cb.n - cc), 6) AS jaccard
    FROM common
      JOIN cnt ca ON ca.doc_id = doc_a
      JOIN cnt cb ON cb.doc_id = doc_b
    WHERE cc * 1.0 / (ca.n + cb.n - cc) >= {JACCARD_THRESHOLD}"""


def _duck_minhash_oracle(cand_where: str = "") -> str:
    """DuckDB replica of the full minhash-LSH pipeline. The LCG
    coefficients are fixed at import, so signatures, band buckets, the
    candidate set, and the verified output are all exact expectations —
    'probabilistic' describes the recall GUARANTEE, not the result.

    ``cand_where`` optionally narrows the candidate self-join (e.g. the
    incremental query keeps only pairs touching the new batch)."""
    return f"""
    WITH {_duck_sig_ctes()}, {_duck_pair_ctes(cand_where)}
    {_duck_pair_select()}
    """


@query("dedup_minhash_lsh", oracle=_duck_minhash_oracle())
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_lsh_pairs(load_table(spark, sf_dir, "documents"))


# --- incremental (corpus-vs-batch) dedup ------------------------------------

INCREMENTAL_BATCH_MOD = 10  # doc_id % 10 == 0 plays "today's new batch"


def minhash_incremental_pairs(df: DataFrame,
                              threshold: float = JACCARD_THRESHOLD,
                              n: int = 3, text_col: str = "text") -> DataFrame:
    """Incremental near-dup detection: check a NEW BATCH of documents
    against a FROZEN CORPUS index plus itself — the production 100 TB
    shape, where yesterday's corpus signatures are a persisted artifact
    and only the day's arrivals compute fresh ones.

    The corpus side NEVER self-joins: its banded signature index is
    materialized once (standing in for the stored index a real
    deployment keeps between runs) and probed twice — by the batch's
    band buckets (batch x corpus candidates) and never against itself.
    Batch x batch pairs join within the batch only. Work per run is
    O(|batch| x bucket-collision rate), independent of |corpus| beyond
    the index probe — the property that makes daily dedup of a 100 TB
    corpus affordable, vs the full self-join's O(|corpus|) rebuild.

    Result contract (pinned by test): exactly the full self-join's
    LSH pairs restricted to pairs touching the batch — so switching a
    pipeline from full to incremental mode changes cost, not output."""
    is_batch = (F.col("doc_id") % INCREMENTAL_BATCH_MOD) == 0
    sh_idx = _materialize(
        shingles(df, n=n, text_col=text_col)
        .select("doc_id", F.size("_shingles").alias("nsh"),
                F.explode("_shingles").alias("shingle")))
    banded = _banded(_signatures_from_shingles(sh_idx))
    corpus_idx = _materialize(banded.filter(~is_batch))  # the frozen index
    batch_banded = banded.filter(is_batch)

    # ONE join over the tagged (corpus + batch) index union instead of
    # two probe joins + a unioned distinct — the same r18 rewrite as
    # _increment_drop_candidates (see its docstring for the A/B); this
    # family orients pairs by least/greatest.
    idx = (corpus_idx.withColumn("_corpus", F.lit(True))
           .unionByName(batch_banded.withColumn("_corpus", F.lit(False))))
    b1 = batch_banded.select(F.col("doc_id").alias("b_id"), "band", "bucket")
    r = idx.select(F.col("doc_id").alias("o_id"), "band", "bucket", "_corpus")
    cand = (b1.join(r, ["band", "bucket"])
            .filter(F.col("_corpus") | (F.col("b_id") < F.col("o_id")))
            .select(F.least("b_id", "o_id").alias("doc_a"),
                    F.greatest("b_id", "o_id").alias("doc_b"))
            .distinct())
    return _verify_exact_jaccard(cand, sh_idx, threshold)


@query(
    "dedup_incremental_minhash",
    oracle=_duck_minhash_oracle(
        f"WHERE l.doc_id % {INCREMENTAL_BATCH_MOD} = 0"
        f" OR r.doc_id % {INCREMENTAL_BATCH_MOD} = 0"),
)
def dedup_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-vs-batch MinHash dedup on a deterministic 90/10 split of
    `documents`; oracle = the full-self-join DuckDB pipeline filtered
    to pairs touching the batch (same answer, different cost shape)."""
    return minhash_incremental_pairs(load_table(spark, sf_dir, "documents"))


# --- index lifecycle (the write side of incremental dedup) ------------------

def minhash_index_artifacts(docs: DataFrame, n: int = 3,
                            text_col: str = "text") -> tuple[DataFrame, DataFrame]:
    """The two persisted artifacts a production dedup index keeps
    between runs, for a given document set:

      - shingle postings (doc_id, nsh, shingle) — what exact-Jaccard
        verification of candidate pairs joins against;
      - the banded signature index (doc_id, band, bucket) — what
        candidate generation equi-joins on.

    Both are per-document computations (linear, one explode + one
    groupBy), so an index over corpus ∪ batch equals the union of the
    two sets' artifacts — the property ``minhash_index_update`` exploits
    to append instead of rebuild.

    Storage contract (BASELINE §4 round-17): in production these
    artifacts are PARTITIONED OBJECT-STORAGE TABLES read by every
    increment — never re-derived per query. The in-process persist()
    memo used at fixture scale is a stand-in; when the frames outgrow
    executor storage (measured at the 500k-doc K=100 point) the FIRST
    pass after a cold build pays eviction churn before the block state
    settles (349 s -> 8.7-11 s steady). That settling cost is a
    single-process artifact of the stand-in, not of the operator: with
    stored artifacts every pass is the steady-state probe."""
    postings = (shingles(docs, n=n, text_col=text_col)
                .select("doc_id", F.size("_shingles").alias("nsh"),
                        F.explode("_shingles").alias("shingle")))
    return postings, _banded(_signatures_from_shingles(postings))


def _increment_drop_candidates(b_band: DataFrame,
                               corpus_index: DataFrame) -> DataFrame:
    """Candidate pairs of one index increment, tagged with which doc
    drops if the pair verifies (pure extraction from
    ``minhash_index_update`` — byte-identical plan; round 9 shares it
    with the delete verb's ledger construction).

    Both candidate sets verify in ONE postings pass (they are
    disjoint: corpus and batch ids never coincide); ``_drop`` is the
    batch doc for batch x corpus, the larger id for batch x batch.

    ONE join, not two (optimization r18, guide §2.4): the batch probes
    a single (corpus + batch) index union carrying an ``_corpus`` tag;
    the batch-pair ordering constraint and the _drop rule become
    row-local expressions and ONE distinct replaces two. The probe
    side is shuffled once instead of twice, the index sides move the
    same bytes they did across the two joins. Interleaved A/B running
    update + incremental end to end (tools/ab_cand_r18.py @ 3f77309, 9 cycles,
    checksum equality): 1.576 s / 17 jobs -> 1.369 s / 14 jobs."""
    idx = (corpus_index.withColumn("_corpus", F.lit(True))
           .unionByName(b_band.withColumn("_corpus", F.lit(False))))
    b1 = b_band.select(F.col("doc_id").alias("doc_a"), "band", "bucket")
    r = idx.select(F.col("doc_id").alias("doc_b"), "band", "bucket", "_corpus")
    return (b1.join(r, ["band", "bucket"])
            .filter(F.col("_corpus") | (F.col("doc_a") < F.col("doc_b")))
            .select("doc_a", "doc_b",
                    F.when(F.col("_corpus"), F.col("doc_a"))
                    .otherwise(F.col("doc_b")).alias("_drop"))
            .distinct())


def minhash_index_update(batch_docs: DataFrame, corpus_postings: DataFrame,
                         corpus_index: DataFrame,
                         threshold: float = JACCARD_THRESHOLD,
                         n: int = 3, text_col: str = "text",
                         batch_postings: DataFrame | None = None,
                         batch_index: DataFrame | None = None,
                         all_postings: DataFrame | None = None,
                         ) -> tuple[DataFrame, DataFrame, DataFrame]:
    """One increment of the dedup-index lifecycle:
    index(t+1) = index(t) + today's surviving signatures.

    Computes the batch's artifacts (linear in |batch|), finds its
    LSH-verified near-dups against the frozen corpus index and within
    itself, drops the losers (a batch doc loses to ANY corpus match,
    and to a lower-id batch doc), and APPENDS the survivors' postings
    and band rows to the corpus artifacts. The corpus is never
    recomputed and never self-joined — per-increment work is
    O(|batch| x bucket-collision rate) plus the two unions, which at
    100 TB are metadata-only appends to partitioned storage.

    Drop rule (deterministic, SQL-expressible, pinned by the
    ``dedup_index_update`` oracle): batch doc d drops iff it has a
    verified pair with any corpus doc, or with a batch doc of smaller
    doc_id. Greedy-by-pair, not transitive-closure — the same
    tie-break ``dedup_exact`` uses (min id wins), applied pairwise.

    Returns (survivors, new_postings, new_index); certified equal to a
    from-scratch rebuild over corpus ∪ survivors by
    ``test_llm_ops.test_index_update_two_increments_equal_rebuild``.

    Pass ``batch_postings``/``batch_index`` when the batch's artifacts
    already exist (e.g. sliced off a shared whole-corpus frame, as the
    registered query does) — the batch pipeline is then skipped
    entirely and no new frames are persisted."""
    if (batch_postings is None) != (batch_index is None):
        raise ValueError(
            "pass batch_postings and batch_index together (or neither): "
            "a half-specified override would silently recompute BOTH "
            "artifacts and ignore the one provided")
    if batch_postings is not None:
        b_post, b_band = batch_postings, batch_index
    else:
        b_post, b_band = minhash_index_artifacts(
            batch_docs, n=n, text_col=text_col)
        b_post = _materialize(b_post)
        b_band = _materialize(b_band)
    # ``all_postings``: pass the one frame corpus_postings and
    # batch_postings were both sliced from, when they were (the
    # registered query slices a shared cached postings index by
    # complementary doc_id residues) — verification then scans that
    # frame ONCE instead of scanning the cache twice and unioning
    # (optimization r18, guide §2.4 redundant passes). Default keeps
    # the genuine two-artifact union for callers with separate stored
    # frames (the stream parities).
    all_post = (all_postings if all_postings is not None
                else corpus_postings.unionByName(b_post))
    cand = _increment_drop_candidates(b_band, corpus_index)
    # No .distinct() on the drop set (r19, guide §2.4): every consumer
    # below is an anti/semi join, which is duplicate-insensitive on its
    # build side — the distinct only paid an exchange to shrink a set
    # that is already bounded by the verified-pair count.
    dropped = (
        _verify_exact_jaccard(cand, all_post, threshold, carry=("_drop",))
        .select(F.col("_drop").alias("doc_id")))
    survivors = batch_docs.select("doc_id").join(dropped, "doc_id", "left_anti")
    # The artifacts anti-join ``dropped`` DIRECTLY instead of
    # semi-joining ``survivors`` (r19, guide §2.4): the batch
    # artifacts' doc_ids are a subset of the batch ids, so
    # b_x ⋉ (batch ∖ dropped) == b_x ⋉̸ dropped row for row — one join
    # instead of an anti + semi chain per artifact. Interleaved A/B on
    # the full registered query (tools/ab_idx_r19.py @ 3f77309): 1.158 s /
    # 9 jobs -> 1.070 s / 6 jobs, checksum-identical output.
    new_postings = corpus_postings.unionByName(
        b_post.join(dropped, "doc_id", "left_anti"))
    new_index = corpus_index.unionByName(
        b_band.join(dropped, "doc_id", "left_anti"))
    return survivors, new_postings, new_index


def _duck_increment_pairs() -> str:
    """The shared head of the increment oracles: the minhash CTE chain
    (sh/xs/sig/banded/cand/cnt/common) over every pair touching the
    90/10 batch slice, its final SELECT swapped for the exact-jaccard
    verified ``pairs`` CTE. Callers append their drop rule and final
    SELECT."""
    mod = INCREMENTAL_BATCH_MOD
    base = _duck_minhash_oracle(
        f"WHERE l.doc_id % {mod} = 0 OR r.doc_id % {mod} = 0")
    head = base[:base.rindex("SELECT doc_a, doc_b")]
    return head + f""", pairs AS (
      SELECT doc_a, doc_b
      FROM common
        JOIN cnt ca ON ca.doc_id = doc_a
        JOIN cnt cb ON cb.doc_id = doc_b
      WHERE cc * 1.0 / (ca.n + cb.n - cc) >= {JACCARD_THRESHOLD}
    )"""


def _duck_index_update_oracle() -> str:
    """DuckDB replica of one index increment over the deterministic
    90/10 documents split: band rows of corpus ∪ surviving batch docs
    — i.e. the full rebuild the incremental plan must equal."""
    mod = INCREMENTAL_BATCH_MOD
    return _duck_increment_pairs() + f""", dropped AS (
      SELECT doc_a AS doc_id FROM pairs
      WHERE doc_a % {mod} = 0 AND doc_b % {mod} != 0
      UNION
      SELECT doc_b FROM pairs
      WHERE doc_b % {mod} = 0 AND doc_a % {mod} != 0
      UNION
      SELECT doc_b FROM pairs
      WHERE doc_a % {mod} = 0 AND doc_b % {mod} = 0
    )
    SELECT doc_id, CAST(band AS INTEGER) AS band, bucket
    FROM banded
    WHERE doc_id % {mod} != 0
       OR doc_id NOT IN (SELECT doc_id FROM dropped)
    """


@query("dedup_index_update", oracle=_duck_index_update_oracle())
def dedup_index_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """index(t+1) for one increment on the 90/10 documents split: the
    frozen corpus band index plus the batch survivors' band rows. The
    oracle computes the FULL REBUILD (band rows of corpus ∪ survivors
    from scratch) — the hash match IS the append-equals-rebuild
    certification, at driver level, every round.

    The corpus/batch artifacts are SLICES of the whole-documents
    postings and band frames — the same plans `dedup_minhash_lsh` /
    `dedup_incremental_minhash` materialize, so across the query suite
    (and a real deployment, where these ARE the shared stored index)
    the heavy shingle/signature pipelines compute once; this query
    adds only the candidate probe + verify + union. A per-subset
    pipeline here doubled the session's persisted footprint and pushed
    the whole dedup family into cache-eviction thrash at sf0.1."""
    docs = load_table(spark, sf_dir, "documents")
    is_batch = (F.col("doc_id") % INCREMENTAL_BATCH_MOD) == 0
    sh_idx = _materialize(
        shingles(docs)
        .select("doc_id", F.size("_shingles").alias("nsh"),
                F.explode("_shingles").alias("shingle")))
    banded = _banded(_signatures_from_shingles(sh_idx))
    c_band = _materialize(banded.filter(~is_batch))
    _surv, _post, new_index = minhash_index_update(
        docs.filter(is_batch),
        corpus_postings=sh_idx.filter(~is_batch),
        corpus_index=c_band,
        batch_postings=sh_idx.filter(is_batch),
        # materialized: tiny (|batch| x 4 rows) but its lineage is the
        # full signature aggregation, which would otherwise re-run per
        # candidate-join consumer
        batch_index=_materialize(banded.filter(is_batch)),
        # both postings args are residue slices of sh_idx — let the
        # verify join scan the shared cached frame once (r18)
        all_postings=sh_idx)
    return new_index


# --- index lifecycle, delete side (takedowns / TTL) -------------------------

TAKEDOWN_RESIDUE = 1  # doc_id % 10 == 1 plays "today's takedown slice"


def minhash_drop_ledger(b_band: DataFrame, corpus_index: DataFrame,
                        all_postings: DataFrame,
                        threshold: float = JACCARD_THRESHOLD) -> DataFrame:
    """EVERY verified drop-justification pair of one increment —
    (doc_id, partner) rows where ``doc_id`` was dropped because of its
    verified near-dup ``partner`` (a corpus doc, or a smaller-id batch
    doc). The third persisted artifact of a production dedup index,
    alongside postings and band rows: it is what makes DELETE
    incremental. When corpus docs are taken down, a dropped doc
    resurrects iff ALL its ledger partners are gone — an anti-join on
    this table, no re-shingling, no re-verification.

    Same candidate + verify plan as ``minhash_index_update`` (shared
    via ``_increment_drop_candidates``), keeping the partner column
    instead of collapsing to a distinct drop set."""
    verified = _verify_exact_jaccard(
        _increment_drop_candidates(b_band, corpus_index),
        all_postings, threshold, carry=("_drop",))
    return verified.select(
        F.col("_drop").alias("doc_id"),
        F.when(F.col("_drop") == F.col("doc_a"), F.col("doc_b"))
         .otherwise(F.col("doc_a")).alias("partner"))


def minhash_index_delete(removed_ids: DataFrame,
                         postings: DataFrame, index: DataFrame,
                         drop_ledger: DataFrame,
                         tombstone_postings: DataFrame,
                         tombstone_index: DataFrame,
                         ) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The DELETE verb of the dedup-index lifecycle (takedowns, TTL,
    GDPR erasure): index(t+1) = index(t) ∖ removed ∪ resurrected.

    Removing a document is an anti-join over the per-doc artifacts —
    but NOT only that, when the index was built incrementally: a batch
    doc dropped earlier because it near-duplicated a now-removed
    corpus doc must RESURRECT, or the index silently under-represents
    the surviving corpus (a rebuild from scratch over corpus ∖ removed
    would contain it). Resurrection needs no text and no verification
    at delete time: the increment's ``drop_ledger`` holds every
    justification pair, so a dropped doc returns iff its remaining
    ledger partners are zero, and its rows come from the tombstone
    artifacts the increment set aside.

    No cascade is possible, by construction of the drop rule: corpus
    docs never drop, batch x batch justifications are pair-local in
    doc-id order regardless of the partner's own fate, and
    ``removed_ids`` are corpus docs — so a resurrection never creates
    or removes another doc's justification (pinned by
    test_index_delete_resurrection_matches_rebuild).

    CONTRACT: ``removed_ids`` must be docs the index actually holds
    (corpus rows or admitted survivors). Passing a dropped/unknown id
    is a misuse this pure-plan verb cannot itself detect cheaply — it
    would leave stale ledger rows keyed by that id and diverge from a
    rebuild. The storage layer enforces it loudly
    (``streaming.parity.apply_index_delete`` anti-joins removed_ids
    against the stored band index and raises on any miss).

    100 TB posture: cost is O(|removed| + |ledger rows touching
    removed|) — three anti/semi joins against a broadcast-size removed
    set; the corpus artifacts are touched only to filter the removed
    docs' own rows (format-level delete files in a real table format),
    never rescanned, never re-shingled.

    Returns (new_postings, new_index, resurrected)."""
    # F.broadcast pins (ADVICE r18 / r19): the removed set is
    # broadcast-size by this verb's contract (the docstring's 100 TB
    # posture), but without the hint the ledger's left join below may
    # plan sort-merge at scale and reshuffle the whole ledger; the pin
    # makes the intended plan explicit on every removed-set join. No
    # .distinct() is inserted: removed_ids is a doc-id SET by contract
    # (duplicate partners would only re-mark already-dead ledger rows —
    # the _n_alive sum counts unmatched rows, which a left join never
    # multiplies — and the anti/semi joins are duplicate-insensitive).
    removed = F.broadcast(removed_ids.select("doc_id"))
    rem_partner = F.broadcast(
        removed_ids.select(F.col("doc_id").alias("partner"),
                           F.lit(True).alias("_rm")))
    # resurrected = dropped docs with ZERO surviving justifications.
    # ONE pass over the ledger: broadcast-mark removed partners, count
    # survivors per doc in a single partial-agg'd aggregate. The former
    # two-anti-join/two-distinct spelling shuffled the ledger's doc_id
    # set three times for the same answer (r18 optimization, guide
    # §2.4; interleaved A/B in tools/ab_delete_r18.py @ 3f77309).
    alive = F.when(F.col("_rm").isNull(), 1).otherwise(0)
    resurrected = (drop_ledger
                   .join(rem_partner, "partner", "left")
                   .groupBy("doc_id")
                   .agg(F.sum(alive).alias("_n_alive"))
                   .filter(F.col("_n_alive") == 0)
                   .select("doc_id"))
    new_postings = (postings.join(removed, "doc_id", "left_anti")
                    .unionByName(tombstone_postings
                                 .join(resurrected, "doc_id", "left_semi")))
    new_index = (index.join(removed, "doc_id", "left_anti")
                 .unionByName(tombstone_index
                              .join(resurrected, "doc_id", "left_semi")))
    return new_postings, new_index, resurrected


def _duck_index_delete_oracle() -> str:
    """DuckDB replica of increment-then-takedown: the FULL REBUILD's
    band rows over (corpus ∖ removed) ∪ batch, with the increment's
    drop rule applied against the REMAINING corpus only. The hash
    match certifies that filter + ledger-driven resurrection equals
    recomputing the index from scratch without the removed docs —
    including re-admitting batch docs whose only near-dups were taken
    down."""
    mod, rm = INCREMENTAL_BATCH_MOD, TAKEDOWN_RESIDUE
    return _duck_increment_pairs() + f""", dropped AS (
      SELECT doc_a AS doc_id FROM pairs
      WHERE doc_a % {mod} = 0 AND doc_b % {mod} NOT IN (0, {rm})
      UNION
      SELECT doc_b FROM pairs
      WHERE doc_b % {mod} = 0 AND doc_a % {mod} NOT IN (0, {rm})
      UNION
      SELECT doc_b FROM pairs
      WHERE doc_a % {mod} = 0 AND doc_b % {mod} = 0
    )
    SELECT doc_id, CAST(band AS INTEGER) AS band, bucket
    FROM banded
    WHERE doc_id % {mod} NOT IN (0, {rm})
       OR (doc_id % {mod} = 0
           AND doc_id NOT IN (SELECT doc_id FROM dropped))
    """


@query("dedup_index_delete", oracle=_duck_index_delete_oracle())
def dedup_index_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Increment-then-takedown on the documents table: build index(t+1)
    over the 90/10 corpus/batch split (exactly ``dedup_index_update``,
    ledger retained), then take down the ``doc_id % 10 == 1`` corpus
    slice and apply the DELETE verb — anti-join the removed docs' rows,
    resurrect dropped batch docs whose every justification was removed.
    The oracle is the from-scratch rebuild over the remaining corpus,
    so the driver hash certifies delete-equals-rebuild each round, the
    mirror of r8's append-equals-rebuild.

    Artifacts are the same SHARED whole-documents postings/band frames
    the rest of the dedup family materializes (per-subset pipelines
    measured as cache-eviction thrash, r8 note in dedup_index_update);
    the delete adds only broadcast-size anti/semi joins."""
    docs = load_table(spark, sf_dir, "documents")
    is_batch = (F.col("doc_id") % INCREMENTAL_BATCH_MOD) == 0
    is_removed = (F.col("doc_id") % INCREMENTAL_BATCH_MOD) == TAKEDOWN_RESIDUE
    sh_idx = _materialize(
        shingles(docs)
        .select("doc_id", F.size("_shingles").alias("nsh"),
                F.explode("_shingles").alias("shingle")))
    banded = _banded(_signatures_from_shingles(sh_idx))
    c_band = _materialize(banded.filter(~is_batch))
    b_band = _materialize(banded.filter(is_batch))
    ledger = _materialize(
        minhash_drop_ledger(b_band, c_band, sh_idx))
    # anti/semi build side only — duplicates are fine, the distinct
    # would just pay an exchange (r19, same reasoning as
    # minhash_index_update's drop set; A/B in tools/ab_idx_r19.py @ 3f77309:
    # the full query reads 1.232 s / 13 jobs -> 0.992 s / 8 jobs)
    dropped = ledger.select("doc_id")
    # the stored index after the increment, survivor rows only —
    # expressed as ONE anti-join per artifact (batch-artifact doc_ids
    # ⊆ batch ids, so ⋉ (batch ∖ dropped) == ⋉̸ dropped)
    post_t1 = (sh_idx.filter(~is_batch)
               .unionByName(sh_idx.filter(is_batch)
                            .join(dropped, "doc_id", "left_anti")))
    index_t1 = c_band.unionByName(
        b_band.join(dropped, "doc_id", "left_anti"))
    _post, new_index, _res = minhash_index_delete(
        removed_ids=docs.filter(is_removed).select("doc_id"),
        postings=post_t1, index=index_t1, drop_ledger=ledger,
        tombstone_postings=sh_idx.filter(is_batch)
                                 .join(dropped, "doc_id", "left_semi"),
        tombstone_index=b_band.join(dropped, "doc_id", "left_semi"))
    return new_index


# --- boilerplate span removal (round 11) -------------------------------------
#
# C4/RefinedWeb-style repeated-span removal: a fixed-width token span
# that occurs in two or more DISTINCT documents is boilerplate
# (navigation chrome, license headers, templated footers) and is cut
# from every document carrying it. This is the span-level complement
# to document-level near-dup: near-dup drops whole documents,
# boilerplate removal repairs the survivors. (C4 does it with
# three-sentence spans; the fixture's texts are single-space word
# soup, so the span unit here is a non-overlapping 10-token chunk.)

BOILER_TOKENS = 10
BOILER_MIN_DOCS = 2


@query(
    "dedup_boilerplate",
    # Chunking mirrors text_chunk_overlap's oracle (list_slice and
    # Spark's slice are both 1-based, both cap at the array end).
    # count(*) FILTER keeps the dup counter BIGINT on both engines
    # (SUM(CASE) would be HUGEINT in DuckDB — the type-parity lattice
    # lesson from r9). string_agg ORDER BY chunk_id is the oracle's
    # form of the array_sort-by-position reassembly.
    oracle=f"""
    WITH w AS (
      SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ),
    chunks AS (
      SELECT doc_id, CAST(k AS INTEGER) AS chunk_id,
             array_to_string(
               list_slice(ws, k * {BOILER_TOKENS} + 1,
                          k * {BOILER_TOKENS} + {BOILER_TOKENS}), ' ')
               AS chunk
      FROM w, unnest(range(0, (len(ws) - 1) // {BOILER_TOKENS} + 1)) AS u(k)
    ),
    dup AS (
      SELECT md5(chunk) AS fp FROM chunks
      GROUP BY 1 HAVING count(DISTINCT doc_id) >= {BOILER_MIN_DOCS}
    ),
    m AS (
      SELECT c.doc_id, c.chunk_id, c.chunk, d.fp IS NOT NULL AS is_dup
      FROM chunks c LEFT JOIN dup d ON md5(c.chunk) = d.fp
    )
    SELECT doc_id,
           count(*) AS n_chunks,
           count(*) FILTER (WHERE is_dup) AS n_dup_chunks,
           coalesce(string_agg(CASE WHEN NOT is_dup THEN chunk END, ' '
                               ORDER BY chunk_id), '') AS clean_text
    FROM m GROUP BY doc_id
    """,
)
def dedup_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level repeated-span (boilerplate) removal: tile every
    document into non-overlapping BOILER_TOKENS-token chunks, md5 each,
    and cut every chunk whose fingerprint occurs in >= BOILER_MIN_DOCS
    distinct documents; emit per-document chunk counts and the cleaned
    text reassembled in position order.

    Scale shape: the chunk explode is narrow (bytes x ~1); the dup-set
    discovery is one hash-aggregate on the fingerprint with map-side
    partial count-distinct; marking is an equi-join back on the
    fingerprint — shuffle-on-fp twice, never all-pairs, and AQE
    broadcasts the dup set when it is small (the common case: true
    boilerplate is a tiny distinct set repeated widely — which is also
    why the dup side is skew-prone, the case AQE's skew split handles).
    Reassembly is a per-doc groupBy: collect_list of (position, chunk)
    structs, array_sort (position is the leading struct field), join —
    deterministic without a window or a global sort."""
    return remove_boilerplate(load_table(spark, sf_dir, "documents"))


def tile_tokens(docs: DataFrame, k: int,
                idx_name: str, tile_name: str) -> DataFrame:
    """(doc_id, idx, tile) rows: non-overlapping k-token tiles in
    position order. The ONE tiling expression shared by boilerplate
    removal and paragraph keep-first (review r14: two verbatim copies
    of the tile arithmetic would silently diverge under a future
    boundary fix, and the operators' planted-case contrast relies on
    the tile shapes being exactly equal)."""
    toks = F.split(F.col("text"), " ")
    return (
        docs.select(
            "doc_id",
            F.posexplode(
                F.sequence(
                    F.lit(0),
                    F.floor((F.size(toks) - 1) / k).cast("int"))
            ).alias(idx_name, "_k"),
            toks.alias("_toks"))
        .select(
            "doc_id", idx_name,
            F.array_join(
                F.slice(F.col("_toks"), F.col("_k") * k + 1, k), " ")
            .alias(tile_name)))


def remove_boilerplate(docs: DataFrame,
                       chunk_tokens: int = BOILER_TOKENS,
                       min_docs: int = BOILER_MIN_DOCS) -> DataFrame:
    """DataFrame core of `dedup_boilerplate` (see its docstring for the
    plan shape); parameterized for property tests. Round 14: the dup
    set routes through _dup_fingerprints, so the canonical min_docs=2
    gets the O(1)-state min/max arm here too (the count_distinct set
    was the K=1000 memory constant VERDICT r13 item 4 named for the
    sibling substring pass)."""
    chunks = (tile_tokens(docs, chunk_tokens, "chunk_id", "chunk")
              .withColumn("fp", F.md5(F.col("chunk"))))
    dup = _dup_fingerprints(chunks, min_docs).withColumn("_dup", F.lit(1))
    marked = chunks.join(dup, "fp", "left")
    return (
        marked.groupBy("doc_id").agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.count("_dup").alias("n_dup_chunks"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(
                        F.when(F.col("_dup").isNull(),
                               F.struct("chunk_id", "chunk")))),
                    lambda x: x["chunk"]), " ").alias("clean_text")))


# --- exact-substring dedup, suffix-array shape (round 12) --------------------
#
# Lee et al. 2022 ("Deduplicating Training Data Makes Language Models
# Better") deduplicate at SUBSTRING granularity: any >= k-token run
# that appears more than once corpus-wide is removed wherever it
# occurs, at ARBITRARY offsets — their implementation walks a suffix
# array. `dedup_boilerplate` above approximates this with
# non-overlapping fixed chunks, which misses any repeated run that
# straddles a chunk boundary. This operator closes that gap with the
# distributed equivalent of the suffix-array scan: stride-1 rolling
# k-token windows. A window fingerprint seen in >= min_docs distinct
# documents marks its k token positions as duplicated; a doc's
# duplicated REGION is the union of its marked windows (overlapping
# windows merge for free — coverage is per-position), and the clean
# text is the uncovered tokens reassembled in order. Matching runs
# longer than k are fully covered by their k-windows, exactly as in
# the suffix-array formulation.

SUBSTR_TOKENS = 15
SUBSTR_MIN_DOCS = 2


def _dup_fingerprints(wins: DataFrame, min_docs: int) -> DataFrame:
    """Fingerprints seen in >= min_docs distinct documents. At the
    canonical min_docs=2 this is exactly min(doc_id) != max(doc_id) —
    O(1) aggregation state per fingerprint. The count_distinct arm
    carries the full distinct doc-id set per fingerprint through the
    aggregate — on an all-duplicate replica that is a |docs|-sized
    set per fp, the named cause of dedup_substring's K=1000
    2.3x-over-linear memory step (VERDICT r13 item 4); min/max keep
    two scalars. The general-min_docs arm stays for parameterized
    callers; tests/test_llm_ops.py pins arm equivalence."""
    if min_docs == 2:
        return (
            wins.groupBy("fp")
            .agg(F.min("doc_id").alias("_lo"), F.max("doc_id").alias("_hi"))
            .filter(F.col("_lo") != F.col("_hi"))
            .select("fp"))
    return (
        wins.groupBy("fp")
        .agg(F.count_distinct("doc_id").alias("_nd"))
        .filter(F.col("_nd") >= min_docs)
        .select("fp"))


def remove_repeated_substrings(docs: DataFrame,
                               k: int = SUBSTR_TOKENS,
                               min_docs: int = SUBSTR_MIN_DOCS) -> DataFrame:
    """DataFrame core of `dedup_substring` (see its docstring for the
    plan shape); parameterized for the planted-offset property tests."""
    toks = F.split(F.col("text"), " ")
    base = docs.select("doc_id", toks.alias("_toks"))
    wins = (
        base.select(
            "doc_id", "_toks",
            F.explode(
                F.sequence(F.lit(0),
                           F.greatest(F.size("_toks") - k, F.lit(0)))
            ).alias("start"))
        # docs shorter than k tokens have no window (the greatest()
        # keeps sequence() ascending; this filter drops its stub row)
        .filter(F.col("start") + k <= F.size("_toks"))
        .select(
            "doc_id", "start",
            F.md5(F.array_join(
                F.slice(F.col("_toks"), F.col("start") + 1, k), " "))
            .alias("fp")))
    dup = _dup_fingerprints(wins, min_docs)
    dup_starts = (
        wins.join(dup, "fp")
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list("start")).alias("_ds")))
    ds = F.coalesce(F.col("_ds"), F.expr("CAST(array() AS ARRAY<INT>)"))
    covered = lambda p: F.exists(  # noqa: E731  (inline predicate)
        ds, lambda s: (p >= s) & (p < s + F.lit(k)))
    clean = F.filter(F.col("_toks"), lambda t, p: ~covered(p))
    return (
        base.join(dup_starts, "doc_id", "left")
        .select(
            "doc_id",
            F.size("_toks").cast("long").alias("n_tokens"),
            (F.size("_toks") - F.size(clean)).cast("long")
            .alias("n_dup_tokens"),
            F.array_join(clean, " ").alias("clean_text")))


@query(
    "dedup_substring",
    # Same oracle family as dedup_boilerplate, at stride 1: windows by
    # unnest(range), dup set by fingerprint HAVING, per-position
    # coverage by a correlated EXISTS over the doc's dup starts (the
    # SQL form of the engine's per-token exists() over the start
    # array), reassembly by string_agg ORDER BY position. count(*)
    # FILTER keeps counters BIGINT on both engines.
    oracle=f"""
    WITH w AS (
      SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ),
    wins AS (
      SELECT doc_id, CAST(k AS INTEGER) AS start,
             md5(array_to_string(
               list_slice(ws, k + 1, k + {SUBSTR_TOKENS}), ' ')) AS fp
      FROM w, unnest(range(0, greatest(len(ws) - {SUBSTR_TOKENS} + 1, 0)))
             AS u(k)
    ),
    dup AS (
      SELECT fp FROM wins
      GROUP BY fp HAVING count(DISTINCT doc_id) >= {SUBSTR_MIN_DOCS}
    ),
    ds AS (SELECT doc_id, start FROM wins JOIN dup USING (fp)),
    tok AS (
      SELECT doc_id, CAST(p AS INTEGER) AS p,
             ws[CAST(p AS INTEGER) + 1] AS token
      FROM w, unnest(range(0, len(ws))) AS u(p)
    ),
    cov AS (
      SELECT t.doc_id, t.p, t.token,
             EXISTS (SELECT 1 FROM ds d
                     WHERE d.doc_id = t.doc_id
                       AND d.start <= t.p
                       AND t.p < d.start + {SUBSTR_TOKENS}) AS is_dup
      FROM tok t
    )
    SELECT doc_id,
           count(*) AS n_tokens,
           count(*) FILTER (WHERE is_dup) AS n_dup_tokens,
           coalesce(string_agg(CASE WHEN NOT is_dup THEN token END, ' '
                               ORDER BY p), '') AS clean_text
    FROM cov GROUP BY doc_id
    """,
)
def dedup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring (suffix-array-shape) dedup: remove every token
    covered by a >= SUBSTR_TOKENS-token run that occurs in >=
    SUBSTR_MIN_DOCS distinct documents, at any offset — the corpus-
    wide repeated-substring pass `dedup_boilerplate`'s fixed chunks
    only approximate (a straddling run defeats chunk boundaries; the
    planted-offset pytest pins exactly that case).

    Scale shape: the stride-1 window explode is k-times the
    boilerplate explode's rows but still linear in corpus tokens and
    narrow (doc_id, start, 32-byte fp); dup discovery is one
    fingerprint hash-aggregate — O(1) state per fp at the canonical
    min_docs=2 (min != max, see _dup_fingerprints), map-side partial
    count-distinct on the general arm;
    marking is an equi-join back on fp (AQE broadcasts the dup set
    when small, splits it when boilerplate-skewed). Coverage never
    materializes per-token rows: each doc folds its (bounded by
    doc-length) dup-start array over its token array with a
    higher-order exists — per-doc work, zero extra shuffle beyond the
    one groupBy(doc_id). At 100 TB the fp aggregate is the only wide
    stage, on a key space capped by total corpus tokens; the
    suffix-array literature's O(n log n) single-node scan becomes two
    shuffles on (fp) + (doc_id), which is the distributed-right shape.
    """
    return remove_repeated_substrings(load_table(spark, sf_dir, "documents"))


# --- paragraph-level keep-first dedup (round 14) ------------------------------
#
# The RefinedWeb/C4 middle granularity between `dedup_exact` (whole
# documents) and `dedup_substring` (arbitrary-offset runs), with a
# DIFFERENT retention rule from `dedup_boilerplate`: boilerplate
# removes every instance of a repeated span (including the first);
# keep-first dedup keeps exactly the globally FIRST occurrence of each
# paragraph and drops the later copies — the curation semantic for
# "this paragraph is legitimate content once, spam after that".
# First = argmin over (doc_id, para_id), a total deterministic order.

PARA_TOKENS = 8


def paragraphize(docs: DataFrame, para_tokens: int = PARA_TOKENS,
                 delimiter: str | None = None) -> DataFrame:
    """(doc_id, para_id, para) rows. Pluggable split: real corpora
    paragraphize on a delimiter REGEX (F.split semantics — '\\n+' is
    a blank-line split, but a literal '.' or '||' must be escaped,
    e.g. re.escape('||'); ADVICE r14); the newline-free fixture uses
    fixed-token tiling (same tile shape as boilerplate chunks so the
    two operators' planted-case contrast is exact)."""
    if delimiter is not None:
        return docs.select(
            "doc_id",
            F.posexplode(F.split("text", delimiter))
            .alias("para_id", "para"))
    return tile_tokens(docs, para_tokens, "para_id", "para")


def dedup_paragraphs_keep_first(docs: DataFrame,
                                para_tokens: int = PARA_TOKENS,
                                delimiter: str | None = None) -> DataFrame:
    """DataFrame core of `dedup_paragraph_keep_first` (see its
    docstring for the plan shape); parameterized for property tests."""
    paras = paragraphize(docs, para_tokens, delimiter).withColumn(
        "fp", F.md5(F.col("para")))
    # one hash-aggregate: argmin(doc_id, para_id) per fingerprint.
    # min() over a struct is lexicographic by field order on both
    # engines, and partial-aggregates map-side with O(1) state per fp
    # — the same skew-resistant shape as _dup_fingerprints' min/max
    # arm (a window row_number over fp would put every instance of a
    # hot paragraph on one task with no partial aggregation).
    first = paras.groupBy("fp").agg(
        F.min(F.struct(F.col("doc_id"), F.col("para_id"))).alias("_first"))
    marked = (
        paras.join(first, "fp")
        .withColumn(
            "_keep",
            (F.col("doc_id") == F.col("_first.doc_id"))
            & (F.col("para_id") == F.col("_first.para_id"))))
    return (
        marked.groupBy("doc_id").agg(
            F.count(F.lit(1)).alias("n_paras"),
            F.count(F.when(~F.col("_keep"), F.lit(1)))
            .alias("n_dropped_paras"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(
                        F.when(F.col("_keep"),
                               F.struct("para_id", "para")))),
                    lambda x: x["para"]), " ").alias("clean_text")))


@query(
    "dedup_paragraph_keep_first",
    # Same tiling CTE family as dedup_boilerplate; the argmin is
    # min(struct_pack(...)) — lexicographic struct min, DuckDB's form
    # of the engine's min(struct(doc_id, para_id)) — and keep is an
    # equality test against that argmin. count(*) FILTER keeps the
    # counters BIGINT; string_agg ORDER BY para_id is the positional
    # reassembly.
    oracle=f"""
    WITH w AS (
      SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ),
    paras AS (
      SELECT doc_id, CAST(k AS INTEGER) AS para_id,
             array_to_string(
               list_slice(ws, k * {PARA_TOKENS} + 1,
                          k * {PARA_TOKENS} + {PARA_TOKENS}), ' ') AS para
      FROM w, unnest(range(0, (len(ws) - 1) // {PARA_TOKENS} + 1)) AS u(k)
    ),
    frst AS (
      SELECT md5(para) AS fp,
             min(struct_pack(d := doc_id, p := para_id)) AS m
      FROM paras GROUP BY 1
    ),
    mk AS (
      SELECT p.doc_id, p.para_id, p.para,
             (p.doc_id = f.m.d AND p.para_id = f.m.p) AS keep
      FROM paras p JOIN frst f ON md5(p.para) = f.fp
    )
    SELECT doc_id,
           count(*) AS n_paras,
           count(*) FILTER (WHERE NOT keep) AS n_dropped_paras,
           coalesce(string_agg(CASE WHEN keep THEN para END, ' '
                               ORDER BY para_id), '') AS clean_text
    FROM mk GROUP BY doc_id
    """,
)
def dedup_paragraph_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paragraph-level keep-first dedup: tile each document into
    PARA_TOKENS-token paragraphs (delimiter split on real corpora —
    the fixture is newline-free), fingerprint each, keep exactly the
    globally first occurrence (argmin over (doc_id, para_id)) of each
    fingerprint and drop later copies; emit per-document paragraph
    counts and the cleaned text reassembled in position order.

    Scale shape: the paragraph explode is narrow (bytes x ~1); the
    argmin is ONE fingerprint hash-aggregate whose min(struct) state
    is O(1) per fp and partial-aggregates map-side (hot boilerplate
    paragraphs — the skew case — collapse in the map phase); marking
    is an equi-join back on fp (AQE splits residual skew); reassembly
    is the per-doc collect_list/array_sort groupBy every dedup
    operator here shares. Two shuffles on (fp) + (doc_id), never
    all-pairs, no window-over-all — holds at 100 TB."""
    return dedup_paragraphs_keep_first(load_table(spark, sf_dir, "documents"))


# --- URL-canonicalization dedup (round 14) -------------------------------------
#
# CommonCrawl-style URL dedup: the same page is crawled under many
# surface forms (tracking query params, fragments, case-variant
# hosts, trailing slashes, www. prefixes). Canonicalize FIRST, then
# dedup on the canonical form — a pure expression pack plus the same
# argmin hash-aggregate shape as paragraph keep-first.


def canonical_url(col) -> "F.Column":
    """scheme://host/path normalized: query string and fragment
    dropped, host lowercased and stripped of every leading 'www.'
    label, trailing '/' run removed. IDEMPOTENT by construction
    (canonical(canonical(u)) == canonical(u), pytest-pinned): a
    non-fixed-point canonicalizer dedups differently when already-
    canonical URLs are re-ingested. Pure built-ins — codegen'd,
    map-only.

    Userinfo and explicit ports are INTENTIONALLY preserved as
    distinct pages (ADVICE r14): for dedup, merging 'user@host' or
    'host:8080' with 'host' over-merges (they can serve different
    content) and a wrong merge silently loses a document — the
    conservative direction for a canonicalizer is to keep them
    apart. Contrast `text.url_host_filter`, where the SAME authority
    parts must be stripped because under-matching there is a
    blocklist-evasion hole; each direction is chosen per failure
    mode."""
    no_q = F.regexp_replace(col, "[?#].*$", "")
    # lowercase ONLY the scheme+host segment; path case is significant.
    # The scheme matches case-insensitively ([a-zA-Z]) — RFC 3986
    # schemes are case-insensitive, and lower() folds them after.
    host = F.lower(F.regexp_extract(
        no_q, "^([a-zA-Z][a-zA-Z0-9+.-]*://[^/]*)", 1))
    path = F.regexp_replace(no_q, "^[a-zA-Z][a-zA-Z0-9+.-]*://[^/]*", "")
    # (www\.)+ not www\.: stripping ONE label is not idempotent —
    # canonical("www.www.x") would differ from its own re-canonical
    # (pinned by test_canonical_url_idempotent)
    host = F.regexp_replace(host, "^([a-z][a-z0-9+.-]*://)(www\\.)+", "$1")
    # /+$ not /$: one-slash stripping is not idempotent on "a//"
    return F.concat(host, F.regexp_replace(path, "/+$", ""))


def dedup_by_canonical_url(docs: DataFrame,
                           url_col: str = "url") -> DataFrame:
    """Keep the min-doc_id representative of each canonical URL.
    Scale shape: map-only canonicalization, one hash-aggregate on the
    canonical form (min = O(1) state, map-side partial), equi-join
    back — never all-pairs, AQE splits hot-URL skew.

    A NULL url canonicalizes to NULL, and a NULL join key matches
    nothing — without the per-doc fallback below such docs would
    silently VANISH from the output (neither kept nor marked dropped
    — review r14). A doc with no URL has no URL-duplicate evidence,
    so each is its own group and is kept. The fallback key starts
    with '?' — a character canonical_url strips unconditionally
    ([?#].*$ goes first), so NO real URL can canonicalize onto a
    fallback key (ADVICE r14: the old '__null_url__' prefix was
    forgeable by a scheme-less url string that passes through
    canonicalization verbatim)."""
    canon = F.coalesce(
        canonical_url(F.col(url_col)),
        F.concat(F.lit("?null-url:"), F.col("doc_id").cast("string")))
    keyed = docs.withColumn("canon_url", canon)
    rep = (keyed.groupBy("canon_url")
           .agg(F.min("doc_id").alias("_rep")))
    return (keyed.join(rep, "canon_url")
            .select("doc_id", "canon_url",
                    (F.col("doc_id") == F.col("_rep")).alias("is_kept")))


# Deterministic surface-form variants planted over the fixture (the
# generator emits no url column): doc_id mod 3 selects the variant,
# doc_id div 3 selects the page, so every consecutive id-triple
# shares one canonical URL under three different surface forms.
_URL_VARIANT_SQL = """
      CASE doc_id % 3
        WHEN 0 THEN 'https://' || source || '.example.org/page/'
                    || CAST(doc_id // 3 AS VARCHAR)
        WHEN 1 THEN 'https://WWW.' || upper(source)
                    || '.EXAMPLE.ORG/page/'
                    || CAST(doc_id // 3 AS VARCHAR) || '?utm_source=feed#frag'
        ELSE 'https://www.' || source || '.example.org/page/'
                    || CAST(doc_id // 3 AS VARCHAR) || '/'
      END"""


@query(
    "dedup_url_exact",
    oracle=f"""
    WITH u AS (
      SELECT doc_id, source, {_URL_VARIANT_SQL} AS url
      FROM documents
    ),
    canon AS (
      -- the engine's NULL-url per-doc fallback is unreachable here
      -- (the planted variants are never NULL), so the oracle omits it
      SELECT doc_id,
             regexp_replace(
               lower(regexp_extract(regexp_replace(url, '[?#].*$', ''),
                                    '^([a-zA-Z][a-zA-Z0-9+.-]*://[^/]*)', 1)),
               '^([a-z][a-z0-9+.-]*://)(www\\.)+', '\\1')
             || regexp_replace(
                  regexp_replace(regexp_replace(url, '[?#].*$', ''),
                                 '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/]*', ''),
                  '/+$', '') AS canon_url
      FROM u
    ),
    rep AS (
      SELECT canon_url, min(doc_id) AS _rep FROM canon GROUP BY canon_url
    )
    SELECT c.doc_id, c.canon_url, (c.doc_id = r._rep) AS is_kept
    FROM canon c JOIN rep r USING (canon_url)
    """,
)
def dedup_url_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-canonicalization dedup over planted surface-form variants
    (tracking params, fragments, case-variant www hosts, trailing
    slashes — one canonical page per consecutive id-triple): keep the
    min-doc_id doc per canonical URL; the value hash certifies the
    canonicalization expression pack and the keep decision row-by-row."""
    # Spark SQL spells DuckDB's integer-divide and VARCHAR differently;
    # same planted variants otherwise.
    variant = (_URL_VARIANT_SQL
               .replace("doc_id // 3", "doc_id DIV 3")
               .replace("AS VARCHAR", "AS STRING"))
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.expr(variant).alias("url"))
    return dedup_by_canonical_url(docs)


# --- soft dedup weighting ----------------------------------------------------
#
# Down-WEIGHT duplicates instead of dropping them (the "soft
# deduplication" alternative in the public literature: a document
# duplicated n times trains at 1/n weight, so the corpus keeps its
# coverage but stops over-counting boilerplate). The weight is exact
# integer micro-units so the certified output carries no float sum.


def content_fp(text_col: str = "text"):
    """The NULL-normalized content fingerprint — md5 of the
    lower/trimmed text with NULL coalesced to '' so NULL and empty
    docs share one group. Defined ONCE (r16 review: three engine
    sites and three oracle literals had respelled it — the drift mode
    the _duck_sig_ctes / HEAD_FP_TOKENS single-definition rule
    exists to prevent). Every consumer of this helper must pair it
    with DUCK_CONTENT_FP on the oracle side."""
    return F.md5(F.lower(F.trim(F.coalesce(F.col(text_col), F.lit("")))))


DUCK_CONTENT_FP = "md5(lower(trim(COALESCE(text, ''))))"


def soft_dedup_weights(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, n_copies, weight_micro): per-doc training weight
    1/n_copies of its exact content fingerprint, in micro-units.

    Scale shape: the dedup_exact aggregate (one partial-aggregated
    shuffle on a 128-bit key, O(1) state per group) + one equi-join
    back; the weight is map-side arithmetic. NULL text fingerprints
    to md5('') via the shared content_fp normalization — NULL and
    empty docs form one group and get a weight like every other row
    (no silent row loss)."""
    keyed = docs.select("doc_id", content_fp(text_col).alias("content_fp"))
    counts = (keyed.groupBy("content_fp")
              .agg(F.count(F.lit(1)).alias("n_copies")))
    return (keyed.join(counts, "content_fp")
            .select("doc_id", "n_copies",
                    F.floor(1_000_000.0 / F.col("n_copies") + 0.5)
                    .cast("bigint").alias("weight_micro")))


def dedup_soft_weight_oracle() -> str:
    """DuckDB oracle: same fingerprint group count and the same
    floor(1e6/n + 0.5) micro-weight."""
    return f"""
    WITH keyed AS (
      SELECT doc_id, {DUCK_CONTENT_FP} AS content_fp
      FROM documents
    ),
    counts AS (
      SELECT content_fp, CAST(COUNT(*) AS BIGINT) AS n_copies
      FROM keyed GROUP BY content_fp
    )
    SELECT k.doc_id, c.n_copies,
           CAST(floor(1000000.0 / c.n_copies + 0.5) AS BIGINT)
             AS weight_micro
    FROM keyed k JOIN counts c USING (content_fp)
    """


@query("dedup_soft_weight", oracle=dedup_soft_weight_oracle())
def dedup_soft_weight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Soft dedup over the fixture documents: 1/n_copies
    down-weighting instead of dropping."""
    return soft_dedup_weights(load_table(spark, sf_dir, "documents"))


# --- Bloom-filter membership probe -------------------------------------------
#
# The O(1)-space seen-before sketch every 100 TB ingest front-door
# runs BEFORE the exact index: a fixed m-bit Bloom filter over corpus
# content fingerprints answers "definitely new" vs "maybe seen" with
# zero false negatives, so only the maybe-seen slice pays the exact
# probe. This operator is the AUDIT of that design over the standard
# 90/10 corpus/batch split: per batch doc, the Bloom verdict, the
# exact verdict, and the false-positive flag — certifying both the
# no-false-negative property and the measured FP pressure at the
# chosen m/k.

BLOOM_BITS = 16384   # m: fixed sketch width (2^14)
BLOOM_HASHES = 3     # k: md5 substrings 0-7, 8-15, 16-23 mod m


def _bloom_positions(fp) -> list:
    """The k bit positions of one 32-hex-char fingerprint: three
    disjoint 8-hex windows of the md5, each mod BLOOM_BITS — the
    same '0x'||substr idiom every hash-bucket oracle shares."""
    return [
        (F.conv(F.substring(fp, 1 + 8 * h, 8), 16, 10).cast("bigint")
         % BLOOM_BITS).alias(f"p{h}")
        for h in range(BLOOM_HASHES)
    ]


def bloom_probe_audit(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, bloom_hit, exact_dup, false_positive) for every batch
    doc (doc_id % 10 == 0) probed against the corpus (the rest).

    Scale shape: the filter is a <= BLOOM_BITS-row distinct set-bit
    table — bounded state whatever the corpus size, built by one
    map-side-collapsed aggregate and BROADCAST to the probe (at 100 TB
    the same bits live in an actual bitset broadcast variable; the
    relational form is semantics-identical and oracle-checkable). The
    probe is a map-side explode of k=3 positions per batch doc + the
    broadcast join + one per-doc AND-fold. The exact verdict joins the
    distinct corpus fingerprint set (itself the dedup_exact aggregate).
    Zero false negatives BY CONSTRUCTION (every corpus fp set its
    bits); the false_positive column measures the m/k pressure.

    NULL text normalizes to '' (the soft-dedup convention) — NULL-text
    batch docs get a real verdict against the ''-fingerprint group."""
    keyed = docs.select("doc_id", content_fp(text_col).alias("fp"))
    is_batch = (F.col("doc_id") % INCREMENTAL_BATCH_MOD) == 0
    corpus = keyed.filter(~is_batch)
    batch = keyed.filter(is_batch)

    bits = (corpus.select(F.explode(F.array(*_bloom_positions(F.col("fp"))))
                          .alias("pos"))
            .distinct()
            .withColumn("_set", F.lit(True)))
    corpus_fps = corpus.select("fp").distinct().withColumn("_dup", F.lit(True))

    probe = (batch
             .select("doc_id", "fp",
                     F.posexplode(F.array(*_bloom_positions(F.col("fp"))))
                     .alias("h", "pos"))
             .join(F.broadcast(bits), "pos", "left")
             .groupBy("doc_id", "fp")
             .agg((F.count(F.when(F.col("_set"), F.lit(1)))
                   == F.lit(BLOOM_HASHES)).alias("bloom_hit")))
    return (probe.join(F.broadcast(corpus_fps), "fp", "left")
            .select("doc_id", "bloom_hit",
                    F.coalesce(F.col("_dup"), F.lit(False)).alias("exact_dup"),
                    (F.col("bloom_hit")
                     & ~F.coalesce(F.col("_dup"), F.lit(False)))
                    .alias("false_positive")))


def dedup_bloom_probe_oracle() -> str:
    """DuckDB oracle: identical md5 windows, mod, set-bit distinct,
    3-position probe, and exact anti-join — COUNT FILTER vs the
    HUGEINT-free equality."""
    pos_exprs = ", ".join(
        f"('0x' || substr(fp, {1 + 8 * h}, 8))::BIGINT % {BLOOM_BITS}"
        for h in range(BLOOM_HASHES))
    return f"""
    WITH keyed AS (
      SELECT doc_id, {DUCK_CONTENT_FP} AS fp
      FROM documents
    ),
    corpus AS (SELECT * FROM keyed WHERE doc_id % {INCREMENTAL_BATCH_MOD} != 0),
    batch  AS (SELECT * FROM keyed WHERE doc_id % {INCREMENTAL_BATCH_MOD} = 0),
    bits AS (
      SELECT DISTINCT unnest([{pos_exprs}]) AS pos FROM corpus
    ),
    corpus_fps AS (SELECT DISTINCT fp FROM corpus),
    probe AS (
      SELECT b.doc_id, b.fp,
             (COUNT(*) FILTER (WHERE bits.pos IS NOT NULL)
              = {BLOOM_HASHES}) AS bloom_hit
      FROM (SELECT doc_id, fp, unnest([{pos_exprs}]) AS p FROM batch) b
      LEFT JOIN bits ON bits.pos = b.p
      GROUP BY b.doc_id, b.fp
    )
    SELECT p.doc_id, p.bloom_hit,
           (c.fp IS NOT NULL) AS exact_dup,
           (p.bloom_hit AND c.fp IS NULL) AS false_positive
    FROM probe p LEFT JOIN corpus_fps c ON c.fp = p.fp
    """


# --- minhash estimator calibration audit -------------------------------------
#
# The estimator-vs-truth audit for the minhash family: for every
# LSH-verified near-dup pair, the signature-agreement Jaccard estimate
# (agreeing components / 16) next to the exact Jaccard the verify step
# computed — certifying, under the driver's value hash, that the
# estimator the banding THEORY relies on is calibrated on this corpus
# (E[agreement fraction] = J).


def minhash_calibration(docs: DataFrame) -> DataFrame:
    """(doc_a, doc_b, exact_jaccard, est_micro, err_micro) over the
    certified LSH-verified pair set.

    Scale shape: composes two certified linear fragments — the
    verified pairs (banded, never all-pairs) and the per-doc
    16-component signature frame — through two equi-joins keyed on
    doc id; the agreement count is a fixed 16-term map expression.
    All error arithmetic in exact BIGINT micro-units: est_micro =
    floor(agreements * 1000000.0 / 16 + 0.5), exact_micro =
    floor(jaccard * 1000000.0 + 0.5) on the 6dp-rounded jaccard both
    engines share.

    The signature frame derives from the SAME materialized shingle
    index minhash_lsh_pairs builds (identical plan -> the _materialize
    memo shares one persisted frame; r16 review — a fresh
    minhash_signatures(docs) call here re-ran the whole corpus
    shingle explode a second time per run). MIN per hash is
    duplicate-insensitive, so signatures off the (doc_id, nsh,
    shingle) index equal minhash_signatures' exactly — the planted
    identical-pair test pins est_micro == 1e6 either way."""
    pairs = minhash_lsh_pairs(docs)
    sh_idx = _materialize(
        shingles(docs)
        .select("doc_id", F.size("_shingles").alias("nsh"),
                F.explode("_shingles").alias("shingle")))
    sigs = _materialize(_signatures_from_shingles(sh_idx))
    sa = sigs.select(F.col("doc_id").alias("doc_a"),
                     *[F.col(f"mh{i}").alias(f"a{i}")
                       for i in range(NUM_HASHES)])
    sb = sigs.select(F.col("doc_id").alias("doc_b"),
                     *[F.col(f"mh{i}").alias(f"b{i}")
                       for i in range(NUM_HASHES)])
    agr = None
    for i in range(NUM_HASHES):
        term = F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0)
        agr = term if agr is None else agr + term
    est = F.floor(agr * F.lit(1000000.0) / F.lit(float(NUM_HASHES))
                  + F.lit(0.5)).cast("bigint")
    exact = F.floor(F.col("jaccard") * F.lit(1000000.0)
                    + F.lit(0.5)).cast("bigint")
    return (pairs.join(sa, "doc_a").join(sb, "doc_b")
            .select("doc_a", "doc_b",
                    F.col("jaccard").alias("exact_jaccard"),
                    est.alias("est_micro"),
                    F.abs(est - exact).alias("err_micro")))


def dedup_minhash_calibration_oracle() -> str:
    """DuckDB oracle: the sh/xs/sig chain is declared ONCE and shared by
    the pair recipe (spliced via ``_duck_pair_ctes`` /
    ``_duck_pair_select``) AND both signature lookups — the 16-term
    agreement sum + micro-unit rounding are spelled identically to the
    engine. (ADVICE r16: the previous spelling nested the entire minhash
    oracle — which declares its own sh/xs/sig — inside mh_pairs and then
    redeclared the chain at the outer scope, computing the
    shingle/signature work twice and shadowing the CTE names; this
    mirrors the engine's r16 fix of deriving signatures from the same
    materialized shingle index.)"""
    agr = " + ".join(
        f"(CASE WHEN a.mh{i} = b.mh{i} THEN 1 ELSE 0 END)"
        for i in range(NUM_HASHES))
    return f"""
    WITH {_duck_sig_ctes()}, {_duck_pair_ctes()},
    mh_pairs AS (
      {_duck_pair_select()}
    )
    SELECT p.doc_a, p.doc_b,
           p.jaccard AS exact_jaccard,
           CAST(floor(({agr}) * 1000000.0 / {float(NUM_HASHES)} + 0.5)
                AS BIGINT) AS est_micro,
           abs(CAST(floor(({agr}) * 1000000.0 / {float(NUM_HASHES)} + 0.5)
                    AS BIGINT)
               - CAST(floor(p.jaccard * 1000000.0 + 0.5) AS BIGINT))
             AS err_micro
    FROM mh_pairs p
      JOIN sig a ON a.doc_id = p.doc_a
      JOIN sig b ON b.doc_id = p.doc_b
    """


@query("dedup_bloom_probe", oracle=dedup_bloom_probe_oracle())
def dedup_bloom_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Bloom seen-before sketch audit over the 90/10 corpus/batch
    split of the fixture documents."""
    return bloom_probe_audit(load_table(spark, sf_dir, "documents"))


@query("dedup_minhash_calibration",
       oracle=dedup_minhash_calibration_oracle())
def dedup_minhash_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The minhash estimator-vs-truth calibration audit over the
    LSH-verified pair set of the fixture documents."""
    return minhash_calibration(load_table(spark, sf_dir, "documents"))
