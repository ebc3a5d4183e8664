"""Training-corpus sampling and packing operators.

Both are deterministic by construction — no RNG state, no
partition-order dependence — which is what a reproducible 100 TB data
pipeline actually wants (re-running a sample job must select the SAME
documents), and what lets them run under the DuckDB value-hash oracle.

  - hash-bucket sampling: a keyed md5 bucket in [0, 100) with a
    per-stratum rate — the standard "downsample the dominant language"
    curation step. Pure map-side filter: no shuffle, no sort, and the
    selection is stable under repartitioning/retries (unlike
    df.sample(), whose Bernoulli draw depends on partition layout).
  - sequence packing: assign consecutive docs (per source shard) to
    fixed token-budget packs via a running token sum — the standard
    pre-tokenization packing pass. One window per shard, no global
    sort: partitionBy(source) keeps the window parallel at corpus
    scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from coursera_etl_pipeline_spark.catalog import load_table
from coursera_etl_pipeline_spark.llm_ops.text import URL_HOST_RE
from coursera_etl_pipeline_spark.registry import query

# per-language keep-rate out of 100 (downsample the dominant stratum)
SAMPLE_RATES = {"en": 20, "default": 60}
PACK_BUDGET = 2048  # tokens per pack


def hash_bucket(col) -> F.Column:
    """Deterministic bucket in [0, 100): first 8 md5 hex chars of the
    key, mod 100 — identical in DuckDB, stable across engines/runs."""
    return (F.conv(F.substring(F.md5(col.cast("string")), 1, 8), 16, 10)
            .cast("bigint") % 100)


@query(
    "sample_stratified_hash",
    oracle=f"""
    SELECT doc_id, lang
    FROM documents
    WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100
          < CASE WHEN lang = 'en' THEN {SAMPLE_RATES['en']}
                 ELSE {SAMPLE_RATES['default']} END
    """,
)
def sample_stratified_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified deterministic sampling: keep 20% of English docs and
    60% of everything else, selected by id-hash bucket. Reproducible
    and shuffle-free — the curation primitive for rebalancing a
    training corpus."""
    d = load_table(spark, sf_dir, "documents")
    rate = F.when(F.col("lang") == "en", F.lit(SAMPLE_RATES["en"])) \
            .otherwise(F.lit(SAMPLE_RATES["default"]))
    return d.filter(hash_bucket(F.col("doc_id")) < rate).select("doc_id", "lang")


@query(
    "text_pack_sequences",
    oracle=f"""
    WITH toks AS (
      SELECT source, doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
      FROM documents
    ), cum AS (
      SELECT source, doc_id, n_tok,
             SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                              ROWS UNBOUNDED PRECEDING) AS cum_tok
      FROM toks
    )
    SELECT source, doc_id, n_tok,
           CAST(floor((cum_tok - n_tok) / {PACK_BUDGET}) AS BIGINT) AS pack_id
    FROM cum
    """,
)
def text_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: consecutive docs within each source shard are
    assigned to {PACK_BUDGET}-token packs by their running token count
    (pack = floor(tokens-before-this-doc / budget)). Windows partition
    by source, so packing parallelizes across shards at corpus scale
    instead of forcing one global sort."""
    d = load_table(spark, sf_dir, "documents")
    w = (Window.partitionBy("source").orderBy("doc_id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    toks = d.select(
        "source", "doc_id",
        F.size(F.split("text", " ")).cast("bigint").alias("n_tok"))
    return (
        toks.withColumn("cum_tok", F.sum("n_tok").over(w))
        .select("source", "doc_id", "n_tok",
                F.floor((F.col("cum_tok") - F.col("n_tok")) / PACK_BUDGET)
                .cast("bigint").alias("pack_id"))
    )


# Corpus-mixing target weights: heavier-weighted sources should make up
# proportionally more of the mixed corpus. Derived from the source name
# (even-numbered sources weigh 3, odd 1) so the weight map needs no
# literal table and works at every fixture scale.
MIX_W_EVEN = 3
MIX_W_ODD = 1


@query(
    "sample_corpus_mix",
    # SUM over BIGINT is HUGEINT in DuckDB (the similarity_lsh r9
    # lesson) -> every summed column is CAST back to BIGINT. The
    # rate arithmetic 100.0 * c_max * w / total_toks is written with
    # the same left-associative operator order on both engines:
    # identical exact integer inputs -> identical IEEE doubles ->
    # identical floor, so the integer keep-rate can't diverge.
    oracle=f"""
    WITH d AS (
      SELECT source, doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
      FROM documents
    ), totals AS (
      SELECT source, CAST(SUM(n_tok) AS BIGINT) AS total_toks,
             CASE WHEN CAST(substr(source, 4) AS INTEGER) % 2 = 0
                  THEN {MIX_W_EVEN} ELSE {MIX_W_ODD} END AS w
      FROM d GROUP BY source
    ), c AS (
      SELECT MIN(total_toks / w) AS c_max FROM totals
    ), rates AS (
      SELECT source, total_toks, w,
             LEAST(CAST(100 AS BIGINT),
                   CAST(floor(100.0 * c_max * w / total_toks) AS BIGINT))
               AS rate_pct
      FROM totals, c
    ), kept AS (
      SELECT d.source, COUNT(*) AS kept_docs,
             CAST(SUM(d.n_tok) AS BIGINT) AS kept_toks
      FROM d JOIN rates r ON d.source = r.source
      WHERE ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT
            % 100 < r.rate_pct
      GROUP BY d.source
    )
    SELECT r.source, r.total_toks, r.rate_pct,
           COALESCE(k.kept_docs, CAST(0 AS BIGINT)) AS kept_docs,
           COALESCE(k.kept_toks, CAST(0 AS BIGINT)) AS kept_toks
    FROM rates r LEFT JOIN kept k ON r.source = k.source
    """,
)
def sample_corpus_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus mixing to target proportions — the data-mixing step a
    training pipeline runs before packing: given per-source weights,
    find the largest feasible mixed corpus (c_max = min over sources
    of total_tokens/weight, so no source is oversampled past 100%),
    derive each source's integer keep-rate, and apply it as the same
    deterministic md5-bucket filter `sample_stratified_hash` uses.
    Unlike that op's FIXED rates, the rates here are DERIVED from
    corpus statistics, which is what real mixing (rebalancing a
    heavy-crawl corpus against curated sources) requires.

    Scale shape: two corpus passes (the totals aggregate, then the
    filtered kept aggregate), each a partial map-side combine
    shuffling only ~|sources| keys; a 1-row scalar reduction; a
    broadcast join of the tiny rate table back onto the corpus; and a
    map-side filter — no corpus-wide shuffle of row data anywhere.
    Every post-corpus join (rates x c_max, rates x kept) is between
    |sources|-row frames and broadcast-hinted. The output is the
    per-source audit summary (rates + realized counts), so the
    certified result covers the whole computation."""
    d = load_table(spark, sf_dir, "documents").select(
        "source", "doc_id",
        F.size(F.split("text", " ")).cast("bigint").alias("n_tok"))
    w = (F.when(F.substring("source", 4, 10).cast("int") % 2 == 0,
                F.lit(MIX_W_EVEN)).otherwise(F.lit(MIX_W_ODD)))
    totals = (d.groupBy("source")
              .agg(F.sum("n_tok").alias("total_toks"))
              .withColumn("w", w))
    c_row = totals.agg(
        F.min(F.col("total_toks") / F.col("w")).alias("c_max"))
    rates = (
        totals.crossJoin(F.broadcast(c_row))
        .select(
            "source", "total_toks",
            F.least(
                F.lit(100).cast("bigint"),
                F.floor(F.lit(100.0) * F.col("c_max") * F.col("w")
                        / F.col("total_toks")).cast("bigint"))
            .alias("rate_pct")))
    kept = (
        d.join(F.broadcast(rates), "source")
        .filter(hash_bucket(F.col("doc_id")) < F.col("rate_pct"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("kept_docs"),
             F.sum("n_tok").alias("kept_toks")))
    return (
        rates.join(F.broadcast(kept), "source", "left")
        .select("source", "total_toks", "rate_pct",
                F.coalesce("kept_docs", F.lit(0).cast("bigint"))
                .alias("kept_docs"),
                F.coalesce("kept_toks", F.lit(0).cast("bigint"))
                .alias("kept_toks"))
    )


# --- leakage-safe train/val/test split (round 14) -----------------------------
#
# Splitting AFTER dedup is not enough when near/exact duplicates
# survive (or when the split must be assigned before the dedup pass
# runs): assigning splits per-document leaks duplicated content across
# the train/test boundary. The standard fix is to hash a GROUP
# representative, not the document — every member of a duplicate
# group lands in the same split by construction.

SPLIT_TRAIN_PCT = 80   # bucket < 80            -> train
SPLIT_VAL_PCT = 90     # 80 <= bucket < 90      -> val; else test


def split_assign(docs: DataFrame, key=None) -> DataFrame:
    """Assign train/val/test by md5 bucket of the duplicate-group
    representative: group docs by `key` (default md5(text) — the
    exact-dup fingerprint; pass a minhash cluster id for near-dup
    coherence), take min(doc_id) as the group rep, bucket the REP.

    Scale shape: one hash-aggregate on the fingerprint (min = O(1)
    state, map-side partial), equi-join back on fp (AQE handles the
    hot-duplicate skew), map-side bucket arithmetic — never a global
    sort or RNG (df.randomSplit would both leak duplicates AND change
    under repartitioning)."""
    key = F.md5(F.col("text")) if key is None else key
    # NULL keys (NULL text, or a NULL cluster id passed as `key`)
    # would form a NULL-fp group the equi-join back can never match —
    # the doc would silently get NO split at all (review r14). Fall
    # back to a per-doc key: a doc with no content carries no
    # leakage evidence, so it splits independently.
    key = F.coalesce(
        key, F.concat(F.lit("__null_key__"), F.col("doc_id").cast("string")))
    keyed = docs.select("doc_id", key.alias("fp"))
    rep = keyed.groupBy("fp").agg(F.min("doc_id").alias("_rep"))
    b = hash_bucket(F.col("_rep"))
    return (keyed.join(rep, "fp")
            .select(
                "doc_id",
                F.when(b < SPLIT_TRAIN_PCT, F.lit("train"))
                .when(b < SPLIT_VAL_PCT, F.lit("val"))
                .otherwise(F.lit("test")).alias("split")))


@query(
    "sample_split_leakage_safe",
    oracle=f"""
    WITH keyed AS (
      SELECT doc_id,
             coalesce(md5(text),
                      '__null_key__' || CAST(doc_id AS VARCHAR)) AS fp
      FROM documents
    ),
    rep AS (
      SELECT fp,
             ('0x' || substr(md5(CAST(min(doc_id) AS VARCHAR)), 1, 8))
               ::BIGINT % 100 AS b
      FROM keyed GROUP BY fp
    )
    SELECT k.doc_id,
           CASE WHEN r.b < {SPLIT_TRAIN_PCT} THEN 'train'
                WHEN r.b < {SPLIT_VAL_PCT} THEN 'val'
                ELSE 'test' END AS split
    FROM keyed k JOIN rep r USING (fp)
    """,
)
def sample_split_leakage_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic leakage-safe train/val/test split (80/10/10 by
    hash bucket of each exact-duplicate group's min-doc_id
    representative): duplicate documents can never straddle a split
    boundary, re-runs select identical splits, and the assignment is
    partition-layout-independent — none of which df.randomSplit
    guarantees."""
    return split_assign(load_table(spark, sf_dir, "documents"))


# --- per-source token budget cap (round 14) ------------------------------------
#
# RefinedWeb/Gopher-style DOMAIN capping: no single source (domain,
# crawl host, data vendor) may contribute more than a fixed token
# budget to the corpus, so one over-crawled site cannot dominate the
# mixture. Deterministic rule: docs are admitted in doc_id order
# until the source's running token total crosses the cap.

SOURCE_TOKEN_CAP = 500


def cap_source_tokens(docs: DataFrame,
                      cap: int = SOURCE_TOKEN_CAP) -> DataFrame:
    """Keep each source's doc_id-ordered prefix whose cumulative token
    count stays within `cap` (the doc that crosses the cap is
    dropped, as are all later docs of that source).

    Scale shape: ONE window partitioned by source — a shuffle on the
    source key plus an in-partition sort, both bounded by per-domain
    volume, never a global sort. A pathologically hot domain is
    exactly the row this operator exists to truncate, and the window
    still only sorts THAT domain's rows; a two-phase approximate cap
    (count-then-rate) trades exactness for removing even that sort —
    recorded alternative, not taken: caps are small by construction
    (the cap IS the bound on useful work per domain).

    NULL-text docs count zero tokens and stay admitted (ADVICE r14):
    without the coalesce their NULL cum_tokens fails the <= filter and
    the doc vanishes — neither kept nor budget-charged — the same
    silent-row-loss class split_assign/dedup_by_canonical_url fixed."""
    n_tok = F.coalesce(F.size(F.split("text", " ")), F.lit(0)).cast("bigint")
    w = (Window.partitionBy("source").orderBy("doc_id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (docs
            .select("doc_id", "source", n_tok.alias("n_tokens"))
            .withColumn("cum_tokens", F.sum("n_tokens").over(w))
            .filter(F.col("cum_tokens") <= cap))


@query(
    "sample_source_token_cap",
    # The windowed SUM is CAST back to BIGINT: DuckDB types ANY integer
    # SUM — including windowed — as HUGEINT, which value-matches but
    # hash-diverges from Spark's BIGINT (the r9 similarity_lsh lesson;
    # this exact column was the r14 red row). COALESCE mirrors the
    # engine's NULL-text-counts-zero rule.
    oracle=f"""
    WITH cum AS (
      SELECT doc_id, source,
             COALESCE(CAST(len(string_split(text, ' ')) AS BIGINT),
                      0) AS n_tokens,
             CAST(SUM(COALESCE(CAST(len(string_split(text, ' ')) AS BIGINT),
                               0))
               OVER (PARTITION BY source ORDER BY doc_id
                     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
      FROM documents
    )
    SELECT doc_id, source, n_tokens, cum_tokens
    FROM cum WHERE cum_tokens <= {SOURCE_TOKEN_CAP}
    """,
)
def sample_source_token_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token budget cap: each source contributes its
    doc_id-ordered prefix of at most SOURCE_TOKEN_CAP tokens — the
    anti-domination guard every large-corpus mixture applies before
    computing mixing weights."""
    return cap_source_tokens(load_table(spark, sf_dir, "documents"))


# --- MinHash-coherent train/val/test split (round 15) ---------------------------
#
# The near-dup-coherent upgrade `split_assign`'s docstring anticipates:
# instead of grouping by the exact-dup fingerprint md5(text), group by
# the doc's FULL 16-value minhash signature. Exact duplicates AND
# high-Jaccard near-duplicates (which collide on all 16 minhashes with
# probability j^16) land in the same group, so reworded copies of one
# page cannot straddle the train/test boundary.


def split_assign_minhash(docs: DataFrame) -> DataFrame:
    """Leakage-safe split keyed by the full minhash signature.

    Scale shape: signature computation is the certified linear
    minhash pass (one shingle explode + one 16-min hash-aggregate);
    the signature key then rides the same O(1)-state rep aggregate +
    equi-join-back as `split_assign`. Docs too short to shingle
    (< MINHASH_SHINGLE_N tokens; shared `shingles` requires >= n —
    the guard is DERIVED from that constant, r15 review) are filtered
    out of the signature pass, get NO signature (left join -> NULL
    key), and fall back to split_assign's per-doc key — split
    independently, never lost or errored."""
    from coursera_etl_pipeline_spark.llm_ops.dedup import (
        MINHASH_SHINGLE_N,
        NUM_HASHES,
        minhash_signatures,
    )

    sigs = minhash_signatures(
        docs.filter(F.size(F.split("text", " ")) >= MINHASH_SHINGLE_N))
    sig_key = F.md5(F.concat_ws(
        ",", *[F.col(f"mh{i}") for i in range(NUM_HASHES)]))
    keyed = docs.join(
        sigs.select("doc_id", sig_key.alias("_sig")), "doc_id", "left")
    return split_assign(keyed, key=F.col("_sig"))


def _duck_minhash_sig_sql() -> str:
    """DuckDB CTEs computing (doc_id, sig): md5 of the comma-joined
    16-value minhash signature — the oracle mirror of
    `split_assign_minhash`'s key. The sh/xs/sig block is dedup's
    SHARED `_duck_sig_ctes` (r15 review: a private copy of the
    signature recipe could silently drift from the engine it
    certifies); this wrapper only adds the md5 key."""
    from coursera_etl_pipeline_spark.llm_ops.dedup import (
        NUM_HASHES,
        _duck_sig_ctes,
    )

    concat = " || ',' || ".join(
        f"CAST(mh{i} AS VARCHAR)" for i in range(NUM_HASHES))
    return f"""
    {_duck_sig_ctes()},
    sigkey AS (
      SELECT doc_id, md5({concat}) AS sig FROM sig
    )"""


@query(
    "sample_split_minhash",
    oracle=f"""
    WITH {_duck_minhash_sig_sql()},
    keyed AS (
      SELECT d.doc_id,
             coalesce(s.sig,
                      '__null_key__' || CAST(d.doc_id AS VARCHAR)) AS fp
      FROM documents d LEFT JOIN sigkey s USING (doc_id)
    ),
    rep AS (
      SELECT fp,
             ('0x' || substr(md5(CAST(min(doc_id) AS VARCHAR)), 1, 8))
               ::BIGINT % 100 AS b
      FROM keyed GROUP BY fp
    )
    SELECT k.doc_id,
           CASE WHEN r.b < {SPLIT_TRAIN_PCT} THEN 'train'
                WHEN r.b < {SPLIT_VAL_PCT} THEN 'val'
                ELSE 'test' END AS split
    FROM keyed k JOIN rep r USING (fp)
    """,
)
def sample_split_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-signature train/val/test split: near-duplicate groups
    (identical 16-value minhash signatures) share one split, so
    reworded copies cannot leak across the boundary — the near-dup
    upgrade of `sample_split_leakage_safe`."""
    return split_assign_minhash(load_table(spark, sf_dir, "documents"))


# --- temperature-smoothed domain reweighting (round 15) -------------------------
#
# The multilingual/DoReMi-style mixture step: downweight dominant
# domains by sampling hosts proportional to share^alpha (alpha = 0.5
# here, spelled sqrt — IEEE-correctly-rounded, so cross-engine exact)
# instead of raw share. Hosts come from the shared URL_HOST_RE parse
# (text_url_host_filter's extraction), weights are derived from
# observed token shares — the data-derived cousin of
# `sample_corpus_mix`'s fixed name-parity weights.

TEMP_MIX_MICRO = 1_000_000_000.0  # sqrt(share) rounded to nano-units


def domain_reweight(docs: DataFrame, url_col: str = "url") -> DataFrame:
    """Per-host temperature mixture audit: integer weights
    w = round(sqrt(token_share) * 1e9), the largest feasible mixed
    corpus c_max = min(tokens/w) (no host oversampled past 100%), the
    md5-bucket keep-rate that realizes it, and the realized counts.

    Float determinism: sqrt IS correctly rounded (IEEE 754), and the
    one cross-row float reduction (MIN of identical doubles) is
    order-free, so no decimal accumulator is needed; the weight is
    rounded to an exact BIGINT before any arithmetic that feeds the
    keep decision. GREATEST(w, 1) guards the degenerate sub-ppb host.
    The rate is spelled 100.0 * (c_max / (total/w)) — dividing FIRST
    — so the BINDING host (whose total/w IS the c_max double, min()
    returns an element) computes c_max/c_max = exactly 1.0 and lands
    on exactly 100. Both the original multiply-out form
    (100*c_max*w/total) AND the half-fixed (100*c_max)/(total/w)
    round one ulp below 100 on real inputs and floor the feasible
    maximum to 99 — the second failure was caught by the planted
    test, not by inspection (r15 review + test iteration).

    NULL-url docs get the unforgeable '/null-host/' group ('/' cannot
    appear in a host capture): without the coalesce their tokens
    would still be charged into the grand total while the rate
    equi-join back silently dropped every such doc — kept=0 at
    rate=100, the r14 NULL-join-key row-loss class (r15 review).

    Scale shape: identical to sample_corpus_mix — two |hosts|-key
    aggregates over one corpus pass each, a 1-row reduction, broadcast
    joins of the tiny rate table, and a map-side deterministic
    filter; no corpus-wide data shuffle anywhere."""
    d = docs.select(
        F.coalesce(
            F.lower(F.regexp_extract(F.col(url_col), URL_HOST_RE, 1)),
            F.lit("/null-host/")).alias("host"),
        "doc_id",
        F.coalesce(F.size(F.split("text", " ")), F.lit(0)).cast("bigint")
        .alias("n_tok"))
    totals = d.groupBy("host").agg(F.sum("n_tok").alias("total_toks"))
    grand = totals.agg(F.sum("total_toks").alias("_grand"))
    weighted = (
        totals.crossJoin(F.broadcast(grand))
        .select(
            "host", "total_toks",
            F.greatest(
                F.floor(F.sqrt(F.col("total_toks") * 1.0 / F.col("_grand"))
                        * TEMP_MIX_MICRO + 0.5).cast("bigint"),
                F.lit(1).cast("bigint")).alias("w")))
    # total_toks * 1.0 / w spelled IDENTICALLY here and in the rate
    # denominator below: the binding host's denominator is then the
    # very double min() returned, making its rate exactly 100.0
    c_row = weighted.agg(
        F.min(F.col("total_toks") * 1.0 / F.col("w")).alias("c_max"))
    rates = (
        weighted.crossJoin(F.broadcast(c_row))
        .select(
            "host", "total_toks", "w",
            F.least(
                F.lit(100).cast("bigint"),
                F.floor(F.lit(100.0)
                        * (F.col("c_max")
                           / (F.col("total_toks") * 1.0 / F.col("w"))))
                .cast("bigint"))
            .alias("rate_pct")))
    kept = (
        d.join(F.broadcast(rates), "host")
        .filter(hash_bucket(F.col("doc_id")) < F.col("rate_pct"))
        .groupBy("host")
        .agg(F.count(F.lit(1)).alias("kept_docs"),
             F.sum("n_tok").alias("kept_toks")))
    return (
        rates.join(F.broadcast(kept), "host", "left")
        .select("host", "total_toks", "w", "rate_pct",
                F.coalesce("kept_docs", F.lit(0).cast("bigint"))
                .alias("kept_docs"),
                F.coalesce("kept_toks", F.lit(0).cast("bigint"))
                .alias("kept_toks"))
    )


@query(
    "sample_domain_reweight",
    # Same URL synthesis as text_url_host_filter; every SUM CAST back
    # to BIGINT (HUGEINT lesson); sqrt/floor/min/least arithmetic
    # spelled left-associative identically to the engine.
    oracle=f"""
    WITH u AS (
      SELECT doc_id,
             COALESCE(CAST(len(string_split(text, ' ')) AS BIGINT), 0)
               AS n_tok,
             COALESCE(lower(regexp_extract(
               'https://' || source || '.example.org/' || lang
                          || '/doc-' || doc_id,
               '{URL_HOST_RE}', 1)), '/null-host/') AS host
      FROM documents
    ),
    totals AS (
      SELECT host, CAST(SUM(n_tok) AS BIGINT) AS total_toks
      FROM u GROUP BY host
    ),
    grand AS (SELECT CAST(SUM(total_toks) AS BIGINT) AS g FROM totals),
    weighted AS (
      SELECT host, total_toks,
             GREATEST(
               CAST(floor(sqrt(total_toks * 1.0 / g)
                          * {TEMP_MIX_MICRO} + 0.5) AS BIGINT),
               CAST(1 AS BIGINT)) AS w
      FROM totals, grand
    ),
    c AS (SELECT MIN(total_toks * 1.0 / w) AS c_max FROM weighted),
    rates AS (
      SELECT host, total_toks, w,
             LEAST(CAST(100 AS BIGINT),
                   CAST(floor(100.0 * (c_max / (total_toks * 1.0 / w)))
                        AS BIGINT)) AS rate_pct
      FROM weighted, c
    ),
    kept AS (
      SELECT u.host, COUNT(*) AS kept_docs,
             CAST(SUM(u.n_tok) AS BIGINT) AS kept_toks
      FROM u JOIN rates r ON u.host = r.host
      WHERE ('0x' || substr(md5(CAST(u.doc_id AS VARCHAR)), 1, 8))::BIGINT
            % 100 < r.rate_pct
      GROUP BY u.host
    )
    SELECT r.host, r.total_toks, r.w, r.rate_pct,
           COALESCE(k.kept_docs, CAST(0 AS BIGINT)) AS kept_docs,
           COALESCE(k.kept_toks, CAST(0 AS BIGINT)) AS kept_toks
    FROM rates r LEFT JOIN kept k ON r.host = k.host
    """,
)
def sample_domain_reweight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-smoothed domain mixture (share^0.5): parse each
    doc's host with the shared URL_HOST_RE, derive integer
    sqrt-share weights, find the largest feasible mixed corpus, and
    realize it with the deterministic md5-bucket filter — emits the
    per-host audit (weights, rates, realized counts)."""
    docs = (load_table(spark, sf_dir, "documents")
            .withColumn(
                "url",
                F.concat(F.lit("https://"), F.col("source"),
                         F.lit(".example.org/"), F.col("lang"),
                         F.lit("/doc-"), F.col("doc_id").cast("string"))))
    return domain_reweight(docs)


# --- curriculum quality-mix sampling -----------------------------------------

# keep-rate per quality quartile, descending with quality: the top
# tier is kept whole, the bottom quarter is sampled at 25% — the
# standard curriculum/quality-weighted mixture.
QUALITY_MIX_RATES = {0: 25, 1: 50, 2: 75, 3: 100}


def quality_mix(binned: DataFrame) -> DataFrame:
    """Per-bin curriculum sampling audit over a (doc_id, quality_bin)
    frame: apply the bin's keep-rate as the deterministic md5-bucket
    filter and emit (quality_bin, rate_pct, total_docs, kept_docs).

    Scale shape: the bin CASE and bucket filter are map-side; the
    audit is one 4-key hash-aggregate — nothing shuffles corpus rows
    beyond what quality_bins itself certified."""
    rate = F.coalesce(
        *[F.when(F.col("quality_bin") == b, F.lit(r))
          for b, r in QUALITY_MIX_RATES.items()]).cast("bigint")
    kept = hash_bucket(F.col("doc_id")) < F.col("rate_pct")
    return (binned
            .withColumn("rate_pct", rate)
            .groupBy("quality_bin", "rate_pct")
            .agg(F.count(F.lit(1)).alias("total_docs"),
                 F.count(F.when(kept, F.lit(1))).alias("kept_docs")))


def sample_quality_mix_oracle() -> str:
    """DuckDB oracle: the certified text_quality_binning oracle nests as
    one CTE (zero duplication — the binning recipe cannot drift), then
    the same CASE rates, bucket filter, and 4-row audit."""
    from coursera_etl_pipeline_spark.registry import ORACLE

    cases = " ".join(f"WHEN {b} THEN {r}"
                     for b, r in QUALITY_MIX_RATES.items())
    return f"""
    WITH binned AS ({ORACLE['text_quality_binning']}),
    rated AS (
      SELECT doc_id, quality_bin,
             CAST(CASE quality_bin {cases} END AS BIGINT) AS rate_pct
      FROM binned
    )
    SELECT quality_bin, rate_pct,
           CAST(COUNT(*) AS BIGINT) AS total_docs,
           CAST(COUNT(*) FILTER (
             WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                   ::BIGINT % 100 < rate_pct) AS BIGINT) AS kept_docs
    FROM rated GROUP BY quality_bin, rate_pct
    """


@query("sample_quality_mix", oracle=sample_quality_mix_oracle())
def sample_quality_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum sampling over the certified quality tiers; this
    wrapper only binds the certified binning."""
    from coursera_etl_pipeline_spark.llm_ops.text import text_quality_binning

    binned = text_quality_binning(spark, sf_dir).select(
        "doc_id", "quality_bin")
    return quality_mix(binned)


# --- DSIR importance weights -------------------------------------------------
#
# Data Selection via Importance Resampling (Xie et al. 2023, public):
# score each raw document by how target-like its hashed n-gram feature
# distribution is — sum over the doc's hashed-bigram features of
# log(p_target(feature) / p_raw(feature)), both distributions add-1
# smoothed over a fixed feature-hash space. High-weight docs are the
# ones importance resampling would keep.

DSIR_BUCKETS = 256          # hashed feature space (production: 10k+)
DSIR_TARGET_LANG = "en"     # fixture proxy for the target corpus


def dsir_importance(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-doc DSIR importance weight in exact integer micro-nats.

    Scale shape: one corpus bigram explode collapses immediately to
    per-(doc, bucket) counts (the feature space is FIXED at
    DSIR_BUCKETS, so the aggregate's state is bounded and map-side
    partials do almost all the work); the bucket log-ratio table is
    DSIR_BUCKETS rows — broadcast by construction; per-doc
    accumulation is an exact BIGINT sum (order-free, the dsum
    discipline). Never a window, never a sort, nothing all-pairs.

    The per-(doc, bucket) frame is MATERIALIZED: it feeds the raw
    counts, the target counts, and the per-doc join-back probe (the
    perplexity/novelty multi-consumer recompute lesson, r15). The
    frame is TRIMMED before the persist (VERDICT r15 item 6 — the
    K=100 cold path paid a one-time 106-134 s persist before settling
    at 2.6-3.5 s warm): `lang` is folded to the 1-byte boolean
    `is_tgt` at aggregation time — the string column existed only to
    feed the target filter, and dropping it cuts the persisted row to
    (bigint, boolean, bigint, bigint). The warm/cold contract stands
    regardless: the first action pays the full corpus explode once;
    every later consumer reads the persisted frame (BASELINE §4).

    ln() parity: the log argument is spelled IDENTICALLY in both
    engines — (ct+1)*1.0/(T+B) over (cr+1)*1.0/(R+B), all-BIGINT
    inputs, IEEE division — and is rounded ONCE per bucket to BIGINT
    micro-nats (the tfidf/perplexity precedent), so every downstream
    sum is exact.

    Docs with <2 tokens (or NULL text) have no bigram features; they
    surface with n_feats=0 and NULL weight via the LEFT join back —
    the r14 no-silent-row-loss convention — never vanish or error."""
    from coursera_etl_pipeline_spark.llm_ops.dedup import _materialize
    from coursera_etl_pipeline_spark.llm_ops.text import LOGP_MICRO

    toks = F.col("_toks")
    grams = F.transform(
        F.sequence(F.lit(1), F.size(toks) - 1),
        lambda i: F.concat(F.element_at(toks, i), F.lit(" "),
                           F.element_at(toks, i + 1)))
    bg = _materialize(
        docs
        # two tokens minimum — also keeps sequence(1, size-1) ascending
        # (sequence(1, 0) would default to step -1 and emit [1, 0])
        .filter(F.size(F.split(text_col, " ")) >= 2)
        .withColumn("_toks", F.split(text_col, " "))
        .select("doc_id",
                # coalesce: NULL lang is non-target, not a third group
                # (one persisted group per (doc, bucket) side, max two)
                F.coalesce(F.col("lang") == DSIR_TARGET_LANG,
                           F.lit(False)).alias("is_tgt"),
                F.explode(grams).alias("gram"))
        .select("doc_id", "is_tgt",
                (F.conv(F.substring(F.md5("gram"), 1, 8), 16, 10)
                 .cast("bigint") % DSIR_BUCKETS).alias("bucket"))
        .groupBy("doc_id", "is_tgt", "bucket")
        .agg(F.count(F.lit(1)).alias("f")))
    raw = bg.groupBy("bucket").agg(F.sum("f").alias("cr"))
    tgt = (bg.filter(F.col("is_tgt"))
           .groupBy("bucket").agg(F.sum("f").alias("ct")))
    counts = (raw.join(tgt, "bucket", "left")
              .select("bucket", "cr",
                      F.coalesce("ct", F.lit(0).cast("bigint")).alias("ct")))
    tot = counts.agg(F.sum("cr").alias("_r"), F.sum("ct").alias("_t"))
    lr = (counts.crossJoin(F.broadcast(tot))
          .select("bucket",
                  F.floor(F.log(
                      ((F.col("ct") + 1) * 1.0
                       / (F.col("_t") + DSIR_BUCKETS))
                      / ((F.col("cr") + 1) * 1.0
                         / (F.col("_r") + DSIR_BUCKETS)))
                      * LOGP_MICRO + 0.5)
                  .cast("bigint").alias("lr_micro")))
    per_doc = (bg.join(F.broadcast(lr), "bucket")
               .groupBy("doc_id")
               .agg(F.sum("f").alias("n_feats"),
                    F.sum(F.col("f") * F.col("lr_micro"))
                    .alias("weight_micro")))
    scored = per_doc.select(
        "doc_id", "n_feats", "weight_micro",
        ((F.col("weight_micro") * 1.0 / F.col("n_feats"))
         / F.lit(LOGP_MICRO)).alias("avg_logratio"))
    return (docs.select("doc_id").join(scored, "doc_id", "left")
            .select("doc_id",
                    F.coalesce("n_feats", F.lit(0).cast("bigint"))
                    .alias("n_feats"),
                    "weight_micro", "avg_logratio"))


def sample_dsir_importance_oracle() -> str:
    """DuckDB oracle: same hashed-bigram buckets, same add-1 smoothed
    log-ratio rounded once per bucket, same exact BIGINT per-doc sum,
    same LEFT-join surfacing. Every SUM CASTs back to BIGINT (DuckDB
    HUGEINT, the r9/r14 lesson); text COALESCEs to '' so NULL-text docs
    take the same no-features path as the engine's size>=2 filter."""
    from coursera_etl_pipeline_spark.llm_ops.text import (
        LOGP_MICRO,
        _decontam_ngram_sql,
    )

    return f"""
    WITH bg AS (
      SELECT doc_id, lang,
             ('0x' || substr(md5(gram), 1, 8))::BIGINT % {DSIR_BUCKETS}
               AS bucket,
             CAST(COUNT(*) AS BIGINT) AS f
      FROM (SELECT doc_id, lang, {_decontam_ngram_sql(2)} AS gram
            FROM (SELECT doc_id, lang,
                         string_split(COALESCE(text, ''), ' ') AS t
                  FROM documents))
      GROUP BY doc_id, lang, bucket
    ),
    raw AS (
      SELECT bucket, CAST(SUM(f) AS BIGINT) AS cr FROM bg GROUP BY bucket
    ),
    tgt AS (
      SELECT bucket, CAST(SUM(f) AS BIGINT) AS ct
      FROM bg WHERE lang = '{DSIR_TARGET_LANG}' GROUP BY bucket
    ),
    counts AS (
      SELECT r.bucket, r.cr, COALESCE(g.ct, 0) AS ct
      FROM raw r LEFT JOIN tgt g USING (bucket)
    ),
    tot AS (
      SELECT CAST(SUM(cr) AS BIGINT) AS r, CAST(SUM(ct) AS BIGINT) AS t
      FROM counts
    ),
    lr AS (
      SELECT bucket,
             CAST(floor(ln(((ct + 1) * 1.0 / (t + {DSIR_BUCKETS}))
                          / ((cr + 1) * 1.0 / (r + {DSIR_BUCKETS})))
                        * {LOGP_MICRO} + 0.5) AS BIGINT) AS lr_micro
      FROM counts, tot
    ),
    per_doc AS (
      SELECT doc_id,
             CAST(SUM(f) AS BIGINT) AS n_feats,
             CAST(SUM(f * lr_micro) AS BIGINT) AS weight_micro
      FROM bg JOIN lr USING (bucket) GROUP BY doc_id
    )
    SELECT d.doc_id,
           COALESCE(p.n_feats, 0) AS n_feats,
           p.weight_micro,
           (p.weight_micro * 1.0 / p.n_feats) / {LOGP_MICRO} AS avg_logratio
    FROM documents d LEFT JOIN per_doc p USING (doc_id)
    """


@query("sample_dsir_importance", oracle=sample_dsir_importance_oracle())
def sample_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights over the fixture corpus."""
    return dsir_importance(load_table(spark, sf_dir, "documents"))


# --- token-budget epoch planning ---------------------------------------------
#
# Data-constrained scaling (Muennighoff et al. 2023, public): when the
# token budget exceeds what a source can supply once, repeat the
# source up to a diminishing-returns cap (~4 epochs) rather than
# over-weighting the big sources. This operator emits the per-source
# plan: available tokens, uniform target share, the (milli-)epoch
# count that realizes it under the cap, and the realized token count.

EPOCH_BUDGET_TOKENS = 200_000   # fixture-scaled total budget
EPOCH_CAP_MILLI = 4_000         # max 4.0 epochs of any one source


def epoch_plan(docs: DataFrame,
               budget: int = EPOCH_BUDGET_TOKENS,
               cap_milli: int = EPOCH_CAP_MILLI) -> DataFrame:
    """Per-source epoch plan under a global token budget.

    Scale shape: ONE per-source hash-aggregate over a single corpus
    pass (map-side partials do the heavy lifting; |sources| keys),
    a 1-row source-count reduction broadcast back (the established
    scalar-threshold crossJoin idiom), then pure map arithmetic —
    no window, no sort, no corpus-row shuffle beyond the aggregate.

    Arithmetic parity: token counts are exact BIGINTs; the two
    divisions (budget share, epoch ratio) are IEEE doubles spelled
    identically in both engines and floored once; every product stays
    far below 2^53 so the double path is exact.

    `avail` is MATERIALIZED (|sources| rows): it feeds both the plan
    rows and the 1-row source-count reduction — unmaterialized, the
    scalar count's branch re-ran the full corpus scan + aggregate
    (the perplexity/novelty multi-consumer recompute class, caught
    by explain during the r15 extended-session growth probe)."""
    from coursera_etl_pipeline_spark.llm_ops.dedup import _materialize

    avail = _materialize(
        docs
        .select("source",
                F.coalesce(F.size(F.split("text", " ")),
                           F.lit(0)).cast("bigint").alias("n_tok"))
        .groupBy("source")
        .agg(F.sum("n_tok").alias("available_toks")))
    nsrc = avail.agg(F.count(F.lit(1)).alias("_nsrc"))
    planned = (avail.crossJoin(F.broadcast(nsrc))
               .select("source", "available_toks",
                       F.floor(F.lit(budget) * 1.0 / F.col("_nsrc"))
                       .cast("bigint").alias("target_toks")))
    # GREATEST(avail, 1) guards the degenerate all-NULL-text source
    # (the domain_reweight w>=1 precedent) — the cap bounds its epochs
    epochs = F.least(
        F.lit(cap_milli).cast("bigint"),
        F.floor(F.col("target_toks") * 1000.0
                / F.greatest(F.col("available_toks"),
                             F.lit(1).cast("bigint")))
        .cast("bigint"))
    return (planned
            .withColumn("epochs_milli", epochs)
            .withColumn("realized_toks",
                        F.floor(F.col("available_toks")
                                * F.col("epochs_milli") / 1000.0)
                        .cast("bigint"))
            .withColumn("capped", F.col("epochs_milli") == cap_milli))


def sample_epoch_plan_oracle() -> str:
    """DuckDB oracle: same one aggregate, same 1-row source count, same
    floored IEEE divisions, every SUM cast to BIGINT."""
    return f"""
    WITH avail AS (
      SELECT source,
             CAST(SUM(COALESCE(len(string_split(text, ' ')), 0)) AS BIGINT)
               AS available_toks
      FROM documents GROUP BY source
    ),
    nsrc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM avail),
    planned AS (
      SELECT source, available_toks,
             CAST(floor({EPOCH_BUDGET_TOKENS} * 1.0 / n) AS BIGINT)
               AS target_toks
      FROM avail, nsrc
    ),
    e AS (
      SELECT source, available_toks, target_toks,
             LEAST(CAST({EPOCH_CAP_MILLI} AS BIGINT),
                   CAST(floor(target_toks * 1000.0
                              / GREATEST(available_toks, 1))
                        AS BIGINT)) AS epochs_milli
      FROM planned
    )
    SELECT source, available_toks, target_toks, epochs_milli,
           CAST(floor(available_toks * epochs_milli / 1000.0) AS BIGINT)
             AS realized_toks,
           epochs_milli = {EPOCH_CAP_MILLI} AS capped
    FROM e
    """


@query("sample_epoch_plan", oracle=sample_epoch_plan_oracle())
def sample_epoch_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-constrained epoch planning over the fixture corpus."""
    return epoch_plan(load_table(spark, sf_dir, "documents"))


# --- purged temporal holdout -------------------------------------------------
#
# Time-based train/test split with an embargo gap — the standard
# leakage guard when the data has a time axis (evaluation rows must
# postdate every training row by at least the embargo, so latent
# processes spanning the boundary can't leak). Complements the two
# content-keyed splits (sample_split_leakage_safe, sample_split_minhash)
# with the TEMPORAL leakage axis, over the events table.

TEMPORAL_TEST_PCT = 20            # last 20% of the observed time range
TEMPORAL_EMBARGO_US = 3_600_000_000  # 1h purge gap before the test era


def temporal_holdout(events: DataFrame, ts_col: str = "ts") -> DataFrame:
    """(event_id, user_id, event_ts, split) with split in
    train/embargo/test (and 'unsplit' for NULL timestamps — the
    no-silent-verdict convention).

    cutoff = min_ts + floor((max_ts - min_ts) * 80.0 / 100.0) in epoch
    MICROSECONDS — pure integer-range arithmetic, deliberately NOT an
    interpolated percentile (no interpolation ulps to flip a boundary
    row cross-engine). Rows in [cutoff - embargo, cutoff) are PURGED to
    'embargo': a training row closer than the embargo to the test era
    could share latent state with it (Lopez de Prado's purged split).

    Scale shape: one 2-number min/max aggregate broadcast back (the
    scalar-threshold idiom), then a map-side CASE — no corpus shuffle
    at any size. The time range, unlike a percentile, needs no
    distribution state."""
    us = F.unix_micros(F.col(ts_col))
    bounds = events.agg(F.min(us).alias("_mn"), F.max(us).alias("_mx"))
    cutoff = (F.col("_mn")
              + F.floor((F.col("_mx") - F.col("_mn"))
                        * F.lit(float(100 - TEMPORAL_TEST_PCT))
                        / F.lit(100.0)).cast("bigint"))
    split = (F.when(us.isNull(), F.lit("unsplit"))
             .when(us >= cutoff, F.lit("test"))
             .when(us < cutoff - F.lit(TEMPORAL_EMBARGO_US), F.lit("train"))
             .otherwise(F.lit("embargo")))
    return (events.crossJoin(F.broadcast(bounds))
            .select("event_id", "user_id",
                    F.date_format(ts_col, "yyyy-MM-dd HH:mm:ss")
                    .alias("event_ts"),
                    split.alias("split")))


def sample_temporal_holdout_oracle() -> str:
    """DuckDB oracle: epoch_us bounds, the identical
    floor((mx-mn)*80.0/100.0) cutoff arithmetic (the *80.0/100.0 double
    product of a <=2^53 integer range is IEEE-exact on both engines),
    and the same CASE ladder."""
    return f"""
    WITH b AS (
      SELECT CAST(epoch_us(MIN(ts)) AS BIGINT) AS mn,
             CAST(epoch_us(MAX(ts)) AS BIGINT) AS mx
      FROM events
    ),
    c AS (
      SELECT mn + CAST(floor((mx - mn) * {float(100 - TEMPORAL_TEST_PCT)}
                             / 100.0) AS BIGINT) AS cutoff
      FROM b
    )
    SELECT event_id, user_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS event_ts,
           CASE WHEN ts IS NULL THEN 'unsplit'
                WHEN epoch_us(ts) >= cutoff THEN 'test'
                WHEN epoch_us(ts) < cutoff - {TEMPORAL_EMBARGO_US}
                  THEN 'train'
                ELSE 'embargo' END AS split
    FROM events, c
    """


@query("sample_temporal_holdout",
       oracle=sample_temporal_holdout_oracle())
def sample_temporal_holdout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The purged temporal train/test split over events (embargo gap
    before the test era)."""
    return temporal_holdout(load_table(spark, sf_dir, "events"))
