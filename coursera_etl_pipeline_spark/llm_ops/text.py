"""Text analysis for training-data pipelines: token counting, language
ID, quality scoring, document fingerprinting.

No reference counterpart (north-star extension per SURVEY §2.2); all
operators are pure built-in-function plans (JVM-side, codegen'd) over
the `documents` table — no Python UDFs, so they scale as narrow
per-partition work with a single optional aggregate at the end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from coursera_etl_pipeline_spark.catalog import load_table
from coursera_etl_pipeline_spark.registry import davg, query

# A small English-stopword marker set (public knowledge) used by the
# language-ID heuristic and the quality score.
EN_MARKERS = ("the", "a", "of", "and", "to", "in", "is", "it", "that", "for")

# BPE-ish token regex: letter runs, digit runs, or single non-space
# symbols — the classic pre-tokenizer split.
BPE_RE = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"

# Prefix-duplicate key: md5 of the first HEAD_FP_TOKENS tokens. Defined
# ONCE here (Spark and DuckDB forms) and imported by every consumer
# (text_fingerprint, streaming incremental dedup) so the key can't
# drift between them.
HEAD_FP_TOKENS = 8


def head_fp_col(text_col: str = "text"):
    return F.md5(F.array_join(
        F.slice(F.split(text_col, " "), 1, HEAD_FP_TOKENS), " "))


def head_fp_sql(text_col: str = "text") -> str:
    return (f"md5(array_to_string(list_slice(string_split({text_col}, ' '), "
            f"1, {HEAD_FP_TOKENS}), ' '))")


@query(
    "text_token_count",
    oracle=f"""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS INTEGER)            AS ws_tokens,
           CAST(len(regexp_extract_all(text, '{BPE_RE}')) AS INTEGER) AS bpe_tokens,
           CAST(ceil(n_chars / 4.0) AS BIGINT)                      AS est_tokens
    FROM documents
    """,
)
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting three ways: whitespace split, BPE-ish regex
    pre-tokenization, and the chars/4 estimator."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(F.split("text", " ")).alias("ws_tokens"),
        F.size(F.regexp_extract_all("text", F.lit(BPE_RE), 0)).alias("bpe_tokens"),
        F.ceil(F.col("n_chars") / 4.0).cast("bigint").alias("est_tokens"),
    )


_MARKER_SET_SQL = "', '".join(EN_MARKERS)


@query(
    "text_quality_score",
    oracle=f"""
    WITH feats AS (
      SELECT doc_id,
             len(string_split(text, ' ')) AS n_tok,
             length(replace(text, ' ', '')) * 1.0 / len(string_split(text, ' ')) AS avg_tok_len,
             len(list_filter(string_split(text, ' '), t -> t IN ('{_MARKER_SET_SQL}')))
               * 1.0 / len(string_split(text, ' ')) AS stop_ratio,
             length(regexp_replace(text, '[^A-Za-z ]', '', 'g')) * 1.0 / length(text) AS alpha_ratio
      FROM documents
    )
    SELECT doc_id, n_tok AS n_tokens,
           round(avg_tok_len, 6) AS avg_token_len,
           round(stop_ratio, 6)  AS stopword_ratio,
           round(alpha_ratio, 6) AS alpha_ratio,
           round( least(n_tok / 100.0, 1.0) * 0.4
                + least(stop_ratio * 5, 1.0) * 0.3
                + alpha_ratio * 0.3, 6)     AS quality_score
    FROM feats
    """,
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality score: length signal + stopword naturalness +
    alphabetic purity (the usual pre-filter trio for LLM corpora)."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n_tok = F.size(toks)
    # F.filter keeps duplicate matches (array_intersect would dedup),
    # matching the oracle's list_filter count semantics
    stop_ratio = (F.size(F.filter(toks, lambda t: t.isin(*EN_MARKERS)))
                  * 1.0 / n_tok)
    avg_tok_len = F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))) * 1.0 / n_tok
    # count of [A-Za-z ] chars via translate (per-char map lookup), not
    # regexp_replace: the regex engine was ~90% of this query's runtime
    # (1.7s of 1.9s at sf1) for what is just a character-class count.
    # translate DELETES the listed chars, so length(text) minus the
    # remainder counts exactly the chars the oracle's [^A-Za-z ]
    # replacement keeps — both sides are ASCII-explicit, so unicode
    # text behaves identically.
    _alpha_space = "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz "
    alpha_ratio = ((F.length("text")
                    - F.length(F.translate(F.col("text"), _alpha_space, "")))
                   * 1.0 / F.length("text"))
    return d.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        F.round(avg_tok_len, 6).alias("avg_token_len"),
        F.round(stop_ratio, 6).alias("stopword_ratio"),
        F.round(alpha_ratio, 6).alias("alpha_ratio"),
        F.round(
            F.least(n_tok / 100.0, F.lit(1.0)) * 0.4
            + F.least(stop_ratio * 5, F.lit(1.0)) * 0.3
            + alpha_ratio * 0.3, 6).alias("quality_score"),
    )


@query(
    "text_lang_id",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, lang,
             len(list_filter(string_split(text, ' '), t -> t IN ('{_MARKER_SET_SQL}')))
               * 1.0 / len(string_split(text, ' ')) AS en_score
      FROM documents
    )
    SELECT lang AS labeled_lang,
           COUNT(*) AS n_docs,
           {davg('en_score')} AS avg_en_score,
           CAST(SUM(CASE WHEN en_score > 0.02 THEN 1 ELSE 0 END) AS BIGINT) AS n_pred_en
    FROM scored GROUP BY lang
    """,
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram/marker-word language-ID heuristic, reported per labeled
    lang. (The fixtures share one synthetic vocabulary across lang
    labels, so the interesting output is the deterministic score, not
    classification accuracy.)"""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    en_score = F.size(F.filter(toks, lambda t: t.isin(*EN_MARKERS))) * 1.0 / F.size(toks)
    return (
        d.withColumn("en_score", en_score)
        .groupBy(F.col("lang").alias("labeled_lang"))
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.expr(davg("en_score")).alias("avg_en_score"),
             F.sum(F.when(F.col("en_score") > 0.02, 1).otherwise(0))
             .cast("bigint").alias("n_pred_en"))
    )


@query(
    "text_fingerprint",
    oracle=f"""
    SELECT doc_id,
           md5(lower(trim(text)))                                         AS content_fp,
           {head_fp_sql()} AS head_fp,
           ('0x' || substr(md5(lower(trim(text))), 1, 15))::BIGINT        AS fp_int
    FROM documents
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: whole-content hash (exact-dup key), an
    8-token head fingerprint (prefix-dup key), and the 60-bit integer
    form used as a shard/join key at scale."""
    d = load_table(spark, sf_dir, "documents")
    norm = F.lower(F.trim(F.col("text")))
    return d.select(
        "doc_id",
        F.md5(norm).alias("content_fp"),
        head_fp_col().alias("head_fp"),
        F.conv(F.substring(F.md5(norm), 1, 15), 16, 10).cast("bigint").alias("fp_int"),
    )


@query(
    "text_tfidf_top_terms",
    oracle="""
    WITH toks AS (
      SELECT doc_id, source, unnest(string_split(text, ' ')) AS term
      FROM documents
    ), tf AS (
      SELECT doc_id, source, term, COUNT(*) AS f
      FROM toks GROUP BY doc_id, source, term
    ), df AS (
      SELECT term, COUNT(DISTINCT doc_id) AS n_docs FROM toks GROUP BY term
    ), n AS (SELECT COUNT(*) AS total_docs FROM documents),
    stf AS (
      SELECT source, term, CAST(SUM(f) AS BIGINT) AS f
      FROM tf GROUP BY source, term
    ),
    scored AS (
      SELECT stf.source, stf.term,
             stf.f * ln(n.total_docs * 1.0 / df.n_docs) AS tfidf
      FROM stf JOIN df USING (term) CROSS JOIN n
    )
    SELECT source, term, round(tfidf, 6) AS tfidf, rank FROM (
      SELECT *, row_number() OVER (PARTITION BY source ORDER BY tfidf DESC, term) AS rank
      FROM scored
    ) WHERE rank <= 3
    """,
)
def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF per (source, term), top-3 terms per source. Classic
    shape: linear aggregations + a broadcast of the (tiny) df table +
    per-group top-k window — no quadratic stage anywhere.

    idf depends only on the term, so the score is the exact integer
    SUM(f) per (source, term) times idf, multiplied ONCE: ln() is
    IEEE-identical across engines for identical double inputs and one
    multiplication rounds identically, so the score is bit-identical
    on both engines. Summing f * idf per document would let two
    mathematically equal scores differ in the last bits with each
    engine's summation order, so `term` would no longer break their
    tie the same way on both."""
    from pyspark.sql import Window as W

    from coursera_etl_pipeline_spark.llm_ops.dedup import _materialize

    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", "source",
                    F.explode(F.split("text", " ")).alias("term"))
    # The term-doc matrix is computed ONCE and shared by both consumers.
    # Document frequency is countDistinct(doc_id) over tf — NOT a plain
    # row count, which is only equivalent while source is functionally
    # dependent on doc_id; a doc_id appearing under two sources would
    # silently double-count n_docs and skew every IDF.  The distinct
    # runs over the already-aggregated tf matrix (|distinct terms per
    # doc| rows, a fraction of the raw token stream), so it still
    # avoids a second explode pass over the corpus.
    tf = _materialize(
        toks.groupBy("doc_id", "source", "term").agg(F.count(F.lit(1)).alias("f")))
    dfreq = tf.groupBy("term").agg(F.countDistinct("doc_id").alias("n_docs"))
    # total_docs rides as a broadcast 1-row aggregate (the oracle's
    # CROSS JOIN n mirrored), NOT a driver-side d.count(): the count
    # was an eager Spark job at every plan CONSTRUCTION — paid even
    # when the query never ran — and the only driver-side action
    # outside the pipeline validation barrier. Same values (the total
    # is identical), fully lazy plan.
    totals = d.agg(F.count(F.lit(1)).alias("_total_docs"))

    idf = F.log(F.col("_total_docs").cast("double") / F.col("n_docs"))
    scored = (
        tf.groupBy("source", "term").agg(F.sum("f").alias("f"))
        .join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(totals))
        .select("source", "term", (F.col("f") * idf).alias("tfidf"))
    )
    w = W.partitionBy("source").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("source", "term", F.round("tfidf", 6).alias("tfidf"), "rank")
    )


# --- benchmark decontamination ----------------------------------------------

DECONTAM_N = 8          # 8-gram shingles: long enough that overlap means
                        # shared passages, not shared common words
DECONTAM_BENCH_MOD = 97  # doc_id % 97 == 0 plays the held-out benchmark


def _decontam_ngram_sql(n: int) -> str:
    """DuckDB n-gram join expression over a token list column t."""
    parts = " || ' ' || ".join(f"t[s+{i}]" for i in range(n))
    return (f"unnest(list_transform(range(1, greatest(len(t) - {n - 1}, 0) + 1), "
            f"s -> {parts}))")


@query(
    "text_decontaminate",
    oracle=f"""
    WITH sh AS (
      SELECT DISTINCT doc_id, shingle
      FROM (SELECT doc_id, {_decontam_ngram_sql(DECONTAM_N)} AS shingle
            FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents))
    ), bench AS (
      SELECT DISTINCT shingle FROM sh WHERE doc_id % {DECONTAM_BENCH_MOD} = 0
    ), corpus AS (
      SELECT * FROM sh WHERE doc_id % {DECONTAM_BENCH_MOD} <> 0
    ), per_doc AS (
      SELECT doc_id, COUNT(*) AS nsh FROM corpus GROUP BY doc_id
    ), hits AS (
      SELECT c.doc_id, COUNT(*) AS n_overlap
      FROM corpus c JOIN bench b ON c.shingle = b.shingle
      GROUP BY c.doc_id
    )
    SELECT p.doc_id, p.nsh,
           COALESCE(h.n_overlap, 0) AS n_overlap,
           round(COALESCE(h.n_overlap, 0) * 1.0 / p.nsh, 6) AS overlap_ratio,
           COALESCE(h.n_overlap, 0) >= 1 AS contaminated
    FROM per_doc p LEFT JOIN hits h ON p.doc_id = h.doc_id
    """,
)
def text_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing any
    8-gram passage with a held-out benchmark set (here a deterministic
    ~1% doc_id slice standing in for the eval suite) — the standard
    leakage guard an LLM training pipeline runs before packing."""
    return decontaminate(load_table(spark, sf_dir, "documents"))


def decontaminate(d: DataFrame, n: int = DECONTAM_N,
                  bench_mod: int = DECONTAM_BENCH_MOD) -> DataFrame:
    """100 TB shape: benchmark shingle sets are tiny (eval suites are
    thousands of docs, not billions), so the benchmark side BROADCASTS
    and the corpus streams through a map-side hash probe + one doc_id
    aggregation — linear, no corpus self-join, no skew exposure (a
    corpus doc matches at most its own shingle count). Docs shorter
    than n tokens have no n-gram and drop out on both engines by
    construction."""
    from coursera_etl_pipeline_spark.llm_ops.dedup import shingles

    sh = (shingles(d, n=n)
          .select("doc_id", F.explode("_shingles").alias("shingle")))
    is_bench = (F.col("doc_id") % bench_mod) == 0
    bench = sh.filter(is_bench).select("shingle").distinct()
    corpus = sh.filter(~is_bench)
    per_doc = corpus.groupBy("doc_id").agg(F.count(F.lit(1)).alias("nsh"))
    hits = (corpus.join(F.broadcast(bench), "shingle")
            .groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_overlap")))
    n_overlap = F.coalesce(F.col("n_overlap"), F.lit(0).cast("long"))
    return (
        per_doc.join(hits, "doc_id", "left")
        .select("doc_id", "nsh",
                n_overlap.alias("n_overlap"),
                F.round(n_overlap * 1.0 / F.col("nsh"), 6).alias("overlap_ratio"),
                (n_overlap >= 1).alias("contaminated"))
    )


# Gopher-style repetition gates (Rae et al. 2021 §A1.1, public):
# documents dominated by a few tokens/bigrams are filtered before
# training. Thresholds tuned to be non-vacuous on the synthetic
# fixtures (distinct-ratio spans 0.28-1.0, top-token coverage
# 0.05-0.30 at sf0.01), asserted by test_repetition_score_non_vacuous.
REP_MIN_DISTINCT = 0.40   # unique tokens / tokens
REP_MAX_TOP_TOKEN = 0.15  # fraction covered by the most frequent token
REP_MAX_TOP_BIGRAM = 0.12  # fraction covered by the most frequent bigram


def _max_run(arr):
    """Highest multiplicity in a SORTED array, as the max length of a
    run of equal adjacent elements — a linear JVM-side fold
    (aggregate), so per-doc top-frequency needs NO token explode and
    NO shuffle. Empty array -> 0."""
    step = lambda acc, t: F.struct(  # noqa: E731
        t.alias("prev"),
        F.when(t == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
        .alias("run"),
        F.greatest(
            acc["best"],
            F.when(t == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)))
        .alias("best"))
    return F.aggregate(
        arr,
        F.struct(F.lit("").alias("prev"), F.lit(0).alias("run"),
                 F.lit(0).alias("best")),
        step,
        lambda acc: acc["best"])


@query(
    "text_repetition_score",
    # The oracle computes the same top frequencies the direct way —
    # explode + per-(doc, gram) GROUP BY + max. Bigrams are built by
    # positional list_transform (range(1, n) = [1 .. n-1], 1-based
    # indexing), so a 1-token doc has no bigrams -> LEFT JOIN +
    # COALESCE 0. keep is CAST to INTEGER on both engines (no boolean
    # output precedent under the driver hash).
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS l FROM documents
    ), tok_top AS (
      SELECT doc_id, max(c) AS top_tok FROM (
        SELECT doc_id, t, count(*) AS c
        FROM (SELECT doc_id, unnest(l) AS t FROM toks) GROUP BY doc_id, t
      ) GROUP BY doc_id
    ), bg_top AS (
      SELECT doc_id, max(c) AS top_bg FROM (
        SELECT doc_id, b, count(*) AS c
        FROM (SELECT doc_id,
                     unnest(list_transform(range(1, len(l)),
                                           i -> l[i] || ' ' || l[i + 1])) AS b
              FROM toks) GROUP BY doc_id, b
      ) GROUP BY doc_id
    )
    SELECT t.doc_id,
           CAST(len(t.l) AS INTEGER) AS n_tokens,
           round(len(list_distinct(t.l)) * 1.0 / len(t.l), 6) AS distinct_ratio,
           round(k.top_tok * 1.0 / len(t.l), 6) AS top_token_cov,
           round(COALESCE(b.top_bg, 0) * 2.0 / len(t.l), 6) AS top_bigram_cov,
           CAST(CASE WHEN len(list_distinct(t.l)) * 1.0 / len(t.l)
                          >= {REP_MIN_DISTINCT}
                      AND k.top_tok * 1.0 / len(t.l) <= {REP_MAX_TOP_TOKEN}
                      AND COALESCE(b.top_bg, 0) * 2.0 / len(t.l)
                          <= {REP_MAX_TOP_BIGRAM}
                THEN 1 ELSE 0 END AS INTEGER) AS keep
    FROM toks t JOIN tok_top k USING (doc_id)
                LEFT JOIN bg_top b USING (doc_id)
    """,
)
def text_repetition_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filter: per-document distinct-token
    ratio, top-token coverage, and top-bigram coverage (2x the top
    bigram's count over n_tokens), gated into a keep flag — the
    standard "remove boilerplate / degenerate repetition" pass an LLM
    corpus runs before training.

    Scale shape: the top frequencies come from a run-length max over
    the SORTED token (and bigram) array — a per-row linear fold, so
    the whole operator is narrow map-side work with ZERO shuffle; the
    explode + groupBy(doc, token) alternative the oracle uses would
    shuffle every token of a 100 TB corpus for what is a per-document
    statistic. Comparisons gate on the unrounded doubles on both
    engines (identical IEEE inputs -> identical flags); displayed
    ratios are rounded to 6."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n_tok = F.size(toks)
    bigrams = F.zip_with(
        F.slice(toks, F.lit(1), n_tok - 1),
        F.slice(toks, F.lit(2), n_tok - 1),
        lambda a, b: F.concat_ws(" ", a, b))
    distinct_ratio = F.size(F.array_distinct(toks)) * 1.0 / n_tok
    top_token_cov = _max_run(F.array_sort(toks)) * 1.0 / n_tok
    top_bigram_cov = _max_run(F.array_sort(bigrams)) * 2.0 / n_tok
    return d.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        F.round(distinct_ratio, 6).alias("distinct_ratio"),
        F.round(top_token_cov, 6).alias("top_token_cov"),
        F.round(top_bigram_cov, 6).alias("top_bigram_cov"),
        ((distinct_ratio >= REP_MIN_DISTINCT)
         & (top_token_cov <= REP_MAX_TOP_TOKEN)
         & (top_bigram_cov <= REP_MAX_TOP_BIGRAM))
        .cast("int").alias("keep"),
    )


CHUNK_TOKENS = 32   # fixed context-window budget per chunk
CHUNK_STRIDE = 24   # 8-token overlap between consecutive chunks


@query(
    "text_chunk_overlap",
    # k ranges over chunk starts (k*stride < n_tokens); DuckDB's
    # list_slice and Spark's slice are both 1-based and both cap at
    # the array end, so the tail chunk shortens identically. range()
    # yields BIGINT and len() widens — cast to match Spark's int pos
    # and size.
    oracle=f"""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    )
    SELECT doc_id,
           CAST(k AS INTEGER) AS chunk_idx,
           array_to_string(
             list_slice(toks, k * {CHUNK_STRIDE} + 1,
                        k * {CHUNK_STRIDE} + {CHUNK_TOKENS}), ' ')
             AS chunk_text,
           CAST(len(list_slice(toks, k * {CHUNK_STRIDE} + 1,
                               k * {CHUNK_STRIDE} + {CHUNK_TOKENS}))
                AS INTEGER) AS n_tokens
    FROM t, unnest(range(0, (len(toks) - 1) // {CHUNK_STRIDE} + 1)) AS u(k)
    """,
)
def text_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document chunking with overlap — the dual of
    `text_pack_sequences` (that op packs short docs UP to a token
    budget; this one splits long docs DOWN to it): fixed 32-token
    chunks every 24 tokens, so consecutive chunks share 8 tokens of
    context — the standard pretraining / retrieval-indexing
    preprocessing step. Chunk k starts at token k*stride while
    k*stride < n_tokens; the tail chunk shortens rather than pad.

    Scale shape: pure narrow ops — split, a per-row sequence explode
    (bounded by n_tokens/stride, ~4 here), and slices; no shuffle at
    all until a consumer aggregates. The explode multiplies bytes by
    the overlap factor (32/24), exactly the storage cost a chunked
    training corpus pays."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    return (
        d.select(
            "doc_id",
            F.posexplode(
                F.sequence(
                    F.lit(0),
                    F.floor((F.size(toks) - 1) / CHUNK_STRIDE).cast("int"))
            ).alias("chunk_idx", "_k"),
            toks.alias("_toks"))
        .select(
            "doc_id", "chunk_idx",
            F.array_join(
                F.slice(F.col("_toks"),
                        F.col("_k") * CHUNK_STRIDE + 1, CHUNK_TOKENS), " ")
            .alias("chunk_text"),
            F.size(F.slice(F.col("_toks"),
                           F.col("_k") * CHUNK_STRIDE + 1, CHUNK_TOKENS))
            .alias("n_tokens"))
    )


# --- PII scrubbing (round 11) ------------------------------------------------
#
# Email/phone redaction — the standard pre-training scrub pass (C4,
# Dolma, and RefinedWeb all ship regex-level PII masking). The fixture
# corpus carries no PII by construction, so a scrub over the raw text
# would certify nothing: like the streamed-DQ zone poisons n_chars,
# the operator first injects deterministic PII derived from doc_id —
# IDENTICALLY on both engines, inside the registered plan and inside
# the oracle SQL — and then the value hash certifies the redaction
# semantics for real (match boundaries, global replacement, counts).
#
# Regex notes: patterns restricted to the syntax Java regex and RE2
# share (classes, bounded repeats; no lookaround/backrefs). DuckDB
# regexp_replace is first-match-only without the 'g' flag; Spark's is
# always global — the oracle must say 'g' or the hash catches it.

PII_EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
PII_PHONE_RE = "\\+[0-9]{1,2}-[0-9]{3}-[0-9]{3}-[0-9]{3,4}"


@query(
    "text_pii_scrub",
    oracle=f"""
    WITH aug AS (
      SELECT doc_id,
             text || CASE WHEN doc_id % 3 = 0
                          THEN ' reach admin.' || CAST(doc_id AS VARCHAR)
                               || '@mail.example.org'
                          ELSE '' END
                  || ' contact user' || CAST(doc_id AS VARCHAR)
                  || '@example.com or +1-202-555-'
                  || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
               AS pii_text
      FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(pii_text, '{PII_EMAIL_RE}'))
                AS INTEGER) AS n_emails,
           CAST(len(regexp_extract_all(pii_text, '{PII_PHONE_RE}'))
                AS INTEGER) AS n_phones,
           regexp_replace(
             regexp_replace(pii_text, '{PII_EMAIL_RE}', '<EMAIL>', 'g'),
             '{PII_PHONE_RE}', '<PHONE>', 'g') AS scrubbed
    FROM aug
    """,
)
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub: inject deterministic doc_id-derived emails (1 or 2
    per doc — every third doc gets a second address, so the count
    column is non-constant) and a NANP-style phone, then mask both
    with <EMAIL>/<PHONE> sentinels and count the redactions.

    Scale shape: pure narrow per-row work — concat, two regexp_count,
    two regexp_replace — zero shuffle, fully inside whole-stage
    codegen; at 100 TB this runs at scan speed as a map-only stage,
    which is exactly how the production scrub pass behaves (the
    injection preamble is fixture-only and costs one concat)."""
    d = load_table(spark, sf_dir, "documents")
    pii_text = F.concat(
        F.col("text"),
        F.when(F.col("doc_id") % 3 == 0,
               F.concat(F.lit(" reach admin."),
                        F.col("doc_id").cast("string"),
                        F.lit("@mail.example.org")))
         .otherwise(F.lit("")),
        F.lit(" contact user"), F.col("doc_id").cast("string"),
        F.lit("@example.com or +1-202-555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"))
    aug = d.select("doc_id", pii_text.alias("pii_text"))
    return scrub_pii(aug, "pii_text")


def scrub_pii(df: DataFrame, text_col: str) -> DataFrame:
    """The scrub proper (regex mask + counts) over an arbitrary text
    column — the production entry point; the registered query feeds it
    the PII-injected fixture column."""
    return df.select(
        *[c for c in df.columns if c != text_col],
        F.regexp_count(text_col, F.lit(PII_EMAIL_RE)).alias("n_emails"),
        F.regexp_count(text_col, F.lit(PII_PHONE_RE)).alias("n_phones"),
        F.regexp_replace(
            F.regexp_replace(text_col, PII_EMAIL_RE, "<EMAIL>"),
            PII_PHONE_RE, "<PHONE>").alias("scrubbed"))


# --- URL/host corpus filtering (round 14) -------------------------------------
#
# The standard curation PRE-filter (C4, RefinedWeb, Gopher all gate on
# URL before touching text): parse each document's URL into host /
# registered-TLD parts, then keep docs whose host survives a blocklist
# ANTI-join and whose language survives an allowlist SEMI-join. The
# fixture carries no URL column, so the registered query synthesizes a
# deterministic WARC-style URL from (source, lang, doc_id) — the
# Spark-side plumbing (expression pack + join shapes) is the real
# artifact; url_host_filter() below is the production entry point for
# corpora that already carry a url column.

# Host = the authority minus userinfo and port (VERDICT r14 item 8):
# an optional '<userinfo>@' is skipped, then either a bracketed IPv6
# literal is captured whole or the reg-name is captured up to the ':'
# port delimiter. The old '([^/?#]+)' captured the RAW authority, so
# 'https://blocked.org:443/' or 'https://x@blocked.org/' walked past
# the blocklist anti-join — a filter-evasion hole (the gate matched
# 'blocked.org:443' != 'blocked.org'). The userinfo class is
# '[^/?#]*@' (GREEDY through the LAST '@' before the path), not
# '[^/?#@]*@': WHATWG clients treat everything before the last '@'
# as userinfo, so 'https://a@b@blocked.org/x' fetches blocked.org —
# with the first-@ form the capture would read 'b@blocked.org' and
# walk past the blocklist (r15 review catch). RE2- and Java-regex
# compatible (non-capturing group only; the host capture stays
# group 1).
URL_HOST_RE = ("^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/?#]*@)?"
               "(\\[[^\\]/?#]*\\]|[^/?#:@]*)")
# TLD = last dot-label of the lowercased hostname. The optional :port
# group is defense-in-depth for callers passing a raw authority —
# URL_HOST_RE itself now port-strips (review r14: an end-anchored
# label regex returned '' for every port-carrying URL).
URL_TLD_RE = "\\.([a-z0-9-]+)(?::[0-9]+)?$"

# Literal curation lists (tiny, O(1) — static broadcast per the
# constant-size rule in catalog.gated_broadcast's docstring):
BLOCKED_HOSTS = ("src3.example.org", "src7.example.org",
                 "src13.example.org")
ALLOWED_LANGS = ("en", "de", "fr")


def url_host_filter(docs: DataFrame, blocked_hosts: DataFrame,
                    allowed_langs: DataFrame,
                    url_col: str = "url") -> DataFrame:
    """Host/TLD extraction + list gating over an arbitrary url column.

    Scale shape: extraction is pure codegen'd regexp (map-only, zero
    shuffle); both list joins BROADCAST their list side — curation
    lists are human-maintained, O(10^2..10^6) rows, never fact-scaled
    — so the whole filter is one map stage at 100 TB. LEFT_ANTI and
    LEFT_SEMI never duplicate fact rows (no row-count blowup on list
    duplicates) and prune every list column from the output."""
    # hosts (and schemes) are case-insensitive per RFC 3986: fold the
    # extracted host so 'BAD.example.org' cannot bypass a lowercase
    # blocklist entry (review r14 — canonical_url already folds; the
    # list gate must too)
    host = F.lower(F.regexp_extract(F.col(url_col), URL_HOST_RE, 1))
    parsed = (docs
              .withColumn("host", host)
              .withColumn("tld", F.regexp_extract("host", URL_TLD_RE, 1)))
    return (parsed
            .join(F.broadcast(blocked_hosts), "host", "left_anti")
            .join(F.broadcast(allowed_langs), "lang", "left_semi"))


@query(
    "text_url_host_filter",
    # Same synthesis + regexes in DuckDB; the list gates are the SQL
    # NOT IN / IN forms of the anti/semi joins (equivalent here: both
    # lists are literal, non-null, duplicate-free).
    oracle=f"""
    WITH u AS (
      SELECT doc_id, lang, source,
             'https://' || source || '.example.org/' || lang
                        || '/doc-' || doc_id AS url
      FROM documents
    ),
    parsed AS (
      SELECT *, lower(regexp_extract(url, '{URL_HOST_RE}', 1)) AS host
      FROM u
    )
    SELECT doc_id, lang, source, url, host,
           regexp_extract(host, '{URL_TLD_RE}', 1) AS tld
    FROM parsed
    WHERE host NOT IN {BLOCKED_HOSTS!r}
      AND lang IN {ALLOWED_LANGS!r}
    """.replace('"', "'"),
)
def text_url_host_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL/host corpus filtering: synthesize the WARC-style URL the
    fixture lacks, extract host and TLD with the shared regex pack,
    drop blocklisted hosts (anti-join) and non-allowlisted languages
    (semi-join); emit the surviving docs with their parsed URL parts
    (the value hash certifies synthesis, extraction, and both gates
    row-by-row)."""
    docs = (load_table(spark, sf_dir, "documents")
            .select("doc_id", "lang", "source", "n_chars")
            .withColumn(
                "url",
                F.concat(F.lit("https://"), F.col("source"),
                         F.lit(".example.org/"), F.col("lang"),
                         F.lit("/doc-"), F.col("doc_id").cast("string"))))
    blocked = spark.createDataFrame(
        [(h,) for h in BLOCKED_HOSTS], "host string")
    allowed = spark.createDataFrame(
        [(lg,) for lg in ALLOWED_LANGS], "lang string")
    return (url_host_filter(docs, blocked, allowed)
            .select("doc_id", "lang", "source", "url", "host", "tld"))


# --- quality binning via aggregate cutpoints (round 14) ------------------------
#
# Curriculum/quality-tier assignment: place each document into a
# score quartile. The naive spelling — ntile(4) OVER (ORDER BY score)
# — is a GLOBAL SORT of the corpus, the canonical 100 TB anti-pattern
# for what is really a 3-number statistic. This operator computes the
# three cutpoints with ONE tiny aggregate and assigns bins map-side:
# corpus-sized data never sorts, never shuffles.

QUALITY_BIN_PROBS = (0.25, 0.5, 0.75)


def quality_bins(scored: DataFrame,
                 score_col: str = "quality_score") -> DataFrame:
    """Bin rows into quartiles of `score_col` by exact interpolated
    percentiles (Spark `percentile` == DuckDB `quantile_cont`; both
    sides round the cutpoints through the identical
    floor(x*1e6 + 0.5)/1e6 IEEE expression, the half-mode-proof
    spelling, so an interpolation ulp cannot flip a boundary row). The 1-row
    cutpoint aggregate joins back by broadcast-able cross join; bin
    assignment is a codegen'd CASE. Boundary ties go to the lower bin
    (score <= cutpoint), so counts are n/4 only up to tie mass —
    the documented cost of not sorting the corpus."""
    # cutpoints rounded via floor(x*1e6 + 0.5)/1e6 — the repo's
    # half-mode-proof spelling (identical IEEE expression on both
    # engines), because engine round() half-modes differ and an
    # interpolated percentile can land exactly on a half at the 7th
    # decimal (review r14: plain round(x, 6) could flip a boundary
    # row's bin between engines there)
    cuts = scored.agg(
        *[(F.floor(F.percentile(score_col, F.lit(p)) * 1e6 + 0.5) / 1e6)
          .alias(f"_c{i}")
          for i, p in enumerate(QUALITY_BIN_PROBS)])
    s = F.col(score_col)
    # the package's scalar-threshold idiom (q22/q11/q15): broadcast
    # the O(1) aggregate row cross-wise; allowlisted in plan_audit
    # because the build side is 1 row by construction (an equi-join
    # on a literal key folds back to the same BNLJ anyway).
    return (scored.crossJoin(F.broadcast(cuts))
            .select(
                *scored.columns,
                F.when(s <= F.col("_c0"), F.lit(0))
                .when(s <= F.col("_c1"), F.lit(1))
                .when(s <= F.col("_c2"), F.lit(2))
                .otherwise(F.lit(3)).cast("int").alias("quality_bin")))


@query(
    "text_quality_binning",
    # The scoring CTE is text_quality_score's oracle verbatim (same
    # certified expressions); cutpoints via quantile_cont — DuckDB's
    # exact interpolated percentile, the same definition as Spark's
    # percentile() — cutpoints rounded via the half-mode-proof
    # floor(x*1e6 + 0.5)/1e6 on both engines.
    oracle=f"""
    WITH feats AS (
      SELECT doc_id,
             len(string_split(text, ' ')) AS n_tok,
             len(list_filter(string_split(text, ' '),
                             t -> t IN ('{_MARKER_SET_SQL}')))
               * 1.0 / len(string_split(text, ' ')) AS stop_ratio,
             length(regexp_replace(text, '[^A-Za-z ]', '', 'g'))
               * 1.0 / length(text) AS alpha_ratio
      FROM documents
    ),
    scored AS (
      SELECT doc_id,
             round( least(n_tok / 100.0, 1.0) * 0.4
                  + least(stop_ratio * 5, 1.0) * 0.3
                  + alpha_ratio * 0.3, 6) AS quality_score
      FROM feats
    ),
    cuts AS (
      SELECT floor(quantile_cont(quality_score, 0.25) * 1e6 + 0.5) / 1e6 AS c0,
             floor(quantile_cont(quality_score, 0.50) * 1e6 + 0.5) / 1e6 AS c1,
             floor(quantile_cont(quality_score, 0.75) * 1e6 + 0.5) / 1e6 AS c2
      FROM scored
    )
    SELECT s.doc_id, s.quality_score,
           CAST(CASE WHEN s.quality_score <= c.c0 THEN 0
                     WHEN s.quality_score <= c.c1 THEN 1
                     WHEN s.quality_score <= c.c2 THEN 2
                     ELSE 3 END AS INTEGER) AS quality_bin
    FROM scored s, cuts c
    """,
)
def text_quality_binning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quartile quality tiers over the certified quality score: one
    3-number percentile aggregate + broadcast join + map-side CASE —
    the scale-correct form of ntile(4) (which would globally sort the
    corpus to compute what is a 3-number statistic)."""
    scored = text_quality_score(spark, sf_dir).select(
        "doc_id", "quality_score")
    return quality_bins(scored)


# --- Gopher/RefinedWeb quality rule pack (round 15) ----------------------------
#
# The published document-level rule battery (Rae et al. 2021 "Gopher"
# §A1.1; Penedo et al. 2023 "RefinedWeb" §3.1): hard keep/drop gates
# on word count, mean word length, symbol density, alphabetic-word
# fraction, and stopword evidence. Each rule is emitted as its own
# flag so the value hash certifies every rule ROW-WISE, not just the
# final AND.

GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_WORD_LEN = 3.0
GOPHER_MAX_WORD_LEN = 10.0
GOPHER_MAX_SYMBOL_RATIO = 0.1
GOPHER_MIN_ALPHA_WORD_RATIO = 0.8
GOPHER_MIN_STOPWORDS = 2

_ALNUM_SPACE = ("ABCDEFGHIJKLMNOPQRSTUVWXYZ"
                "abcdefghijklmnopqrstuvwxyz0123456789 ")


def gopher_rules(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document Gopher rule flags + AND verdict over `text_col`.

    Scale shape: every feature is a codegen'd expression over the raw
    text (split / translate / higher-order filter / array_intersect)
    — ONE map stage, zero shuffle, zero UDFs; at 100 TB this runs at
    scan speed like the PII scrub. All flag comparisons are on RAW
    values (integer counts and int/int IEEE divisions — bit-identical
    across engines), so no rounding can flip a rule at a boundary.

    NULL text is treated as empty (r15 review): without the coalesce
    every feature — and therefore every rule flag AND `keep` — would
    be NULL, and a downstream `filter(keep)` would silently drop the
    doc with no recorded verdict. Empty text deterministically fails
    the word-count rule, so such docs get an explicit keep=False."""
    txt = F.coalesce(F.col(text_col), F.lit(""))
    toks = F.split(txt, " ")
    n_words = F.size(toks)
    chars_no_space = F.length(F.replace(txt, F.lit(" "), F.lit("")))
    mean_word_len = chars_no_space * 1.0 / n_words
    # symbols = chars outside [A-Za-z0-9 ]; translate DELETES the
    # listed chars, so what survives is exactly the symbol count
    # (same translate-not-regex trick as text_quality_score)
    symbol_ratio = (F.length(F.translate(txt, _ALNUM_SPACE, ""))
                    * 1.0 / n_words)
    alpha_word_ratio = (
        F.size(F.filter(toks, lambda t: t.rlike("[A-Za-z]")))
        * 1.0 / n_words)
    n_markers = F.size(F.array_intersect(
        toks, F.array(*[F.lit(m) for m in EN_MARKERS])))
    r_words = (n_words >= GOPHER_MIN_WORDS) & (n_words <= GOPHER_MAX_WORDS)
    r_len = ((mean_word_len >= GOPHER_MIN_WORD_LEN)
             & (mean_word_len <= GOPHER_MAX_WORD_LEN))
    r_sym = symbol_ratio < GOPHER_MAX_SYMBOL_RATIO
    r_alpha = alpha_word_ratio >= GOPHER_MIN_ALPHA_WORD_RATIO
    r_stop = n_markers >= GOPHER_MIN_STOPWORDS
    return docs.select(
        "doc_id",
        n_words.alias("n_words"),
        mean_word_len.alias("mean_word_len"),
        symbol_ratio.alias("symbol_ratio"),
        alpha_word_ratio.alias("alpha_word_ratio"),
        n_markers.alias("n_stopword_markers"),
        r_words.alias("rule_word_count"),
        r_len.alias("rule_word_len"),
        r_sym.alias("rule_symbol_ratio"),
        r_alpha.alias("rule_alpha_words"),
        r_stop.alias("rule_stopwords"),
        (r_words & r_len & r_sym & r_alpha & r_stop).alias("keep"))


@query(
    "text_gopher_rules",
    # Raw-value comparisons only (no round()): every ratio is an
    # int/int IEEE division, identical on both engines, so the flags
    # cannot diverge at a boundary. list_intersect/array_intersect
    # both return DISTINCT matches, so marker counts agree. The inner
    # coalesce mirrors the engine's NULL-text-as-empty rule (fixture
    # text is non-null, so the fixture result is unchanged).
    oracle=f"""
    WITH feats AS (
      SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS INTEGER) AS n_words,
             length(replace(text, ' ', ''))
               * 1.0 / len(string_split(text, ' ')) AS mean_word_len,
             length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g'))
               * 1.0 / len(string_split(text, ' ')) AS symbol_ratio,
             len(list_filter(string_split(text, ' '),
                             t -> regexp_matches(t, '[A-Za-z]')))
               * 1.0 / len(string_split(text, ' ')) AS alpha_word_ratio,
             CAST(len(list_intersect(string_split(text, ' '),
                                     ['{_MARKER_SET_SQL}'])) AS INTEGER)
               AS n_stopword_markers
      FROM (SELECT doc_id, coalesce(text, '') AS text FROM documents)
    )
    SELECT doc_id, n_words, mean_word_len, symbol_ratio,
           alpha_word_ratio, n_stopword_markers,
           (n_words >= {GOPHER_MIN_WORDS}
            AND n_words <= {GOPHER_MAX_WORDS}) AS rule_word_count,
           (mean_word_len >= {GOPHER_MIN_WORD_LEN}
            AND mean_word_len <= {GOPHER_MAX_WORD_LEN}) AS rule_word_len,
           (symbol_ratio < {GOPHER_MAX_SYMBOL_RATIO}) AS rule_symbol_ratio,
           (alpha_word_ratio >= {GOPHER_MIN_ALPHA_WORD_RATIO})
             AS rule_alpha_words,
           (n_stopword_markers >= {GOPHER_MIN_STOPWORDS}) AS rule_stopwords,
           (n_words >= {GOPHER_MIN_WORDS}
            AND n_words <= {GOPHER_MAX_WORDS}
            AND mean_word_len >= {GOPHER_MIN_WORD_LEN}
            AND mean_word_len <= {GOPHER_MAX_WORD_LEN}
            AND symbol_ratio < {GOPHER_MAX_SYMBOL_RATIO}
            AND alpha_word_ratio >= {GOPHER_MIN_ALPHA_WORD_RATIO}
            AND n_stopword_markers >= {GOPHER_MIN_STOPWORDS}) AS keep
    FROM feats
    """,
)
def text_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/RefinedWeb document quality rule pack: word count in
    [50, 100000], mean word length in [3, 10], symbol-to-word ratio
    < 0.1, >= 80% alphabetic words, >= 2 distinct stopword markers —
    each rule flag plus the AND verdict, certified row-wise. One
    map-only stage."""
    return gopher_rules(load_table(spark, sf_dir, "documents"))


# --- vocabulary induction: global top-K tokens (round 15) ----------------------
#
# Tokenizer/vocab bootstrapping over a corpus: token frequencies, a
# minimum-count floor, and the global top-K. The scale trap is the
# final "global top-K": an ORDER BY + LIMIT plans as
# TakeOrderedAndProject (a fixed-K heap per partition + K-merge on
# the driver), NEVER a full sort of the vocabulary — pytest asserts
# the physical plan.

VOCAB_TOPK_K = 20
VOCAB_MIN_COUNT = 2


def vocab_topk(docs: DataFrame, k: int = VOCAB_TOPK_K,
               min_count: int = VOCAB_MIN_COUNT,
               text_col: str = "text") -> DataFrame:
    """Top-`k` corpus tokens by frequency (floor `min_count`), with
    the deterministic (count DESC, token ASC) tie-break so the
    truncation boundary is engine-independent.

    Scale shape: one explode (narrow) + one hash-aggregate on token
    (map-side partial absorbs the Zipf head — the hottest token
    collapses per-partition before the shuffle) + TakeOrderedAndProject
    for the top-K. The only shuffle is |vocab|-sized, never
    corpus-sized; no global sort exists in the plan."""
    toks = docs.select(F.explode(F.split(text_col, " ")).alias("token"))
    counts = (toks.groupBy("token")
              .agg(F.count(F.lit(1)).alias("n_occ"))
              .filter(F.col("n_occ") >= min_count))
    return counts.orderBy(F.desc("n_occ"), F.asc("token")).limit(k)


@query(
    "text_vocab_topk",
    oracle=f"""
    SELECT token, CAST(COUNT(*) AS BIGINT) AS n_occ
    FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
    GROUP BY token
    HAVING COUNT(*) >= {VOCAB_MIN_COUNT}
    ORDER BY n_occ DESC, token
    LIMIT {VOCAB_TOPK_K}
    """,
)
def text_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary induction: the corpus's top-20 tokens at min count
    2, tie-broken (count DESC, token ASC) so the truncated set is
    deterministic. Plans as explode -> partial hash-agg ->
    TakeOrderedAndProject — no global sort."""
    return vocab_topk(load_table(spark, sf_dir, "documents"))


# --- unigram-LM perplexity proxy (round 15) -------------------------------------
#
# The CCNet/RefinedWeb-style LM quality signal without a neural LM:
# score each document by its average token log-probability under the
# corpus's own unigram distribution. Real pipelines use a KenLM
# n-gram model; the unigram form keeps the exact same pipeline shape
# (corpus stats pass -> per-token logp lookup -> per-doc average)
# with an exactly-certifiable result.
#
# Float determinism: ln() is evaluated ONCE PER DISTINCT TERM on an
# identical double input (corpus ratios), rounded half-up to integer
# MICRO-NATS (the repo's dsum micro-unit pattern) — all per-doc
# accumulation is then EXACT integer arithmetic, immune to Spark's
# partition-order-dependent double summation.

LOGP_MICRO = 1_000_000.0


def _tf(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, n_tokens, term, f) term frequencies with the per-doc
    token count carried map-side (no second corpus pass / window)."""
    return (docs
            .select("doc_id",
                    F.size(F.split(text_col, " ")).cast("bigint")
                    .alias("n_tokens"),
                    F.explode(F.split(text_col, " ")).alias("term"))
            .groupBy("doc_id", "n_tokens", "term")
            .agg(F.count(F.lit(1)).alias("f")))


def perplexity_proxy(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-doc average unigram log-probability in exact micro-nats.

    Scale shape: one explode feeds BOTH the tf matrix and the corpus
    unigram counts (two hash-aggregates, map-side partials); the
    |vocab|-row logp table joins back onto tf — broadcast-able for
    real vocabularies (10^5..10^7 rows), an ordinary shuffle join
    beyond; the per-doc reduce is an exact BIGINT sum. Never a
    window, never a sort. Perplexity itself is exp(-avg_logp) —
    monotone, so ranking/filtering uses avg_logp directly and no
    cross-engine exp() enters the certified output.

    NULL-text docs never reach the tf matrix (explode of a NULL
    array emits nothing), so without the final LEFT join back they
    would silently VANISH from the scoring output — the r14 row-loss
    class. They surface with n_tokens=0 and NULL scores instead.

    tf is MATERIALIZED (the tfidf precedent, text.py tf matrix): it
    feeds both the per-doc reduce and the vocab counts, and counts
    itself feeds both the total and the logp table — unmaterialized,
    the corpus explode ran three times per query (r15 review: 3
    Generate nodes, 0 ReusedExchange in the executed plan)."""
    from coursera_etl_pipeline_spark.llm_ops.dedup import _materialize

    tf = _materialize(_tf(docs, text_col))
    counts = _materialize(
        tf.groupBy("term").agg(F.sum("f").alias("c")))
    total = counts.agg(F.sum("c").alias("_total"))
    logp = (counts.crossJoin(F.broadcast(total))
            .select("term",
                    F.floor(F.log(F.col("c") * 1.0 / F.col("_total"))
                            * LOGP_MICRO + 0.5)
                    .cast("bigint").alias("logp_micro")))
    per_doc = (tf.join(logp, "term")
               .groupBy("doc_id", "n_tokens")
               .agg(F.sum(F.col("f") * F.col("logp_micro"))
                    .alias("sum_logp_micro")))
    scored = per_doc.select(
        "doc_id", "n_tokens", "sum_logp_micro",
        ((F.col("sum_logp_micro") * 1.0 / F.col("n_tokens"))
         / F.lit(LOGP_MICRO)).alias("avg_logp"))
    return (docs.select("doc_id").join(scored, "doc_id", "left")
            .select("doc_id",
                    F.coalesce("n_tokens", F.lit(0).cast("bigint"))
                    .alias("n_tokens"),
                    "sum_logp_micro", "avg_logp"))


@query(
    "text_perplexity_proxy",
    # ln() on identical doubles is cross-engine identical here (the
    # tfidf precedent); its one-per-term rounding to BIGINT micro-nats
    # makes every downstream sum exact. All SUMs CAST back to BIGINT
    # (DuckDB HUGEINT, the r9/r14 lesson).
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             unnest(string_split(text, ' ')) AS term
      FROM documents
    ),
    tf AS (
      SELECT doc_id, n_tokens, term, CAST(COUNT(*) AS BIGINT) AS f
      FROM toks GROUP BY doc_id, n_tokens, term
    ),
    c AS (
      SELECT term, CAST(SUM(f) AS BIGINT) AS c FROM tf GROUP BY term
    ),
    t AS (SELECT CAST(SUM(c) AS BIGINT) AS total FROM c),
    lp AS (
      SELECT term,
             CAST(floor(ln(c * 1.0 / total) * {LOGP_MICRO} + 0.5) AS BIGINT)
               AS logp_micro
      FROM c, t
    ),
    per_doc AS (
      SELECT doc_id, n_tokens,
             CAST(SUM(f * logp_micro) AS BIGINT) AS sum_logp_micro
      FROM tf JOIN lp USING (term) GROUP BY doc_id, n_tokens
    )
    SELECT d.doc_id,
           COALESCE(p.n_tokens, 0) AS n_tokens,
           p.sum_logp_micro,
           (p.sum_logp_micro * 1.0 / p.n_tokens) / {LOGP_MICRO} AS avg_logp
    FROM documents d LEFT JOIN per_doc p USING (doc_id)
    """,
)
def text_perplexity_proxy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM perplexity-proxy scoring: per-doc average token
    log-probability under the corpus's own unigram distribution, in
    exact integer micro-nats (ln rounded once per DISTINCT term; all
    per-doc accumulation is exact BIGINT — order-free)."""
    return perplexity_proxy(load_table(spark, sf_dir, "documents"))


@query(
    "text_token_entropy",
    # Same micro-nat discipline as the perplexity proxy: ln() once per
    # (doc, term) on an identical f/n double, rounded to BIGINT, then
    # exact integer sums.
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             unnest(string_split(text, ' ')) AS term
      FROM documents
    ),
    tf AS (
      SELECT doc_id, n_tokens, term, CAST(COUNT(*) AS BIGINT) AS f
      FROM toks GROUP BY doc_id, n_tokens, term
    ),
    per_doc AS (
      SELECT doc_id, n_tokens,
             CAST(COUNT(*) AS BIGINT) AS n_distinct_tokens,
             CAST(SUM(f * CAST(floor(ln(f * 1.0 / n_tokens) * {LOGP_MICRO}
                                     + 0.5) AS BIGINT)) AS BIGINT)
               AS sum_plogp_micro
      FROM tf GROUP BY doc_id, n_tokens
    )
    SELECT d.doc_id,
           COALESCE(p.n_tokens, 0) AS n_tokens,
           COALESCE(p.n_distinct_tokens, 0) AS n_distinct_tokens,
           -((p.sum_plogp_micro * 1.0 / p.n_tokens) / {LOGP_MICRO})
             AS entropy_nats
    FROM documents d LEFT JOIN per_doc p USING (doc_id)
    """,
)
def text_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document unigram entropy H = -sum (f/n) ln(f/n): the
    token-diversity quality signal (low entropy = templated/repetitive
    text — complements text_repetition_score's n-gram view). One
    explode + one (doc, term) hash-aggregate + one per-doc reduce —
    linear, shuffle-bounded by the tf matrix, never all-pairs; the
    per-doc sum is exact BIGINT micro-nats (order-free)."""
    return token_entropy(load_table(spark, sf_dir, "documents"))


def token_entropy(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """DataFrame core of `text_token_entropy` — the production entry
    point for arbitrary corpora. NULL-text docs never reach the tf
    matrix (explode emits nothing for a NULL array), so the final
    LEFT join surfaces them with n_tokens=0 and NULL entropy instead
    of silently dropping them (the r14 row-loss class)."""
    tf = _tf(docs, text_col)
    plogp_micro = (F.col("f")
                   * F.floor(F.log(F.col("f") * 1.0 / F.col("n_tokens"))
                             * LOGP_MICRO + 0.5).cast("bigint"))
    per_doc = (tf.groupBy("doc_id", "n_tokens")
               .agg(F.count(F.lit(1)).alias("n_distinct_tokens"),
                    F.sum(plogp_micro).alias("sum_plogp_micro")))
    scored = per_doc.select(
        "doc_id", "n_tokens", "n_distinct_tokens",
        (-((F.col("sum_plogp_micro") * 1.0 / F.col("n_tokens"))
           / F.lit(LOGP_MICRO))).alias("entropy_nats"))
    return (docs.select("doc_id").join(scored, "doc_id", "left")
            .select("doc_id",
                    F.coalesce("n_tokens", F.lit(0).cast("bigint"))
                    .alias("n_tokens"),
                    F.coalesce("n_distinct_tokens", F.lit(0).cast("bigint"))
                    .alias("n_distinct_tokens"),
                    "entropy_nats"))


# --- n-gram novelty scoring (round 15) ------------------------------------------
#
# Streaming-curation signal: how much of a document's shingle set is
# NEW relative to everything ingested before it (doc_id = ingestion
# order)? Low novelty = the document mostly restates earlier content
# — the soft-scoring cousin of keep-first dedup (which hard-drops).

NOVELTY_NGRAM_N = 3


def ngram_novelty(docs: DataFrame, n: int = NOVELTY_NGRAM_N,
                  text_col: str = "text") -> DataFrame:
    """Per-doc novelty = fraction of its DISTINCT n-gram shingles
    whose globally FIRST occurrence (min doc_id) is this document.

    Scale shape: the same O(1)-state argmin hash-aggregate as
    paragraph keep-first — min(doc_id) per shingle partial-aggregates
    map-side (hot boilerplate shingles collapse before the shuffle),
    then one equi-join back and a per-doc reduce. Docs too short to
    shingle (< n tokens; shared `shingles` requires >= n) surface
    with n_shingles=0 and NULL novelty (LEFT join — the round-14
    no-silent-row-loss convention), never vanish or error.

    The shingle stream is MATERIALIZED: it feeds both the argmin
    aggregate and the join-back probe — unmaterialized, the corpus
    shingle explode ran twice (K=100 probe: 13.2 s -> 6.0 s after;
    the same multi-consumer recompute class the r15 review caught in
    perplexity_proxy). Shingles are then reduced to 60-BIT md5-prefix
    FINGERPRINTS before the aggregate (the text_fingerprint fp_int /
    minhash 31-bit-shingle idiom): the argmin shuffle and join-back
    move one BIGINT instead of a ~50-byte string — interleaved A/B at
    K=100: 3.4 s -> 1.45 s, flipping the DuckDB ratio from 2.6x to
    below 1. Collisions (~n^2/2^61) merge two shingles' first-seen
    evidence; novelty is a heuristic score, and the oracle applies
    the identical fingerprint, so certification is exact."""
    from coursera_etl_pipeline_spark.llm_ops.dedup import (
        _materialize,
        shingles,
    )

    long_enough = docs.filter(F.size(F.split(text_col, " ")) >= n)
    sh = _materialize(
        shingles(long_enough, n=n, text_col=text_col)
        .select("doc_id", F.explode("_shingles").alias("shingle"))
        .select("doc_id",
                F.conv(F.substring(F.md5("shingle"), 1, 15), 16, 10)
                .cast("bigint").alias("shingle")))
    first = sh.groupBy("shingle").agg(F.min("doc_id").alias("_first"))
    per_doc = (sh.join(first, "shingle")
               .groupBy("doc_id")
               .agg(F.count(F.lit(1)).alias("n_shingles"),
                    F.count(F.when(F.col("_first") == F.col("doc_id"),
                                   F.lit(1))).alias("n_novel")))
    return (docs.select("doc_id").join(per_doc, "doc_id", "left")
            .select(
                "doc_id",
                F.coalesce("n_shingles", F.lit(0).cast("bigint"))
                .alias("n_shingles"),
                F.coalesce("n_novel", F.lit(0).cast("bigint"))
                .alias("n_novel"),
                F.when(F.col("n_shingles") > 0,
                       F.col("n_novel") * 1.0 / F.col("n_shingles"))
                .alias("novelty")))


@query(
    "text_ngram_novelty",
    # fp = the engine's identical 60-bit md5-prefix fingerprint
    # (text_fingerprint's fp_int idiom), so first-seen evidence
    # merges identically under the (negligible) collision measure.
    # DISTINCT runs on the STRING shingles FIRST, then hashes —
    # mirroring the engine's array_distinct-then-hash order exactly.
    oracle=f"""
    WITH sh AS (
      SELECT doc_id,
             ('0x' || substr(md5(shingle), 1, 15))::BIGINT AS shingle
      FROM (SELECT DISTINCT doc_id, shingle
            FROM (SELECT doc_id, {_decontam_ngram_sql(NOVELTY_NGRAM_N)} AS shingle
                  FROM (SELECT doc_id, string_split(text, ' ') AS t
                        FROM documents)))
    ),
    frst AS (
      SELECT shingle, MIN(doc_id) AS first_doc FROM sh GROUP BY shingle
    ),
    per_doc AS (
      SELECT s.doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_shingles,
             CAST(COUNT(*) FILTER (WHERE f.first_doc = s.doc_id) AS BIGINT)
               AS n_novel
      FROM sh s JOIN frst f USING (shingle) GROUP BY s.doc_id
    )
    SELECT d.doc_id,
           COALESCE(p.n_shingles, 0) AS n_shingles,
           COALESCE(p.n_novel, 0) AS n_novel,
           CASE WHEN COALESCE(p.n_shingles, 0) > 0
                THEN p.n_novel * 1.0 / p.n_shingles END AS novelty
    FROM documents d LEFT JOIN per_doc p USING (doc_id)
    """,
)
def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram novelty scoring: per-doc fraction of distinct 3-gram
    shingles first seen in this document (doc_id as ingestion order) —
    the soft-scoring complement to keep-first dedup. One argmin
    hash-aggregate + equi-join back; linear at 100 TB."""
    return ngram_novelty(load_table(spark, sf_dir, "documents"))


# --- C4 heuristic rule pack --------------------------------------------------
#
# The C4 cleaning battery (Raffel et al. 2020, public) complements the
# Gopher pack above: boilerplate/code/placeholder detection rather
# than statistical text shape. Doc-level adaptation of the published
# line-level rules (the fixture corpus is newline-free; production
# callers explode lines first and reuse the same flags).

C4_MIN_WORDS = 5
C4_POLICY_PHRASES = ("cookie policy", "privacy policy", "terms of use")


def c4_rules(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document C4 rule flags + AND verdict: >= 5 words, no
    'lorem ipsum' placeholder, no curly brace (code leak), no
    cookie/privacy/terms boilerplate phrase, and terminal
    punctuation (. ! ? ") at the end of the trimmed text.

    Scale shape: like gopher_rules — ONE map stage of codegen'd
    string expressions (split/instr/substring), zero shuffle, zero
    UDFs; runs at scan speed at 100 TB. NULL text is treated as
    empty (explicit keep=False via the word-count rule — the r15
    no-NULL-verdict convention)."""
    txt = F.coalesce(F.col(text_col), F.lit(""))
    low = F.lower(txt)
    n_words = F.size(F.split(txt, " "))
    last_char = F.substring(F.trim(txt), -1, 1)
    r_words = n_words >= C4_MIN_WORDS
    r_lorem = F.instr(low, "lorem ipsum") == 0
    r_brace = F.instr(txt, "{") == 0
    r_policy = None
    for p in C4_POLICY_PHRASES:
        flag = F.instr(low, p) == 0
        r_policy = flag if r_policy is None else (r_policy & flag)
    r_punct = last_char.isin(".", "!", "?", '"')
    return docs.select(
        "doc_id",
        n_words.alias("n_words"),
        r_words.alias("rule_min_words"),
        r_lorem.alias("rule_no_lorem"),
        r_brace.alias("rule_no_brace"),
        r_policy.alias("rule_no_policy"),
        r_punct.alias("rule_terminal_punct"),
        (r_words & r_lorem & r_brace & r_policy & r_punct).alias("keep"))


def text_c4_rules_oracle() -> str:
    """DuckDB oracle: same flags over the same NULL-as-empty text;
    position()=0 mirrors instr()=0, and the terminal-punct check reads
    the same trimmed last char."""
    # '' -escape the phrases (ADVICE r15): a future phrase containing a
    # single quote must not silently produce invalid oracle SQL.
    esc = [p.replace("'", "''") for p in C4_POLICY_PHRASES]
    phrases = " AND ".join(f"position('{p}' IN low) = 0" for p in esc)
    return f"""
    WITH feats AS (
      SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS INTEGER) AS n_words,
             lower(text) AS low,
             text,
             CASE WHEN length(trim(text)) > 0
                  THEN substr(trim(text), length(trim(text)), 1)
                  ELSE '' END AS last_char
      FROM (SELECT doc_id, coalesce(text, '') AS text FROM documents)
    )
    SELECT doc_id, n_words,
           (n_words >= {C4_MIN_WORDS}) AS rule_min_words,
           (position('lorem ipsum' IN low) = 0) AS rule_no_lorem,
           (position('{{' IN text) = 0) AS rule_no_brace,
           ({phrases}) AS rule_no_policy,
           (last_char IN ('.', '!', '?', '"')) AS rule_terminal_punct,
           (n_words >= {C4_MIN_WORDS}
            AND position('lorem ipsum' IN low) = 0
            AND position('{{' IN text) = 0
            AND {phrases}
            AND last_char IN ('.', '!', '?', '"')) AS keep
    FROM feats
    """


@query("text_c4_rules", oracle=text_c4_rules_oracle())
def text_c4_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The C4 cleaning battery over the fixture corpus."""
    return c4_rules(load_table(spark, sf_dir, "documents"))


# --- CCNet perplexity bucketing ----------------------------------------------
#
# CCNet (Wenzek et al. 2020, public): partition the corpus into
# head/middle/tail tertiles of LM perplexity — the standard coarse
# quality split that downstream pipelines sample from differentially.
# Composes the certified perplexity proxy: lower perplexity = higher
# avg_logp = 'head'.

CCNET_PROBS = (1 / 3, 2 / 3)


def ccnet_buckets(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, avg_logp, ppl_bucket): head/middle/tail tertiles of
    the unigram-LM perplexity proxy; unscorable docs (no tokens)
    surface as 'unscored', never vanish.

    Scale shape: perplexity_proxy's certified plan + ONE 2-number
    exact-percentile aggregate broadcast back (the quality_bins
    idiom — the scale-correct form of ntile(3)'s global sort) + a
    map-side CASE. The scored frame is MATERIALIZED: it feeds both
    the cutpoint aggregate and the bucket-assignment join (the
    multi-consumer recompute class).

    Cutpoints round through the half-mode-proof floor(x*1e6+0.5)/1e6
    on both engines; tertile boundaries use the same <=-lower-bucket
    tie rule as quality_bins (here: <= cutpoint buckets AWAY from
    head, since avg_logp sorts head-last)."""
    from coursera_etl_pipeline_spark.llm_ops.dedup import _materialize

    scored = _materialize(
        perplexity_proxy(docs, text_col=text_col)
        .select("doc_id", "avg_logp"))
    has = scored.filter(F.col("avg_logp").isNotNull())
    cuts = has.agg(
        *[(F.floor(F.percentile("avg_logp", F.lit(p)) * 1e6 + 0.5) / 1e6)
          .alias(f"_c{i}")
          for i, p in enumerate(CCNET_PROBS)])
    a = F.col("avg_logp")
    return (scored.crossJoin(F.broadcast(cuts))
            .select("doc_id", "avg_logp",
                    F.when(a.isNull(), F.lit("unscored"))
                    .when(a <= F.col("_c0"), F.lit("tail"))
                    .when(a <= F.col("_c1"), F.lit("middle"))
                    .otherwise(F.lit("head")).alias("ppl_bucket")))


def text_ccnet_bucket_oracle() -> str:
    """DuckDB oracle: the certified text_perplexity_proxy oracle nests
    as one CTE (zero duplication), then the same quantile_cont
    cutpoints (half-mode-proof rounding) and the same CASE."""
    from coursera_etl_pipeline_spark.registry import ORACLE

    p0, p1 = CCNET_PROBS
    return f"""
    WITH px AS ({ORACLE['text_perplexity_proxy']}),
    scored AS (
      SELECT doc_id, avg_logp FROM px
    ),
    cuts AS (
      SELECT floor(quantile_cont(avg_logp, {p0}) * 1e6 + 0.5) / 1e6 AS c0,
             floor(quantile_cont(avg_logp, {p1}) * 1e6 + 0.5) / 1e6 AS c1
      FROM scored WHERE avg_logp IS NOT NULL
    )
    SELECT s.doc_id, s.avg_logp,
           CASE WHEN s.avg_logp IS NULL THEN 'unscored'
                WHEN s.avg_logp <= c.c0 THEN 'tail'
                WHEN s.avg_logp <= c.c1 THEN 'middle'
                ELSE 'head' END AS ppl_bucket
    FROM scored s, cuts c
    """


@query("text_ccnet_bucket", oracle=text_ccnet_bucket_oracle())
def text_ccnet_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet head/middle/tail perplexity tertiles over the fixture
    corpus."""
    return ccnet_buckets(load_table(spark, sf_dir, "documents"))


# --- per-source corpus profile report ----------------------------------------
#
# The one-pass health report a corpus owner runs before any curation
# decision: per ingestion source, volume (docs/tokens), hygiene (NULL
# texts), language spread, and exact-duplicate pressure.


def corpus_profile(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-source profile: (source, n_docs, null_docs, total_ws_toks,
    n_langs, distinct_texts, dup_excess, dup_ratio_micro).

    Scale shape: ONE hash-aggregate keyed on source (|sources| groups;
    the two count-distincts expand to a (source, key) pre-aggregate —
    still bounded by |sources| x |distinct values|, with map-side
    partials doing the collapse). No joins, no windows, no corpus
    shuffle beyond the distinct pre-aggregates. All outputs exact
    integers; the ratio is the floor(x*1e6 + 0.5) micro-unit
    discipline so the hash can't wobble.

    NULL text rows count in n_docs and null_docs, contribute 0 tokens,
    and share the '' fingerprint group (dedup.content_fp — the shared
    single definition, r16 review) — no silent row loss."""
    from coursera_etl_pipeline_spark.llm_ops.dedup import content_fp

    fp = content_fp(text_col)
    # NULL guard spelled as an explicit WHEN, not COALESCE(size(...), 0):
    # under spark.sql.legacy.sizeOfNull=true size() returns -1 (not
    # NULL) and a COALESCE silently keeps the -1, skewing the token
    # total against the oracle (ADVICE r16). The WHEN form is
    # conf-independent; session.py also pins the conf false for
    # sessions this package creates.
    ws = (F.when(F.col(text_col).isNull(), F.lit(0))
          .otherwise(F.size(F.split(text_col, " "))))
    keyed = docs.select(
        "source", "lang",
        F.col(text_col).isNull().alias("is_null"),
        ws.cast("bigint").alias("toks"),
        fp.alias("fp"))
    prof = (keyed.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.count(F.when(F.col("is_null"), F.lit(1)))
                 .alias("null_docs"),
                 F.sum("toks").alias("total_ws_toks"),
                 F.countDistinct("lang").alias("n_langs"),
                 F.countDistinct("fp").alias("distinct_texts")))
    dup = F.col("n_docs") - F.col("distinct_texts")
    return prof.select(
        "source", "n_docs", "null_docs", "total_ws_toks", "n_langs",
        "distinct_texts", dup.alias("dup_excess"),
        F.floor(dup * F.lit(1000000.0) / F.col("n_docs") + F.lit(0.5))
        .cast("bigint").alias("dup_ratio_micro"))


def text_corpus_profile_oracle() -> str:
    """DuckDB oracle: identical keyed projection and one GROUP BY
    source; every COUNT/SUM CASTs to BIGINT (the HUGEINT lesson); the
    ratio division is spelled (dup * 1000000.0 / n_docs) on both
    engines."""
    from coursera_etl_pipeline_spark.llm_ops.dedup import DUCK_CONTENT_FP

    return f"""
    WITH keyed AS (
      SELECT source, lang,
             (text IS NULL) AS is_null,
             CAST(COALESCE(len(string_split(text, ' ')), 0) AS BIGINT)
               AS toks,
             {DUCK_CONTENT_FP} AS fp
      FROM documents
    ),
    prof AS (
      SELECT source,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(COUNT(*) FILTER (WHERE is_null) AS BIGINT) AS null_docs,
             CAST(SUM(toks) AS BIGINT) AS total_ws_toks,
             CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
             CAST(COUNT(DISTINCT fp) AS BIGINT) AS distinct_texts
      FROM keyed GROUP BY source
    )
    SELECT source, n_docs, null_docs, total_ws_toks, n_langs,
           distinct_texts,
           (n_docs - distinct_texts) AS dup_excess,
           CAST(floor((n_docs - distinct_texts) * 1000000.0 / n_docs
                      + 0.5) AS BIGINT) AS dup_ratio_micro
    FROM prof
    """


@query("text_corpus_profile", oracle=text_corpus_profile_oracle())
def text_corpus_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-source one-pass corpus health report."""
    return corpus_profile(load_table(spark, sf_dir, "documents"))


# --- hashed-projection embedding generation ----------------------------------
#
# The engine's own embedding GENERATOR — the gap the r16 VERDICT named
# ("embeddings are fixture inputs; a training-data pipeline user will
# ask"). Model-based embedders are a library/GPU concern, but the
# deterministic tier every large-scale pipeline also keeps — signed
# feature hashing (Weinberger et al. 2009, "Feature Hashing for Large
# Scale Multitask Learning", public; the same trick DSIR's hashed
# bigrams already use) — is pure engine work: token -> hash bucket in
# a FIXED dim-dimensional space, +/-1 sign from an independent hash
# bit (makes the inner product an unbiased kernel estimate), per-doc
# bucket sums. Exact integers end to end, so the generated vectors are
# oracle-checkable, and the output feeds the similarity family
# directly (pivot the long form to array<float> for cosine/ANN).

EMBED_HASH_DIM = 64   # matches the fixture embeddings' dimensionality


def embed_hash(docs: DataFrame, text_col: str = "text",
               dim: int = EMBED_HASH_DIM) -> DataFrame:
    """(doc_id, dim_id, weight): signed feature-hashing embedding in
    long form — weight = sum over the doc's tokens hashing to dim_id
    of that token's +/-1 sign.

    bucket = md5[0:8] % dim, sign = parity of md5's 9th hex digit —
    two windows of one md5 per DISTINCT token evaluation, the same
    '0x'||substr idiom every hash-bucket oracle shares; both engines
    compute identical BIGINT arithmetic so every weight is exact.

    Scale shape: one token explode -> ONE hash-aggregate keyed
    (doc_id, bucket) with per-doc state bounded by dim (map-side
    partials collapse hot buckets) -> LEFT join back so NULL-text /
    empty docs surface as (doc_id, NULL, NULL) instead of vanishing
    (the DSIR featureless-doc convention). No corpus self-join, no
    windows, no driver state — the shape survives any corpus size."""
    tok = docs.select(
        "doc_id", F.explode(F.split(F.col(text_col), " ")).alias("tok"))
    md5 = F.md5(F.col("tok"))
    bucket = F.conv(F.substring(md5, 1, 8), 16, 10).cast("bigint") % dim
    sign = F.when(
        F.conv(F.substring(md5, 9, 1), 16, 10).cast("bigint") % 2 == 0,
        F.lit(1)).otherwise(F.lit(-1))
    feats = (tok.groupBy("doc_id", bucket.alias("dim_id"))
             .agg(F.sum(sign).cast("bigint").alias("weight")))
    return (docs.select("doc_id").join(feats, "doc_id", "left")
            .select("doc_id", "dim_id", "weight"))


def _duck_embed_feats_ctes() -> str:
    """tok/h/feats CTE block — the feature-row half of the embed-hash
    oracle (everything but the featureless-doc LEFT join), shared with
    the streamed-maintenance rebuild oracle (`streaming/parity.py`)
    so the hashing recipe is defined once (the `_duck_sig_ctes`
    rule)."""
    return f"""tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok
      FROM documents
    ),
    h AS (
      SELECT doc_id,
             ('0x' || substr(md5(tok), 1, 8))::BIGINT % {EMBED_HASH_DIM}
               AS dim_id,
             CASE WHEN ('0x' || substr(md5(tok), 9, 1))::BIGINT % 2 = 0
                  THEN 1 ELSE -1 END AS s
      FROM tok
    ),
    feats AS (
      SELECT doc_id, dim_id, CAST(SUM(s) AS BIGINT) AS weight
      FROM h GROUP BY doc_id, dim_id
    )"""


def text_embed_hash_oracle() -> str:
    """DuckDB oracle: identical md5 windows, mod-dim bucket, parity
    sign, and exact BIGINT bucket sums (SUM CASTs through BIGINT — the
    HUGEINT lesson); the LEFT join surfaces featureless docs exactly
    like the engine."""
    return f"""
    WITH {_duck_embed_feats_ctes()}
    SELECT d.doc_id, f.dim_id, f.weight
    FROM documents d LEFT JOIN feats f ON f.doc_id = d.doc_id
    """


@query("text_embed_hash", oracle=text_embed_hash_oracle())
def text_embed_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signed feature-hashing embeddings generated from the fixture
    documents."""
    return embed_hash(load_table(spark, sf_dir, "documents"))
