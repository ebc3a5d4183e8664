"""Duplicate-cluster resolution: near-dup PAIRS -> connected
components -> one canonical survivor per cluster.

The iterative-algorithm class (SURVEY §5.2 item 5: non-SQL-expressible
ops). Components are computed with the alternating large-star /
small-star algorithm (Kiveris et al., "Connected Components in
MapReduce and Beyond", SoCC'14) — the standard shuffle-bounded form
for 100 TB graphs: each round is two groupBy-join passes over the
edge list, edges always point toward smaller ids, and convergence is
O(log^2 n) rounds on ANY graph shape (vs label propagation's
O(diameter) rounds, which dies on chain-shaped clusters). Every round
localCheckpoints its frontier so the logical plan stays O(1) deep (see
the in-loop comment for why persist() is insufficient here).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from coursera_etl_pipeline_spark.catalog import load_table
from coursera_etl_pipeline_spark.registry import query


def _large_star(edges: DataFrame) -> DataFrame:
    """large-star(u): m = min(Γ(u) ∪ {u}); connect every LARGER
    neighbor v > u directly to m. Operates on the symmetric neighbor
    list so each undirected edge is seen from both endpoints.

    m is a min-over-partition WINDOW, not groupBy+join-back: the
    aggregate-then-rejoin form shuffled the symmetric edge list TWICE
    per round (once into the groupBy, once into the join) plus the
    joined output into distinct — the window computes m in the same
    exchange that carries the rows, so each round moves |sym| once
    instead of twice (optimization r18, guide §2.3/§2.4; interleaved
    A/B on the LSH pair graph: same edge set every round, ~2/3 the
    jobs). The skew profile is unchanged: a hot u lands in one task
    either way, and rounds strictly shrink hot neighborhoods."""
    from pyspark.sql import Window as W

    sym = edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    m = F.least(F.min("v").over(W.partitionBy("u")), F.col("u"))
    # No trailing distinct (r18 second pass): duplicates emitted here
    # compute the same m in small-star's window and die in ITS
    # trailing distinct — which the alternating-star algorithm needs
    # anyway — so set semantics per full round are unchanged while
    # each round drops one exchange (interleaved A/B in
    # tools/ab_cc_r18.py @ 3f77309 main_d: 1.955 s / 19 jobs -> 1.718 s / 17,
    # final star edges asserted identical).
    return (sym.withColumn("m", m)
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v")))


def _small_star(edges: DataFrame) -> DataFrame:
    """small-star(u): over the canonical (u -> smaller v) orientation,
    m = min neighbor; connect u and all its smaller neighbors to m.

    Same window form as _large_star (one exchange computes m and
    carries the rows), and the relink/self edges are emitted by ONE
    map-side explode instead of unioning two projections of the join —
    the union form duplicated the whole join subtree per branch. The
    per-row (u, m) self edge repeats across a u's rows; the trailing
    distinct (already required by the algorithm) absorbs it."""
    from pyspark.sql import Window as W

    canon = edges.select(F.greatest("u", "v").alias("u"),
                         F.least("u", "v").alias("v"))
    m = F.min("v").over(W.partitionBy("u"))
    both = F.array(
        F.struct(F.col("v").alias("u"), F.col("m").alias("v")),   # relink
        F.struct(F.col("u").alias("u"), F.col("m").alias("v")))   # self
    return (canon.withColumn("m", m)
            .select(F.explode(both).alias("e"))
            .select("e.u", "e.v")
            .filter(F.col("u") != F.col("v"))
            .distinct())


def _ckpt_sig(df: DataFrame) -> tuple[DataFrame, tuple]:
    """localCheckpoint a frontier AND read its convergence signature
    (count + commutative xxhash sum — identical edge SET detector;
    exact equality would be an anti-join) from the SAME materialization
    via observe(): one action per round instead of checkpoint-then-
    aggregate (optimization r19, guide §2.4 — the separate ``_sig``
    aggregate was a full extra pass over the frontier per round; the
    interleaved A/B in tools/ab_cc_r19.py @ 3f77309 reads 33 -> 18 jobs
    over the whole keep-representative query). decimal accumulator: a long sum
    of 64-bit hashes overflows under ANSI arithmetic.

    localCheckpoint, deliberately NOT persist: each round's plan embeds
    the previous frontier TWICE (the large-star self-union), so without
    plan truncation the logical tree doubles per round and Catalyst
    analysis goes exponential. localCheckpoint rewraps the frontier as
    a LogicalRDD — O(1) plan size per round — which persist()
    (data-only reuse, full lineage kept) cannot do. Eager (the default)
    instead of the former eager=False: the signature was always the
    frontier's first action, so materialization timing is unchanged —
    the observation just rides it."""
    from pyspark.sql import Observation

    obs = Observation()
    watched = df.observe(
        obs, F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")),
                   F.lit(0)).alias("h"))
    ck = watched.localCheckpoint(eager=True)
    got = obs.get
    return ck, (got["n"], got["h"])


def _star_edges(pairs: DataFrame,
                max_iter: int = 20) -> tuple[DataFrame, DataFrame]:
    """Alternating large-star / small-star rounds to the fixed point.
    Returns (initial_edges, star_edges): the checkpointed normalized
    input edge list (what ``connected_components`` derives the node set
    from) and the CONVERGED star forest — every edge points directly at
    its component's min-id root, roots never appear on the u side.

    Callers that hold a superset of the node set (the keep-
    representative verdict joins the full corpus) consume the star
    edges DIRECTLY: coalesce(v, doc_id) labels roots, singletons, and
    members identically, so the nodes union/distinct/join inside
    ``connected_components`` never has to run (optimization r19,
    guide §2.4 — same A/B as above)."""
    edges, sig_old = _ckpt_sig(
        pairs.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
        .filter(F.col("u") != F.col("v")).distinct())
    initial = edges
    for _ in range(max_iter):
        edges, sig_new = _ckpt_sig(_small_star(_large_star(edges)))
        if sig_new == sig_old:
            return initial, edges
        sig_old = sig_new
    # Without a fixed point the edge set need not be a star forest,
    # and a label join over it would silently emit multiple rows per
    # doc_id with arbitrary labels. Convergence is O(log^2 n) rounds
    # (Kiveris et al.), so hitting this means max_iter is far too
    # small for the graph — fail loudly rather than mislabel.
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} rounds; "
        "raise max_iter (star contraction needs O(log^2 n) rounds)")


def connected_components(pairs: DataFrame, max_iter: int = 20) -> DataFrame:
    """(doc_a, doc_b) undirected pairs -> (doc_id, component) where
    component = min doc_id reachable. Alternating large-star /
    small-star to a fixed point; at convergence every edge points
    directly at its component's root."""
    initial, star = _star_edges(pairs, max_iter)
    nodes = (initial.select(F.col("u").alias("doc_id"))
             .union(initial.select(F.col("v").alias("doc_id")))
             .distinct())
    labels = nodes.join(star.withColumnRenamed("u", "doc_id"), "doc_id", "left")
    return labels.select(
        "doc_id", F.coalesce("v", "doc_id").alias("component"))


def dedup_survivors(docs: DataFrame, pairs: DataFrame) -> DataFrame:
    """Full survivor set: docs minus every non-canonical member of a
    duplicate cluster (canonical = min doc_id in the component).

    Non-canonical members are exactly the u side of the converged star
    forest (roots never appear as u), so the loser set needs no label
    join at all — one anti-join against the star edges (r19)."""
    _initial, star = _star_edges(pairs)
    return docs.join(star.select(F.col("u").alias("doc_id")),
                     "doc_id", "left_anti")


@query(
    "dedup_components",
    oracle="""
    WITH RECURSIVE sh AS (
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
    ), pairs AS (
      SELECT doc_a, doc_b FROM common
        JOIN cnt ca ON ca.doc_id = doc_a
        JOIN cnt cb ON cb.doc_id = doc_b
      WHERE c * 1.0 / (ca.n + cb.n - c) >= 0.8
    ), edges AS (
      SELECT doc_a AS u, doc_b AS v FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs
    ), reach(u, r) AS (
      SELECT u, u FROM (SELECT DISTINCT u FROM edges)
      UNION
      SELECT e.u, reach.r FROM edges e JOIN reach ON e.v = reach.u
    )
    SELECT u AS doc_id, MIN(r) AS component
    FROM reach GROUP BY u
    """,
)
def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The connected-components labeling itself, under the value-hash
    gate: Spark runs alternating star rounds, the oracle computes the
    same labels via a recursive-CTE transitive closure (min reachable
    id). This pins the ITERATIVE algorithm's exact output — not just a
    row count — against an independent formulation."""
    from coursera_etl_pipeline_spark.llm_ops.dedup import dedup_ngram_jaccard

    return connected_components(dedup_ngram_jaccard(spark, sf_dir))


@query(
    "dedup_clusters",
    oracle="""
    WITH RECURSIVE sh AS (
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
    ), pairs AS (
      SELECT doc_a, doc_b FROM common
        JOIN cnt ca ON ca.doc_id = doc_a
        JOIN cnt cb ON cb.doc_id = doc_b
      WHERE c * 1.0 / (ca.n + cb.n - c) >= 0.8
    ), edges AS (
      SELECT doc_a AS u, doc_b AS v FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs
    ), reach(u, r) AS (
      SELECT u, u FROM (SELECT DISTINCT u FROM edges)
      UNION
      SELECT e.u, reach.r FROM edges e JOIN reach ON e.v = reach.u
    ), labels AS (
      SELECT u AS doc_id, MIN(r) AS component FROM reach GROUP BY u
    )
    SELECT component,
           CAST(COUNT(*) AS BIGINT) AS cluster_size,
           string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS member_ids
    FROM labels
    GROUP BY component
    HAVING COUNT(*) >= 2
    """,
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters over the documents table: jaccard pairs ->
    components -> (component, size, member ids). Completes the dedup
    story: pairs are diagnostics, clusters are what you delete by.
    Oracle: the same clusters from a recursive-CTE transitive closure
    (round 2 — previously rows-only; the star-rounds loop is
    deterministic, so the full member lists value-hash match)."""
    from coursera_etl_pipeline_spark.llm_ops.dedup import dedup_ngram_jaccard

    pairs = dedup_ngram_jaccard(spark, sf_dir)
    comp = connected_components(pairs)
    return (
        comp.groupBy("component")
        .agg(F.count(F.lit(1)).alias("cluster_size"),
             F.sort_array(F.collect_list("doc_id")).alias("members"))
        .filter(F.col("cluster_size") >= 2)
        .select("component", "cluster_size",
                F.array_join(F.transform("members", lambda m: m.cast("string")), ",")
                .alias("member_ids"))
    )


# --- end-to-end minhash dedup verdict ----------------------------------------


def minhash_keep_representative(docs: DataFrame) -> DataFrame:
    """The end-to-end near-dup dedup VERDICT: minhash-LSH verified
    pairs -> connected components -> keep the min-doc_id member of
    each component; every doc surfaces (LEFT join — singletons are
    their own component and keep themselves), labeled
    (doc_id, component, is_kept).

    Scale shape: composes three certified pieces — the banded LSH
    candidate join (never all-pairs), the O(log^2 n)-round star
    contraction (shuffle-bounded, plan-truncated per round), and one
    LEFT equi-join back onto the corpus. Nothing new joins at corpus
    scale; the verdict column is map-side arithmetic.

    The corpus joins the converged star edges DIRECTLY (r19, guide
    §2.4): docs ⊇ nodes, so coalesce(v, doc_id) labels members (edge
    hit), roots and singletons (miss) exactly as the label table
    would — the nodes union + distinct + label join inside
    ``connected_components`` never runs. Interleaved A/B over the full
    query (tools/ab_cc_r19.py @ 3f77309, with the observe-piggybacked rounds):
    2.909 s / 33 jobs -> 1.563 s / 18 jobs, output checksum-identical
    per cycle."""
    from coursera_etl_pipeline_spark.llm_ops.dedup import minhash_lsh_pairs

    pairs = minhash_lsh_pairs(docs).select("doc_a", "doc_b")
    _initial, star = _star_edges(pairs)
    return (docs.select("doc_id")
            .join(star.withColumnRenamed("u", "doc_id"), "doc_id", "left")
            .select("doc_id",
                    F.coalesce("v", F.col("doc_id")).alias("component"))
            .withColumn("is_kept", F.col("doc_id") == F.col("component")))


def dedup_minhash_keep_representative_oracle() -> str:
    """DuckDB oracle: the ENTIRE certified minhash-LSH pair oracle nests
    as one CTE (its own WITH is legal inside a CTE body — zero
    duplication, so the pair recipe cannot drift), followed by the same
    recursive-CTE closure the components oracle uses and the LEFT-join
    verdict."""
    from coursera_etl_pipeline_spark.llm_ops.dedup import (
        _duck_minhash_oracle,
    )

    return f"""
    WITH RECURSIVE mh_pairs AS ({_duck_minhash_oracle()}),
    edges AS (
      SELECT doc_a AS u, doc_b AS v FROM mh_pairs
      UNION SELECT doc_b, doc_a FROM mh_pairs
    ), reach(u, r) AS (
      SELECT u, u FROM (SELECT DISTINCT u FROM edges)
      UNION
      SELECT e.u, reach.r FROM edges e JOIN reach ON e.v = reach.u
    ), labels AS (
      SELECT u AS doc_id, MIN(r) AS component FROM reach GROUP BY u
    )
    SELECT d.doc_id,
           COALESCE(l.component, d.doc_id) AS component,
           (d.doc_id = COALESCE(l.component, d.doc_id)) AS is_kept
    FROM documents d LEFT JOIN labels l USING (doc_id)
    """


@query("dedup_minhash_keep_representative",
       oracle=dedup_minhash_keep_representative_oracle())
def dedup_minhash_keep_representative(spark: SparkSession,
                                      sf_dir: str) -> DataFrame:
    """The end-to-end near-dup dedup verdict a corpus user actually
    calls, over the fixture documents."""
    return minhash_keep_representative(load_table(spark, sf_dir, "documents"))
