"""Relational core: scans, filters, joins, aggregations, sorts, set ops.

Each query is a lazy DataFrame plan — Catalyst does predicate pushdown,
column pruning, and join selection; AQE re-plans at runtime. Reference
parity notes cite /root/reference file:line per SURVEY §2.

Scale notes (100 TB posture):
  - dimension joins (region/nation/supplier/part at TPC-H ratios) are
    broadcast — no shuffle of the fact table;
  - fact-fact joins (lineitem x orders) shuffle on the join key once;
    AQE coalesces/splits partitions at runtime;
  - every aggregate is partial (map-side combine) by construction —
    HashAggregateExec emits partial_sum/partial_count before exchange.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from coursera_etl_pipeline_spark.catalog import (
    NATIONS_PER_REGION,
    eq_fraction,
    gated_broadcast,
    load_table,
    views,
)
from coursera_etl_pipeline_spark.registry import (
    davg,
    dsum,
    dsum_join,
    dsum_split,
    micros_expr,
    query,
)


# ---------------------------------------------------------------------------
# Flagship: pricing summary (scan -> filter -> groupBy 8 aggs -> sort).
# Exercises O5 count / O20 scan semantics generalized per SURVEY §2.2;
# the canonical "would-it-scale" plan: pushdown filter, partial agg,
# single shuffle on 2 low-cardinality keys.
# ---------------------------------------------------------------------------

@query(
    "q1_pricing_summary",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {dsum('l_quantity')}                                   AS sum_qty,
           {dsum('l_extendedprice')}                              AS sum_base_price,
           {dsum('l_extendedprice * (1 - l_discount)')}           AS sum_disc_price,
           {dsum('l_extendedprice * (1 - l_discount) * (1 + l_tax)')} AS sum_charge,
           {davg('l_quantity')}                                   AS avg_qty,
           {davg('l_extendedprice')}                              AS avg_price,
           {davg('l_discount')}                                   AS avg_disc,
           COUNT(*)                                               AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    # the 8 decimal partial aggregates are the heavy map-side work here;
    # fan_out is a no-op whenever the scan already yields >= core-count
    # partitions (any real multi-file input) and only round-robins the
    # local single-row-group fixture so partial aggregation parallelizes.
    # Deliberately NOT applied to multi-scan join queries (q18-style):
    # there each extra exchange costs more than the parallelism buys.
    from coursera_etl_pipeline_spark.catalog import fan_out

    li = fan_out(spark, li)
    # Three-stage split-BIGINT dsum (registry.micros_expr/dsum_split/
    # dsum_join): each micros product is projected ONCE, the 8 heavy
    # decimal partials become 10 codegen-fast BIGINT sums, and the
    # exact recombination yields bit-identical doubles — 2.7x faster
    # than the single-decimal form on this shape (registry.py round-9
    # note); the oracle's plain-dsum SQL is unchanged.
    measures = [
        ("_mq", "l_quantity"),
        ("_mp", "l_extendedprice"),
        ("_md", "l_extendedprice * (1 - l_discount)"),
        ("_mc", "l_extendedprice * (1 - l_discount) * (1 + l_tax)"),
        ("_mx", "l_discount"),
    ]
    pre = (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .select("l_returnflag", "l_linestatus",
                *[F.expr(micros_expr(sql)).alias(n) for n, sql in measures])
    )
    aggs = []
    for n, _sql in measures:
        hi, lo = dsum_split(n)
        aggs += [F.expr(hi).alias(f"{n}_hi"), F.expr(lo).alias(f"{n}_lo")]
    # davg divides by COUNT(col): the micros column is null exactly
    # when its source expression is, so COUNT(micros) == COUNT(col)
    aggs += [F.count("_mq").alias("_nq"), F.count("_mp").alias("_np"),
             F.count("_mx").alias("_nx"), F.count(F.lit(1)).alias("count_order")]

    def rec(n: str) -> str:
        return dsum_join(f"{n}_hi", f"{n}_lo")

    return (
        pre.groupBy("l_returnflag", "l_linestatus").agg(*aggs)
        .select(
            "l_returnflag", "l_linestatus",
            F.expr(rec("_mq")).alias("sum_qty"),
            F.expr(rec("_mp")).alias("sum_base_price"),
            F.expr(rec("_md")).alias("sum_disc_price"),
            F.expr(rec("_mc")).alias("sum_charge"),
            F.expr(f"{rec('_mq')} / _nq").alias("avg_qty"),
            F.expr(f"{rec('_mp')} / _np").alias("avg_price"),
            F.expr(f"{rec('_mx')} / _nx").alias("avg_disc"),
            "count_order",
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# ---------------------------------------------------------------------------
# Filters / predicates (SURVEY §2.2 — absent in reference beyond O2/O9;
# full predicate grammar here: =, <, >, IN, LIKE, BETWEEN, AND/OR/NOT).
# The filter is pushed into the parquet scan (PushedFilters in explain).
# ---------------------------------------------------------------------------

@query(
    "q2_filter_predicates",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority
    FROM orders
    WHERE o_orderstatus IN ('F', 'P')
      AND o_orderpriority LIKE '3-%'
      AND o_totalprice BETWEEN 10000 AND 150000
      AND NOT (o_custkey % 7 = 0 OR o_totalprice < 20000)
      AND o_orderdate >= TIMESTAMP '1997-06-01 00:00:00'
    """,
)
def q2_filter_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.filter(
        F.col("o_orderstatus").isin("F", "P")
        & F.col("o_orderpriority").like("3-%")
        & F.col("o_totalprice").between(10000, 150000)
        & ~((F.col("o_custkey") % 7 == 0) | (F.col("o_totalprice") < 20000))
        & (F.col("o_orderdate") >= F.lit("1997-06-01").cast("timestamp"))
    ).select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority")


# ---------------------------------------------------------------------------
# Joins. Catalyst picks broadcast-hash for the dimension sides; fact-fact
# joins shuffle once on the key. AQE converts to broadcast at runtime when
# a filtered side turns out small, and splits skewed partitions.
# ---------------------------------------------------------------------------

@query(
    "q3_shipping_priority",
    oracle=f"""
    SELECT l_orderkey,
           {dsum('l_extendedprice * (1 - l_discount)')} AS revenue,
           strftime(o_orderdate, '%Y-%m-%d') AS orderdate
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      AND l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective dim filter -> two equi-joins -> agg -> top-k.
    Plans as TakeOrderedAndProject over a partial-agg'd join tree.

    Round-11 rewrite, from the sf100 decade probe (q3 measured ~10x
    DuckDB at 600M rows — the worst scale row; BASELINE §4):

    1. JOIN ORDER: the BUILDING customer filter keeps ~1/5 of orders,
       but the old plan joined lineitem x orders FIRST — shuffling the
       ~97%-surviving date-filtered orders side and applying the
       broadcast customer cut only afterwards. Catalyst does not
       reorder inner joins without CBO stats, so the reduction is now
       syntactic: orders broadcast-joins the filtered dim (narrow, no
       shuffle) BEFORE the fact-fact join — the orders exchange drops
       ~5x (73M -> 14.5M rows at sf100). At 100 TB this is the
       difference between shuffling the fact table's partner at full
       width and at dim selectivity.
    2. SHUFFLE_HASH on the reduced orders side: the default sort-merge
       join SORTS the 318M-row lineitem side per partition, which at
       sf100 thrashes (GCLocker retry warnings, 3-5x run-to-run decay
       within a session); hashing the 14.5M-row build side
       (~450k rows/partition at 32 partitions) and streaming lineitem
       through it needs no sort at all. Interleaved sf100 A/B:
       old 55-91 s under session memory pressure / 18.9 s best-case
       vs new 18.7-32 s pressured / 12.3 s best-case — never slower,
       2-3x under load; sf0.1 unchanged (0.6-0.9 s both). The build
       side scales with dim selectivity x shuffle-partition count, the
       knob a 100 TB deployment already sizes for its executors.

    Values bit-identical (inner-join reassociation + join-strategy
    hint only); the oracle SQL is unchanged.

    Round 13: the customer-cut broadcast is SIZE-GATED
    (catalog.gated_broadcast, VERDICT r12) at selectivity 0.2 — the
    BUILDING predicate keeps 1 of 5 market segments (derived from
    catalog.DOMAIN_NDV via eq_fraction since r14, not hand-pinned),
    so the gate
    prices the SLICE (Selinger-style domain-cardinality estimate),
    broadcasting while slice bytes stay under 32 MiB and flipping to
    SHUFFLE_HASH past it; the cut scales linearly with sf, so a
    static broadcast OOMs at the 100 TB target. K=1000 arm A/B
    measured the arms TIED here (10.4 vs 9.9 medians, BASELINE §4
    round-13), so the flip point is cost-neutral where measured."""
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp"))
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp"))
    o_cut = (o.join(gated_broadcast(c, sf_dir, "customer",
                                fraction=eq_fraction("customer", "c_mktsegment")),
                    o.o_custkey == c.c_custkey)
             .select("o_orderkey", "o_orderdate")
             .hint("SHUFFLE_HASH"))
    return (
        li.join(o_cut, li.l_orderkey == o_cut.o_orderkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(F.expr(dsum("l_extendedprice * (1 - l_discount)")).alias("revenue"))
        .select("l_orderkey", "revenue",
                F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"))
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


@query(
    "q5_local_supplier_volume",
    oracle=f"""
    SELECT n_name, {dsum('l_extendedprice * (1 - l_discount)')} AS revenue
    FROM customer
      JOIN orders   ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      JOIN nation   ON s_nationkey = n_nationkey
      JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY n_name
    ORDER BY revenue DESC, n_name
    """,
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-way star join. All dimensions broadcast; only
    lineitem x orders shuffles. The c_nationkey = s_nationkey condition
    rides along the supplier join (no extra shuffle).

    Round-10 split-BIGINT dsum conversion (the registry's scheduled
    candidate list): the revenue measure references only lineitem
    columns, so its integer-micros projection is computed ON THE SCAN
    SIDE below the join — the fact exchange then carries one BIGINT
    instead of two doubles and the partial aggregation is two
    codegen-fast BIGINT sums. The K=100 interleaved A/B measured a
    consistent win for exactly this query (new arm faster 6/8 paired
    cycles, calm-point 2.14 vs 2.53 s; q3/q6/q10 measured PARITY and
    stay on the one-stage dsum — their cost is the join/scan kernel,
    as the registry's round-9 note predicted). Values bit-identical
    (SUM(m) = 1e6*SUM(hi) + SUM(lo) exactly); the oracle's plain-dsum
    SQL is unchanged.

    Round-11 dim-first rewrite (the q3/q7 audit-rule sweep's last hit,
    BASELINE round-11 notes): the ASIA region restriction implies a
    ~20% (5-of-25-nations) customer cut that reaches orders via
    broadcast BEFORE the fact-fact shuffle; the old plan applied it
    after lineitem x orders. Lineitem has no reachable pre-cut (its
    supplier constraint needs the customer's nation, known only
    post-join), so the win is bounded — the lineitem exchange is
    unchanged, the orders exchange shrinks ~5x and SHUFFLE_HASH on it
    removes the lineitem-side sort.

    Round 13 (VERDICT r12): the customer-slice and supplier
    broadcasts are SIZE-GATED (catalog.gated_broadcast) — the ASIA
    slice at selectivity 0.2 (5 of 25 nations, Selinger-style
    domain-cardinality estimate, so the gate prices the slice) and
    supplier at its full table stat. Broadcast inside the small
    envelope, SHUFFLE_HASH once slice bytes pass 32 MiB: both tables
    scale linearly with sf and a forced broadcast OOMs at the 100 TB
    target. The dim-first plan shape (cut BEFORE the fact-fact
    shuffle) is unchanged on both arms; the K=1000 arm A/B saw no
    broadcast advantage through heavy weather (gated medians at or
    below the old arm's — BASELINE §4 round-13). Interleaved A/B
    (tools/ab_q5_dimfirst_r11.py @ 3f77309, identity bit-equal at sf0.01):
    sf10 3/4 cycle wins (medians 3.06 -> 2.62), sf100 3/3 wins
    (27.8 -> 20.1, and the new arm holds steady while the old decays
    20.6 -> 37.5 under session pressure — the SMJ-sort memory-pressure
    pattern q3/q7 documented). Values bit-identical; oracle
    unchanged."""
    hi, lo = dsum_split("_m")
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")))
    li = (load_table(spark, sf_dir, "lineitem")
          .select("l_orderkey", "l_suppkey",
                  F.expr(micros_expr("l_extendedprice * (1 - l_discount)"))
                  .alias("_m")))
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n_asia = n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    c_cut = (c.join(F.broadcast(n_asia.select("n_nationkey", "n_name")),
                    c.c_nationkey == F.col("n_nationkey"))
             .select("c_custkey", F.col("c_nationkey").alias("_c_nk"),
                     "n_name"))
    o_cut = (o.join(gated_broadcast(c_cut, sf_dir, "customer",
                                fraction=eq_fraction("customer", "c_nationkey",
                                                     NATIONS_PER_REGION)),
                    o.o_custkey == c_cut.c_custkey)
             .select("o_orderkey", "_c_nk", "n_name")
             .hint("SHUFFLE_HASH"))
    return (
        li.join(o_cut, li.l_orderkey == o_cut.o_orderkey)
        .join(gated_broadcast(s, sf_dir, "supplier"), (li.l_suppkey == s.s_suppkey)
              & (F.col("_c_nk") == s.s_nationkey))
        .groupBy("n_name")
        .agg(F.expr(hi).alias("_hi"), F.expr(lo).alias("_lo"))
        .select("n_name", F.expr(dsum_join("_hi", "_lo")).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("n_name"))
    )


@query(
    "join_left_outer",
    oracle=f"""
    SELECT c_custkey, COUNT(o_orderkey) AS n_orders,
           COALESCE({dsum('o_totalprice')}, 0.0) AS total_spend
    FROM customer LEFT JOIN orders ON c_custkey = o_custkey
    GROUP BY c_custkey
    """,
)
def join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left join + per-key agg, rewritten as pre-aggregation: orders
    collapses to one row per o_custkey BEFORE the outer join (map-side
    partials shrink the shuffle to |distinct custkeys| rows), then
    customer left-joins the aggregate 1:1.  Legal because c_custkey is
    the customer primary key — grouping after the join would merge
    nothing the pre-agg hasn't already merged — and COUNT(o_orderkey)
    over an unmatched group is exactly the COALESCE(..., 0) the probe
    row gets here.  At 100 TB this turns a fact-sized outer-join
    shuffle into a dimension-sized one."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    oagg = (o.groupBy("o_custkey")
            .agg(F.count("o_orderkey").alias("_n"),
                 F.expr(dsum("o_totalprice")).alias("_spend")))
    return (
        c.join(oagg, c.c_custkey == oagg.o_custkey, "left")
        .select(
            "c_custkey",
            F.coalesce(F.col("_n"), F.lit(0).cast("long")).alias("n_orders"),
            F.coalesce(F.col("_spend"), F.lit(0.0)).alias("total_spend"))
    )


@query(
    "join_right_outer",
    oracle="""
    SELECT c_custkey, c_name, o_orderkey
    FROM orders RIGHT JOIN customer ON o_custkey = c_custkey
    WHERE c_acctbal < -900
    """,
)
def join_right_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_acctbal") < -900)
    o = load_table(spark, sf_dir, "orders")
    return (o.join(c, o.o_custkey == c.c_custkey, "right")
            .select("c_custkey", "c_name", "o_orderkey"))


@query(
    "join_full_outer",
    oracle="""
    WITH cn AS (SELECT DISTINCT c_nationkey AS nk FROM customer WHERE c_acctbal > 9990),
         sn AS (SELECT DISTINCT s_nationkey AS nk FROM supplier WHERE s_acctbal > 9000)
    SELECT COALESCE(cn.nk, sn.nk) AS nationkey,
           (cn.nk IS NOT NULL) AS has_rich_customer,
           (sn.nk IS NOT NULL) AS has_rich_supplier
    FROM cn FULL OUTER JOIN sn ON cn.nk = sn.nk
    """,
)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    cn = (load_table(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 9990)
          .select(F.col("c_nationkey").alias("nk")).distinct())
    sn = (load_table(spark, sf_dir, "supplier").filter(F.col("s_acctbal") > 9000)
          .select(F.col("s_nationkey").alias("snk")).distinct())
    return (
        cn.join(sn, cn.nk == sn.snk, "full")
        .select(F.coalesce("nk", "snk").alias("nationkey"),
                F.col("nk").isNotNull().alias("has_rich_customer"),
                F.col("snk").isNotNull().alias("has_rich_supplier"))
    )


@query(
    "join_left_semi",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_orderstatus = 'F'
                    AND o_totalprice > 250000)
    """,
)
def join_left_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderstatus") == "F") & (F.col("o_totalprice") > 250000))
    return (c.join(o, c.c_custkey == o.o_custkey, "left_semi")
            .select("c_custkey", "c_name"))


@query(
    "join_left_anti",
    oracle="""
    SELECT c_custkey, c_mktsegment FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey AND o_totalprice > 300000)
    """,
)
def join_left_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000)
    return (c.join(o, c.c_custkey == o.o_custkey, "left_anti")
            .select("c_custkey", "c_mktsegment"))


@query(
    "join_cross",
    oracle="""
    SELECT r_name, st.o_orderstatus AS orderstatus
    FROM region CROSS JOIN (SELECT DISTINCT o_orderstatus FROM orders) st
    """,
)
def join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross join of two tiny relations — BroadcastNestedLoopJoinExec;
    never do this with two large sides (the LLM-ops ANN path buckets
    instead of cross-joining for exactly this reason)."""
    r = load_table(spark, sf_dir, "region").select("r_name")
    st = (load_table(spark, sf_dir, "orders")
          .select(F.col("o_orderstatus").alias("orderstatus")).distinct())
    return r.crossJoin(st)


@query(
    "join_nonequi_range",
    oracle=f"""
    WITH bands(band, lo, hi) AS (
      VALUES ('low', 0.0, 10.0), ('mid', 10.0, 30.0), ('high', 30.0, 1e9)
    )
    SELECT band, COUNT(*) AS n, {dsum('l_extendedprice')} AS band_price
    FROM lineitem JOIN bands ON l_quantity >= lo AND l_quantity < hi
    GROUP BY band
    ORDER BY band
    """,
)
def join_nonequi_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-equi (range) join: fact joined to a tiny band table on an
    interval predicate -> BroadcastNestedLoopJoin (small side broadcast,
    so the fact table never shuffles)."""
    li = load_table(spark, sf_dir, "lineitem")
    bands = spark.createDataFrame(
        [("low", 0.0, 10.0), ("mid", 10.0, 30.0), ("high", 30.0, 1e9)],
        "band string, lo double, hi double")
    return (
        li.join(F.broadcast(bands),
                (li.l_quantity >= bands.lo) & (li.l_quantity < bands.hi))
        .groupBy("band")
        .agg(F.count(F.lit(1)).alias("n"),
             F.expr(dsum("l_extendedprice")).alias("band_price"))
        .orderBy("band")
    )


# ---------------------------------------------------------------------------
# Aggregations: distinct, cube/rollup/grouping sets, pivot.
# ---------------------------------------------------------------------------

@query(
    "agg_distinct",
    oracle="""
    SELECT l_returnflag,
           COUNT(DISTINCT l_suppkey) AS n_supp,
           COUNT(DISTINCT l_partkey) AS n_part,
           CAST(SUM(DISTINCT CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sum_distinct_qty
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct("l_partkey").alias("n_part"),
        F.expr("CAST(SUM(DISTINCT CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE)")
        .alias("sum_distinct_qty"),
    )


@query(
    "agg_rollup",
    oracle=f"""
    SELECT year(o_orderdate) AS order_year, o_orderstatus,
           COUNT(*) AS n, {dsum('o_totalprice')} AS total
    FROM orders
    GROUP BY ROLLUP (year(o_orderdate), o_orderstatus)
    """,
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP via pre-aggregation (see agg_cube for the rationale):
    aggregate to the finest group first, then roll up the tiny
    intermediate — Expand replicates |distinct groups| rows, not
    |fact rows|. Decimal addition is associative, so the two-level
    sum is bit-identical to the direct rollup."""
    o = load_table(spark, sf_dir, "orders")
    hi, lo = dsum_split("_m")
    base = (
        o.select(F.year("o_orderdate").alias("order_year"), "o_orderstatus",
                 F.expr(micros_expr("o_totalprice")).alias("_m"))
        .groupBy("order_year", "o_orderstatus")
        .agg(F.count(F.lit(1)).alias("_n"),
             F.expr(hi).alias("_hi"), F.expr(lo).alias("_lo"))
    )
    return base.rollup("order_year", "o_orderstatus").agg(
        F.sum("_n").alias("n"),
        F.expr(dsum_join("SUM(_hi)", "SUM(_lo)")).alias("total"))


@query(
    "agg_cube",
    oracle=f"""
    SELECT l_returnflag, l_linestatus, COUNT(*) AS n, {dsum('l_quantity')} AS qty
    FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE via pre-aggregation: Spark's Expand operator replicates
    every input row once per grouping set (4x for a 2-col cube) BEFORE
    the shuffle, so cubing the raw fact table shuffles |grouping sets|
    x |fact rows| — the worst-scaling row in BASELINE §4 (41x vs
    DuckDB at sf10). count and decimal-sum are decomposable, so
    aggregate to the finest group first (one ordinary partial-agg'd
    shuffle, result ~|distinct group combos|), then cube the tiny
    intermediate. The sum is associative in exact integer micros and
    the single cast to double still happens once at the end, so the
    result is bit-identical to the direct cube — same NULL-group
    semantics too, since a data-NULL group is just another base row
    that the second level groups/subtotals exactly as the direct plan
    would.

    Round 9: the finest-group partial switched from the DECIMAL(38,0)
    accumulator to the three-stage split-BIGINT form (registry
    micros_expr/dsum_split/dsum_join — 1.87x faster on a 60M-row
    replica of exactly this shape, same exact integer, oracle
    unchanged); the tiny cube level re-sums the BIGINT partials and
    recombines once."""
    li = load_table(spark, sf_dir, "lineitem")
    hi, lo = dsum_split("_m")
    base = (li.select("l_returnflag", "l_linestatus",
                      F.expr(micros_expr("l_quantity")).alias("_m"))
            .groupBy("l_returnflag", "l_linestatus")
            .agg(F.count(F.lit(1)).alias("_n"),
                 F.expr(hi).alias("_hi"), F.expr(lo).alias("_lo")))
    return base.cube("l_returnflag", "l_linestatus").agg(
        F.sum("_n").alias("n"),
        F.expr(dsum_join("SUM(_hi)", "SUM(_lo)")).alias("qty"))


@query(
    "agg_grouping_sets",
    oracle=f"""
    SELECT l_returnflag, l_linestatus, {dsum('l_extendedprice')} AS price
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """,
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS via pre-aggregation (see agg_cube): the 3-set
    Expand runs over the pre-aggregated (flag, status) combos, not the
    fact table."""
    views(spark, sf_dir, "lineitem")
    hi, lo = dsum_split("_m")
    return spark.sql(f"""
        WITH pre AS (
          SELECT l_returnflag, l_linestatus,
                 {micros_expr('l_extendedprice')} AS _m
          FROM lineitem
        ), base AS (
          SELECT l_returnflag, l_linestatus, {hi} AS _hi, {lo} AS _lo
          FROM pre GROUP BY l_returnflag, l_linestatus
        )
        SELECT l_returnflag, l_linestatus,
               {dsum_join('SUM(_hi)', 'SUM(_lo)')} AS price
        FROM base
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """)


@query(
    "agg_pivot",
    oracle=f"""
    SELECT l_returnflag,
           {dsum("CASE WHEN l_linestatus = 'O' THEN l_quantity END")} AS O,
           {dsum("CASE WHEN l_linestatus = 'F' THEN l_quantity END")} AS F
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot = groupBy().pivot(values).agg — with values listed so Spark
    skips the extra distinct-scan job (matters at scale)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.expr(dsum("l_quantity")))
    )


# ---------------------------------------------------------------------------
# Sorts / limits / top-k (O20 LIMIT, README.md:134; O9 top-1). Top-k
# plans as TakeOrderedAndProject: per-partition heap + driver merge —
# no global sort shuffle.
# ---------------------------------------------------------------------------

@query(
    "sort_topk",
    oracle="""
    SELECT c_custkey, c_name, c_acctbal FROM customer
    ORDER BY c_acctbal DESC, c_custkey LIMIT 15
    """,
)
def sort_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    return (c.select("c_custkey", "c_name", "c_acctbal")
            .orderBy(F.desc("c_acctbal"), F.asc("c_custkey")).limit(15))


@query(
    "sort_multi_key",
    oracle="""
    SELECT o_orderpriority, o_orderstatus, o_orderkey, o_totalprice
    FROM orders WHERE o_totalprice > 400000
    ORDER BY o_orderpriority ASC, o_totalprice DESC, o_orderkey ASC
    """,
)
def sort_multi_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global multi-key sort -> range-partitioned exchange + per-partition
    sort (SortExec); only the filtered subset shuffles."""
    o = load_table(spark, sf_dir, "orders")
    return (o.filter(F.col("o_totalprice") > 400000)
            .select("o_orderpriority", "o_orderstatus", "o_orderkey", "o_totalprice")
            .orderBy(F.asc("o_orderpriority"), F.desc("o_totalprice"), F.asc("o_orderkey")))


# ---------------------------------------------------------------------------
# Set operations (SURVEY §2.2: O4 is a bag union; engine exposes the
# full set-op surface).
# ---------------------------------------------------------------------------

@query(
    "set_union_all",
    oracle="""
    SELECT nk, kind FROM (
      SELECT c_nationkey AS nk, 'cust' AS kind FROM customer WHERE c_acctbal > 9995
      UNION ALL
      SELECT s_nationkey AS nk, 'supp' AS kind FROM supplier WHERE s_acctbal > 9900
    )
    """,
)
def set_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = (load_table(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 9995)
         .select(F.col("c_nationkey").alias("nk"), F.lit("cust").alias("kind")))
    s = (load_table(spark, sf_dir, "supplier").filter(F.col("s_acctbal") > 9900)
         .select(F.col("s_nationkey").alias("nk"), F.lit("supp").alias("kind")))
    return c.unionByName(s)


@query(
    "set_union_distinct",
    oracle="""
    SELECT c_nationkey AS nk FROM customer WHERE c_acctbal > 9990
    UNION
    SELECT s_nationkey FROM supplier WHERE s_acctbal > 9500
    """,
)
def set_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = (load_table(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 9990)
         .select(F.col("c_nationkey").alias("nk")))
    s = (load_table(spark, sf_dir, "supplier").filter(F.col("s_acctbal") > 9500)
         .select(F.col("s_nationkey").alias("nk")))
    return c.union(s).distinct()


@query(
    "set_intersect",
    oracle="""
    SELECT c_nationkey AS nk FROM customer WHERE c_acctbal > 9900
    INTERSECT
    SELECT s_nationkey FROM supplier WHERE s_acctbal > 5000
    """,
)
def set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = (load_table(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 9900)
         .select(F.col("c_nationkey").alias("nk")))
    s = (load_table(spark, sf_dir, "supplier").filter(F.col("s_acctbal") > 5000)
         .select(F.col("s_nationkey").alias("nk")))
    return c.intersect(s)


@query(
    "set_except",
    oracle="""
    SELECT n_nationkey AS nk FROM nation
    EXCEPT
    SELECT s_nationkey FROM supplier WHERE s_acctbal > 5000
    """,
)
def set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = load_table(spark, sf_dir, "nation").select(F.col("n_nationkey").alias("nk"))
    s = (load_table(spark, sf_dir, "supplier").filter(F.col("s_acctbal") > 5000)
         .select(F.col("s_nationkey").alias("nk")))
    return n.exceptAll(s).distinct()


@query(
    "q14_promo_revenue",
    oracle=f"""
    SELECT round(100.0 * a / b, 6) AS promo_revenue_pct
    FROM (
      SELECT {dsum("CASE WHEN p_type LIKE 'PROMO%' THEN l_extendedprice * (1 - l_discount) ELSE 0 END")} AS a,
             {dsum('l_extendedprice * (1 - l_discount)')} AS b
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE l_shipdate >= TIMESTAMP '1998-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1998-02-01 00:00:00'
    )
    """,
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: conditional aggregation over a broadcast
    dimension join — one scalar out, zero rows shuffled beyond the
    partial aggregates. part scales linearly with sf, so the hint is
    size-gated (catalog.gated_broadcast, VERDICT r12): SHUFFLE_HASH
    past 32 MiB of parquet instead of an OOM-bound forced broadcast."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-02-01").cast("timestamp")))
    p = load_table(spark, sf_dir, "part")
    return (
        li.join(gated_broadcast(p, sf_dir, "part"), li.l_partkey == p.p_partkey)
        .agg(
            F.expr(dsum("CASE WHEN p_type LIKE 'PROMO%' THEN l_extendedprice * (1 - l_discount) ELSE 0 END")).alias("a"),
            F.expr(dsum("l_extendedprice * (1 - l_discount)")).alias("b"))
        .select(F.round(100.0 * F.col("a") / F.col("b"), 6).alias("promo_revenue_pct"))
    )


@query(
    "q19_disjunctive_predicates",
    oracle=f"""
    SELECT COUNT(*) AS n, {dsum('l_extendedprice * (1 - l_discount)')} AS revenue
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE (p_brand = 'Brand#13' AND p_size BETWEEN 1 AND 15 AND l_quantity >= 5)
       OR (p_brand = 'Brand#23' AND p_size BETWEEN 10 AND 30 AND l_quantity >= 15)
       OR (p_type LIKE 'PROMO%' AND l_quantity >= 40)
    """,
)
def q19_disjunctive_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: OR-of-ANDs across both join sides — Catalyst
    extracts the common join key and pushes per-side conjuncts. The
    part hint is size-gated (catalog.gated_broadcast, VERDICT r12)."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    cond = (
        ((F.col("p_brand") == "Brand#13") & F.col("p_size").between(1, 15) & (F.col("l_quantity") >= 5))
        | ((F.col("p_brand") == "Brand#23") & F.col("p_size").between(10, 30) & (F.col("l_quantity") >= 15))
        | (F.col("p_type").like("PROMO%") & (F.col("l_quantity") >= 40))
    )
    return (
        li.join(gated_broadcast(p, sf_dir, "part"), li.l_partkey == p.p_partkey)
        .filter(cond)
        .agg(F.count(F.lit(1)).alias("n"),
             F.expr(dsum("l_extendedprice * (1 - l_discount)")).alias("revenue"))
    )


@query(
    "q18_large_orders",
    oracle=f"""
    SELECT c_custkey, o_orderkey, {dsum('l_quantity')} AS total_qty
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey IN (
      SELECT l_orderkey FROM lineitem
      GROUP BY l_orderkey
      HAVING SUM(CAST(l_quantity AS DECIMAL(38,6))) > 120
    )
    GROUP BY c_custkey, o_orderkey
    ORDER BY total_qty DESC, o_orderkey
    LIMIT 20
    """,
)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: IN over an aggregated subquery + top-k.

    Round-13 EAGER-AGGREGATION rewrite (with the gate conversion).
    The old plan aggregated lineitem TWICE (once for the HAVING
    subquery, once for the output sum) and pushed the fact table
    through a semi join, an orders join, and a customer join before
    collapsing — so the customer join's probe side was fact-sized,
    the site whose forced broadcast the r12 verdict flagged (and
    whose arm A/B at K=1000 measured as a weather-tie: BASELINE §4
    round-13). Both sums are per-order sums of the SAME rows, and
    the output grouping keys (c_custkey, o_orderkey) are functionally
    determined by o_orderkey (orders PK; customer PK makes the later
    joins 1-or-0 per row, commuting with the aggregate): so compute
    ONE groupBy(l_orderkey) carrying both the DECIMAL having-sum and
    the micros output-sum, filter > 120, and join orders + customer
    against the FILTERED AGGREGATE — one scan and one shuffle of
    lineitem instead of two of each, and every later join sees
    aggregate-sized input at any scale. The customer membership
    filter is a left-semi on the gated hint (c_custkey unique, so
    semi == the oracle's inner join; orphaned custkeys — which
    dq_audit_orders exists to count — drop identically in both
    plans). Values bit-identical; oracle unchanged. Measured at
    K=1000 (~sf100): 118/140 s samples inside the same-session arm
    A/B's 69-130 s weather band — wall-clock is DOMINATED by the
    unavoidable 600M-row per-order aggregate on every arm, so the
    rewrite's local effect is a wash; what it buys is structural
    (one scan + one wide shuffle of lineitem instead of two scans,
    and no fact-sized probe into the customer join at any scale) —
    see BASELINE §4 round-13."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    per_order = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(38,6)")).alias("q"),
             F.expr(dsum("l_quantity")).alias("total_qty"))
        .filter(F.col("q") > 120))
    return (
        per_order
        .join(o, F.col("l_orderkey") == o.o_orderkey)
        .join(gated_broadcast(c.select("c_custkey"), sf_dir, "customer"),
              o.o_custkey == c.c_custkey, "left_semi")
        .select(F.col("o_custkey").alias("c_custkey"), "o_orderkey",
                "total_qty")
        .orderBy(F.desc("total_qty"), F.asc("o_orderkey"))
        .limit(20)
    )


@query(
    "q4_order_priority",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-07-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-10-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS with a cross-table predicate inside a
    date window -> left-semi join, priority histogram."""
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-07-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-10-01").cast("timestamp")))
    li = load_table(spark, sf_dir, "lineitem")
    return (
        o.join(li, (o.o_orderkey == li.l_orderkey)
               & (li.l_shipdate > o.o_orderdate), "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


@query(
    "q12_shipmode_priority",
    oracle="""
    SELECT l_linestatus,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY l_linestatus
    ORDER BY l_linestatus
    """,
)
def q12_shipmode_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: conditional counts partitioned by a predicate
    on the joined dimension (high/low priority split)."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp")))
    is_high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_linestatus")
        .agg(F.sum(F.when(is_high, 1).otherwise(0)).cast("bigint").alias("high_line_count"),
             F.sum(F.when(~is_high, 1).otherwise(0)).cast("bigint").alias("low_line_count"))
        .orderBy("l_linestatus")
    )


@query(
    "q6_forecast_revenue",
    oracle=f"""
    SELECT COUNT(*) AS n, {dsum('l_extendedprice * l_discount')} AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure scan-filter-aggregate, the pushdown
    showcase — all three predicates reach the parquet scan
    (PushedFilters), no join, no shuffle beyond one partial agg."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24))
        .agg(F.count(F.lit(1)).alias("n"),
             F.expr(dsum("l_extendedprice * l_discount")).alias("revenue"))
    )


@query(
    "q10_returned_items",
    oracle=f"""
    SELECT c_custkey, c_name, n_name,
           {dsum('l_extendedprice * (1 - l_discount)')} AS revenue
    FROM customer JOIN orders   ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
                  JOIN nation   ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-04-01 00:00:00'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: who returned the most revenue last quarter.

    Round-13 EAGER-AGGREGATION rewrite (with the gate conversion): the
    old plan joined the fact-fact result against customer FIRST and
    aggregated after, so the custkey exchange carried wide rows
    (c_name strings and all) at fact cardinality, and the customer
    join's input was fact-sized — the exact site the r12 verdict
    flagged for its forced broadcast. The aggregate's grouping keys
    (c_custkey, c_name, n_name) are functionally determined by
    o_custkey (c_custkey is the customer PK, so the inner join is
    1-or-0 per row and commutes with a groupBy on the join key):
    aggregate revenue by o_custkey BELOW the dim joins, then attach
    customer/nation to the COLLAPSED result (<= one row per customer).
    The custkey shuffle now carries (custkey, micros) pairs, the
    customer join sees aggregate-sized input whatever the scale, and
    the top-k stays TakeOrderedAndProject. Values bit-identical
    (same dsum over the same rows; join-agg reorder exact under the
    PK); oracle unchanged. Customer's hint remains size-gated
    (catalog.gated_broadcast — it scales linearly with sf); nation
    broadcasts statically (25 rows forever). Measured at K=1000
    (~sf100): 8.3 s median vs the r13 gated-late-join arm's 11.4 and
    the r11 static-broadcast row's 15.1; ratio vs DuckDB 4.9x -> 3.4x
    — see BASELINE §4 round-13."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-04-01").cast("timestamp")))
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = load_table(spark, sf_dir, "nation")
    rev = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_custkey")
        .agg(F.expr(dsum("l_extendedprice * (1 - l_discount)")).alias("revenue")))
    return (
        rev.join(gated_broadcast(c, sf_dir, "customer"),
                 rev.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .select("c_custkey", "c_name", "n_name", "revenue")
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


@query(
    "q7_nation_volume",
    oracle=f"""
    SELECT supp_nation, cust_nation, l_year,
           {dsum('volume')} AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             CAST(year(l_shipdate) AS INT) AS l_year,
             l_extendedprice * (1 - l_discount) AS volume
      FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
                    JOIN orders   ON l_orderkey = o_orderkey
                    JOIN customer ON o_custkey = c_custkey
                    JOIN nation n1 ON s_nationkey = n1.n_nationkey
                    JOIN nation n2 ON c_nationkey = n2.n_nationkey
      WHERE (n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
         OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3')
    )
    GROUP BY supp_nation, cust_nation, l_year
    ORDER BY supp_nation, cust_nation, l_year
    """,
)
def q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: shipping volume between two nations by year.

    Round-11 dim-first rewrite (same defect class as q3's, amplified —
    BASELINE round-11 notes): the old plan shuffled the UNFILTERED
    lineitem against the full orders table first and applied the
    broadcast supplier/customer/nation chain afterwards, but the
    nation-pair predicate implies s_nationkey IN (pair) and
    c_nationkey IN (pair) — each an ~8% (2-of-25-nations) cut that
    attaches to its fact side BEFORE the fact-fact shuffle:

      li x broadcast(supplier restricted to the two nations)   ~8% of li
      o  x broadcast(customer restricted to the two nations)   ~8% of o
      li_cut x o_cut (SHUFFLE_HASH on the reduced orders side),
      then the residual pair filter drops the (3,3)/(7,7) combos.

    Shuffle volume falls ~12.5x (600M+150M -> 48M+12M rows at sf100);
    measured interleaved: sf10 old 8.25-9.62 s vs new 1.05-1.70 s,
    sf100 old 32.7-42.5 s vs new 4.77-4.94 s (~7x both decades) — the
    new plan beats DuckDB's 8.4 s oracle outright at sf100 (~0.57x),
    closing the worst standing sf100 join row. Values bit-identical
    (inner-join reassociation + an implied IN-list pushed through the
    join; identity asserted row-for-row at sf0.01 pre-conversion);
    oracle unchanged. At 100 TB this is the difference between
    shuffling two full fact tables and shuffling their dim-selected
    8% slices.

    Round 13 (VERDICT r12): the 8% supplier/customer slice broadcasts
    are SIZE-GATED (catalog.gated_broadcast) at selectivity 0.08
    (2 of 25 nations — Selinger-style domain-cardinality estimate,
    derived from catalog.DOMAIN_NDV via eq_fraction since r14, so
    the gate prices the SLICE, not the source table). The K=1000 arm
    A/B measured the slice broadcast 1.5x faster than the shuffle arm
    (5.4 vs 8.1 medians, tight samples — BASELINE §4 round-13), and
    the fraction keeps exactly that winning arm at sf100 (168 MB x
    0.08 = 13 MB < 32 MiB) while still flipping once the slice itself
    reaches broadcast-hostile size. The dim-first cut placement — the
    load-bearing part of the rewrite — is identical on both arms;
    only the join strategy that attaches the cut flips with scale."""
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n1 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation"))
    n2 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation"))
    nations = ("NATION_3", "NATION_7")
    s_cut = (s.join(F.broadcast(n1.filter(F.col("supp_nation").isin(*nations))),
                    F.col("s_nationkey") == F.col("n1_key"))
             .select("s_suppkey", "supp_nation"))
    c_cut = (c.join(F.broadcast(n2.filter(F.col("cust_nation").isin(*nations))),
                    F.col("c_nationkey") == F.col("n2_key"))
             .select("c_custkey", "cust_nation"))
    li_cut = li.join(gated_broadcast(s_cut, sf_dir, "supplier",
                                 fraction=eq_fraction("supplier", "s_nationkey",
                                                      len(nations))),
                     li.l_suppkey == F.col("s_suppkey"))
    o_cut = (o.join(gated_broadcast(c_cut, sf_dir, "customer",
                                fraction=eq_fraction("customer", "c_nationkey",
                                                     len(nations))),
                    o.o_custkey == F.col("c_custkey"))
             .select("o_orderkey", "cust_nation")
             .hint("SHUFFLE_HASH"))
    pair = (
        ((F.col("supp_nation") == nations[0]) & (F.col("cust_nation") == nations[1]))
        | ((F.col("supp_nation") == nations[1]) & (F.col("cust_nation") == nations[0])))
    return (
        li_cut.join(o_cut, li_cut.l_orderkey == o_cut.o_orderkey)
        .filter(pair)
        .withColumn("l_year", F.year("l_shipdate").cast("int"))
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(F.expr(dsum("l_extendedprice * (1 - l_discount)")).alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


@query(
    "q22_dormant_customers",
    oracle=f"""
    SELECT c_mktsegment,
           COUNT(*) AS numcust,
           {dsum('c_acctbal')} AS totacctbal
    FROM customer
    WHERE c_acctbal > (SELECT {davg('c_acctbal')} FROM customer WHERE c_acctbal > 0.0)
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
)
def q22_dormant_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: well-funded customers gone dormant — scalar
    subquery (broadcast one-row cross join) + NOT EXISTS against a
    filtered fact (left-anti join), per-segment rollup."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp"))
    avg_bal = (c.filter(F.col("c_acctbal") > 0.0)
               .agg(F.expr(davg("c_acctbal")).alias("avg_bal")))
    return (
        c.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(o, F.col("c_custkey") == o.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("numcust"),
             F.expr(dsum("c_acctbal")).alias("totacctbal"))
        .orderBy("c_mktsegment")
    )


@query(
    "q8_market_share",
    oracle=f"""
    WITH vol AS (
      SELECT CAST(year(o_orderdate) AS INT) AS o_year,
             l_extendedprice * (1 - l_discount) AS volume,
             n1.n_name AS supp_nation
      FROM lineitem JOIN orders   ON l_orderkey = o_orderkey
                    JOIN supplier ON l_suppkey = s_suppkey
                    JOIN customer ON o_custkey = c_custkey
                    JOIN nation n1 ON s_nationkey = n1.n_nationkey
                    JOIN nation n2 ON c_nationkey = n2.n_nationkey
                    JOIN region   ON n2.n_regionkey = r_regionkey
      WHERE r_name = 'ASIA'
    )
    SELECT o_year,
           round({dsum("CASE WHEN supp_nation = 'NATION_3' THEN volume ELSE 0 END")}
                 / {dsum('volume')}, 6) AS mkt_share
    FROM vol GROUP BY o_year ORDER BY o_year
    """,
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one nation's share of a region's yearly order
    volume — six-table join where every dimension chain (supplier->
    nation, customer->nation->region) attaches without shuffling the
    facts at fixture scale; only the lineitem x orders join shuffles.
    The supplier and customer hints are size-gated
    (catalog.gated_broadcast, VERDICT r12) — both scale linearly with
    sf; nation/region stay static broadcasts (25/5 rows forever)."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    s = load_table(spark, sf_dir, "supplier")
    c = load_table(spark, sf_dir, "customer")
    n1 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation"))
    n2 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_regionkey").alias("n2_region"))
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    vol = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(gated_broadcast(s, sf_dir, "supplier"), li.l_suppkey == s.s_suppkey)
        .join(gated_broadcast(c, sf_dir, "customer"), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .join(F.broadcast(r), F.col("n2_region") == F.col("r_regionkey"))
        .select(F.year("o_orderdate").cast("int").alias("o_year"),
                F.col("supp_nation"),
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("volume"))
    )
    share = (F.expr(dsum("CASE WHEN supp_nation = 'NATION_3' THEN volume ELSE 0 END"))
             / F.expr(dsum("volume")))
    return (vol.groupBy("o_year")
            .agg(F.round(share, 6).alias("mkt_share"))
            .orderBy("o_year"))


@query(
    "q15_top_supplier",
    oracle=f"""
    WITH rev AS (
      SELECT l_suppkey AS supplier_no,
             {dsum('l_extendedprice * (1 - l_discount)')} AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1997-04-01 00:00:00'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, round(total_revenue, 2) AS total_revenue
    FROM supplier JOIN rev ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT MAX(total_revenue) FROM rev)
    ORDER BY s_suppkey
    """,
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: aggregate-then-argmax — the revenue 'view' is
    computed once, materialized, and consumed by both the max scalar
    subquery and the equality filter (no second scan of lineitem)."""
    from coursera_etl_pipeline_spark.llm_ops.dedup import _materialize

    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp")))
    rev = _materialize(
        li.groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(F.expr(dsum("l_extendedprice * (1 - l_discount)")).alias("total_revenue")))
    top = rev.agg(F.max("total_revenue").alias("mx"))
    s = load_table(spark, sf_dir, "supplier")
    return (
        rev.join(F.broadcast(top), rev.total_revenue == F.col("mx"))
        .join(s, F.col("supplier_no") == s.s_suppkey)
        .select("s_suppkey", "s_name",
                F.round("total_revenue", 2).alias("total_revenue"))
        .orderBy("s_suppkey")
    )


@query(
    "q17_small_quantity_revenue",
    oracle=f"""
    SELECT round({dsum('l_extendedprice')} / 7.0, 6) AS avg_yearly,
           COUNT(*) AS n_lines
    FROM lineitem l JOIN part ON l_partkey = p_partkey
    WHERE p_brand = 'Brand#13'
      AND l_quantity < 0.5 * (SELECT {davg('l_quantity')} FROM lineitem
                              WHERE l_partkey = l.l_partkey)
    """,
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: correlated average — each line compared against
    its part's mean quantity. The correlated subquery becomes one
    aggregate of lineitem re-joined on partkey (computed once, not per
    row), then the threshold filter. The Brand#13 part cut scales
    linearly with sf, so its hint is size-gated
    (catalog.gated_broadcast, VERDICT r12) at selectivity 0.04 —
    1 of 25 brands, the Selinger-style domain-cardinality estimate
    (derived from catalog.DOMAIN_NDV via eq_fraction since r14), so
    the gate prices the slice rather than the source table."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#13")
    avg_q = (li.groupBy(F.col("l_partkey").alias("avg_pk"))
             .agg(F.expr(davg("l_quantity")).alias("avg_qty")))
    return (
        li.join(gated_broadcast(p, sf_dir, "part",
                                fraction=eq_fraction("part", "p_brand")),
                li.l_partkey == p.p_partkey)
        .join(avg_q, li.l_partkey == F.col("avg_pk"))
        .filter(F.col("l_quantity") < 0.5 * F.col("avg_qty"))
        .agg(F.round(F.expr(dsum("l_extendedprice")) / 7.0, 6).alias("avg_yearly"),
             F.count(F.lit(1)).alias("n_lines"))
    )


@query(
    "join_salted_skew",
    oracle=f"""
    SELECT o_orderstatus, COUNT(*) AS n, {dsum('l_extendedprice')} AS total
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderstatus
    """,
)
def join_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-fact join under key skew: the plain lineitem x orders
    join. Orders is broadcast while it fits the threshold; past it the
    shuffle join's hot partitions are split at runtime by AQE's
    skew-join handling (session.py, pinned in tests/test_plans.py).
    That replaced the hand-written hot-key salting the query is named
    after, which `tools/ab.py` measured slower than this plan on
    uniform keys, on one orderkey holding 90% of lineitem and on the
    K=10 replica (CHANGES.md). The name stays because certification
    history, the BASELINE §2 pin and bench.py's HEADLINE key on it."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    return (li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderstatus")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.expr(dsum("l_extendedprice")).alias("total")))
