"""Physical-plan quality gates (the 100 TB posture, SURVEY §4):
filters reach the parquet scan, dimension joins broadcast, aggregates
are partial, and the pipeline plan stays shuffle-free.

These assert on .explain output so a regression that silently
de-optimizes a plan (lost pushdown, broadcast falling back to
sort-merge-with-shuffle) fails CI, not just the benchmark.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from coursera_etl_pipeline_spark.catalog import load_table
from coursera_etl_pipeline_spark.operators.relational import (
    q1_pricing_summary,
    q3_shipping_priority,
    q5_local_supplier_volume,
)
from coursera_etl_pipeline_spark.plans import fixtures, pipeline


def plan_of(df) -> str:
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_q1_filter_pushed_to_scan(spark, sf_dir):
    plan = plan_of(q1_pricing_summary(spark, sf_dir))
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan
    # partial (map-side) aggregation before the exchange
    assert plan.count("HashAggregate") >= 2
    assert "Batched: true" in plan  # vectorized parquet read


def test_q1_column_pruning(spark, sf_dir):
    plan = plan_of(q1_pricing_summary(spark, sf_dir))
    # ReadSchema must exclude unused columns (e.g. l_comment-free fixture
    # still has l_partkey/l_suppkey that q1 never touches)
    read = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "l_partkey" not in read and "l_suppkey" not in read
    assert "l_quantity" in read


def test_q3_and_q5_broadcast_dimensions(spark, sf_dir):
    for q in (q3_shipping_priority, q5_local_supplier_volume):
        plan = plan_of(q(spark, sf_dir))
        assert "BroadcastHashJoin" in plan, f"{q.__name__} lost its broadcast"


def test_pipeline_plan_is_shuffle_free(spark, tmp_path):
    """The transform (O3-O16) must stay narrow: no Exchange anywhere
    (SURVEY §4.2 — 'this pipeline needs zero shuffles')."""
    landing = str(tmp_path)
    fixtures.write_response_file(fixtures.make_response(2, 3), landing, "20240101_000000")
    df = pipeline.transform_courses(
        pipeline.read_responses(spark, f"{landing}/coursera_response_*.json"))
    plan = plan_of(df)
    assert "Exchange" not in plan
    import re
    # exactly the two explodes (each node appears as "(N) Generate")
    assert len(re.findall(r"^\(\d+\) Generate", plan, re.M)) == 2


def test_neardup_pairs_no_nested_loop_join(spark, sf_dir):
    """The exact all-pairs cosine must plan as a shuffled equi-join on
    block-pair keys — never a BroadcastNestedLoopJoin over the corpus
    (the O(n^2)-on-one-executor shape flagged in round 1)."""
    from coursera_etl_pipeline_spark.llm_ops.similarity import similarity_neardup_pairs

    plan = plan_of(similarity_neardup_pairs(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_q6_all_predicates_pushed(spark, sf_dir):
    """Q6 is the pushdown showcase: every filterable predicate must
    reach the parquet scan, and the plan must contain no join and no
    more than the one aggregate exchange."""
    from coursera_etl_pipeline_spark.operators.relational import q6_forecast_revenue

    plan = plan_of(q6_forecast_revenue(spark, sf_dir))
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln][0]
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, f"{col} not pushed to scan"
    assert "Join" not in plan


def test_q10_broadcasts_dims_and_takes_ordered(spark, sf_dir):
    from coursera_etl_pipeline_spark.operators.relational import q10_returned_items

    plan = plan_of(q10_returned_items(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan


def test_q22_nested_loop_only_for_scalar_subquery(spark, sf_dir):
    """The only nested-loop join allowed is the 1-row scalar-subquery
    broadcast (the standard physical shape for a scalar threshold);
    the NOT EXISTS must plan as a hash anti join, never a loop."""
    from coursera_etl_pipeline_spark.operators.relational import q22_dormant_customers

    import re

    plan = plan_of(q22_dormant_customers(spark, sf_dir))
    # explain('formatted') prints each node in the tree AND the detail
    # section — count numbered tree nodes only
    loops = re.findall(r"^\(\d+\) BroadcastNestedLoopJoin", plan, re.M)
    assert len(loops) <= 1
    assert "LeftAnti" in plan and "BroadcastHashJoin" in plan


def test_topk_plans_take_ordered(spark, sf_dir):
    """orderBy().limit(k) must plan TakeOrderedAndProject (per-partition
    heaps + driver merge), not a global sort."""
    c = load_table(spark, sf_dir, "customer")
    df = c.orderBy(F.desc("c_acctbal")).limit(5)
    assert "TakeOrderedAndProject" in plan_of(df)


def test_dsum_cross_engine_bit_parity_on_adversarial_doubles(spark):
    """The hash contract rests on dsum/davg evaluating to the SAME
    double in Spark and DuckDB. Both engines run the identical
    expression tree over identical doubles; this pins it on seeded
    adversarial inputs — money-shaped values, 6-decimal products,
    negatives, micro-rounding tie neighborhoods (x.xxxxxx5), and
    magnitudes up to the documented ~1e9 domain bound — so a future
    'simplification' of the helper that diverges the engines fails
    here, not in the driver."""
    import random

    import duckdb

    from coursera_etl_pipeline_spark.registry import davg, dsum

    rnd = random.Random(7)
    vals = []
    for _ in range(400):
        vals.append(round(rnd.uniform(-1000, 100000), 2))          # money
        vals.append(round(rnd.uniform(0, 100000), 2)
                    * round(1 - rnd.uniform(0, 0.1), 2))           # 4-dec product
        vals.append(rnd.randint(0, 10**6) / 10 + 0.05)             # .x5 ties
        vals.append(rnd.randint(0, 10**9) + rnd.random())          # large domain
    vals += [0.0, -0.0000005, 0.0000005, 0.1234565, -999999999.999999]

    sdf = spark.createDataFrame([(v,) for v in vals], "x double")
    srow = sdf.selectExpr(f"{dsum('x')} AS s", f"{davg('x')} AS a",
                          f"{dsum('x * (1 - 0.04)')} AS sp").collect()[0]

    con = duckdb.connect()
    con.execute("CREATE TABLE t (x DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?)", [(v,) for v in vals])
    drow = con.execute(
        f"SELECT {dsum('x')} AS s, {davg('x')} AS a, "
        f"{dsum('x * (1 - 0.04)')} AS sp FROM t").fetchone()

    assert (srow.s, srow.a, srow.sp) == drow  # bit-exact, not approx


def test_q1_partials_are_micro_units_not_decimal_casts(spark, sf_dir):
    """Regression guard for the round-7 accumulator rewrite: q1's
    partial aggregates must sum integer micro-units (FLOOR(x*1e6+0.5)
    -> DECIMAL(38,0)), never per-row CAST(double AS DECIMAL(38,6)) —
    the toString-based cast was the dominant constant in every wide
    aggregate (1.23 s -> 0.67 s at a 10x replica)."""
    plan = plan_of(q1_pricing_summary(spark, sf_dir))
    assert "FLOOR(" in plan
    assert "decimal(38,0)" in plan
    assert "as decimal(38,6)" not in plan.lower()


def test_dq_audit_catches_each_violation(spark):
    """Every DQ expectation must actually fire: feed a deliberately
    corrupted orders/customer pair and assert exactly the right checks
    fail with the right metrics — a DQ operator whose checks never
    fire is worse than none."""
    import datetime as dt

    from pyspark.sql import functions as F

    from coursera_etl_pipeline_spark.operators.quality import dq_audit

    d = dt.datetime(2024, 1, 1)
    orders = spark.createDataFrame(
        [(1, 10, "O", 5.0, d),
         (1, 10, "F", 7.0, d),        # duplicate key
         (None, 10, "P", 3.0, d),     # null key
         (4, 99, "X", -2.0, None),    # orphan custkey, bad status,
                                      # non-positive price, null date
         (5, 10, None, 6.0, d)],      # NULL status = out-of-domain
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp")
    customer = spark.createDataFrame([(10,)], "c_custkey long")

    got = {r.check_name: (r.metric, r.passed)
           for r in dq_audit(orders, customer).collect()}
    assert got == {
        "row_count": (5, True),
        "orderkey_nulls": (1, False),
        "orderkey_dups": (1, False),
        "custkey_orphans": (1, False),
        "totalprice_nonpositive": (1, False),
        "orderstatus_out_of_domain": (2, False),
        "orderdate_nulls": (1, False),
    }

    # and a clean pair passes everything
    clean = {r.check_name: r.passed
             for r in dq_audit(
                 orders.filter(F.col("o_orderkey").isin(1, 5))
                 .dropDuplicates(["o_orderkey"])
                 .withColumn("o_orderstatus", F.lit("O")),
                 customer).collect()}
    assert all(clean.values()) and len(clean) == 7


def test_dq_audit_documents_catches_each_violation(spark):
    """Corpus DQ twin of the orders test: every expectation fires on a
    deliberately corrupted documents frame, including the empty-text /
    exact-dup interaction (an empty string's md5 must not offset the
    dup metric)."""
    from coursera_etl_pipeline_spark.operators.quality import (
        dq_audit_documents,
    )

    docs = spark.createDataFrame(
        [(1, "alpha beta", "en", "web", 10),
         (1, "alpha beta", "en", "web", 10),    # dup id AND dup text
         (None, "", "en", "web", 0),            # null id, empty text
         (4, None, "en", "web", 0),             # null text
         (5, "café latte", "fr", "web", 10),  # non-ASCII
         (6, "gamma", "en", "web", 99)],        # n_chars mismatch
        "doc_id long, text string, lang string, source string, n_chars long")
    got = {r.check_name: (r.metric, r.passed)
           for r in dq_audit_documents(docs).collect()}
    assert got == {
        "row_count": (6, True),
        "doc_id_nulls": (1, False),
        "doc_id_dups": (1, False),
        "empty_text": (2, False),          # NULL and '' both count
        "non_ascii_text": (1, False),
        # NULL text rows can't be length-checked; é is 1 char/2 bytes,
        # so doc 5's n_chars=10 matches char_length ('café latte')
        "n_chars_metadata_mismatch": (1, False),
        "exact_dup_texts": (1, False),     # the alpha-beta pair only
    }


@pytest.fixture(scope="module")
def registry_sweep(spark, sf_dir):
    """Every registered query, against its DuckDB oracle at the smoke
    fixture, through the one registry sweep (tools/oracle_check.py),
    run once for the three tests below. The list is the registry
    itself, never hand-kept: stream and iterative queries whose build
    executes jobs are swept like the rest."""
    import duckdb

    from tools.oracle_check import duck_views, sweep

    con = duckdb.connect()
    duck_views(con, sf_dir)
    yield sweep(spark, con, sf_dir)
    con.close()


def _flags(results, kinds):
    return {n: [f for f in r["flags"] if f.split()[0] in kinds]
            for n, r in results.items()
            if any(f.split()[0] in kinds for f in r["flags"])}


def test_registry_sweep_values_types_and_plans(registry_sweep):
    """Every registered query builds and runs on both engines, with the
    same column set and the same multiset of normalized rows (no ERR or
    COLS flag, no value diff), in registry order."""
    import __spark_entry__ as entrymod

    assert list(registry_sweep) == list(entrymod.queries())
    assert _flags(registry_sweep, {"ERR", "COLS"}) == {}
    assert {n: r["diff"] for n, r in registry_sweep.items()
            if r["diff"]} == {}


def test_type_parity_lattice_on_all_queries(registry_sweep):
    """Every output column of every registered query is in the same
    class of the type lattice on both engines: DuckDB silently widens
    integer SUMs, windowed ones included, to HUGEINT and decimal math
    to DECIMAL while Spark stays BIGINT/DOUBLE; the values match but
    the driver's hash diverges."""
    assert _flags(registry_sweep, {"TYPE"}) == {}


def test_no_unexpected_plan_antipatterns(registry_sweep):
    """No registered query's physical plan holds a scale anti-pattern
    (cartesian products, nested-loop joins, Python eval nodes) without
    a documented row in tools/plan_audit.py::ALLOWED: a new query that
    acquires one fails here until re-planned or justified."""
    assert _flags(registry_sweep, {"PLAN"}) == {}


def test_aqe_converts_smj_to_shuffled_hash(spark):
    """The session default maxShuffledHashJoinLocalMapThreshold=128MB
    makes AQE replace a sort-merge join with a shuffled hash join at
    RUNTIME when the measured build-side partitions fit the bound —
    the adaptive generalization of q3's manual SHUFFLE_HASH hint (r11
    A/B: q7 2.14x, q9 3.69x at sf10). Broadcast is disabled for the
    test so the static plan is genuinely sort-merge; the executed
    adaptive plan must hash instead of sort."""
    assert (spark.conf.get(
        "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold")
        == "128MB")
    saved = {k: spark.conf.get(k, None) for k in (
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold")}
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        a = spark.range(0, 200_000).withColumnRenamed("id", "k")
        b = spark.range(0, 100_000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
        joined = a.join(b, "k").groupBy().count()
        assert joined.collect()[0][0] == 100_000
        executed = joined._jdf.queryExecution().executedPlan().toString()
        # the adaptive plan prints "== Final Plan ==" then
        # "== Initial Plan ==" (which legitimately says SortMergeJoin)
        final = executed.split("== Initial Plan ==")[0]
        assert "ShuffledHashJoin" in final, executed
        assert "SortMergeJoin" not in final, executed
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_aqe_splits_skewed_join_partition(spark):
    """Skewed joins are left to AQE's skew-join split (session.py sets
    skewJoin.enabled; join_salted_skew is the plain join). With one key
    on 9,000 of 10,000 probe rows and the skew thresholds scaled down
    to the test's size, the final adaptive plan must mark the join
    skew=true over a skewed AQEShuffleRead, and the rows must be the
    plain join's."""
    assert spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true"
    conf = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "1KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "1KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold": "0",
    }
    saved = {k: spark.conf.get(k, None) for k in conf}
    try:
        for k, v in conf.items():
            spark.conf.set(k, v)
        rows = [(7, i) for i in range(9000)] + [(k, k * 10) for k in range(1000)]
        large = spark.createDataFrame(rows, "k long, payload long")
        small = spark.createDataFrame(
            [(k, f"dim{k}") for k in range(1000)], "sk long, name string")
        joined = large.join(small, large.k == small.sk)
        got = sorted((r.k, r.payload, r.name) for r in joined.collect())
        assert got == sorted((k, p, f"dim{k}") for k, p in rows)
        executed = joined._jdf.queryExecution().executedPlan().toString()
        final = executed.split("== Initial Plan ==")[0]
        assert "skew=true" in final, executed
        assert any("AQEShuffleRead" in line and "skewed" in line
                   for line in final.splitlines()), executed
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_gated_broadcast_selects_arm_by_table_stats(spark, sf_dir, monkeypatch):
    """VERDICT r12 item 1: the q-series' fact-scaled dimension hints
    (customer/supplier/part) are stats-gated, not static. Below the
    cutoff the certified broadcast plan is unchanged; above it — or
    when the size is UNKNOWN — the dim side becomes a ShuffledHashJoin
    build, never a forced broadcast. Both arms must return identical
    rows (the gate flips join strategy, not semantics)."""
    import coursera_etl_pipeline_spark.catalog as catalog
    from coursera_etl_pipeline_spark.operators.relational import q10_returned_items

    small_df = q10_returned_items(spark, sf_dir)
    small_plan = plan_of(small_df)
    # anchor on the ABSENCE of shuffle joins, not the presence of a
    # BroadcastHashJoin (nation's static broadcast would satisfy that
    # even if the gated customer site wrongly took the shuffle arm)
    assert "BroadcastHashJoin" in small_plan
    assert "ShuffledHashJoin" not in small_plan
    rows_small = [r.asDict() for r in small_df.collect()]

    for fake_stat in (lambda p: 10**12, lambda p: None):
        monkeypatch.setattr(catalog, "dataset_nbytes", fake_stat)
        big_df = q10_returned_items(spark, sf_dir)
        assert "ShuffledHashJoin" in plan_of(big_df), \
            "large/unknown dim stats must select the shuffle arm"
        assert [r.asDict() for r in big_df.collect()] == rows_small
    monkeypatch.undo()


def test_gated_broadcast_cutoff_param_flips_arms(spark, sf_dir):
    """Direct helper contract at real fixture stats: the sf0.001
    customer table is under the default cutoff (broadcast arm) and
    over a 1-byte cutoff (shuffle arm)."""
    from coursera_etl_pipeline_spark.catalog import gated_broadcast, load_table

    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    bc = o.join(gated_broadcast(c, sf_dir, "customer"),
                o.o_custkey == c.c_custkey)
    assert "BroadcastHashJoin" in plan_of(bc)
    sh = o.join(gated_broadcast(c, sf_dir, "customer", cutoff_bytes=1),
                o.o_custkey == c.c_custkey)
    assert "ShuffledHashJoin" in plan_of(sh)


def test_interval_join_gate_unknown_size_takes_shuffle_arm(spark, sf_dir, monkeypatch):
    """ADVICE r12: the events interval join's size gate must treat an
    UNDETERMINABLE table size (object-store URI, stat error) as large
    — the broadcast arm on an unknown fact-sized side is the OOM a
    100 TB run cannot take. Small known size keeps the (faster at
    sf0.1) broadcast arm; None flips to SHUFFLE_HASH."""
    import coursera_etl_pipeline_spark.catalog as catalog
    from coursera_etl_pipeline_spark.streaming.queries import events_interval_join

    assert "BroadcastHashJoin" in plan_of(events_interval_join(spark, sf_dir))
    monkeypatch.setattr(catalog, "dataset_nbytes", lambda p: None)
    assert "ShuffledHashJoin" in plan_of(events_interval_join(spark, sf_dir))
    monkeypatch.undo()


def test_gated_broadcast_fraction_prices_the_slice(spark, sf_dir):
    """Selectivity-aware gating (BASELINE §4 round-13): `fraction` is
    the Selinger-style domain-cardinality selectivity of a literal
    predicate already applied to the slice, and the gate compares
    table_bytes x fraction to the cutoff — so a heavily-cut slice of
    a large table keeps its (measured-winning) broadcast arm long
    after the full table flips."""
    from coursera_etl_pipeline_spark.catalog import (
        dataset_nbytes, gated_broadcast, load_table, table_path,
    )

    nbytes = dataset_nbytes(table_path(sf_dir, "customer"))
    cutoff = nbytes // 2  # full table over, a 0.08 slice far under
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    full = o.join(gated_broadcast(c, sf_dir, "customer",
                                  cutoff_bytes=cutoff),
                  o.o_custkey == c.c_custkey)
    assert "ShuffledHashJoin" in plan_of(full)
    sliced = o.join(gated_broadcast(c, sf_dir, "customer",
                                    cutoff_bytes=cutoff, fraction=0.08),
                    o.o_custkey == c.c_custkey)
    assert "BroadcastHashJoin" in plan_of(sliced)


def test_all_gated_sites_flip_to_shuffle_on_unknown_stats(spark, sf_dir, monkeypatch):
    """Regression guard over the full r13 conversion set, counting
    JOIN NODES so it cannot pass vacuously: flipping stats from
    known-tiny to UNKNOWN must convert EXACTLY this query's gated
    sites from BroadcastHashJoin to ShuffledHashJoin — a site that
    silently reverts to a static F.broadcast shows up as a delta
    shortfall even in queries that carry an unconditional
    SHUFFLE_HASH elsewhere (q3/q5/q7's o_cut) or constant-dim
    broadcasts (nation/region/O(1) aggregates, which legally stay)."""
    import re

    import coursera_etl_pipeline_spark.catalog as catalog
    from coursera_etl_pipeline_spark.operators import relational as R

    gated_sites = {
        R.q3_shipping_priority: 1,      # customer BUILDING cut
        R.q5_local_supplier_volume: 2,  # customer ASIA cut + supplier
        R.q7_nation_volume: 2,          # supplier + customer 8% cuts
        R.q8_market_share: 2,           # supplier + customer, full
        R.q10_returned_items: 1,        # customer, full
        R.q14_promo_revenue: 1,         # part, full
        R.q17_small_quantity_revenue: 1,  # part Brand#13 cut
        R.q18_large_orders: 1,          # customer (semi), full
        R.q19_disjunctive_predicates: 1,  # part, full
    }

    def nodes(plan, kind):
        return len(re.findall(rf"^\(\d+\) {kind}", plan, re.M))

    for q, n_sites in gated_sites.items():
        monkeypatch.setattr(catalog, "dataset_nbytes", lambda p: 1)
        small = plan_of(q(spark, sf_dir))
        monkeypatch.setattr(catalog, "dataset_nbytes", lambda p: None)
        unknown = plan_of(q(spark, sf_dir))
        bhj_delta = nodes(small, "BroadcastHashJoin") - nodes(unknown, "BroadcastHashJoin")
        shj_delta = nodes(unknown, "ShuffledHashJoin") - nodes(small, "ShuffledHashJoin")
        assert bhj_delta == n_sites, \
            f"{q.__name__}: {n_sites} gated sites, {bhj_delta} broadcasts flipped"
        assert shj_delta == n_sites, \
            f"{q.__name__}: {n_sites} gated sites, {shj_delta} shuffle joins appeared"
    monkeypatch.undo()


def test_selectivity_fractions_match_fixture_domains(spark, sf_dir):
    """The gate's fraction arguments are Selinger-style selectivities
    DERIVED from domain cardinality (q3: 1-of-5 segments = 0.2, q5:
    5-of-25 nations = 0.2, q7: 2-of-25 = 0.08, q17: 1-of-25 brands =
    0.04). Those denominators are properties of the FIXTURE
    generators; if a driver regeneration ever changes them, the
    fractions silently mis-price the slices — fail loudly here
    instead."""
    from coursera_etl_pipeline_spark.catalog import load_table

    seg = load_table(spark, sf_dir, "customer") \
        .select("c_mktsegment").distinct().count()
    nat = load_table(spark, sf_dir, "nation") \
        .select("n_name").distinct().count()
    brand = load_table(spark, sf_dir, "part") \
        .select("p_brand").distinct().count()
    asia = load_table(spark, sf_dir, "nation").join(
        load_table(spark, sf_dir, "region")
        .filter(F.col("r_name") == "ASIA"),
        F.col("n_regionkey") == F.col("r_regionkey")).count()
    assert seg == 5, "q3's fraction=0.2 assumes 5 market segments"
    assert nat == 25 and asia == 5, \
        "q5's fraction=0.2 assumes 5-of-25 nations in ASIA"
    assert brand == 25, "q17's fraction=0.04 assumes 25 brands"
    # q7's fraction=0.08 is 2-of-25 nations (pair predicate) — covered
    # by the nat == 25 assert above
