"""Query/oracle registry.

Every implemented operator (SURVEY.md §2) registers a named PySpark
query and, when SQL-expressible, a DuckDB-equivalent oracle SQL string.
``__spark_entry__.py`` exposes these to the driver harness.

Determinism contract (SURVEY §7.3 item 3): floating-point aggregates
must hash-match DuckDB's, so sums over doubles go through an exact
DECIMAL accumulator (order-independent) and are cast back to double,
and output timestamps are formatted as strings. Helpers below encode
the pattern once.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLE: dict[str, str] = {}


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register a named query; ``oracle`` is the DuckDB SQL that
    recomputes its answer. Every registered query needs one: the sweep
    (tools/oracle_check.py) checks values, types and plans against it,
    and tests/test_entry.py fails on a query without one."""

    def deco(fn: QueryFn) -> QueryFn:
        QUERIES[name] = fn
        if oracle is not None:
            ORACLE[name] = oracle
        return fn

    return deco


# --- determinism helpers (used by both Spark exprs and oracle SQL) ---

def dsum(col_sql: str) -> str:
    """Order-independent double sum: round each value to integer
    micro-units in pure IEEE arithmetic (mul/add/floor — identical
    bit-for-bit in Spark and DuckDB), then sum exactly in
    DECIMAL(38,0) and divide once at the end.

    Why not CAST(x AS DECIMAL(38,6)) per row (rounds 1-6): Spark's
    double->decimal cast goes through Double.toString + BigDecimal
    parse — the single largest per-row constant in every wide
    aggregate (q1 8-agg at ~sf1: 1.23 s -> 0.67 s with this form).
    The long->decimal conversion here never touches strings, and the
    map-side partial sums stay inside whole-stage codegen.

    Why not SUM(bigint) of the micros directly: ~20% faster still,
    but a bigint accumulator overflows (ANSI runtime error) at
    ~9.2e12 currency units per group — reachable near sf200 for q1's
    sum_charge. DECIMAL(38,0) holds 1e32 units per group: effectively
    unbounded at the 100 TB target, for one cheap long->decimal per
    row.

    Measured negative (round 8, 60M-row replica): splitting the
    accumulator into two overflow-safe BIGINT partials
    (hi = FLOOR(m/1e6), lo = m - hi*1e6, recombined in DECIMAL per
    group) is 2.5x FASTER on a 3-sum aggregate over SIMPLE columns
    (2.02 -> 0.80 s) but 1.9x SLOWER on the real q1 (2.36 -> 4.45 s
    interleaved): the emitted string evaluates the per-row micros
    expression ~3x (m in hi, m and hi in lo), aggregate codegen does
    NOT common-subexpression-eliminate across aggregate inputs, and
    q1's 3-factor products make each re-evaluation expensive. A
    string-level helper cannot hoist m into a pre-projection, so the
    single decimal partial stays FOR ONE-STAGE STRING CALLERS.
    RESOLVED round 9 for plans that can restructure: the three-stage
    column form below (micros_expr / dsum_split / dsum_join) injects
    the projection the r8 note called for — measured 2.7x faster on
    q1's shape and 1.87x on a single-sum cube, bit-identical values,
    oracles unchanged. Prefer it for new hot-path aggregates; this
    one-stage form remains for HAVING-style compositions and the many
    certified plans where the decimal partial is not the bottleneck.

    Semantics note: values are rounded half-up to the 6th decimal of
    the IEEE double product, not of its shortest decimal rendering —
    for money-shaped inputs (products of <=3 two-decimal factors the
    7th decimal is exactly 0) the two agree; either way both engines
    evaluate the identical expression tree, so the hash contract
    holds by construction rather than by luck."""
    # Parenthesized so the helper composes safely inside larger
    # expressions (e.g. dsum(a) / dsum(b) in ratio queries): the
    # trailing /1000000 must bind to THIS sum only.
    return f"(CAST({dsum_micros(col_sql)} AS DOUBLE) / 1000000)"


def dsum_micros(col_sql: str) -> str:
    """The micro-unit partial underneath ``dsum``: exact DECIMAL(38,0)
    sum of half-up-rounded integer micros, BEFORE the final
    divide-back-to-double. Use it directly when a predicate compares
    the sum against a constant (HAVING SUM(x) > k becomes
    dsum_micros(x) > k*1e6): the comparison stays in exact integer
    arithmetic on both engines and skips the per-row DECIMAL(38,6)
    cast a separate threshold aggregate would reintroduce.

    The emitted string is byte-identical to the partial inside
    ``dsum`` — composing ``CAST(dsum_micros(x) AS DOUBLE)/1000000``
    reproduces dsum's output exactly, so refactors through this helper
    do not change any registered plan."""
    return (f"SUM(CAST(CAST(FLOOR(({col_sql}) * 1000000 + 0.5) AS BIGINT)"
            f" AS DECIMAL(38,0)))")


def davg(col_sql: str) -> str:
    """Order-independent double mean: exact micro-unit sum / count."""
    return f"({dsum(col_sql)} / COUNT({col_sql}))"


# --- split-BIGINT dsum, the three-stage column form (round 9) ---------------
#
# The round-8 negative on splitting dsum's accumulator into two BIGINT
# partials stands for the ONE-stage string form: aggregate codegen does
# not CSE across aggregate inputs, so `hi` and `lo` each re-evaluated
# the per-row micros product and q1 ran 1.9x SLOWER. The fix the r8
# note anticipated is a PROJECTION BOUNDARY: pre-project the micros
# BIGINT once as a named column (stage 1), aggregate the two cheap
# column-reference partials (stage 2), recombine exactly (stage 3).
# The projected column survives into the aggregate's input (FLOOR
# appears once in the executed plan), and both partial sums stay in
# whole-stage codegen's fast BIGINT path: measured 1.87x faster than
# the decimal partial on a 60M-row single-sum cube and 2.7x faster on
# q1's 8-agg shape (3.43 -> 1.27 s at 6M rows), matching the raw
# SUM(bigint) ceiling while staying overflow-safe.
#
# Value identity is exact-integer arithmetic, not luck: per row
# m = 1e6*(m DIV 1e6) + (m % 1e6) (Spark div/% both truncate toward
# zero with sign-of-dividend, so the identity holds for negative m
# too), hence SUM(m) = 1e6*SUM(hi) + SUM(lo) and the recombined
# DECIMAL equals dsum's accumulator bit-for-bit — oracles keep using
# plain dsum SQL unchanged.
#
# Round-10 RESOLUTION of the scheduled candidates (q3/q5/q6/q10;
# tools/ab_split_dsum_r10.py @ 3f77309, two K=100 interleaved sessions, values
# asserted bit-identical at sf0.01 first): q5 converted — consistent
# win (new arm faster 6/8 paired cycles, calm-point 2.14 vs 2.53 s;
# mechanism: the micros projection drops below the join, so the fact
# exchange carries one BIGINT instead of two doubles). q3/q6/q10
# measured PARITY at every calm point (q10: 1.465 vs 1.466 s min —
# the cleanest null result in the repo) and stay on the one-stage
# dsum: their cost is the join/scan kernel, exactly as the prediction
# above said, so the r9 hope that conversion would close q3's sf10
# ratio is recorded as a measured negative. Streaming dsum users
# (12h-window/session aggs over events.value): single-sum group-by
# shapes over a SMALL post-window cardinality — the r9 single-sum
# cube A/B already bounds their win, and their certified streamed
# plans are not worth a forced slot for it; unconverted.
#
# Overflow bounds (ANSI mode raises loudly, never wraps): SUM(lo)
# overflows BIGINT at ~9.2e12 rows per group (sf ~1.5e6 for q1 — far
# past the 100 TB target); SUM(hi) at a per-group value total of
# ~9.2e18 whole units (q1's sum_charge at sf200 is ~1e13). Use the
# single-decimal dsum instead where a group could plausibly exceed
# either bound.


def micros_expr(col_sql: str) -> str:
    """Stage 1: the per-row half-up integer-micros BIGINT, identical
    IEEE arithmetic to the expression inside ``dsum_micros`` — project
    it ONCE under a name, then feed ``dsum_split`` partials."""
    return f"CAST(FLOOR(({col_sql}) * 1000000 + 0.5) AS BIGINT)"


def dsum_split(name: str) -> tuple[str, str]:
    """Stage 2: the (hi, lo) BIGINT partial-sum SQL pair over a
    pre-projected micros column — both map-side combinable."""
    return f"SUM({name} DIV 1000000)", f"SUM({name} % 1000000)"


def dsum_join(hi_sql: str, lo_sql: str) -> str:
    """Stage 3: exact recombination of the split partials to the same
    double ``dsum`` yields — 1e6*hi + lo in DECIMAL(38,0), one cast,
    one divide."""
    return (f"(CAST(CAST({hi_sql} AS DECIMAL(38,0)) * 1000000"
            f" + {lo_sql} AS DOUBLE) / 1000000)")
