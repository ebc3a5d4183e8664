"""Guards on the driver-window rotation contract in __spark_entry__.

ADVICE r7: _EDITED_THIS_ROUND was maintained by manual grep and round 7
nearly missed the module-level tpch_extra dsum consumers. These tests
make a silent miss impossible:

  - the dsum/davg emitted SQL is pinned byte-for-byte; changing the
    helper fails the pin with the full consumer list (derived at
    runtime from ORACLE) in the failure message — the list that must
    be copied into _EDITED_THIS_ROUND;
  - the runtime consumer scan is itself asserted to reach the
    module-level f-string queries the r7 grep missed;
  - the rotation order is asserted to actually sort stalest-first
    with forced entries leading.

Known carve-outs (changes that do NOT require forcing a re-cert):
file edits that provably leave every registered plan unchanged —
e.g. dedup.py's _materialize cache-key change (r7) and pure helper
extractions whose emitted expressions are byte-identical (r8's
dsum_micros refactor, pinned below). Anything that changes an
emitted oracle string or a DataFrame plan must be forced.
"""

from __future__ import annotations

import pytest

import __spark_entry__ as entry
from coursera_etl_pipeline_spark.registry import (
    ORACLE,
    QUERIES,
    davg,
    dsum,
    dsum_micros,
)

# the decimal-partial form: round 8 measured a split-bigint variant
# (2.5x faster on simple columns, 1.9x SLOWER on q1's composite
# expressions — no cross-aggregate CSE; registry.dsum docstring) and
# kept this one. This guard fired during that experiment and produced
# the exact consumer list both times — the mechanism works.
DSUM_GOLDEN = ("(CAST(SUM(CAST(CAST(FLOOR((x) * 1000000 + 0.5) AS BIGINT)"
               " AS DECIMAL(38,0))) AS DOUBLE) / 1000000)")
# the distinctive micro-partial substring every dsum/davg/dsum_micros
# emission contains — the runtime consumer probe
MICROS_MARKER = "FLOOR(("


def _helper_consumers() -> set[str]:
    """Query names whose ORACLE SQL embeds the micro-unit helper form,
    derived at runtime — immune to where the call site sits (decorator
    body, module-level f-string, composed expression)."""
    return {name for name, sql in ORACLE.items() if MICROS_MARKER in sql}


def test_dsum_emission_is_pinned_or_consumers_reforced():
    consumers = sorted(_helper_consumers())
    msg = (
        "registry dsum/davg emission changed: every consumer's Spark plan "
        "AND oracle changed with it, so ALL of these must be added to "
        f"__spark_entry__._EDITED_THIS_ROUND this round: {consumers} "
        "— then update the golden here."
    )
    assert dsum("x") == DSUM_GOLDEN, msg
    assert davg("x") == f"({DSUM_GOLDEN} / COUNT(x))", msg
    # the refactor contract: dsum must stay exactly the composed form
    assert dsum("x") == f"(CAST({dsum_micros('x')} AS DOUBLE) / 1000000)"


def test_consumer_scan_reaches_module_level_sql():
    """The probe must see consumers that sit OUTSIDE @query decorator
    call bodies — the exact blind spot of round 7's manual grep
    (tpch_extra's module-level SQL f-strings)."""
    consumers = _helper_consumers()
    assert {"q9_product_type_profit", "q11_important_parts"} <= consumers
    assert {"q1_pricing_summary", "agg_having", "join_salted_skew"} <= consumers
    assert len(consumers) >= 25  # the helper family is wide; a probe
    # regression (marker string drift) would collapse this count


@pytest.mark.parametrize("source", ["_EDITED_THIS_ROUND", "plan_audit"])
def test_edited_this_round_names_are_registered(source):
    """Every name that forces a re-certification, or that holds a
    plan_audit ALLOWED row, is a registered query:
    the registry is the only place an operator lives, so neither list
    can carry a name ahead of its registration."""
    if source == "_EDITED_THIS_ROUND":
        names = set(entry._EDITED_THIS_ROUND)
    else:
        from tools import plan_audit

        names = {n for n, _ in plan_audit.ALLOWED}
    unknown = sorted(names - set(QUERIES))
    assert not unknown, f"{source} names not registered: {unknown}"


def test_rotation_currency_bound_is_documented():
    """COVERAGE.md documents a ceil(N/50)=4-round certification-currency
    bound for the registry size band 120-175. The bound stays
    ceil(N/50)=4 all the way to 200, but the deliberately narrow band
    forces a fresh look at the rotation arithmetic at 175 rather than
    letting the registry drift on autopilot — and 175 keeps at least
    one full never-certified window (<=50 new rows) of headroom below
    the 200 edge where the bound itself would move to 5. A band
    revision lands in the same commit as the registration that
    crosses it. Both halves are checked: the registry size sits inside
    the band, AND the COVERAGE.md paragraph that publishes the bound
    actually exists."""
    n = len(QUERIES)
    assert 120 < n <= 175, (
        f"registry size {n} left the documented ceil(N/50)<=4 currency "
        "band — update COVERAGE.md's rotation-currency paragraph and this "
        "guard together"
    )
    import os

    cov = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "COVERAGE.md")
    with open(cov) as fh:
        text = fh.read()
    assert "Rotation-currency bound" in text and "/50) = 4" in text, (
        "COVERAGE.md no longer publishes the ceil(N/50)=4 rotation-"
        "currency paragraph this test names — restore it or retire the "
        "guarantee explicitly"
    )


def test_rotation_order_is_stalest_first_with_forced_leading():
    names = entry._ordered(list(QUERIES))
    assert set(names) == set(QUERIES) and len(names) == len(QUERIES)
    latest = entry._latest_green()
    forced = set(entry._EDITED_THIS_ROUND)
    keys = [-1 if n in forced else latest.get(n, 0) for n in names]
    assert keys == sorted(keys), "rotation is not sorted stalest-first"
    k = len(forced)
    assert set(names[:k]) == forced, "forced entries must lead the window"
