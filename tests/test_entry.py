"""Driver-contract integrity: queries()/oracle_sql() shape, and the
self-rotating certification order (least-recently-certified first, so
no query can silently fall out of the driver's 50-slot verified window
for more than one round)."""

from __future__ import annotations

import __spark_entry__ as entry

WINDOW = 50  # the driver's per-round verification cap


def test_queries_and_oracles_consistent():
    qs = entry.queries()
    oracles = entry.oracle_sql()
    assert list(qs) == entry._ordered(list(entry.QUERIES))
    # every query has an oracle (168 registered)
    assert set(oracles) == set(qs) and len(qs) >= 168
    # every oracle is non-empty SQL; every query is callable
    assert all(isinstance(sql, str) and sql.strip() for sql in oracles.values())
    assert all(callable(fn) for fn in qs.values())


def test_rotation_puts_stalest_queries_in_window():
    """The driver checks the first WINDOW entries, so every query whose
    recorded certification is older than the newest cohort must be in
    the window (or the forced re-cert list must be displacing it)."""
    qs = list(entry.queries())
    latest = entry._latest_green()
    if not latest:  # fresh clone without CORRECTNESS files
        return
    window, behind = set(qs[:WINDOW]), qs[WINDOW:]
    newest_cohort = max(latest.get(n, 0) for n in qs)
    stale = [n for n in qs if latest.get(n, 0) < newest_cohort]
    overflow = max(0, len(stale) + len(entry._EDITED_THIS_ROUND) - WINDOW)
    missed = [n for n in stale if n not in window
              and n not in entry._EDITED_THIS_ROUND]
    assert len(missed) <= overflow, missed
    # behind-window entries are never staler than in-window ones
    if behind:
        worst_behind = min(latest.get(n, 0) for n in behind)
        worst_window = min(latest.get(n, 0) for n in qs[:WINDOW]
                           if n not in entry._EDITED_THIS_ROUND)
        assert worst_behind >= worst_window


def test_entry_returns_dataframe(spark):
    df = entry.entry(spark)
    assert df.columns[0] == "l_returnflag"
    assert df.count() > 0


def test_bench_headline_names_are_registered():
    """bench.py times queries by name; a renamed/removed registry entry
    must fail loudly here, not silently drop out of the bench total
    (the `continue` in bench.main would hide it)."""
    import bench

    missing = [n for n in bench.HEADLINE if n not in entry.QUERIES]
    assert missing == [], missing


def test_every_query_has_a_bench_decision():
    """Every registered query must be in HEADLINE or in BENCH_EXCLUDED
    with a reason — a new operator landing without a bench decision
    would silently read as 'timed' when it never was. Overlap and
    stale exclusion entries fail too."""
    import bench

    headline, excluded = set(bench.HEADLINE), set(bench.BENCH_EXCLUDED)
    registered = set(entry.QUERIES)
    undecided = registered - headline - excluded
    assert undecided == set(), f"no bench decision for: {sorted(undecided)}"
    assert headline & excluded == set(), "query both benched and excluded"
    stale = excluded - registered
    assert stale == set(), f"exclusions for unregistered queries: {sorted(stale)}"
    for name, reason in bench.BENCH_EXCLUDED.items():
        assert reason.strip(), f"empty exclusion reason for {name}"


def test_baseline_pins_parse_and_cover_headline():
    """bench._pins() parses the BASELINE.md §2 table — the single
    source of truth for the self-adjudication fields. A silent parse
    failure (e.g. the §3 heading the section regex anchors on going
    missing, which happened during a round-17 doc edit) degrades every
    BENCH JSON to multiplier=None without any error; this pins the
    parse loudly: the table yields a healthy pin count and every
    HEADLINE row is pinned (a new headline row must get its first pin
    in the same round it joins — the keep_representative/ann_pq
    precedent)."""
    import bench

    pins = bench._pins()
    assert len(pins) >= 40, (
        f"BASELINE §2 pin parse collapsed to {len(pins)} rows — check "
        "the '## 2.'/'## 3.' headings and the table format")
    unpinned = [n for n in bench.HEADLINE if n not in pins]
    assert unpinned == [], f"headline rows without a BASELINE pin: {unpinned}"
