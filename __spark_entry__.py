"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash -> CORRECTNESS_r{N}.json).

All implementations live in ``coursera_etl_pipeline_spark``; this file
is the thin adapter.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import coursera_etl_pipeline_spark.llm_ops  # noqa: E402,F401  (registers queries)
import coursera_etl_pipeline_spark.operators  # noqa: E402,F401
import coursera_etl_pipeline_spark.plans  # noqa: E402,F401
import coursera_etl_pipeline_spark.streaming  # noqa: E402,F401
from coursera_etl_pipeline_spark.registry import ORACLE, QUERIES  # noqa: E402

# The driver verifies queries in dict order and caps the check at 50 per
# round, so dict ORDER decides which queries get a current-round green row.
# The order is computed, not hand-kept: read the recorded
# CORRECTNESS_r*.json files and put least-recently-certified queries first
# (never-certified and last-round failures sort earliest), so every query
# is re-certified at least every ceil(N/50) rounds — 4 at the current
# registry size (tests/test_entry_rotation pins the band AND the
# COVERAGE.md paragraph that publishes the bound) — minus whatever
# _EDITED_THIS_ROUND forcing consumes.
_EDITED_THIS_ROUND = [
    # Queries whose registered plan or oracle changed after their last
    # green row: they lead the window, ahead of the history. Each is
    # proven oracle-identical at sf0.001, sf0.01 and sf0.1 before it is
    # listed, and drops out once a CORRECTNESS row records it green.
    # A change that leaves every registered plan and oracle string
    # unchanged (deleting unregistered code, renaming a builder whose
    # emitted SQL is byte-identical, docstrings) needs no forcing.
    # Budget: the rows last green in r16 must all sit in the next window
    # (the 4-round bound), so the window is these 12 + the other 38 r16
    # rows.
    #
    # tfidf ranks on SUM(f) * idf, multiplied once, instead of
    # SUM(f * idf): exact ties now break on term on both engines.
    "text_tfidf_top_terms",
    # The ten STORE stream parities build through the shared seeds,
    # `_run_stream` and the one store commit (streaming/parity.py).
    # The seven memory-sink parities stream an unchanged plan and are not
    # forced.
    "stream_index_update_parity",
    "stream_ann_index_parity",
    "stream_ann_index_delete_parity",
    "dedup_index_compact",
    "stream_index_delete_parity",
    "stream_index_multi_tick_parity",
    "stream_lsh_index_delete_parity",
    "stream_dq_gate_parity",
    "stream_bloom_bits_parity",
    "stream_embed_hash_parity",
    # The hand-salted skew join became the plain join; AQE splits skew.
    "join_salted_skew",
]


def _latest_green() -> dict[str, int]:
    """query name -> highest round with a green CORRECTNESS row (hash
    match, or rows match for rows-only entries). Absent/failed-only
    queries are simply missing (treated as round 0 = most stale)."""
    import glob
    import json
    import re

    here = os.path.dirname(os.path.abspath(__file__))
    latest: dict[str, int] = {}
    for path in glob.glob(os.path.join(here, "CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            with open(path) as fh:
                rows = json.load(fh)
        except (OSError, ValueError):
            continue
        for name, rec in rows.items():
            if not isinstance(rec, dict):
                continue
            ok = rec.get("hash_match")
            if ok is None:  # rows-only entry (no oracle): weaker gate
                ok = rec.get("rows_match")
            if ok:
                latest[name] = max(latest.get(name, 0), rnd)
    return latest


def _ordered(names: list[str]) -> list[str]:
    latest = _latest_green()
    pos = {n: i for i, n in enumerate(names)}  # stable within a cohort
    forced = {n: -1 for n in _EDITED_THIS_ROUND}
    return sorted(names, key=lambda n: (forced.get(n, latest.get(n, 0)), pos[n]))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (pricing summary: scan->filter->agg->sort) on
    sf0.001; driver checks rows>0 and a stable schema."""
    from coursera_etl_pipeline_spark.operators.relational import q1_pricing_summary

    return q1_pricing_summary(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return {n: QUERIES[n] for n in _ordered(list(QUERIES))}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL equivalents (same column aliases)."""
    return {n: ORACLE[n] for n in _ordered(list(QUERIES)) if n in ORACLE}
