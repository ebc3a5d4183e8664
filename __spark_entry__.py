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
# Rounds 3-5 shipped a hand-maintained static order that silently stopped
# rotating (the list held exactly 50 names, so everything behind it was
# never re-certified — and the events-fixture encoding changed underneath
# those stale rows).  The order is now SELF-ROTATING: read the recorded
# CORRECTNESS_r*.json files and put least-recently-certified queries first
# (never-certified and last-round failures sort earliest), so every query
# is re-certified at least every ceil(N/50) rounds no matter what — the
# rotation can't stall again because it is computed, not promised. At
# any registry size inside the 100-150 band the currency bound is
# ceil(N/50)=3 rounds: no green row is ever more than 3 driver runs old,
# minus whatever _EDITED_THIS_ROUND forcing consumes
# (tests/test_entry_rotation pins the band AND the COVERAGE.md paragraph
# that publishes the bound; don't re-pin an exact count here — it went
# stale twice).
_EDITED_THIS_ROUND = [
    # Queries whose implementing FILE changed this round: their recorded
    # green rows predate the change, so they outrank everything the history
    # says is current.  Update per round alongside the round's edits.
    #
    # Streamed index lifecycle, one commit protocol and one stream
    # runner (streaming/parity.py). The ten STORE parities below now
    # build through the shared seed functions, `_run_stream` and the
    # append/overwrite commits, so their construction path changed;
    # each was proven oracle-identical at all three SFs before forcing,
    # per the rotation contract (tests/test_entry_rotation.py). Their
    # oracle SQL is byte-identical to the parent commit's.
    #
    # Carve-out (NO forcing): the seven memory-sink parities
    # (stream_batch_parity, stream_dedup_parity,
    # stream_incremental_dedup, stream_stateful_profile_parity,
    # stream_late_data_parity, stream_late_sliding_parity,
    # stream_dedup_expiry_parity) stream the same DataFrame plan as
    # before — same source options, same operators — now started by
    # ingest.run_available_now instead of an inline writeStream; only
    # the failure cleanup moved. Window math: the 39-row r16 cohort
    # must head the next window (ceil(168/50)=4-round currency bound),
    # so forcing may consume at most 11 slots; forcing all seventeen
    # would push six r16 rows past the bound. (The round-19 entries
    # certified green in CORRECTNESS_r19 and are dropped.)
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
    #
    # Round-18 forcing (historical): 24 plan-changed queries from the
    # r18 optimization session (CC window-min form, one-aggregate
    # delete resurrection, flat funnel frames, events keyed fan-out,
    # ngram df-window, map-only IVF assignment + PQ encoder, shared
    # postings verify scan, tagged-union candidate generation) — all
    # certified green in CORRECTNESS_r18.
    #
    # Round 18 (build session): the round registers the
    # EIGHT pre-built operators from the COVERAGE.md round-17 queue
    # (stream_bloom_bits_parity FIRST as pinned, similarity_ann_ivfpq,
    # text_embed_hash, stream_embed_hash_parity,
    # similarity_embed_hash_topk, multimodal_audio_metadata,
    # events_funnel, events_retention), executing the 160-crossing
    # band revision in the registering commit (band now 120-175,
    # bound ceil(168/50)=4 — COVERAGE.md rotation-currency paragraph
    # + tests/test_entry_rotation.py updated together). All eight
    # have no green rows at all, so the computed rotation already
    # puts them first, followed by the 10-row r14 cohort (agg_approx,
    # agg_approx_bounds, pipeline_courses_parity, q13, q16, q20, q21,
    # window_*) and the stalest r15 rows. With the optimization
    # session's 24 forced plan-edits above the window is
    # 8 new + 24 forced + 10 r14 + 8 r15 = 50; the remaining 42 r15
    # rows stay within the published ceil(168/50)=4-round currency
    # bound until r19.
    #
    # Round-18 carve-outs (files edited, NO forcing — each provably
    # leaves every PREVIOUSLY-REGISTERED result unchanged):
    #  - llm_ops/{text,similarity,multimodal}.py and
    #    streaming/{parity,queries}.py gained only the eight @query
    #    wrapper functions / decorators binding the r17-landed cores
    #    to the fixture tables — purely ADDITIVE diffs; no registered
    #    query's expression changed.
    #  - tools/plan_audit.py gained the r18 allowlist rows
    #    (embed_hash_topk broadcast cross, audio MapInPandas) and the
    #    two EXECUTES_ON_BUILD stream entries — audit tooling only.
    #
    # Round-18 later-session carve-outs (files edited, NO forcing):
    #  - multimodal.decode_media now sniffs the post-ID3v2 magic
    #    before the MP3 branch (ADVICE r17) — only ID3-prefixed FLAC
    #    payloads (previously a ValueError) change behavior; no
    #    fixture file is ID3-prefixed, so every registered decode
    #    output is byte-identical (audio fixture re-verified green).
    #  - parity.apply_bloom_increment guards the stored-bits read for
    #    unseeded stores (ADVICE r17) — seeded paths (every
    #    registered caller) keep the identical anti-join plan; the
    #    affected query (stream_bloom_bits_parity) is new this round
    #    and heads the window anyway (re-verified green post-change).
    #
    # Round 17: EMPTY — no forcing needed. The round registers the
    # five PRE-BUILT operators from the COVERAGE.md round-16 queue
    # (text_corpus_profile, sample_temporal_holdout, dedup_bloom_probe,
    # dedup_minhash_calibration, similarity_ann_pq); they have no green
    # rows at all, so the computed rotation already puts them first,
    # followed by the 6 r13-green stream parities at the bound's worst
    # case (VERDICT r16 item 2) and the stalest r14 rows.
    #
    # Round-17 carve-outs (files edited, NO forcing — each provably
    # leaves every PREVIOUSLY-REGISTERED result unchanged):
    #  - llm_ops/{text,sampling,dedup,similarity}.py gained only the
    #    five @query wrapper functions binding the r16-landed cores to
    #    the fixture tables — purely ADDITIVE diffs.
    #  - dedup._duck_minhash_oracle was split into _duck_pair_ctes +
    #    _duck_pair_select (so the calibration oracle can share one
    #    sig chain, ADVICE r16); the recomposed oracle text is
    #    BYTE-IDENTICAL for every consumer (hash-verified against the
    #    pre-refactor snapshot — the r15 _duck_sig_ctes precedent).
    #  - text.corpus_profile's token count moved from
    #    COALESCE(size(...),0) to the conf-independent WHEN-isNull form
    #    and session.py pins spark.sql.legacy.sizeOfNull=false
    #    (ADVICE r16): corpus_profile is new this round (no green row),
    #    and the conf pin changes no plan under the default conf.
    #
    # Round-17 later-session carve-outs (files edited, NO forcing):
    #  - similarity.r17_similarity_ann_pq_oracle refactored through the
    #    extracted _duck_pq_ctes (for the r18 IVF-PQ composition) —
    #    emission hash-verified BYTE-IDENTICAL; similarity_ann_pq's
    #    registered plan/oracle unchanged, re-proven by a post-refactor
    #    oracle_check pass.
    #  - llm_ops/{similarity,text,multimodal}.py + streaming/{parity,
    #    queries}.py gained only the r18 PRE-BUILD functions (IVF-PQ,
    #    embed_hash + its streamed parity, audio metadata, funnel,
    #    retention) and the FLAC decoder — purely ADDITIVE; no
    #    registered query's expression touches any of them
    #    (decode_media is not on any registered path).
    #  - dedup.minhash_index_artifacts gained a docstring-only storage
    #    contract note (BASELINE §4 round-17).
    #
    # Round 16: EMPTY — no forcing needed. The round registers the
    # seven PRE-BUILT operators from the COVERAGE.md round-15 queue
    # (dedup_minhash_keep_representative, sample_quality_mix,
    # sample_dsir_importance, sample_epoch_plan, dedup_soft_weight,
    # text_c4_rules, text_ccnet_bucket); they have no green rows at
    # all, so the computed rotation already puts them first.
    #
    # Round-16 carve-outs (files edited, NO forcing — each provably
    # leaves every REGISTERED result unchanged):
    #  - llm_ops/{clusters,sampling,dedup,text}.py gained only the
    #    seven @query wrapper functions binding the r15-landed cores
    #    to the fixture tables — purely ADDITIVE diffs; no certified
    #    query's expression changed.
    #  - text.r17_text_c4_rules_oracle now ''-escapes
    #    C4_POLICY_PHRASES when interpolating them into SQL literals
    #    (ADVICE r15). Every current phrase is quote-free, so the
    #    generated SQL is byte-identical (test-asserted:
    #    test_c4_policy_phrase_escaping); text_c4_rules has no green
    #    row yet anyway.
    # (Round-15's forcing, sample_source_token_cap, certified green in
    # CORRECTNESS_r15 and is dropped — keeping it would burn a slot
    # re-proving a current row. Rationale for the r15 carve-outs lives
    # in the r15 git history of this file.)
    #
    # Round-16 later-session carve-outs (files edited, NO forcing):
    # llm_ops/{text,sampling,dedup,similarity}.py gained the five
    # PRE-BUILT round-17-queue operators (corpus profile, temporal
    # holdout, bloom probe, minhash calibration, PQ/ADC — COVERAGE.md
    # round-16 queue note) — purely ADDITIVE diffs (new functions +
    # oracle builders only; no registered query's expression changed),
    # re-proven by a full 155/155 oracle_check at sf0.01 run AFTER the
    # additions, plus triple-scale parity sweeps on each new core.
    # sampling.dsir_importance's materialized-frame trim (lang ->
    # boolean is_tgt) changed a REGISTERED plan, but the query is
    # new THIS round (no green row yet) so the rotation already
    # certifies it first — forcing would be a no-op.
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
