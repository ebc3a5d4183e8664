"""Bench harness: headline queries at $SPARK_GRAFT_SF_DIR (default
sf0.1) on local[$SPARK_GRAFT_CPUS]. Prints ONE compact JSON line:
{"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...,
"session_multiplier": ..., "worst5_normalized": {...}, ...} — sized to
survive the driver's 2000-char stdout capture (VERDICT r17 item 2);
the FULL self-adjudication object (per-row pin/normalized ratios,
unpinned rows, pin-parse failures) goes to BENCH_FULL_latest.json.

Timing protocol (BASELINE.md §2): per query, one warm-up run then the
median of 3 timed runs; value = sum of per-query medians. A row whose
3 samples show the storage-settling signature (strictly decreasing,
>1.35x total drop — the r17 dedup_simhash curve) keeps sampling until
its trailing 3 samples are stable and scores THEIR median (cap 10),
reported under settled_rows.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from coursera_etl_pipeline_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Headline set: one per operator family (SURVEY §2.2), heaviest first.
# NOTE: the real-stream parities (streaming/parity.py) memoize their memory
# sink via tableExists — if they ever join this list, call them with
# force=True per timed run or the warm runs time a cached-table read.
HEADLINE = [
    "q1_pricing_summary",        # scan+filter+8 aggs
    "q3_shipping_priority",      # 3-way join + topk
    "q5_local_supplier_volume",  # 6-way star join
    "join_left_outer",           # outer join + agg
    "agg_cube",                  # multi-grouping agg
    "window_ranking",            # window over 150k orders
    "window_latest_per_key",     # argmax dedup pattern
    "sort_multi_key",            # global sort
    "events_session_window",     # sessionization
    "events_sliding_window",     # overlapping windows
    "scalar_json_pack",          # JSON extraction over 100k events
    "text_quality_score",        # text featurization
    "dedup_ngram_jaccard",       # shingle inverted-index self-join
    "dedup_simhash",             # banded fingerprint join
    "dedup_minhash_lsh",         # LSH candidates + exact verify
    "dedup_incremental_minhash",  # corpus-vs-batch index probe
    "similarity_topk_bruteforce",  # cosine over 2k vectors
    "similarity_ann_lsh",        # bucketed ANN
    "similarity_ann_ivf",        # centroid-probe ANN
    "join_asof",                 # as-of join via union-tag window
    "join_salted_skew",          # fact-fact join, AQE skew split
    "text_tfidf_top_terms",      # TF-IDF + per-group top-k
    "pipeline_courses_parity",   # reference-pipeline replay
    "q6_forecast_revenue",       # pure pushdown scan-agg
    "q10_returned_items",        # 4-way join + top-k
    "events_interval_join",      # stream-stream attribution (batch run)
    "sample_stratified_hash",    # deterministic corpus sampling
    "text_pack_sequences",       # token-budget packing
    "text_decontaminate",        # benchmark-overlap broadcast probe
    "events_resample_gapfill",   # grid resample + forward fill
    "dedup_index_update",        # index append + rebuild-equivalence
    "dedup_index_delete",        # index takedown + ledger resurrection
    "similarity_index_update",   # ANN index append vs frozen centroids
    "similarity_index_delete",   # ANN index takedown (anti-join rewrite)
    "multimodal_frame_sample",   # stride-slice explode over documents
    "text_repetition_score",     # per-row sort + run-length fold
    "dedup_semantic",            # SemDeDup: cell-bucketed cosine pairs
    "dedup_boilerplate",         # repeated-span cut: fp agg + join-back
    "dedup_substring",           # stride-1 suffix-array-shape dedup
    "dedup_paragraph_keep_first",  # argmin-struct fp agg + join-back
    "text_vocab_topk",           # explode + hash-agg + top-K heap
    "dedup_minhash_keep_representative",  # end-to-end dedup verdict:
    # LSH pairs + star-contraction components + LEFT join-back — the
    # only headline row that times the iterative components loop
    "similarity_ann_pq",         # PQ/ADC: codes-frame equi-join on
    # (sub, code) + broadcast LUT — a physical shape (byte-code corpus
    # contact, no float vector shuffled at query time) no other
    # headline ANN row times
    "events_funnel",             # r18: per-step min-agg + equi-join
    # chain reusing the user_id partitioning — the repeated
    # same-key agg+join shape no other headline row times; its
    # K-decade curve (BASELINE §4) is the product-analytics anchor
]


# Every registered query is either HEADLINE or excluded HERE with a
# reason — tests/test_entry.py fails if a new query lands without a
# bench decision (a silently-unbenchmarked operator reads as "timed"
# when it never was).
BENCH_EXCLUDED: dict[str, str] = {}


def _exclude(reason: str, *names: str) -> None:
    for n in names:
        BENCH_EXCLUDED[n] = reason


_exclude(
    "physical shape already timed by a headline family representative; "
    "benching every variant stretches wall-clock without new signal",
    # TPC-H shapes: q1/q3/q5/q6/q10 headline rows cover scan+agg, star
    # joins, semi/anti subquery joins, and top-k of this family
    "q2_filter_predicates", "q4_order_priority", "q7_nation_volume",
    "q8_market_share", "q9_product_type_profit", "q11_important_parts",
    "q12_shipmode_priority", "q13_customer_distribution",
    "q14_promo_revenue", "q15_top_supplier", "q16_supplier_part_count",
    "q17_small_quantity_revenue", "q18_large_orders",
    "q19_disjunctive_predicates", "q20_excess_suppliers",
    "q21_waiting_suppliers", "q22_dormant_customers",
    # aggregate variants (agg_cube is the heavy multi-grouping row)
    "agg_approx", "agg_approx_bounds", "agg_distinct",
    "agg_grouping_sets", "agg_having", "agg_percentile_exact",
    "agg_pivot", "agg_rollup", "agg_stats_pack",
    # join variants (join_left_outer/asof/salted_skew headline)
    "join_cross", "join_full_outer", "join_left_anti", "join_left_semi",
    "join_nonequi_range", "join_right_outer",
    # window variants (window_ranking/latest_per_key headline)
    "window_analytic", "window_frame_range", "window_frame_rows",
    # sorts/sets/subqueries/scalars/nested (sort_multi_key,
    # scalar_json_pack headline)
    "sort_limit_offset", "sort_topk", "set_except", "set_intersect",
    "set_union_all", "set_union_distinct", "subquery_exists_correlated",
    "subquery_in", "subquery_scalar", "unpivot_stack",
    "scalar_array_pack", "scalar_conditional_pack", "scalar_date_pack",
    "scalar_higher_order_pack", "scalar_map_pack", "scalar_math_pack",
    "scalar_string_pack", "nested_explode_roundtrip",
    "nested_unnest_roundtrip",
    # events/text/dedup/similarity/multimodal lighter siblings
    "events_tumbling_window", "text_fingerprint", "text_lang_id",
    "text_token_count", "dedup_exact", "dedup_clusters",
    "dedup_components", "similarity_neardup_pairs",
    "multimodal_blob_metadata", "multimodal_resize",
    "dedup_image_dhash",  # fixed 32-image fixture: no scale signal
    "dedup_image_clusters",  # same fixture, components of the above
    # CDC pair (merge shares the snapshot-join+window shape)
    "merge_upsert_snapshot", "scd2_versions",
    # one-pass multi-agg + anti-join: both shapes timed by q1/q21 family
    "dq_audit_orders", "dq_audit_documents",
    # narrow split+explode+slice; text_pack_sequences times the family
    "text_chunk_overlap",
    # narrow per-row regex map (concat + 2 counts + 2 replaces);
    # text_quality_score times the zero-shuffle text-featurization family
    "text_pii_scrub",
    # md5-bucket filter family timed by sample_stratified_hash; the
    # mix adds only |sources|-row aggregates around the same filter
    "sample_corpus_mix",
)
_exclude(
    "map-only regexp extraction + two broadcast list joins (zero "
    "shuffle); text_quality_score times the zero-shuffle text family",
    "text_url_host_filter",
)
_exclude(
    "fingerprint min-aggregate + equi-join-back shape timed by "
    "dedup_paragraph_keep_first; the bucket arithmetic it adds is "
    "map-only",
    "sample_split_leakage_safe",
)
_exclude(
    "re-runs the headline-timed text_quality_score and adds a "
    "3-number percentile aggregate + broadcast CASE",
    "text_quality_binning",
)
_exclude(
    "per-source window running-sum shape timed by text_pack_sequences; "
    "the cap adds one codegen'd filter",
    "sample_source_token_cap",
)
_exclude(
    "map-only canonicalization + fp min-aggregate + equi-join-back "
    "shape timed by dedup_paragraph_keep_first",
    "dedup_url_exact",
)
_exclude(
    "recall metric re-running an ANN query the headline already times",
    "similarity_ann_recall", "similarity_ivf_recall",
)
_exclude(
    "map-only codegen'd rule expressions (zero shuffle); "
    "text_quality_score times the zero-shuffle text family",
    "text_gopher_rules",
)
_exclude(
    "explode + tf-matrix aggregate + broadcast-stats join: a strict "
    "subset of the headline-timed text_tfidf_top_terms shape (same "
    "explode, fewer aggregates, no window)",
    "text_perplexity_proxy", "text_token_entropy",
)
_exclude(
    "shingle explode + O(1)-state argmin agg + equi-join-back shape "
    "timed by dedup_paragraph_keep_first; the per-doc ratio it adds "
    "is map-only",
    "text_ngram_novelty",
)
_exclude(
    "minhash signature pass timed by dedup_minhash_lsh + the rep-agg "
    "split shape sample_split_leakage_safe's exclusion already covers",
    "sample_split_minhash",
)
_exclude(
    "|hosts|-row aggregates + broadcast rate join around the "
    "md5-bucket filter family timed by sample_stratified_hash (same "
    "reasoning as sample_corpus_mix's exclusion)",
    "sample_domain_reweight",
)
_exclude(
    "narrow per-row quantization map (zero shuffle); no new timing "
    "signal beyond the scan-speed text/map family",
    "similarity_quantize_int8",
)
_exclude(
    "re-runs the text_quality_score -> binning chain (binning is "
    "itself excluded as a re-run) and adds only the md5-bucket "
    "filter family timed by sample_stratified_hash + a 4-row audit",
    "sample_quality_mix",
)
_exclude(
    "bigram explode + FIXED-256-bucket hash-agg + broadcast log-ratio "
    "join: the explode/tf-aggregate family timed by "
    "text_tfidf_top_terms (same shuffle shape, bounded agg state); "
    "its cold/warm materialize contract is recorded in BASELINE §4",
    "sample_dsir_importance",
)
_exclude(
    "|sources|-row aggregate + 1-row broadcast count + map "
    "arithmetic; the per-source aggregate family timed by "
    "sample_domain_reweight's exclusion reasoning (sample_corpus_mix)",
    "sample_epoch_plan",
)
_exclude(
    "fingerprint count-aggregate + equi-join-back shape timed by "
    "dedup_paragraph_keep_first; the 1/n micro-weight it adds is "
    "map-only",
    "dedup_soft_weight",
)
_exclude(
    "map-only codegen'd rule expressions (zero shuffle); "
    "text_quality_score times the zero-shuffle text family (same "
    "reasoning as text_gopher_rules)",
    "text_c4_rules",
)
_exclude(
    "re-runs the excluded text_perplexity_proxy (explode/tf family "
    "timed by text_tfidf_top_terms) and adds a 2-number percentile "
    "aggregate + broadcast CASE (text_quality_binning's reasoning)",
    "text_ccnet_bucket",
)
_exclude(
    "recall metric re-running the brute-force shape "
    "similarity_topk_bruteforce already times, on 4x narrower codes",
    "similarity_quantize_recall",
)
_exclude(
    "recall metric composing two headline-timed shapes (IVF probe + "
    "quantized scoring); similarity_ann_ivf times the cell-probe path",
    "similarity_ann_quantized",
)
_exclude(
    "fusion re-runs both headline ANN branches; the join it adds is "
    "O(queries x k)",
    "similarity_rrf_fusion",
)
_exclude(
    "per-row-pure signature append; similarity_index_update is the "
    "family's timed lifecycle row",
    "similarity_lsh_index_update",
)
_exclude(
    "per-row-pure signature append + anti-join; similarity_index_delete "
    "is the family's timed lifecycle row",
    "similarity_lsh_index_delete",
)
_exclude(
    "ONE source-keyed hash-aggregate (two bounded count-distinct "
    "pre-aggregates); the wide-aggregate scan family timed by "
    "q1_pricing_summary",
    "text_corpus_profile",
)
_exclude(
    "2-number min/max aggregate broadcast + map-side CASE (zero "
    "corpus shuffle); the scalar-threshold broadcast family timed by "
    "sample_stratified_hash's md5-filter row",
    "sample_temporal_holdout",
)
_exclude(
    "bounded <=2^14-row set-bit broadcast + 3-position probe explode: "
    "the broadcast membership-probe family timed by text_decontaminate "
    "(same shape, data-proportional probe side)",
    "dedup_bloom_probe",
)
_exclude(
    "re-runs the headline-timed dedup_minhash_lsh pair pipeline and "
    "adds two O(|pairs|) signature equi-joins off the shared "
    "materialized shingle index",
    "dedup_minhash_calibration",
)
_exclude(
    "real-stream parity memoizes its memory sink (tableExists) — warm "
    "bench runs would time a cached-table read, not the stream",
    "stream_batch_parity", "stream_dedup_parity",
    "stream_incremental_dedup", "stream_stateful_profile_parity",
    "stream_index_update_parity", "stream_ann_index_parity",
    "stream_index_delete_parity", "stream_ann_index_delete_parity",
    "stream_late_data_parity", "stream_late_sliding_parity",
    "stream_dedup_expiry_parity",
    "stream_index_multi_tick_parity",
    "dedup_index_compact",
    "stream_lsh_index_delete_parity", "stream_dq_gate_parity",
    # r18 registrations: same memoized-memory-sink contract
    "stream_bloom_bits_parity", "stream_embed_hash_parity",
)
_exclude(
    "composes two headline-timed physical shapes (similarity_ann_ivf's "
    "broadcast-centroid cell probe + similarity_ann_pq's codes-frame "
    "equi-join/LUT scoring); the same reasoning that excludes "
    "similarity_ann_quantized, and its K=10 probe decade row is in "
    "BASELINE §4",
    "similarity_ann_ivfpq",
)
_exclude(
    "token explode + FIXED-64-bucket hash-agg + equi-join-back: the "
    "explode/tf-aggregate family timed by text_tfidf_top_terms, with "
    "bounded agg state (sample_dsir_importance's exact reasoning)",
    "text_embed_hash",
)
_exclude(
    "composes the excluded text_embed_hash generation pass with the "
    "broadcast(N_QUERIES) x corpus top-k shape "
    "similarity_topk_bruteforce already times; its K=100 inversion "
    "(0.29x) is recorded in BASELINE §4",
    "similarity_embed_hash_topk",
)
_exclude(
    "fixed 24-file audio fixture: no scale signal (dedup_image_dhash's "
    "exact reasoning)",
    "multimodal_audio_metadata",
)
_exclude(
    "min-date cohort agg + distinct (user, day) agg + one equi-join: "
    "the distinct-agg/equi-join shapes timed by events_funnel and "
    "window_latest_per_key; its K-decade curve is in BASELINE §4",
    "events_retention",
)


def _parse_pins(column: int = 1) -> tuple[dict[str, float], list[str]]:
    """Per-query pins parsed from BASELINE.md §2's table — the single
    source of truth (a duplicated dict here would drift from the
    re-pin notes). Rows: `| name | engine sec | duckdb sec | ...` with
    a bare query-name first cell, between the '## 2.' and '## 3.'
    headings; `column` 1 is the engine pin, 2 the DuckDB median.

    Returns (pins, parse_failures): a query-name row whose engine-sec
    cell does not parse as a bare float is COLLECTED, not silently
    dropped (ADVICE r17: a future annotation like '0.79*' would
    otherwise quietly remove the row from the multiplier basket and
    pins_total with nothing in the record to show for it) — failures
    surface in the BENCH JSON as pin_parse_failures."""
    import re

    path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "BASELINE.md")
    pins: dict[str, float] = {}
    failures: list[str] = []
    try:
        with open(path) as fh:
            text = fh.read()
    except OSError:
        return pins, failures
    m = re.search(r"^## 2\..*?(?=^## 3\.)", text, re.M | re.S)
    if not m:
        return pins, failures
    for line in m.group(0).splitlines():
        cells = [c.strip() for c in line.strip().strip("|").split("|")]
        if (len(cells) > column and re.fullmatch(r"[a-z0-9_]+", cells[0])
                and cells[0] != "query"):  # the table's header row
            try:
                pins[cells[0]] = float(cells[column])
            except ValueError:
                failures.append(cells[0])
    return pins, failures


def _pins() -> dict[str, float]:
    return _parse_pins()[0]


def _microbench() -> float:
    """Pure-CPU probe (~1.2 s on a quiet host, 2-3 s throttled) — the
    same loop every adjudication session has used; bracketing the pass
    places the host's state on the record."""
    t0 = time.perf_counter()
    s = 0
    for i in range(20_000_000):
        s += i
    return round(time.perf_counter() - t0, 2)


def _materialize(df) -> None:
    """Execute the FULL query — every row and column through the sink.

    NOT .count(): Catalyst legally prunes count-invariant work (orders
    under EliminateSorts, unused window/projection expressions under
    ColumnPruning), so counting a sorted/projected query times a bare
    scan. The `noop` sink consumes each row without writing, matching
    the DuckDB side's fetchall() work (tools/bench_duckdb.py).
    """
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    import __spark_entry__ as entrymod

    spark = get_spark("bench")
    # ERROR only: keeps the one-line JSON contract's surroundings clean
    # (e.g. the benign FileStreamSink WARN probe during JSON globbing).
    spark.sparkContext.setLogLevel("ERROR")
    queries = entrymod.queries()
    per_query: dict[str, float] = {}
    noisy_rows: list[str] = []
    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]

    # Order-sensitivity probe: a leak that taxes LATER queries (e.g. the
    # round-5 persist accumulation) shows up as the same query being
    # fast in one order and slow in the other. Results should be
    # order-invariant; this knob lets a round prove it.
    order = HEADLINE[::-1] if os.environ.get("SPARK_GRAFT_BENCH_REVERSE") else HEADLINE
    settled_rows: list[str] = []

    def _settling(s: list[float]) -> bool:
        # storage-settling signature (VERDICT r17 item 4: the r17
        # dedup_simhash excursion was a first-pass page-cache warming
        # curve — 11.48 -> 2.41 -> 1.60 -> 1.32 -> 1.26 -> 1.17 s in an
        # isolated probe): every sample strictly faster than the last
        # AND a >20% total drop. A stall episode is non-monotone (a
        # spike with calm neighbors), so the two branches are disjoint.
        # The 1.35x total-drop floor keeps ordinary decreasing-noise
        # triples (0.62 -> 0.55 -> 0.50) out of the branch — the first
        # probe of this detector at 1.2x swept 13 rows in, most of
        # them plain noise.
        return (len(s) >= 3
                and all(s[i + 1] < s[i] for i in range(len(s) - 1))
                and s[0] > 1.35 * s[-1])

    mb_start = _microbench()
    for name in order:
        fn = queries.get(name)
        if fn is None:
            continue

        def timed() -> float:
            t0 = time.perf_counter()
            _materialize(fn(spark, SF_DIR))
            return time.perf_counter() - t0

        _materialize(fn(spark, SF_DIR))  # warm-up (parquet footer/code caches)
        samples = [timed() for _ in range(3)]
        if _settling(samples):
            # Don't median a settling curve — keep sampling until the
            # trailing 3 samples are stable (or a 10-sample cap), then
            # score the settled state; the row is reported so a reader
            # can tell storage warm-up from a plan regression.
            while len(samples) < 10 and (
                    _settling(samples[-3:])
                    or max(samples[-3:]) > 1.2 * min(samples[-3:])):
                samples.append(timed())
            samples = samples[-3:]
            settled_rows.append(name)
        elif max(samples) > 2.5 * min(samples):
            # This host absorbs multi-second external stall episodes
            # (round-10: identical plans 1.4 s -> 4.8 s back to back;
            # pure-CPU microbench clean between episodes — BASELINE.md
            # round-10 afternoon note). A >2.5x spread inside one
            # 3-sample set means an episode landed here; two more
            # samples make the median robust to it, and the row is
            # reported so a reader can tell weather from regression.
            samples += [timed() for _ in range(2)]
            noisy_rows.append(name)
        per_query[name] = round(statistics.median(samples), 3)

    mb_end = _microbench()
    total = round(sum(per_query.values()), 3)

    # Self-adjudication (VERDICT r16 item 7): three consecutive rounds
    # needed manual weather adjudication of the driver bench. Emit the
    # session multiplier — median over pinned rows of measured/pin, a
    # robust basket statistic (a single regressed row cannot move the
    # median of 40+ rows; a hot host moves every row together) — plus
    # per-row pin ratios raw AND normalized by that multiplier, so a
    # reader separates host weather (multiplier >> 1, normalized ~1)
    # from a real per-row regression (normalized >> 1) without
    # re-litigating from COVERAGE notes. Pins parse from BASELINE.md §2
    # (the single source of truth); unpinned rows (first bench of a new
    # query) report null ratios and are excluded from the multiplier.
    pins, pin_failures = _parse_pins()
    pin_ratios = {n: round(per_query[n] / pins[n], 2)
                  for n in per_query if n in pins and pins[n] > 0}
    multiplier = (round(statistics.median(pin_ratios.values()), 3)
                  if pin_ratios else None)
    normalized = ({n: round(r / multiplier, 2)
                   for n, r in pin_ratios.items()}
                  if multiplier else {})

    # Output contract (VERDICT r17 item 2): the driver records only the
    # LAST 2000 chars of stdout, and r17's full self-adjudication JSON
    # (3 per-row dicts) overflowed that window — BENCH_r17.json lost
    # value/pins_total/multiplier to `parsed: null`. The FULL per-row
    # object now goes to a sidecar file; stdout gets ONE compact line
    # (summary scalars + per-query medians + worst-5 normalized),
    # length-guarded by progressively dropping the optional keys.
    full = {
        "metric": "headline_query_median_total",
        "value": total,
        "unit": "sec",
        "queries": per_query,
        "noisy_rows": noisy_rows,
        "settled_rows": settled_rows,
        "sf": float(sf),
        "pins_total": round(sum(pins[n] for n in per_query if n in pins), 3),
        "session_multiplier": multiplier,
        "microbench_sec": {"start": mb_start, "end": mb_end},
        "pin_ratios": pin_ratios,
        "normalized_ratios": normalized,
        "unpinned_rows": sorted(n for n in per_query if n not in pins),
        "pin_parse_failures": pin_failures,
    }
    sidecar = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           "BENCH_FULL_latest.json")
    try:
        with open(sidecar, "w") as fh:
            json.dump(full, fh, indent=1)
            fh.write("\n")
    except OSError:
        sidecar = None  # read-only checkout: the compact line stands alone

    worst5 = dict(sorted(normalized.items(),
                         key=lambda kv: kv[1], reverse=True)[:5])
    compact = {k: full[k] for k in (
        "metric", "value", "unit", "queries", "noisy_rows", "settled_rows",
        "sf", "pins_total", "session_multiplier", "microbench_sec")}
    compact["worst5_normalized"] = worst5
    compact["n_unpinned"] = len(full["unpinned_rows"])
    compact["pin_parse_failures"] = pin_failures
    compact["full_report"] = sidecar
    line = json.dumps(compact)
    # Length guard: the summary scalars + worst-5 carry the
    # adjudication signal, so the row-name LISTS degrade to counts
    # first (they remain in full in the sidecar).
    for drop, count_key in (("settled_rows", "n_settled"),
                            ("noisy_rows", "n_noisy"),
                            ("microbench_sec", None),
                            ("worst5_normalized", None)):
        if len(line) <= 1950:
            break
        dropped = compact.pop(drop, None)
        if count_key is not None and dropped is not None:
            compact[count_key] = len(dropped)
        line = json.dumps(compact)
    print(line)


if __name__ == "__main__":
    main()
