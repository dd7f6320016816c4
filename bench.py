"""Benchmark harness — runs the headline corpus at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] (default: the
visible cores) and prints ONE JSON line:
{"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}.

Each query executes end-to-end into a noop sink (full computation, no
driver-side materialization cost).  Protocol: one UNTIMED warm-up run
per query, then MIN of 3 back-to-back timed runs, with the relative
spread recorded per query.  The warm-up is per-query, not just
per-session: the first execution of each plan pays whole-stage-codegen
class compilation + JIT, measured at 3-6x steady state on the widest
generated classes (the 64-column dedup aggregates), and a session-level
warm-up does not amortize it.

Round-8 finding — INTERLEAVED passes (A/B/C/A/B/C) were tried as the
drift-rejection fix and REJECTED: with ~104 distinct plans between two
samples of the same query, the JVM evicts the query's generated classes
from the code cache, so every "timed" sample re-pays compilation — the
dedup family read 4.4/5.5/3.1 s interleaved vs 2.1/2.8/1.2 s
back-to-back in the SAME session (r6/r7-level), a +80% artifact
concentrated exactly in the widest-codegen queries.  Interleaving
measures the code cache, not the engine.  Drift rejection instead comes
from CANARY CHECKPOINTS: the fixed canary (q6, scan+agg, byte-stable)
is timed before the schedule, after every 10 queries, and at the end;
any stretch whose bracketing canary samples exceed 1.5x the MEDIAN
boundary canary sample is re-run (one extra timed run per affected
query, min-merged), so a slow burst corrupts at most one stretch once
instead of the whole session silently.

Round-9 additions (the r8 verdict's "make the 2x rule decidable"):

* ``normalized`` — per query, wall / session-canary-median.  The canary
  is byte-stable across rounds, so dividing by it removes the shared
  VM's session-to-session speed factor: cross-round comparisons should
  be stated in these units (r8's +19% "regression" was entirely a VM
  factor — the same queries re-ran 2x apart on an idle machine).
* ``suspect_reruns`` — any scheduled query whose raw time moved >1.5x
  against the PREVIOUS round's BENCH_DETAILS (read before this run
  overwrites it) is re-run once in a FRESH SparkSession at bench end
  (new JVM-side session state, cold code cache paid by one untimed
  warm-up), and both numbers are recorded.  A real regression
  reproduces in the fresh session; VM noise doesn't.
* ``canary2`` — a second-regime canary (dedup_exact: wide codegen +
  shuffle) timed at the same checkpoints: the r9 session measured the
  VM speed factor at 2.6x on the scan+agg canary vs 1.8x on the dedup
  family between the same two sessions, so per-regime normalizers are
  recorded and cross-round calls read the one matching the query class.

Noise instrumentation (round-2 verdict: a 22% round-over-round drift on
byte-identical code was indistinguishable from a real regression):

* ``spread``  — per query, (max-min)/min over the 3 timed runs; a spread
  >0.5 on a scan-bound query means neighbor load corrupted that timing;
* ``canary``  — a fixed reference query (q6, scan+agg, byte-stable across
  rounds) timed FIRST and again LAST; ``drift`` = last/first.  The JVM
  keeps C2-compiling shared paths throughout the run, so drift ~0.5-0.8
  is the measured steady state (0.47-0.51 at sf0.01) even after the
  first sample discards a full warm-up round; the NOISE signal is drift
  >1 (machine slowed mid-run) or a drift far below the round-over-round
  norm recorded in prior BENCH_r{N}.json files;
* ``noise_floor`` — median per-query spread, one number summarizing how
  trustworthy this round's timings are.

Output-size contract (round-3 post-mortem): the driver records only the
LAST 2000 characters of stdout and parses the JSON line out of that
tail.  Round 3's line carried 56 per-query timings plus a per-query
spread dict — >2000 chars — so the tail cut off the front of the line
and the round recorded ``parsed: null``.  The fix is structural: ALL
queries are still timed, but the printed line's ``queries`` dict is the
fixed 39-query COMPARABLE set from BENCH_r02 (so round-over-round
totals compare like for like), scalars summarize the rest
(``total_all``/``n_all``), and the full per-query detail (all timings,
spreads, canary) goes to ``BENCH_DETAILS.json`` beside this file.  A
hard assert keeps the printed line under 1900 chars forever.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier",
    "q6_forecast_revenue",
    "q7_nation_volume",
    "q9_product_profit",
    "q10_returned_items",
    "q18_large_orders",
    "q21_waiting_suppliers",
    "join_left_order_counts",
    "agg_count_distinct",
    "window_topk_orders_per_customer",
    "window_running_customer_spend",
    "topk_orders_global",
    "events_tumbling_hourly",
    "events_sessionize_30m",
    "events_asof_latest_before_order",
    "json_extract_events",
    "agg_percentiles_quantity",
    "pivot_qty_by_status",
    "dedup_exact",
    "dedup_contamination_check",
    "dedup_minhash_lsh_pairs",
    "dedup_simhash_pairs",
    "dedup_ngram_jaccard_pairs",
    "text_profile_full",
    "text_fingerprints",
    "text_repetition_signals",
    "text_token_freqs",
    "text_filter_funnel",
    "dataset_shuffle_shards",
    "dataset_training_corpus",
    "similarity_cosine_topk",
    "similarity_lsh_topk",
    "similarity_ivf_topk",
    "similarity_pq_topk",
    "sketch_count_min_users",
    "dedup_bloom_prefilter",
    "multimodal_byte_stats",
    "text_bm25_topk",
    "similarity_semantic_dedup",
    "merge_upsert_orders",
    "events_funnel_conversion",
    "graph_triangle_counts",
    "text_chunk_documents",
    "profile_table_stats",
    "join_salted_brand_counts",
    "retrieval_rrf_hybrid",
    "graph_label_propagation",
    "dataset_dsir_logweights",
    "dedup_incremental_minhash",
    "similarity_mmr_rerank",
    "dataset_temperature_sample",
    "similarity_random_projection",
    "text_winnowing_fingerprints",
    "text_compression_signals",
    # round-4 additions (timed into total_all/BENCH_DETAILS, not PRINTED)
    "dedup_sorted_neighborhood",
    "similarity_kmeans_assign",
    "profile_numeric_corr",
    "similarity_eval_decontamination",
    "quality_logreg_auc",
    "physics_antikt_jets",
    "physics_event_shapes",
    "agg_approx_percentile",
    "sketch_kmv_distinct_users",
    "agg_bootstrap_ci_value",
    "profile_group_trend",
    "physics_ca_jets",
    "physics_dijet_mass",
    "profile_benford_price",
    "events_ewma_value",
    "dedup_containment_pairs",
    "graph_hits_supply",
    "basket_copurchase_pairs",
    "basket_association_rules",
    "skyline_cheap_big_parts",
    "events_peak_concurrent_users",
    "events_markov_transitions",
    "drift_value_ks",
    "drift_value_psi",
    "drift_term_logodds",
    "density_core_parts",
    "density_dbscan_clusters",
    "events_top_trigrams",
    "events_last_touch_attribution",
    "dataset_split_leakage",
    "quality_calibration_curve",
    "similarity_whiten_dims",
    "events_ab_ztest",
    "retrieval_ndcg_eval",
    "agg_incremental_merge",
    "events_kaplan_meier",
    "privacy_k_anonymity",
    "events_anomaly_markov_nll",
    "events_ab_cuped",
    "rank_shrunk_return_rates",
    "audit_data_quality",
    "physics_softdrop_jets",
    "profile_gini_order_value",
    "drift_mannwhitney_value",
    "drift_anova_value_by_type",
    "drift_chi2_lang_source",
    "dataset_target_encoding_loo",
    "quality_woe_iv",
    "events_sequence_support",
    "basket_item_cf_topk",
    "profile_mutual_information",
    "graph_sssp_supply_cost",
    "text_textrank_keywords",
    "sketch_kmv_jaccard_days",
    "dataset_curriculum_shards",
    "dedup_fs_linkage_scores",
    "graph_ppr_supply_seeded",
    "sketch_cm_join_size_views_purchases",
    "multimodal_resample_audio",
    "audit_disparate_impact",
    "quality_pr_curve",
    "physics_event_ht_met",
    # round-5 additions: the previously-untimed heavy tail (the Boruvka
    # lesson — cost regressions in untimed queries are invisible)
    "graph_boruvka_forest",
    "graph_pagerank_supply_network",
    "graph_kcore_supply",
    "graph_bfs_hops",
    "dedup_entity_resolution",
    "text_bm25_chunk_retrieval",
    "dedup_duplicated_spans",
    "similarity_binary_hamming_topk",
    "dedup_fs_em_params",
    "agg_moments_skew_kurtosis",
    "sketch_sample_quantiles_value",
    "multimodal_keyframe_select",
    # round-6 additions
    "similarity_binary_multiword_topk",
    "similarity_binary_rerank_topk",
    "text_pii_scrub",
    "text_pii_scan",
    "graph_link_prediction_jaccard",
    "drift_value_jsd",
    "layout_hilbert_key",
    "dataset_kcenter_coreset",
    "quality_conformal_coverage",
    "text_unigram_lm_vocab",
    "text_unigram_encode_counts",
    "multimodal_audio_vad",
    "privacy_dp_noisy_counts",
    "dedup_rouge_l_pairs",
    "quality_langid_confusion",
    "drift_value_wasserstein",
    "events_ab_uplift_by_segment",
    # round-7 additions
    "similarity_incremental_ivf_assign",
    "multimodal_dhash_neardups",
    "dataset_leakage_safe_split",
    "privacy_t_closeness",
    "similarity_ivf_recall_at_k",
    "drift_embedding_shift",
    "layout_clustering_quality",
    "events_bot_regularity",
    "text_lm_perplexity",
    "multimodal_phash_neardups",
    "multimodal_audio_spectral",
    "similarity_pq_recall_at_k",
    "text_ngram_novelty",
    "orders_rfm_segments",
    "graph_degree_assortativity",
    "dedup_winnowing_pairs",
    "events_markov_entropy",
    "similarity_cluster_purity",
    "multimodal_image_gradients",
    "agg_theil_inequality",
    # round-8 rows
    "web_host_quality_rollup",
    "web_domain_cap_sample",
    "web_url_dedup_canonical",
    "drift_classifier_auc",
    "similarity_int8_recall_at_k",
    "dataset_packing_efficiency",
    "text_vocab_coverage",
    "orders_cohort_ltv",
    "text_blocklist_filter",
    "events_ab_msprt",
    "dataset_mixture_manifest",
    "events_theil_sen_trend",
    # round-9 additions
    "dedup_lsh_threshold_audit",
    "multimodal_phash128_neardups",
    # round-10 additions (the 16-bit twin is a deliberately-undersized
    # rehearsal control, not a production path — rehearsed, not benched)
    "multimodal_phash128_uniform_neardups",
]

# The fixed subset whose timings go on the printed JSON line — exactly the
# 39 queries BENCH_r02 recorded, so the judge's round-over-round total
# compares identical workloads.  Everything in HEADLINE is still timed;
# the rest land in BENCH_DETAILS.json and the total_all scalar.
PRINTED = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier",
    "q6_forecast_revenue",
    "q7_nation_volume",
    "q9_product_profit",
    "q10_returned_items",
    "q18_large_orders",
    "q21_waiting_suppliers",
    "join_left_order_counts",
    "agg_count_distinct",
    "window_topk_orders_per_customer",
    "window_running_customer_spend",
    "topk_orders_global",
    "events_tumbling_hourly",
    "events_sessionize_30m",
    "events_asof_latest_before_order",
    "json_extract_events",
    "agg_percentiles_quantity",
    "pivot_qty_by_status",
    "dedup_exact",
    "dedup_contamination_check",
    "dedup_minhash_lsh_pairs",
    "dedup_simhash_pairs",
    "dedup_ngram_jaccard_pairs",
    "text_profile_full",
    "text_fingerprints",
    "text_repetition_signals",
    "text_token_freqs",
    "text_filter_funnel",
    "dataset_shuffle_shards",
    "dataset_training_corpus",
    "similarity_cosine_topk",
    "similarity_lsh_topk",
    "similarity_ivf_topk",
    "similarity_pq_topk",
    "sketch_count_min_users",
    "dedup_bloom_prefilter",
    "multimodal_byte_stats",
]


def _current_round() -> int:
    import re

    rounds = [
        int(m.group(1))
        for p in Path(__file__).resolve().parent.glob("CORRECTNESS_r*.json")
        if (m := re.search(r"r(\d+)", p.name))
    ]
    return (max(rounds) if rounds else 0) + 1


def _schedule() -> list[str]:
    """This round's timed set: the PRINTED comparable set every round,
    plus ONE HALF of the remaining HEADLINE tail, alternating by round
    parity over the tail's sorted order (round-6 verdict: 147 timed
    queries pushed total bench wall past the driver budget and kept
    growing ~15 s/round; rotation keeps every query timed at most one
    round stale while halving per-round wall).  Override with
    SPARK_GRAFT_BENCH_ALL=1 to time everything (local investigations)."""
    if only := os.environ.get("SPARK_GRAFT_BENCH_ONLY"):
        names = [n.strip() for n in only.split(",") if n.strip()]
        return [n for n in HEADLINE if n in names]
    if os.environ.get("SPARK_GRAFT_BENCH_ALL"):
        return list(HEADLINE)
    keep = set(PRINTED)
    tail = sorted(n for n in HEADLINE if n not in keep)
    parity = _current_round() % 2
    keep.update(n for i, n in enumerate(tail) if i % 2 == parity)
    return [n for n in HEADLINE if n in keep]


def _previous_details() -> dict:
    """Last round's BENCH_DETAILS.json, read BEFORE this run overwrites
    it — the baseline for the >1.5x suspect-rerun check."""
    try:
        prev = json.loads(
            (Path(__file__).resolve().parent / "BENCH_DETAILS.json").read_text()
        )
        return prev if isinstance(prev, dict) else {}
    except (OSError, ValueError):
        return {}


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(Path(sf_dir).name.replace("sf", "") or 0.1)

    from heparchy_spark.queries import spark_queries
    from heparchy_spark.session import CPUS, get_spark

    prev_details = _previous_details()
    spark = get_spark("heparchy-spark-bench")
    qs = spark_queries()

    def run(name: str) -> float:
        # label every job with its query so the UI/event log and any
        # warning in the session stderr attribute to a query, not to an
        # anonymous noop write (guide §1.5)
        spark.sparkContext.setJobDescription(f"bench: {name}")
        t0 = time.time()
        df = qs[name](spark, sf_dir)
        df.write.mode("overwrite").format("noop").save()
        dt = time.time() - t0
        # Queries that persist intermediates (minhash/simhash staging) would
        # otherwise accumulate storage across runs; keep each run
        # self-contained so timings are independent.
        spark.catalog.clearCache()
        spark.sparkContext.setJobDescription(None)
        return dt

    run("q1_pricing_summary")  # warm-up: JVM/JIT/codegen startup

    CANARY = "q6_forecast_revenue"
    # Second-regime canary: the r9 session showed the VM's speed factor
    # is NOT uniform across query classes (the scan+agg canary sped up
    # 2.6x between sessions while the codegen-wide dedup family moved
    # 1.8x), so one normalizer can't serve both regimes.  dedup_exact is
    # byte-stable, cheap, and exercises the wide-codegen + shuffle path;
    # its median is recorded beside the primary canary's so cross-round
    # comparisons can normalize per regime.
    CANARY2 = "dedup_exact"
    STRETCH = 10  # canary checkpoint cadence (queries per stretch)
    schedule = _schedule()
    samples: dict[str, list[float]] = {n: [] for n in schedule}
    failed: set[str] = set()

    def sample(name: str, n: int) -> None:
        for _ in range(n):
            try:
                samples[name].append(run(name))
            except Exception as exc:  # noqa: BLE001
                print(f"bench error in {name}: {exc}", file=sys.stderr)
                failed.add(name)
                return

    run(CANARY)  # canary's own codegen warm-up
    run(CANARY)  # second warm-up: C2 steady state, not C1
    run(CANARY2)
    run(CANARY2)
    canary_boundary: list[float] = [run(CANARY)]
    canary2_boundary: list[float] = [run(CANARY2)]
    stretches: list[list[str]] = []
    for i in range(0, len(schedule), STRETCH):
        chunk = schedule[i : i + STRETCH]
        stretches.append(chunk)
        for name in chunk:
            run(name)  # untimed per-query warm-up
            sample(name, 3)  # hot back-to-back min-of-3
        canary_boundary.append(run(CANARY))
        canary2_boundary.append(run(CANARY2))

    # canary-gated stretch retry: a stretch bracketed by a slow canary
    # sample gets one extra timed run per query, min-merged — a machine
    # burst costs one re-pass of <=10 queries, never the whole session.
    # Reference = MEDIAN boundary sample (the min is an outlier by
    # construction; 1.25x the min retried every stretch in the first
    # r8 session), threshold 1.5x = well past the canary's own jitter.
    srt = sorted(canary_boundary)
    cref = srt[len(srt) // 2]
    retried: list[int] = []
    for k, chunk in enumerate(stretches):
        if max(canary_boundary[k], canary_boundary[k + 1]) > 1.5 * cref:
            retried.append(k)
            for name in chunk:
                if name not in failed:
                    sample(name, 1)
    canary_boundary.append(run(CANARY))
    canary2_boundary.append(run(CANARY2))
    canary_first, canary_last = canary_boundary[0], canary_boundary[-1]
    c2_srt = sorted(canary2_boundary)
    canary2_median = c2_srt[len(c2_srt) // 2]

    timings: dict[str, float] = {}
    spreads: dict[str, float] = {}
    for name in schedule:
        ss = samples[name]
        # A query that failed on ANY run reports -1.0 even when earlier
        # samples succeeded — a flaky query must not look healthy (r8
        # advice: partial samples were silently kept and the failure was
        # stderr-only).  The partial samples still go to BENCH_DETAILS.
        if not ss or name in failed:
            timings[name] = -1.0
            continue
        lo, hi = min(ss), max(ss)
        timings[name] = round(lo, 3)
        spreads[name] = round((hi - lo) / lo if lo > 0 else 0.0, 3)

    valid_spreads = sorted(s for n, s in spreads.items() if timings[n] >= 0)
    noise_floor = (
        round(valid_spreads[len(valid_spreads) // 2], 3) if valid_spreads else 0.0
    )
    total_all = round(sum(t for t in timings.values() if t >= 0), 3)
    printed = {n: timings[n] for n in PRINTED if n in timings}
    total = round(sum(t for t in printed.values() if t >= 0), 3)
    drift = round(canary_last / canary_first if canary_first > 0 else 1.0, 3)

    # Canary-normalized timings: the canary is byte-stable across rounds,
    # so wall / canary-median divides out the VM's session speed factor —
    # the unit cross-round comparisons should be stated in.
    canary_median = cref
    normalized = {
        n: round(t / canary_median, 3) if t >= 0 and canary_median > 0 else -1.0
        for n, t in timings.items()
    }

    # Suspect reruns: raw time moved >1.5x either way vs last round's
    # recorded detail -> one fresh-session re-measure at bench end.  A
    # real regression reproduces there; a VM burst doesn't.  Capped at 8
    # (largest movement first) so a globally-slow session can't double
    # the bench wall; anything dropped is listed, not silent.
    prev_timings = prev_details.get("queries", {})
    prev_canary = (prev_details.get("canary") or {}).get("median", 0.0)
    suspects: list[tuple[float, str]] = []
    for n, t in timings.items():
        pt = prev_timings.get(n, -1.0)
        if t > 0 and isinstance(pt, (int, float)) and pt > 0:
            ratio = t / pt
            if ratio > 1.5 or ratio < 1 / 1.5:
                suspects.append((max(ratio, 1 / ratio), n))
    suspects.sort(reverse=True)
    rerun_names = [n for _, n in suspects[:8]]
    dropped_suspects = [n for _, n in suspects[8:]]
    suspect_reruns: dict[str, dict] = {}
    if rerun_names:
        spark.stop()
        spark = get_spark("heparchy-spark-bench-fresh")
        qs = spark_queries()
        fresh_canary = -1.0
        try:
            run(CANARY)
            fresh_canary = round(run(CANARY), 3)
        except Exception as exc:  # noqa: BLE001 - reruns are best-effort
            print(f"fresh canary failed: {exc}", file=sys.stderr)
        # per-query try/except: one failing rerun must not silently
        # skip the rest — a skipped name would be in neither
        # suspect_reruns nor suspects_dropped, making the record look
        # complete when it isn't (round-9 advice; the same class as the
        # r8 partial-samples fix)
        for n in rerun_names:
            try:
                run(n)  # untimed warm-up in the fresh session
                fresh = round(run(n), 3)
                suspect_reruns[n] = {
                    "prev": prev_timings.get(n),
                    "this": timings[n],
                    "fresh": fresh,
                    "fresh_normalized": round(fresh / fresh_canary, 3)
                    if fresh_canary > 0
                    else -1.0,
                }
            except Exception as exc:  # noqa: BLE001
                print(f"suspect rerun {n} failed: {exc}", file=sys.stderr)
                suspect_reruns[n] = {
                    "prev": prev_timings.get(n),
                    "this": timings[n],
                    "fresh": -1.0,
                    "fresh_normalized": -1.0,
                    "error": str(exc)[:200],
                }

    details = {
        "queries": timings,
        "normalized": normalized,
        "spread": spreads,
        "noise_floor": noise_floor,
        "failed": sorted(failed),
        "partial_samples": {
            n: [round(s, 3) for s in samples[n]] for n in sorted(failed)
        },
        "canary": {
            "query": CANARY,
            "first": canary_first,
            "last": canary_last,
            "median": round(canary_median, 3),
            "drift": drift,
            "boundary_samples": [round(c, 3) for c in canary_boundary],
            "retried_stretches": retried,
        },
        "canary2": {
            "query": CANARY2,
            "median": round(canary2_median, 3),
            "boundary_samples": [round(c, 3) for c in canary2_boundary],
        },
        "suspect_reruns": suspect_reruns,
        "suspects_dropped": dropped_suspects,
        "prev_canary_median": prev_canary,
        "sf": sf,
        "total_all": total_all,
        "printed_total": total,
        "round": _current_round(),
        "rotation": {
            "scheduled": len(schedule),
            "headline": len(HEADLINE),
            "skipped": sorted(set(HEADLINE) - set(schedule)),
        },
    }
    (Path(__file__).resolve().parent / "BENCH_DETAILS.json").write_text(
        json.dumps(details, indent=1)
    )

    line = json.dumps(
        {
            "metric": "headline_total_wall",
            "value": total,
            "unit": "sec",
            "queries": printed,
            "total_all": total_all,
            "n_all": len(timings),
            "n_failed": len(failed),
            "noise_floor": noise_floor,
            "drift": drift,
            "canary_median": round(canary_median, 3),
            "canary2_median": round(canary2_median, 3),
            "n_suspect_reruns": len(suspect_reruns),
            # r10 verdict item 4: the driver's PERF compared 32-core and
            # 8-core runs without the core count on the line; carry it
            # (additions-only) so regressions are adjudicable from the
            # printed JSON alone.  canary_median is already printed.
            "cpus": CPUS,
            "sf": sf,
        }
    )
    # The driver keeps only the last 2000 chars of stdout; a longer line
    # is silently unparseable (what happened to BENCH_r03).
    assert len(line) < 1900, f"bench JSON line too long: {len(line)}"
    print(line)
    spark.stop()


if __name__ == "__main__":
    main()
