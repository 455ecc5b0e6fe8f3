"""Benchmark runner: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": "...", "value": <total_sec>, "unit": "sec",
   "queries": {"q_x": sec, ...}, "sf": <sf>}

Each query is materialized with the noop sink (full execution, no driver
collect) so the timing measures the distributed plan, not result transfer.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

# Heavy/representative subset across operator families: joins, aggs,
# windows, sessionization, NN join, similarity search, text ops.
# The first 15 are the frozen round-2/3 comparison set (BASELINE.md);
# q_pack_sequences and q_unigram_logprob are the round-4 set expansion
# putting the packing and quality-scoring families under the perf
# contract (per the round-2 precedent of documented expansions).
HEADLINE = [
    "q_flagship",
    "q_agg_groupby",
    "q_agg_sigclip",
    "q_join_inner",
    "q_join_nn",
    "q_window_trim",
    "q_topk_per_group",
    "q_stream_session",
    "q_dedup_tokenset",
    "q_ngram_jaccard",
    "q_sim_topk",
    "q_sim_bucketed",
    "q_dedup_simhash",
    "q_annulus_background",
    "q_token_topk",
    "q_pack_sequences",
    "q_unigram_logprob",
]

# Round-5 additions, reported SEPARATELY (queries_extra) and NOT counted
# in `value`/`total_min2`: the frozen set above stays round-over-round
# comparable (the r4 verdict's instruction), while the judge still gets
# perf data on the new heavy families — set-similarity join, graph
# (PageRank, triangles), sparse retrieval, and compressed ANN.
EXTRA = [
    "q_setsim_join",
    "q_pagerank",
    "q_triangle_count",
    "q_sparse_cosine",
    "q_pq_adc",
    "q_ivf_probe",
    # round-6 additions (still informational, still excluded from totals)
    "q_semdedup",
    "q_dsir",
    "q_heavy_hitters",
    "q_join_interval",
    "q_time_weighted_avg",
    "q_ks_drift",
    "q_winsorize",
    "q_corr_matrix",
    "q_containment_join",
    "q_rank_fusion",
    # round-6 continuation: sketches, graph communities, complex SQL
    "q_kneser_ney",
    "q_hll_union",
    "q_cms_count",
    "q_late_supplier",
    "q_label_propagation",
    "q_sequence_pattern",
    "q_changepoint",
    # round-7 additions (r6 verdict item 7): the r6 analytics batch +
    # the r7 production-path operators publish numbers without touching
    # the frozen comparator set
    "q_sessionize",
    "q_rolling_active_users",
    "q_funnel_windowed",
    "q_kcore",
    "q_quantile_sketch_pinned",
    "q_dedup_embed_lsh",
    "q_kmv_theta",
    "q_lift_gains",
    "q_mutual_info",
    "q_table_diff",
    "q_gini_concentration",
    "q_skipgram_counts",
    "q_pca_power_step",
    # round-9 additions (r8 verdict item 5): the mining/scoring batch —
    # informational, frozen comparator set untouched
    "q_psi_drift",
    "q_assoc_rules",
    "q_adamic_adar",
    "q_rate_shrinkage",
    "q_woe_iv",
    "q_feature_hashing",
    "q_mutual_nn",
    "q_theilsen",
    # round-9 science batch — informational, frozen set untouched
    "q_cuped",
    "q_mann_whitney",
    "q_cohens_kappa",
    "q_benford",
    "q_burstiness",
    "q_rolling_median",
    "q_hard_negatives",
    "q_embed_int8",
    "q_centroid_sim",
    "q_readability_ari",
    # round-10 inference/feature-engineering batch — informational,
    # frozen comparator set untouched
    "q_spearman",
    "q_cramers_v",
    "q_mcc",
    "q_js_drift",
    "q_target_encode",
    "q_fleiss_kappa",
    "q_did",
    "q_bayes_ab",
    "q_keyword_tfidf",
    "q_assortativity",
    "q_info_gain",
    "q_sprt",
    "q_recall_at_k",
    "q_ece",
    "q_smd_balance",
    "q_trend_test",
    "q_session_entropy",
    "q_lorenz_points",
    "q_jaccard_drift",
    "q_forecast_accuracy",
    "q_novelty_rate",
    "q_ips_offpolicy",
    "q_hhi",
    "q_topk_overlap",
    "q_perplexity",
    "q_ttr_hapax",
    "q_outlier_iqr",
    "q_compress_ratio",
    "q_nelson_aalen",
    "q_krippendorff",
    "q_silhouette",
    "q_mann_kendall",
    "q_runs_test",
    "q_kruskal_wallis",
    "q_brown_forsythe",
    # round-11 batch — informational, frozen comparator set untouched
    "q_anova_oneway",
    "q_cohens_d",
    "q_odds_ratio",
    "q_poisson_rate",
    "q_gwet_ac1",
    "q_goodman_gamma",
    "q_retention_cohorts",
    "q_stratified_ate",
    "q_abc_analysis",
    "q_pacf",
    "q_qq_points",
    "q_code_detect",
    "q_tokenizer_fertility",
    "q_threshold_sweep",
    "q_fd_violations",
    "q_page_hinkley",
    "q_logrank",
    "q_tukey_contrasts",
    "q_friedman",
    "q_cochran_q",
    "q_wilcoxon_signed_rank",
    "q_clustering_coeff",
    "q_seasonality_strength",
    "q_capture_recapture",
    "q_mcnemar",
    "q_durbin_watson",
    "q_partial_corr",
    "q_icc",
    "q_jarque_bera",
    # round-12 batch — informational, frozen comparator set untouched
    "q_gini_by_group",
    "q_vocab_growth",
    "q_parquet_profile",
    "q_media_webp_lossy",
    # round-12 monitoring/governance batch (session 2)
    "q_emd_drift",
    "q_chao1",
    "q_theil_index",
    "q_ldiversity",
    "q_mood_median",
    "q_ccf_lags",
    "q_hilbert_key",
    "q_matryoshka_recall",
    "q_isotonic_calibration",
    "q_trending_terms",
    "q_simpson_diversity",
    "q_cochran_armitage",
    "q_mantel_haenszel",
    "q_scan_warc",
    "q_html_extract",
    # round-12 session-3 additions (diagnostics / release gates)
    "q_ljung_box",
    "q_granger",
    "q_tcloseness",
    "q_kde_curve",
    "q_knn_outlier",
    "q_atkinson",
    "q_scan_archive",
    # round-12 session-4 additions (measurement assurance)
    "q_hellinger_drift",
    "q_overdispersion",
    "q_hosmer_lemeshow",
    "q_hurst_exponent",
    "q_cronbach_alpha",
    "q_hits_step",
    "q_powerlaw_alpha",
    "q_jaccard_linkpred",
    "q_map_eval",
    "q_rbo_overlap",
    "q_energy_distance",
    "q_embedding_drift",
    # round-12 session-4 classic relational shapes
    "q_min_cost_supplier",
    "q_priority_pipeline",
    "q_order_count_dist",
    "q_important_stock",
    "q_large_volume_cust",
    "q_sales_opportunity",
    "q_ab_srm",
    "q_theils_u2",
    "q_sax_symbols",
    "q_mix_temperature",
    "q_media_exif",
    "q_top_supplier",
    "q_supplier_variety",
    "q_newey_west",
    "q_gumbel_fit",
    "q_volume_shipping",
    "q_shapley_attribution",
    "q_ratio_delta",
    "q_holt_winters",
    "q_cohort_ltv",
    "q_rmst",
    "q_bland_altman",
    "q_rmst_arms",
    # round-13 additions — informational, frozen comparator untouched
    "q_kendall_tau",
    "q_benjamini_hochberg",
    "q_krippendorff_alpha",
    "q_conformal_interval",
    "q_weibull_fit",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(Path(sf_dir).name.replace("sf", "") or "0.1")

    from telescope_data_pipeline_spark.queries import all_queries
    from telescope_data_pipeline_spark.session import get_spark

    spark = get_spark(app_name="bench")
    registry = all_queries()

    # Warm the JVM/codegen path once so per-query times measure the plan,
    # not first-call initialization.
    registry["q_flagship"].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    # Python-DataSource warm (r14, r13 VERDICT item 8): the FIRST Python
    # data-source execution in a session pays ~3-4 s of Python-worker /
    # plan-serialization cold start that belongs to process setup, not
    # to the operator being timed. This warm-up runs the WHOLE first
    # q_scan_warc execution untimed (OUTSIDE every timed region), so
    # besides the interpreter cold start it also moves that query's
    # first-run OS page-cache reads and codegen out of the timed runs.
    # Documented protocol change: from r14 on, q_scan_warc's
    # `queries_extra` entry is a steady-state second execution (~0.8 s)
    # rather than the old cold first run (~4 s); its min2 series is
    # unaffected.
    registry["q_scan_warc"].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()

    # Runs per query: the host carries variable background load
    # (BASELINE.md: totals swing ±25%), so single-shot wall times are
    # noisy. min-of-3 (`queries_min3`/`total_min3`) is the PRIMARY
    # round-over-round comparator from round 6 on (r5 verdict item 1);
    # `value` stays the sum of FIRST runs so the legacy r1-r5 series
    # remains apples-to-apples, and min-of-2 is kept one more round for
    # direct comparison against BENCH_r05's total_min2. Caches are
    # cleared between runs so every run re-does the full work
    # (operators that cache a mid-plan table would otherwise skip their
    # expensive stage). A rerun failure is its own error entry — it
    # must not touch the recorded earlier runs.
    n_runs_target = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
    timings: dict[str, float] = {}
    best2: dict[str, float] = {}
    best3: dict[str, float] = {}
    n_runs: dict[str, int] = {}
    errors: dict[str, str] = {}
    for name in HEADLINE:
        fn = registry[name].fn
        runs: list[float] = []
        for i in range(n_runs_target):
            if i:
                spark.catalog.clearCache()
            t0 = time.perf_counter()
            try:
                fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
                runs.append(time.perf_counter() - t0)
            except Exception as e:  # a bad run must not zero the round's bench
                errors[f"{name}#run{i + 1}"] = f"{type(e).__name__}: {e}"[:200]
                if i == 0:  # legacy behavior: record the failed first run's wall
                    timings[name] = round(time.perf_counter() - t0, 3)
                break
        if not runs:
            continue
        timings[name] = round(runs[0], 3)
        n_runs[name] = len(runs)
        if len(runs) >= 2:
            best2[name] = round(min(runs[:2]), 3)
        best3[name] = round(min(runs), 3)

    # Extras run TWICE from round 12 on (round-11 VERDICT item 3: the
    # min-of-1 extras series flagged q_compress_ratio 2.1x on pure host
    # noise). `queries_extra` stays the first-run series so r5-r11
    # extras records remain comparable; `queries_extra_min2` /
    # `extras_min2` is the low-noise series for round-over-round diffs.
    extra: dict[str, float] = {}
    extra_min2: dict[str, float] = {}
    for name in EXTRA:
        runs = []
        for i in range(2):
            if i:
                spark.catalog.clearCache()
            t0 = time.perf_counter()
            try:
                registry[name].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
                runs.append(time.perf_counter() - t0)
            except Exception as e:
                errors[f"{name}#extra#run{i + 1}"] = \
                    f"{type(e).__name__}: {e}"[:200]
                break
        if runs:
            extra[name] = round(runs[0], 3)
        if len(runs) >= 2:
            extra_min2[name] = round(min(runs), 3)

    # Attribution diagnostics (r8 verdict item 4): q_dedup_embed_lsh's
    # wall time is dominated by LSH candidate volume at its demo config
    # (threshold 0.4 -> 4 bits x 16 tables); publish the measured
    # candidate-pair count so the number is attributable to corpus
    # geometry, not suspected engine regression.
    diagnostics: dict[str, int] = {}
    try:
        from telescope_data_pipeline_spark.operators.similarity import (
            embedding_lsh_candidates,
        )
        from telescope_data_pipeline_spark.sources import load_table

        emb = load_table(spark, sf_dir, "embeddings")
        diagnostics["q_dedup_embed_lsh_candidate_pairs"] = \
            embedding_lsh_candidates(emb, dim=64, n_bits=4,
                                     n_tables=16).count()
    except Exception as e:
        errors["diagnostics#candidate_pairs"] = \
            f"{type(e).__name__}: {e}"[:200]
    # Same attribution for q_adamic_adar (r9 verdict item 1): its wall
    # time is pair-volume-bound after the degree-cap prune; publish the
    # (customer pair, shared part) candidate count alongside.
    try:
        from telescope_data_pipeline_spark.queries.mining import (
            adamic_adar_candidate_pairs,
        )

        diagnostics["q_adamic_adar_candidate_pairs"] = \
            adamic_adar_candidate_pairs(spark, sf_dir).count()
    except Exception as e:
        errors["diagnostics#adamic_pairs"] = \
            f"{type(e).__name__}: {e}"[:200]

    # Host-speed calibration anchor (round-12 VERDICT item 3): the
    # r11->r12 1.61x headline inflation was adjudicated as sustained
    # host drift only via a judge rerun, because nothing in the bench
    # line separates "host got slower" from "code got slower". These
    # two probes are CODE-STABLE (never edited once added; they touch
    # no tdp query code): min-of-3 of (a) a full lineitem parquet scan
    # count and (b) a fixed two-key hash aggregate over the same scan.
    # Round-over-round, total_min3 / calibration_total is the
    # host-normalized comparator (see BASELINE.md).
    calibration: dict[str, float] = {}
    try:
        lineitem_path = str(Path(sf_dir) / "lineitem.parquet")
        from pyspark.sql import functions as F

        scan_runs: list[float] = []
        agg_runs: list[float] = []
        for _ in range(3):
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            spark.read.parquet(lineitem_path).count()
            scan_runs.append(time.perf_counter() - t0)
            t0 = time.perf_counter()
            (spark.read.parquet(lineitem_path)
                .groupBy("l_returnflag", "l_linestatus")
                .agg(F.sum("l_quantity").alias("s"),
                     F.avg("l_extendedprice").alias("a"),
                     F.count("*").alias("c"))
                .write.format("noop").mode("overwrite").save())
            agg_runs.append(time.perf_counter() - t0)
        calibration = {
            "scan_count_min3": round(min(scan_runs), 4),
            "hash_agg_min3": round(min(agg_runs), 4),
            "total": round(min(scan_runs) + min(agg_runs), 4),
        }
    except Exception as e:
        errors["calibration"] = f"{type(e).__name__}: {e}"[:200]

    total = round(sum(timings.values()), 3)
    # KEY ORDER MATTERS: the driver's artifact recorder keeps the TAIL
    # of the emitted line, so BENCH_r09.json lost `total_min3` — the
    # declared primary comparator — to head truncation (round-9 VERDICT
    # item 2). All scalar totals and the primary metric therefore go
    # LAST; the big per-query maps go first where truncation can only
    # cost detail, never the headline numbers.
    payload = {
        "metric": "headline_queries_total_wall",
        "unit": "sec",
        "queries": timings,  # legacy first-run series (r1-r5 comparable)
        "queries_min2": best2,
        # PRIMARY low-noise series (r5 verdict item 1): min over
        # `runs_per_query` cleared-cache runs, per query and summed.
        "queries_min3": best3,
        # informational only — excluded from every total (see EXTRA)
        "queries_extra": extra,
        "queries_extra_min2": extra_min2,
        "diagnostics": diagnostics,
    }
    if errors:
        payload["errors"] = errors
    payload.update({
        "runs_per_query": n_runs,  # n actually completed, per query
        # total over the informational extras (min-of-1): tracked as a
        # SCALAR at the end so a regression in the ~80-query extras
        # block is visible to the round-over-round gate even if the
        # per-query map truncates (round-10 VERDICT item 6). Only
        # comparable when n_extras matches across rounds.
        "n_extras": len(extra),
        "total_extras": round(sum(extra.values()), 3),
        # min-of-k totals are only cross-round comparable when every
        # query contributed k runs; n_min2/runs_per_query let consumers
        # detect partial coverage instead of silently comparing
        # mismatched sums (round-4 ADVICE).
        "n_min2": len(best2),
        "n_queries": len(HEADLINE),
        "sf": sf,
        "value": total,
        "total_min2": round(sum(best2.values()), 3),
        "primary_metric": "total_min3",
        "total_min3": round(sum(best3.values()), 3),
        # low-noise extras comparator (round-11 VERDICT item 3) — at the
        # very END so the driver's tail-keeping recorder never drops it
        "n_extras_min2": len(extra_min2),
        "extras_min2": round(sum(extra_min2.values()), 3),
        # host-speed anchor (round-12 VERDICT item 3) — also tail-safe
        "calibration": calibration,
    })
    line = json.dumps(payload)
    print(line)
    # Persist the FULL line as a tracked artifact (round-12 VERDICT
    # item 2): the driver's recorder keeps only the tail of stdout, so
    # every per-query headline map since r6 was truncated out of
    # BENCH_r*.json. BENCHLOG.jsonl is append-only and committed, so
    # the complete per-query series survives every round.
    try:
        stamped = dict(payload)
        stamped["wall_utc"] = time.strftime("%Y-%m-%dT%H:%M:%SZ",
                                            time.gmtime())
        with open(Path(__file__).resolve().parent / "BENCHLOG.jsonl",
                  "a", encoding="utf-8") as fh:
            fh.write(json.dumps(stamped) + "\n")
    except OSError as e:  # a read-only checkout must not fail the bench
        print(f"benchlog append skipped: {e}", file=sys.stderr)


if __name__ == "__main__":
    main()
