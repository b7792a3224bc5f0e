#!/usr/bin/env python
"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is forced through a full materialization with the `noop`
sink (count() would let Catalyst prune the plan down to a row count —
noop executes every column of the physical plan).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from data_pipeline_postgres_spark.plans import registry
from data_pipeline_postgres_spark.session import get_spark

# Headline set: one representative per operator family (scan, filter,
# scalar derive, hash agg, window, merge-join, reshape, sort, JSON,
# tumbling window) + the flagship pipeline. EXT queries are appended
# dynamically if registered.
HEADLINE = [
    "material_demand",
    "agg_group_sum_multi",
    "agg_group_sum_sql",
    "filter_date_range",
    "derive_case_when",
    "unpivot_melt",
    "window_latest_per_key",
    "cdc_merge",
    "order_by_multi",
    "json_extract",
    "window_tumbling_daily",
]
EXT_HEADLINE = [
    "join_broadcast_dim",
    "join_shuffle_fact",
    "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority",
    "tpch_q5_local_supplier",
    "join_bucketed_colocated",
    "join_asof",
    "window_rolling_7d",
    "window_topk_per_group",
    "agg_rollup",
    "agg_percentile",
    "dedup_exact",
    "dedup_minhash",
    "dedup_simhash",
    "dedup_embedding_cosine",
    "sim_topk",
    "sim_ann_ivf",
    "sim_topk_batch",
    "text_stats",
    "token_count",
    "text_quality",
    "stream_tumbling_daily",
    "stream_cdc_latest",
    "tpch_q6_forecast_revenue",
    "tpch_q10_returned_items",
    "tpch_q18_large_orders",
    "docs_curation_pipeline",
    "docs_pack_sequences",
    "decontaminate_ngram",
    "dataset_mixture",
    "sim_range_search",
    "text_tfidf_topterms",
    "dedup_paragraph",
    "text_inverted_index",
    "docs_shuffle_shard",
    "dedup_semantic",
    "agg_winsorize",
    "events_funnel_batch",
    "layout_zorder",
    "dedup_minhash_incremental",
    "dedup_embedding_incremental",
    "docs_token_budget_select",
    "docs_pack_manifest",
    "events_retention_cohorts",
    "supplier_pareto_share",
    "orders_copurchase_pairs",
    "dedup_containment",
    "tokenizer_vocab_coverage",
    "binary_file_ingest",
    "agg_hll_sketch_rollup",
    "agg_kll_quantile_sketch",
    "table_quality_checks",
    "emb_pq_encode",
    "sim_ann_pq_adc",
    "stream_hll_rollup",
    "docs_ccnet_buckets",
    "sim_ivfpq_index_search",
    "tpch_q9_product_profit",
    "tpch_q11_important_stock",
    "docs_gopher_quality",
    "dedup_substring_windows",
    "events_anomaly_mad",
    "graph_pagerank_copurchase",
    "events_trend_ols",
    "events_changepoint_cusum",
    "emb_knn_classify",
    "graph_communities_lpa",
    "graph_triangle_stats",
    "join_asof_nearest",
    "orders_assoc_rules",
    "events_activity_streaks",
    "events_markov_transitions",
    "docs_chunk_overlap",
    "stream_gopher_filter",
    "orders_cohort_ltv",
    "graph_degree_stats",
    "events_hourly_seasonality",
    "customer_churn_inactive",
    "events_user_diversity",
    "orders_interarrival_stats",
    "events_attribution_first_touch",
    "docs_curation_funnel",
    "profile_corr_matrix",
    "events_attribution_last_touch",
    "graph_link_prediction",
    "referential_integrity_sweep",
    "events_dau_wau_mau",
    "docs_source_quality",
    "docs_length_percentiles_by_source",
    "orders_monthly_revenue_yoy",
    "text_lines_roundtrip",
    "events_user_gini",
    "orders_ship_backlog_daily",
    "events_rolling_slope_7d",
    "emb_label_drift",
    "emb_outlier_topk",
    "docs_boilerplate_ngrams",
    "docs_near_dup_rate_by_source",
    "docs_vocab_growth",
    "docs_length_histogram_pow2",
    "docs_quality_dup_crosstab",
    "dedup_simhash_hamming_hist",
    "events_anomaly_zscore_rolling",
    "docs_mix_temperature_alloc",
    "jdbc_scan_partitioned",
    "stream_zscore_daily",
    "docs_dedup_impact_tokens",
    "docs_quality_drift_by_decile",
    "emb_centroid_cosine_matrix",
    "dedup_minhash_jaccard_hist",
    "events_audience_overlap",
    "emb_norm_histogram",
    "events_new_vs_returning",
    "events_dormancy_revival",
    "text_char_entropy",
    "text_unigram_logprob",
    "text_zipf_fit",
    "decontaminate_embedding",
    "graph_kcore",
    "table_diff_audit",
    "bpe_pair_merges",
    "text_bigram_logprob",
    "lang_id_confusion",
    "emb_pca_power_iteration",
    "dedup_simhash_incremental",
    "events_pattern_detect",
    "profile_column_entropy",
    "docs_pack_fragmentation",
    "stream_pii_redact",
    "docs_shingle_novelty",
    "graph_bfs_distance",
    "csv_malformed_permissive",
    "agg_mode_exact",
    "docs_compression_ratio",
    "docs_dsir_weights",
    "stream_decontaminate",
    "sim_ivf_balance",
    "docs_gopher_rule_ablation",
    "events_conversion_lag_stats",
    "orders_basket_size_histogram",
    "emb_hard_negative_mining",
    "emb_matryoshka_agreement",
    "part_entity_match",
    "sim_topk_int8",
    "sim_topk_int8_recall",
    "events_session_paths",
    "agg_weighted_median",
    "orders_revenue_holt_forecast",
    "sketch_count_min_freq",
    "sketch_bloom_membership",
    "stream_cms_rollup",
    "multimodal_shard_manifest",
    "events_out_of_order_audit",
    "text_bigram_kn_logprob",
    "part_brand_discount_ols",
    "events_ab_welch_ttest",
    "events_km_conversion_curve",
    "events_cuped_ab_adjusted",
    "graph_random_walks",
    "agg_bootstrap_ci_mean",
    "text_bm25_search",
    "search_hybrid_rrf",
    "graph_walk_skipgram_pairs",
    "events_psi_value_drift",
    "events_ks_two_sample",
    "events_mann_whitney_u",
    "events_chi2_independence",
    "events_did_estimator",
    "orders_holt_backtest",
    "text_rake_keywords",
    "docs_naive_bayes_source",
    "orders_theil_sen_trend",
    "text_pmi_collocations",
    "docs_winnowing_fingerprints",
    "events_burst_range_join",
    "docs_nb_margin_calibration",
    "docs_ngram_novelty_curve",
    "docs_bpe_train_merges",
    "docs_url_dedup_cap",
    "docs_snapshot_curation_diff",
    "docs_perplexity_bucket",
    "decontaminate_overlap_frac",
    "tokenizer_fertility_by_lang",
    "emb_cosine_calibration",
    "dedup_minhash_band_sweep",
    "decontaminate_multi_benchmark",
    "docs_dup_source_matrix",
    "events_holt_winters_forecast",
    "demand_croston_forecast",
    "docs_dsir_gumbel_select",
    "cdc_scd2_apply",
    "sim_ivf_nprobe_recall_curve",
    "text_textrank_keywords",
    "join_asof_tolerance",
    # round-12 additions
    "docs_pack_bestfit",
    "docs_pack_efficiency",
    "dedup_payload_shingle",
    "docs_mix_capped_alloc",
    "dedup_payload_incremental",
    "docs_dup_spectrum",
    "stream_payload_dedup",
    "docs_dup_maxrun",
    "events_attribution_models",
    "events_attribution_markov",
    "multimodal_cdc_chunks",
    "multimodal_cdc_dedup_ratio",
    "customers_k_anonymity",
    "profile_dq_constraints",
    "docs_score_auc",
    "customers_kaplan_meier",
    "layout_compaction_plan",
    "orders_seasonal_decompose",
    "docs_mix_temperature",
    "tokenizer_coverage_curve",
    "sim_mmr_rerank",
    "stream_dq_constraints",
    "emb_knn_label_accuracy",
    "graph_assortativity",
    "orders_benford_audit",
    "orders_runs_test",
    "graph_modularity",
    "emb_mutual_knn",
    "pipeline_backfill_plan",
    "dedup_method_overlap",
    "customer_feature_snapshot",
    "stream_feature_snapshot",
    # round-13 additions
    "dedup_payload_cdc",
    "emb_mutual_knn_ann",
    "orders_acf",
    "orders_mann_kendall",
    "customer_churn_training_set",
    "docs_curriculum_pacing",
    "layout_vacuum_plan",
    "stream_curriculum_pacing",
    "profile_drift_two_period",
    "docs_split_leakage_audit",
    "orders_rfm_segments",
    "parts_abc_classification",
    "emb_kmeans_lloyd",
    "pipeline_gdpr_erasure_plan",
    "dedup_payload_cdc_incremental",
    # round-14 additions
    "stream_scd2_apply",
    "dedup_bloom_incremental",
    "emb_ivf_delta_merge",
    "layout_file_skipping_audit",
    "layout_partition_skew_audit",
    "parts_er_fuzzy_name",
    "parts_price_elasticity",
    "customers_dp_group_counts",
    "supplier_scorecard_weighted",
    "pipeline_ivm_agg_maintenance",
    "multimodal_nibble_entropy",
    "events_attribution_shapley",
    "parts_eoq_policy",
    "events_gap_fill_interpolate",
    # round-15 additions
    "orders_theil_sen_trend_long",
    "orders_price_index_laspeyres",
    "lineitem_p_chart",
    "stream_ivm_agg_maintenance",
    "tokenizer_bpe_apply",
]


def round_override() -> int | None:
    """The archive round forced by ``SPARK_GRAFT_BENCH_ROUND``, or None
    when it is unset. Anything but a positive integer exits with a
    message naming the variable, before any query runs (a typo used
    to surface as a bare ValueError after the whole bench, and ``0``
    archived a round 0)."""
    raw = os.environ.get("SPARK_GRAFT_BENCH_ROUND")
    if not raw:
        return None
    try:
        n = int(raw)
    except ValueError:
        n = 0
    if n < 1:
        raise SystemExit(
            f"SPARK_GRAFT_BENCH_ROUND must be a positive integer, got {raw!r}"
        )
    return n


def main() -> None:
    env_round = round_override()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark(app_name="bench")
    registry.load_all()

    names = [n for n in HEADLINE + EXT_HEADLINE if n in registry.QUERIES]
    # Session-wide warmup (JVM, codegen, Arrow, parquet footer caches)
    # so the first timed query isn't charged for engine init.
    from data_pipeline_postgres_spark.catalog import load_table

    load_table(spark, sf_dir, "events").limit(1000).write.format(
        "noop"
    ).mode("overwrite").save()
    timings: dict[str, float] = {}
    spreads: dict[str, float] = {}
    for name in names:
        df = registry.QUERIES[name](spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()  # warm: JVM/IO caches
        runs = []
        for _ in range(3):
            t0 = time.perf_counter()
            df2 = registry.QUERIES[name](spark, sf_dir)
            df2.write.format("noop").mode("overwrite").save()
            runs.append(time.perf_counter() - t0)
        # MEDIAN-of-3 (round-10 verdict item 3): best-of-N hides
        # genuine slowdowns behind one lucky run and is biased low on
        # a noisy host; the median is the robust central estimate.
        timings[name] = round(sorted(runs)[1], 3)
        # spread = max-min over timed runs; a regression smaller than
        # the spread is host noise, not a plan change.
        spreads[name] = round(max(runs) - min(runs), 3)

    total = round(sum(timings.values()), 3)
    # Per-query timings/spreads go to a sidecar file: with 100+
    # queries the full dict exceeds the driver's stdout tail buffer
    # and the final JSON line gets truncated mid-object (this lost the
    # official round-7 bench record).  stdout carries ONLY a compact
    # line (<1 KB) as the LAST line; the worst-3 queries ride along so
    # the headline record still names the hotspots.
    root = os.path.dirname(os.path.abspath(__file__))
    detail = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "spread": spreads,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }
    with open(os.path.join(root, "BENCH_DETAIL.json"), "w") as f:
        json.dump(detail, f, indent=1)
    # Archive a per-round copy (BENCH_DETAIL.json is gitignored and
    # overwritten every run, which made cross-round regression
    # comparison impossible — the r9 verdict could diff only the 3
    # worst-query values preserved in BENCH_r{N}.json).  The current
    # round is 1 + the newest driver-recorded BENCH_r{N}.json.
    import glob as _glob
    import re as _re

    # Scan BOTH families: the driver's BENCH_r{N}.json may lag the
    # committed BENCH_DETAIL_r{N}.json archives (the current round's
    # BENCH_r is written by the driver AFTER bench runs), so on a
    # fresh clone a BENCH_r-only scan would compute a stale round and
    # silently clobber an existing archive (round-10 advisory).
    # r16: cpu-suffixed archives (BENCH_DETAIL_r{N}_c{cpus}.json) are
    # deliberately EXCLUDED from the round scan — the driver benches
    # the SAME round at several core counts (32 then 8), and in r15
    # the 8-core scaling run auto-incremented past the 32-core
    # archive and consumed the NEXT round's slot
    # (BENCH_DETAIL_r16.json held r15's c8 data). The round now
    # advances only when the driver records BENCH_r{N}.json (written
    # after the whole round) or a legacy unsuffixed DETAIL archive
    # exists; SPARK_GRAFT_BENCH_ROUND overrides the scan outright.
    rounds = [
        int(m.group(1))
        for p in _glob.glob(os.path.join(root, "BENCH_*r*.json"))
        if (m := _re.search(r"BENCH_(?:DETAIL_)?r(\d+)\.json$", p))
    ]
    this_round = env_round or (max(rounds) if rounds else 0) + 1
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count())
    archive = os.path.join(
        root, f"BENCH_DETAIL_r{this_round:02d}_c{cpus}.json"
    )
    if os.environ.get("SPARK_GRAFT_BENCH_NO_ARCHIVE"):
        # local iteration run — don't claim the round's archive slot
        archive = os.path.join(root, "BENCH_DETAIL.local.json")
    elif os.path.exists(archive):
        # never overwrite a cross-round record; park alongside instead
        archive = archive.replace(".json", ".local.json")
    with open(archive, "w") as f:
        json.dump(detail, f, indent=1)
    # Worst-10 (r15 verdict item 2): worst-3 left the driver's PERF
    # round-over-round comparison a 2-query common set; ten names cost
    # ~300 bytes and stay well under the 1 KB stdout-tail budget.
    worst = dict(
        sorted(timings.items(), key=lambda kv: kv[1], reverse=True)[:10]
    )
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_wall",
                "value": total,
                "unit": "sec",
                "queries": worst,
                "n_queries": len(timings),
                "detail": "BENCH_DETAIL.json",
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
            }
        )
    )


if __name__ == "__main__":
    main()
