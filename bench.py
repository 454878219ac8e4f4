#!/usr/bin/env python
"""Headline benchmark: run the engine's flagship queries at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and print ONE JSON line:

    {"metric": "...", "value": <total sec>, "unit": "sec",
     "queries": {"q": sec, ...}, "sf": <sf>}

Each query executes end-to-end into a noop sink (full plan runs, no
driver collect). A warmup pass triggers JVM/codegen warm paths so the
numbers reflect steady-state plan cost, not JIT noise.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from time_series_data_trimmer_spark.queries_fam import load_registry
from time_series_data_trimmer_spark.session import get_spark

REGISTRY = load_registry()

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

#: headline set: one per operator family, weighted toward the heavy
#: shuffle/window paths that dominate at scale.
HEADLINE = [
    "f1_moving_average",        # centered rolling window chain
    "f2_rolling_median",        # exact rolling median (sort in frame)
    "f9_normalize_zscore",      # partition-wide stats window
    "f6_detrend",               # OLS via covar/var windows
    "f8_integrate",             # running decimal sum
    "f13_interpolate_linear",   # 4 windows (prev/next value+idx)
    "p4_delete_segment_collapse",  # anti-filter + re-time
    "a1_sample_rate",           # exact median agg
    "a4_episode_overlay",       # ffill + dedup mode + joins
    "a5_suggest_segments",      # gaps-and-islands
    "e1_frame_transform",       # scalar expression path
    "f3_savgol",                # applyInPandas DSP kernel (Arrow round-trip)
    "tpch_q1_pricing_summary",  # wide-scan decimal agg
    "tpch_q3_shipping_priority",  # broadcast join + top-k
    "tpch_q5_local_supplier_volume",  # star-schema broadcast chain
    "dedup_minhash_lsh_pairs",  # shingle→minhash→band bucket join
    "dedup_simhash",            # explode + 60-way combine agg
    "sim_cosine_scores",        # higher-order-function vector math
    "text_quality_score",       # codegen string features
    "stream_tumbling_hour_agg",  # Structured Streaming availableNow
    # r4: the true heavy hitters, previously off-headline — a
    # regression here was invisible to BENCH_r*. Per-query timings
    # remain comparable to r3 for the 20 names above.
    "dedup_ngram_jaccard",       # capped inverted-index pairing (most expensive query)
    "dedup_ngram_jaccard_prefix",  # exact PPJoin prefix+length+positional join
    "dedup_simhash_pairs",       # combinatorial-key bucket pairing
    "dedup_embedding_topk_pairs",  # LSH-blocked + exact decimal re-rank
    "tpch_q21_waiting_supplier",  # widest semi/anti join tree
    "mix_sequence_pack_offsets",  # distributed prefix-sum packing
    # r5: the round's marquee additions, on-headline from day one so
    # regressions are visible immediately (r4 lesson).
    "sim_ivf_batch_topk",        # one-pass batch ANN (assign + probe + keyed rank)
    "sim_ivf_topk_refined",      # Lloyd-refined IVF probe (decimal-exact round)
    "stream_stream_click_purchase_join",  # watermarked stream-stream interval join
    "text_tfidf_top_terms",      # token explode + tf/df + keyed top-k window
    # r5 second batch, on-headline from day one:
    "dedup_duplicate_spans",     # substring-level dedup (positional gram digests)
    "dedup_span_removal",        # span rewrite (ownership + affected-doc rebuild)
    "text_bigram_lm_score",      # corpus-trained bigram LM (digest-keyed joins)
    "pipeline_c4_survivors",     # C4-style codegen rule filter
    "mix_shuffle_shards",        # hash-permutation global training shuffle
    # r5 third batch, on-headline from day one:
    "text_repetition_stats",     # per-doc mode via sorted run-length aggregate
    "pipeline_gopher_repetition_survivors",  # integer-exact repetition rules
    "mix_temperature_sample",    # alpha=0.5 domain rebalancing
    "emb_covariance",            # d^2-bounded pair-explode aggregation
    "emb_jl_project",            # JL +-1 projection (literal sign matrix, scan-side)
    "pipeline_pretraining_corpus",  # filter -> dedup -> rebalance -> stats, one plan
    # r6, on-headline from day one:
    "dedup_semantic",            # SemDeDup: IVF-cell-blocked exact-cosine dedup
    "text_bm25_topk",            # BM25 retrieval (scan-side term filter)
    "mix_epoch_upsample",        # integer multi-epoch domain replication
    "sessionize_events",         # one-exchange gaps-and-islands sessionization
    "text_quality_percentile_by_lang",  # per-group percent_rank + deciles
    "cube_revenue_by_flag_status",  # CUBE via one Expand+agg pass
    "decontam_overlap_frac",     # graded contamination fraction (digest joins)
    "text_ngram_topk_global",    # corpus top-k n-grams (vocab-bounded shuffle)
    "sketch_kmv_distinct_tokens",  # KMV bottom-k distinct sketch
    "cohort_retention",          # weekly retention triangle
    "overlap_join_user_sessions",  # bucket-blocked interval-overlap join
    "pipeline_cluster_topics",   # IVF cells + cluster-TF-IDF topic labels
    "graph_pagerank_user_concurrency",  # weighted PageRank, 3 decimal iterations
    "mix_dsir_importance",       # DSIR hashed-bigram importance (bounded ratio broadcast)
    "autocorr_peak_lag_by_user",  # one-window-pass multi-lag autocovariance
    "retrieval_rrf_hybrid",      # BM25 + dense cosine reciprocal-rank fusion
    "dedup_fuzzy_prefix_pairs",  # blocked Levenshtein prefix pairs
    "text_token_gini",           # portable lexical-diversity score
    "histogram_equidepth_value",  # per-key equal-frequency histogram
    "events_json_props_stats",   # schema-declared JSON payload parse + agg
    "text_chunks_udtf",          # Python UDTF lateral chunker (Arrow)
    "dedup_sorted_neighborhood_pairs",  # linear N*w compare volume, no self-join
    # r6 fourth wave (time-series at scale), on-headline from day one:
    "ts_m4_downsample",          # M4 viz downsampling: one map-side-combinable agg
    "ts_gap_report",             # dropout intervals: lag + windowed exact median
    "ts_mad_outliers",           # robust median/MAD outlier summary
    "ts_cusum_changepoint",      # integer-exact argmax |CUSUM| level-shift locator
    "ts_ewma_halflife",          # 16-lag half-life EWMA, one window pass
    "sketch_kmv_jaccard_sources",  # all-pairs domain vocab overlap from registers
    "text_vocab_growth",         # Heaps curve: digest-collapsed first occurrences
    "pipeline_ccnet_buckets",    # per-lang LM-score terciles (CCNet split)
    # r7, on-headline from day one:
    "sketch_quantile_value_by_user",  # mergeable bottom-k quantile sketch + exact audit
    "sketch_cm_token_freq_by_source",  # Count-Min frequencies (d*w bounded registers)
    "stream_kmv_distinct_users",  # KMV registers in GroupState, batch-equal estimate
    "text_heavy_hitters_by_source",  # CM-gated exact heavy hitters, candidate-bounded shuffle
    "decontam_bloom_prefilter",  # bloom-gated decontamination (flat-growth train side)
    "layout_zorder_keys",        # Morton clustering key derivation (scan + bit codegen)
    "a1_sample_rate_sketch",     # A1 sample-rate inference on sketch registers
    "profile_events_columns",    # one-pass ANALYZE-style column profile on sketches
    "stream_quantile_value_by_type",  # bottom-k quantile registers in GroupState
    "sketch_kmv_incremental_merge",   # history+batch register merge == one-shot
    "dedup_linkage_scores",      # FS-weight record linkage over SNM candidates
    "pipeline_corpus_health",    # one-query (metric, value) corpus dashboard on sketches
    "sketch_selfjoin_size_by_type",  # AMS/CM F2 self-join-size estimate + exact audit
    "sketch_join_size_clicks_purchases",  # CM inner-product join-size forecast
    "sample_pps_by_chars",       # integer-exact systematic PPS weighted sample
    "interval_coverage_daily",   # day-keyed sweep-line union coverage + peak concurrency
    "scd2_user_state_history",   # SCD2 validity-interval history build
    "twap_value_by_user_hour",   # integer-exact time-weighted average
    "text_cooc_lift_pairs",      # df-gated co-occurrence lift (PMI core)
    # r7 fourth wave, on-headline from day one:
    "graph_triangle_count_cooc",  # degree-oriented triangle counting
    "markov_event_transitions",  # vocab²-bounded transition matrix
    "funnel_staged_conversions",  # staged min-time conversion funnel
    "ts_sax_symbols",            # PAA + SAX symbolization, one exchange
    "sim_matryoshka_topk",       # prefix-dim prune + exact full-dim rerank
    "text_token_entropy_by_source",  # per-slice Shannon entropy (6-dp grid)
    "ts_seasonal_decompose",     # classical decomposition, ratio-of-sums trend
    "emb_label_knn_agreement",   # 1-NN label-noise audit on blocked candidates
    "text_zipf_slope_by_source",  # log-log OLS Zipf exponent per slice
    "stream_funnel_users",       # constant-state streaming funnel machine
    "seq_topk_event_trigrams",   # session path mining, |types|^3-bounded agg
    "layout_encoding_advisor",   # RLE/dict encodability audit, one window pass
    "stats_spearman_value_vs_hour",  # exact tie-averaged Spearman (doubled ranks)
    "stats_chi2_type_vs_hour",   # chi-square drift stat, cells-bounded
    "stats_w1_value_drift_by_type",  # decile-matched Wasserstein numeric drift
    "stats_markov_entropy_rate", # chain predictability, |types|^2-bounded
    "graph_label_propagation_emb",  # majority-vote label denoise, 2 rounds
    "pipeline_drift_report",     # chi2 + W1 + entropy-rate dashboard, one plan
    "emb_hard_negatives",        # top-k different-label negatives, blocked
    "ts_seasonal_naive_mase",    # calendar-aligned forecastability audit
    "sketch_kmv_sliding_distinct_users",  # sliding distinct from registers, no rescan
    "coengagement_type_pairs",   # exact audience-overlap matrix, |types|^2 out
    "asof_join_tolerance",       # merge_asof tolerance= parity, same one-exchange plan
    "feature_loo_target_encoding",  # leakage-safe categorical encoding, window-free
    "feature_quantile_transform",  # tie-averaged rank/(n+1) normalization
    "text_ngram_novelty",        # distinct-trigram rarity per doc, digest-keyed
    "emb_isotropy_report",       # per-label collapse audit, d-bounded sums
    "ts_conformal_interval",     # distribution-free forecast uncertainty
    "stats_trimmed_mean_by_type",  # rank-boundary exact-integer robust mean
    "stats_iqr_fences_by_type",  # Tukey fences + exact outlier counts
    "ts_seasonal_strength",      # FPP3 decomposition-strength scores per trial
    "dq_expectations_report",    # one-pass declarative DQ gate + FK anti-join
    "sketch_kmv_intersection_sources",  # join-size card from registers alone
    "sketch_quantile_value_global",  # corpus-wide percentile, window-free rollup
    "layout_compaction_plan",    # file-sizing plan, one scan of one column
    "dq_content_fingerprint",    # order-insensitive reconciliation checksum
    "dq_benford_first_digit",    # first-digit forensics, 9-row aggregate
    "stats_moments_by_type",     # exact skewness/kurtosis, decimal power sums
    "ts_theilsen_lag_slope",     # robust trend slope, one-exchange windows
    "stream_dq_violations",      # continuous ingest-quality monitor
    "ts_changepoint_binary_seg",  # unrolled 2-level CUSUM segmentation
    "pipeline_ingest_gate",      # composed DQ+layout+Benford gate, one plan
    "emb_retrieval_mrr",         # labeled retrieval depth eval, blocked
    "sketch_kmv_rollup_day",     # hour registers -> day estimates, no rescan
    "graph_degree_stats",        # hub-risk audit, exact log2 buckets
    "stats_mutual_info_type_hour",  # split-leakage dependence audit
    "dedup_lsh_eval_report",     # LSH precision/recall vs exact truth
    "text_lang_confusion",       # language-ID heuristic confusion matrix
    "dedup_simhash_eval_report",  # SimHash vs the same exact truth
    "mix_pack_efficiency_report",  # packing layout audit, one agg row
    "text_score_calibration",    # cheap-scorer vs C4-gate reliability
    "stats_ks_halves_by_type",   # exact-integer KS temporal drift test
    "stats_anova_value_by_type",  # one-way ANOVA across types, 1 row
    "dedup_lsh_band_sweep",      # banding operating points, one sig pass
    "dedup_containment_pairs",   # excerpt class Jaccard misses
    "mix_grouped_kfold",         # leakage-safe source-level folds
    "feature_pointintime_state",  # SCD2 as-of state join, no future leak
    "feature_rolling_past_window",  # strictly-past RANGE-frame features
    "dedup_impact_by_source",    # raw vs exact vs near-dedup accounting
    "emb_ood_zscore_by_label",   # mislabel/outlier audit vs label centroid
    "emb_lsh_bits_sweep",        # hyperplane blocking operating points
    "sample_neyman_allocation",  # variance-minimizing stratified budget
    "ts_anomaly_seasonal_residual",  # MAD on de-seasonalized residuals
    "mix_budget_after_dedup",    # budget spent on survivors only
    "stats_cuped_halves",        # covariate variance reduction, 1 row
    "dq_freshness_by_type",      # stalled-upstream audit
    "text_jsd_source_divergence",  # lexical distance from the mix
    "graph_adamic_adar_links",   # capped two-hop link prediction
    "layout_partition_advisor",  # partitionBy key audit, 3 rows
    "stats_ab_power",            # CUPED sample-size calculator
    "ts_sax_motifs",             # recurring shapes from SAX strings
    "emb_separability_by_label",  # closed-form intra/inter cosine, no pairs
    "dq_quarantine_rows",        # violation rows with reasons
    "export_manifest_shards",    # shard-local integrity contract
    "events_rfm_segments",       # boundary-broadcast quintile scoring
    "dedup_semantic_tau_sweep",  # threshold curve from one blocking pass
    "emb_lsh_recall_by_bits",    # what each operating point forfeits
    "dedup_cluster_size_histogram",  # duplication shape, log2 buckets
    "pipeline_dedup_budget_pack",  # the whole layout pipeline, one plan
    "sim_ivf_nprobe_recall",     # third sweep: the nprobe recall curve
    "stream_content_fingerprint",  # stream state == batch fingerprint
    "ts_lttb_downsample",        # shape-preserving M4 complement
    "funnel_step_latency",       # per-hop latency percentiles
    "ts_xcorr_lag",              # channel-alignment lag scan
    "ts_spectral_probe",         # daily/weekly band energy
    "ts_interp_asof",            # interpolated as-of (union trick)
    "data_prune_prototypicality",  # SSL-prototypes keep/prune bit
    "eval_auc_binned",           # one-number scorer-vs-gate ranking eval
    "stats_psi_halves_by_type",  # the PSI drift alarm
    "linkage_golden_record",     # transitive closure -> master data
    "ts_dtw_channel_pairs",      # banded DTW as a Catalyst HOF program
    "emb_retrieval_ndcg",        # graded-position retrieval eval
    "text_bpe_merge_rounds",     # distributed BPE/phrase-merge trainer
    "stream_psi_drift_daily",    # continuous drift monitor (stream==batch)
    "eval_isotonic_calibration",  # PAVA via closed minimax form
    "privacy_k_anonymity_audit",  # release-gate re-identification audit
    "emb_matryoshka_recall_by_dim",  # the MRL prefix forfeit curve
    "ts_holt_forecast",          # trend-corrected double smoothing
    "sketch_quantile_error_report",  # measured register accuracy
    "stats_chi2_residuals",      # which cells drive the dependence
    "stats_interarrival_expfit",  # is the arrival process Poisson
    "ts_burst_segments",         # hysteresis burst detector (ffill trick)
    "text_chunk_centrality",     # TextRank chunk pick for budget truncation
    "text_lexical_complexity_by_source",  # readability-class signals
    "dedup_cross_source_matrix",  # who copies whom (shared openers)
    # r8, on-headline from day one:
    "text_bpe_encode_counts",    # tokenizer application (train + encode, one codegen pass)
    "pipeline_pack_real_tokens",  # packing budgeted on REAL BPE counts
    "dedup_report_suite",        # 4 dedup reports off ONE CC labeling (3.2x amortization)
    "feature_quantile_transform_sketched",  # flat-growth decile transform (register-backed)
    "stats_mannwhitney_halves_by_type",  # tie-corrected rank-sum drift test
    "mix_pack_len_sweep",        # 3 context-length operating points, one scan
    "text_bpe_fertility_by_lang",  # tokenizer fertility/equity table
    "graph_kcore_bound",         # dense-core (bot-ring) audit, 3x3 peel grid
    "privacy_l_diversity_audit",  # attribute-disclosure release gate
    "retrieval_chunk_topk",      # RAG-shaped chunk BM25, best-chunk-per-doc
    "stats_bootstrap_mean_ci_by_type",  # Poisson bootstrap: B=32 resamples, one scan
    "text_bpe_suite",            # tokenizer reports off ONE training run (3.7x amortization)
    "eval_pr_curve_binned",      # imbalance-honest PR operating points (same bins as AUC)
    "graph_degree_assortativity",  # hub-wiring spam smell, one number
    "mix_curriculum_shards",     # training-order manifest (quality bands x hash shards)
    # r9, on-headline from day one:
    "text_bpe_encode_ranked",    # one-pass ranked-table tokenizer (flat in |merges|)
    "graph_kcore_exact",         # loop-until-fixpoint peel (convergence contract)
    "pipeline_budget_pack_real_tokens",  # budget AND pack on one real-count column
    "stream_state_partition_report",  # invariant-18 capacity planning as a query
    "sim_recall_suite",          # every blocking forfeit curve off ONE exact truth
    "graph_clustering_by_degree",  # Watts-Strogatz cc curve by degree bucket
    "privacy_t_closeness_audit",  # distribution-disclosure release gate (trilogy leg 3)
    "eval_ece_binned",           # one-number calibration error (same 100 bins)
    "mix_split_leakage_audit",   # near-dup pairs straddling train/val/test
    "retrieval_mmr_topk",        # MMR diversification as a Catalyst fold
    "events_ohlc_hourly",        # deterministic first/last-by-time candle bars
    "eval_brier_decomposition",  # Murphy REL-RES+UNC split of the binned Brier
    "feature_woe_encoding",      # smoothed WOE + Information Value per category
    "text_rake_top_keyword",     # training-free RAKE document keywords
    "graph_jaccard_links",       # overlap-share link prediction next to AA
    "mix_dedup_aware_epochs",    # soft dedup: 1/cluster-size training weights
    # r9 waves 13-16
    "stats_bh_fdr_ks_by_type",   # KS p-values + Benjamini-Hochberg q
    "eval_confusion_at_threshold",  # operating-point eval of the scorer
    "mix_doremi_step",           # EG domain-reweighting step
    "ts_hampel_filter",          # rolling median/MAD despike per entity
    "emb_centroid_shift_by_label",  # half-split centroid drift
    "graph_hits_scores",         # 2-round HITS on user<->type bipartite
    "retrieval_prf_expansion",   # Rocchio pseudo-relevance feedback
    "stats_cramers_v_pairs",     # normalized categorical association panel
    "dq_functional_dependency",  # FD contract audit
    "eval_lift_gains_decile",    # targeting lift/gains curve
    "graph_ppr_seed_topk",       # personalized PageRank data selection
    "privacy_dp_count_report",   # DP Laplace budget planner
    "stream_cusum_level_alerts", # order-dependent streaming CUSUM state
    "feature_hashing_collision_report",  # hashing-trick width audit
    "dq_volume_anomaly_daily",   # robust daily ingest-volume anomaly
    "sample_kcenter_coreset",    # farthest-point diversity coreset
    "orders_basket_lift_pairs",  # market-basket association rules
    "markov_stationary_dist",    # chain fixpoint vs empirical share
    "graph_lp_modularity",       # LP communities + Newman Q
    "ts_holt_backtest_mase",     # forecaster vs naive backtest
    "dq_srm_check",              # assignment sample-ratio mismatch
    "mix_interleave_schedule",   # smooth-WRR loader schedule
    "dedup_family_agreement",    # MinHash vs SimHash pair overlap
    "privacy_qi_risk_sweep",     # QI dimensionality risk growth
    "stats_tost_equivalence_by_type",  # TOST sameness affirmation
    "eval_f1_threshold_sweep",   # best-F1 operating point chooser
    "sketch_kmv_error_vs_k",     # register budget accuracy curve
    "text_vocab_coverage_by_freq_band",  # Zipf head coverage table
    # r10, on-headline from day one:
    "graph_concurrency_capped_edges",  # hot-bucket capped pair build + forfeit accounting
    "dq_regex_rule_audit",       # PII/policy regex rule-table scan gate
    "mix_length_bucket_padding_waste",  # bucketed-batching pad cost vs packing
    "dq_schema_drift_report",    # column-level null/distinct drift
    "layout_zonemap_prune_stats",  # what a sort key buys a time predicate
    # r11, on-headline from day one:
    "text_bpe_sample_train_encode",  # sample-to-driver train + full-corpus ranked encode
    "graph_concurrency_autocap_edges",  # data-derived p99 cap, oracle-replayed
    "eval_cohens_kappa_langid",   # chance-corrected rater agreement (label QA)
    "text_kn_bigram_ppl",         # interpolated Kneser-Ney source perplexity
    "mix_waterfill_token_budget",  # max-min fair budget allocation
    "ts_ljungbox_whiteness",      # portmanteau autocorrelation test
    "stats_brown_forsythe_by_type",  # robust variance-homogeneity gate for ANOVA
    "layout_bloom_advisor",       # parquet bloom sizing for point predicates
    "stream_watermark_lateness_audit",  # data-derived watermark delay
    "dedup_prefix_density_probe",  # one-scan PPJoin-vs-LSH forecast
    "privacy_pii_redact_rewrite",  # regex scrub rewrite, digest-value-checked
    "eval_bootstrap_auc_ci",      # Poisson-bootstrap CI on the binned AUC
    "orders_cohort_ltv_curve",    # cumulative revenue per cohort customer
    "events_markov_attribution",  # removal-effect channel attribution
    "text_lang_mixing_entropy",   # code-switching / mixed-language QA
    # r12 additions
    "dedup_auto_method_choice",   # probe-dispatched exact-vs-LSH dedup
    "dedup_auto_lsh_branch",      # the dispatcher's LSH arm, value-pinned
    "ts_mann_kendall_daily_trend",  # tie-corrected nonparametric trend test
    "eval_regression_user_baseline",  # MAE/RMSE/R2 of the LOO user-mean baseline
    "mix_temperature_sweep_entropy",  # effective-source count across temperatures
    "dedup_minhash_estimator_error",  # signature-agreement bias/MAE vs exact Jaccard
    "sample_reservoir_weighted",  # A-ES token-weighted per-source sample
    "orders_kaplan_meier_repeat",  # censoring-correct repeat-purchase survival
    "text_self_bleu_proxy",       # per-source corpus diversity (clipped n-gram)
    "emb_simplified_silhouette",  # O(n*k) centroid silhouette per label
    "graph_edge_embeddedness",    # triangle support per edge; local bridges
    "dedup_removed_vs_kept_profile",  # what exact dedup removes, per source
    "sample_group_kfold_assignment",  # leakage-safe group k-fold + balance check
    "privacy_dp_quantile_utility",  # exponential-mechanism median release planner
    "stats_chapman_source_overlap",  # capture-recapture crawl-coverage estimate
    "ts_variance_ratio_test",     # Lo-MacKinlay horizon-q random-walk test
    "text_code_like_score",       # code-vs-prose curation heuristic per source
    "dq_candidate_key_audit",     # uniqueness contract per candidate key
    "funnel_attribution_window_sweep",  # conversion vs window from one as-of join
    "stats_power_analysis_mde",   # minimum detectable effect per event type
    "profile_documents_columns",  # ANALYZE-style corpus column profile
    "dq_timestamp_monotonicity_audit",  # within-key disorder vs the order contract
    "dedup_shingle_size_probe",   # density forecast swept over n-gram orders
    "seq_markov_order_test",      # G2 first-vs-second-order memory gate
]


#: FROZEN round-over-round comparison subset (VERDICT r7 #3). The
#: headline set grew 26 -> 71 -> 195 across rounds, so verdicts could
#: only compare shifting intersections. These ~34 names are versioned:
#: NEVER remove or rename a member of an existing version — only add a
#: new version. Subtotal printed as `compare_set_total_sec` (+ version).
#: v1 = parity core + the measured heavy hitters + one head per family.
COMPARE_SET_V1 = [
    # parity core
    "f1_moving_average", "f2_rolling_median", "f9_normalize_zscore",
    "f6_detrend", "f13_interpolate_linear", "p4_delete_segment_collapse",
    "a4_episode_overlay", "a5_suggest_segments", "f3_savgol",
    "tpch_q1_pricing_summary", "tpch_q21_waiting_supplier",
    # measured heavy hitters (r7 slowest queries)
    "dedup_ngram_jaccard", "dedup_ngram_jaccard_prefix",
    "dedup_minhash_lsh_pairs", "dedup_semantic", "dedup_duplicate_spans",
    "dedup_embedding_topk_pairs", "pipeline_dedup_budget_pack",
    "mix_budget_after_dedup", "dedup_impact_by_source",
    "dedup_cluster_size_histogram", "dedup_simhash_eval_report",
    "linkage_golden_record",
    # one head per family
    "sim_ivf_batch_topk", "text_tfidf_top_terms", "text_bm25_topk",
    "mix_sequence_pack_offsets", "stream_stream_click_purchase_join",
    "stream_tumbling_hour_agg", "ts_m4_downsample",
    "graph_pagerank_user_concurrency", "emb_covariance",
    "sketch_kmv_distinct_tokens", "sessionize_events",
]


#: v2 (r10, VERDICT r9 #4 — ADDITIVE: v1 stays frozen above): the
#: r8/r9 family heads that now dominate the headline total but were
#: invisible to the versioned round-over-round comparison. Same rule:
#: never remove or rename a member — only add a new version.
COMPARE_SET_V2 = [
    "sim_recall_suite", "text_bpe_suite", "dedup_report_suite",
    "pipeline_budget_pack_real_tokens", "graph_lp_modularity",
    "graph_ppr_seed_topk", "stream_cusum_level_alerts",
    "mix_dedup_aware_epochs", "graph_kcore_exact",
    "text_bpe_encode_ranked",
]


#: DRIFT PROBES (r11, VERDICT r10 #2). Two rounds running, the
#: official bench box was load-contaminated (r10: median 1.14x over
#: r9 on shared queries, tail 6.95x) and every apparent regression
#: adjudicated by isolated re-measurement turned out to be machine
#: state. The fix: the bench run carries its own noise index. Three
#: cheap, shuffle-light, code-stable queries are re-run at fixed
#: intervals THROUGH the run; each sample is divided by its FROZEN
#: idle-box baseline (median of 7 steady runs at sf0.1, measured
#: r11 on an idle box). `probe_index` = median of all samples'
#: ratios. Normalization rule (BENCH_NOTES r11): a round-over-round
#: query ratio is only a regression signal if it exceeds the run's
#: probe_index — divide by probe_index to compare like-for-like.
#: NEVER re-measure these baselines on a loaded box; they are part
#: of the cross-round contract, like the compare sets. Baselines are
#: SF0.1-SPECIFIC (the driver's bench scale): at any other
#: $SPARK_GRAFT_SF_DIR the index still reports but only tracks
#: relative load between runs at that same SF.
#:
#: CONTEXT MATTERS (r11 calibration lesson): probe cost is highly
#: JVM-context-dependent — ~0.15 s in an isolated fresh loop, ~0.27 s
#: interleaved inside a full bench run (GC pressure + cache state
#: from the heavy queries). Probes only ever run MID-BENCH, so the
#: baseline is defined as the MID-BENCH median from the r11
#: session-final bench on an idle box. Compare probe_index across
#: bench runs only; never against isolated one-off timings.
PROBE_BASELINE_SEC = {
    "e1_frame_transform": 0.269,
    "f12_absolute": 0.322,
    "p5_mark_bad": 0.261,
}

#: FROZEN compare_set v2 reference (r11, VERDICT r10 #4), defined in
#: the SAME CONTEXT the probes use: the r11 session-final full-bench
#: run on an idle box (probe_index ≡ 1.0 by the recalibration). The
#: earlier r10 numbers reconcile through the measured uniform box
#: shift (r10-builder-final ≈ this ÷ 1.055; the r10 driver's 81.52 s
#: was load-inflated on top of that). r11+ verdicts compare
#: `compare_set_v2_total_sec / probe_index` against THIS.
COMPARE_SET_V2_BASELINE_SEC = 71.22


def _family(name: str) -> str:
    """Bench-legibility grouping (VERDICT r8 #7): reference-parity
    operator codes (f1/p4/a5/e1/j2/w2 + recipe/asof) fold into one
    'parity' family; every extension family keys on its name prefix,
    so honest per-query duplication (e.g. the 4 standalone BPE
    queries re-training the same table) reads as a family subtotal
    instead of anonymous headline growth."""
    tok = name.split("_", 1)[0]
    import re as _re

    if _re.fullmatch(r"[fpaejw]\d{1,2}", tok) or tok in ("recipe", "asof"):
        return "parity"
    return tok


def _sf_from_dir(d: str) -> float:
    base = os.path.basename(d.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return -1.0


def run_query(spark, name: str, sf_dir: str) -> float:
    fn, _sql = REGISTRY[name]
    t0 = time.time()
    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    return time.time() - t0


def main() -> None:
    # a renamed or unloaded headline/probe query must stop the bench,
    # not silently shrink the total it reports
    missing = [n for n in [*HEADLINE, *PROBE_BASELINE_SEC] if n not in REGISTRY]
    if missing:
        raise SystemExit(f"bench: not in the registry: {missing}")
    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")
    timings: dict[str, float] = {}
    run_samples: dict[str, list[float]] = {}
    errors: dict[str, str] = {}
    probe_samples: dict[str, list[float]] = {p: [] for p in PROBE_BASELINE_SEC}
    #: r13 (VERDICT r12 #3): the pooled run-median probe_index cannot
    #: see a LOCAL contended stretch (it missed r12's, which inflated
    #: ~10 heavy queries 3-9×, and this session's run-1, same pattern).
    #: Record every probe round WITH its position — after_query = how
    #: many headline queries had completed when the round ran — so any
    #: query's stretch-local load is bracketed by the two nearest
    #: rounds and self-adjudicates without isolated re-measurement.
    #: The quotable probe_index is UNCHANGED (same pooled median rule).
    probe_rounds: list[dict] = []

    def run_probes(after_query: int) -> None:
        # single steady runs, raw (no min-of-2): the probes measure the
        # box, so smoothing would hide exactly the load they exist to
        # expose. One warmup happened with the first probe round.
        rnd: dict = {"after_query": after_query}
        for p in PROBE_BASELINE_SEC:
            try:
                t = run_query(spark, p, SF_DIR)
                probe_samples[p].append(t)
                rnd[p] = round(t, 3)
                rnd.setdefault("ratios", []).append(
                    round(t / PROBE_BASELINE_SEC[p], 2)
                )
            except Exception:  # noqa: BLE001 — probes never fail the bench
                pass
        probe_rounds.append(rnd)

    # probe interleave: before the run (after one warmup round so JVM
    # warmup isn't misread as load), then after every EIGHTH of the
    # headline set -> 9 sample rounds spanning the whole wall-clock
    # (r13: was every quarter; a contended stretch shorter than ~75
    # queries was invisible between rounds — ~37 now).
    for p in PROBE_BASELINE_SEC:
        try:
            run_query(spark, p, SF_DIR)  # probe warmup, untimed
        except Exception:  # noqa: BLE001
            pass
    run_probes(0)
    probe_every = max(1, (len(HEADLINE) + 7) // 8)
    for qi, name in enumerate(HEADLINE, start=1):
        # steady-state measurement: first run pays one-time analysis/
        # codegen-compile costs (irrelevant at 100 TB where execution
        # dominates planning); record the best of two steady-state runs
        # (min filters transient machine-load noise, observed at ±40%
        # on a busy box while per-query capability is stable).
        # METHODOLOGY NOTE: BENCH_r01/BASELINE recorded a SINGLE steady
        # run ("n": 1); r02 onward records min-of-two ("n": 2) — compare
        # rounds r02+ to each other, and to r01 only with that bias
        # (min-of-two reads slightly faster on a noisy machine) in mind.
        # Per-query isolation (r5 lesson): one broken query must cost
        # one line in the report, never the whole round's bench.
        try:
            # ALL THREE samples are recorded in BENCH_DETAIL (VERDICT
            # r11 #3): run 1 is the warm-up (analysis + codegen compile
            # + first data touch), runs 2-3 are the steady pair whose
            # MIN is the quotable `queries` number (unchanged rule).
            # A query whose run-1 dwarfs run-2/3 is self-identifying
            # as warm-up-dominated — the r11 `events_rfm_segments`
            # mover class — without isolated re-measurement.
            r1 = run_query(spark, name, SF_DIR)
            r2 = run_query(spark, name, SF_DIR)
            r3 = run_query(spark, name, SF_DIR)
            timings[name] = round(min(r2, r3), 3)
            run_samples[name] = [round(r1, 3), round(r2, 3), round(r3, 3)]
        except Exception as exc:  # noqa: BLE001 — report and continue
            errors[name] = f"{type(exc).__name__}: {exc}"[:300]
        if qi % probe_every == 0:
            run_probes(qi)
    if len(HEADLINE) % probe_every != 0:
        run_probes(len(HEADLINE))  # end-of-run round (the modulo can skip it)
    ratios = sorted(
        t / PROBE_BASELINE_SEC[p]
        for p, ts in probe_samples.items()
        for t in ts
    )
    probe_index = (
        round(
            (ratios[len(ratios) // 2] + ratios[(len(ratios) - 1) // 2]) / 2, 3
        )
        if ratios
        else None
    )
    probe_medians = {
        p: round(sorted(ts)[len(ts) // 2], 3)
        for p, ts in probe_samples.items()
        if ts
    }
    total = round(sum(timings.values()), 3)
    compare_total = round(
        sum(timings[n] for n in COMPARE_SET_V1 if n in timings), 3
    )
    compare_n = sum(1 for n in COMPARE_SET_V1 if n in timings)
    compare_v2_total = round(
        sum(timings[n] for n in COMPARE_SET_V2 if n in timings), 3
    )
    compare_v2_n = sum(1 for n in COMPARE_SET_V2 if n in timings)
    fam_tot: dict[str, float] = {}
    fam_n: dict[str, int] = {}
    for n, s in timings.items():
        fam_tot[_family(n)] = fam_tot.get(_family(n), 0.0) + s
        fam_n[_family(n)] = fam_n.get(_family(n), 0) + 1
    family_subtotals = {
        k: round(v, 2)
        for k, v in sorted(fam_tot.items(), key=lambda kv: -kv[1])
    }
    # membership count next to each subtotal (VERDICT r9 #7): growth in
    # a family's subtotal is attributable to membership vs per-query
    # cost in one read.
    family_counts = {k: fam_n[k] for k in family_subtotals}
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    detail = {
        "metric": "headline_queries_total_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": _sf_from_dir(SF_DIR),
        # r14 (VERDICT r13 #4/#7): record the core count in the detail
        # payload so a scaling run at a different $SPARK_GRAFT_CPUS is
        # self-identifying and cannot be misread as the main run.
        "cpus": cpus,
        # min-of-two steady runs since r02 (r01/BASELINE: single run)
        "timing_rule": "min_of_2_steady",
        "headline_set": f"headline-{len(HEADLINE)}q",
        "compare_set": "v1",
        "compare_set_total_sec": compare_total,
        "compare_set_n": compare_n,
        "compare_set_v2_total_sec": compare_v2_total,
        "compare_set_v2_n": compare_v2_n,
        "compare_set_v2_baseline_sec": COMPARE_SET_V2_BASELINE_SEC,
        "probe_index": probe_index,
        "probe_n": len(ratios),
        "probe_medians_sec": probe_medians,
        "probe_baseline_sec": PROBE_BASELINE_SEC,
        "probe_baseline_sf": 0.1,
        # per-round probe readings with run position (r13, VERDICT r12
        # #3): bracket any query between its two nearest rounds to read
        # the stretch-local load the pooled median cannot see.
        "probe_rounds": probe_rounds,
        "family_subtotals": family_subtotals,
        "family_counts": family_counts,
        # [warmup, steady_a, steady_b] per query; `queries` holds
        # min(steady_a, steady_b) — the ONLY quotable number. The
        # warmup sample exists to CLASSIFY movers (warmup >> steady =
        # cache/JIT, not capability), never to compare across rounds.
        "run_samples_sec": run_samples,
        "run_samples_rule": "[warmup, steady_a, steady_b]; quote min(steady)",
    }
    if errors:
        detail["errors"] = errors
    # Full per-query detail: printed FIRST (earlier stdout line) and
    # written to BENCH_DETAIL.json next to this script. The driver's
    # stdout tail-capture window is ~2-3 KB; r5/r6 lost their parsed
    # bench because the 60+-query timing dict pushed the final line's
    # HEAD outside that window. The FINAL line below is guaranteed
    # compact (<1 KB): totals, counts, the slowest-10 queries, and the
    # error map — everything the round-over-round comparison needs.
    print(json.dumps(detail))
    try:
        here = os.path.dirname(os.path.abspath(__file__))
        with open(os.path.join(here, "BENCH_DETAIL.json"), "w") as fh:
            json.dump(detail, fh, indent=1)
        # r14 (VERDICT r13 #4/#7): ALSO write a per-core-count file so
        # the driver's low-core scaling run no longer overwrites the
        # main run's per-query record (r13 lost its 32-core detail
        # this way). Additive — BENCH_DETAIL.json stays for existing
        # tooling; the filename embeds $SPARK_GRAFT_CPUS.
        with open(
            os.path.join(here, f"BENCH_DETAIL_c{cpus}.json"), "w"
        ) as fh:
            json.dump(detail, fh, indent=1)
    except OSError:
        pass  # read-only checkout: the stdout line above still has it
    slowest = dict(sorted(timings.items(), key=lambda kv: -kv[1])[:10])
    payload = {
        "metric": "headline_queries_total_sec",
        "value": total,
        "unit": "sec",
        "queries": slowest,  # slowest-10; full dict in BENCH_DETAIL.json
        "n_queries": len(timings),
        "n_errors": len(errors),
        "sf": detail["sf"],
        "timing_rule": "min_of_2_steady",
        "headline_set": detail["headline_set"],
        "compare_set": "v1",
        "compare_set_total_sec": compare_total,
        "compare_set_n": compare_n,
        "compare_set_v2_total_sec": compare_v2_total,
        "compare_set_v2_n": compare_v2_n,
        "compare_set_v2_baseline_sec": COMPARE_SET_V2_BASELINE_SEC,
        "probe_index": probe_index,
        "probe_n": len(ratios),
        "cpus": cpus,
        "family_subtotals": family_subtotals,
        "family_counts": family_counts,
        "detail": f"BENCH_DETAIL_c{cpus}.json",
    }
    if errors:
        payload["errors"] = {k: v[:80] for k, v in errors.items()}
    line = json.dumps(payload)
    if len(line) > 2000:  # never overflow the tail capture again
        payload.pop("errors", None)
        payload.pop("family_counts", None)
        payload["queries"] = dict(list(slowest.items())[:5])
        payload["family_subtotals"] = dict(
            list(family_subtotals.items())[:10]
        )
        line = json.dumps(payload)
    print(line)


if __name__ == "__main__":
    main()
