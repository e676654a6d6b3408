"""Shuffle-budget regression gate: each flagship query's executed plan
must not grow new hash-partitioned exchanges.

Why exchanges and not wall time: locally, timings are noise; exchange
count is the structural quantity that predicts 100 TB behavior (every
exchange is a full shuffle of its input). The budgets are the CURRENT
measured counts — an edit that adds a shuffle to a flagship fails here
and has to either justify a budget bump in the diff or restructure
(window-lift / literal-dictionary / single-labeled-pass, see
scripts/plan_audit.py). Going UNDER budget is silently fine.

Budget ≠ total plan complexity: multi-table TPC-H shapes legitimately
scan many tables; only hash exchanges are counted. Iterative queries
also get a Spark-job budget (``JOB_BUDGETS``), because the jobs they
run while building are what the driver waits on.
"""

from __future__ import annotations

import pytest

from mql5_economic_news_data_pipeline_2025_gcp__spark.plans import REGISTRY

SF = "/root/testdata/sf0.001"

#: query → max allowed "Exchange hashpartitioning" occurrences in the
#: executed plan (current measured count at the time the row was added).
BUDGETS = {
    "evt_metrics_r2_mse": 1,
    "rel_pricing_summary": 1,
    "evt_upsert_dedup": 1,
    "evt_lag_features": 1,
    "evt_ffill_bfill": 1,
    "evt_chrono_split": 1,
    "evt_minmax_normalize": 1,
    "evt_sessionize": 1,
    "evt_series_mad_fast": 2,
    "evt_holt_smoothing": 1,
    "evt_seasonal_profile": 1,
    "evt_autocorrelation": 1,
    "evt_markov_transitions": 3,
    "evt_welch_ttest": 2,
    "evt_benford_audit": 2,
    "doc_exact_dedup": 1,
    "doc_minhash_lsh_candidates": 2,
    "doc_chunk_dedup": 2,
    "doc_length_batching": 1,
    "doc_token_stats": 1,
    "emb_cosine_topk": 1,
    "emb_sq_topk": 3,
    "rel_forecast_revenue": 1,
    "evt_ks_drift": 2,
    "evt_rank_auc": 2,
    "evt_ols_features": 1,
    "doc_repeated_spans": 2,
    "evt_attribution": 2,
    "evt_topk_paths": 2,
    "evt_windowed_funnel": 1,
    "evt_audience_overlap": 4,
    "evt_activity_islands": 3,
    "doc_phrase_search": 2,
    # 1 union-window exchange (both frames stacked) + 1 right-side
    # (user_id, ts) dedup agg that the query itself requires
    "evt_asof_nearest": 2,
    "evt_weighted_sample": 1,
    # 1 data-sized day aggregate + 2 tiny windows over |types|·|days|
    "evt_stl_decompose": 3,
    # 1 data-sized distinct; island window, interval agg, delta agg,
    # spine merge + cumsum all run on ≤|users|·|days| rows (7th
    # exchange is the price of the FULL OUTER spine merge — the
    # broadcastable left join dropped off-spine −1 deltas, a
    # correctness bug the sparse-activity property test caught)
    "evt_rolling_distinct": 7,
    # orders window (custkey), lineitem⋈orders (orderkey), union-window
    # as-of (custkey), final tiny agg
    "rel_scd2_point_in_time": 5,
    "evt_eb_shrunk_rates": 1,
    "doc_zipf_fit": 2,
    "doc_term_burstiness": 2,
    "evt_time_to_convert": 4,
    "evt_stl_anomaly": 6,
    "evt_basket_lift": 4,
    "evt_new_returning": 2,
    "evt_approx_percentiles": 1,
    "evt_pit_training_matrix": 1,
    "evt_did_estimate": 1,
    # r5 additions (measured at registration)
    "evt_proportion_ztest": 2,
    "evt_gini_value": 2,
    "evt_peak_detection": 2,
    "emb_silhouette": 2,
    "rel_weighted_median_price": 2,
    "evt_group_sample": 1,
    "doc_ppl_buckets": 3,
    # 2 corpus-sized (doc-bigram, bigram-type aggs) + w1/w2 windows and
    # the stats join, all over the zipf-bounded bigram-type frame
    "doc_kn_bigram_lm": 7,
    # band self-join + distinct + two signature joins + shingle-size agg
    # + candidate-restricted common join — a pair-audit is join-heavy by
    # nature; every post-candidate stage is |pairs|-sized
    "doc_minhash_estimate_error": 8,
    "doc_cluster_size_histogram": 4,
    "evt_linear_interpolate": 1,
    "evt_outlier_iqr": 2,
    "evt_time_range_rolling": 1,
    "mm_storage_report": 1,
    "evt_partition_skew_report": 2,
    "rel_join_cardinality_audit": 2,
    # r5 stragglers + r6 additions (measured via scripts/plan_audit.py
    # at the round-6 refresh; round-5 verdict task #4)
    "evt_geo_hotspot_grid": 3,
    "evt_geo_radius_join": 2,
    # 2 = first-activity agg + discounted-sum agg, both on user_id (the
    # broadcast-hint removal keeps the join on the SAME key as the
    # downstream groupBy — no third exchange appears)
    "evt_ltv_discounted": 2,
    "doc_substring_search_trgm": 1,
    "emb_davies_bouldin": 7,
    "doc_temperature_mix": 3,
    # map-only Arrow encode + one broadcast LUT join + per-query top-k
    "emb_ivfpq_residual_check": 1,
    # (b,r) sweep: one banding branch per config by construction
    "doc_lsh_tuning_curve": 3,  # r8: single banded frame, one bucket self-join
    # r6 additions (measured at registration)
    "evt_drawdown": 1,
    "evt_bollinger_bands": 1,
    "evt_rsi": 1,
    "evt_event_study_car": 2,
    "doc_dsir_importance": 2,
    "emb_matryoshka_recall": 1,
    "emb_rrf_fusion": 1,
    # assignment window + (cid,idx) update agg + final (cid,n) agg —
    # inertia folds into the update agg (the /64 trick in the query)
    "emb_lloyd_step_check": 3,
    # r6 check-twins: CUSUM is one keyed agg; MMR / Markov-absorption /
    # DTW run on literal inline frames (0 scans, 0 exchanges)
    "evt_cusum_check": 1,
    "emb_mmr_check": 0,
    "evt_markov_absorption_check": 0,
    "evt_dtw_check": 0,
    # per-(nation,month) register agg + 3 rollup branches + final union
    # merge — the portable-sketch merge tree is exchange-per-level
    "evt_hll_portable_rollup": 8,
    # r6b additions (measured via scripts/plan_audit.py at registration)
    "doc_feature_hashing": 1,
    "doc_wordpiece_segment": 2,
    "evt_cuped_adjustment": 2,
    # suffix-ranks / BFS end on a localCheckpoint boundary (iterative
    # lineage truncation) — the audited residual plan is exchange-free
    "doc_suffix_ranks": 0,
    "doc_dupgraph_bfs": 0,
    "evt_isotonic_calibration": 2,
    "evt_zorder_layout": 1,
    "evt_lttb_downsample": 1,
    "evt_holt_winters_check": 2,
    "evt_compaction_plan": 2,
    "doc_cdc_chunks": 2,
    "evt_ab_assignment": 2,
    # checkpointed key frame feeds both grid rows + the estimate join
    "evt_cms_portable_check": 2,
    "emb_mahalanobis_ood": 3,
    "evt_activity_bitmaps": 2,
    "evt_behavior_cohorts": 2,
    "evt_props_variant": 1,
    # single centroid-ranking pass + single candidate scoring pass;
    # sweep points are probe-rank filters over the same scores (was 8
    # exchanges as 4 independent IVF branches; 2.3x faster at sf0.1)
    "emb_ivf_nprobe_curve": 5,
    # iterative rank rounds end on a localCheckpoint boundary
    "doc_textrank_keywords": 0,
    # checkpointed (order, part) frame: freq agg + pair agg + top-k
    "rel_copurchase_topk": 3,
    "evt_rootcause_contributions": 2,
    # 9-cell probe equi-join + one neighbor-count agg
    "emb_dbscan_core_points": 1,
    # hour agg; the 6h rolling window runs on the calendar-bounded
    # hours frame (documented post-aggregation seam)
    "evt_slo_burn_rate": 1,
    "evt_alert_rules": 3,
    # checkpointed first-touch frame: cohort join + (cohort,age) agg +
    # cumulative window + size join
    "evt_cohort_ltv_curve": 4,
    # distinct error-minutes agg; the island/lag windows run on the
    # calendar-bounded minutes frame
    "evt_mtbf_mttr": 1,
    "doc_dataset_card": 3,
    "emb_ivf_incremental_assign": 2,
    "evt_ordering_audit": 1,
    "evt_watermark_curve": 1,
    "doc_filter_waterfall": 1,
    "emb_mmd_drift": 2,
    # pre-agg pass + sweep agg + final per-type agg (the extra exchange
    # buys a 4x smaller scan: the sweep joins the 20-row frame, not raw
    # events)
    "evt_sequential_boundary": 3,
    # single-group replay: one exchange into the Arrow seam
    "evt_bandit_replay": 1,
    # checkpointed pair frame: train counts + model window + test agg
    "evt_next_event_prediction": 3,
    "evt_correlation_matrix": 1,
    "emb_health_check": 3,
    # exact side is the audit baseline (global ranking window over the
    # checkpointed value frame)
    "evt_histogram_quantile_check": 3,
    "evt_k_anonymity_audit": 1,
    "evt_dp_contribution_bounds": 2,
    # two checkpointed per-key count frames feed heavy-hitter, residual
    # and audit branches
    "rel_join_size_estimator": 0,
    # occupancy agg + shard agg; the bin-pack window runs on |cells|
    "emb_shard_plan": 2,
    # checkpointed banded frame: histogram, raw-pair and distinct aggs
    "doc_lsh_cost_estimator": 4,
    # band histogram agg + cumulative threshold scan + test score agg
    "evt_decision_stump": 3,
    # five expectations fold into one full-scan aggregate
    "evt_data_contract_checks": 1,
    # user agg; sweep windows run on the users frame (grid-merge is
    # the 100 TB kernel, documented)
    "evt_user_skyline": 2,
    # (type, day)-partitioned lead window + final agg
    "evt_twap": 2,
    # conditional-min user fold + state agg, no window
    "evt_state_machine_audit": 2,
    # per-doc winnowing runs as higher-order array exprs on the doc's
    # own row — only the distinct + source agg exchange (was 3 with a
    # gram-explode window; sf1 12.3 s -> 4.1 s)
    "doc_winnowing_fingerprints": 2,
    # r6c/r6d batches (measured in PLAN_AUDIT at the time of pinning)
    "rel_entity_resolution": 1,     # blocking equi-join; windows reuse it
    "rel_seat_apportionment": 1,    # nation-grain agg; window math after
    "evt_changepoint_sse": 1,       # day-grain agg; candidate sweep on it
    "evt_interval_coverage": 1,     # user-partition window + same-key agg
    "rel_price_band_join": 2,       # bucket equi-join + left join-back
    "evt_mann_kendall": 3,          # day agg + tie window (was 5/4 scans)
    "evt_runs_test": 2,             # day agg + ordered-lag window
    "evt_permutation_test": 0,      # ONE scan, 132-cell single aggregation
    "rel_inventory_fill": 2,        # partkey window + same-key agg
    "evt_queue_wait_lindley": 1,    # user-partition windows + same-key agg
    # r6e batch
    "evt_logrank_table": 2,         # user agg + time-grain agg; 1 scan
    "rel_waterfill_allocation": 1,  # partkey agg; windows on the agg frame
    "evt_anova_oneway": 1,          # one fact agg to k rows
    "evt_cronbach_alpha": 1,        # one user-grain pivot agg
    # r6f batch
    "evt_kruskal_wallis": 1,        # value-grain histogram; ranks on it
    "evt_friedman_test": 1,         # user pivot agg; pairwise ranks local
    "doc_readability_scores": 1,    # regexp_count map + source agg
    # r6g batch
    "evt_tukey_pairs": 0,           # ONE 16-cell agg + 10-row explode
    "evt_wilcoxon_signed_rank": 2,  # user agg + |diff|-grain histogram
    "evt_mcnemar_test": 1,          # one user-grain agg
    "evt_cohens_kappa": 1,          # user agg; rank windows on agg frame
    # r6h batch (single fact lineage each; totals via agg-frame windows)
    "evt_standardized_rates": 1,
    "evt_gains_table": 1,
    "rel_abc_xyz": 2,
    # r6i/r6j batches
    "evt_cmh_test": 0,              # ONE 16-cell aggregation, no shuffle
    "evt_p_chart": 1,               # day agg; pooled totals via windows
    "evt_capture_recapture": 1,     # one user-grain agg
    "evt_jackknife_ratio": 2,       # day agg referenced by two passes
    # r6k batch
    "evt_odds_ratio_mh": 0,         # ONE 16-cell aggregation
    "evt_extreme_value_gumbel": 1,  # day-maxima agg
    # r6l batch
    "evt_mood_median_test": 1,      # histogram + cells (median broadcast)
    "rel_newsvendor_stock": 2,      # weekly agg + pk window (one lineage)
    # r6m batch
    "evt_pot_gpd_tail": 1,          # histogram + exceedance pass
    "evt_sax_words": 2,             # (type,day) agg + type windows
    # r6n batch
    "evt_var_cvar": 2,              # per-type histogram; VaR as a window
    "evt_granger_lite": 1,          # day agg + lag + 10-cell moments
    # r6o batch (one declared decode seam in resolution buckets)
    "mm_resolution_buckets": 1,
    "mm_modality_mix_plan": 1,
    # r6q batch (user agg -> 16-row mask histogram -> coalition algebra)
    "evt_shapley_attribution": 4,
    # r6r batch
    "evt_ljung_box": 1,             # day agg + lag window + 12-cell agg
    # r6s batch
    "evt_fdr_bh": 0,                # ONE 112-cell single-pass aggregation
    # r6t batch (day-pivot self-join: two refs of the day frame)
    "evt_kendall_tau_matrix": 2,
    # r6u batch (pruned fact pass -> part pivot -> sorted-fold agg)
    "rel_price_index": 1,
    # r6v batch (lattice windows replace the adjacency self-join)
    "evt_morans_i": 2,
    "evt_gof_weekday": 1,
    # r6w batch (same lattice-window single-lineage shape)
    "evt_geary_c": 2,
    # r6x batch
    "evt_local_morans": 2,
    # r6y batch (cell/day equi-joins bound the pair space; the three
    # margin aggregates each shuffle once on their grouping key)
    "evt_knox_test": 3,
    # r7a batch (oracle twins for rows-only ops)
    "emb_lloyd_round2_check": 5,   # 2 assignment windows + cell/dim agg
    "emb_pca_basis_check": 0,      # map-only literal-basis projection
    "emb_logreg_margin_check": 1,  # one 2-row class aggregate
    "doc_bloom_portable_check": 4, # literal bitset probes + exact-hit on ONE corpus pass
    # r7b batch (statistics II)
    "evt_mann_whitney_u": 1,       # one histogram agg; window is hist-sized
    "evt_levene_median": 3,        # hist agg + median window + final agg
    "evt_durbin_watson": 1,        # one series shuffle (lag + agg share it)
    "evt_grubbs_outlier": 2,       # moment agg broadcast-back + struct argmax
    "evt_cochran_q": 4,            # distinct + two marginal aggs (2 keys)
    # r7c batch (corpus linguistics)
    "doc_hapax_ratio": 2,          # (source,token) count + source fold
    "doc_heaps_law": 3,            # bucket mass + first-occurrence + window
    "doc_simpson_diversity": 2,    # same two-fold shape as hapax
    "doc_ttr_chunks": 1,           # map-side array-HOF chunks + source fold
    # r7d batch (operational analytics)
    "rel_knapsack_greedy": 1,      # dimension-sized per-brand window
    "rel_wilson_ranking": 1,       # fact agg + broadcast dim + 25-row window
    "evt_dau_mau": 5,              # two distinct grains + month join
    "rel_inventory_policy": 2,     # (brand,day) agg + 25-row moment fold
    # r7e batch
    "emb_sq_error_profile": 3,     # 64-row min/max + broadcast-back + fold
    # r7f batch (series dynamics + dup-graph structure)
    "evt_cusum_squares": 1,        # one series shuffle, windows share sort
    "evt_rescaled_range": 1,       # same single series shuffle
    "doc_boilerplate_prefixes": 2, # map-side fingerprint + keyed agg
    # round-8a oracle twins
    "doc_bpe_train3_check": 0,      # driver merge-table frame; work is eager 1-row argmax rounds
    "mm_phash_portable_check": 1,   # checkpointed Python hash stage; capped pair join + histogram
    "emb_pq_adc_check": 1,          # broadcast assignment + 32-row lookup; TakeOrdered readout
    "emb_knn_label_prop_check": 1,  # checkpointed bounded edges; broadcast label rounds
    "evt_sketch_portable_profile": 5,  # distinct + register folds + histogram windows + join
    "evt_hll_portable_overlap": 8,  # distinct + register/exact folds + pair union max-merge
    # round-8b batch
    "doc_wordpiece_fertility": 3,   # word histogram + distinct-word Arrow seam + join-back
    "doc_ngram_coverage_curve": 0,  # checkpointed bigram histogram; TakeOrdered head
    "doc_vocab_pruning_oov": 2,     # one word histogram x 3-row literal thresholds
    "evt_brier_decomposition": 1,   # one 10-bin agg; totals window-lifted
    "evt_ipf_raking_check": 7,      # cells + 2 margin aggs + 2 rounds, all 10-row frames
    # round-8c token buckets
    "evt_rate_limit_audit": 1,      # one groupBy(user) collect; fold is map-side
    "evt_rate_limit_policy_sweep": 2,  # same collect + 3-row readout agg
    # round-8d batch
    "evt_wasserstein_1d": 2,        # value histogram + windows on the histogram
    "emb_binary_quantization_topk": 0,  # checkpointed word index; TakeOrdered paths
    "evt_pacf_yw": 2,               # daily rollup + lag windows on the series frame
    # round-8e batch
    "doc_dupgraph_modularity": 3,   # checkpointed pairs/labels; broadcast label joins
    "evt_cointegration_lite": 1,    # one daily rollup; array folds on one row
    "doc_span_corruption": 0,       # pure map-side array arithmetic, zero shuffles
    "evt_qini_uplift": 1,           # per-user agg; rank/cum windows on the user frame
    "evt_changepoint_binseg2": 0,   # checkpointed day frame; all levels window arithmetic
    "emb_semihard_triplets": 2,     # capped broadcast distance pass, argmin + one agg
    "evt_mase_backtest": 2,         # daily rollup + lag windows on the series frame
    "doc_dupgraph_triangles": 6,   # r8: eager deg/e checkpoints + explode members
    "doc_dupgraph_kcore": 10,      # 2 peel rounds on checkpointed pairs
    # r7g batch (experimentation ops)
    "evt_srm_check": 1,            # distinct users + 1-row fold
    "evt_power_analysis": 3,       # (user,day) distinct feeds both marginals
    "evt_frequency_cap_sim": 2,    # (type,user,day) count + type fold
    "evt_conversion_window_sweep": 1,  # one series shuffle + 1-row fold
    # r7h batch
    "sql_pivot_monthly_status": 2, # PIVOT = one hash agg (+AQE read)
    "evt_records_test": 1,         # cummax window + fold share the sort
    "evt_fano_factor": 2,          # (type,day) count + 5-row fold
    # r7i batch (supply-chain / arrivals)
    "rel_bullwhip_ratio": 2,       # two month rollups + scalar cross join
    "rel_otif_fill": 2,            # orderkey fact-fact join + two folds
    "evt_interarrival_cv": 1,      # per-type lag window + moment fold
    # r7j batch
    "doc_priority_sample": 0,      # map-only keys + TakeOrderedAndProject
    "doc_dupgraph_assortativity": 4,  # checkpointed pairs + moment fold
    "rel_repurchase_intervals": 3, # customer window + gap histogram
    # r7k batch
    "doc_simhash_distance_profile": 5,  # pairs + simhash joins + histogram
    "evt_haar_energy": 3,          # day rollup + block agg + energy fold
    # r7l batch
    "doc_token_shape_profile": 1,  # tokenize pass + source fold
    "evt_weekday_weekend_lift": 1, # one scan + 5-row conditional fold
    # r9a batch (inequality / market structure)
    "evt_theil_inequality": 1,     # map-side quantized logs + one type agg
    "evt_atkinson_stats": 1,       # same single-agg shape
    "rel_herfindahl_market": 2,    # supplier agg + nation window (final agg reuses)
    # r9b batch (corpus curation)
    "doc_char_bigram_entropy": 2,  # one labeled gram explode + count agg + source fold
    "doc_blocklist_filter": 1,     # map-side HOF + one source agg
    # r9c batch (drift / tail risk)
    "evt_page_hinkley": 1,         # rank/baseline/cumsum windows share one type exchange
    "evt_peaks_over_threshold": 3, # hist agg + hist windows + broadcast-back agg
    # r9d batch (reliability / embedding health)
    "evt_weibull_plot_fit": 2,     # (user,type) lag + per-type rank window
    "emb_anisotropy_spectrum": 1,  # posexplode + one 64-key agg
    "emb_cluster_label_purity": 3, # argmin agg + (cluster,label) agg + cluster fold
    # r9e batch (dependence / decision diagnostics)
    "evt_mutual_information": 1,   # cell agg; marginals window the 35-row frame
    "evt_confusion_threshold": 1,  # user agg + rank window on the user frame
    "evt_simpson_paradox_audit": 1,  # one type agg; pooled totals window-lifted
    # r9f batch (privacy / tuning / calibration)
    "evt_ldp_frequency": 1,        # map-side RR + one 5-category agg
    "evt_session_gap_sweep": 1,    # user lag window + 1-row conditional fold
    "emb_distance_histogram": 1,   # capped broadcast self-join + ~50-row agg
    # r9g batch (intermittent demand)
    "rel_intermittency_profile": 2,  # (part,week) rollup + part agg
    "rel_croston_intermittent": 2,   # same rollup + collect-sort fold agg
    # r9h batch (multivariate extremes / feature diagnostics)
    "evt_tail_dependence": 0,      # checkpointed day frame feeds both q90s + fold
    "evt_information_value": 1,    # (user,week) agg + rank window on that frame
    # r9i batch (shape / tail statistics)
    "evt_moment_skew_kurtosis": 1, # map-side integer powers + one type agg
    "evt_hill_tail_index": 2,      # checkpointed head frame; thr agg + take fold
    # r9aj batch (price dispersion audit)
    "rel_price_dispersion": 1,        # one l_partkey agg, map-side sorts
    # r9ai batch (milestone timing / word predictability)
    "evt_time_to_threshold": 2,       # user window + bucket histogram
    "doc_word_bigram_entropy": 3,     # checkpointed bigram frame; two folds
    # r9ah batch (two-sample shift function)
    "evt_decile_shift_function": 1,   # checkpointed decile frame; tiny join
    # r9ag batch (vocabulary set cover / periodicity scan)
    "doc_greedy_vocab_cover": 2,      # checkpointed (src,word) frame; round aggs
    "evt_dominant_period": 2,         # (type,day) rollup + type window stack
    # r9af batch (pairwise ranking / shard balance)
    "evt_pairwise_wins_bt": 1,        # checkpointed day frame; day-keyed join
    "doc_shard_token_balance": 1,     # map-side shard+tokens, one 32-row agg
    # r9ae batch (SPRT / two-digit Benford)
    "evt_sprt_conversion": 1,         # user fold; walk windows the user frame
    "evt_benford_two_digit": 2,       # 90-cell agg + literal join + n lift
    # r9ad batch (nonparametric change point / partial correlation)
    "evt_pettitt_test": 3,            # checkpointed day frame; delta agg + window
    "evt_partial_correlation": 1,     # day rollup + 1-row fold
    # r9ac batch (Walsh-Hadamard sequency analysis)
    "evt_walsh_hadamard_energy": 2,   # day rollup + rank window; blk fold reuses
    # r9ab batch (robust shape / MRP projection)
    "evt_robust_shape_quantiles": 2,  # histogram agg + cum windows + fold
    "rel_mrp_projection": 2,          # orderkey join rides AQE; (pk,wk)+pk
    # r9aa batch (circular stats / inequality shape)
    "evt_rayleigh_hours": 2,         # (type,hour) count + literal join fold
    "evt_lorenz_asymmetry": 1,       # type window lift + fold on same exchange
    # r9z batch (run rules / ordered trend)
    "evt_nelson_rules": 2,           # checkpointed day frame; rank + run windows
    "evt_jonckheere_terpstra": 3,    # checkpointed day frame; pair join + census
    # r9w batch (density outliers / intrinsic dimension)
    "evt_lof_reachability": 2,       # checkpointed day frame + knn frame
    "emb_twonn_intrinsic_dim": 1,    # capped broadcast self-join + rank
    # r10n batch (TV drift / dup-cluster sources)
    "evt_tv_drift": 5,               # checkpointed cell frame; grid joins
    "doc_dup_cluster_sources": 3,    # fp fold + tiny histogram fold
    # r10m batch (ANN-graph reciprocity / Lowe margin)
    "emb_reciprocal_nn": 3,          # panel-only digraph; bounded joins
    "emb_knn_margin": 2,             # panel vs corpus; top-2 self-join
    # r10l batch (trailing-digit heaping / assortment churn)
    "evt_digit_heaping": 1,          # checkpointed cell frame; totals bcast
    "rel_assortment_churn": 9,       # all on the checkpointed dim-sized
                                     # presence frame (set algebra stages)
    # r10j batch (purged CV / lead-time scorecard)
    "evt_purged_cv_folds": 1,        # checkpointed fold frame; K-row join
    "rel_leadtime_reliability": 1,   # broadcast joins at test SF + fold
    # r10i batch (graded IR eval / Hoover inequality)
    "doc_ndcg_at_k": 2,              # token pass + query rank windows
    "evt_hoover_index": 2,           # user fold + totals window-lift
    # r10h batch (L-moments / trustworthiness)
    "evt_l_moments": 2,              # day rollup + rank window + fold
    "emb_trustworthiness": 1,        # panel broadcast + query windows
    # r10f batch (conformal intervals / BG-NBD inputs)
    "evt_conformal_prediction": 1,   # checkpointed residual frame
    "evt_bgnbd_summary": 2,          # user fold + x rollup (cal scalar bcast)
    # r10e batch (assortment overlap / sample entropy)
    "rel_nation_portfolio_overlap": 5,  # checkpointed (nation,type) set
    "evt_sample_entropy": 1,         # checkpointed template frame; one fold
    # r10c batch (curation audit / ANN diagnostics)
    "doc_gopher_rules": 1,           # map-side rule pass + source fold
    "emb_hubness": 3,                # query-window + two bounded folds
    # r10b batch (forecast evaluation): (type,day) rollup + type lag
    # windows riding one exchange + fold
    "evt_variance_ratio_test": 2,
    "evt_pinball_loss": 2,
    "evt_diebold_mariano": 2,
    # r9x batch (rank-biased overlap)
    "doc_rbo_term_ranks": 0,         # checkpointed top-50 heads; broadcast join
    # r9y batch (robust repair / payments audit)
    "evt_hampel_filter": 2,          # (type,day) rollup + 7-day window arrays
    "rel_duplicate_payments": 0,     # blocked broadcast self-join at test SF
    # r9v batch (watermark detection)
    "doc_watermark_greenlist": 1,    # map-side HOF fold + one source agg
    # r9u batch (auction clearing / copula grid)
    "rel_auction_clearing": 1,       # one l_partkey exchange end to end
    "evt_empirical_copula": 1,       # day rollup + global rank windows
    # r9t batch (risk backtesting / partial moments)
    "evt_kupiec_var_backtest": 2,    # checkpointed diff frame; train rank + fold
    "evt_downside_risk": 2,          # (type,day) rollup + type lag window
    # r9s batch (contrastive diagnostics; streaming twin has no batch plan)
    "emb_alignment_uniformity": 0,   # broadcast self-join on capped anchors
    # r9r batch (seasonal trend / transfer entropy)
    "evt_seasonal_mann_kendall": 2,  # checkpointed day frame; join + folds
    "evt_transfer_entropy": 2,       # day rollup + global-day lag windows
    # r9q batch (control charts / fractal dimension)
    "evt_xbar_r_chart": 2,         # (type,day) rank window shared w/ subgroup agg
    "evt_higuchi_fd": 2,           # (type,day) rollup + type lag window
    # r9p batch (FIFO valuation / energy distance)
    "rel_fifo_cogs": 1,            # one l_partkey exchange: lift + cumsum + fold
    "evt_energy_distance": 1,      # checkpointed day frame; self-join + fold
    # r9o batch (coreset selection)
    "emb_kcenter_coreset": 0,      # one bounded broadcast self-join collect
    # r9m batch (phonetic blocking / HNSW plan)
    "rel_soundex_blocking": 2,     # map-side key + blk agg (+ distinct expand)
    "emb_hnsw_level_plan": 1,      # map-side coin + level census; tiny window
    # r9l batch (stationarity / adstock)
    "evt_kpss_partial_sums": 2,    # (type,day) rollup + type window stack
    "evt_adstock_carryover": 2,    # (type,day) rollup + type collect-fold
    # r9k batch (burst detection / structural break)
    "evt_burst_hysteresis": 2,     # checkpointed state frame feeds base + islands
    "evt_chow_test": 2,            # (type,day) rollup + type window; half agg reuses
    # r9j batch (randomness / complexity tests)
    "evt_turning_points": 2,       # (type,day) rollup + type window; agg reuses
    "evt_permutation_entropy": 2,  # same day frame; pattern agg rides the window exchange
    # r11a batch (rank-exact two-sample tests)
    "evt_cramer_von_mises": 1,     # ONE user window; agg rides its exchange
    "evt_cucconi_test": 1,         # same pooled-rank frame, same single exchange
    # r11b batch (ordinal association)
    "evt_hoeffding_d": 2,          # checkpointed rank frame; dominance join + agg
    "rel_goodman_kruskal_gamma": 1,  # checkpointed grid; final year agg only
    "evt_somers_d": 2,             # type rank window + checkpointed grid; pair agg
    # r11c batch (privacy operators)
    "evt_l_diversity": 2,          # (QI, sensitive) fold + QI re-aggregate
    "evt_mondrian_cuts": 5,        # ONE fact fold (checkpointed cells); all 5
                                   # exchanges on the ≤|users|·24 cell frame
    # r11d batch (bucketed SMOTE)
    "evt_smote_bucketed": 1,       # one (user, hour) window; no pair frame
    # r11f batch (Lepage / sequential patterns)
    "evt_lepage_components": 1,    # shared pooled-rank window, agg rides it
    "evt_seq_pattern_support": 2,  # checkpointed (user,type) fold; expansion
                                   # join + membership agg on user partition
    # r11h batch (weighted similarity / concordance)
    "rel_ruzicka_similarity": 5,   # checkpointed (nation,type) revenue fold;
                                   # all 5 exchanges on dimension frames
    "evt_kendall_w": 5,            # checkpointed (type,day) fold; windows,
                                   # day sums and the k-frame are all bounded
    # r11i batch (contrastive triplets)
    "doc_contrastive_triplets": 0,  # two windows, zero hash exchanges
    # r11k batch (RQA / EOQ)
    "evt_recurrence_quantification": 5,  # checkpointed day + recurrent-set
                                         # frames; pair work calendar-bounded
    "rel_eoq_components": 1,       # one brand-bucketed fold
    "evt_kuiper_test": 2,          # pooled-value fold + per-type window
    "evt_benjamini_yekutieli": 0,  # step-up over a checkpointed
                                   # <=|types|-row frame; fact fold
                                   # upstream of the checkpoint
    "evt_gk_lambda": 2,            # two grid folds of the checkpointed
                                   # |buckets|*|types| contingency
    "doc_burrows_delta": 5,        # catalog-bounded: source totals,
                                   # word stats, K*|sources| z grid,
                                   # |sources|^2 pair agg
    "doc_lcs_rouge": 2,            # rank-2 window + pair join; DP rides
                                   # in one mapInPandas over |sources|
                                   # bounded rows
    "emb_hopkins_statistic": 0,    # cap-bounded broadcast joins off a
                                   # checkpointed 256*64 cell frame
    "evt_sharpe_sortino": 2,       # day fold + per-type lag window
    "evt_omega_ratio": 2,          # same daily-changes shape
    "evt_page_trend": 2,           # in-block 4x4 pair join over the
                                   # checkpointed daypart grid
    "evt_hjorth_parameters": 2,    # day fold + per-type lag window
    "evt_christoffersen_test": 3,  # day fold + rank/lag windows off the
                                   # checkpointed change frame
    "evt_first_passage_time": 3,   # user-day fold + cumulative window
                                   # + histogram agg
    "evt_bowker_symmetry": 0,      # per-user lag window + checkpointed
                                   # |types|^2 mirror join
    "evt_longest_streaks": 2,      # day fold + sign-island windows
    "evt_extremal_index": 3,       # rank + exceedance-lag windows off
                                   # the checkpointed daily frame
    "evt_teager_energy": 2,        # day fold + one lag/lead window
    "evt_ulcer_index": 2,          # day fold + cumulative windows
    "evt_aroon": 2,                # day fold + rolling pack window
    "evt_variogram_lags": 1,       # banded pair join off the
                                   # checkpointed daily frame
    "evt_theil_u2_naive": 2,       # day fold + two lag columns
}


@pytest.mark.parametrize("name", sorted(BUDGETS))
def test_exchange_budget(spark, name):
    plan = (
        REGISTRY[name]
        .spark_fn(spark, SF)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    n = plan.count("Exchange hashpartitioning")
    assert n <= BUDGETS[name], (
        f"{name}: {n} hash exchanges > budget {BUDGETS[name]} — a shuffle "
        f"crept in; restructure or justify a budget bump\n{plan[:4000]}"
    )


#: queries whose plans were explicitly de-duplicated to a SINGLE fact
#: lineage (round-6 window-lift / fold-into-one-agg passes): a second
#: parquet scan reappearing means the shared frame regressed to a
#: join-back shape.
SCAN_BUDGETS = {
    "evt_permutation_test": 1,
    "evt_mann_kendall": 2,       # self-join: two refs of the day frame
    "rel_abc_xyz": 1,
    "evt_gains_table": 1,
    "evt_standardized_rates": 1,
    "rel_newsvendor_stock": 1,
    "evt_var_cvar": 1,
    "evt_cmh_test": 1,
    "evt_odds_ratio_mh": 1,
    "evt_tukey_pairs": 1,
    "evt_kruskal_wallis": 1,
    "evt_cronbach_alpha": 1,
    "evt_friedman_test": 1,
}


@pytest.mark.parametrize("name", sorted(SCAN_BUDGETS))
def test_scan_budget(spark, name):
    plan = (
        REGISTRY[name]
        .spark_fn(spark, SF)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    n = plan.count("Scan parquet")
    assert n <= SCAN_BUDGETS[name], (
        f"{name}: {n} parquet scans > budget {SCAN_BUDGETS[name]} — a "
        f"shared frame re-derived its fact lineage; window-lift or fold "
        f"the consumer back into one aggregation\n{plan[:4000]}"
    )


#: query → max Spark jobs launched by building its plan AND collecting
#: the result (DAG scheduler ``nextJobId`` delta). Jobs are what the
#: driver waits on while an iterative query builds (eager checkpoints,
#: lazy checkpoints over AQE stages, convergence counts), and unlike
#: wall time the count is deterministic.
JOB_BUDGETS = {
    # eager pair checkpoint + one pair count + the single-partition BFS
    # collect; one more on a cold session (the documents schema read).
    # At or below dedup.LOCAL_GRAPH_MAX_PAIRS, the bound it shares with
    # dedup_clusters; the three checkpointed distributed BFS rounds
    # would launch 17.
    "doc_dupgraph_bfs": 8,
    # CC kernel, same rule: measured warm build + collect at sf0.001
    # (the pair count plus one union-find pass) plus one for a cold
    # session. The checkpointed CC rounds ran 24 and 48 cold.
    "doc_dedup_clusters": 11,
    "emb_dedup_clusters": 11,
    # same rule (19 warm): the CC kernel's pair count fills the lazy pair
    # and label checkpoints, the rest is the query's own broadcasts and
    # shuffle stages. Eager checkpoints ran 21.
    "doc_dupgraph_modularity": 20,
}


@pytest.mark.parametrize("name", sorted(JOB_BUDGETS))
def test_job_budget(spark, name):
    sched = spark.sparkContext._jsc.sc().dagScheduler()
    j0 = sched.nextJobId()
    REGISTRY[name].spark_fn(spark, SF).collect()
    n = sched.nextJobId() - j0
    assert n <= JOB_BUDGETS[name], (
        f"{name}: {n} Spark jobs > budget {JOB_BUDGETS[name]} for build + "
        f"collect — a driver-side action or eager checkpoint crept in"
    )
