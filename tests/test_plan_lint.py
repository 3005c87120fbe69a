"""Catalog-wide physical-plan lint.

Every query in the catalog is compiled and its physical plan checked for
the three shapes that do not survive scale:

* ``CartesianProduct`` — never allowed, for any query.
* ``BroadcastNestedLoopJoin`` — allowed ONLY where the build side is a
  deliberately tiny broadcast (single-row class totals, a 16-row
  centroid table, a 5-language stopword table) or the query is the
  documented brute-force baseline next to an LSH/IVF scale path.  The
  allowlist is explicit so any NEW query that accidentally plans a
  nested loop fails here.
* unpartitioned ``Window`` over a frame that is not provably bounded —
  a ``Window.partitionBy().orderBy(...)`` (or whole-frame aggregate
  window) single-tasks its entire input.  Windows whose input chain
  passes through a ``GlobalLimit`` / ``TakeOrderedAndProject`` /
  ``WindowGroupLimit`` are auto-recognized as bounded (≤k rows reach
  the single partition — the repo's limit-then-rank discipline); every
  other global window must be enumerated in ``GLOBAL_WINDOW_ALLOWED``
  with its bounded-frame justification.  Detection:
  big_data_virus_analysis_spark/plans/plan_lint.py.
"""

from __future__ import annotations

import pytest

from big_data_virus_analysis_spark.plans.catalog import CATALOG
from big_data_virus_analysis_spark.plans.plan_lint import global_window_findings

from conftest import SMOKE_SF_DIR
from test_plans import fmt_plan

#: queries whose BroadcastNestedLoopJoin is by-design (tiny build side
#: or documented brute-force baseline)
BNLJ_ALLOWED = {
    # single-row corpus-totals broadcast crossed onto per-token rows
    "info_gain_topk",
    "api_log_info_gain",
    "api_log_byte_info_gain",
    # IG pipeline consumers (inherit the totals cross join)
    "vectorize_doc_indices",
    "vectorize_libsvm_lines",
    "kmeans_doc_clusters",
    "kmeans_weighted_entropy",
    "kmeans_k_sweep",
    "kmeans_cluster_centers",
    "cluster_report_lines",
    "d3_export_tree",
    "reference_pipeline_report",
    "cluster_report_lines_det",
    "d3_export_tree_det",
    # 16-row centroid table / 5-language stopword table broadcast
    "ivf_ann_topk",
    "ivf_ann_topk_fixed",
    "language_id",
    # <=20-row fixed Lloyd-init centroid table broadcast (plans/ml_exact.py)
    "kmeans_lloyd_step",
    "lloyd_step_weighted_entropy",
    "lloyd_wssse_k_sweep",
    # inherits language_id's 5-language scaffold broadcast
    "language_confusion",
    # single-row bigram-total broadcast crossed onto vocabulary-sized counts
    "bigram_pmi_top",
    # r12: the lazy prefix-sum no longer truncates plans with an eager
    # localCheckpoint, so these queries' PRE-EXISTING single-row
    # bounds/horizon broadcasts (zone/hilbert band bounds, the logrank
    # censoring horizon) became visible to the lint — same adjudicated
    # 1-row cross-join class as the entries above
    "zone_map_pruning_audit",
    "hilbert_zone_pruning_audit",
    "logrank_two_segment",
    # single-row x-side moment frame (sxx off the 50-value quantity rank
    # table) broadcast-crossed onto the single-row y-side moment frame
    # (r11: the fat rank-join rewrite — see round6_stats4)
    "spearman_price_quantity",
    # brute-force baselines (the LSH/IVF variants are the scale path)
    "cosine_topk_bruteforce",
    "hard_negative_mining",
    "knn_label_vote",
    # inherits knn_label_vote's brute-force generator (LSH/IVF compose
    # in front at scale, same as for the vote query)
    "label_noise_candidates",
    "quantized_cosine_topk",
    # single-row corpus-total broadcast (like info_gain_topk)
    "tfidf_top_terms",
    # single-row corpus-count broadcast feeding the relative df cutoff
    # and idf (constant-key join folds to a nested loop over 1 row)
    "tfidf_cosine_pairs",
    # single-row scalar-threshold broadcast (relative avg crossed onto
    # the aggregate, TPC-H Q20/Q22 shapes)
    "heavy_shipment_suppliers",
    "idle_customer_balance",
    # single-row basket-total broadcast (like info_gain_topk)
    "association_rules_parts",
    # single-row hub-cap audit broadcast crossed onto the top-20 rows
    "adamic_adar_linkpred",
    # single-row OLS-fit broadcast crossed onto the day frame (r7 stats)
    "durbin_watson_daily",
    "breusch_pagan_daily",
    # 3-row block-size grid broadcast onto the day frame (R/S blocks)
    "hurst_rescaled_range_daily",
    # 1-row OLS-fit + 1-row MAD-scale broadcasts onto the day frame
    "huber_irls_step_exact",
    # 1-row SRM leg x 1-row metrics leg combine (composed canary #4)
    "experiment_readout_e2e",
    # 1-row grand-total broadcasts onto the bounded contingency /
    # fold-label frames (r7 quality pack)
    "mutual_information_priority_segment",
    "cramers_v_priority_segment",
    "stratified_kfold_balance_audit",
    # 1-row pooled-slope broadcast onto the 6-row scope frame
    "simpson_direction_audit",
    # five 1-row metric legs combined via broadcasts (ARI contingency)
    "adjusted_rand_clusterings",
    # 1-row top-gap / naive-MAE broadcasts onto the 1-row summary
    "event_id_gap_audit",
    "pinball_mase_forecasts",
    # single-row totals broadcast (p0) / observed-stat broadcast; the
    # 64-row permutation grid also broadcasts onto the fact rows
    "bh_fdr_segments",
    "permutation_test_det",
    # single-row corpus-scalars broadcast (N, avgdl)
    "bm25_search",
    # single-row corpus-count broadcast (relative df threshold)
    "boilerplate_ngrams",
    # single-row count/grand-total broadcast feeding rank-derived
    # ntile/percent_rank and running shares (two-phase scan rewrites)
    "user_value_deciles",
    "pareto_customers",
    "equidepth_price_histogram",
    "gains_by_score_decile",
    "ks_price_periods",
    # 5x5 dimension-scaffold cross join, both sides broadcastable
    "region_pair_matrix",
    # 7-row lag scaffold broadcast crossed onto the tiny per-day frame
    "daily_value_acf",
    # 1-row x 1-row estimate/exact cross join (corpus-level sketch compare)
    "corpus_minhash_jaccard",
    # 5-row threshold grid + 1-row doc-count broadcast over the pair table
    "dedup_retention_by_threshold",
    # 1-row query-embedding broadcast (semantic leg) + the BM25 corpus
    # scalars it inherits from bm25_search
    "rrf_hybrid_fusion",
    # 10-row per-label centroid-array broadcast
    "nearest_centroid_assign",
    # 1-row vocabulary-size scalar broadcast (add-k smoothing denominator)
    "bigram_lm_perplexity",
    # 1-row mixture-normalizer broadcast (sum over ~#domains)
    "domain_mixture_weights",
    # 10-row per-label centroid-array broadcast (shared with
    # nearest_centroid_assign)
    "semantic_dedup_pairs",
    "semantic_dedup_survivors",
    "semantic_dedup_pairs_fine",
    # 1-row frequent-items sketch list broadcast crossed onto the exact
    # heavy-user frame (containment audit)
    "heavy_hitter_users_bounded",
    # 1-row pair-total broadcast (share-of-all-pairs denominator)
    "cross_source_dup_audit",
    # bounded-horizon lag range-join over the per-DAY frame (rows =
    # days, not events; both sides broadcastable at any corpus size)
    "ewma_daily_value",
    # xi < xj pair range-join over the same calendar-bounded day frame
    # (~2.4k rows at every SF — the corpus-sized work is the groupBy
    # that builds it; r11 robust-trend pack)
    "mann_kendall_daily_trend",
    "theil_sen_slope_daily",
    # trailing-7-day band join over the same per-DAY frame
    "rolling_mad_anomaly_daily",
    # 1-row weight-vector broadcast carried from step 1's aggregate
    # onto the step-2 scan (full-batch GD weight carry)
    "lr_gd_steps_exact",
    # 1-row min/width bounds broadcast crossed onto the scan
    # (equi-width histogram staging, like equidepth_price_histogram)
    "decision_stump_gain_curve",
    "calibration_bins_fixed",
    # 1-row band-bounds broadcast crossed onto the scan (Z-order banding)
    "zorder_locality_buckets",
    # 1-row global-bounds / 1-row bit-set-count broadcasts (layout audits)
    "clustering_depth_by_column",
    "bloom_semi_join_audit",
    # 5-row priority scaffold broadcast crossed onto the QI-group frame
    "t_closeness_audit",
    # 1-row sketch/exact scalar frames crossed into the single summary
    # row (estimate-vs-truth audit, like corpus_minhash_jaccard)
    "theta_bottomk_set_ops",
    # 1-row norm scalar broadcast onto the d-row vector (power-iteration
    # normalization; d = embedding dim, broadcastable at any corpus size)
    "pca_power_iteration_exact",
    # 1-row corpus-doc-count broadcast onto the 20-term frame (VMR
    # zeros-included denominator)
    "burstiness_top_terms",
    # 1-row x 1-row entropy scalars crossed into the single summary row
    "event_entropy_rate",
    # 1-row lower-median broadcast onto the per-key counts (two-phase
    # order-statistics median, no global window)
    "skew_split_plan",
    # 1-row max-revenue broadcast onto the per-supplier aggregate
    "top_revenue_suppliers",
    # 1-row corpus-token-total broadcast onto the vocabulary frame
    "doc_token_surprisal",
    # 1-row x 1-row per-table stats crosses (six of them, unioned)
    "join_strategy_advisor",
    # 1-row node-count broadcast onto the degree frame (PageRank p0)
    "pagerank_dup_graph_exact",
    # 1-row F0/stump/MSE scalar broadcasts (boosting step carry)
    "gbdt_stump_steps_exact",
    # 1-row x 1-row per-side stats + actual-count crosses (3 unioned)
    "join_cardinality_audit",
    # 1-row exact x 1-row median-estimate cross (sketch audit)
    "ams_f2_moment_bounded",
    # 1-row truth-agg x 1-row candidate-agg cross (r11 recall audit,
    # same estimate-vs-truth shape as corpus_minhash_jaccard)
    "eval_lsh_recall_audit",
    # 1-row year-total broadcast crossed onto the 365-row day frame
    # (permille weight quantization, r11 knapsack)
    "knapsack_day_budget_audit",
    # 1-row grid fold x 1-row rowmax-bound cross (r11 assignment;
    # the grid is the dimension-bounded 5x5 segment x region frame)
    "assignment_max_revenue_segments_regions",
    # 1-row truth-agg x 1-row candidate-count cross (r11 SNM recall,
    # same estimate-vs-truth shape as eval_lsh_recall_audit)
    "snm_vs_exact_recall_audit",
    # row-pair self-join over the BOUNDED candidate-pair frame (never
    # the corpus) + 1-row count cross (r11 Kendall-tau synthesis)
    "jaccard_vs_edit_tau",
    # 1-row pooled-totals broadcast onto the per-eval-doc frame
    # (r11 memorization audit; eval side broadcast by design)
    "eval_ngram_novelty",
    # 1-row corpus-totals broadcast onto the top-10 limited frame
    # (r11 weighted interval scheduling, token_bucket shape)
    "weighted_interval_sessions",
    # 1-row edge-count / 1-row Q-scalar broadcasts onto the ~20-row
    # source frame (r11 modularity)
    "dup_graph_source_modularity",
    # 1-row weight-total / floor-total / alloc-total broadcasts onto
    # the ~20-row source frame (r11 Neyman allocation)
    "neyman_allocation_sources",
    # 1-row x 1-row plain/dict stats crosses (six unioned)
    "encoding_advisor",
    # 1-row full-mean x 1-row replica-CI cross
    "subsample_ci_det",
    # 1-row triangle x edge-count x node-count crosses
    "triangle_count_dup_graph",
    # 1-row temperature-normalizer broadcast onto the per-source frame
    "mixture_temperature_sweep",
    # brute-force exact leg inherits cosine_topk's broadcast-panel join
    "ann_recall_audit",
    # both legs (full + truncated) are cosine_topk broadcast-panel joins
    "dim_truncation_recall",
    # calendar-bounded day-pair self-join (<=366 x <=366 day rows) plus
    # the 1-row OLS x median cross
    "theil_sen_daily_revenue",
    # 1-row min/max calibration range + 1-row totals broadcasts
    "brier_decomposition_fixed",
    # per-round 1-row node-count x edge-count crosses (3 rounds)
    "kcore_peel_rounds",
    # 1-row bad/good totals broadcast onto the 10-bin frame
    "woe_iv_price_bins",
    # 1-row bigram-total broadcast (same pattern as bigram_pmi_top)
    "collocation_g2_top",
    # 1-row year-totals broadcast onto the |priorities|-row frame
    "js_divergence_priorities",
    # ranking leg inherits cosine_topk's broadcast-panel join
    "ndcg_fixed_ranking",
    # 1-row corpus-totals + 1-row relevant-set-size broadcasts (plus
    # bm25_scores' own 1-row totals cross, same as bm25_search)
    "rocchio_expansion",
    # 1-row weight-normalizer and leftover/residual-mass broadcasts
    "mixture_capped_allocation",
    # 3-row quantile-target frame crossed onto the bounded 512-row
    # merged sketch (cumw >= q*n residual filter)
    "quantile_merge_audit",
    # 10-row user panel broadcast onto the part-popularity frame
    "negative_sampling_popularity",
    # 10-row fixed price-bin frame: PAVA minimax needs the j<=k / j<=i<=k
    # range joins, all sides bounded by the bin count
    "isotonic_calibration_deciles",
    # 1-row grand-totals broadcast crossed onto the 5-row group frame
    "anova_f_by_segment",
    # 5-row x 5-row segment self-join (both sides broadcast)
    "cohens_d_segment_pairs",
    # 1-row weight-total broadcast crossed onto the 5-row stratum frame
    "neyman_allocation_plan",
    # 1-row exact-count broadcast crossed onto the 1-row sample-stats row
    "chao1_cardinality_audit",
    # 1-row corpus-token-total broadcast (background LM denominator)
    "dirichlet_ql_retrieval",
    # 1-row corpus-token-total broadcast (PMI global denominator)
    "keyword_extraction_pmi",
    # 1-row triangle-count x 1-row wedge-count cross (summary row)
    "global_transitivity",
    # |sources| x vocab smoothing grid + 1-row vocab-total broadcast
    "source_token_kl",
    # same add-1 smoothing grid shape (|sources| x vocab broadcast)
    # plus 1-row prior/total broadcasts
    "multinomial_nb_source_confusion",
    # 20-source frame x 10-word top-vocab broadcast grid (stylometry)
    "burrows_delta_sources",
    # 1-row build/probe-count broadcasts crossed onto the 1-row FP count
    "bloom_fpr_curve",
    # 1-row part-count / max-exposure broadcasts onto the 1-row summary
    "rec_catalog_coverage",
    # 1-row grand-total/day-count broadcast onto the per-DAY frame
    "max_drawdown_daily_revenue",
    # 1-row grand-moments broadcast onto the 7-row day-of-week frame
    "dow_seasonality_strength",
    # 1-row x 1-row dashboard-leg combines (composed canary)
    "bi_dashboard_e2e",
    # calendar-bounded day-frame self-join (pairwise tau definition)
    "kendall_tau_daily",
    # 1-row median broadcast onto the day frame
    "runs_test_daily",
    # 1-row mean/c0 broadcasts + 7-row lag scaffold onto the day frame
    "ljung_box_daily",
    # 1-row example-count broadcast onto the 10-row bin frame
    "expected_calibration_error",
    # 30-row day grid band-joined to the bounded KM step frame
    "rmst_signup_purchase",
    # 1-row logged-total broadcast onto the matched-cell aggregate
    "ips_policy_value",
    # round 8: inherits the IG corpus-totals cross join
    # (api_log_info_gain) into the e2e feature-job chain
    "api_log_feature_job_e2e",
    # round 8: 1-row lag-moment broadcasts (lag-1 and lag-2 product
    # sums) onto the base-moment aggregate
    "pacf_lag2_daily",
    # round 8: 1-row totals broadcast + 1-row first-failing-rank
    # broadcast onto the 5-segment frame
    "holm_bonferroni_segments",
    # round 8: 1-row feature-total broadcast + 1-row wide-weight
    # broadcast onto the scoring scan
    "softmax_gd_step_exact",
    # round 8: chars-vocab grid (sources x ~30 chars) + 1-row
    # vocab-size broadcast
    "char_kl_by_source",
    # round 8: 1-row grand-error-rate broadcast onto the day frame
    "p_chart_daily_errors",
    # round 8: 1-row median + 1-row MAD broadcasts onto the norm frame
    "embedding_norm_outliers",
    # round 8: 1-row min-class-size cap broadcast onto the ranked scan
    "class_balanced_downsample",
    # round 8: 1-row (na, nb) source-size broadcast onto src0's ranks
    "quantile_normalization_sources",
    # round 8: 1-row OLS-scaffold broadcast (n, tbar, Stt, s2) onto the
    # day residual frame
    "cooks_distance_daily",
    # round 8: 32-row resample scaffold + 1-row CI broadcast onto the
    # ranked day frame
    "bootstrap_mean_ci_det",
    # round 8: 1-row x 1-row left-fit x right-fit cross join
    "regression_discontinuity_price",
    # round 8: 1-row conformal-threshold broadcast onto the test scan
    "conformal_interval_coverage",
    # round 8: 1-row covariance-inverse scaffold broadcast onto the scan
    "mahalanobis_2d_outliers",
    # round 8: 1-row pair-total + 1-row token-total broadcasts onto the
    # pair-count frame
    "skipgram_cooccurrence_topk",
    # round 8: 1-row n_rel broadcast onto the 10-row rank scaffold +
    # 1-row DCG x 1-row IDCG cross join
    "ndcg_retrieval_eval",
    # round 9: per-round 1-row edge-count x 1-row edge-count cross
    # joins building the peel/propagation convergence history rows
    "ktruss_peel_exact",
    "min_label_propagation_fixpoint",
    # round 9: 1-row grand-total (target) broadcast onto the 25-cell
    # frame + per-sweep 1-row row-err x 1-row col-err cross joins
    "ipf_raking_fixpoint",
    "ipf_raking_cells",
    # round 9 (r8 VERDICT nit fix): 1-row total-edges broadcast onto
    # the support histogram (was a driver-side count())
    "ktruss_edge_support",
    # round 9: calendar-bounded ~90x91 day-aggregate cross products
    # (the energy V-statistic pairs days, never rows) + 1-row chains
    "energy_distance_two_periods",
    # round 9: 1-row pooled-OR broadcast onto the 5-stratum frame
    "mantel_haenszel_or",
    # round 9: 7-row cashflow frame x 1-row bisection state per round
    "irr_bisection_fixpoint",
    # round 9: 32-row bin frames x 4-row predicate literals + 1-row
    # min/max extent broadcast onto the scan
    "histogram_selectivity_audit",
    # round 9: 1-row peak broadcast back onto the swept endpoint frame
    # + 1-row x 1-row result combine
    "peak_concurrency_sessions",
    # round 9: 1-row (n_sources, budget) / (totals, extremes) scalar
    # broadcasts onto the per-source / per-expert aggregate frames
    "dataset_mixture_epochs_audit",
    "moe_routing_balance",
    # round 9: keys x <=128-row broadcast vnode ring table (linear,
    # small constant) + per-K 1-row ratio broadcast
    "consistent_hash_ring_balance",
    # round 9: 1-row stats x 1-row truth scalar chains
    "join_order_cost_audit",
    # round 9: calendar-bounded day-window self-join (<= ~2,400 x
    # ~2,400 windows at ANY corpus size — the matrix-profile exclusion
    # zone |i-j| >= w is inherently non-equi); small side broadcasts
    "matrix_profile_daily",
    # round 9: calendar-bounded (priority x month) frame pair join
    # (<= 5x80 rows at any SF; the JT statistic pools group pairs) +
    # 1-row moments broadcast
    "jonckheere_terpstra_priority",
    # round 9: 1-row n_treated broadcast onto the 1-row matched agg
    "caliper_nn_match_att",
    # round 9: 1-row bigram-type-count (B) broadcast onto the scoring
    # join / top-5 context ledger
    "kneser_ney_bigram_ppl",
    "kneser_ney_prob_check",
    # round 9: per-sweep 1-row auth-delta x 1-row hub-delta combine
    "hits_convergence_audit",
    # round 9: per-round 1-row scalar ledger combines (cross count x
    # new-edge count x component count x forest size x node count)
    "msf_boruvka_audit",
    # round 10: 1-row fixpoint-witness broadcast (moves_last_round,
    # converged) crossed onto the level histogram / top-10 chain frame
    "dag_topo_levels_dup",
    "dag_critical_path_dup",
    # round 10: 1-row corpus-totals broadcast (total_selected /
    # total_allowed etc.) crossed onto the per-key fold results
    "interval_greedy_sessions",
    "token_bucket_throttle_audit",
    # round 9: constant-size bitwise subset joins (16 subsets x <=16
    # coalition masks, 4 channels x 16 subsets) — corpus-independent
    "shapley_channel_attribution",
    "shapley_efficiency_check",
    # round 9: 1-row (n, tol) scalar broadcast onto the 16-candidate
    # frame + the <=16-row hypothesis table crossed onto the bounded
    # day frame (constant-size hypothesize-and-verify fan-out)
    "ransac_line_daily_det",
    # round 9: 1-row (k, gbar, vavg) / (ss) moment broadcasts onto the
    # 5-row segment frame (shrinkage combine)
    "james_stein_segment_means",
    # round 9: 1-row corpus-total (N) broadcast onto the 10-row
    # rarest-frequency-class frame
    "good_turing_token_mass",
    # round 9: 1-row global (S, Q, n) moments broadcast onto the
    # bounded day frame for the SAX z-score
    "sax_motif_words",
    # round 10: month-frame (~84 rows at any SF) hull pair/witness
    # non-equi joins + 1-row point-count broadcast — every side is
    # calendar-bounded, never corpus rows
    "convex_hull_monthly",
    # round 10: 1-row d0-bound broadcast + the strip band self-join
    # over the calendar-bounded day frame (non-equi by construction;
    # the matrix_profile_daily precedent) + 1-row counts combine
    "closest_pair_strip",
    # round 10: last-strictly-greater non-equi self-join over the
    # calendar-bounded day frame
    "stock_span_daily",
    # round 10: 1-row (total, n) capacity broadcast onto the
    # calendar-bounded 1995 day-job frame
    "edd_lateness_audit",
    "moore_hodgson_late_jobs",
    # round 10: 1-row estimate x 1-row exact-count / 1-row shard-count
    # crosses (sketch-vs-truth audits, the corpus_minhash_jaccard
    # precedent)
    "hll_shingle_estimate",
    "hll_shard_merge_audit",
    # round 10: 1-row blocking-pair certificate broadcast onto the
    # 5-row matched frame (constant-size matching algebra)
    "stable_matching_segments_regions",
    # round 10: month-frame (~84 rows) hull predicate + hull-vertex
    # pair joins + 1-row count broadcasts (round10_geo precedent)
    "farthest_pair_diameter",
}

#: queries whose unpartitioned Window is over a frame bounded by the
#: DATA MODEL, not by an in-plan limit (those are auto-recognized) —
#: each entry names the bounded frame so the next reviewer can re-vet
GLOBAL_WINDOW_ALLOWED = {
    # 9-row leading-digit frame (Benford marginals)
    "benford_order_totals",
    # |priorities| x |segments| contingency marginals (~25 rows)
    "chisq_priority_segment",
    # |languages|-row per-class count frame
    "class_balance_plan",
    # calendar-bounded per-DAY frame (days, not events)
    "cusum_changepoint_daily",
    "month_over_month_revenue",
    "max_drawdown_daily_revenue",
    "bi_dashboard_e2e",
    "runs_test_daily",
    # fixed equi-width histogram bucket frames (20-32 rows)
    "decision_stump_gain_curve",
    "ks_price_periods_grid",
    "psi_price_drift",
    # |event_type| marginals (5 rows) / 5x5 transition marginals
    "event_entropy_rate",
    "markov_two_step_dist",
    # 10-row decile frame
    "gains_by_score_decile",
    # 25-nation / 5-region rollup frames
    "revenue_share_by_nation",
    "share_of_parent",
    # |labels|-row per-class Gaussian stats frame
    "nb_gaussian_confusion",
    # 5-row order-priority distribution frame (t-closeness reference)
    "t_closeness_audit",
    # 5-segment p-value frame: BH rank + step-up max scan constant-size
    "bh_fdr_segments",
    # <=50-row quantity histogram (bounded domain) prefix sums
    "gbdt_stump_steps_exact",
    # calendar-bounded day-grain frame (<=366 rows): centered 7-day MA
    "seasonal_decompose_dow",
    # bounded 512-row merged sketch union (16 shards x 32 bins):
    # cumulative-weight scan over the sketch, never over data rows
    "quantile_merge_audit",
    # round 8: calendar-bounded per-DAY frame, 30-row trailing window
    "rolling_correlation_30d",
    # round 9: calendar-bounded per-DAY frame running min (PH excess)
    "page_hinkley_drift",
    # round 9: calendar-bounded per-DAY frame — dense day index +
    # 7-day lead window for matrix-profile subsequences / SAX symbols
    "matrix_profile_daily",
    "sax_motif_words",
    # round 9: calendar-bounded per-DAY frame — dense day index for
    # the dyadic 1024-day Haar window
    "haar_wavelet_topk",
    # round 9: cumulative scan over the ~580-row log-bucket sketch
    # frame (domain bounded by the value RANGE, never data rows —
    # the quantile_merge_audit precedent)
    "ddsketch_price_quantiles",
    # round 9: calendar-bounded per-DAY frame — trailing-mean expert
    # windows + cumulative loss ledgers for the FTL game
    "ftl_expert_regret_audit",
    # round 9: day-index row_number + best-flag rank over the
    # constant 16-row hypothesis frame
    "ransac_line_daily_det",
    # round 10: x-sorted lead() over the calendar-bounded day frame
    # (the rank-adjacent d0 upper-bound pass)
    "closest_pair_strip",
    # round 10: day-index row_number over the calendar-bounded day
    # frame (span positions / 1995 day-job positions)
    "stock_span_daily",
    "edd_lateness_audit",
    "moore_hodgson_late_jobs",
    # round 10: alphabetical rank over the DISTINCT event-type frame
    # (|alphabet| rows at any SF — the type-code dictionary)
    "lru_stack_distance_hit_curve",
    "belady_opt_vs_lru_audit",
    "boyer_moore_majority_events",
    # round 10: dense_rank code assignment over the 25-cell
    # (segment x region) preference frame
    "stable_matching_segments_regions",
    # round 11: same 25-cell dense_rank code assignment (shared
    # _cells builder), assignment-efficiency counterpart
    "assignment_max_revenue_segments_regions",
    # round 11: largest-remainder rank over the ~20-row source frame
    # (dimension-bounded, the stable_matching precedent)
    "neyman_allocation_sources",
    # round 11: dense_rank segment codes + strength rank over the
    # 5-row segment frame (dimension-bounded)
    "bradley_terry_segment_strength",
}

#: model-fitting queries too slow to compile in a lint sweep (each
#: fits 4-14 models).  NOT exempt from linting: every entry's
#: relational body is linted via ONE representative fit in
#: test_skip_slow_grids_single_fit_linted below (r6 VERDICT #7) —
#: kmeans_k_sweep via a single k=5 assign plan, the three AUC grids
#: via one depth-1 tree / one regParam fit + the exact-AUC frame.
SKIP_SLOW = {"kmeans_k_sweep", "dt_auc_grid", "svm_auc_grid", "lr_auc_grid"}


def _lint_plan(name: str, plan: str, bnlj_ok: bool = False) -> None:
    assert "CartesianProduct" not in plan, f"{name} plans a cartesian product"
    if not bnlj_ok:
        assert (
            "BroadcastNestedLoopJoin" not in plan
        ), f"{name} plans an unallowlisted nested-loop join"
    findings = global_window_findings(plan)
    assert not findings, (
        f"{name} plans an unpartitioned window over an unbounded "
        f"frame (single-task global sort at scale): {findings}"
    )


def test_skip_slow_grids_single_fit_linted(spark):
    """The 4 SKIP_SLOW grid queries are fit-loops whose final output is
    a driver-built LocalTableScan; their LINTABLE surface is the
    relational body each fit executes.  Lint that body via ONE
    representative fit per grid (r6 VERDICT directive #7): a future
    nested loop or global window in the split construction, the
    prediction pipeline, or the exact-AUC frame now fails this test
    instead of hiding behind the sweep exemption."""
    from pyspark.ml.classification import (
        DecisionTreeClassifier,
        LinearSVC,
        LogisticRegression,
    )
    from pyspark.ml.functions import vector_to_array
    from pyspark.sql import functions as F

    from big_data_virus_analysis_spark.ml.metrics import exact_auc_frame
    from big_data_virus_analysis_spark.ml.pipeline import kmeans_assign
    from big_data_virus_analysis_spark.operators.entropy_score import (
        weighted_average_entropy,
    )
    from big_data_virus_analysis_spark.plans.catalog import (
        _document_feature_vectors,
        _embedding_splits,
    )

    train, cv, _ = _embedding_splits(spark, SMOKE_SF_DIR)
    single_fit = {
        "dt_auc_grid": DecisionTreeClassifier(
            impurity="entropy", maxDepth=1, labelCol="label", seed=13
        ),
        "svm_auc_grid": LinearSVC(regParam=0.1, maxIter=2, labelCol="label"),
        "lr_auc_grid": LogisticRegression(
            regParam=0.1, maxIter=2, labelCol="label"
        ),
    }
    for name, clf in single_fit.items():
        # lint the split + fit + transform + scoring projection plan;
        # the exact-AUC frame is linted separately below over a
        # fixed-scorer frame — fusing them here would localCheckpoint a
        # lineage carrying session Observations registered by earlier
        # tests, which Spark cannot serialize (ObservationManager;
        # order-dependent test-session quirk, not a production shape:
        # the full-catalog single-session audit runs the real grids
        # green)
        preds = clf.fit(train).transform(cv)
        scored = preds.select(
            F.round(vector_to_array("rawPrediction")[1], 9).alias("score"),
            F.col("label").cast("int").alias("pos"),
        )
        _lint_plan(name, fmt_plan(scored))
    # the grids' shared metric stage: exact-AUC frame over a clean
    # fixed-scorer lineage (same ml/metrics.py code path)
    fixed = cv.select(
        F.round(F.col("label").cast("double") * 0.1, 9).alias("score"),
        F.col("label").cast("int").alias("pos"),
    )
    _lint_plan("exact_auc_frame", fmt_plan(exact_auc_frame(fixed)))
    # the grouped form the grids score through: two fixed scorers tagged
    # and unioned as _grid_auc tags its models, one aggregate and one
    # prefix sum over (g, score)
    grouped = fixed.withColumn("g", F.lit(0)).unionByName(
        fixed.select((-F.col("score")).alias("score"), "pos", F.lit(1).alias("g"))
    )
    _lint_plan("exact_auc_frame_by", fmt_plan(exact_auc_frame(grouped, by=["g"])))
    # kmeans_k_sweep: one k=5 fit over the IG-pipeline document vectors
    # (whose 1-row totals broadcast is the allowlisted BNLJ), scored by
    # the same weighted-entropy aggregate each sweep step runs
    vec = _document_feature_vectors(spark, SMOKE_SF_DIR)
    score = weighted_average_entropy(
        kmeans_assign(vec, k=5), "cluster", "label"
    )
    _lint_plan("kmeans_k_sweep", fmt_plan(score), bnlj_ok=True)


@pytest.mark.parametrize("name", sorted(set(CATALOG) - SKIP_SLOW))
def test_no_unplanned_nested_loops(spark, name):
    plan = fmt_plan(CATALOG[name].spark(spark, SMOKE_SF_DIR))
    assert "CartesianProduct" not in plan, f"{name} plans a cartesian product"
    if name not in BNLJ_ALLOWED:
        assert (
            "BroadcastNestedLoopJoin" not in plan
        ), f"{name} plans an unallowlisted nested-loop join"
    if name not in GLOBAL_WINDOW_ALLOWED:
        findings = global_window_findings(plan)
        assert not findings, (
            f"{name} plans an unpartitioned window over an unbounded "
            f"frame (single-task global sort at scale): {findings}"
        )
