"""Benchmark harness: times the headline catalog queries and prints
two JSON lines.

What it measures:

* every query in ``HEADLINE`` (or the names in
  ``$SPARK_GRAFT_BENCH_ONLY=a,b,c``, which may include non-headline
  catalog entries), forced end to end with the ``noop`` sink: every
  output column is computed, nothing is written or collected;
* queries run in fixed-order groups of ``GROUP_SIZE``, each group in
  its own subprocess JVM, so a long-lived JVM's code-cache and heap
  state cannot tax the late queries, and a new headline entry only
  moves the last group.  A failed worker is retried once in a fresh
  subprocess; a second failure measures the group in this process and
  lists its queries in ``fallback_queries``;
* inside a worker, each query runs once at sf0.001 (warm-up), then
  ``N_RUNS`` times at ``$SPARK_GRAFT_SF_DIR`` (default
  /root/testdata/sf0.1): the record is the median with its
  [min, max].  Tracked caches are released and a JVM GC is hinted after
  every run;
* scaling: each query (except ``FIXED_CORPUS``) is also measured
  ``N_RUNS`` times at the sibling sf0.001 and sf0.01 directories and,
  for ``SF1_FAMILY``, at ``$SPARK_GRAFT_SF1_DIR`` when set
  (scripts/make_sf1.py).  The exponent is the log-log slope between the
  two largest scale factors; its interval comes from the min/max runs
  at those two.

What it prints:

1. the full payload (medians, spreads, per-SF scaling map, exponents
   and intervals, groups, fallbacks) as one JSON line, also written to
   ``BENCH_FULL.json`` next to this file unless
   ``$SPARK_GRAFT_BENCH_ONLY`` is set;
2. as the LAST line, a compact summary of at most 1,950 chars (the
   caller keeps only the final 2,000 chars of stdout): ``metric``,
   ``value`` (the total of the per-query medians, seconds), ``unit``,
   ``sf``, ``n_queries``, ``n_runs``, ``jvm_groups``,
   ``worst_exponent`` and its interval, ``fallback_queries`` and the
   per-query medians ``queries`` (centiseconds).  When the line would
   be too long, the fastest queries drop five at a time and
   ``n_queries_omitted`` counts them.

Usage: python bench.py
"""

from __future__ import annotations

import itertools
import json
import math
import os
import statistics
import subprocess
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

#: timed runs per query and scale factor (after one warm-up run)
N_RUNS = 3
#: max queries measured per subprocess JVM
GROUP_SIZE = 12

HEADLINE = [
    # reference-parity core
    "info_gain_topk",
    "scan_filter_project",
    "agg_pricing_summary",
    "join_orders_customer",
    "broadcast_dim_rollup",
    "semi_join_vocab",
    "window_rank_parts",
    "sessionize_events",
    "tumbling_window_events",
    "shingle_documents",
    # training-data-pipeline extensions
    "dedup_exact",
    "minhash_lsh_pairs",
    "minhash_lsh_pairs_fast",
    "token_stats",
    "cosine_topk_bruteforce",
    "ann_lsh_topk",
    "embedding_near_dup",
    "payload_metadata_stats",
    "sliding_window_events",
    "tfidf_top_terms",
    "hypertable_rollup",
    "top_unshipped_revenue",
    # iterative-components and two-phase-scan paths (timed, not just
    # correctness-checked)
    "dedup_cluster_assign_two_phase",
    "sequence_packing",
    # round-3 corpus-filter / RAG pack (span inverted index, bigram-LM
    # shuffle join, pure-map chunking)
    "dup_span_doc_fraction",
    "bigram_lm_perplexity",
    "rag_chunk_windows",
    # round-3 semantic/ingest/mixture pack (cluster-scoped pair join,
    # asymmetric batch-vs-corpus index probe, two-phase seeded shuffle)
    "semantic_dedup_pairs",
    "dedup_incremental_batch",
    "training_shuffle_order",
    # round-4 exact ML twins + sketch pack (Lloyd iteration, fixed-
    # quantizer IVF probe, count-min merge)
    "kmeans_lloyd_step",
    "ivf_ann_topk_fixed",
    "cms_heavy_users",
    # round-5 composed canary (ingest -> minhash -> pairs -> components
    # -> survivors -> retention, one plan)
    "dedup_pipeline_e2e",
    # round-5 similarity additions (weighted inverted-index pairs,
    # PQ-ADC code search)
    "tfidf_cosine_pairs",
    "pq_adc_topk_fixed",
    # round-5 layout/ML/stats additions (double global-rank zone audit,
    # one-plan NB train+score, prefix-sum rank test over a join)
    "zone_map_pruning_audit",
    "nb_gaussian_confusion",
    "mann_whitney_u_test",
    # round-6 additions (ExactSubstr span dedup over the gram inverted
    # index; PageRank iterations over the shingle-overlap graph; the
    # composed curation canary)
    "suffix_dedup_spans",
    "pagerank_dup_graph_exact",
    "corpus_curation_e2e",
    # round-6 session-2 additions (wedge-join link prediction over the
    # min-support graph; the bucketed epsilon-band join primitive)
    "adamic_adar_linkpred",
    "band_join_prices",
    # round-6 session-3 additions (market-basket self-join CF; LM
    # retrieval over the inverted index; rank-stat test via two
    # prefix-sum passes + value joins)
    "item_item_topk_recs",
    "dirichlet_ql_retrieval",
    "spearman_price_quantity",
    # composed canary #3 (five dashboard legs in one plan)
    "bi_dashboard_e2e",
    # round-7 additions (per-row array-arithmetic fingerprinting; the
    # R/S block-window family; the exact NB classifier over the
    # source×vocab broadcast grid; composed canary #4)
    "winnowing_fingerprints",
    "hurst_rescaled_range_daily",
    "multinomial_nb_source_confusion",
    "experiment_readout_e2e",
    # round-8 addition (r7 VERDICT directive #4): the reference feature-
    # selection job END-TO-END on the real api_logs corpus (~224k
    # lines) — api_logs scan -> IG top-2000 -> LIBSVM lines.  The
    # measured figure replaces BASELINE.md's "expected orders of
    # magnitude under the ~3,200-job design" with a number.
    "api_log_feature_job_e2e",
    # round-8 additions (user-partitioned session windows; the char
    # explode + per-doc entropy agg; the e2e multiclass GD step with
    # its two 1-row broadcasts; the edge-support wedge join)
    "bounce_sessions_daily",
    "char_entropy_topdocs",
    "softmax_gd_step_exact",
    "ktruss_edge_support",
    # round-9 additions (the full iterative truss peel — 6 wedge-join
    # rounds with per-round localCheckpoints; the prefix-sum CDF +
    # rank-adjacency W1 integral; the 8-sweep integer IPF over the
    # 25-cell frame; the double-histogram selectivity audit with its
    # two-phase equi-depth rank)
    "ktruss_peel_exact",
    "wasserstein_1d_price_periods",
    "ipf_raking_fixpoint",
    "histogram_selectivity_audit",
    # round-9 second wave (new families): the day-window matrix-profile
    # pair join; the KN model-rollup + two-key scoring joins; the
    # 4-sweep integer HITS chain; the coalition-histogram Shapley
    # algebra; the 3-round Boruvka forest with bounded propagation
    "matrix_profile_daily",
    "kneser_ney_bigram_ppl",
    "hits_bipartite_topk",
    "shapley_channel_attribution",
    "msf_boruvka_dup_graph",
    # round-10 additions: the bounded-relaxation dup-DAG critical
    # path (rides the slimmed 3-shuffle edge builder); the CPM /
    # Markov single-fold plans (the zero-iteration-job shape); the
    # Graham LPT fold; the two per-key replay folds; the quadratic
    # DP folds; the from-scratch HLL register aggregate + merge audit
    "dag_critical_path_dup",
    "dag_task_schedule_critical",
    "markov_absorption_conversion",
    "lpt_makespan_daily",
    "interval_greedy_sessions",
    "token_bucket_throttle_audit",
    "lis_daily_revenue",
    "dtw_month_shape_distance",
    "hll_shingle_estimate",
    "hll_shard_merge_audit",
    # round-10 session-2 additions: the month-frame hull predicate
    # joins; the strip-pruned closest pair (band self-join); the
    # last-greater span self-join; the 1/e replay's partitioned
    # windows; the ski-rental counting rollup; the Kadane 1-row fold;
    # the two due-date sequencing folds over the 1995 day-job frame
    "convex_hull_monthly",
    "closest_pair_strip",
    "stock_span_daily",
    "secretary_stopping_audit",
    "ski_rental_break_even",
    "max_subarray_daily_kadane",
    "edd_lateness_audit",
    "moore_hodgson_late_jobs",
    # round-10 session-2: the cache-replay folds (per-key linear
    # state, the heaviest per-key arithmetic in the replay family)
    "lru_stack_distance_hit_curve",
    "belady_opt_vs_lru_audit",
    # round-10 session-2: the G-S fold + 25-cell preference build
    "stable_matching_segments_regions",
    # round-10 session-2: one-scan pure-map agreement statistics
    "fleiss_kappa_rules",
    "krippendorff_alpha_rules",
    # round-10 session-2: char explode + bounded optimal-merge fold
    "huffman_code_cost_chars",
    # round-10 session-2: hull predicate + hull-vertex pair max
    "farthest_pair_diameter",
    # round-10 session-2: two-slot majority fold + certificate pass
    "boyer_moore_majority_events",
    # round-11 additions: the cross-corpus alignment family — banded
    # MinHash buckets probed by the broadcast eval side, exact-Jaccard
    # scoring of the candidate set, and the exhaustive-truth recall
    # audit (the heaviest leg: a full train-gram x eval-gram probe)
    "eval_contamination_bestmatch",
    "eval_lsh_recall_audit",
    # round-11 session-2: the calendar-bounded pair-slope join + two
    # two-phase global ranks; the per-doc LZ78 parse fold; the
    # per-pair Levenshtein DP riding the gram inverted index; the
    # 1-row knapsack fold with its certificate chain
    "theil_sen_slope_daily",
    "lz78_doc_compressibility",
    "edit_distance_dup_pairs",
    "knapsack_day_budget_audit",
    # round-11 session-3: the Arrow prefix-min fast path beside the
    # fold (same oracle; the gap IS the measured fold-vs-Arrow story)
    "edit_distance_dup_pairs_fast",
    # round-11 session-3: the windowed greedy matcher fold riding the
    # same candidate pairs
    "jaro_winkler_dup_pairs",
    # round-11 session-3: the cross-metric tau synthesis (rides the
    # Arrow fast path; its oracle refolds the expression DP)
    "jaccard_vs_edit_tau",
]

#: queries over a FIXED corpus (the real api_logs where present, else
#: the generated one, plans/catalog.py::API_LOG_ROOT) — sf_dir is
#: ignored, so per-SF scaling legs would measure the same work thrice;
#: they get a headline median + spread but no exponent.
FIXED_CORPUS = {"api_log_feature_job_e2e"}

#: queries with an extra synthetic-sf1 scaling leg when
#: $SPARK_GRAFT_SF1_DIR is set (scripts/make_sf1.py)
SF1_FAMILY = {
    "dedup_cluster_assign_two_phase",
    "dedup_incremental_batch",
    "dup_span_doc_fraction",
    "minhash_lsh_pairs",
    "semantic_dedup_pairs",
    "dedup_pipeline_e2e",
    # round-8 additions: the two priciest new headline entries get the
    # out-of-grid decade too (wedge-join graph family; char explode)
    "ktruss_edge_support",
    "char_entropy_topdocs",
    # round-9: the full peel rides the same capped graph as the
    # edge-support pass — its sf1 leg shows the per-round thinning
    "ktruss_peel_exact",
    # round-10 (r9 VERDICT directive #4): the round-9 heavyweights get
    # the out-of-grid decade — capped-graph thinning (Boruvka), the
    # distinct-edge HITS sweeps, and the bigram-type sublinearity
    "msf_boruvka_dup_graph",
    "hits_bipartite_topk",
    "kneser_ney_bigram_ppl",
}


# --------------------------------------------------------------------------
# worker: measure one group of queries in THIS process's JVM
# --------------------------------------------------------------------------


def _measure_group(names: list[str], sf_dir: str, sf: str) -> dict:
    from big_data_virus_analysis_spark.operators.caching import (
        release_tracked_caches,
    )
    from big_data_virus_analysis_spark.plans.catalog import CATALOG
    from big_data_virus_analysis_spark.session import get_spark

    spark = get_spark("bdva-bench")
    spark.sparkContext.setLogLevel("ERROR")

    def _run_once(name: str, d: str) -> float:
        t0 = time.perf_counter()
        CATALOG[name].spark(spark, d).write.format("noop").mode(
            "overwrite"
        ).save()
        dt = time.perf_counter() - t0
        release_tracked_caches()
        spark.catalog.clearCache()
        try:
            spark._jvm.System.gc()
        except Exception:
            pass
        return dt

    def _timed(name: str, d: str) -> tuple[float, list[float]]:
        """Median and [min, max] of N_RUNS runs."""
        runs = [_run_once(name, d) for _ in range(N_RUNS)]
        return round(statistics.median(runs), 3), [round(min(runs), 3), round(max(runs), 3)]

    names = [n for n in names if n in CATALOG]

    # Warm-up: run every plan once at sf0.001 so the measured window
    # times execution, not one-time JVM start-up and whole-stage codegen
    # compilation (per plan shape).
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    for name in names:
        _run_once(name, "/root/testdata/sf0.001")

    timings: dict[str, float] = {}
    spread: dict[str, list[float]] = {}
    for name in names:
        timings[name], spread[name] = _timed(name, sf_dir)

    # Scaling curve: median of N_RUNS at every scale factor (the sf0.001
    # warm-up above doubles as each query's warm-up run).
    sf1_dir = os.environ.get("SPARK_GRAFT_SF1_DIR", "")
    base = os.path.dirname(sf_dir.rstrip("/")) or "/root/testdata"
    extra = {s: os.path.join(base, f"sf{s}") for s in ("0.001", "0.01") if s != sf}
    scaling: dict[str, dict[str, float]] = {}
    scaling_spread: dict[str, dict[str, list[float]]] = {}
    exponents: dict[str, float] = {}
    exponent_interval: dict[str, list[float]] = {}
    for name in names:
        if name in FIXED_CORPUS:
            continue
        legs = dict(extra)
        if sf1_dir and name in SF1_FAMILY:
            legs["1"] = sf1_dir
        per = {sf: timings[name]}
        per_spread = {sf: spread[name]}
        for s, d in legs.items():
            if os.path.isdir(d):
                per[s], per_spread[s] = _timed(name, d)
        sfs = sorted(per, key=float)
        scaling[name] = {k: per[k] for k in sfs}
        scaling_spread[name] = {k: per_spread[k] for k in sfs}
        if len(sfs) < 2:
            continue
        s1, s2 = sfs[-2], sfs[-1]
        denom = math.log(float(s2) / float(s1))
        if per[s1] > 0 and per[s2] > 0:
            exponents[name] = round(math.log(per[s2] / per[s1]) / denom, 2)
            lo1, hi1 = per_spread[s1]
            lo2, hi2 = per_spread[s2]
            if hi1 > 0 and lo2 > 0:
                exponent_interval[name] = [
                    round(math.log(lo2 / hi1) / denom, 2),
                    round(math.log(hi2 / lo1) / denom, 2),
                ]

    return {
        "spread": spread,
        "scaling": scaling,
        "scaling_spread": scaling_spread,
        "queries": timings,
        "scaling_exponent": exponents,
        "exponent_interval": exponent_interval,
    }


def _worker_main(out_path: str, sf_dir: str, sf: str) -> None:
    names = os.environ["SPARK_GRAFT_BENCH_NAMES"].split(",")
    with open(out_path, "w") as f:
        json.dump(_measure_group(names, sf_dir, sf), f)


# --------------------------------------------------------------------------
# parent: spawn one JVM per group, merge, print
# --------------------------------------------------------------------------


def _spawn_worker(group: list[str]) -> dict | None:
    """Measure ``group`` in a fresh subprocess JVM; returns the worker's
    result dict, or None on failure."""
    with tempfile.NamedTemporaryFile(suffix=".bench.json", delete=False) as tf:
        out_path = tf.name
    env = dict(os.environ, SPARK_GRAFT_BENCH_NAMES=",".join(group))
    proc = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--worker-out", out_path],
        env=env,
        stdout=subprocess.DEVNULL,
        stderr=subprocess.DEVNULL,
    )
    try:
        if proc.returncode == 0 and os.path.getsize(out_path) > 0:
            with open(out_path) as f:
                return json.load(f)
        return None
    finally:
        try:
            os.unlink(out_path)
        except OSError:
            pass


def _compact_line(payload: dict, cap: int = 1950) -> str:
    """The compact summary of ``payload`` as one JSON line of at most
    ``cap`` chars.  While the line is too long, the five fastest
    entries left in ``queries`` drop and ``n_queries_omitted`` counts
    every drop; once ``queries`` is empty the line ships as it is."""
    timings = payload["queries"]
    exponents = payload["scaling_exponent"]
    worst = max(exponents, key=exponents.get) if exponents else None
    compact = {
        "metric": payload["metric"],
        "value": payload["value"],
        "unit": payload["unit"],
        "sf": payload["sf"],
        "n_queries": len(timings),
        "n_runs": payload["n_runs"],
        "jvm_groups": payload["n_groups"],
        "worst_exponent": exponents.get(worst),
        "worst_exponent_interval": payload["exponent_interval"].get(worst),
        "fallback_queries": payload["fallback_queries"],
        "queries": {q: round(v, 2) for q, v in timings.items()},
    }
    fastest_first = iter(sorted(timings, key=timings.get))
    line = json.dumps(compact, separators=(",", ":"))
    while len(line) > cap and compact["queries"]:
        for q in itertools.islice(fastest_first, 5):
            del compact["queries"][q]
        compact["n_queries_omitted"] = len(timings) - len(compact["queries"])
        line = json.dumps(compact, separators=(",", ":"))
    return line


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]

    if len(sys.argv) >= 3 and sys.argv[1] == "--worker-out":
        _worker_main(sys.argv[2], sf_dir, sf)
        return

    names = list(HEADLINE)
    only = os.environ.get("SPARK_GRAFT_BENCH_ONLY", "")
    if only:
        chosen = [c for c in only.split(",") if c]
        names = [n for n in names if n in chosen] + [
            c for c in chosen if c not in names
        ]
    groups = [names[i : i + GROUP_SIZE] for i in range(0, len(names), GROUP_SIZE)]

    merged: dict = {
        "spread": {},
        "scaling": {},
        "scaling_spread": {},
        "queries": {},
        "scaling_exponent": {},
        "exponent_interval": {},
    }
    fallback_queries: list[str] = []
    for gi, group in enumerate(groups):
        part = _spawn_worker(group)
        if part is None:
            print(
                f"bench: worker group {gi} failed; retrying in a fresh subprocess",
                file=sys.stderr,
            )
            part = _spawn_worker(group)
        if part is None:
            print(
                f"bench: worker group {gi} failed twice; measuring it "
                "in-process (listed in fallback_queries)",
                file=sys.stderr,
            )
            part = _measure_group(group, sf_dir, sf)
            fallback_queries.extend(group)
        for key in merged:
            merged[key].update(part[key])

    payload = {
        "metric": "headline_queries_total",
        "unit": "sec",
        "n_runs": N_RUNS,
        "group_size": GROUP_SIZE,
        "n_groups": len(groups),
        **merged,
        "fallback_queries": fallback_queries,
        "value": round(sum(merged["queries"].values()), 3),
        "sf": float(sf),
    }
    # a partial run (SPARK_GRAFT_BENCH_ONLY) must not overwrite the full
    # working record
    if not only:
        try:
            with open(
                os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_FULL.json"),
                "w",
            ) as f:
                json.dump(payload, f, indent=1)
        except OSError:
            pass  # read-only checkout: stdout still carries everything
    print(json.dumps(payload))
    print(_compact_line(payload))


if __name__ == "__main__":
    main()
