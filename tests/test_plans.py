"""Physical-plan shape assertions — the 100 TB design checks.

Correct results are necessary but not sufficient: these tests pin the
*plan* properties that make the queries survive a 1000-executor scale-up
(SURVEY.md §4.3): filters and projections reach the parquet scan,
small dimensions broadcast, global top-k plans TakeOrderedAndProject
(never a full sort), aggregates keep map-side partial aggregation, and
hot paths stay inside whole-stage codegen.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from big_data_virus_analysis_spark.plans.catalog import CATALOG

from conftest import SMOKE_SF_DIR


def fmt_plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


@pytest.fixture(scope="module")
def plan_of(spark):
    def _plan(name: str) -> str:
        return fmt_plan(CATALOG[name].spark(spark, SMOKE_SF_DIR))

    return _plan


def test_filter_and_projection_reach_scan(plan_of):
    plan = plan_of("scan_filter_project")
    assert "PushedFilters: [" in plan
    assert "l_discount" in plan.split("PushedFilters")[1].split("]")[0]
    # projection pruned to the 4 referenced columns, not all 16
    read_schema = plan.split("ReadSchema")[1].splitlines()[0]
    for col in ("l_orderkey", "l_linenumber", "l_extendedprice", "l_discount"):
        assert col in read_schema
    assert "l_comment" not in read_schema


def test_dimension_joins_broadcast(plan_of):
    plan = plan_of("broadcast_dim_rollup")
    # tree nodes render as "BroadcastHashJoin Inner BuildRight (id)";
    # the detail section repeats the name, so count tree lines only
    assert plan.count("BroadcastHashJoin Inner") == 2
    assert "SortMergeJoin" not in plan


def test_semi_join_is_broadcast_semi(plan_of):
    plan = plan_of("semi_join_vocab")
    assert "LeftSemi" in plan
    assert "BroadcastHashJoin" in plan


def test_topk_plans_take_ordered(plan_of):
    plan = plan_of("topk_orders")
    assert "TakeOrderedAndProject" in plan
    # no global Sort node — top-k must not totally sort the table
    assert "Sort [" not in plan


def test_agg_keeps_partial_aggregation(spark, plan_of):
    plan = plan_of("agg_pricing_summary")
    # partial + final hash aggregate pair around the exchange (tree
    # nodes carry an "(id)" suffix; details repeat the name)
    assert plan.count("HashAggregate (") == 2
    # the map-side pass must compute partial aggregates pre-shuffle
    assert "partial_sum" in plan and "partial_count" in plan
    # whole-stage codegen compiles the agg pipeline (codegen explain
    # mode reports the subtrees even before AQE finalizes the plan)
    df = CATALOG["agg_pricing_summary"].spark(spark, SMOKE_SF_DIR)
    codegen = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "codegen"
    )
    assert "WholeStageCodegen" in codegen


def test_info_gain_single_corpus_scan(plan_of):
    """The flagship query must scan `documents` exactly twice (doc-freq
    branch + totals branch), never per-document (the reference ran 1,604
    per-file jobs — SURVEY.md §4.2.1)."""
    plan = plan_of("info_gain_topk")
    assert plan.count("Scan parquet (") <= 2


def test_events_scans_prune_columns(plan_of):
    plan = plan_of("count_by_value")
    read_schema = plan.split("ReadSchema")[1].splitlines()[0]
    assert "props" not in read_schema  # wide string column not read


def test_rollup_is_one_expand_one_shuffle(plan_of):
    """Grouping sets must compile to a single Expand + one aggregation
    pair — NOT one aggregate per grouping set unioned together."""
    plan = plan_of("rollup_pricing")
    tree = plan.split("== Initial Plan ==")[0]
    assert tree.count("Expand (") == 1
    assert tree.count("HashAggregate (") == 2  # partial + final
    assert "Union" not in tree


def test_cube_is_one_expand_one_shuffle(plan_of):
    plan = plan_of("cube_order_priorities")
    tree = plan.split("== Initial Plan ==")[0]
    assert tree.count("Expand (") == 1
    assert "Union" not in tree


def test_pivot_has_no_value_discovery_job(plan_of):
    """Explicit pivot values → pure aggregation plan: a cardinality-
    reducing pre-agg on (row key, pivot key), then the pivot agg over
    that tiny intermediate.  No join per value, no value-discovery
    subquery — two agg pairs and nothing else."""
    plan = plan_of("pivot_order_counts")
    tree = plan.split("== Initial Plan ==")[0]
    assert tree.count("HashAggregate (") == 4  # (partial+final) × 2 levels
    assert tree.count("Exchange (") == 2
    assert "Join" not in tree and "Subquery" not in tree


def test_ivf_probe_join_broadcasts(spark):
    """IVF candidate join must broadcast the tiny probe side; the corpus
    side must never be broadcast or nested-loop joined."""
    from big_data_virus_analysis_spark.operators.similarity import ivf_topk
    from big_data_virus_analysis_spark.sources.tables import load_table

    df = ivf_topk(load_table(spark, SMOKE_SF_DIR, "embeddings"), n_queries=5, k=3)
    plan = fmt_plan(df)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_salted_agg_partials_before_shuffle(plan_of):
    plan = plan_of("salted_user_totals")
    assert "partial_sum" in plan and "partial_count" in plan


def test_dup_ngram_fraction_is_shuffle_free(plan_of):
    """The repetition score claims to be a pure map over the scan —
    no Exchange may appear anywhere in the plan (the fan_out guard is
    not used here; grams stay arrays, never rows)."""
    plan = plan_of("dup_ngram_fraction")
    assert "Exchange" not in plan, "dup_ngram_fraction must not shuffle"
    assert "Generate" not in plan, "grams must not be exploded into rows"


def test_first_last_touch_single_agg_pass(plan_of):
    """Struct-min/max attribution is ONE aggregation pass: partial +
    final aggregate around a single shuffle on user_id, and no Window.
    (Struct-typed min/max buffers plan as SortAggregate — the sorts are
    within-partition on the group key, not a global sort.)"""
    plan = plan_of("first_last_touch")
    assert plan.count("Exchange") <= 2  # shuffle + AQE read
    assert "Window" not in plan
    # partial + final aggregate instances (map-side combine present)
    import re

    assert len(re.findall(r"\(\d+\) (?:Sort|Hash|ObjectHash)Aggregate", plan)) >= 2


def test_join_shapes_are_bloom_filter_eligible(spark):
    """At cluster scale (shuffle join, TB-sized fact side) Catalyst
    injects a runtime Bloom filter from a filtered dim side into the
    fact scan — IF the join shape allows it.  The engine's plain
    equi-join shapes must stay eligible: with the size thresholds set
    to cluster-like ratios, the optimized plan must carry a
    bloom_filter aggregate + might_contain probe.  (At test scale the
    dim side broadcasts and no bloom is needed — that path is covered
    by the broadcast assertions above.)"""
    import io
    from contextlib import redirect_stdout

    from big_data_virus_analysis_spark.sources.tables import load_table

    from conftest import SF_DIR

    saved = {
        k: spark.conf.get(k)
        for k in (
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "0",
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        li = load_table(spark, SF_DIR, "lineitem")
        orders = load_table(spark, SF_DIR, "orders").where(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy("o_orderpriority")
            .agg(F.count("*").alias("n"))
        )
        buf = io.StringIO()
        with redirect_stdout(buf):
            j.explain(True)
        plan = buf.getvalue()
        assert "might_contain" in plan, "join shape lost bloom-filter eligibility"
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_pair_generators_materialize_once(spark):
    """The materialize-once contract (operators/dedup.py): every pair
    generator self-joins a cached derived frame, so BOTH join branches
    must read the InMemoryRelation (>=2 InMemoryTableScan nodes in the
    plan) instead of replaying the gram/signature derivation — AQE's
    broadcast conversion defeats ReusedExchange, so dropping the cache
    silently doubles the most expensive stage."""
    from big_data_virus_analysis_spark.operators.dedup import (
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
        simhash_pairs,
    )
    from big_data_virus_analysis_spark.operators.graph import copurchase_edges
    from big_data_virus_analysis_spark.sources.tables import load_table

    docs = load_table(spark, SMOKE_SF_DIR, "documents")
    li = load_table(spark, SMOKE_SF_DIR, "lineitem")
    from big_data_virus_analysis_spark.operators.text_quality import (
        fingerprint_overlap_pairs,
    )

    cases = {
        "minhash_lsh_pairs": minhash_lsh_pairs(docs),
        "fingerprint_overlap_pairs": fingerprint_overlap_pairs(docs),
        "ngram_jaccard_pairs": ngram_jaccard_pairs(docs),
        "simhash_pairs": simhash_pairs(docs),
        "copurchase_edges": copurchase_edges(li),
    }
    try:
        for name, df in cases.items():
            plan = fmt_plan(df)
            n = plan.count("InMemoryTableScan")
            assert n >= 2, f"{name}: {n} InMemoryTableScan nodes — cache dropped?"
    finally:
        spark.catalog.clearCache()


def test_gopher_flags_plan_is_pure_map(plan_of):
    """The Gopher rule battery must stay a pure map over the scan —
    zero Exchanges of any kind (the whole point of per-row array math)."""
    plan = plan_of("gopher_quality_flags")
    assert "Exchange" not in plan, "gopher_quality_flags grew a shuffle"


def test_mixture_weights_single_corpus_scan(spark):
    """domain_mixture_weights' 1-row normalizer must reuse the cached
    per-source aggregate, not re-scan the corpus: exactly one parquet
    scan in the plan, both join branches on InMemoryTableScan."""
    try:
        plan = fmt_plan(CATALOG["domain_mixture_weights"].spark(spark, SMOKE_SF_DIR))
        # both join branches read the cache (the cached subtree's own
        # lineage still RENDERS its parquet scan, so count cache reads,
        # not scan strings)
        assert plan.count("InMemoryTableScan") >= 2
    finally:
        spark.catalog.clearCache()


def test_incremental_dedup_gram_indexes_cached(spark):
    """Both gram inverted indexes (batch + corpus) feed multiple
    consumers (sizes + intersection join) — they must read from cache,
    not replay the explode (materialize-once contract)."""
    try:
        plan = fmt_plan(CATALOG["dedup_incremental_batch"].spark(spark, SMOKE_SF_DIR))
        assert plan.count("InMemoryTableScan") >= 3
    finally:
        spark.catalog.clearCache()


def test_semantic_dedup_pair_join_on_cluster_key(spark):
    """SemDeDup's pair join must be an equi-join on the cluster id over
    the CACHED assignment (both branches InMemoryTableScan) — never a
    nested-loop over the corpus."""
    try:
        plan = fmt_plan(CATALOG["semantic_dedup_pairs"].spark(spark, SMOKE_SF_DIR))
        assert plan.count("InMemoryTableScan") >= 2
        # the only BNLJ allowed is the tiny centroid broadcast INSIDE the
        # cached assignment's lineage; the pair join itself is hash/SMJ
        after_cache = plan.split("InMemoryRelation")[0]
        assert "BroadcastNestedLoopJoin" not in after_cache
    finally:
        spark.catalog.clearCache()


def test_lloyd_step_broadcasts_centroids(plan_of):
    """The Lloyd assignment must broadcast the k-row centroid table onto
    the corpus scan (never shuffle the corpus by anything but vec_id)
    and prune the embeddings scan to the needed columns."""
    plan = plan_of("kmeans_lloyd_step")
    # the k-row centroid table (filtered scan) rides a BroadcastExchange
    # into the corpus-side cross join; the corpus itself is never the
    # build side
    assert "BroadcastExchange" in plan
    assert "BuildRight" in plan
    # the argmin runs as a rank-limited window (WindowGroupLimit pushes
    # the rn=1 cut below the full window sort)
    assert "WindowGroupLimit" in plan


def test_ivf_fixed_probe_is_broadcast_hash_join_on_cell(plan_of):
    """The IVF candidate probe joins candidates to the (tiny, broadcast)
    probe table on the cell key — a BroadcastHashJoin, never a
    nested-loop over all (query, candidate) pairs."""
    plan = plan_of("ivf_ann_topk_fixed")
    assert "BroadcastHashJoin" in plan
    assert "cell" in plan


def test_exact_auc_groups_before_global_scan(plan_of):
    """fixed_scorer_auc aggregates scores BEFORE any ordered pass: the
    only shuffle of corpus-sized data is the score groupBy (partial agg
    present); the cumulative count runs on the distinct-score frame via
    the two-phase scan (no single-partition global window)."""
    plan = plan_of("fixed_scorer_auc")
    assert "partial_sum" in plan
    assert "Window [" not in plan or "partitionBy" not in plan.lower()


def test_e2e_pipeline_signature_materializes_once(spark):
    """dedup_pipeline_e2e's pair stage (minhash k=16/4-band) must read
    its cached signature frame from BOTH band-join branches — the
    composed pipeline inherits the materialize-once contract across
    stage boundaries (the round-4 regression suspect), so the signature
    derivation may appear in the plan exactly once."""
    from big_data_virus_analysis_spark.operators.dedup import minhash_lsh_pairs
    from big_data_virus_analysis_spark.plans.round5_ops import _E2E_BANDS, _E2E_K
    from big_data_virus_analysis_spark.sources.tables import load_table

    docs = load_table(spark, SMOKE_SF_DIR, "documents")
    try:
        pairs = minhash_lsh_pairs(docs, n=3, k=_E2E_K, bands=_E2E_BANDS)
        plan = fmt_plan(pairs)
        n = plan.count("InMemoryTableScan")
        assert n >= 2, f"e2e pair stage: {n} InMemoryTableScan — cache dropped?"
    finally:
        spark.catalog.clearCache()


def test_udtf_chunk_windows_plan_shows_udtf(spark):
    """The UDTF twin must actually execute through the Python UDTF
    surface (BatchEvalPythonUDTF / ArrowEvalPythonUDTF operator), not
    get rewritten away."""
    plan = fmt_plan(CATALOG["udtf_chunk_windows"].spark(spark, SMOKE_SF_DIR))
    assert "PythonUDTF" in plan, plan


def test_tfidf_pairs_stage_materializes_once(spark):
    """tfidf_cosine_pairs' weighted posting frame feeds the norm
    aggregate and BOTH pair-join sides; the term frame feeds df counts
    and the weighting join — each must come from cache (>=2
    InMemoryTableScan), not a replayed tokenize/shuffle."""
    from big_data_virus_analysis_spark.operators.caching import (
        release_tracked_caches,
    )

    try:
        plan = fmt_plan(CATALOG["tfidf_cosine_pairs"].spark(spark, SMOKE_SF_DIR))
        n = plan.count("InMemoryTableScan")
        assert n >= 3, f"tfidf pair stage: {n} InMemoryTableScan — cache dropped?"
    finally:
        release_tracked_caches()
        spark.catalog.clearCache()


def test_smj_hint_forces_sort_merge_join(plan_of):
    """hint('merge') must override the optimizer's broadcast choice —
    the plan the query exists to pin (TB-sized dimension regime)."""
    plan = plan_of("smj_hint_rollup")
    assert "SortMergeJoin" in plan
    assert "BroadcastHashJoin" not in plan


def test_bloom_prefilter_probe_is_broadcast_hash_join(plan_of):
    """The Bloom bit-set is the broadcast side of the probe join — the
    whole point of the prefilter is that the big (probe) side is never
    shuffled, and membership never degenerates to a nested loop."""
    plan = plan_of("bloom_semi_join_audit")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_nb_stats_join_broadcasts(plan_of):
    """Gaussian-NB scoring joins the (classes x dims) stats frame onto
    the test elements via broadcast, with map-side partial aggregation
    on the per-(vec, class) log-likelihood sum."""
    plan = plan_of("nb_gaussian_confusion")
    assert "BroadcastHashJoin" in plan
    assert "partial_" in plan


def test_containment_gram_index_materializes_once(spark):
    """containment_pairs reads its cached shingle index from BOTH sides
    of the inverted-index self-join (the dedup-family materialize-once
    contract) instead of replaying tokenize+explode per branch."""
    from big_data_virus_analysis_spark.operators.caching import (
        release_tracked_caches,
    )

    try:
        plan = fmt_plan(CATALOG["containment_pairs"].spark(spark, SMOKE_SF_DIR))
        n = plan.count("InMemoryTableScan")
        assert n >= 2, f"containment gram index: {n} InMemoryTableScan"
    finally:
        release_tracked_caches()
        spark.catalog.clearCache()


def test_ivm_partition_filters_reach_scan(plan_of):
    """IVM's base/delta split must prune at the parquet scan on BOTH
    branches — at 100 TB this filter IS the optimization (the base
    partition is the one you refuse to rescan)."""
    plan = plan_of("ivm_merge_rollup")
    assert "GreaterThanOrEqual(o_orderdate" in plan
    assert "LessThan(o_orderdate" in plan


def test_mann_whitney_keeps_partial_aggregation(plan_of):
    """The rank test's distinct-value aggregation keeps map-side
    partials; ranks then live on the (distinct values)-sized frame via
    the two-phase prefix sum — corpus-sized data shuffles once."""
    plan = plan_of("mann_whitney_u_test")
    assert "partial_" in plan


def test_join_strategy_advisor_matches_catalyst(spark):
    """The advisor's broadcast-vs-shuffle verdict must agree with the
    strategy Catalyst actually plans for the same equi-join at the same
    threshold (round-5 judge directive: the planning family's verdicts
    are testable claims, not prose)."""
    from big_data_virus_analysis_spark.plans.round6_planner import (
        _BROADCAST_THRESHOLD,
        _JOINS,
        _q_join_strategy_advisor,
    )
    from big_data_virus_analysis_spark.sources.tables import load_table

    from conftest import SF_DIR

    verdicts = {
        r["join_name"]: (r["strategy"], r["build_side"])
        for r in _q_join_strategy_advisor(spark, SF_DIR).collect()
    }
    saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set(
            "spark.sql.autoBroadcastJoinThreshold", str(_BROADCAST_THRESHOLD)
        )
        for name, lt, lk, rt, rk in _JOINS:
            l = load_table(spark, SF_DIR, lt)
            r = load_table(spark, SF_DIR, rt)
            plan = fmt_plan(l.join(r, l[lk] == r[rk]))
            strategy, _build = verdicts[name]
            if strategy == "broadcast":
                assert "BroadcastHashJoin" in plan, (
                    f"{name}: advisor says broadcast, Catalyst planned\n{plan}"
                )
            else:
                assert "BroadcastHashJoin" not in plan, (
                    f"{name}: advisor says shuffle, Catalyst broadcast\n{plan}"
                )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)


def test_suffix_dedup_spans_stays_partitioned(plan_of):
    """The ExactSubstr span recovery must never global-sort: the gram
    count is a partial-aggregated hash agg and the islands window is
    PARTITIONED by doc (the catalog-wide global-window lint enforces
    the absence of unpartitioned windows; this pins the partial agg)."""
    plan = plan_of("suffix_dedup_spans")
    assert "partial_" in plan


def test_topk_queries_plan_take_ordered(plan_of):
    """Every round-6 top-k ends in TakeOrderedAndProject (per-partition
    partial top-k, k-row merge) — not a global sort."""
    for name in ("weighted_sample_det", "suffix_lcp_topk"):
        assert "TakeOrderedAndProject" in plan_of(name), name


def test_pagerank_edges_materialize_once(spark):
    """The symmetric edge list feeds the degree aggregate and BOTH
    iterations; tracked_cache must make it materialize once (>=2
    InMemoryTableScan consumers in the physical plan), or each
    iteration replays the full inverted-index pair join."""
    from big_data_virus_analysis_spark.operators.caching import (
        release_tracked_caches,
    )

    try:
        plan = fmt_plan(
            CATALOG["pagerank_dup_graph_exact"].spark(spark, SMOKE_SF_DIR)
        )
        assert plan.count("InMemoryTableScan") >= 2
    finally:
        release_tracked_caches()
        spark.catalog.clearCache()


def test_phrase_index_materializes_once(spark):
    """The positional index feeds three posting-list filters; the
    tracked cache must make it materialize once (>=3 InMemoryTableScan
    consumers), or each phrase term re-explodes the corpus."""
    from big_data_virus_analysis_spark.operators.caching import (
        release_tracked_caches,
    )

    try:
        plan = fmt_plan(
            CATALOG["phrase_search_positional"].spark(spark, SMOKE_SF_DIR)
        )
        assert plan.count("InMemoryTableScan") >= 3
    finally:
        release_tracked_caches()
        spark.catalog.clearCache()


def test_triangle_oriented_edges_materialize_once(spark):
    """The oriented edge list is consumed by the wedge join twice and
    the closing join once; both the undirected edges and the oriented
    frame are tracked-cached so the inverted-index pair join runs
    exactly once."""
    from big_data_virus_analysis_spark.operators.caching import (
        release_tracked_caches,
    )

    try:
        plan = fmt_plan(
            CATALOG["triangle_count_dup_graph"].spark(spark, SMOKE_SF_DIR)
        )
        assert plan.count("InMemoryTableScan") >= 3
    finally:
        release_tracked_caches()
        spark.catalog.clearCache()


def test_adamic_adar_frames_materialize_once(spark):
    """The support-edge frame is consumed by the adjacency union (twice)
    and the non-edge anti-join; the adjacency is consumed by the degree
    agg and both wedge-join sides.  Both are tracked-cached, so neither
    the (order, part) pair join nor the min-support agg replays."""
    from big_data_virus_analysis_spark.operators.caching import (
        release_tracked_caches,
    )

    try:
        plan = fmt_plan(
            CATALOG["adamic_adar_linkpred"].spark(spark, SMOKE_SF_DIR)
        )
        assert plan.count("InMemoryTableScan") >= 4
    finally:
        release_tracked_caches()
        spark.catalog.clearCache()


def test_band_join_is_hash_join_on_bucket(spark):
    """The epsilon-band join must plan as a HASH equi-join on the
    bucket key (neighbor-bucket fan-out + residual filter), never a
    nested loop over the band predicate."""
    plan = fmt_plan(CATALOG["band_join_prices"].spark(spark, SMOKE_SF_DIR))
    assert any(
        j in plan
        for j in ("BroadcastHashJoin", "ShuffledHashJoin", "SortMergeJoin")
    )
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_rocchio_relevant_set_materializes_once(spark):
    """The BM25 top-10 relevant set feeds both the tf join and the
    1-row set-size aggregate; the tracked cache must stop the second
    consumer from replaying the whole BM25 scoring chain."""
    from big_data_virus_analysis_spark.operators.caching import (
        release_tracked_caches,
    )

    try:
        plan = fmt_plan(CATALOG["rocchio_expansion"].spark(spark, SMOKE_SF_DIR))
        assert plan.count("InMemoryTableScan") >= 2
    finally:
        release_tracked_caches()
        spark.catalog.clearCache()


def test_recsys_basket_frame_materializes_once(spark):
    """The distinct (order, part) basket frame feeds the self-join
    twice and the marginals once; the tracked cache must serve all
    three (>=3 InMemoryTableScan consumers) or the distinct shuffle
    replays per consumer."""
    from big_data_virus_analysis_spark.operators.caching import (
        release_tracked_caches,
    )

    try:
        plan = fmt_plan(CATALOG["item_item_topk_recs"].spark(spark, SMOKE_SF_DIR))
        assert plan.count("InMemoryTableScan") >= 3
    finally:
        release_tracked_caches()
        spark.catalog.clearCache()


def test_bi_dashboard_single_fact_scan_per_grain(spark):
    """The dashboard canary derives totals, the monthly frame, and the
    drawdown curve from ONE cached per-day rollup: >=3 InMemoryTableScan
    consumers, and at most TWO scans of the orders parquet in the whole
    plan (the day rollup + the nation leg, which needs the customer
    key)."""
    from big_data_virus_analysis_spark.operators.caching import (
        release_tracked_caches,
    )

    try:
        plan = fmt_plan(CATALOG["bi_dashboard_e2e"].spark(spark, SMOKE_SF_DIR))
        assert plan.count("InMemoryTableScan") >= 3
        assert plan.count("orders.parquet") <= 2, (
            "dashboard legs re-scan the fact table instead of reusing "
            "the cached day frame"
        )
    finally:
        release_tracked_caches()
        spark.catalog.clearCache()


def test_observe_metrics_piggyback(spark):
    """df.observe(Observation, ...) collects row-level metrics ON the
    same action (accumulator-style) — the zero-extra-pass way to get
    ingest counters next to a query's own result.  The observed count
    must equal the action's count, and the sum must match a directly
    computed aggregate."""
    from pyspark.sql import Observation

    obs = Observation("ingest_stats")
    base = CATALOG["scan_filter_project"].spark(spark, SMOKE_SF_DIR)
    watched = base.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.length(F.col(base.columns[0]).cast("string"))).alias("key_bytes"),
    )
    n = watched.count()
    got = obs.get
    assert got["n_rows"] == n
    direct = base.agg(
        F.sum(F.length(F.col(base.columns[0]).cast("string")))
    ).first()[0]
    assert got["key_bytes"] == direct


def test_star_join_all_dims_broadcast(spark):
    """The 4-table star rollup must broadcast EVERY dimension: one fact
    scan, zero shuffle joins (BroadcastHashJoin only), no
    SortMergeJoin / ShuffledHashJoin anywhere in the plan."""
    plan = fmt_plan(CATALOG["star_join_region_priority"].spark(spark, SMOKE_SF_DIR))
    assert plan.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan
    assert plan.count("orders.parquet") == 1


def test_experiment_readout_single_fact_scan(spark):
    """Composed canary #4: the readout touches the orders fact exactly
    once (one (arm)-keyed aggregate feeds both metric legs); the
    customer dim may appear twice (SRM leg + arm broadcast)."""
    plan = fmt_plan(CATALOG["experiment_readout_e2e"].spark(spark, SMOKE_SF_DIR))
    assert plan.count("orders.parquet") == 1, (
        "readout legs re-scan the orders fact instead of sharing the "
        "per-arm aggregate"
    )


def test_hilbert_curve_bijective_and_adjacent(spark):
    """The 8-stage unrolled xy2d transform in plans/round7_layout.py is
    a true Hilbert curve on the full 256x256 band grid: bijective onto
    0..65535 and every consecutive pair of curve positions is exactly
    one grid step apart (the locality guarantee the zone audit relies
    on)."""
    from big_data_virus_analysis_spark.plans.round7_layout import (
        _N,
        hilbert_stages,
    )

    grid = (
        spark.range(_N * _N)
        .select(
            (F.col("id") / _N).cast("long").alias("ck_band"),
            (F.col("id") % _N).alias("dt_band"),
        )
    )
    rows = hilbert_stages(grid, "ck_band", "dt_band", "hd").collect()
    pos = {r["hd"]: (r["ck_band"], r["dt_band"]) for r in rows}
    assert len(pos) == _N * _N
    assert min(pos) == 0 and max(pos) == _N * _N - 1
    import random

    rng = random.Random(7)
    for d in rng.sample(range(_N * _N - 1), 2000):
        (x1, y1), (x2, y2) = pos[d], pos[d + 1]
        assert abs(x1 - x2) + abs(y1 - y2) == 1, (d, pos[d], pos[d + 1])


def test_api_log_feature_job_tokens_materialize_once(spark):
    """round-8 e2e: the api-log token explode feeds BOTH the IG vocab
    ranking and the vectorize probe; tracked_cache must make it
    materialize once (>=2 InMemoryTableScan consumers), or the corpus
    re-tokenizes per branch."""
    from big_data_virus_analysis_spark.operators.caching import (
        release_tracked_caches,
    )

    try:
        plan = fmt_plan(
            CATALOG["api_log_feature_job_e2e"].spark(spark, SMOKE_SF_DIR)
        )
        assert plan.count("InMemoryTableScan") >= 2
    finally:
        release_tracked_caches()
        spark.catalog.clearCache()


def test_round8_graph_frames_materialize_once(spark):
    """round-8 graph pack: the shared edge + adjacency frames feed the
    edge-support wedge join (two adjacency probes) and the histogram
    re-attach; both must come from the cache (>=4 InMemoryTableScan:
    2x adjacency, 2x edges)."""
    from big_data_virus_analysis_spark.operators.caching import (
        release_tracked_caches,
    )

    try:
        plan = fmt_plan(CATALOG["ktruss_edge_support"].spark(spark, SMOKE_SF_DIR))
        assert plan.count("InMemoryTableScan") >= 4
    finally:
        release_tracked_caches()
        spark.catalog.clearCache()


def test_rich_club_rank_frame_broadcasts(spark):
    """round-8: the 16-row rank frame must reach the edge probe as a
    broadcast (2x BroadcastHashJoin over the marked edges), never a
    shuffle."""
    from big_data_virus_analysis_spark.operators.caching import (
        release_tracked_caches,
    )

    try:
        plan = fmt_plan(
            CATALOG["rich_club_coefficient"].spark(spark, SMOKE_SF_DIR)
        )
        assert plan.count("BroadcastHashJoin") >= 2
    finally:
        release_tracked_caches()
        spark.catalog.clearCache()


def test_ipf_single_fact_scan(plan_of):
    """round9_iter: the whole 4-sweep IPF chain reads orders ZERO times
    in the final plan — the 25-cell base is localCheckpoint'd right
    after the one real scan, and every sweep/history leg is arithmetic
    over checkpointed 25-row frames (without the checkpoints the four
    history legs replayed the fact scan 16×)."""
    for name in ("ipf_raking_fixpoint", "ipf_raking_cells"):
        plan = plan_of(name)
        assert plan.count("orders.parquet") == 0, name
        assert "Scan ExistingRDD" in plan, name  # the checkpointed cells


def test_wasserstein_cdf_frame_cached(plan_of):
    """round9_dist: the per-value cumulative frame feeds BOTH sides of
    the rank-adjacency self-join from the cache — without it each side
    would replay the prefix-sum derivation (the AQE ReusedExchange
    pitfall)."""
    plan = plan_of("wasserstein_1d_price_periods")
    assert plan.count("InMemoryTableScan") >= 2


def test_posting_audit_single_documents_scan(plan_of):
    """round9_planner: the proximity/posting machinery derives df, the
    pairwise intersections, AND the full-AND result from ONE cached
    matched-postings frame — documents is scanned once."""
    plan = plan_of("posting_intersection_order_audit")
    assert plan.count("documents.parquet") == 1
    assert plan.count("InMemoryTableScan") >= 3


def test_matrix_profile_bounded_day_frame(plan_of):
    """round9_motif: the all-pairs exclusion-zone join runs on the
    CALENDAR-DAY window frame (orders collapses to per-day rows before
    pairing — exactly one fact scan per join side, never a row-level
    cross product), and the small side broadcasts (BNLJ on the bounded
    frame is the documented shape)."""
    plan = plan_of("matrix_profile_daily")
    # ONE fact scan: the cached window-stats frame feeds both sides
    assert plan.count("orders.parquet") == 1
    assert plan.count("InMemoryTableScan") >= 2
    assert "BroadcastNestedLoopJoin" in plan


def test_sax_global_moments_broadcast(plan_of):
    """round9_motif: the SAX z-score rides a 1-row (S, Q, n) global-
    moments broadcast onto the bounded day frame — no second pass and
    no global non-window aggregate join by shuffle."""
    plan = plan_of("sax_motif_words")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    # ONE fact scan: the cached indexed day frame feeds moments + z
    assert plan.count("orders.parquet") == 1
    assert plan.count("InMemoryTableScan") >= 2


def test_kneser_ney_single_corpus_scan(plan_of):
    """round9_lm: ONE token-explode pass — the cached (source,w1,w2)
    counts feed the model rollups (c2 -> c1/N1fw/N1bw/B) and the
    scoring join; documents is scanned exactly once and the model
    tables stay distributed (shuffle joins on w1/w2, 1-row B
    broadcast)."""
    for name in ("kneser_ney_bigram_ppl", "kneser_ney_prob_check"):
        plan = plan_of(name)
        assert plan.count("documents.parquet") == 1, name
        assert plan.count("InMemoryTableScan") >= 2, name


def test_hits_chain_checkpointed_single_edge_build(plan_of):
    """round9_hits: the 4-sweep chain replays NEITHER the fact scan
    nor prior sweeps — score frames are localCheckpoint'd per sweep
    (Scan ExistingRDD) and the edge distinct-aggregate is built once
    into the tracked cache (each half-sweep re-reads it from memory)."""
    for name in ("hits_bipartite_topk", "hits_convergence_audit"):
        plan = plan_of(name)
        assert plan.count("lineitem.parquet") == 0, name
        assert "Scan ExistingRDD" in plan, name


def test_caliper_match_equi_join_no_cross(plan_of):
    """round9_causal2: the within-caliper matcher is an EQUI hash/SMJ
    join on the bucket key — the only nested-loop is the 1-row
    n_treated broadcast; treated/control split reads the cached order
    frame, so the orders scan runs once."""
    plan = plan_of("caliper_nn_match_att")
    assert plan.count("orders.parquet") == 1
    assert plan.count("InMemoryTableScan") >= 2
    assert ("BroadcastHashJoin" in plan) or ("SortMergeJoin" in plan)


def test_iv_wald_two_arm_collapse(plan_of):
    """round9_causal2: the IV estimate collapses the fact scan to the
    two instrument arms before any float math — one lineitem scan, one
    hash aggregate chain, no join."""
    plan = plan_of("iv_wald_estimate")
    assert plan.count("lineitem.parquet") == 1
    assert "Join" not in plan


def test_jonckheere_monthly_frame_cached(plan_of):
    """round9_causal2: the (priority x month) frame feeds the pair
    join twice plus the size moments — cached, one orders scan."""
    plan = plan_of("jonckheere_terpstra_priority")
    assert plan.count("orders.parquet") == 1
    assert plan.count("InMemoryTableScan") >= 3


def test_shapley_constant_size_algebra(plan_of):
    """round9_shapley: ONE events scan collapses to the <=16-row
    coalition histogram before any Shapley algebra; the v(S) frame is
    cached for its multiple consumers and the windowed cutoff is
    user-PARTITIONED (no global window)."""
    for name in ("shapley_channel_attribution", "shapley_efficiency_check"):
        plan = plan_of(name)
        assert plan.count("events.parquet") == 1, name
        assert plan.count("InMemoryTableScan") >= 2, name


def test_haar_pyramid_checkpointed(plan_of):
    """round9_wavelet: the final top-k plan reads only checkpointed
    level frames — the 10-level cascade (each level feeding BOTH the
    next level and its detail leg) must not replay the fact scan."""
    plan = plan_of("haar_wavelet_topk")
    assert plan.count("orders.parquet") == 0
    assert "Scan ExistingRDD" in plan
    assert "TakeOrderedAndProject" in plan


def test_ddsketch_single_scan_partial_agg(plan_of):
    """round9_ddsketch: the sketch is ONE map-side-combinable hash
    aggregate over the log-bucket key — a single lineitem scan with
    partial aggregation, and every window downstream runs on the
    bounded bucket frame."""
    plan = plan_of("ddsketch_price_quantiles")
    assert plan.count("lineitem.parquet") == 1
    assert "partial_count" in plan


def test_markov_absorption_single_fold_plan(plan_of):
    """round9_absorb: the 32-sweep Neumann series is ONE aggregate()
    fold over a 1-row array frame — a single linear plan with exactly
    one events scan, no checkpoint scans, and no per-sweep join
    cascade (zero SortMergeJoin/BroadcastHashJoin from sweeps; the
    only join is the cnt/tot attach inside the transition build)."""
    plan = plan_of("markov_absorption_conversion")
    assert plan.count("events.parquet") == 1
    assert "Scan ExistingRDD" not in plan  # nothing checkpointed
    # the fold keeps the sweep loop inside one projection: zero joins
    # (cnt/tot attach is a cur-partitioned window), not a 32-sweep
    # join cascade
    n_joins = plan.count("SortMergeJoin") + plan.count("BroadcastHashJoin")
    assert n_joins == 0
    # the 1-row array collapse (collect_set/collect_list) and the
    # inline() explosion back to rows bracket the fold projection
    assert "ObjectHashAggregate" in plan
    assert "Generate" in plan


def test_msf_boruvka_checkpointed_chain(plan_of):
    """round9_msf: the Borůvka chain runs on checkpointed node-sized
    label/forest frames — the final plan replays neither the documents
    scan nor the gram pair join."""
    plan = plan_of("msf_boruvka_dup_graph")
    assert plan.count("documents.parquet") == 0
    assert "Scan ExistingRDD" in plan
    # the audit's cross-edge legs read the cached edge frame (its
    # build lineage shows the edge builder's TWO documents scans —
    # r11 recomputes the cheap gram explode for the count-agg and
    # survivor-join branches instead of caching the exploded frame,
    # graph_edges.py guide-§5 note) + checkpointed labels.  The
    # invariant that matters: the scan count is a builder CONSTANT,
    # never a function of Borůvka rounds or sweeps.
    plan = plan_of("msf_boruvka_audit")
    assert plan.count("documents.parquet") <= 2
    assert "Scan ExistingRDD" in plan


def test_ransac_constant_hypothesis_join(plan_of):
    """round9_ransac: hypothesis scoring is a broadcast of the ≤16-row
    line table onto the cached bounded day frame — one orders scan,
    constant-size join."""
    plan = plan_of("ransac_line_daily_det")
    assert plan.count("orders.parquet") == 1
    assert "InMemoryTableScan" in plan


def test_james_stein_bounded_combine(plan_of):
    """round9_eb: the shrinkage algebra runs on the cached 5-row
    segment frame (one orders scan; customer broadcasts)."""
    plan = plan_of("james_stein_segment_means")
    assert plan.count("orders.parquet") == 1
    assert "BroadcastHashJoin" in plan
    assert plan.count("InMemoryTableScan") >= 3


def test_good_turing_two_level_agg(plan_of):
    """round9_eb: token hash agg -> frequency-of-frequencies hash agg,
    one documents scan, cached fof frame for its three consumers."""
    plan = plan_of("good_turing_token_mass")
    assert plan.count("documents.parquet") == 1
    assert plan.count("InMemoryTableScan") >= 2


def test_aalen_johansen_no_global_window(plan_of):
    """round9_surv2: every cumulative scan rides the two-phase prefix
    sum — partition-bounded Window nodes only (the range-bucket local
    scans), never an unpartitioned global window (the
    plans/survival.py discipline)."""
    plan = plan_of("aalen_johansen_signup_outcomes")
    assert plan.count("events.parquet") <= 2  # per-user + firsts legs
    from big_data_virus_analysis_spark.plans.plan_lint import (
        global_window_findings,
    )

    assert global_window_findings(plan) == []


def test_ftl_regret_single_scan_day_frame(plan_of):
    """round9_regret: one orders scan collapsing to the day frame;
    the whole game is window arithmetic over that bounded frame and
    one final 1-row aggregate."""
    plan = plan_of("ftl_expert_regret_audit")
    assert plan.count("orders.parquet") == 1


def test_dag_dup_relaxation_checkpointed_chain(plan_of):
    """round10_dag: the dup-DAG relaxation runs on per-round
    checkpointed node-sized state frames riding the cached capped edge
    builder — the final plan replays neither the documents scan nor
    the gram pair comprehension."""
    plan = plan_of("dag_critical_path_dup")
    assert plan.count("documents.parquet") <= 1
    assert "Scan ExistingRDD" in plan
    assert "TakeOrderedAndProject" in plan  # top-10, never a full sort
    from big_data_virus_analysis_spark.plans.plan_lint import (
        global_window_findings,
    )

    assert global_window_findings(plan) == []


def test_dag_task_cpm_single_fold_plan(plan_of):
    """round10_dag: the 4095-task CPM is one lineitem scan collapsing
    to a 1-row array frame, then two fold expressions — zero joins,
    zero checkpoint scans, and the inline() explosion back to rows."""
    plan = plan_of("dag_task_schedule_critical")
    assert plan.count("lineitem.parquet") == 1
    assert "Scan ExistingRDD" not in plan
    n_joins = plan.count("SortMergeJoin") + plan.count("BroadcastHashJoin")
    assert n_joins == 0
    assert "ObjectHashAggregate" in plan  # the map collapse
    assert "Generate" in plan  # inline() back to per-task rows


def test_dp_folds_single_scan_no_joins(plan_of):
    """round10_dp: both DP queries are one orders scan collapsing to a
    1-row array frame, then pure fold projections — zero joins, zero
    checkpoint scans."""
    for name in ("lis_daily_revenue", "dtw_month_shape_distance"):
        plan = plan_of(name)
        assert plan.count("orders.parquet") == 1
        assert "Scan ExistingRDD" not in plan
        n_joins = (
            plan.count("SortMergeJoin") + plan.count("BroadcastHashJoin")
        )
        assert n_joins == 0


def test_geo_pack_bounded_frames_single_scans(plan_of):
    """round10_geo: the hull reads lineitem ONCE into the cached
    month frame (three logical legs, one scan via cache); the strip
    closest-pair reads orders once per phase over the cached day
    frame — both joins run on calendar-bounded frames, never rows."""
    plan = plan_of("convex_hull_monthly")
    assert plan.count("lineitem.parquet") <= 1
    plan2 = plan_of("closest_pair_strip")
    assert plan2.count("orders.parquet") <= 1


def test_online_pack_single_scan_shapes(plan_of):
    """round10_online: ski-rental and Kadane are one events/orders
    scan each; Kadane has zero joins (pure 1-row fold)."""
    assert plan_of("ski_rental_break_even").count("events.parquet") == 1
    kad = plan_of("max_subarray_daily_kadane")
    assert kad.count("orders.parquet") == 1
    assert kad.count("SortMergeJoin") + kad.count("BroadcastHashJoin") == 0


def test_secretary_two_table_join_shape(plan_of):
    """round10_online: the secretary replay is one orders scan joined
    to the broadcast customer dim, then partitioned windows only."""
    plan = plan_of("secretary_stopping_audit")
    assert plan.count("orders.parquet") == 1
    assert "BroadcastHashJoin" in plan


def test_sched2_day_job_frame_shape(plan_of):
    """round10_sched2: both queries build the 1995 day-job frame from
    one orders scan + one lineitem scan (the lead join), then fold or
    window over the calendar-bounded frame."""
    for name in ("edd_lateness_audit", "moore_hodgson_late_jobs"):
        plan = plan_of(name)
        assert plan.count("lineitem.parquet") == 1
        assert "PushedFilters" in plan


def test_cache_pack_single_events_scan_no_windows_sparkside(plan_of):
    """round10_cache: both queries are one events scan + the tiny
    type-code dictionary join; the LRU curve has no corpus-row
    windows on the Spark side (distances come from the per-key fold,
    not lead/lag), and the histogram rollup is a plain aggregate."""
    curve = plan_of("lru_stack_distance_hit_curve")
    assert curve.count("events.parquet") <= 2  # stream + type dict
    audit = plan_of("belady_opt_vs_lru_audit")
    assert audit.count("events.parquet") <= 2


def test_agreement_pack_single_scan_pure_map(plan_of):
    """round10_agree: both statistics are ONE documents scan, a pure
    column-predicate map, and a single hash aggregate — no joins, no
    windows, no second pass."""
    for name in ("fleiss_kappa_rules", "krippendorff_alpha_rules"):
        plan = plan_of(name)
        assert plan.count("documents.parquet") == 1
        assert (
            plan.count("SortMergeJoin") + plan.count("BroadcastHashJoin")
            == 0
        )
        assert "Window" not in plan


def test_huffman_single_scan_bounded_fold(plan_of):
    """round10_huffman: one documents scan, the char hash aggregate,
    and a constant-size fold — no joins, no windows."""
    plan = plan_of("huffman_code_cost_chars")
    assert plan.count("documents.parquet") == 1
    assert plan.count("SortMergeJoin") + plan.count("BroadcastHashJoin") == 0
    assert "Window" not in plan


def test_farthest_pair_single_scan(plan_of):
    """round10_geo2: one lineitem scan into the cached month frame;
    hull predicate + vertex-pair max all run on bounded frames."""
    plan = plan_of("farthest_pair_diameter")
    assert plan.count("lineitem.parquet") <= 1


def test_boyer_moore_single_scan_shape(plan_of):
    """round10_majority: one events scan + the tiny type dictionary;
    fold and certificate run in one per-user projection."""
    plan = plan_of("boyer_moore_majority_events")
    assert plan.count("events.parquet") <= 2  # stream + type dict


def test_daily_order_cents_matches_sql_twin(spark):
    """plans/frames.py: the shared day frame and its DuckDB twin return
    the same rows with ``cents`` BIGINT in both engines — a twin that
    drifts to HUGEINT or DECIMAL would otherwise hide behind a
    consumer's final cast."""
    import duckdb

    from big_data_virus_analysis_spark.plans.frames import (
        SQL_DAILY_ORDER_CENTS,
        daily_order_cents,
    )

    df = daily_order_cents(spark, SMOKE_SF_DIR)
    assert df.dtypes == [("day", "date"), ("cents", "bigint")]
    got = sorted(tuple(r) for r in df.collect())
    with duckdb.connect() as con:
        con.execute(
            f"CREATE VIEW orders AS SELECT * FROM '{SMOKE_SF_DIR}/orders.parquet'"
        )
        rel = con.sql(SQL_DAILY_ORDER_CENTS)
        assert rel.columns == ["day", "cents"]
        assert [str(t) for t in rel.types] == ["DATE", "BIGINT"]
        want = sorted(rel.fetchall())
    assert len(got) > 0
    assert got == want
