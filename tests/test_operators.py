"""Operator-level unit and property tests (SURVEY.md §5 strategy:
hand-computed invariants where the oracle comparison alone is weak)."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from big_data_virus_analysis_spark.functions.entropy import entropy2, info_gain, nan_to_zero
from big_data_virus_analysis_spark.functions.text import shingles
from big_data_virus_analysis_spark.operators.dedup import exact_dedup, ngram_jaccard_pairs
from big_data_virus_analysis_spark.operators.features import info_gain_ranking
from big_data_virus_analysis_spark.operators.similarity import ann_lsh_topk, cosine_topk
from big_data_virus_analysis_spark.operators.similarity_pandas import cosine_topk_numpy
from big_data_virus_analysis_spark.sources.tables import load_table

from conftest import SF_DIR


def test_entropy2_known_values(spark):
    df = spark.range(1).select(
        entropy2(F.lit(1), F.lit(2)).alias("half"),
        entropy2(F.lit(0), F.lit(2)).alias("zero"),
        entropy2(F.lit(2), F.lit(2)).alias("one"),
    )
    row = df.collect()[0]
    assert abs(row.half - 1.0) < 1e-12  # H(1/2) = 1 bit
    assert row.zero == 0.0 and row.one == 0.0


def test_info_gain_class_swap_symmetry(spark):
    # IG(p,t,pg,tg) == IG(t-p, t, tg-pg, tg): swapping class polarity
    df = spark.range(1).select(
        info_gain(F.lit(30), F.lit(100), F.lit(10), F.lit(25)).alias("a"),
        info_gain(F.lit(70), F.lit(100), F.lit(15), F.lit(25)).alias("b"),
    )
    row = df.collect()[0]
    assert abs(row.a - row.b) < 1e-12


def test_info_gain_nonnegative_on_corpus(spark):
    docs = load_table(spark, SF_DIR, "documents")
    from big_data_virus_analysis_spark.operators.features import document_tokens

    ranked = info_gain_ranking(document_tokens(docs), k=1000)
    assert ranked.where(F.col("info_gain") < 0).count() == 0


def test_nan_to_zero(spark):
    row = spark.range(1).select(
        nan_to_zero(F.lit(float("nan"))).alias("n"), nan_to_zero(F.lit(2.5)).alias("v")
    ).collect()[0]
    assert row.n == 0.0 and row.v == 2.5


def test_shingles_edges(spark):
    df = spark.createDataFrame(
        [("abcdef",), ("abc",), ("",)], ["s"]
    ).select(shingles(F.col("s"), width=3).alias("sh"))
    rows = [r.sh for r in df.collect()]
    assert rows[0] == ["ABC", "BCD", "CDE", "DEF"]
    assert rows[1] == ["ABC"]
    assert rows[2] == []


def test_exact_dedup_idempotent(spark):
    docs = load_table(spark, SF_DIR, "documents")
    once = exact_dedup(docs)
    # dedup of the survivors changes nothing
    again = exact_dedup(
        once.join(docs, "doc_id").select("doc_id", "text")
    )
    assert once.count() == again.count()


def test_jaccard_pairs_symmetric_bounds(spark):
    docs = load_table(spark, SF_DIR, "documents")
    pairs = ngram_jaccard_pairs(docs, n=3, threshold=0.8).collect()
    assert len(pairs) > 0
    for r in pairs:
        assert r.doc_a < r.doc_b
        assert 0.8 <= r.jaccard <= 1.0


def _ngram_pairs_posting_list_reference(docs, n, threshold, max_df=None):
    """Posting-list spelling of ngram_jaccard_pairs — groupBy(gram) →
    sorted doc list → explode the (i<j) pairs.  Algorithmically
    INDEPENDENT of the production self-join (one gram aggregate, no
    join for pair generation), kept as the equivalence reference.  It
    was also the r12 candidate optimization, measured SLOWER at sf0.1
    (the production join plans as a BroadcastHashJoin over the cached
    index — see OPTIMIZATION_r12.md)."""
    from big_data_virus_analysis_spark.operators.dedup import word_ngrams

    dg = word_ngrams(docs, n)
    sizes = dg.groupBy("doc_id").agg(F.count("*").alias("sz"))
    lists = dg.groupBy("gram").agg(
        F.sort_array(F.collect_list("doc_id")).alias("ds")
    )
    if max_df is not None:
        lists = lists.where(F.size("ds") <= max_df)
        kept = lists.select("gram", F.explode("ds").alias("doc_id"))
        sizes = kept.groupBy("doc_id").agg(F.count("*").alias("sz"))
    pair_expr = F.flatten(
        F.transform(
            F.col("ds"),
            lambda x, i: F.transform(
                F.slice(
                    F.col("ds"),
                    i + 2,
                    F.greatest(F.size("ds") - i - 1, F.lit(0)),
                ),
                lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
            ),
        )
    )
    inter = (
        lists.where(F.size("ds") >= 2)
        .select(F.explode(pair_expr).alias("p"))
        .groupBy(
            F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b")
        )
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    return (
        inter.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .withColumn(
            "jaccard",
            F.round(
                F.col("inter").cast("double")
                / (
                    F.col("sa.sz") + F.col("sb.sz") - F.col("inter")
                ).cast("double"),
                6,
            ),
        )
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def test_posting_list_reference_equals_join(spark):
    """The production inverted-index self-join and the independent
    posting-list spelling must be byte-identical on the real corpus —
    at a low threshold (many pairs) and with the max_df cutoff engaged.
    Doubles as the equivalence record for the r12 array_distinct gram
    dedup (both paths ride the shuffle-free word_ngrams)."""
    from conftest import SMOKE_SF_DIR

    docs = load_table(spark, SMOKE_SF_DIR, "documents")
    for kwargs in ({"threshold": 0.3}, {"threshold": 0.8}, {"threshold": 0.3, "max_df": 3}):
        new = sorted(map(tuple, ngram_jaccard_pairs(docs, 3, **kwargs).collect()))
        ref = sorted(
            map(
                tuple,
                _ngram_pairs_posting_list_reference(docs, 3, **kwargs).collect(),
            )
        )
        assert new == ref, f"divergence under {kwargs}"
        assert len(new) > 0, f"degenerate fixture under {kwargs}"


def test_lsh_recall_vs_bruteforce(spark):
    """Sign-LSH is approximate; its hits must be a subset of the true
    candidate space and carry identical sims for shared pairs."""
    emb = load_table(spark, SF_DIR, "embeddings")
    bf = {(r.query_id, r.cand_id): r.sim for r in cosine_topk(emb, 10, 5).collect()}
    lsh = {(r.query_id, r.cand_id): r.sim for r in ann_lsh_topk(emb, 10, 5).collect()}
    shared = set(bf) & set(lsh)
    assert shared, "LSH found none of the true top-k — buckets degenerate?"
    for key in shared:
        assert abs(bf[key] - lsh[key]) < 1e-9


def test_ivf_recall_vs_bruteforce(spark):
    """IVF probes 4 of 16 cells; sims for pairs it finds must equal the
    brute-force values, and recall@5 should beat random cell coverage."""
    from big_data_virus_analysis_spark.operators.similarity import ivf_topk

    emb = load_table(spark, SF_DIR, "embeddings")
    bf = {(r.query_id, r.cand_id): r.sim for r in cosine_topk(emb, 10, 5).collect()}
    ivf = {(r.query_id, r.cand_id): r.sim for r in ivf_topk(emb, 10, 5).collect()}
    assert len(ivf) > 0
    shared = set(bf) & set(ivf)
    # nearest-cell probing concentrates true neighbors: expect well over
    # the 4/16 = 25% random-cell baseline
    assert len(shared) >= len(bf) * 0.4, f"IVF recall too low: {len(shared)}/{len(bf)}"
    for key in shared:
        assert abs(bf[key] - ivf[key]) < 1e-9


def test_ivf_answer_ignores_input_partitioning(spark):
    """k-means|| samples per input partition, so the quantizer must be
    trained on a layout fixed by the data: the same embeddings arriving
    in 1 or 9 partitions give the same top-k rows."""
    from big_data_virus_analysis_spark.operators.similarity import ivf_topk

    from conftest import SMOKE_SF_DIR

    emb = load_table(spark, SMOKE_SF_DIR, "embeddings")
    one = ivf_topk(emb.coalesce(1), 10, 5).collect()
    nine = ivf_topk(emb.repartition(9, "vec_id"), 10, 5).collect()
    assert len(one) == 50
    assert sorted(one) == sorted(nine)


def test_blocked_near_dup_equals_all_pairs(spark):
    """Triangle-blocked matmul candidates + JVM verify is an
    OPTIMIZATION of the thresholded all-pairs join, not an
    approximation: outputs must be byte-identical."""
    from big_data_virus_analysis_spark.operators.similarity import (
        cosine_near_dup_pairs,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    full = sorted(
        map(tuple, cosine_near_dup_pairs(emb, 0.4, method="allpairs").collect())
    )
    blocked = sorted(
        map(tuple, cosine_near_dup_pairs(emb, 0.4, method="blocked").collect())
    )
    assert blocked == full
    assert len(full) > 0  # non-degenerate fixture


def test_lsh_near_dup_finds_planted_pairs(spark):
    """In the regime sign-LSH is FOR (high threshold), the multi-table
    prefilter must recover planted near-duplicates: vectors + tiny noise
    sit at sim ≥ 0.99 where the per-pair miss probability is ~1e-6."""
    import numpy as np

    from big_data_virus_analysis_spark.operators.similarity import (
        cosine_near_dup_lsh,
        cosine_near_dup_pairs,
    )

    rng = np.random.default_rng(7)
    base = rng.normal(size=(40, 64))
    rows = []
    for i, v in enumerate(base):
        rows.append((i, [float(x) for x in v]))
        # plant a near-dup of every 4th vector
        if i % 4 == 0:
            noisy = v + rng.normal(scale=0.01, size=64)
            rows.append((1000 + i, [float(x) for x in noisy]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    exact = sorted(
        map(tuple, cosine_near_dup_pairs(emb, 0.95, method="allpairs").collect())
    )
    lsh = sorted(map(tuple, cosine_near_dup_lsh(emb, 0.95).collect()))
    assert len(exact) == 10  # the planted pairs, nothing else
    assert lsh == exact


def test_near_dup_auto_routes_by_threshold(spark):
    """method="auto" (the default) must route high thresholds through the
    LSH prefilter (bucket-join plan — no quadratic default) and low
    thresholds through the exact blocked plan; at a high threshold the
    recall caveat is bounded by the planted-pair construction above."""
    import numpy as np

    from big_data_virus_analysis_spark.operators.similarity import (
        cosine_near_dup_pairs,
    )

    rng = np.random.default_rng(7)
    base = rng.normal(size=(40, 64))
    rows = []
    for i, v in enumerate(base):
        rows.append((i, [float(x) for x in v]))
        if i % 4 == 0:
            noisy = v + rng.normal(scale=0.01, size=64)
            rows.append((1000 + i, [float(x) for x in noisy]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    auto_high = cosine_near_dup_pairs(emb, 0.95)  # >= AUTO_LSH_THRESHOLD
    plan = auto_high._jdf.queryExecution().executedPlan().toString()
    # LSH prefilter = an equi-join on (table, bucket) — a hash/sort-merge
    # join, never a nested-loop over all pairs
    assert "bucket" in plan
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan
    got = sorted(map(tuple, auto_high.collect()))
    exact = sorted(
        map(tuple, cosine_near_dup_pairs(emb, 0.95, method="allpairs").collect())
    )
    assert got == exact  # planted pairs at sim>=0.99: miss prob ~1e-6

    # low threshold -> exact blocked path, byte-identical to all-pairs
    auto_low = sorted(map(tuple, cosine_near_dup_pairs(emb, 0.4).collect()))
    all_low = sorted(
        map(tuple, cosine_near_dup_pairs(emb, 0.4, method="allpairs").collect())
    )
    assert auto_low == all_low


def test_knn_candidate_sources_agree(spark):
    """The vote layer is generator-independent.  On data with real
    cluster structure (3 well-separated centers, label = cluster id)
    both the exact and the LSH-sourced generators must classify every
    query into its own cluster — the invariant that matters, unlike
    agreement on near-random fixture embeddings where "neighbors" at
    sim≈0.2 are noise."""
    import numpy as np

    from big_data_virus_analysis_spark.operators.similarity import knn_label_vote

    rng = np.random.default_rng(11)
    centers = rng.normal(size=(3, 64)) * 10
    rows = []
    for i in range(120):
        c = i % 3
        v = centers[c] + rng.normal(scale=0.5, size=64)
        rows.append((i, [float(x) for x in v], c))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    exact = {r.query_id: r.pred_label for r in knn_label_vote(emb, 15, 5).collect()}
    lsh = {
        r.query_id: r.pred_label
        for r in knn_label_vote(emb, 15, 5, candidates="lsh").collect()
    }
    assert exact == {q: q % 3 for q in range(15)}
    # a query alone in its bucket gets no prediction — inherent to LSH,
    # but with clustered data buckets align with clusters
    assert set(lsh) <= set(exact)
    assert len(lsh) >= 12, f"LSH lost too many queries: {len(lsh)}"
    assert all(lsh[q] == q % 3 for q in lsh)


def test_numpy_topk_matches_expression_topk(spark):
    emb = load_table(spark, SF_DIR, "embeddings")
    expr_pairs = {(r.query_id, r.cand_id) for r in cosine_topk(emb, 10, 5).collect()}
    np_pairs = {(r.query_id, r.cand_id) for r in cosine_topk_numpy(emb, 10, 5).collect()}
    assert expr_pairs == np_pairs


def test_libsvm_write_read_roundtrip(spark, tmp_path):
    """write_libsvm_text → spark.read.format('libsvm') preserves
    (label, 0-based indices) — SURVEY.md §5.3 property; the text form
    is 1-based (FeatureSelectionCloud.scala:513-517), the reader
    auto-decrements."""
    from big_data_virus_analysis_spark.sources.libsvm import (
        read_libsvm,
        write_libsvm_text,
    )

    rows = [
        (1, 1.0, [1, 3, 7]),
        (2, 0.0, [2, 7]),
        (3, 1.0, [5]),
    ]
    df = spark.createDataFrame(rows, "doc long, label double, indices array<int>")
    path = str(tmp_path / "libsvm_out")
    write_libsvm_text(df, path, single_file=True)

    back = read_libsvm(spark, path, num_features=8).collect()
    got = sorted(
        (r["label"], tuple(int(i) for i in r["features"].indices)) for r in back
    )
    want = sorted((lbl, tuple(i - 1 for i in idxs)) for _, lbl, idxs in rows)
    assert got == want
    # all stored values are 1.0 (binary presence)
    for r in back:
        assert all(v == 1.0 for v in r["features"].values)


def test_asof_join_edge_semantics(spark):
    """Hand-computed as-of: <= tie matches, no-prior rows get NULL, and
    the latest (not first) preceding right row wins."""
    from big_data_virus_analysis_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [("a", 5, "l1"), ("a", 10, "l2"), ("a", 20, "l3"), ("b", 7, "l4")],
        "k string, t bigint, who string",
    )
    right = spark.createDataFrame(
        [("a", 10, 100), ("a", 15, 150), ("c", 1, 999)],
        "k string, t bigint, rv int",
    )
    out = {
        r.who: r.rv_asof
        for r in asof_join(
            left, right, key="k", left_time="t", right_time="t", value_cols=["rv"]
        ).collect()
    }
    assert out == {
        "l1": None,  # before any right row
        "l2": 100,  # tie at t=10 matches (<= semantics)
        "l3": 150,  # latest preceding, not first
        "l4": None,  # key with no right rows at all
    }


def test_asof_join_plan_is_single_shuffle_no_pair_join(spark):
    """The as-of plan must be union + one keyed window — never a join
    node (a range pair-join explodes at scale)."""
    from big_data_virus_analysis_spark.operators.asof import asof_join
    from test_plans import fmt_plan

    ev = load_table(spark, SF_DIR, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select("user_id", "ts")
    plan = fmt_plan(
        asof_join(ev, purchases, "user_id", "ts", "ts", ["ts"], suffix="_lp")
    ).split("== Initial Plan ==")[0]
    assert "Join" not in plan
    assert plan.count("Exchange (") == 1
    assert "Union" in plan and "Window" in plan


def test_interval_join_equi_plan_and_edges(spark):
    """Bucketed interval join: exact boundary containment (<= both ends)
    and an EQUI join plan — never nested-loop/cartesian."""
    from big_data_virus_analysis_spark.operators.interval import (
        bucketed_interval_join,
    )
    from test_plans import fmt_plan

    pts = spark.createDataFrame(
        [("u", "p0", "2024-01-01 10:00:00"),   # == start: in
         ("u", "p1", "2024-01-01 10:10:00"),   # == end: in
         ("u", "p2", "2024-01-01 10:10:01"),   # just past: out
         ("v", "p3", "2024-01-01 10:05:00")],  # other key: out
        "k string, pid string, t_s string",
    ).select("k", "pid", F.to_timestamp("t_s").alias("t"))
    ivs = spark.createDataFrame(
        [("u", "i0", "2024-01-01 10:00:00", "2024-01-01 10:10:00")],
        "k string, iid string, s_s string, e_s string",
    ).select(
        "k", "iid", F.to_timestamp("s_s").alias("s"), F.to_timestamp("e_s").alias("e")
    )
    out = bucketed_interval_join(pts, ivs, "k", "t", "s", "e", bucket_seconds=300)
    assert sorted(r.pid for r in out.collect()) == ["p0", "p1"]

    plan = fmt_plan(out)
    assert "NestedLoop" not in plan and "Cartesian" not in plan
    assert "Join" in plan  # a real equi join node exists


def test_approx_sketches_error_bounds(spark):
    """HLL distinct count within its 2% rsd (3 sigma) of exact; approx
    percentile within accuracy-bound rank error of the exact one."""
    from big_data_virus_analysis_spark.plans.catalog import CATALOG

    approx = {
        r.event_type: r.approx_users
        for r in CATALOG["approx_distinct_users"].spark(spark, SF_DIR).collect()
    }
    ev = load_table(spark, SF_DIR, "events")
    exact = {
        r.event_type: r.u
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("u"))
        .collect()
    }
    for t, e in exact.items():
        assert abs(approx[t] - e) <= max(3, 0.06 * e), (t, approx[t], e)

    ap = {
        r.l_returnflag: (r.ap50, r.ap95)
        for r in CATALOG["approx_percentile_prices"].spark(spark, SF_DIR).collect()
    }
    li = load_table(spark, SF_DIR, "lineitem")
    ex = {
        r.l_returnflag: (r.p50, r.p95)
        for r in li.groupBy("l_returnflag")
        .agg(
            F.percentile("l_extendedprice", F.lit(0.5)).alias("p50"),
            F.percentile("l_extendedprice", F.lit(0.95)).alias("p95"),
        )
        .collect()
    }
    for flag, (p50, p95) in ex.items():
        assert abs(ap[flag][0] - p50) / p50 < 0.02
        assert abs(ap[flag][1] - p95) / p95 < 0.02


def test_hypertable_rollup_hierarchy(spark):
    """Day-grain totals must equal the sum of their hour-grain parts,
    and the hour grain must account for every event."""
    from big_data_virus_analysis_spark.plans.catalog import CATALOG

    out = CATALOG["hypertable_rollup"].spark(spark, SF_DIR).collect()
    hours = [r for r in out if r.grain == "hour"]
    days = [r for r in out if r.grain == "day"]
    n_events = load_table(spark, SF_DIR, "events").count()
    assert sum(r.n_events for r in hours) == n_events
    assert sum(r.n_events for r in days) == n_events

    by_day = {}
    for r in hours:
        day_us = (r.bucket_us // 86_400_000_000) * 86_400_000_000
        k = (day_us, r.event_type)
        c, s = by_day.get(k, (0, 0.0))
        by_day[k] = (c + r.n_events, s + r.sum_value)
    for r in days:
        c, s = by_day[(r.bucket_us, r.event_type)]
        assert r.n_events == c
        assert abs(r.sum_value - s) < 1e-3


def test_dedup_clusters_properties(spark):
    """Every pair's endpoints share a cluster; each cluster's id is its
    own minimum member (the canonical survivor)."""
    from big_data_virus_analysis_spark.operators.dedup import (
        dedup_clusters,
        minhash_lsh_pairs,
    )

    docs = load_table(spark, SF_DIR, "documents")
    pairs = minhash_lsh_pairs(docs).collect()
    assign = {
        r.doc_id: r.cluster_id
        for r in dedup_clusters(
            minhash_lsh_pairs(docs)
        ).collect()
    }
    assert assign, "expected at least one near-dup pair at sf0.01"
    for p in pairs:
        assert assign[p.doc_a] == assign[p.doc_b], (p, assign[p.doc_a], assign[p.doc_b])
    members: dict[int, list[int]] = {}
    for doc, cl in assign.items():
        members.setdefault(cl, []).append(doc)
    for cl, docs_in in members.items():
        assert cl == min(docs_in)


def test_quantized_cosine_recall(spark):
    """int8 quantization must preserve the float-cosine top-5 almost
    everywhere (mean overlap >= 0.8 at 64 dims)."""
    from big_data_virus_analysis_spark.plans.catalog import CATALOG

    exact = {}
    for r in CATALOG["cosine_topk_bruteforce"].spark(spark, SF_DIR).collect():
        exact.setdefault(r.query_id, set()).add(r.cand_id)
    quant = {}
    for r in CATALOG["quantized_cosine_topk"].spark(spark, SF_DIR).collect():
        quant.setdefault(r.query_id, set()).add(r.cand_id)
    assert set(exact) == set(quant)
    overlaps = [len(exact[q] & quant[q]) / 5 for q in exact]
    assert sum(overlaps) / len(overlaps) >= 0.8, overlaps


def test_stratified_sample_fractions(spark):
    """Sampled counts respect the per-class fractions (binomial 4-sigma
    band) and classes outside the fraction map are dropped."""
    import math

    from big_data_virus_analysis_spark.plans.catalog import CATALOG

    ev = load_table(spark, SF_DIR, "events")
    totals = {r.event_type: r.n for r in ev.groupBy("event_type").agg(F.count("*").alias("n")).collect()}
    got = {
        r.event_type: r.n_sampled
        for r in CATALOG["stratified_sample"].spark(spark, SF_DIR).collect()
    }
    fractions = {"view": 0.1, "purchase": 0.5, "error": 1.0}
    assert set(got) <= set(fractions)
    assert got["error"] == totals["error"]
    for cls, frac in fractions.items():
        n = totals[cls]
        sigma = math.sqrt(n * frac * (1 - frac))
        assert abs(got[cls] - n * frac) <= 4 * sigma + 1, (cls, got[cls], n * frac)


def test_heavy_hitters_contain_all_true_hitters(spark):
    """freqItems may over-report but must never miss a key above the
    support threshold."""
    from big_data_virus_analysis_spark.plans.catalog import CATALOG

    got = set(
        CATALOG["heavy_hitter_users"].spark(spark, SF_DIR).first().heavy_users
    )
    ev = load_table(spark, SF_DIR, "events")
    n = ev.count()
    exact = {
        r.user_id
        for r in ev.groupBy("user_id").agg(F.count("*").alias("c")).collect()
        if r.c / n > 0.02
    }
    assert exact <= got


def test_pii_scrub_redacts_injected_pii(spark):
    """The scrub patterns actually fire: injected emails, URLs, and
    phone numbers are replaced and counted."""
    from big_data_virus_analysis_spark.operators.text_quality import pii_scrub

    docs = spark.createDataFrame(
        [
            (1, "contact me at jane.doe+spam@example.co.uk for details"),
            (2, "see https://example.com/a?b=1 and http://x.org today"),
            (3, "call +1 (555) 123-4567 now"),
            (4, "nothing sensitive here"),
        ],
        "doc_id bigint, text string",
    )
    rows = {r.doc_id: r for r in pii_scrub(docs).collect()}
    assert rows[1].n_email == 1 and "<EMAIL>" in rows[1].clean_text
    assert "jane.doe" not in rows[1].clean_text
    assert rows[2].n_url == 2 and rows[2].clean_text.count("<URL>") == 2
    assert rows[3].n_phone == 1 and "<PHONE>" in rows[3].clean_text
    assert "555" not in rows[3].clean_text
    assert rows[4].clean_text == "nothing sensitive here"
    assert (rows[4].n_email, rows[4].n_url, rows[4].n_phone) == (0, 0, 0)


# ---------------------------------------------------------------------------
# PageRank (operators/graph.py)
# ---------------------------------------------------------------------------


def test_pagerank_invariants(spark):
    from big_data_virus_analysis_spark.operators.graph import (
        copurchase_edges,
        pagerank,
    )
    from big_data_virus_analysis_spark.sources.tables import load_table

    from conftest import SMOKE_SF_DIR

    edges = copurchase_edges(load_table(spark, SMOKE_SF_DIR, "lineitem"))
    n = edges.select("src").distinct().count()
    rows = pagerank(edges, iterations=5).collect()
    assert len(rows) == n
    assert all(r["rank"] >= 0.15 for r in rows)  # reset mass floor
    # symmetric graph, no dangling nodes: total rank mass is conserved
    assert abs(sum(r["rank"] for r in rows) - n) < 1e-3 * n


def test_pagerank_uniform_on_regular_graph(spark):
    """On a k-regular symmetric graph every node's rank is exactly 1."""
    from big_data_virus_analysis_spark.operators.graph import pagerank

    ring = [(i, (i + 1) % 6) for i in range(6)]
    edges = spark.createDataFrame(
        ring + [(b, a) for a, b in ring], ["src", "dst"]
    )
    rows = pagerank(edges, iterations=4).collect()
    assert {r["rank"] for r in rows} == {1.0}


def test_prefix_filtered_jaccard_equals_unfiltered(spark):
    """PPJoin prefix filtering is an OPTIMIZATION, not an
    approximation: its output must be byte-identical to the full
    inverted-index operator at the same threshold."""
    from big_data_virus_analysis_spark.operators.dedup import (
        jaccard_prefix_filtered,
        ngram_jaccard_pairs,
    )
    from big_data_virus_analysis_spark.sources.tables import load_table

    from conftest import SMOKE_SF_DIR

    docs = load_table(spark, SMOKE_SF_DIR, "documents")
    full = sorted(map(tuple, ngram_jaccard_pairs(docs, 3, 0.8).collect()))
    pref = sorted(map(tuple, jaccard_prefix_filtered(docs, 3, 0.8).collect()))
    assert pref == full
    assert len(full) > 0  # non-degenerate fixture


def test_two_phase_cc_equals_propagation(spark):
    """Large-star/small-star must produce the exact same (node →
    component-min) labeling as plain min-label propagation, across
    graph shapes that stress both: long chains (diameter = n, the case
    two-phase exists for), dense cliques, rings, and seeded random
    edge soups with singleton pairs."""
    import random

    from big_data_virus_analysis_spark.operators.dedup import dedup_clusters

    def graphs():
        yield [(i, i + 1) for i in range(0, 40)]  # one long chain
        yield [(i, j) for i in range(10) for j in range(i + 1, 10)]  # clique
        yield [(i, (i + 1) % 12) for i in range(12)]  # ring
        rng = random.Random(3)
        for seed in range(3):
            n = 60
            yield [
                (rng.randrange(n), rng.randrange(n)) for _ in range(n)
            ]

    for g in graphs():
        edges = [(a, b) for a, b in g if a != b]
        pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
        # propagation needs diameter rounds — 40 on the chain, which is
        # precisely the case two-phase (O(log²n) rounds) exists for;
        # give the baseline enough iterations to be a valid oracle
        prop = dict(
            dedup_clusters(pairs, method="propagation", max_iter=60).collect()
        )
        two = dict(dedup_clusters(pairs, method="two_phase").collect())
        assert two == prop


def test_minhash_xxhash64_family_finds_planted_dups(spark):
    """The xxhash64 gram family (bench/scale path) shares every line of
    the minhash pipeline downstream of shingle hashing; exact duplicates
    have identical signatures under ANY family, so planted dups must
    collide in all 8 bands, and near-identical docs in ≥1."""
    from big_data_virus_analysis_spark.operators.dedup import minhash_lsh_pairs

    # the repeated base has few DISTINCT grams (min() ignores repeats),
    # so keep the near-dup's tail short: each extra token adds a new
    # distinct gram and drops the Jaccard — at j≈0.9 a band collision
    # is near-certain (1-(1-0.9^4)^8 ≈ 0.9998), at j≈0.5 it's a coin
    # flip that depends on the hash-family constants
    base = "the quick brown fox jumps over the lazy dog " * 8
    rows = [
        (1, base),
        (2, base),  # exact dup of 1
        (3, base + "tailword"),
        (4, "an entirely different document about spark partitioning " * 8),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {
        (r.doc_a, r.doc_b): r.n_shared_bands
        for r in minhash_lsh_pairs(docs, hash_method="xxhash64").collect()
    }
    assert pairs[(1, 2)] == 8  # identical signatures
    assert (1, 3) in pairs and (2, 3) in pairs  # near-dup collides somewhere
    assert not any(4 in p for p in pairs)  # unrelated doc stays clean


def test_banded_simhash_equals_all_pairs(spark):
    """Bit-slice LSH banding is an OPTIMIZATION, not an approximation:
    with max_hamming+1 slices, pigeonhole guarantees every pair within
    the radius shares at least one exact slice, so the banded candidate
    join must reproduce the all-pairs output byte-identically."""
    from big_data_virus_analysis_spark.operators.dedup import simhash_pairs
    from big_data_virus_analysis_spark.sources.tables import load_table

    from conftest import SMOKE_SF_DIR

    docs = load_table(spark, SMOKE_SF_DIR, "documents")
    full = sorted(map(tuple, simhash_pairs(docs, 3, banded=False).collect()))
    band = sorted(map(tuple, simhash_pairs(docs, 3, banded=True).collect()))
    assert band == full
    assert len(full) > 0  # non-degenerate fixture


def test_count_min_sketch_guarantees(spark):
    """CMS estimates are never under the true count and stay within
    eps*N above it for the heavy keys."""
    from big_data_virus_analysis_spark.functions.sketches import column_count_min
    from big_data_virus_analysis_spark.sources.tables import load_table

    from conftest import SMOKE_SF_DIR

    ev = load_table(spark, SMOKE_SF_DIR, "events")
    n = ev.count()
    truth = {r.event_type: r.cnt for r in
             ev.groupBy("event_type").agg(F.count("*").alias("cnt")).collect()}
    cms = column_count_min(ev, "event_type", eps=0.01, confidence=0.99)
    for k, true_cnt in truth.items():
        est = cms.estimateCount(k)
        assert est >= true_cnt
        assert est <= true_cnt + 0.01 * n


def test_bloom_filter_no_false_negatives(spark):
    from big_data_virus_analysis_spark.functions.sketches import column_bloom
    from big_data_virus_analysis_spark.sources.tables import load_table

    from conftest import SMOKE_SF_DIR

    cust = load_table(spark, SMOKE_SF_DIR, "customer")
    keys = [r.c_custkey for r in cust.select("c_custkey").collect()]
    bloom = column_bloom(cust, "c_custkey", expected_items=len(keys), fpp=0.01)
    assert all(bloom.mightContain(k) for k in keys)  # no false negatives
    # false positives bounded well away from 100% on a disjoint range
    fp = sum(bloom.mightContain(k) for k in range(10_000_000, 10_001_000))
    assert fp < 100


def test_schema_contract_validation(spark):
    from big_data_virus_analysis_spark.sources.tables import (
        EXPECTED_SCHEMAS,
        load_table,
        validate_schema,
    )

    from conftest import SMOKE_SF_DIR

    for name, expected in EXPECTED_SCHEMAS.items():
        df = load_table(spark, SMOKE_SF_DIR, name)
        assert validate_schema(df, expected) == [], name
    # violations are reported, not swallowed
    broken = load_table(spark, SMOKE_SF_DIR, "orders").drop("o_custkey").withColumn(
        "extra", F.lit(1)
    )
    probs = validate_schema(broken, EXPECTED_SCHEMAS["orders"])
    assert any("missing column o_custkey" in p for p in probs)
    assert any("unexpected column extra" in p for p in probs)


def test_global_prefix_sum_equals_naive_window(spark):
    """The two-phase distributed scan must equal the single-partition
    global window bit-for-bit (integer addition is associative), across
    bucket counts that do and don't divide the row count."""
    from pyspark.sql import Window

    from big_data_virus_analysis_spark.operators.prefix_sum import global_prefix_sum

    rows = [(i, (i * 37) % 11 + 1) for i in range(977)]  # non-uniform values
    df = spark.createDataFrame(rows, "k long, v long")
    naive = {
        r.k: r.cum
        for r in df.withColumn(
            "cum", F.sum("v").over(Window.orderBy("k"))
        ).collect()
    }
    for n_buckets in (1, 7, 32):
        two_phase = {
            r.k: r.cum
            for r in global_prefix_sum(df, "k", "v", n_buckets=n_buckets).collect()
        }
        assert two_phase == naive, f"n_buckets={n_buckets}"


def test_leakage_safe_split_keeps_dups_together(spark):
    """Exact-duplicate texts must always land on the same side of the
    split — the whole point of keying on content hash."""
    from big_data_virus_analysis_spark.plans.packing import leakage_safe_split

    rows = [(i, f"doc body {i % 20}") for i in range(200)]  # 10x dup groups
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = leakage_safe_split(docs).collect()
    sides = {}
    by_text = {r[0]: r[1] for r in rows}
    for r in out:
        t = by_text[r.doc_id]
        sides.setdefault(t, set()).add(r.split)
    assert all(len(s) == 1 for s in sides.values())
    assert {s.pop() for s in sides.values()} == {"train", "eval"}  # both sides used


def test_hll_rollup_within_error_bounds(spark):
    """HLL estimates at both grains must sit within the sketch's
    error envelope of the exact distinct counts (±1.6% std at
    lgConfigK=12 — assert a generous 5%), and the merged total must
    equal a direct whole-range sketch (union consistency)."""
    from big_data_virus_analysis_spark.operators.rollup import hll_distinct_rollup

    ev = load_table(spark, SF_DIR, "events")
    est = {
        (r.grain, r.bucket_us, r.event_type): r.n_users_est
        for r in hll_distinct_rollup(ev).collect()
    }
    exact_day = {
        ("day", r.bucket_us, r.event_type): r.n
        for r in ev.groupBy(
            F.unix_micros(F.date_trunc("day", F.col("ts"))).alias("bucket_us"),
            "event_type",
        )
        .agg(F.count_distinct("user_id").alias("n"))
        .collect()
    }
    exact_total = {
        ("total", None, r.event_type): r.n
        for r in ev.groupBy("event_type")
        .agg(F.count_distinct("user_id").alias("n"))
        .collect()
    }
    exact = {**exact_day, **exact_total}
    assert set(est) == set(exact)
    for k, e in exact.items():
        assert abs(est[k] - e) <= max(2, 0.05 * e), (k, est[k], e)


def test_global_row_number_and_derived_ntile(spark):
    """global_row_number must equal the naive global window, and the
    (rn, n)-derived ntile/percent_rank helpers must match Spark's own
    window functions — including row counts NOT divisible by the tile
    count (uneven buckets: first n%k buckets get one extra row) and the
    single-row table (SQL pins percent_rank of a lone row to 0.0 where
    the raw (rn-1)/(n-1) would be 0/0)."""
    from pyspark.sql import Window

    from big_data_virus_analysis_spark.operators.prefix_sum import (
        global_row_number,
        ntile_from_rank,
        percent_rank_from_rank,
    )

    for n in (1, 23, 40, 101):
        df = spark.createDataFrame(
            [(i, (i * 13) % 37) for i in range(n)], "id long, v long"
        )
        order = [F.col("v").desc(), F.col("id").asc()]
        w = Window.orderBy(*order)
        naive = {
            r.id: (r.rn, r.tile, r.pr)
            for r in df.select(
                "id",
                F.row_number().over(w).alias("rn"),
                F.ntile(10).over(w).alias("tile"),
                F.round(F.percent_rank().over(w), 6).alias("pr"),
            ).collect()
        }
        ranked = global_row_number(df, order, n_buckets=7, n_col="_n")
        rn_c, n_c = F.col("rn"), F.col("_n")
        two = {
            r.id: (r.rn, r.tile, r.pr)
            for r in ranked.select(
                "id",
                "rn",
                ntile_from_rank(rn_c, n_c, 10).cast("int").alias("tile"),
                F.round(percent_rank_from_rank(rn_c, n_c), 6).alias("pr"),
            ).collect()
        }
        assert two == naive, f"n={n}"
    # the rank itself must stay BIGINT — this primitive exists for
    # >2^31-row tables (callers cast down only at oracle edges)
    assert dict(ranked.dtypes)["rn"] == "bigint"


def test_global_prefix_sum_multi_col_and_null_buckets(spark):
    """The multi-column form must equal per-column naive windows in one
    pass — including NULL runs in LEADING key ranges (where the naive
    running sum is still NULL), MID-STREAM ranges (where it must carry
    the prior non-NULL sum, not go NULL), and a trailing range; plus the
    driver must not TypeError on all-NULL bucket totals, and the
    total_col literals must equal a direct aggregate."""
    from pyspark.sql import Window

    # a: NULL for k<200 (leading) and 500<=k<700 (mid-stream, spans
    # whole range buckets at n_buckets=7); b: never NULL
    rows = [
        (
            i,
            None if (i < 200 or 500 <= i < 700) else (i * 7) % 13 + 1,
            (i * 3) % 5 + 1,
        )
        for i in range(977)
    ]
    df = spark.createDataFrame(rows, "k long, a long, b long")
    w = Window.orderBy("k")
    naive = {
        r.k: (r.ca, r.cb)
        for r in df.select(
            "k", F.sum("a").over(w).alias("ca"), F.sum("b").over(w).alias("cb")
        ).collect()
    }
    from big_data_virus_analysis_spark.operators.prefix_sum import global_prefix_sum

    got = global_prefix_sum(
        df,
        "k",
        ["a", "b"],
        out_col=["ca", "cb"],
        total_col=["ta", "tb"],
        n_buckets=7,
    ).collect()
    two = {r.k: (r.ca, r.cb) for r in got}
    assert two == naive
    want_ta = sum(r[1] for r in rows if r[1] is not None)
    want_tb = sum(r[2] for r in rows)
    assert {(r.ta, r.tb) for r in got} == {(want_ta, want_tb)}


def test_global_prefix_sum_all_null_total(spark):
    """An entirely-NULL value column must yield NULL cumulative sums
    and a NULL grand total — exactly like SQL SUM."""
    from big_data_virus_analysis_spark.operators.prefix_sum import global_prefix_sum

    df = spark.createDataFrame(
        [(i, None) for i in range(50)], "k long, v long"
    )
    got = global_prefix_sum(df, "k", "v", total_col="t", n_buckets=5).collect()
    assert all(r.cum is None and r.t is None for r in got)


def test_ks_grid_bounds_exact(spark):
    """The fixed-grid KS twin must be a lower bound on the exact KS and
    sit within one grid bucket's pooled probability mass of it."""
    from big_data_virus_analysis_spark.plans.drift import SPECS

    exact = SPECS["ks_price_periods"].spark(spark, SF_DIR).collect()[0]["ks_stat"]
    grid = SPECS["ks_price_periods_grid"].spark(spark, SF_DIR).collect()[0][
        "ks_stat_grid"
    ]
    assert grid <= exact + 1e-9
    # coarsening error is bounded by the largest per-bucket mass gap;
    # at 600-wide buckets over this distribution that is well under 0.05
    assert exact - grid < 0.05, (exact, grid)


def test_salted_skew_join_equals_plain(spark):
    """The salted fact-dim join must be ROW-identical to the plain
    equi-join — the salt only partitions work."""
    from big_data_virus_analysis_spark.operators.skew import salted_skew_join

    events = load_table(spark, SF_DIR, "events").select("event_id", "user_id", "value")
    dim = load_table(spark, SF_DIR, "customer").select("c_custkey", "c_mktsegment")
    salted = salted_skew_join(events, dim, "user_id", "c_custkey")
    plain = events.join(dim, F.col("user_id") == F.col("c_custkey"))
    assert sorted(map(tuple, salted.collect())) == sorted(map(tuple, plain.collect()))


def test_histogram_quantile_within_bin_width(spark):
    """Histogram-interpolated quantiles must land within one bin width
    of the exact quantile at every grain, and the ALL grain must agree
    with a direct whole-range histogram (re-aggregation consistency)."""
    from big_data_virus_analysis_spark.operators.rollup import (
        histogram_quantile_rollup,
    )

    ev = load_table(spark, SF_DIR, "events")
    est = {(r.day, r.q): r.est for r in histogram_quantile_rollup(ev).collect()}
    vals = sorted(r.value for r in ev.select("value").collect())
    for q in (0.5, 0.9, 0.99):
        exact = vals[min(int(q * len(vals)), len(vals) - 1)]
        assert abs(est[("ALL", q)] - exact) <= 5.0 + 1e-9, (q, est[("ALL", q)], exact)
    # ALL == direct histogram over the unpartitioned value column
    direct = histogram_quantile_rollup(
        ev.withColumn("ts", F.lit("2024-01-01").cast("timestamp"))
    )
    d = {r.q: r.est for r in direct.collect() if r.day == "ALL"}
    for q in (0.5, 0.9, 0.99):
        assert est[("ALL", q)] == d[q]


def test_interleave_prefix_is_source_balanced(spark):
    """The round-robin interleave's defining property: any prefix of the
    training order contains nearly-equal counts per source (max spread 1
    per round boundary, i.e. ≤ #sources in raw counts)."""
    from big_data_virus_analysis_spark.plans.mixtures import _q_interleave_sources

    rows = _q_interleave_sources(spark, SF_DIR).collect()
    n_sources = len({r.source for r in rows})
    by_pos = sorted(rows, key=lambda r: r.global_pos)
    # positions are contiguous 1..N
    assert [r.global_pos for r in by_pos] == list(range(1, len(rows) + 1))
    for prefix_len in (n_sources, 5 * n_sources, len(rows) // 2):
        counts: dict[str, int] = {}
        for r in by_pos[:prefix_len]:
            counts[r.source] = counts.get(r.source, 0) + 1
        assert max(counts.values()) - min(counts.values()) <= 1, (
            prefix_len,
            counts,
        )


def test_training_shuffle_is_permutation_and_deterministic(spark):
    """Seeded shuffle must be a bijection doc_id→position and identical
    across runs (the resumability contract)."""
    from big_data_virus_analysis_spark.plans.mixtures import _q_training_shuffle_order

    a = {r.doc_id: r.pos for r in _q_training_shuffle_order(spark, SF_DIR).collect()}
    b = {r.doc_id: r.pos for r in _q_training_shuffle_order(spark, SF_DIR).collect()}
    assert a == b
    assert sorted(a.values()) == list(range(1, len(a) + 1))


def test_semantic_dedup_survivors_partition_the_corpus(spark):
    """Survivors + dropped = corpus; every dropped vector has a
    smaller-id near-dup pair inside its own cluster; no survivor is the
    higher-id side of any pair."""
    from big_data_virus_analysis_spark.plans.semantic import (
        _clustered,
        _pairs,
        _q_semantic_dedup_survivors,
    )

    clustered = _clustered(spark, SF_DIR)
    pairs = _pairs(clustered).collect()
    survivors = {r.vec_id for r in _q_semantic_dedup_survivors(spark, SF_DIR).collect()}
    all_ids = {r.vec_id for r in clustered.collect()}
    dropped = {p.vec_b for p in pairs}
    assert survivors == all_ids - dropped
    for p in pairs:
        assert p.vec_a < p.vec_b


def test_incremental_dedup_flags_planted_exact_dups(spark):
    """Every batch doc flagged exact_dup must share its md5 digest with
    a corpus doc, and near-dup jaccard is bounded to [0.8, 1]."""
    from big_data_virus_analysis_spark.plans.ingestion import (
        _q_dedup_incremental_batch,
    )

    docs = load_table(spark, SF_DIR, "documents")
    digests = {
        (r.doc_id, r.d)
        for r in docs.select("doc_id", F.md5("text").alias("d")).collect()
    }
    corpus_digests = {d for i, d in digests if i % 5 != 0}
    batch_digest = {i: d for i, d in digests if i % 5 == 0}
    out = _q_dedup_incremental_batch(spark, SF_DIR).collect()
    assert {r.doc_id for r in out} == set(batch_digest)
    for r in out:
        assert r.exact_dup == (batch_digest[r.doc_id] in corpus_digests)
        if r.n_near_dups:
            assert 0.8 <= r.best_jaccard <= 1.0
        else:
            assert r.best_jaccard == 0.0


def test_semantic_dedup_fine_pairs_subset_of_coarse(spark):
    """The fine (label x sub-bucket) variant only RESTRICTS the
    candidate space: every fine pair must appear among the coarse
    pairs with the same similarity."""
    from big_data_virus_analysis_spark.plans.semantic import (
        _q_semantic_dedup_pairs,
        _q_semantic_dedup_pairs_fine,
    )

    coarse = {
        (r.vec_a, r.vec_b): r.sim
        for r in _q_semantic_dedup_pairs(spark, SF_DIR).collect()
    }
    fine = [
        ((r.vec_a, r.vec_b), r.sim)
        for r in _q_semantic_dedup_pairs_fine(spark, SF_DIR).collect()
    ]
    assert fine, "expected at least one fine-cluster pair at sf0.01"
    for key, sim in fine:
        assert key in coarse and coarse[key] == sim


def test_bpe_merges_match_python_reference(spark):
    """The distributed trainer must reproduce the classic sequential
    BPE algorithm exactly: same merges, same order, same counts —
    checked against an independent pure-Python implementation on the
    same corpus (deterministic tie-break: count desc, pair asc)."""
    from collections import Counter

    from big_data_virus_analysis_spark.operators.bpe import train_bpe

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    got = [
        (r.rank, r.left, r.right, r.pair_count)
        for r in train_bpe(docs, n_merges=15).orderBy("rank").collect()
    ]

    freq = Counter()
    for r in docs.select("text").collect():
        for w in r.text.split(" "):
            if w:
                freq[w] += 1
    vocab = {w: list(w) for w in freq}
    expect = []
    for rank in range(1, 16):
        pairs = Counter()
        for w, syms in vocab.items():
            for a, b in zip(syms, syms[1:]):
                pairs[(a, b)] += freq[w]
        if not pairs:
            break
        (a, b), cnt = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        if cnt < 2:
            break
        expect.append((rank, a, b, cnt))
        for w, syms in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            vocab[w] = out
    assert got == expect


def test_observed_quality_gate_single_pass(spark):
    """df.observe() metrics ride the write action itself (no second
    scan) and must equal independently computed aggregates; the gate
    policy flags null violations."""
    from big_data_virus_analysis_spark.operators.observe import (
        attach_quality_gate,
        gate_passed,
    )

    events = load_table(spark, SF_DIR, "events")
    observed, obs = attach_quality_gate(
        events, numeric_cols=["value"], required_cols=["user_id", "event_type"]
    )
    observed.write.format("noop").mode("overwrite").save()
    m = obs.get
    want = events.agg(
        F.count(F.lit(1)).alias("n"),
        F.min("value").alias("lo"),
        F.max("value").alias("hi"),
    ).first()
    assert m["n_rows"] == want["n"]
    assert m["user_id_nulls"] == 0 and m["event_type_nulls"] == 0
    assert m["value_min"] == want["lo"] and m["value_max"] == want["hi"]
    assert gate_passed(m)

    # a frame with planted nulls fails the zero-null policy
    dirty = events.withColumn(
        "user_id", F.when(F.col("user_id") % 10 != 0, F.col("user_id"))
    )
    observed2, obs2 = attach_quality_gate(dirty, required_cols=["user_id"])
    observed2.write.format("noop").mode("overwrite").save()
    assert not gate_passed(obs2.get)


def test_edit_distance_fast_path_equals_fold(spark):
    """round11_edit: the NumPy prefix-min fast path emits bit-identical
    rows to the expression-fold specification on the real candidate
    frame (an integer DP has one answer; both also hash against the
    same oracle)."""
    from big_data_virus_analysis_spark.plans.round11_edit import (
        _q_edit_distance_dup_pairs,
        _q_edit_distance_dup_pairs_fast,
    )
    from conftest import SMOKE_SF_DIR

    slow = _q_edit_distance_dup_pairs(spark, SMOKE_SF_DIR).collect()
    fast = _q_edit_distance_dup_pairs_fast(spark, SMOKE_SF_DIR).collect()
    assert [tuple(r) for r in slow] == [tuple(r) for r in fast]
    assert len(slow) > 0


def test_levenshtein_builtin_equals_fold_expression(spark):
    """round11_edit r11-optimization witness: the JVM-native
    levenshtein() built-in that now executes the query equals the
    nested-aggregate() fold SPECIFICATION (_ed_fold) cell-for-cell —
    on adversarial pairs including multi-byte code points (both sides
    count CODE POINTS, not bytes), repeats, prefix/suffix edits, and
    the 128-char cap boundary.  Inputs are non-empty, matching the
    query's length(text) > 0 precondition (the fold's sequence(1, n)
    requires n >= 1)."""
    from pyspark.sql import functions as F

    from big_data_virus_analysis_spark.plans.round11_edit import _ed_fold

    cases = [
        ("kitten", "sitting"),
        ("flaw", "lawn"),
        ("a", "a"),
        ("a", "b"),
        ("ab", "ba"),
        ("aaaa", "aaa"),
        ("abcabcabc", "cbacbacba"),
        ("héllo wörld", "hello world"),  # multi-byte: é=2B, ö=2B in utf-8
        ("日本語テキスト", "日本語てきすと"),  # 3-byte code points
        ("x" * 128, "x" * 127 + "y"),  # cap boundary, single substitution
        ("x" * 128, "y" * 128),  # cap boundary, all substituted
        ("abcdefgh" * 16, "abcdefgh" * 15 + "abcdefgi"),
    ]
    df = spark.createDataFrame(cases, "pa string, pb string").selectExpr(
        "pa",
        "pb",
        "CAST(length(pa) AS BIGINT) AS la",
        "CAST(length(pb) AS BIGINT) AS lb",
    )
    rows = df.select(
        F.expr(_ed_fold("pa", "pb", "la", "lb")).alias("fold"),
        F.levenshtein("pa", "pb").cast("bigint").alias("builtin"),
    ).collect()
    assert len(rows) == len(cases)
    for r in rows:
        assert r["fold"] == r["builtin"], r


def test_lz78_batch_parse_equals_fold_expression(spark):
    """round11_lz r11-optimization witness: the Python set-based LZ78
    parse that now executes the query (via mapInPandas) equals the
    Catalyst aggregate() fold SPECIFICATION (_LZ_FOLD) phrase-for-
    phrase — on adversarial strings: single char, all-same (maximally
    compressible), strictly alternating, periodic, high-entropy-ish,
    multi-byte code points, and the 256-char cap boundary.  Inputs
    are non-empty, matching the query's length(text) > 0
    precondition."""
    from pyspark.sql import functions as F

    from big_data_virus_analysis_spark.plans.round11_lz import (
        _LZ_FOLD,
        _lz78_phrase_count,
    )

    cases = [
        "a",
        "aa",
        "ab",
        "aaaaaaaaaaaaaaaa",
        "abababababababab",
        "abcabcabcabcabc",
        "aabbaabbaabb",
        "the quick brown fox jumps over the lazy dog",
        "abcdefghijklmnopqrstuvwxyz" * 3,
        "日本語テキスト日本語テキスト",  # multi-byte code points
        "héllo wörld héllo wörld",
        "xyzzy" * 52,  # 260 chars: above the 256 cap a caller applies
        "a" * 256,  # cap-boundary degenerate run
    ]
    df = spark.createDataFrame(
        [(s,) for s in cases], "p string"
    ).selectExpr("p", "CAST(length(p) AS BIGINT) AS n_chars_used")
    rows = df.select(
        "p",
        F.expr(_LZ_FOLD).alias("fold"),
    ).collect()
    assert len(rows) == len(cases)
    for r in rows:
        assert r["fold"] == _lz78_phrase_count(r["p"]), r["p"]


def test_jaro_batch_matcher_equals_fold_expression(spark):
    """round11_jaro r11-optimization witness: the Python greedy
    windowed matcher that now executes the query (via mapInPandas)
    equals the _JARO_FOLD Catalyst SPECIFICATION on adversarial pairs:
    the textbook triples, equal strings, disjoint alphabets (m = 0),
    all-same characters (window saturation), transposition-heavy
    permutations, multi-byte code points (both sides index CODE
    POINTS), asymmetric lengths at the window boundary, and the
    64-char cap.  Compares (m, t2, prefix_len) — everything the batch
    path computes; the micro arithmetic downstream is unchanged Spark
    expressions."""
    from pyspark.sql import functions as F

    from big_data_virus_analysis_spark.plans.round11_jaro import (
        _JARO_FOLD,
        _jaro_match_counts,
    )

    cases = [
        ("MARTHA", "MARHTA"),
        ("DWAYNE", "DUANE"),
        ("DIXON", "DICKSONX"),
        ("same", "same"),
        ("abc", "xyz"),
        ("aaaaaaa", "aaa"),
        ("abcdef", "fedcba"),
        ("ab", "ba"),
        ("a", "abcdefghijklmnop"),
        ("héllo wörld", "hello world"),
        ("日本語テキスト", "日本語てきすと"),
        ("x" * 64, "x" * 63 + "y"),
        ("abcdefgh" * 8, "hgfedcba" * 8),
        ("the quick brown fox jumps over the lazy dog again and again end",
         "the quick brown fox jumped over a lazy dog again and again ends"),
    ]
    df = spark.createDataFrame(cases, "pa string, pb string").selectExpr(
        "pa",
        "pb",
        "CAST(length(pa) AS BIGINT) AS la",
        "CAST(length(pb) AS BIGINT) AS lb",
        "greatest(0, greatest(length(pa), length(pb)) div 2 - 1) AS w",
    )
    rows = df.select(
        "pa",
        "pb",
        "la",
        "lb",
        F.expr(_JARO_FOLD).alias("mm"),
    ).selectExpr(
        "pa",
        "pb",
        "CAST(size(mm.js) AS BIGINT) AS m",
        """CAST(size(filter(sequence(1, size(mm.js)), k ->
             substring(mm.ma, k, 1) !=
             substring(concat_ws('', transform(array_sort(mm.js),
                                 j -> substring(pb, j, 1))), k, 1)))
           AS BIGINT) AS t2""",
        """CAST(size(filter(sequence(1, 4), k ->
             k <= least(la, lb) AND
             substring(pa, 1, k) = substring(pb, 1, k)))
           AS BIGINT) AS prefix_len""",
    ).collect()
    assert len(rows) == len(cases)
    for r in rows:
        got = _jaro_match_counts(r["pa"], r["pb"])
        assert got == (r["m"], r["t2"], r["prefix_len"]), (r["pa"], r["pb"], got)
