"""Invariant checks for the non-SQL-expressible (rows-only) queries —
the SURVEY.md §5 strategy for ML nondeterminism: assert structure, not
exact values."""

from __future__ import annotations

import json

from big_data_virus_analysis_spark.plans.catalog import CATALOG

from conftest import SF_DIR, SMOKE_SF_DIR


def test_kmeans_doc_clusters(spark):
    rows = CATALOG["kmeans_doc_clusters"].spark(spark, SF_DIR).collect()
    clusters = {r.cluster for r in rows}
    assert clusters <= set(range(10)) and len(clusters) >= 2
    assert all(r.label in (0.0, 1.0) for r in rows)
    assert sum(r.n_samples for r in rows) > 0


def test_kmeans_weighted_entropy(spark):
    rows = CATALOG["kmeans_weighted_entropy"].spark(spark, SF_DIR).collect()
    assert len(rows) == 1
    # binary labels → weighted average entropy ∈ [0, ln 2]
    assert 0.0 <= rows[0].score <= 0.6931472


def test_dt_auc_grid(spark):
    rows = CATALOG["dt_auc_grid"].spark(spark, SF_DIR).collect()
    assert len(rows) == 14  # 7 depths × 2 impurities
    assert all(0.0 < r.auc <= 1.0 for r in rows)
    assert {r.model for r in rows} == {"dt_entropy", "dt_gini"}


def test_grid_auc_is_exact_auc_of_each_model(spark):
    """The grid's one grouped AUC pass returns, in grid order, exactly
    the AUC that exact_auc gives each model's own predictions; a cv
    split holding one class raises a ValueError naming the model."""
    import pytest
    from pyspark.ml.classification import DecisionTreeClassifier
    from pyspark.sql import functions as F

    from big_data_virus_analysis_spark.ml.metrics import exact_auc
    from big_data_virus_analysis_spark.ml.pipeline import DEFAULT_SEED, dt_auc_grid
    from big_data_virus_analysis_spark.plans.catalog import _embedding_splits

    train, cv, _ = _embedding_splits(spark, SMOKE_SF_DIR)
    got = dt_auc_grid(train, cv, depths=(1, 2))
    want = [
        (f"dt_{imp}", float(depth), exact_auc(
            DecisionTreeClassifier(
                impurity=imp, maxDepth=depth, labelCol="label", seed=DEFAULT_SEED
            ).fit(train).transform(cv),
            "rawPrediction",
        ))
        for imp in ("entropy", "gini")
        for depth in (1, 2)
    ]
    assert got == want
    with pytest.raises(ValueError, match="dt_gini"):
        dt_auc_grid(train, cv.where(F.col("label") == 1.0), depths=(1,), impurities=("gini",))


def test_svm_auc_grid(spark):
    rows = CATALOG["svm_auc_grid"].spark(spark, SF_DIR).collect()
    assert len(rows) == 5
    assert all(0.0 < r.auc <= 1.0 for r in rows)


def test_lr_auc_grid(spark):
    rows = CATALOG["lr_auc_grid"].spark(spark, SF_DIR).collect()
    assert len(rows) == 5
    assert all(0.0 < r.auc <= 1.0 for r in rows)
    assert all(r.model == "lr" for r in rows)


def test_kmeans_cluster_centers(spark):
    rows = CATALOG["kmeans_cluster_centers"].spark(spark, SF_DIR).collect()
    assert len(rows) == 10  # one digest row per cluster, k=10
    assert sorted(r.cluster for r in rows) == list(range(10))
    # binary presence vectors → every center coordinate ∈ [0,1], so the
    # norm is bounded by sqrt(dims)
    for r in rows:
        assert r.n_dims > 0
        assert 0.0 <= r.center_norm <= r.n_dims**0.5


def test_cluster_report_lines_grammar(spark):
    rows = CATALOG["cluster_report_lines"].spark(spark, SF_DIR).collect()
    assert len(rows) > 0
    for r in rows[:20]:
        cluster, label, apis_json = r.line.split(";", 2)
        assert 0 <= int(cluster) < 10
        assert float(label) in (0.0, 1.0)
        apis = json.loads(apis_json)
        assert isinstance(apis, list) and len(apis) > 0
        assert set(apis[0].keys()) == {"name", "size"}
        sizes = [a["size"] for a in apis]
        assert sizes == sorted(sizes, reverse=True)  # descending rank weight


def test_d3_export_tree_shape(spark):
    rows = CATALOG["d3_export_tree"].spark(spark, SF_DIR).collect()
    assert len(rows) == 1
    tree = json.loads(rows[0].tree_json)
    assert tree["name"] == "Main Container"
    clusters = tree["children"]
    assert 2 <= len(clusters) <= 10
    for c in clusters[:3]:
        assert c["name"].startswith("Cluster #")
        for cls in c["children"]:
            assert cls["name"] in ("Clean", "Virus")
            sample = cls["children"][0]
            assert sample["name"].startswith("Sample ")
            leaf = sample["children"][0]
            assert set(leaf.keys()) == {"name", "size"}


def test_kmeans_k_sweep_scores(spark):
    """Entropy score is finite and k is echoed back in order; larger k
    cannot make the weighted entropy worse by much (diagnostic sanity,
    not a strict theorem for fixed seeds)."""
    from big_data_virus_analysis_spark.plans.catalog import CATALOG

    rows = CATALOG["kmeans_k_sweep"].spark(spark, SMOKE_SF_DIR).collect()
    ks = [r["k"] for r in rows]
    assert ks == [5, 10, 15, 20]
    for r in rows:
        assert 0.0 <= r["score"] < 10.0


def test_pca_projection_invariants(spark):
    """PCA over the embeddings: explained-variance ratios ordered and
    in (0, 1]; projected variance per component matches its eigenvalue
    share; projections reproducible across calls (deterministic sign
    convention)."""
    import numpy as np

    from big_data_virus_analysis_spark.ml.pca import pca_project
    from big_data_virus_analysis_spark.sources.tables import load_table

    from conftest import SMOKE_SF_DIR

    emb = load_table(spark, SMOKE_SF_DIR, "embeddings")
    out = pca_project(emb, k=2).collect()
    assert len(out) == emb.count()
    evr1, evr2 = out[0].evr1, out[0].evr2
    assert 0.0 < evr2 <= evr1 <= 1.0
    pc1 = np.array([r.pc1 for r in out])
    pc2 = np.array([r.pc2 for r in out])
    # PC variances ordered like their eigenvalue shares
    assert pc1.var() >= pc2.var() - 1e-9
    # near-orthogonal projections (population covariance of scores ~ 0)
    n = len(pc1)
    cross = float(((pc1 - pc1.mean()) * (pc2 - pc2.mean())).sum() / n)
    assert abs(cross) < 1e-3 * max(pc1.var(), 1.0)
    # deterministic across invocations
    again = pca_project(emb, k=2).collect()
    assert [r.pc1 for r in again] == [r.pc1 for r in out]


def test_exact_auc_matches_evaluator(spark):
    """ml/metrics.py::exact_auc (the Mann-Whitney aggregation behind the
    grids' metric column and the fixed_scorer_auc oracle) agrees with
    BinaryClassificationEvaluator up to the evaluator's 1000-bin ROC
    approximation, and exactly with a brute-force pairwise count."""
    from pyspark.ml.evaluation import BinaryClassificationEvaluator
    from pyspark.ml.functions import array_to_vector
    from pyspark.sql import functions as F

    from big_data_virus_analysis_spark.ml.metrics import exact_auc
    from big_data_virus_analysis_spark.sources.tables import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    preds = emb.select(
        F.round(
            F.aggregate(
                "embedding",
                F.lit(0.0),
                lambda a, x: a + x.cast("double") * x.cast("double"),
            ),
            9,
        ).alias("score"),
        (F.col("label") < 5).cast("double").alias("label"),
    ).cache()

    ours = exact_auc(preds, "score", "label")

    # brute-force Mann-Whitney on the driver (small fixture): exact match
    rows = [(r.score, int(r.label)) for r in preds.collect()]
    pos = [s for s, l in rows if l == 1]
    neg = [s for s, l in rows if l == 0]
    num = sum((p > n) + 0.5 * (p == n) for p in pos for n in neg)
    assert abs(ours - num / (len(pos) * len(neg))) < 1e-6

    # evaluator (vector score column, as the grids feed it): binned approx
    vec = preds.withColumn(
        "raw", array_to_vector(F.array(-F.col("score"), F.col("score")))
    )
    ev = BinaryClassificationEvaluator(
        rawPredictionCol="raw", labelCol="label", metricName="areaUnderROC"
    )
    assert abs(ours - float(ev.evaluate(vec))) < 5e-3
    preds.unpersist()
