"""pyspark.ml surface: clustering + classifier grids + AUC evaluation.

Re-expresses the reference's MLlib-RDD programs (KmeansVirus.scala,
SVMDT.scala) on the DataFrame ML API:

* K-Means k=10, tol=1e-6, **seeded** (the reference was unseeded and
  used runs=10, removed post-Spark-2.0 — divergence documented in
  SURVEY.md §7);
* DecisionTree grid depth {1,2,3,4,5,10,20} × impurity {entropy, gini}
  (SVMDT.scala:98-101,151);
* LinearSVC regParam grid {0.001,0.01,0.1,1.0,10.0} (SVMDT.scala:189 —
  OWLQN here vs the reference's SGD, so AUC parity is invariant-based,
  not exact);
* AUC via the exact Mann–Whitney aggregation (ml/metrics.py) — the
  same oracle-checked code path as the ``fixed_scorer_auc`` catalog
  query (SVMDT.scala:153-158's areaUnderROC, computed exactly instead
  of via the evaluator's 1000-bin ROC approximation).

Everything consumes a plain DataFrame with ``features_arr:
array<double>`` and converts via ``array_to_vector`` — JVM-side, no
Python UDF in the vector path.  Grid search is a driver loop of fits over
cached splits (same shape as the reference; the per-fit work is
distributed); the whole grid is then scored in one grouped AUC pass.
"""

from __future__ import annotations

from functools import reduce

from pyspark.ml.classification import (
    DecisionTreeClassifier,
    LinearSVC,
    LogisticRegression,
)
from pyspark.ml.clustering import KMeans
from pyspark.ml.functions import array_to_vector
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .metrics import exact_auc_frame, score_frame

DEFAULT_SEED = 42

DT_DEPTHS = (1, 2, 3, 4, 5, 10, 20)
DT_IMPURITIES = ("entropy", "gini")
SVM_REGS = (0.001, 0.01, 0.1, 1.0, 10.0)


def to_ml_vectors(df: DataFrame, array_col: str = "features_arr") -> DataFrame:
    """array<double|float> column → VectorUDT ``features`` column."""
    return df.withColumn("features", array_to_vector(F.col(array_col).cast("array<double>")))


def kmeans_assign(
    df: DataFrame, k: int = 10, seed: int = DEFAULT_SEED, tol: float = 1e-6
) -> DataFrame:
    """Fit K-Means and return the input with a ``cluster`` column.

    Reference: KmeansVirus.scala:181-194 (k=10, epsilon=1e-6).  The
    input is cached by the caller when reused — KMeans itself caches
    internally per iteration.
    """
    model = KMeans(k=k, seed=seed, tol=tol, featuresCol="features").fit(df)
    return model.transform(df).withColumnRenamed("prediction", "cluster")


def _grid_auc(train: DataFrame, cv: DataFrame, grid) -> list[tuple[str, float, float]]:
    """Fit each ``(model, param, estimator)`` of ``grid`` on ``train``,
    score ``cv`` → [(model, param, auc)] in grid order.

    AUC of the positive-class score (rawPrediction[1]) via the exact
    Mann–Whitney aggregation that the oracle-checked
    ``fixed_scorer_auc``/``auc_rank_based`` catalog queries pin against
    DuckDB (ml/metrics.py) — the evaluator's 1000-bin ROC approximation
    is replaced by the exact area.  Every model's scored ``cv`` rows are
    tagged with its grid index and unioned, and one grouped
    ``exact_auc_frame(..., by=["g"])`` pass returns all AUCs: one
    aggregate and one prefix sum for the grid, not one plan per model.
    Each AUC equals ``exact_auc`` of that model's predictions.  Raises
    ``ValueError`` naming the model when its ``cv`` predictions hold one
    class only.  Equality with ``BinaryClassificationEvaluator`` (up to
    its binning) is asserted in tests/test_ml_queries.py.
    """
    grid = list(grid)
    scored = reduce(DataFrame.unionAll, (
        score_frame(est.fit(train).transform(cv), "rawPrediction").withColumn("g", F.lit(i))
        for i, (_, _, est) in enumerate(grid)
    ))
    rows = {r["g"]: r for r in exact_auc_frame(scored, by=["g"]).collect()}
    out = []
    for i, (model, param, _) in enumerate(grid):
        row = rows.get(i, {"n_pos": 0, "n_neg": 0, "auc": None})  # empty cv: no row
        if row["auc"] is None:
            raise ValueError(
                f"AUC undefined for {model} (param={param}): its cv predictions have "
                f"n_pos={row['n_pos']}, n_neg={row['n_neg']} — both classes must be "
                "present to rank positives against negatives"
            )
        out.append((model, float(param), float(row["auc"])))
    return out


def dt_auc_grid(
    train: DataFrame,
    cv: DataFrame,
    depths: tuple[int, ...] = DT_DEPTHS,
    impurities: tuple[str, ...] = DT_IMPURITIES,
) -> list[tuple[str, float, float]]:
    """Decision-tree grid → [(model, param, auc)] (SVMDT.scala:133-163)."""
    return _grid_auc(train, cv, (
        (f"dt_{impurity}", depth, DecisionTreeClassifier(
            impurity=impurity, maxDepth=depth, labelCol="label", seed=DEFAULT_SEED))
        for impurity in impurities
        for depth in depths
    ))


def svm_auc_grid(
    train: DataFrame,
    cv: DataFrame,
    regs: tuple[float, ...] = SVM_REGS,
    max_iter: int = 20,
) -> list[tuple[str, float, float]]:
    """LinearSVC grid → [(model, param, auc)] (SVMDT.scala:188-214)."""
    return _grid_auc(train, cv, (
        ("svm", reg, LinearSVC(regParam=reg, maxIter=max_iter, labelCol="label"))
        for reg in regs
    ))


def lr_auc_grid(
    train: DataFrame,
    cv: DataFrame,
    regs: tuple[float, ...] = SVM_REGS,
    max_iter: int = 20,
) -> list[tuple[str, float, float]]:
    """LogisticRegression grid → [(model, param, auc)].

    The reference's selectable alternate classifier
    (LogisticRegressionWithSGD behind ``case '1'``, SVMDT.scala:206-208)
    — modern LBFGS optimizer here, same regParam grid as the SVM path.
    """
    return _grid_auc(train, cv, (
        ("lr", reg, LogisticRegression(regParam=reg, maxIter=max_iter, labelCol="label"))
        for reg in regs
    ))


def kmeans_centers(
    df: DataFrame, k: int = 10, seed: int = DEFAULT_SEED, tol: float = 1e-6
) -> list[tuple[int, list[float]]]:
    """Cluster-centers dump: [(cluster, center)] (SVMDT.scala:316's
    ``model.clusterCenters.foreach(println)``, k=60 diagnostic there)."""
    model = KMeans(k=k, seed=seed, tol=tol, featuresCol="features").fit(df)
    return [
        (i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())
    ]


def kmeans_k_sweep(
    df: DataFrame,
    ks: list[int],
    seed: int = DEFAULT_SEED,
    tol: float = 1e-6,
) -> list[tuple[int, float]]:
    """Weighted-entropy score for each k — the reference's best-k search
    (searchBestKWithUsingEntropy: KmeansVirus.scala:165-173 sweeps
    5..100 step 5, SVMDT.scala:240-247 sweeps 30..160 step 10; both
    commented out of main — shipped here as the optional diagnostic).

    The grid loop is inherently driver-side (one fit per k, same shape
    as the reference); each score is a single-row DataFrame aggregate.
    Caller caches ``df`` — every fit re-reads it.
    """
    from ..operators.entropy_score import weighted_average_entropy

    out = []
    for k in ks:
        assigned = kmeans_assign(df, k=k, seed=seed, tol=tol)
        score = weighted_average_entropy(assigned, "cluster", "label").first()["score"]
        out.append((k, float(score)))
    return out
