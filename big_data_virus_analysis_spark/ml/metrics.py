"""Exact distributed ROC-AUC — the metric layer shared by the ML grids
and the oracle-checked catalog queries.

``BinaryClassificationEvaluator`` approximates the ROC curve with 1000
score bins; this module computes the EXACT area via the Mann–Whitney
identity on score-grouped counts (ties handled by the midpoint term —
identical to trapezoidal integration over the exact ROC):

    AUC = Σ_s  n₊(s) · ( N₋(<s) + n₋(s)/2 )  /  (N₊ · N₋)

Plan shape: one hash aggregate groups the scored rows by score (the
only pass over the data), then the cumulative negative count runs over
the *distinct-score* frame through the two-phase distributed scan
(operators/prefix_sum.py::global_prefix_sum) — no global single-task
window, so the distinct-score frame may be as large as the corpus and
the plan still holds at 100 TB.

Grouped form (``by=[...]``): many AUCs — one per model of a grid, one
per nested subset — in ONE pass.  The rows group by ``(*by, score)``
and a single prefix sum runs over the total order ``(*by, score)``, so
each group's cumulative count ``cum`` carries the negatives of every
earlier group as a constant offset ``base = min(cum − n₋)``.  Per group,
from integer sums only:

    AUC = (2·(Σ n₊·cum − N₊·base) − Σ n₊·n₋) / (2·N₊·N₋)

The sums run in DECIMAL(38,0) (a BIGINT product of two corpus-sized
counts can pass 2^63) and only the numerator and denominator are cast
to DOUBLE.  Below 2^53 rows both are exact doubles, so the quotient is
the same double as the one-group half-integer form above.

Used by ml/pipeline.py's classifier grids (SVMDT.scala:153-179's
``areaUnderROC``) and exact-oracle-checked end-to-end by the
``fixed_scorer_auc`` catalog entry (plans/ml_exact.py) and
``auc_rank_based`` (plans/drift.py) — the driver's DuckDB oracle pins
this exact computation, so the grids' metric path is oracle-visible
even though model training itself is not SQL-expressible.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.prefix_sum import global_prefix_sum


def exact_auc_frame(
    scored: DataFrame, score_col: str = "score", pos_col: str = "pos", by=()
) -> DataFrame:
    """``(*by, n_pos, n_neg, auc)`` from ``(*by, score, pos∈{0,1})`` rows:
    one row per group, one row in all when ``by`` is empty.

    ``score_col`` must be deterministic (round it first if it comes from
    floating-point model output); ``pos_col`` is an int 0/1 label.
    ``auc`` is NULL for a group holding one class only.  All groups share
    one aggregate and one prefix sum over ``(*by, score)``; see the
    module docstring for the integer identity that recovers each group's
    AUC from the global cumulative count.
    """
    keys = [*by, score_col]
    grouped = scored.groupBy(*keys).agg(
        F.sum(pos_col).alias("np_s"),
        F.sum(1 - F.col(pos_col)).alias("nn_s"),
    )
    # cumulative negatives at/below each (group, score) — two-phase scan,
    # total order guaranteed (keys are distinct after the groupBy)
    cum = global_prefix_sum(
        grouped, score_col, "nn_s", "cum_nn", order_exprs=[F.col(k) for k in keys]
    )
    dec = lambda c: F.col(c).cast("decimal(19,0)")  # noqa: E731
    sums = cum.groupBy(*by).agg(
        F.sum("np_s").alias("n_pos"),
        F.sum("nn_s").alias("n_neg"),
        F.sum(dec("np_s") * dec("cum_nn")).alias("s_np_cum"),
        F.sum(dec("np_s") * dec("nn_s")).alias("s_np_nn"),
        F.min(F.col("cum_nn") - F.col("nn_s")).alias("base"),
    )
    num = 2 * (F.col("s_np_cum") - dec("n_pos") * dec("base")) - F.col("s_np_nn")
    den = 2 * dec("n_pos") * dec("n_neg")
    return sums.select(
        *by,
        "n_pos",
        "n_neg",
        F.when(
            (F.col("n_pos") > 0) & (F.col("n_neg") > 0),
            F.round(num.cast("double") / den.cast("double"), 6),
        ).alias("auc"),
    )


def score_frame(
    predictions: DataFrame,
    score_col: str,
    label_col: str = "label",
    decimals: int = 9,
) -> DataFrame:
    """``(score, pos)`` rows of a prediction frame, as :func:`exact_auc`
    ranks them: the positive-class score rounded to ``decimals`` and the
    int 0/1 label (see :func:`exact_auc` for ``score_col``)."""
    dtype = dict(predictions.dtypes).get(score_col)
    if dtype not in ("double", "float"):
        from pyspark.ml.functions import vector_to_array

        score = vector_to_array(F.col(score_col))[1]
    else:
        score = F.col(score_col).cast("double")
    return predictions.select(
        F.round(score, decimals).alias("score"),
        F.col(label_col).cast("int").alias("pos"),
    )


def exact_auc(
    predictions: DataFrame,
    score_col: str,
    label_col: str = "label",
    decimals: int = 9,
) -> float:
    """Exact scalar AUC of a prediction frame — drop-in for
    ``BinaryClassificationEvaluator(metricName="areaUnderROC")``.

    ``score_col`` may be a VectorUDT column (rawPrediction/probability):
    element [1] is taken as the positive-class score, exactly the
    element the evaluator ranks by.  Scores are rounded to ``decimals``
    so the grouping key is deterministic across replays.
    """
    row = exact_auc_frame(score_frame(predictions, score_col, label_col, decimals)).first()
    if row["auc"] is None:
        raise ValueError(
            f"AUC undefined: prediction frame has n_pos={row['n_pos']}, "
            f"n_neg={row['n_neg']} — both classes must be present to rank "
            "positives against negatives"
        )
    return float(row["auc"])
