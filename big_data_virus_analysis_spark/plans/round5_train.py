"""Round-5 training-step pack: an exact logistic-regression GD body
and chunk-level dedup novelty.

* ``lr_gd_steps_exact`` — two full-batch gradient-descent steps of
  logistic regression as ONE relational plan, the LR counterpart of
  ``kmeans_lloyd_step`` (plans/ml_exact.py): the honest way to oracle
  iterative training is to pin the per-iteration BODY bit-for-bit.
  Features are bounded lineitem columns (bias, quantity/50, discount,
  tax); label is returnflag='R'.  Step 1's gradient has the closed
  form Σ(0.5−y)·x/n (σ(0)=½ at the zero init); step 2 recomputes
  σ(w₁·x) with the 1-row w₁ aggregate broadcast back onto the scan.
  Rounding discipline: z and p round to 6, per-row gradient terms cast
  to DECIMAL(28,12) so the sums are associative-exact in both engines,
  gradients and weights round to 6.  No driver loop — both steps are
  one lazy plan (scan → agg → broadcast → scan → agg).
* ``chunk_novelty_by_doc`` — chunk-level dedup over the
  ``rag_chunk_windows`` chunker: a chunk is SHARED when its hash
  appears in more than one document; per document, the shared-chunk
  fraction — the RAG-corpus counterpart of ``dup_span_doc_fraction``
  (span-level) that decides which docs bring new material to an index.
  Composes the oracle-checked chunker with one hash-frequency
  aggregate and a semi-join-shaped count.

Scale notes: each GD step is one corpus scan into a 1-row aggregate —
the textbook full-batch GD shuffle shape (map-side partial sums, no
per-row state); chunk novelty is two hash aggregates on the chunk
frame (|chunks| ≈ tokens/stride, linear in corpus).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load_table
from . import QuerySpec

# --------------------------------------------------------------------------
# lr_gd_steps_exact
# --------------------------------------------------------------------------

_LR_RATE = 0.1
_FEATS = ("b", "q", "d", "t")  # bias, quantity/50, discount, tax


def _q_lr_gd_steps_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    base = li.select(
        F.lit(1.0).alias("xb"),
        (F.col("l_quantity") / 50.0).alias("xq"),
        F.col("l_discount").alias("xd"),
        F.col("l_tax").alias("xt"),
        (F.col("l_returnflag") == "R").cast("int").alias("y"),
    )

    def dec(col):
        return col.cast("decimal(28,12)")

    # step 1: sigma(0) = 0.5 exactly, so grad_j = sum((0.5 - y) * x_j)/n
    resid1 = F.lit(0.5) - F.col("y").cast("double")
    g1 = base.agg(
        F.count(F.lit(1)).alias("n"),
        *[
            F.round(
                (F.sum(dec(resid1 * F.col(f"x{f}"))) / F.count(F.lit(1))).cast(
                    "double"
                ),
                6,
            ).alias(f"g{f}")
            for f in _FEATS
        ],
    )
    w1 = g1.select(
        *[
            F.round(F.lit(-_LR_RATE) * F.col(f"g{f}"), 6).alias(f"w{f}")
            for f in _FEATS
        ]
    )
    step1 = w1.select(
        F.lit(1).alias("step"), "wb", "wq", "wd", "wt"
    )

    # step 2: z = w1 · x (rounded), p = sigma(z) (rounded), same
    # decimal-exact gradient aggregate, weight update
    with_w = base.crossJoin(F.broadcast(w1))
    z = F.round(
        F.col("wb") * F.col("xb")
        + F.col("wq") * F.col("xq")
        + F.col("wd") * F.col("xd")
        + F.col("wt") * F.col("xt"),
        6,
    )
    p = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 6)
    resid2 = p - F.col("y").cast("double")
    g2 = with_w.agg(
        F.count(F.lit(1)).alias("n"),
        *[F.max(f"w{f}").alias(f"w{f}") for f in _FEATS],
        *[
            F.round(
                (F.sum(dec(resid2 * F.col(f"x{f}"))) / F.count(F.lit(1))).cast(
                    "double"
                ),
                6,
            ).alias(f"g{f}")
            for f in _FEATS
        ],
    )
    step2 = g2.select(
        F.lit(2).alias("step"),
        *[
            F.round(
                F.col(f"w{f}") - F.lit(_LR_RATE) * F.col(f"g{f}"), 6
            ).alias(f"w{f}")
            for f in _FEATS
        ],
    )
    return step1.unionByName(step2)


_SQL_LR_GD_STEPS_EXACT = f"""
WITH base AS (
  SELECT 1.0 AS xb, l_quantity / 50.0 AS xq, l_discount AS xd, l_tax AS xt,
         CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
  FROM lineitem
), g1 AS (
  SELECT count(*) AS n,
         round(CAST(sum(CAST((0.5 - y) * xb AS DECIMAL(28,12))) / count(*)
                    AS DOUBLE), 6) AS gb,
         round(CAST(sum(CAST((0.5 - y) * xq AS DECIMAL(28,12))) / count(*)
                    AS DOUBLE), 6) AS gq,
         round(CAST(sum(CAST((0.5 - y) * xd AS DECIMAL(28,12))) / count(*)
                    AS DOUBLE), 6) AS gd,
         round(CAST(sum(CAST((0.5 - y) * xt AS DECIMAL(28,12))) / count(*)
                    AS DOUBLE), 6) AS gt
  FROM base
), w1 AS (
  SELECT round(-{_LR_RATE} * gb, 6) AS wb, round(-{_LR_RATE} * gq, 6) AS wq,
         round(-{_LR_RATE} * gd, 6) AS wd, round(-{_LR_RATE} * gt, 6) AS wt
  FROM g1
), scored AS (
  SELECT b.*, w.wb, w.wq, w.wd, w.wt,
         round(1.0 / (1.0 + exp(-round(
           w.wb * b.xb + w.wq * b.xq + w.wd * b.xd + w.wt * b.xt, 6))), 6) AS p
  FROM base b CROSS JOIN w1 w
), g2 AS (
  SELECT count(*) AS n,
         max(wb) AS wb, max(wq) AS wq, max(wd) AS wd, max(wt) AS wt,
         round(CAST(sum(CAST((p - y) * xb AS DECIMAL(28,12))) / count(*)
                    AS DOUBLE), 6) AS gb,
         round(CAST(sum(CAST((p - y) * xq AS DECIMAL(28,12))) / count(*)
                    AS DOUBLE), 6) AS gq,
         round(CAST(sum(CAST((p - y) * xd AS DECIMAL(28,12))) / count(*)
                    AS DOUBLE), 6) AS gd,
         round(CAST(sum(CAST((p - y) * xt AS DECIMAL(28,12))) / count(*)
                    AS DOUBLE), 6) AS gt
  FROM scored
)
SELECT 1 AS step, wb, wq, wd, wt FROM w1
UNION ALL
SELECT 2 AS step,
       round(wb - {_LR_RATE} * gb, 6) AS wb,
       round(wq - {_LR_RATE} * gq, 6) AS wq,
       round(wd - {_LR_RATE} * gd, 6) AS wd,
       round(wt - {_LR_RATE} * gt, 6) AS wt
FROM g2
"""


# --------------------------------------------------------------------------
# chunk_novelty_by_doc
# --------------------------------------------------------------------------

def _q_chunk_novelty_by_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.caching import tracked_cache
    from .rag import _q_rag_chunk_windows

    chunks = _q_rag_chunk_windows(spark, sf_dir).select(
        "doc_id", "chunk_hash"
    ).transform(tracked_cache)
    freq = chunks.groupBy("chunk_hash").agg(
        F.count_distinct("doc_id").alias("n_docs")
    )
    flagged = chunks.join(freq, "chunk_hash").select(
        "doc_id", (F.col("n_docs") > 1).cast("int").alias("shared")
    )
    return flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum("shared").alias("n_shared"),
        F.round(
            F.sum("shared").cast("double") / F.count(F.lit(1)).cast("double"), 6
        ).alias("shared_frac"),
    )


def _sql_chunk_novelty_by_doc() -> str:
    from .rag import _SQL_RAG_CHUNK_WINDOWS

    return (
        "WITH chunks AS (\n"
        + _SQL_RAG_CHUNK_WINDOWS
        + """
), freq AS (
  SELECT chunk_hash, count(DISTINCT doc_id) AS n_docs
  FROM chunks GROUP BY chunk_hash
), flagged AS (
  SELECT c.doc_id, CASE WHEN f.n_docs > 1 THEN 1 ELSE 0 END AS shared
  FROM chunks c JOIN freq f USING (chunk_hash)
)
SELECT doc_id, count(*) AS n_chunks,
       CAST(sum(shared) AS BIGINT) AS n_shared,
       round(CAST(sum(shared) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
         AS shared_frac
FROM flagged GROUP BY doc_id
"""
    )


SPECS: dict[str, QuerySpec] = {
    "lr_gd_steps_exact": QuerySpec(
        _q_lr_gd_steps_exact,
        _SQL_LR_GD_STEPS_EXACT,
        "two exact full-batch logistic-regression GD steps as one lazy "
        "plan (decimal-exact gradient sums, broadcast weight carry) — "
        "the LR per-iteration body, oracle-pinned like kmeans_lloyd_step",
    ),
    "chunk_novelty_by_doc": QuerySpec(
        _q_chunk_novelty_by_doc,
        _sql_chunk_novelty_by_doc(),
        "chunk-level dedup novelty per document over the token-window "
        "chunker (shared-chunk fraction; RAG index-building gate)",
    ),
}
