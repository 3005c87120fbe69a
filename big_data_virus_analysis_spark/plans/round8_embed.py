"""Round-8 embedding-hygiene pack.

* ``embedding_norm_outliers`` — L2-norm distribution audit of the
  embedding table: median and MAD of the norms (exact: norms come from
  e6-quantized integer component sums, the two location stats from
  ``percentile()`` which matches DuckDB ``quantile_cont`` bit-for-bit
  — the round6_pct precedent), then robust z = 0.6745·(‖x‖−med)/MAD
  and the top-10 |z| outliers.  Collapsed or exploded norms are the
  first thing that breaks ANN recall and cosine thresholds — this is
  the ingest gate in front of the similarity family
  (operators/similarity.py).

100 TB shape: dim explode → per-vector partial agg (corpus-linear, no
shuffle beyond the vec_id agg), two 1-row percentile broadcasts,
top-10 via orderBy+limit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load_table
from . import QuerySpec

_NORM_TOPK = 10


def _q_embedding_norm_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    comps = emb.select(
        "vec_id",
        F.explode("embedding").alias("x"),
    ).select(
        "vec_id",
        F.floor(F.col("x").cast("double") * 1e6 + 0.5).cast("bigint").alias("xq"),
    )
    norms = comps.groupBy("vec_id").agg(
        F.sum(
            F.col("xq").cast("decimal(19,0)") * F.col("xq").cast("decimal(19,0)")
        ).alias("nq2")
    ).select(
        "vec_id", (F.sqrt(F.col("nq2").cast("double")) / 1e6).alias("norm")
    )
    med = norms.agg(F.expr("percentile(norm, 0.5)").alias("med"))
    devs = norms.crossJoin(F.broadcast(med)).select(
        "vec_id", "norm", "med", F.abs(F.col("norm") - F.col("med")).alias("ad")
    )
    mad = devs.agg(F.expr("percentile(ad, 0.5)").alias("mad"))
    z = 0.6745 * (F.col("norm") - F.col("med")) / F.col("mad")
    return (
        devs.crossJoin(F.broadcast(mad))
        .select(
            "vec_id",
            F.round("norm", 6).alias("norm"),
            F.round("med", 6).alias("median_norm"),
            F.round("mad", 6).alias("mad_norm"),
            F.round(z, 6).alias("robust_z"),
        )
        .orderBy(F.desc(F.abs(F.col("robust_z"))), F.asc("vec_id"))
        .limit(_NORM_TOPK)
    )


_SQL_EMBEDDING_NORM_OUTLIERS = f"""
WITH comps AS (
  SELECT vec_id,
         CAST(floor(CAST(x AS DOUBLE) * 1e6 + 0.5) AS BIGINT) AS xq
  FROM embeddings, UNNEST(embedding) AS t(x)
), norms AS (
  SELECT vec_id,
         sqrt(CAST(sum(CAST(xq AS HUGEINT) * xq) AS DOUBLE)) / 1e6 AS norm
  FROM comps GROUP BY 1
), med AS (
  SELECT quantile_cont(norm, 0.5) AS med FROM norms
), devs AS (
  SELECT n.vec_id, n.norm, m.med, abs(n.norm - m.med) AS ad
  FROM norms n CROSS JOIN med m
), madt AS (
  SELECT quantile_cont(ad, 0.5) AS mad FROM devs
)
SELECT d.vec_id,
       round(d.norm, 6) AS norm,
       round(d.med, 6) AS median_norm,
       round(t.mad, 6) AS mad_norm,
       round(0.6745 * (d.norm - d.med) / t.mad, 6) AS robust_z
FROM devs d CROSS JOIN madt t
ORDER BY abs(0.6745 * (d.norm - d.med) / t.mad) DESC, d.vec_id ASC
LIMIT {_NORM_TOPK}
"""


SPECS: dict[str, QuerySpec] = {
    "embedding_norm_outliers": QuerySpec(
        _q_embedding_norm_outliers,
        _SQL_EMBEDDING_NORM_OUTLIERS,
        "L2-norm median/MAD audit of the embedding corpus + top-10 "
        "robust-z outliers (exact e6 integer component sums; the ANN "
        "ingest gate)",
    ),
}
