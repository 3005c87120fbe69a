"""Round-5 capability pack: product-quantization ANN — a similarity
family the catalog did not yet cover, with a bit-exact oracle.
(An EWMA twin originally drafted here was dropped: plans/timeseries_bi.py
already carries ewma_daily_value as an exact recursive array fold.)

* ``pq_adc_topk_fixed`` — product quantization with asymmetric distance
  computation (Jégou et al., "Product Quantization for Nearest Neighbor
  Search", TPAMI 2011): the 64-dim embedding splits into M=4 subspaces
  of 16 dims; each subvector is encoded as its nearest of K=16 codebook
  entries; a query is answered by summing per-subspace lookup distances
  (the ADC table) — the memory-bound ANN design that stores 4 bytes per
  vector instead of 256.  Like ``ivf_ann_topk_fixed``, the codebook is
  FIXED and deterministic (subvectors of the first K corpus vectors),
  so encoding, ADC table, and search are all relational and the oracle
  reproduces them bit-for-bit; a k-means-trained codebook would swap in
  without changing the plan shape.
Scale notes: PQ's corpus pass is one scan (encode) plus one scan over
4-byte codes (search) with a 64-row broadcast ADC table — the entire
point of the design at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..sources.tables import load_table
from . import QuerySpec

# --------------------------------------------------------------------------
# pq_adc_topk_fixed
# --------------------------------------------------------------------------

_PQ_M = 4  # subspaces
_PQ_SUB = 16  # dims per subspace (M * SUB = 64)
_PQ_K = 16  # codes per subspace
_PQ_TOPK = 10
_PQ_QUERY = 0


def _q_pq_adc_topk_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-ADC top-k with a fixed deterministic codebook.

    Stages (each one scan or a broadcast):
    1. codebook: subvectors of vec_id < K, one row per (subspace, code);
    2. encode: per (vector, subspace) argmin rounded squared-L2 to the
       broadcast codebook (code-id tiebreak);
    3. ADC table: query's distance to every (subspace, code) — M·K rows;
    4. search: join codes to the broadcast ADC table, sum the M lookup
       distances per vector, rank ascending (rounded, vec_id tiebreak).
    """
    emb = load_table(spark, sf_dir, "embeddings")
    sub_idx = F.explode(
        F.sequence(F.lit(0), F.lit(_PQ_M - 1))
    ).alias("subspace")
    subvecs = emb.select(
        "vec_id", sub_idx, F.col("embedding").alias("e")
    ).select(
        "vec_id",
        "subspace",
        F.slice(
            F.col("e"), F.col("subspace") * _PQ_SUB + 1, _PQ_SUB
        ).alias("sv"),
    )
    code_tbl = subvecs.where(F.col("vec_id") < _PQ_K).select(
        F.col("subspace").alias("c_subspace"),
        F.col("vec_id").cast("int").alias("code"),
        F.col("sv").alias("cv"),
    )

    def l2sq(a, b):
        return F.round(
            F.aggregate(
                F.zip_with(
                    a,
                    b,
                    lambda x, y: (x.cast("double") - y.cast("double"))
                    * (x.cast("double") - y.cast("double")),
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ),
            6,
        )

    aw = Window.partitionBy("vec_id", "subspace").orderBy(
        F.col("d").asc(), F.col("code").asc()
    )
    encoded = (
        subvecs.join(
            F.broadcast(code_tbl),
            F.col("subspace") == F.col("c_subspace"),
        )
        .withColumn("d", l2sq(F.col("sv"), F.col("cv")))
        .withColumn("rn", F.row_number().over(aw))
        .where(F.col("rn") == 1)
        .select("vec_id", "subspace", "code")
    )
    adc = (
        subvecs.where(F.col("vec_id") == _PQ_QUERY)
        .select("subspace", F.col("sv").alias("qv"))
        .join(
            F.broadcast(code_tbl),
            F.col("subspace") == F.col("c_subspace"),
        )
        .select("subspace", "code", l2sq(F.col("qv"), F.col("cv")).alias("qd"))
    )
    rw = Window.orderBy(F.col("approx_dist").asc(), F.col("vec_id").asc())
    return (
        encoded.join(F.broadcast(adc), ["subspace", "code"])
        .groupBy("vec_id")
        .agg(F.round(F.sum("qd"), 6).alias("approx_dist"))
        .where(F.col("vec_id") != _PQ_QUERY)
        .withColumn("rank", F.row_number().over(rw))
        .where(F.col("rank") <= _PQ_TOPK)
        .select("rank", "vec_id", "approx_dist")
    )


_SQL_PQ_ADC_TOPK_FIXED = f"""
WITH elems AS (
  SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS x,
         CAST((i - 1) // {_PQ_SUB} AS INT) AS subspace
  FROM embeddings CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS i)
), dists AS (
  SELECT v.vec_id, v.subspace, c.vec_id AS code,
         round(sum((v.x - c.x) * (v.x - c.x)), 6) AS d
  FROM elems v
  JOIN elems c ON c.vec_id < {_PQ_K} AND c.i = v.i
                 AND c.subspace = v.subspace
  GROUP BY 1, 2, 3
), encoded AS (
  SELECT vec_id, subspace, CAST(code AS INT) AS code
  FROM dists
  QUALIFY row_number() OVER (PARTITION BY vec_id, subspace
                             ORDER BY d ASC, code ASC) = 1
), adc AS (
  SELECT subspace, CAST(code AS INT) AS code, d AS qd
  FROM dists WHERE vec_id = {_PQ_QUERY}
), summed AS (
  SELECT e.vec_id, round(sum(a.qd), 6) AS approx_dist
  FROM encoded e JOIN adc a USING (subspace, code)
  WHERE e.vec_id <> {_PQ_QUERY}
  GROUP BY 1
)
SELECT CAST(row_number() OVER (ORDER BY approx_dist ASC, vec_id ASC) AS INT)
         AS rank,
       vec_id, approx_dist
FROM summed
QUALIFY rank <= {_PQ_TOPK}
"""


SPECS: dict[str, QuerySpec] = {
    "pq_adc_topk_fixed": QuerySpec(
        _q_pq_adc_topk_fixed,
        _SQL_PQ_ADC_TOPK_FIXED,
        "product-quantization ADC top-k (M=4 subspaces, K=16 codes, "
        "fixed codebook): encode once, search over 4-byte codes with a "
        "broadcast lookup table",
    ),
}
