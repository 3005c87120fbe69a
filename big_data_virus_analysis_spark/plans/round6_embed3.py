"""Round-6 embeddings pack 3 — projection, geometry, and distribution
audits over the ``embeddings`` table (64-dim float vectors).

* ``jl_projection_audit`` — Johnson–Lindenstrauss sanity check: project
  64 → 8 dims with a FIXED ±1 sign matrix (Achlioptas-style; the signs
  are a deterministic Python-computed table embedded as literals in
  both engines, the same fixed-parameter discipline as
  ``pq_adc_topk_fixed``'s codebook), then compare squared L2 distances
  of 250 deterministic vector pairs before and after projection.
  Emits the distance-ratio distribution (mean/min/max and the fraction
  inside the [0.6, 1.67] JL band).  All per-vector sums run in array
  order (``F.aggregate`` / ``list_sum``), so the doubles are
  bit-identical cross-engine.
* ``cosine_pair_histogram_det`` — cosine similarity of the same
  deterministic pairs, bucketed into 10 fixed-width bins over [-1, 1].
  The background-similarity histogram a dedup-threshold choice is
  calibrated against.
* ``embedding_dim_moments_whitening`` — per-dimension mean / std /
  skew / excess kurtosis plus the diagonal whitening scale (1/std).
  Components are quantized to 1e-6 (``floor(x*1e6+0.5)``, the repo's
  deterministic-IEEE trick) so all four raw moments accumulate as
  decimal(38,0)-exact integers; doubles appear only in the final
  64-row combine.

100 TB shape: projections and pair distances are per-row map work (no
shuffle); the pair join is an equi-join on vec_id; the moments query is
one hash aggregate keyed by the 64 dimension ids.  Nothing materializes
beyond (n_pairs)- or 64-row frames.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load_table
from . import QuerySpec

_DIM = 64
_K = 8
_PAIR_OFFSET = 250  # pair (i, i + offset); sf0.01 has 500 vectors

# fixed +-1 sign matrix, deterministic arithmetic (no RNG):
# sign[p][d] = +1 iff ((d*73 + p*1009) * 2654435761) % 7919 is even
_SIGNS = [
    [
        1 if ((d * 73 + p * 1009) * 2654435761) % 7919 % 2 == 0 else -1
        for d in range(_DIM)
    ]
    for p in range(_K)
]
_INV_SQRT_K = 1.0 / (_K ** 0.5)


def _proj(emb: Column, p: int) -> Column:
    """Signed in-order projection sum for component p (JVM-side)."""
    signs = F.array(*[F.lit(float(s)) for s in _SIGNS[p]])
    return F.aggregate(
        F.zip_with(emb, signs, lambda x, s: x.cast("double") * s),
        F.lit(0.0),
        lambda acc, v: acc + v,
    ) * F.lit(_INV_SQRT_K)


def _sql_proj(emb: str, p: int) -> str:
    signs = "[" + ", ".join(f"{float(s)!r}" for s in _SIGNS[p]) + "]"
    return (
        f"list_sum(list_transform(list_zip({emb}, {signs}), "
        f"x -> CAST(x[1] AS DOUBLE) * x[2])) * {_INV_SQRT_K!r}"
    )


def _pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    a = emb.select(
        F.col("vec_id").alias("id_a"), F.col("embedding").alias("ea")
    ).where(F.col("id_a") < _PAIR_OFFSET)
    b = emb.select(
        (F.col("vec_id") - _PAIR_OFFSET).alias("id_a"),
        F.col("embedding").alias("eb"),
    ).where(F.col("id_a") >= 0)
    return a.join(b, "id_a")


# --------------------------------------------------------------------------
# jl_projection_audit
# --------------------------------------------------------------------------


def _q_jl_projection_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = _pairs(spark, sf_dir)
    d2_orig = F.aggregate(
        F.zip_with(
            F.col("ea"),
            F.col("eb"),
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    d2_proj = None
    for p in range(_K):
        diff = _proj(F.col("ea"), p) - _proj(F.col("eb"), p)
        term = diff * diff
        d2_proj = term if d2_proj is None else d2_proj + term
    ratios = pairs.select((d2_proj / d2_orig).alias("ratio"))
    return ratios.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.round(F.avg("ratio"), 4).alias("mean_ratio"),
        F.round(F.min("ratio"), 6).alias("min_ratio"),
        F.round(F.max("ratio"), 6).alias("max_ratio"),
        F.round(
            F.avg(((F.col("ratio") >= 0.6) & (F.col("ratio") <= 1.67)).cast("double")),
            4,
        ).alias("frac_in_band"),
    )


def _sql_d2_proj() -> str:
    terms = []
    for p in range(_K):
        pa = _sql_proj("a.embedding", p)
        pb = _sql_proj("b.embedding", p)
        terms.append(f"(({pa}) - ({pb})) * (({pa}) - ({pb}))")
    return " + ".join(terms)


_SQL_JL_PROJECTION_AUDIT = f"""
WITH pairs AS (
  SELECT ({_sql_d2_proj()})
         / list_sum(list_transform(list_zip(a.embedding, b.embedding),
             x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))
                  * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))))
           AS ratio
  FROM embeddings a
  JOIN embeddings b ON b.vec_id = a.vec_id + {_PAIR_OFFSET}
  WHERE a.vec_id < {_PAIR_OFFSET}
)
SELECT CAST(count(*) AS BIGINT) AS n_pairs,
       round(avg(ratio), 4) AS mean_ratio,
       round(min(ratio), 6) AS min_ratio,
       round(max(ratio), 6) AS max_ratio,
       round(avg(CASE WHEN ratio >= 0.6 AND ratio <= 1.67
                      THEN 1.0 ELSE 0.0 END), 4) AS frac_in_band
FROM pairs
"""


# --------------------------------------------------------------------------
# cosine_pair_histogram_det
# --------------------------------------------------------------------------


def _q_cosine_pair_histogram_det(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = _pairs(spark, sf_dir)

    def dot(u: Column, v: Column) -> Column:
        return F.aggregate(
            F.zip_with(u, v, lambda x, y: x.cast("double") * y.cast("double")),
            F.lit(0.0),
            lambda acc, t: acc + t,
        )

    cos = dot(F.col("ea"), F.col("eb")) / (
        F.sqrt(dot(F.col("ea"), F.col("ea"))) * F.sqrt(dot(F.col("eb"), F.col("eb")))
    )
    binned = pairs.select(
        F.least(F.floor((cos + 1.0) / 0.2), F.lit(9)).cast("int").alias("bin")
    )
    return (
        binned.groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .select(
            "bin",
            F.round(F.col("bin") * 0.2 - 1.0, 1).alias("bin_lo"),
            "n_pairs",
        )
    )


_SQL_COSINE_PAIR_HISTOGRAM_DET = f"""
WITH pairs AS (
  SELECT list_sum(list_transform(list_zip(a.embedding, b.embedding),
           x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
         / (sqrt(list_sum(list_transform(a.embedding,
              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
            * sqrt(list_sum(list_transform(b.embedding,
                x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cos_sim
  FROM embeddings a
  JOIN embeddings b ON b.vec_id = a.vec_id + {_PAIR_OFFSET}
  WHERE a.vec_id < {_PAIR_OFFSET}
)
SELECT CAST(least(floor((cos_sim + 1.0) / 0.2), 9) AS INT) AS bin,
       CAST(round(CAST(least(floor((cos_sim + 1.0) / 0.2), 9) AS INT) * 0.2 - 1.0,
                  1) AS DOUBLE) AS bin_lo,
       CAST(count(*) AS BIGINT) AS n_pairs
FROM pairs
GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# embedding_dim_moments_whitening
# --------------------------------------------------------------------------


def _q_embedding_dim_moments_whitening(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    comp = emb.select(
        F.posexplode("embedding").alias("dim", "x")
    ).select(
        "dim",
        F.floor(F.col("x").cast("double") * 1000000.0 + 0.5)
        .cast("decimal(38,0)")
        .alias("q"),
    )
    agg = comp.groupBy("dim").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("q").alias("s1"),
        F.sum(F.col("q") * F.col("q")).alias("s2"),
        F.sum(F.col("q") * F.col("q") * F.col("q")).alias("s3"),
        F.sum(F.col("q") * F.col("q") * F.col("q") * F.col("q")).alias("s4"),
    )
    nd = F.col("n").cast("double")
    m1 = F.col("s1").cast("double") / nd
    r2 = F.col("s2").cast("double") / nd
    r3 = F.col("s3").cast("double") / nd
    r4 = F.col("s4").cast("double") / nd
    var = r2 - m1 * m1
    m3 = r3 - 3.0 * m1 * r2 + 2.0 * m1 * m1 * m1
    m4 = r4 - 4.0 * m1 * r3 + 6.0 * m1 * m1 * r2 - 3.0 * m1 * m1 * m1 * m1
    sd = F.sqrt(var)
    return agg.select(
        "dim",
        "n",
        F.round(m1 / 1e6, 6).alias("mean"),
        F.round(sd / 1e6, 6).alias("std"),
        F.round(m3 / (sd * sd * sd), 6).alias("skew"),
        F.round(m4 / (var * var) - 3.0, 6).alias("excess_kurtosis"),
        F.round(1e6 / sd, 6).alias("whiten_scale"),
    )


_SQL_EMBEDDING_DIM_MOMENTS_WHITENING = f"""
WITH comp AS (
  SELECT CAST(t.i AS INT) AS dim,
         CAST(floor(CAST(embedding[CAST(t.i AS INT) + 1] AS DOUBLE)
                    * 1000000.0 + 0.5) AS DECIMAL(38,0)) AS q
  FROM embeddings, range({_DIM}) t(i)
), agg AS (
  SELECT dim, CAST(count(*) AS BIGINT) AS n,
         sum(q) AS s1, sum(q * q) AS s2, sum(q * q * q) AS s3,
         sum(q * q * q * q) AS s4
  FROM comp GROUP BY dim
)
SELECT dim, n,
       round(CAST(s1 AS DOUBLE) / n / 1e6, 6) AS mean,
       round(sqrt(CAST(s2 AS DOUBLE) / n
                  - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n))
             / 1e6, 6) AS std,
       round((CAST(s3 AS DOUBLE) / n
              - 3.0 * (CAST(s1 AS DOUBLE) / n) * (CAST(s2 AS DOUBLE) / n)
              + 2.0 * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)
                * (CAST(s1 AS DOUBLE) / n))
             / pow(sqrt(CAST(s2 AS DOUBLE) / n
                        - (CAST(s1 AS DOUBLE) / n)
                          * (CAST(s1 AS DOUBLE) / n)), 3), 6) AS skew,
       round((CAST(s4 AS DOUBLE) / n
              - 4.0 * (CAST(s1 AS DOUBLE) / n) * (CAST(s3 AS DOUBLE) / n)
              + 6.0 * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)
                * (CAST(s2 AS DOUBLE) / n)
              - 3.0 * pow(CAST(s1 AS DOUBLE) / n, 4))
             / pow(CAST(s2 AS DOUBLE) / n
                   - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n), 2)
             - 3.0, 6) AS excess_kurtosis,
       round(1e6 / sqrt(CAST(s2 AS DOUBLE) / n
                        - (CAST(s1 AS DOUBLE) / n)
                          * (CAST(s1 AS DOUBLE) / n)), 6) AS whiten_scale
FROM agg
"""


SPECS: dict[str, QuerySpec] = {
    "jl_projection_audit": QuerySpec(
        _q_jl_projection_audit,
        _SQL_JL_PROJECTION_AUDIT,
        "JL distance-preservation audit: 64->8 fixed +-1 sign "
        "projection, squared-distance ratio stats over 250 "
        "deterministic vector pairs",
    ),
    "cosine_pair_histogram_det": QuerySpec(
        _q_cosine_pair_histogram_det,
        _SQL_COSINE_PAIR_HISTOGRAM_DET,
        "background cosine-similarity histogram over deterministic "
        "vector pairs (10 fixed bins on [-1,1])",
    ),
    "embedding_dim_moments_whitening": QuerySpec(
        _q_embedding_dim_moments_whitening,
        _SQL_EMBEDDING_DIM_MOMENTS_WHITENING,
        "per-dimension mean/std/skew/kurtosis + diagonal whitening "
        "scale from 1e-6-quantized decimal-exact moments",
    ),
}
