"""Round-5 sketch & shuffle-planning pack — mergeable set-operation
sketches and the data-driven shuffle decisions AQE makes at runtime,
re-expressed as exact-oracle plans:

* ``theta_bottomk_set_ops`` — bottom-k (θ/KMV) sketches over two
  corpus halves' shingle vocabularies, with UNION and INTERSECTION
  cardinality estimates derived purely from the two k-row sketches
  (bottom-k of A∪B ⊆ bottomk(A) ∪ bottomk(B) — the mergeability that
  lets two 100 TB corpora be compared without their hash sets ever
  meeting).  Hashes are md5-derived, so the estimates themselves are
  oracle-exact next to their ground-truth counts.  The bottom-k is
  computed in two phases (per-bucket top-k, then top-k of ≤32k
  candidates) — no global sort of the vocabulary.
* ``skew_split_plan`` — the AQE skew-join decision as a query: per
  join key, row count vs the (lower-)median key size; keys above
  1.2× median get a split factor ``ceil(n / median)`` — exactly the
  sub-partition count a skew-aware shuffle would fan them into.
  Complements the planted-skew measurement in SCALING.md with a
  plannable per-key output.
* ``shuffle_partition_advisor`` — size the shuffle from the data, not
  folklore: estimated row width (fixed-width columns + measured
  string lengths), total bytes, and the partition count that lands
  each shuffle partition at the 64 MB target.  One aggregate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.caching import tracked_cache
from ..operators.prefix_sum import global_row_number
from ..sources.tables import load_table
from . import QuerySpec

# --------------------------------------------------------------------------
# theta_bottomk_set_ops
# --------------------------------------------------------------------------

_THETA_K = 64
_THETA_BUCKETS = 32
_TWO60 = float(1 << 60)


def _q_theta_bottomk_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tokens = F.split(F.col("text"), " ")
    staged = docs.where(F.size(tokens) >= 3).select(
        (F.substring("source", 4, 8).cast("int") % 2).alias("set_id"),
        tokens.alias("_toks"),
    )
    grams = staged.select(
        "set_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("_toks") - 2),
                lambda i: F.concat_ws(" ", F.slice(F.col("_toks"), i, 3)),
            )
        ).alias("gram"),
    ).distinct()
    h = F.conv(F.substring(F.md5("gram"), 1, 15), 16, 10).cast("bigint")
    hashed = grams.select("set_id", h.alias("h"))
    # exact ground truth (the oracle pins the estimates AND the truth)
    exact = hashed.groupBy("set_id").agg(F.count(F.lit(1)).alias("n_exact"))
    exact_u = (
        hashed.select("h").distinct().agg(F.count(F.lit(1)).alias("n_exact_u"))
    )
    # two-phase bottom-k: per-bucket k-smallest (parallel), then
    # k-smallest of the <= buckets*k candidates (bounded frame)
    w1 = Window.partitionBy("set_id", "b").orderBy("h")
    cand = (
        hashed.withColumn("b", F.col("h") % _THETA_BUCKETS)
        .withColumn("rn", F.row_number().over(w1))
        .where(F.col("rn") <= _THETA_K)
        .select("set_id", "h")
    )
    w2 = Window.partitionBy("set_id").orderBy("h")
    sketch = (
        cand.withColumn("rn", F.row_number().over(w2))
        .where(F.col("rn") <= _THETA_K)
        .select("set_id", "rn", "h")
    )
    theta = sketch.where(F.col("rn") == _THETA_K).select(
        "set_id", (F.col("h").cast("double") / _TWO60).alias("theta")
    )
    est = theta.select(
        "set_id", (F.lit(float(_THETA_K - 1)) / F.col("theta")).alias("est")
    )
    # union sketch from the two k-row sketches alone (mergeable)
    wu = Window.partitionBy().orderBy("h")
    union_kth = (
        sketch.select("h")
        .distinct()
        .withColumn("rn", F.row_number().over(wu))
        .where(F.col("rn") == _THETA_K)
        .select((F.lit(float(_THETA_K - 1)) / (F.col("h").cast("double") / _TWO60)).alias("est_u"))
    )
    a = est.where("set_id = 0").select(F.col("est").alias("est_a"))
    b = est.where("set_id = 1").select(F.col("est").alias("est_b"))
    na = exact.where("set_id = 0").select(F.col("n_exact").alias("exact_a"))
    nb = exact.where("set_id = 1").select(F.col("n_exact").alias("exact_b"))
    out = (
        a.crossJoin(b)
        .crossJoin(F.broadcast(na))
        .crossJoin(F.broadcast(nb))
        .crossJoin(F.broadcast(union_kth))
        .crossJoin(F.broadcast(exact_u))
    )
    return out.select(
        "exact_a",
        F.round("est_a", 6).alias("est_a"),
        "exact_b",
        F.round("est_b", 6).alias("est_b"),
        F.col("n_exact_u").alias("exact_union"),
        F.round("est_u", 6).alias("est_union"),
        (F.col("exact_a") + F.col("exact_b") - F.col("n_exact_u")).alias(
            "exact_inter"
        ),
        F.round(F.col("est_a") + F.col("est_b") - F.col("est_u"), 6).alias(
            "est_inter"
        ),
    )


_SQL_THETA_BOTTOMK_SET_OPS = f"""
WITH toks AS (
  SELECT CAST(substr(source, 4) AS INT) % 2 AS set_id,
         string_split(text, ' ') AS tokens
  FROM documents WHERE len(string_split(text, ' ')) >= 3
), grams AS (
  SELECT DISTINCT set_id,
         unnest(list_transform(generate_series(1, len(tokens) - 2),
                i -> array_to_string(list_slice(tokens, i, i + 2), ' '))) AS gram
  FROM toks
), hashed AS (
  SELECT set_id,
         CAST('0x' || substr(md5(gram), 1, 15) AS BIGINT) AS h
  FROM grams
), exact AS (
  SELECT set_id, count(*) AS n_exact FROM hashed GROUP BY set_id
), exact_u AS (
  SELECT count(DISTINCT h) AS n_exact_u FROM hashed
), sketch AS (
  SELECT set_id, h, row_number() OVER (PARTITION BY set_id ORDER BY h) AS rn
  FROM hashed QUALIFY rn <= {_THETA_K}
), theta AS (
  SELECT set_id, CAST(h AS DOUBLE) / {_TWO60!r} AS theta
  FROM sketch WHERE rn = {_THETA_K}
), est AS (
  SELECT set_id, {float(_THETA_K - 1)!r} / theta AS est FROM theta
), union_kth AS (
  SELECT {float(_THETA_K - 1)!r} / (CAST(h AS DOUBLE) / {_TWO60!r}) AS est_u
  FROM (SELECT DISTINCT h FROM sketch)
  QUALIFY row_number() OVER (ORDER BY h) = {_THETA_K}
)
SELECT
  (SELECT n_exact FROM exact WHERE set_id = 0) AS exact_a,
  round((SELECT est FROM est WHERE set_id = 0), 6) AS est_a,
  (SELECT n_exact FROM exact WHERE set_id = 1) AS exact_b,
  round((SELECT est FROM est WHERE set_id = 1), 6) AS est_b,
  (SELECT n_exact_u FROM exact_u) AS exact_union,
  round((SELECT est_u FROM union_kth), 6) AS est_union,
  (SELECT n_exact FROM exact WHERE set_id = 0)
    + (SELECT n_exact FROM exact WHERE set_id = 1)
    - (SELECT n_exact_u FROM exact_u) AS exact_inter,
  round((SELECT est FROM est WHERE set_id = 0)
        + (SELECT est FROM est WHERE set_id = 1)
        - (SELECT est_u FROM union_kth), 6) AS est_inter
"""


# --------------------------------------------------------------------------
# skew_split_plan
# --------------------------------------------------------------------------

_SKEW_FACTOR = 1.2


def _q_skew_split_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    counts = li.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("n"))
    counts = tracked_cache(counts)  # consumed twice: median probe + filter
    # Lower-median of the per-key counts via the two-phase global rank
    # (range shuffle + P-row driver exchange) — the per-key-count frame
    # grows with key cardinality (~2B keys at 100 TB TPC-H), so no
    # single-partition window may ever see it.  The rank/count pair
    # locates the (n_keys+1)//2-th value; that 1-row frame broadcasts
    # back onto the counts.
    ranked = global_row_number(
        counts,
        [F.asc("n"), F.asc("l_partkey")],
        out_col="rn",
        n_col="n_keys",
    )
    med = (
        ranked.where(F.col("rn") == F.expr("(n_keys + 1) div 2"))
        .select(F.col("n").alias("median_n"))
    )
    return (
        counts.crossJoin(F.broadcast(med))  # 1-row broadcast
        .where(F.col("n") > _SKEW_FACTOR * F.col("median_n"))
        .select(
            "l_partkey",
            "n",
            "median_n",
            F.ceil(F.col("n").cast("double") / F.col("median_n")).cast("int").alias(
                "split_factor"
            ),
        )
    )


_SQL_SKEW_SPLIT_PLAN = f"""
WITH counts AS (
  SELECT l_partkey, count(*) AS n FROM lineitem GROUP BY l_partkey
), ranked AS (
  SELECT l_partkey, n,
         row_number() OVER (ORDER BY n, l_partkey) AS rn,
         count(*) OVER () AS n_keys
  FROM counts
), med AS (
  SELECT l_partkey, n,
         max(CASE WHEN rn = (n_keys + 1) // 2 THEN n END) OVER () AS median_n
  FROM ranked
)
SELECT l_partkey, n, CAST(median_n AS BIGINT) AS median_n,
       CAST(ceil(CAST(n AS DOUBLE) / median_n) AS INT) AS split_factor
FROM med WHERE n > {_SKEW_FACTOR} * median_n
"""


# --------------------------------------------------------------------------
# shuffle_partition_advisor
# --------------------------------------------------------------------------

_TARGET_MB = 64
# fixed-width parquet-ish estimates: bigint/double 8B, int 4B, ts 8B
_LI_FIXED = 8 + 8 + 8 + 4 + 8 + 8 + 8 + 8 + 8  # keys, qty, prices, tax, date


def _q_shuffle_partition_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    row_bytes = (
        F.lit(_LI_FIXED)
        + F.length("l_returnflag")
        + F.length("l_linestatus")
    )
    return li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(row_bytes).alias("est_bytes"),
        F.round(F.avg(row_bytes.cast("double")), 6).alias("avg_row_bytes"),
        F.greatest(
            F.lit(1).cast("bigint"),
            F.ceil(F.sum(row_bytes).cast("double") / (_TARGET_MB * 1024.0 * 1024.0)).cast(
                "bigint"
            ),
        ).alias("recommended_partitions"),
    )


_SQL_SHUFFLE_PARTITION_ADVISOR = f"""
WITH sized AS (
  SELECT {_LI_FIXED} + length(l_returnflag) + length(l_linestatus) AS row_bytes
  FROM lineitem
)
SELECT count(*) AS n_rows,
       CAST(sum(row_bytes) AS BIGINT) AS est_bytes,
       round(avg(CAST(row_bytes AS DOUBLE)), 6) AS avg_row_bytes,
       greatest(1, CAST(ceil(CAST(sum(row_bytes) AS DOUBLE)
                             / ({_TARGET_MB} * 1024.0 * 1024.0)) AS BIGINT))
         AS recommended_partitions
FROM sized
"""


SPECS: dict[str, QuerySpec] = {
    "theta_bottomk_set_ops": QuerySpec(
        _q_theta_bottomk_set_ops,
        _SQL_THETA_BOTTOMK_SET_OPS,
        "mergeable bottom-k (theta/KMV) sketches with union/intersection "
        "estimates from the k-row sketches alone, beside exact truth",
    ),
    "skew_split_plan": QuerySpec(
        _q_skew_split_plan,
        _SQL_SKEW_SPLIT_PLAN,
        "AQE-style skew-split plan: per join key over 1.2x the median "
        "size, the ceil(n/median) sub-partition fan-out",
    ),
    "shuffle_partition_advisor": QuerySpec(
        _q_shuffle_partition_advisor,
        _SQL_SHUFFLE_PARTITION_ADVISOR,
        "data-driven shuffle sizing: measured row width -> bytes -> "
        "partition count at the 64MB target",
    ),
}
