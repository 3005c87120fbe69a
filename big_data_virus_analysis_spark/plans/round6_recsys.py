"""Round-6 recsys pack — item-item collaborative filtering over the
co-order graph, plus the catalog-level health metrics of the
recommendation table it produces.

* ``item_item_topk_recs`` — classic item-item CF: cosine similarity
  on order co-occurrence counts, sim(i,j) = c_ij / sqrt(c_i·c_j),
  minimum co-count 2, top-3 recommendations per anchor part
  (partitioned rank with full tiebreak).  Pair generation explodes
  each order's item set once (per-order fanout is bounded by basket
  size, not catalog size — the standard market-basket shape).
* ``rec_catalog_coverage`` — the serving-side audit of that table:
  catalog coverage (share of all parts that appear as a
  recommendation), mean intra-list similarity, and the concentration
  of recommendation exposure (max share of rec slots one part takes).
  Low coverage / high concentration is the popularity-trap signature
  ``negative_sampling_popularity`` corrects for on the training side.

100 TB shape: co-occurrence is one self-join keyed by order id (the
fanout is basket-bounded); marginals are one hash-agg and join back by
part key; top-k is a partitioned window over per-anchor frames.  The
coverage audit runs on the (|anchors| × 3)-row rec table and the
bounded part-count frame.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window

from ..sources.tables import load_table
from . import QuerySpec

_CF_MIN_CO = 2
_CF_TOPK = 3


def _rec_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.caching import tracked_cache

    lineitem = load_table(spark, sf_dir, "lineitem")
    # the distinct basket frame feeds the self-join (twice) and the
    # marginals — cache it so the distinct shuffle runs ONCE
    items = tracked_cache(
        lineitem.select("l_orderkey", "l_partkey").distinct()
    )
    a = items.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("i"))
    b = items.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("j"))
    co = (
        a.join(b, "o")
        .where(F.col("i") != F.col("j"))
        .groupBy("i", "j")
        .agg(F.count(F.lit(1)).alias("c_ij"))
        .where(F.col("c_ij") >= _CF_MIN_CO)
    )
    marg = items.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("c"))
    mi = marg.select(F.col("l_partkey").alias("i"), F.col("c").alias("c_i"))
    mj = marg.select(F.col("l_partkey").alias("j"), F.col("c").alias("c_j"))
    scored = (
        co.join(mi, "i")
        .join(mj, "j")
        .select(
            "i",
            "j",
            "c_ij",
            F.round(
                F.col("c_ij").cast("double")
                / F.sqrt(F.col("c_i").cast("double") * F.col("c_j").cast("double")),
                6,
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("i").orderBy(F.desc("cosine"), F.desc("c_ij"), F.asc("j"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= _CF_TOPK)
        .select(
            F.col("i").alias("anchor_part"),
            F.col("rank"),
            F.col("j").alias("rec_part"),
            "c_ij",
            "cosine",
        )
    )


_SQL_REC_TABLE = f"""
WITH items AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), co AS (
  SELECT a.l_partkey AS i, b.l_partkey AS j,
         CAST(count(*) AS BIGINT) AS c_ij
  FROM items a JOIN items b ON a.l_orderkey = b.l_orderkey
  WHERE a.l_partkey <> b.l_partkey
  GROUP BY 1, 2
  HAVING count(*) >= {_CF_MIN_CO}
), marg AS (
  SELECT l_partkey, CAST(count(*) AS BIGINT) AS c FROM items GROUP BY 1
), scored AS (
  SELECT co.i, co.j, co.c_ij,
         round(CAST(co.c_ij AS DOUBLE)
               / sqrt(CAST(mi.c AS DOUBLE) * CAST(mj.c AS DOUBLE)), 6)
           AS cosine
  FROM co
  JOIN marg mi ON co.i = mi.l_partkey
  JOIN marg mj ON co.j = mj.l_partkey
), ranked AS (
  SELECT i AS anchor_part, j AS rec_part, c_ij, cosine,
         row_number() OVER (PARTITION BY i
                            ORDER BY cosine DESC, c_ij DESC, j) AS rank
  FROM scored
)
SELECT anchor_part, CAST(rank AS INT) AS rank, rec_part, c_ij, cosine
FROM ranked WHERE rank <= {_CF_TOPK}
"""


def _q_item_item_topk_recs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _rec_table(spark, sf_dir)


# --------------------------------------------------------------------------
# rec_catalog_coverage
# --------------------------------------------------------------------------


def _q_rec_catalog_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    recs = _rec_table(spark, sf_dir)
    part = load_table(spark, sf_dir, "part")
    n_parts = part.agg(F.countDistinct("p_partkey").alias("n_parts"))
    per_rec = recs.groupBy("rec_part").agg(F.count(F.lit(1)).alias("n_slots"))
    agg = recs.agg(
        F.count(F.lit(1)).alias("n_rec_slots"),
        F.countDistinct("rec_part").alias("n_distinct_recs"),
        F.round(F.avg("cosine"), 6).alias("mean_intra_sim"),
    )
    top_share = per_rec.agg(F.max("n_slots").alias("max_slots"))
    return (
        agg.crossJoin(F.broadcast(n_parts))
        .crossJoin(F.broadcast(top_share))
        .select(
            "n_rec_slots",
            "n_distinct_recs",
            F.round(
                F.col("n_distinct_recs").cast("double")
                / F.col("n_parts").cast("double"),
                6,
            ).alias("catalog_coverage"),
            "mean_intra_sim",
            F.round(
                F.col("max_slots").cast("double")
                / F.col("n_rec_slots").cast("double"),
                6,
            ).alias("max_exposure_share"),
        )
    )


_SQL_REC_CATALOG_COVERAGE = f"""
WITH recs AS ({_SQL_REC_TABLE}),
per_rec AS (
  SELECT rec_part, CAST(count(*) AS BIGINT) AS n_slots FROM recs GROUP BY 1
), agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n_rec_slots,
         CAST(count(DISTINCT rec_part) AS BIGINT) AS n_distinct_recs,
         round(avg(cosine), 6) AS mean_intra_sim
  FROM recs
), np AS (
  SELECT CAST(count(DISTINCT p_partkey) AS BIGINT) AS n_parts FROM part
), ts AS (
  SELECT CAST(max(n_slots) AS BIGINT) AS max_slots FROM per_rec
)
SELECT n_rec_slots, n_distinct_recs,
       round(CAST(n_distinct_recs AS DOUBLE) / CAST(n_parts AS DOUBLE), 6)
         AS catalog_coverage,
       mean_intra_sim,
       round(CAST(max_slots AS DOUBLE) / CAST(n_rec_slots AS DOUBLE), 6)
         AS max_exposure_share
FROM agg CROSS JOIN np CROSS JOIN ts
"""


SPECS: dict[str, QuerySpec] = {
    "item_item_topk_recs": QuerySpec(
        _q_item_item_topk_recs,
        _SQL_REC_TABLE,
        "item-item CF: co-order cosine similarity, min co-count 2, "
        "top-3 recs per part with full tiebreak",
    ),
    "rec_catalog_coverage": QuerySpec(
        _q_rec_catalog_coverage,
        _SQL_REC_CATALOG_COVERAGE,
        "rec-table health: catalog coverage, mean intra-list "
        "similarity, max exposure share",
    ),
}
