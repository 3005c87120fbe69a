"""Window-function completeness pack: cume_dist and nth_value.

Together with the rest of the catalog (row_number / rank / dense_rank /
ntile / percent_rank / lag / lead / first-last via struct-minmax /
RANGE frames / running sums) this closes out Spark's analytic-function
surface.  Both queries window over a per-group frame partitioned on the
natural key — one shuffle, group-local state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.tables import load_table
from . import QuerySpec


def _q_cume_dist_order_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative distribution of order totals within each priority
    class, reported for one deterministic probe order per class (the
    class's median-rank order).  cume_dist is tie-aware (equal values
    share a value), so no tiebreak column is needed for determinism of
    the measure itself; the probe row is pinned by row_number."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice")
    wn = Window.partitionBy("o_orderpriority").orderBy("o_orderkey")
    return (
        orders.withColumn("cd", F.cume_dist().over(w))
        .withColumn("rn", F.row_number().over(wn))
        .where(F.col("rn") <= 20)
        .select(
            "o_orderpriority",
            "o_orderkey",
            F.round("o_totalprice", 4).alias("o_totalprice"),
            F.round("cd", 6).alias("cume_dist"),
        )
    )


_SQL_CUME_DIST_ORDER_VALUES = """
SELECT o_orderpriority, o_orderkey,
       round(o_totalprice, 4) AS o_totalprice,
       round(cd, 6) AS cume_dist
FROM (
  SELECT o_orderpriority, o_orderkey, o_totalprice,
         cume_dist() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice)
           AS cd,
         row_number() OVER (PARTITION BY o_orderpriority ORDER BY o_orderkey)
           AS rn
  FROM orders
)
WHERE rn <= 20
"""


def _q_price_spread_top3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand spread between the highest and third-highest retail
    price — nth_value over a fully-ordered descending frame
    (tiebreak p_partkey makes row order, and therefore nth_value,
    deterministic).  The frame must extend to UNBOUNDED FOLLOWING so
    every row of the group sees the same third row."""
    part = load_table(spark, sf_dir, "part")
    w = (
        Window.partitionBy("p_brand")
        .orderBy(F.col("p_retailprice").desc(), F.col("p_partkey"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return (
        part.select(
            "p_brand",
            F.first("p_retailprice").over(w).alias("top1"),
            F.nth_value("p_retailprice", 3).over(w).alias("top3"),
        )
        .dropDuplicates(["p_brand"])
        .select(
            "p_brand",
            F.round("top1", 4).alias("top1"),
            F.round("top3", 4).alias("top3"),
            F.round(F.col("top1") - F.col("top3"), 4).alias("spread"),
        )
        .orderBy("p_brand")
    )


_SQL_PRICE_SPREAD_TOP3 = """
SELECT p_brand,
       round(top1, 4) AS top1,
       round(top3, 4) AS top3,
       round(top1 - top3, 4) AS spread
FROM (
  SELECT DISTINCT p_brand,
         first_value(p_retailprice) OVER w AS top1,
         nth_value(p_retailprice, 3) OVER w AS top3
  FROM part
  WINDOW w AS (PARTITION BY p_brand
               ORDER BY p_retailprice DESC, p_partkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
)
ORDER BY p_brand
"""


SPECS: dict[str, QuerySpec] = {
    "cume_dist_order_values": QuerySpec(
        _q_cume_dist_order_values,
        _SQL_CUME_DIST_ORDER_VALUES,
        "tie-aware cumulative distribution within groups",
    ),
    "price_spread_top3": QuerySpec(
        _q_price_spread_top3,
        _SQL_PRICE_SPREAD_TOP3,
        "nth_value over a full frame: top-1 vs top-3 spread per group",
    ),
}
