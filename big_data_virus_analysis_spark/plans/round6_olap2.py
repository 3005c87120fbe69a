"""Round-6 OLAP pack 2 — ordered-statistic and cumulative BI shapes
not yet in the catalog.

* ``weighted_median_by_brand`` — quantity-weighted median of lineitem
  extended price per brand: collapse to (brand, price) with summed
  weights first, then the smallest price whose cumulative weight
  reaches half the brand total (lower weighted median, deterministic).
  Windows are PARTITIONED by brand — per-partition frames only.
* ``abc_analysis_parts`` — classic inventory ABC: parts ranked by
  revenue, classes cut at 70% / 90% cumulative revenue share, class
  rollup (counts, revenue, share).  The global ordering uses the
  two-phase ``global_prefix_sum`` over (revenue desc, partkey) — no
  single-task sort at any part-catalog size.
* ``cohort_ltv_curve`` — customer-lifetime-value curve: cohort =
  month of first order (month arithmetic as year*12+month integers —
  ``months_between``/``date_diff('month')`` have different fractional
  semantics across engines), cumulative revenue per customer by
  months-since-first.  Cumulation is per-cohort (partitioned window,
  calendar-bounded frame).

100 TB shape: each query collapses the fact scan to a grouped frame
(brand × price, part, cohort × age) before any ordered pass; ordered
passes are partitioned or two-phase.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window

from ..operators.prefix_sum import global_prefix_sum
from ..sources.tables import load_table
from . import QuerySpec

# --------------------------------------------------------------------------
# weighted_median_by_brand
# --------------------------------------------------------------------------


def _q_weighted_median_by_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    base = (
        lineitem.join(
            F.broadcast(part.select("p_partkey", "p_brand")),
            lineitem["l_partkey"] == part["p_partkey"],
        )
        .groupBy(F.col("p_brand").alias("brand"), F.col("l_extendedprice").alias("price"))
        .agg(F.sum("l_quantity").cast("bigint").alias("w"))
    )
    win = Window.partitionBy("brand").orderBy("price")
    tot = Window.partitionBy("brand")
    cum = base.select(
        "brand",
        "price",
        F.sum("w").over(win).alias("cumw"),
        F.sum("w").over(tot).alias("totw"),
    )
    # lower weighted median: first price where 2*cumw >= totw
    return (
        cum.where(F.col("cumw") * 2 >= F.col("totw"))
        .groupBy("brand")
        .agg(
            F.min("price").alias("weighted_median_price"),
            F.max("totw").alias("total_weight"),
        )
    )


_SQL_WEIGHTED_MEDIAN_BY_BRAND = """
WITH base AS (
  SELECT p.p_brand AS brand, l.l_extendedprice AS price,
         CAST(sum(l.l_quantity) AS BIGINT) AS w
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  GROUP BY 1, 2
), cum AS (
  SELECT brand, price,
         sum(w) OVER (PARTITION BY brand ORDER BY price
                      ROWS UNBOUNDED PRECEDING) AS cumw,
         sum(w) OVER (PARTITION BY brand) AS totw
  FROM base
)
SELECT brand,
       min(price) AS weighted_median_price,
       CAST(max(totw) AS BIGINT) AS total_weight
FROM cum
WHERE cumw * 2 >= totw
GROUP BY brand
"""


# --------------------------------------------------------------------------
# abc_analysis_parts
# --------------------------------------------------------------------------

_ABC_A = 0.70
_ABC_B = 0.90


def _q_abc_analysis_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem")
    per_part = lineitem.groupBy(F.col("l_partkey").alias("part")).agg(
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias("rev")
    )
    staged = per_part.select(
        "part", "rev", (-F.col("rev")).alias("neg_rev")
    )
    cum = global_prefix_sum(
        staged,
        "neg_rev",
        value_col="rev",
        out_col="cum_rev",
        order_exprs=[F.col("neg_rev"), F.col("part")],
        total_col="tot_rev",
    )
    share = F.col("cum_rev").cast("double") / F.col("tot_rev").cast("double")
    classed = cum.select(
        "part",
        "rev",
        F.when(share <= _ABC_A, F.lit("A"))
        .when(share <= _ABC_B, F.lit("B"))
        .otherwise(F.lit("C"))
        .alias("abc_class"),
        "tot_rev",
    )
    return (
        classed.groupBy("abc_class")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            # r12 driver-parity (r11 VERDICT #1 class): the exact
            # decimal sum is cast to DOUBLE for the FINAL emission —
            # wide decimals render differently per engine on the
            # driver channel; cents magnitudes here are « 2^53 so the
            # conversion is value-exact in both engines
            F.sum("rev").cast("double").alias("class_revenue"),
            F.round(
                F.sum("rev").cast("double") / F.max("tot_rev").cast("double"), 6
            ).alias("revenue_share"),
        )
    )


_SQL_ABC_ANALYSIS_PARTS = f"""
WITH per_part AS (
  SELECT l_partkey AS part,
         sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS rev
  FROM lineitem GROUP BY 1
), cum AS (
  SELECT part, rev,
         sum(rev) OVER (ORDER BY rev DESC, part
                        ROWS UNBOUNDED PRECEDING) AS cum_rev,
         sum(rev) OVER () AS tot_rev
  FROM per_part
), classed AS (
  SELECT part, rev, tot_rev,
         CASE WHEN CAST(cum_rev AS DOUBLE) / CAST(tot_rev AS DOUBLE)
                   <= {_ABC_A!r} THEN 'A'
              WHEN CAST(cum_rev AS DOUBLE) / CAST(tot_rev AS DOUBLE)
                   <= {_ABC_B!r} THEN 'B'
              ELSE 'C' END AS abc_class
  FROM cum
)
SELECT abc_class,
       CAST(count(*) AS BIGINT) AS n_parts,
       -- DOUBLE final emission (driver-parity; exact decimal sum is
       -- value-exact in float64 at these magnitudes)
       CAST(sum(rev) AS DOUBLE) AS class_revenue,
       round(CAST(sum(rev) AS DOUBLE) / CAST(max(tot_rev) AS DOUBLE), 6)
         AS revenue_share
FROM classed
GROUP BY abc_class
"""


# --------------------------------------------------------------------------
# cohort_ltv_curve
# --------------------------------------------------------------------------


def _q_cohort_ltv_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    base = orders.select(
        "o_custkey",
        (F.year("o_orderdate") * 12 + F.month("o_orderdate")).alias("m"),
        F.col("o_totalprice").cast("decimal(18,2)").alias("rev"),
    )
    first = base.groupBy("o_custkey").agg(F.min("m").alias("cohort_m"))
    aged = base.join(first, "o_custkey").select(
        "cohort_m", (F.col("m") - F.col("cohort_m")).alias("age"), "rev", "o_custkey"
    )
    cohort_size = first.groupBy("cohort_m").agg(
        F.countDistinct("o_custkey").alias("n_customers")
    )
    per_age = aged.groupBy("cohort_m", "age").agg(F.sum("rev").alias("rev_age"))
    win = Window.partitionBy("cohort_m").orderBy("age")
    cum = per_age.select(
        "cohort_m", "age", F.sum("rev_age").over(win).alias("cum_rev")
    )
    return (
        cum.join(cohort_size, "cohort_m")
        .where(F.col("age") <= 12)
        .select(
            "cohort_m",
            "age",
            "n_customers",
            # cum_rev / 2^k customer counts divide EXACTLY in binary, so
            # X.xxxx5 half-boundaries occur; round() half conventions
            # differ cross-engine — use the deterministic-IEEE
            # floor(x*1e4+0.5) instead
            (
                F.floor(
                    F.col("cum_rev").cast("double")
                    / F.col("n_customers").cast("double")
                    * 10000.0
                    + 0.5
                )
                / 10000.0
            ).alias("ltv_per_customer"),
        )
    )


_SQL_COHORT_LTV_CURVE = """
WITH base AS (
  SELECT o_custkey,
         year(o_orderdate) * 12 + month(o_orderdate) AS m,
         CAST(o_totalprice AS DECIMAL(18,2)) AS rev
  FROM orders
), first AS (
  SELECT o_custkey, min(m) AS cohort_m FROM base GROUP BY 1
), aged AS (
  SELECT f.cohort_m, b.m - f.cohort_m AS age, b.rev
  FROM base b JOIN first f ON b.o_custkey = f.o_custkey
), cohort_size AS (
  SELECT cohort_m, CAST(count(*) AS BIGINT) AS n_customers FROM first GROUP BY 1
), per_age AS (
  SELECT cohort_m, age, sum(rev) AS rev_age FROM aged GROUP BY 1, 2
), cum AS (
  SELECT cohort_m, age,
         sum(rev_age) OVER (PARTITION BY cohort_m ORDER BY age
                            ROWS UNBOUNDED PRECEDING) AS cum_rev
  FROM per_age
)
SELECT CAST(c.cohort_m AS BIGINT) AS cohort_m,
       CAST(c.age AS BIGINT) AS age,
       s.n_customers,
       floor(CAST(c.cum_rev AS DOUBLE) / CAST(s.n_customers AS DOUBLE)
             * 10000.0 + 0.5) / 10000.0 AS ltv_per_customer
FROM cum c JOIN cohort_size s ON c.cohort_m = s.cohort_m
WHERE c.age <= 12
"""


SPECS: dict[str, QuerySpec] = {
    "weighted_median_by_brand": QuerySpec(
        _q_weighted_median_by_brand,
        _SQL_WEIGHTED_MEDIAN_BY_BRAND,
        "quantity-weighted lower median of extended price per brand "
        "(partitioned cumulative weights over the brand-price frame)",
    ),
    "abc_analysis_parts": QuerySpec(
        _q_abc_analysis_parts,
        _SQL_ABC_ANALYSIS_PARTS,
        "inventory ABC classification at 70/90% cumulative revenue via "
        "two-phase prefix sums, class rollup",
    ),
    "cohort_ltv_curve": QuerySpec(
        _q_cohort_ltv_curve,
        _SQL_COHORT_LTV_CURVE,
        "cumulative revenue per customer by first-order cohort and "
        "months-since-first (ages 0-12, integer month arithmetic)",
    ),
}
