"""Round-8 surface/causal pack.

* ``pivot_priority_by_segment`` — the ``groupBy().pivot()`` engine
  surface: order counts pivoted to one column per priority (FIXED
  value list, so the schema is static and Catalyst plans a single
  hash aggregate with conditional counts — passing the values avoids
  the extra distinct-scan pivot pass).  Columns renamed to stable
  snake_case so the DuckDB conditional-aggregation oracle matches
  name-for-name.
* ``regression_discontinuity_price`` — sharp-RD estimate of the
  urgent-share jump at the $150,000 order-value cutoff: separate OLS
  fits of urgency on (price − cutoff) within a ±$50,000 bandwidth on
  each side (exact cents/flag moments, the centered closed form both
  sides), effect = right-intercept − left-intercept at the cutoff.
  Completes the causal family (IPW → DiD → log-rank → RD); on this
  synthetic corpus the true jump is ≈ 0 — the estimator and its
  bandwidth bookkeeping are what the oracle pins.

100 TB shape: both are one fact scan into a bounded aggregate (5×5
pivot cells; two 4-moment side aggregates).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load_table
from . import QuerySpec

_PRIORITIES = (
    ("1-URGENT", "p_urgent"),
    ("2-HIGH", "p_high"),
    ("3-MEDIUM", "p_medium"),
    ("4-NOT SPECIFIED", "p_not_specified"),
    ("5-LOW", "p_low"),
)


def _q_pivot_priority_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    base = orders.join(
        F.broadcast(customer.select("c_custkey", "c_mktsegment")),
        orders["o_custkey"] == customer["c_custkey"],
    ).select(F.col("c_mktsegment").alias("segment"), "o_orderpriority")
    pivoted = (
        base.groupBy("segment")
        .pivot("o_orderpriority", [p for p, _ in _PRIORITIES])
        .count()
    )
    out = pivoted.select(
        "segment",
        *[
            F.coalesce(F.col(f"`{p}`"), F.lit(0)).alias(alias)
            for p, alias in _PRIORITIES
        ],
    )
    return out.orderBy("segment")


_SQL_PIVOT_PRIORITY_BY_SEGMENT = f"""
SELECT c.c_mktsegment AS segment,
       {", ".join(f"CAST(coalesce(sum(CASE WHEN o.o_orderpriority = '{p}' THEN 1 END), 0) AS BIGINT) AS {alias}" for p, alias in _PRIORITIES)}
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY 1
ORDER BY segment
"""


# --------------------------------------------------------------------------
# regression_discontinuity_price
# --------------------------------------------------------------------------

_RD_CUTOFF_CENTS = 15_000_000  # $150,000
_RD_BW_CENTS = 5_000_000  # ±$50,000 bandwidth


def _q_regression_discontinuity_price(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select(
        (F.round(F.col("o_totalprice") * 100).cast("bigint") - _RD_CUTOFF_CENTS).alias(
            "x"
        ),
        (F.col("o_orderpriority") == "1-URGENT").cast("bigint").alias("u"),
    )
    inband = orders.where(
        (F.col("x") >= -_RD_BW_CENTS) & (F.col("x") < _RD_BW_CENTS)
    ).select("x", "u", (F.col("x") >= 0).alias("right"))
    mom = inband.groupBy("right").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum(
            F.col("x").cast("decimal(19,0)") * F.col("x").cast("decimal(19,0)")
        ).alias("sxx"),
        F.sum("u").alias("su"),
        F.sum(F.col("x") * F.col("u")).alias("sxu"),
    )
    nd = F.col("n").cast("double")
    sxx_c = F.col("sxx").cast("double") - F.col("sx").cast("double") ** 2 / nd
    sxu_c = (
        F.col("sxu").cast("double")
        - F.col("sx").cast("double") * F.col("su").cast("double") / nd
    )
    slope = sxu_c / sxx_c
    # intercept at the cutoff (x=0): ubar - slope * xbar
    icept = F.col("su").cast("double") / nd - slope * (
        F.col("sx").cast("double") / nd
    )
    sides = mom.select(
        "right",
        F.col("n").alias("n"),
        F.round(slope * 1e7, 6).alias("slope_per_100k"),
        F.round(icept, 6).alias("intercept_at_cutoff"),
    )
    l = sides.where(~F.col("right")).select(
        F.col("n").alias("n_left"),
        F.col("slope_per_100k").alias("slope_left"),
        F.col("intercept_at_cutoff").alias("icept_left"),
    )
    r = sides.where(F.col("right")).select(
        F.col("n").alias("n_right"),
        F.col("slope_per_100k").alias("slope_right"),
        F.col("intercept_at_cutoff").alias("icept_right"),
    )
    return l.crossJoin(F.broadcast(r)).select(
        "n_left",
        "n_right",
        "icept_left",
        "icept_right",
        F.round(F.col("icept_right") - F.col("icept_left"), 6).alias(
            "rd_effect"
        ),
        "slope_left",
        "slope_right",
    )


_SQL_REGRESSION_DISCONTINUITY_PRICE = f"""
WITH o AS (
  SELECT CAST(round(o_totalprice * 100, 0) AS BIGINT) - {_RD_CUTOFF_CENTS}
           AS x,
         CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS u
  FROM orders
), inband AS (
  SELECT x, u, x >= 0 AS pos FROM o
  WHERE x >= -{_RD_BW_CENTS} AND x < {_RD_BW_CENTS}
), mom AS (
  SELECT pos, count(*) AS n, sum(x) AS sx,
         sum(CAST(x AS HUGEINT) * x) AS sxx,
         sum(u) AS su, sum(x * u) AS sxu
  FROM inband GROUP BY pos
), fit AS (
  SELECT pos, n,
         (CAST(sxu AS DOUBLE) - CAST(sx AS DOUBLE) * su / n)
           / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n) AS slope,
         CAST(su AS DOUBLE) / n
           - (CAST(sxu AS DOUBLE) - CAST(sx AS DOUBLE) * su / n)
             / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n)
             * (CAST(sx AS DOUBLE) / n) AS icept
  FROM mom
)
SELECT l.n AS n_left, r.n AS n_right,
       round(l.icept, 6) AS icept_left,
       round(r.icept, 6) AS icept_right,
       round(r.icept - l.icept, 6) AS rd_effect,
       round(l.slope * 1e7, 6) AS slope_left,
       round(r.slope * 1e7, 6) AS slope_right
FROM (SELECT * FROM fit WHERE NOT pos) l
CROSS JOIN (SELECT * FROM fit WHERE pos) r
"""


SPECS: dict[str, QuerySpec] = {
    "pivot_priority_by_segment": QuerySpec(
        _q_pivot_priority_by_segment,
        _SQL_PIVOT_PRIORITY_BY_SEGMENT,
        "groupBy().pivot() surface with a fixed value list (one hash "
        "agg, no distinct-scan pass), stable snake_case columns",
    ),
    "regression_discontinuity_price": QuerySpec(
        _q_regression_discontinuity_price,
        _SQL_REGRESSION_DISCONTINUITY_PRICE,
        "sharp regression-discontinuity estimate of the urgent-share "
        "jump at the $150k cutoff (per-side exact-moment OLS, +-$50k "
        "bandwidth) — completes the causal family",
    ),
}
