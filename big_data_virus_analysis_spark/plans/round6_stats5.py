"""Round-6 stats pack 5 — outlier testing, seasonality strength, and
elasticity regression.

* ``grubbs_statistic_orders`` — Grubbs' test statistic
  G = max|x − mean| / sd over order totals (decimal-exact moments,
  the max from the same single aggregate pass), with the flag against
  a fixed conservative critical value.  The formal-test sibling of
  ``zscore_outlier_orders``.
* ``dow_seasonality_strength`` — variance decomposition of daily
  revenue into the day-of-week component:
  strength = Var(dow means, weighted) / Var(total).  One pass to the
  per-day frame, one to the 7-row dow frame; all moments
  decimal-exact.
* ``log_log_elasticity_by_brand`` — price elasticity per brand: OLS
  slope of log quantity on log extended price.  Logs are quantized to
  integer 1e-6 units (``floor(ln(x)*1e6+0.5)`` — the repo's
  deterministic-IEEE trick) so every cross-moment accumulates as a
  decimal(38,0)-exact integer and the group-sum ORDER cannot perturb
  the slope; doubles appear only in the 25-row final combine.

100 TB shape: one or two hash aggregates each; no ordered pass at all
(Grubbs' max rides the same aggregate as the moments).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load_table
from . import QuerySpec

# --------------------------------------------------------------------------
# grubbs_statistic_orders
# --------------------------------------------------------------------------

_GRUBBS_CRIT = 4.0  # conservative two-sided critical value for large n


def _q_grubbs_statistic_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    x = F.col("o_totalprice").cast("decimal(18,2)")
    agg = orders.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("s"),
        F.sum((x * x).cast("decimal(38,4)")).alias("q"),
        F.min(x).alias("xmin"),
        F.max(x).alias("xmax"),
    )
    nd = F.col("n").cast("double")
    mean = F.col("s").cast("double") / nd
    sd = F.sqrt((F.col("q").cast("double") - nd * mean * mean) / (nd - 1))
    dev = F.greatest(
        F.col("xmax").cast("double") - mean, mean - F.col("xmin").cast("double")
    )
    g = dev / sd
    return agg.select(
        "n",
        F.round(mean, 4).alias("mean"),
        F.round(sd, 4).alias("stddev"),
        F.round(g, 6).alias("grubbs_g"),
        (g > _GRUBBS_CRIT).alias("outlier_flag"),
    )


_SQL_GRUBBS_STATISTIC_ORDERS = f"""
WITH agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         sum(CAST(o_totalprice AS DECIMAL(18,2))) AS s,
         sum(CAST(CAST(o_totalprice AS DECIMAL(18,2))
                  * CAST(o_totalprice AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS q,
         min(CAST(o_totalprice AS DECIMAL(18,2))) AS xmin,
         max(CAST(o_totalprice AS DECIMAL(18,2))) AS xmax
  FROM orders
), stats AS (
  SELECT n,
         CAST(s AS DOUBLE) / n AS mean,
         sqrt((CAST(q AS DOUBLE) - n * (CAST(s AS DOUBLE) / n)
               * (CAST(s AS DOUBLE) / n)) / (n - 1)) AS sd,
         greatest(CAST(xmax AS DOUBLE) - CAST(s AS DOUBLE) / n,
                  CAST(s AS DOUBLE) / n - CAST(xmin AS DOUBLE)) AS dev
  FROM agg
)
SELECT n,
       round(mean, 4) AS mean,
       round(sd, 4) AS stddev,
       round(dev / sd, 6) AS grubbs_g,
       dev / sd > {_GRUBBS_CRIT!r} AS outlier_flag
FROM stats
"""


# --------------------------------------------------------------------------
# dow_seasonality_strength
# --------------------------------------------------------------------------


def _q_dow_seasonality_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    daily = (
        orders.select(
            F.to_date("o_orderdate").alias("day"),
            F.col("o_totalprice").cast("decimal(18,2)").alias("rev"),
        )
        .groupBy("day")
        .agg(F.sum("rev").cast("decimal(38,2)").alias("y"))
        .select(
            "y",
            (F.col("y") * F.col("y")).cast("decimal(38,4)").alias("y2"),
            F.dayofweek("day").alias("dow"),
        )
    )
    per_dow = daily.groupBy("dow").agg(
        F.count(F.lit(1)).alias("n_d"),
        F.sum("y").alias("s_d"),
        F.sum("y2").alias("q_d"),
    )
    tot = per_dow.agg(
        F.sum("n_d").alias("n"),
        F.sum("s_d").alias("s"),
        F.sum("q_d").alias("q"),
    )
    joined = per_dow.crossJoin(F.broadcast(tot))
    nd = F.col("n").cast("double")
    gm = F.col("s").cast("double") / nd
    between_term = (
        F.col("n_d").cast("double")
        * (F.col("s_d").cast("double") / F.col("n_d").cast("double") - gm)
        * (F.col("s_d").cast("double") / F.col("n_d").cast("double") - gm)
    )
    agg2 = joined.groupBy("n", "s", "q").agg(F.sum(between_term).alias("ssb"))
    sst = F.col("q").cast("double") - F.col("n").cast("double") * (
        F.col("s").cast("double") / F.col("n").cast("double")
    ) * (F.col("s").cast("double") / F.col("n").cast("double"))
    return agg2.select(
        F.col("n").alias("n_days"),
        F.round(F.col("ssb") / sst, 6).alias("dow_seasonality_strength"),
    )


_SQL_DOW_SEASONALITY_STRENGTH = """
WITH daily AS (
  SELECT CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS y,
         dayofweek(CAST(o_orderdate AS DATE)) + 1 AS dow
  FROM orders GROUP BY CAST(o_orderdate AS DATE)
), staged AS (
  SELECT dow, y, CAST(y * y AS DECIMAL(38,4)) AS y2 FROM daily
), per_dow AS (
  SELECT dow, CAST(count(*) AS BIGINT) AS n_d, sum(y) AS s_d, sum(y2) AS q_d
  FROM staged GROUP BY dow
), tot AS (
  SELECT CAST(sum(n_d) AS BIGINT) AS n, sum(s_d) AS s, sum(q_d) AS q
  FROM per_dow
), terms AS (
  SELECT n, s, q,
         CAST(n_d AS DOUBLE)
           * (CAST(s_d AS DOUBLE) / n_d - CAST(s AS DOUBLE) / n)
           * (CAST(s_d AS DOUBLE) / n_d - CAST(s AS DOUBLE) / n) AS bt
  FROM per_dow CROSS JOIN tot
), agg2 AS (
  SELECT n, s, q, sum(bt) AS ssb FROM terms GROUP BY 1, 2, 3
)
SELECT n AS n_days,
       round(ssb / (CAST(q AS DOUBLE)
                    - n * (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n)),
             6) AS dow_seasonality_strength
FROM agg2
"""


# --------------------------------------------------------------------------
# log_log_elasticity_by_brand
# --------------------------------------------------------------------------


def _q_log_log_elasticity_by_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    base = lineitem.join(
        F.broadcast(part.select("p_partkey", "p_brand")),
        lineitem["l_partkey"] == part["p_partkey"],
    ).select(
        F.col("p_brand").alias("brand"),
        F.floor(F.log(F.col("l_quantity").cast("double")) * 1e6 + 0.5)
        .cast("decimal(38,0)")
        .alias("lq"),
        F.floor(F.log(F.col("l_extendedprice").cast("double")) * 1e6 + 0.5)
        .cast("decimal(38,0)")
        .alias("lp"),
    )
    agg = base.groupBy("brand").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("lp").alias("sx"),
        F.sum("lq").alias("sy"),
        F.sum(F.col("lp") * F.col("lq")).alias("sxy"),
        F.sum(F.col("lp") * F.col("lp")).alias("sxx"),
    )
    nd = F.col("n").cast("decimal(38,0)")
    num = (nd * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den = (nd * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    return agg.select(
        "brand",
        "n",
        F.round(num / den, 6).alias("elasticity"),
    )


_SQL_LOG_LOG_ELASTICITY_BY_BRAND = """
WITH base AS (
  SELECT p.p_brand AS brand,
         CAST(floor(ln(CAST(l.l_quantity AS DOUBLE)) * 1e6 + 0.5)
              AS DECIMAL(38,0)) AS lq,
         CAST(floor(ln(CAST(l.l_extendedprice AS DOUBLE)) * 1e6 + 0.5)
              AS DECIMAL(38,0)) AS lp
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
), agg AS (
  SELECT brand,
         CAST(count(*) AS DECIMAL(38,0)) AS n,
         sum(lp) AS sx, sum(lq) AS sy,
         sum(lp * lq) AS sxy, sum(lp * lp) AS sxx
  FROM base GROUP BY 1
)
SELECT brand,
       CAST(n AS BIGINT) AS n,
       round(CAST(n * sxy - sx * sy AS DOUBLE)
             / CAST(n * sxx - sx * sx AS DOUBLE), 6) AS elasticity
FROM agg
"""


SPECS: dict[str, QuerySpec] = {
    "grubbs_statistic_orders": QuerySpec(
        _q_grubbs_statistic_orders,
        _SQL_GRUBBS_STATISTIC_ORDERS,
        "Grubbs' outlier statistic over order totals from one "
        "decimal-exact aggregate pass, flag vs fixed critical value",
    ),
    "dow_seasonality_strength": QuerySpec(
        _q_dow_seasonality_strength,
        _SQL_DOW_SEASONALITY_STRENGTH,
        "share of daily-revenue variance explained by day-of-week "
        "(weighted between-group over total, decimal-exact moments)",
    ),
    "log_log_elasticity_by_brand": QuerySpec(
        _q_log_log_elasticity_by_brand,
        _SQL_LOG_LOG_ELASTICITY_BY_BRAND,
        "price elasticity per brand: OLS slope of log quantity on log "
        "price with 1e-6-quantized logs (decimal-exact cross moments)",
    ),
}
