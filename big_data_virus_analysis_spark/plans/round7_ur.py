"""Round-7 unit-root test — Dickey–Fuller on daily revenue.

``dickey_fuller_daily`` — the (non-augmented) Dickey–Fuller test with
drift: Δy_t = α + ρ·y_{t−1} + ε over the observed day sequence, DF
statistic = ρ̂ / se(ρ̂).  ρ̂ near 0 (DF ≫ critical ≈ −2.86) means a
random walk (differencing needed before the forecast family's models
apply); strongly negative DF means mean reversion.  The unit-root
gate in front of ``holt_linear_smooth`` / ``theil_sen_daily_revenue``
/ ``pinball_mase_forecasts``.

Determinism: revenue in exact cents; (t−1, t) adjacency via the
two-phase ``global_row_number`` + rank self-join (no global window —
same shape as ``durbin_watson_daily``); every regression moment is an
exact integer/decimal sum (x·y products in decimal(38,0)/HUGEINT);
ρ̂, se, and the t-statistic are the fixed closed form over those exact
aggregates, round 6 at the edge.

100 TB shape: the fact scan collapses to the calendar-bounded day
frame first; one rank pass + one 2400-row self-join + one moment
aggregate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.prefix_sum import global_row_number
from . import QuerySpec
from .frames import SQL_DAILY_ORDER_CENTS, daily_order_cents


def _q_dickey_fuller_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    day = daily_order_cents(spark, sf_dir)
    ranked = global_row_number(day, [F.asc("day")], out_col="rk")
    cur = ranked.select("rk", F.col("cents").alias("y1"))
    prv = ranked.select((F.col("rk") + 1).alias("rk"), F.col("cents").alias("y0"))
    pairs = cur.join(prv, "rk").select(
        F.col("y0").alias("x"), (F.col("y1") - F.col("y0")).alias("d")
    )
    mom = pairs.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("d").alias("sd"),
        F.sum(
            F.col("x").cast("decimal(19,0)") * F.col("x").cast("decimal(19,0)")
        ).alias("sxx"),
        F.sum(
            F.col("d").cast("decimal(19,0)") * F.col("d").cast("decimal(19,0)")
        ).alias("sdd"),
        F.sum(
            F.col("x").cast("decimal(19,0)") * F.col("d").cast("decimal(19,0)")
        ).alias("sxd"),
    )
    nd = F.col("n").cast("double")
    sxx_c = F.col("sxx").cast("double") - F.col("sx").cast("double") ** 2 / nd
    sdd_c = F.col("sdd").cast("double") - F.col("sd").cast("double") ** 2 / nd
    sxd_c = (
        F.col("sxd").cast("double")
        - F.col("sx").cast("double") * F.col("sd").cast("double") / nd
    )
    rho = sxd_c / sxx_c
    ssr = sdd_c - rho * sxd_c
    se = F.sqrt(ssr / (nd - 2.0) / sxx_c)
    return mom.select(
        F.col("n").alias("n_obs"),
        F.round(rho, 6).alias("rho"),
        F.round(se, 6).alias("se_rho"),
        F.round(rho / se, 6).alias("df_tstat"),
        (rho / se < -2.86).alias("rejects_unit_root_5pct"),
    )


_SQL_DICKEY_FULLER_DAILY = f"""
WITH ranked AS (
  SELECT cents AS yc, row_number() OVER (ORDER BY day) AS rk
  FROM ({SQL_DAILY_ORDER_CENTS})
), pairs AS (
  SELECT b.yc AS x, a.yc - b.yc AS d
  FROM ranked a JOIN ranked b ON a.rk = b.rk + 1
), mom AS (
  SELECT count(*) AS n, sum(x) AS sx, sum(d) AS sd,
         sum(CAST(x AS HUGEINT) * x) AS sxx,
         sum(CAST(d AS HUGEINT) * d) AS sdd,
         sum(CAST(x AS HUGEINT) * d) AS sxd
  FROM pairs
), g AS (
  SELECT n,
         CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n AS sxx_c,
         CAST(sdd AS DOUBLE) - CAST(sd AS DOUBLE) * sd / n AS sdd_c,
         CAST(sxd AS DOUBLE) - CAST(sx AS DOUBLE) * sd / n AS sxd_c
  FROM mom
), h AS (
  SELECT n, sxx_c, sdd_c, sxd_c, sxd_c / sxx_c AS rho FROM g
)
SELECT CAST(n AS BIGINT) AS n_obs,
       round(rho, 6) AS rho,
       round(sqrt((sdd_c - rho * sxd_c) / (n - 2.0) / sxx_c), 6) AS se_rho,
       round(rho / sqrt((sdd_c - rho * sxd_c) / (n - 2.0) / sxx_c), 6)
         AS df_tstat,
       rho / sqrt((sdd_c - rho * sxd_c) / (n - 2.0) / sxx_c) < -2.86
         AS rejects_unit_root_5pct
FROM h
"""


SPECS: dict[str, QuerySpec] = {
    "dickey_fuller_daily": QuerySpec(
        _q_dickey_fuller_daily,
        _SQL_DICKEY_FULLER_DAILY,
        "Dickey-Fuller unit-root test with drift on daily revenue "
        "(exact integer moments, two-phase rank adjacency, closed-form "
        "rho / se / t)",
    ),
}
