"""Round-6 time-series pack 5 — nonparametric dependence and
randomness tests over the daily series.

All three operate on the per-DAY frame, which is CALENDAR-BOUNDED
(~2.4k rows at any corpus size — the fact scan collapses first), so
the pairwise and ordered passes below are bounded by the calendar,
never by data volume.

* ``kendall_tau_daily`` — exact Kendall tau-b between daily revenue
  and daily order count: concordant/discordant/tie counts from the
  day-frame self-join (i < j pairs), tie-corrected denominator.  The
  rank-correlation companion to ``spearman_price_quantity`` for the
  bounded-frame case where the O(n²) definition is affordable and
  exact.
* ``runs_test_daily`` — Wald–Wolfowitz runs test for randomness of
  daily revenue around its median: observed runs of above/below-median
  signs (lag over the day frame), expected runs and the z statistic
  in closed form.
* ``ljung_box_daily`` — the Ljung–Box portmanteau statistic
  Q = n(n+2)·Σ_{k≤7} ρ̂_k²/(n−k) over the detrended daily series —
  the formal whiteness test on top of ``daily_value_acf``'s per-lag
  view; autocovariances come from the 7-row lag scaffold band join
  (same allowlisted shape as the ACF query).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window

from ..sources.tables import load_table
from . import QuerySpec


def _daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.select(
            F.to_date("o_orderdate").alias("day"),
            F.col("o_totalprice").cast("decimal(18,2)").alias("rev"),
        )
        .groupBy("day")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("rev").alias("rev"),
        )
    )


_SQL_DAILY = """
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(count(*) AS BIGINT) AS n_orders,
         sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
  FROM orders GROUP BY 1
"""


# --------------------------------------------------------------------------
# kendall_tau_daily
# --------------------------------------------------------------------------


def _q_kendall_tau_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = _daily(spark, sf_dir)
    a = daily.select(
        F.col("day").alias("d1"),
        F.col("rev").alias("x1"),
        F.col("n_orders").alias("y1"),
    )
    b = daily.select(
        F.col("day").alias("d2"),
        F.col("rev").alias("x2"),
        F.col("n_orders").alias("y2"),
    )
    pairs = a.join(b, F.col("d1") < F.col("d2"))
    sx = F.signum((F.col("x2") - F.col("x1")).cast("double"))
    sy = F.signum((F.col("y2") - F.col("y1")).cast("double"))
    agg = pairs.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(((sx * sy) > 0).cast("bigint")).alias("concordant"),
        F.sum(((sx * sy) < 0).cast("bigint")).alias("discordant"),
        F.sum(((sx == 0) & (sy != 0)).cast("bigint")).alias("ties_x"),
        F.sum(((sy == 0) & (sx != 0)).cast("bigint")).alias("ties_y"),
        F.sum(((sx == 0) & (sy == 0)).cast("bigint")).alias("ties_xy"),
    )
    nc = F.col("concordant").cast("double")
    nd = F.col("discordant").cast("double")
    n0 = F.col("n_pairs").cast("double")
    n1 = (F.col("ties_x") + F.col("ties_xy")).cast("double")
    n2 = (F.col("ties_y") + F.col("ties_xy")).cast("double")
    tau_b = (nc - nd) / F.sqrt((n0 - n1) * (n0 - n2))
    return agg.select(
        "n_pairs",
        "concordant",
        "discordant",
        F.round(tau_b, 6).alias("kendall_tau_b"),
    )


_SQL_KENDALL_TAU_DAILY = f"""
WITH daily AS ({_SQL_DAILY}),
pairs AS (
  SELECT sign(CAST(b.rev - a.rev AS DOUBLE)) AS sx,
         sign(CAST(b.n_orders - a.n_orders AS DOUBLE)) AS sy
  FROM daily a JOIN daily b ON a.day < b.day
), agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n_pairs,
         CAST(sum(CASE WHEN sx * sy > 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS concordant,
         CAST(sum(CASE WHEN sx * sy < 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS discordant,
         CAST(sum(CASE WHEN sx = 0 AND sy <> 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS ties_x,
         CAST(sum(CASE WHEN sy = 0 AND sx <> 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS ties_y,
         CAST(sum(CASE WHEN sx = 0 AND sy = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS ties_xy
  FROM pairs
)
SELECT n_pairs, concordant, discordant,
       round((CAST(concordant AS DOUBLE) - discordant)
             / sqrt((CAST(n_pairs AS DOUBLE) - (ties_x + ties_xy))
                    * (CAST(n_pairs AS DOUBLE) - (ties_y + ties_xy))), 6)
         AS kendall_tau_b
FROM agg
"""


# --------------------------------------------------------------------------
# runs_test_daily
# --------------------------------------------------------------------------


def _q_runs_test_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = _daily(spark, sf_dir).select(
        "day", F.col("rev").cast("double").alias("y")
    )
    med = daily.agg(F.expr("median(y)").alias("med"))
    signed = (
        daily.crossJoin(F.broadcast(med))
        .where(F.col("y") != F.col("med"))  # standard: drop exact-median days
        .select("day", (F.col("y") > F.col("med")).cast("int").alias("s"))
    )
    w = Window.orderBy("day")
    runs = signed.select(
        "s", F.lag("s").over(w).alias("prev")
    ).select(
        (F.col("prev").isNull() | (F.col("s") != F.col("prev")))
        .cast("bigint")
        .alias("is_start"),
        "s",
    )
    agg = runs.agg(
        F.sum("is_start").alias("n_runs"),
        F.sum("s").alias("n_pos"),
        F.sum(1 - F.col("s")).alias("n_neg"),
    )
    npd = F.col("n_pos").cast("double")
    nnd = F.col("n_neg").cast("double")
    n = npd + nnd
    exp_runs = 2.0 * npd * nnd / n + 1.0
    var_runs = (
        2.0 * npd * nnd * (2.0 * npd * nnd - n) / (n * n * (n - 1.0))
    )
    return agg.select(
        "n_runs",
        "n_pos",
        "n_neg",
        F.round(exp_runs, 4).alias("expected_runs"),
        F.round(
            (F.col("n_runs").cast("double") - exp_runs) / F.sqrt(var_runs), 6
        ).alias("z"),
    )


_SQL_RUNS_TEST_DAILY = f"""
WITH daily AS ({_SQL_DAILY}),
med AS (
  SELECT median(CAST(rev AS DOUBLE)) AS med FROM daily
), signed AS (
  SELECT day,
         CASE WHEN CAST(rev AS DOUBLE) > med THEN 1 ELSE 0 END AS s
  FROM daily CROSS JOIN med
  WHERE CAST(rev AS DOUBLE) <> med
), runs AS (
  SELECT s,
         CASE WHEN lag(s) OVER (ORDER BY day) IS NULL
                   OR s <> lag(s) OVER (ORDER BY day)
              THEN 1 ELSE 0 END AS is_start
  FROM signed
), agg AS (
  SELECT CAST(sum(is_start) AS BIGINT) AS n_runs,
         CAST(sum(s) AS BIGINT) AS n_pos,
         CAST(sum(1 - s) AS BIGINT) AS n_neg
  FROM runs
)
SELECT n_runs, n_pos, n_neg,
       round(2.0 * n_pos * n_neg / (n_pos + n_neg) + 1.0, 4) AS expected_runs,
       round((n_runs - (2.0 * n_pos * n_neg / (n_pos + n_neg) + 1.0))
             / sqrt(2.0 * n_pos * n_neg
                    * (2.0 * CAST(n_pos AS DOUBLE) * n_neg - (n_pos + n_neg))
                    / (CAST(n_pos + n_neg AS DOUBLE)
                       * (n_pos + n_neg) * (n_pos + n_neg - 1.0))), 6) AS z
FROM agg
"""


# --------------------------------------------------------------------------
# ljung_box_daily
# --------------------------------------------------------------------------

_LB_LAGS = 7


def _q_ljung_box_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = _daily(spark, sf_dir).select(
        "day", F.col("rev").cast("double").alias("y")
    )
    stats = daily.agg(
        F.count(F.lit(1)).alias("n"), F.avg("y").alias("mu")
    )
    centered = daily.crossJoin(F.broadcast(stats)).select(
        "day", (F.col("y") - F.col("mu")).alias("e"), "n"
    )
    c0 = centered.agg(F.sum(F.col("e") * F.col("e")).alias("c0"))
    lags = spark.range(1, _LB_LAGS + 1).select(F.col("id").alias("k"))
    a = centered.select(F.col("day").alias("d"), F.col("e").alias("e1"), "n")
    b = centered.select(F.col("day").alias("d2"), F.col("e").alias("e2"))
    # 7-row lag scaffold band join over the day frame (allowlisted shape)
    paired = a.crossJoin(F.broadcast(lags)).join(
        b, F.expr("d2 = date_add(d, CAST(k AS INT))")
    )
    per_lag = paired.groupBy("k", "n").agg(
        F.sum(F.col("e1") * F.col("e2")).alias("ck")
    )
    terms = per_lag.crossJoin(F.broadcast(c0)).select(
        "n",
        (
            (F.col("ck") / F.col("c0"))
            * (F.col("ck") / F.col("c0"))
            / (F.col("n") - F.col("k")).cast("double")
        ).alias("term"),
    )
    agg = terms.groupBy("n").agg(F.sum("term").alias("s"))
    nd = F.col("n").cast("double")
    return agg.select(
        F.col("n").alias("n_days"),
        F.lit(_LB_LAGS).alias("n_lags"),
        F.round(nd * (nd + 2.0) * F.col("s"), 6).alias("ljung_box_q"),
    )


_SQL_LJUNG_BOX_DAILY = f"""
WITH daily AS ({_SQL_DAILY}),
stats AS (
  SELECT CAST(count(*) AS BIGINT) AS n, avg(CAST(rev AS DOUBLE)) AS mu
  FROM daily
), centered AS (
  SELECT day, CAST(rev AS DOUBLE) - mu AS e, n FROM daily CROSS JOIN stats
), c0 AS (
  SELECT sum(e * e) AS c0 FROM centered
), lags AS (
  SELECT unnest(range(1, {_LB_LAGS + 1})) AS k
), per_lag AS (
  SELECT l.k, a.n, sum(a.e * b.e) AS ck
  FROM centered a
  CROSS JOIN lags l
  JOIN centered b ON b.day = a.day + CAST(l.k AS INT) * INTERVAL 1 DAY
  GROUP BY l.k, a.n
), terms AS (
  SELECT n, (ck / c0) * (ck / c0) / CAST(n - k AS DOUBLE) AS term
  FROM per_lag CROSS JOIN c0
)
SELECT n AS n_days, {_LB_LAGS} AS n_lags,
       round(CAST(n AS DOUBLE) * (n + 2.0) * sum(term), 6) AS ljung_box_q
FROM terms
GROUP BY n
"""


SPECS: dict[str, QuerySpec] = {
    "kendall_tau_daily": QuerySpec(
        _q_kendall_tau_daily,
        _SQL_KENDALL_TAU_DAILY,
        "exact Kendall tau-b between daily revenue and order count "
        "(calendar-bounded pairwise definition with tie correction)",
    ),
    "runs_test_daily": QuerySpec(
        _q_runs_test_daily,
        _SQL_RUNS_TEST_DAILY,
        "Wald-Wolfowitz runs test of daily revenue around its median "
        "(observed/expected runs, z statistic)",
    ),
    "ljung_box_daily": QuerySpec(
        _q_ljung_box_daily,
        _SQL_LJUNG_BOX_DAILY,
        "Ljung-Box Q over lags 1-7 of the centered daily-revenue "
        "series (7-row lag scaffold band join)",
    ),
}
