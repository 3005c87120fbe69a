"""Round-5 time-series pack: changepoint detection, trend-aware
smoothing, and a calendar-lag forecast backtest — the monitoring layer
a continuously-ingesting pipeline runs over its own daily rollups.

All three queries aggregate the raw stream down to a bounded
calendar frame FIRST (days or months — thousands of rows at any
corpus size), so the sequential/recursive math that follows runs over
tiny frames while the heavy lifting stays one hash aggregate over the
fact table.  Each is exact-oracle:

* ``cusum_changepoint_daily`` — CUSUM mean-shift detection over the
  daily value total: S_t = Σ(x_i − x̄), changepoint = argmax |S_t|
  (earliest-day tiebreak), with the max deviation and the series
  stats.  The classic "did the level shift, and when" monitor.
* ``holt_linear_smooth`` — Holt's double exponential smoothing
  (α=0.5, β=0.3) over the monthly revenue series, computed as a
  deterministic left fold with a (level, trend) pair accumulator —
  Spark `aggregate` over the sorted array, DuckDB `list_reduce` over
  2-element lists; both engines execute the identical fold order on
  identical rounded inputs, so the oracle is exact.  Window functions
  cannot express this recursion; the fold is per-series and the
  series is calendar-bounded.
* ``seasonal_naive_backtest`` — the honest forecasting baseline:
  predict each day's per-event-type count with the count 7 calendar
  days earlier (a self-join on day−7, NOT a row lag — gap days don't
  silently shift the season), and score MAE and sMAPE per event type.
  Any fancier model ships only if it beats this row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.tables import load_table
from . import QuerySpec

_DAY_US = 86_400_000_000

# --------------------------------------------------------------------------
# cusum_changepoint_daily
# --------------------------------------------------------------------------


def _q_cusum_changepoint_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.select(
            (F.unix_micros(F.col("ts")) / _DAY_US).cast("long").alias("day"), "value"
        )
        .groupBy("day")
        .agg(F.round(F.sum("value"), 6).alias("x"))
    )
    # per-day frame is calendar-bounded: the global window is over days
    tw = Window.partitionBy()
    cw = Window.partitionBy().orderBy("day")
    dev = (
        daily.withColumn("mean_x", F.round(F.avg("x").over(tw), 6))
        .withColumn("n_days", F.count(F.lit(1)).over(tw))
        .withColumn("s", F.round(F.sum(F.col("x") - F.col("mean_x")).over(cw), 6))
    )
    rk = Window.partitionBy().orderBy(F.desc(F.abs(F.col("s"))), F.asc("day"))
    return (
        dev.withColumn("rk", F.row_number().over(rk))
        .where("rk = 1")
        .select(
            "n_days",
            F.col("day").alias("changepoint_day"),
            F.round(F.abs(F.col("s")), 6).alias("max_abs_cusum"),
            "mean_x",
        )
    )


_SQL_CUSUM_CHANGEPOINT_DAILY = """
WITH daily AS (
  SELECT epoch_us(ts) // 86400000000 AS day, round(sum(value), 6) AS x
  FROM events GROUP BY 1
), dev AS (
  SELECT day, x, round(avg(x) OVER (), 6) AS mean_x FROM daily
), cusum AS (
  SELECT day, mean_x,
         round(sum(x - mean_x) OVER (ORDER BY day
                                     ROWS UNBOUNDED PRECEDING), 6) AS s,
         count(*) OVER () AS n_days
  FROM dev
)
SELECT CAST(n_days AS BIGINT) AS n_days, day AS changepoint_day,
       round(abs(s), 6) AS max_abs_cusum, mean_x
FROM cusum
QUALIFY row_number() OVER (ORDER BY abs(s) DESC, day ASC) = 1
"""


# --------------------------------------------------------------------------
# holt_linear_smooth
# --------------------------------------------------------------------------

_ALPHA = 0.5
_BETA = 0.3


def _q_holt_linear_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    monthly = (
        orders.select(
            F.date_trunc("month", F.col("o_orderdate")).alias("month"),
            F.col("o_totalprice").cast("decimal(18,2)").alias("tp"),
        )
        .groupBy("month")
        .agg(F.round(F.sum("tp").cast("double"), 6).alias("v"))
    )
    series = F.transform(
        F.sort_array(F.collect_list(F.struct(F.col("month"), F.col("v")))),
        lambda s: s.getField("v"),
    )
    folded = monthly.agg(series.alias("vals")).select(
        F.size("vals").alias("n_periods"),
        F.expr(
            f"""aggregate(
                 slice(vals, 2, size(vals) - 1),
                 array(element_at(vals, 1), 0.0D),
                 (acc, x) -> array(
                   {_ALPHA}D * x + {1 - _ALPHA}D * (acc[0] + acc[1]),
                   {_BETA}D * (({_ALPHA}D * x + {1 - _ALPHA}D * (acc[0] + acc[1])) - acc[0])
                     + {1 - _BETA}D * acc[1]))""",
        ).alias("lt"),
    )
    return folded.select(
        "n_periods",
        F.round(F.col("lt")[0], 6).alias("level"),
        F.round(F.col("lt")[1], 6).alias("trend"),
        F.round(F.col("lt")[0] + F.col("lt")[1], 6).alias("forecast_next"),
    )


_SQL_HOLT_LINEAR_SMOOTH = f"""
WITH monthly AS (
  SELECT date_trunc('month', o_orderdate) AS month,
         round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 6) AS v
  FROM orders GROUP BY 1
), series AS (
  SELECT list(v ORDER BY month) AS vals FROM monthly
), folded AS (
  SELECT len(vals) AS n_periods,
         list_reduce(
           list_transform(vals, x -> [CAST(x AS DOUBLE), CAST(0.0 AS DOUBLE)]),
           (acc, p) -> [
             {_ALPHA}e0 * p[1] + {1 - _ALPHA}e0 * (acc[1] + acc[2]),
             {_BETA}e0 * (({_ALPHA}e0 * p[1] + {1 - _ALPHA}e0 * (acc[1] + acc[2])) - acc[1])
               + {1 - _BETA}e0 * acc[2]]) AS lt
  FROM series
)
SELECT CAST(n_periods AS INT) AS n_periods,
       round(lt[1], 6) AS level, round(lt[2], 6) AS trend,
       round(lt[1] + lt[2], 6) AS forecast_next
FROM folded
"""


# --------------------------------------------------------------------------
# seasonal_naive_backtest
# --------------------------------------------------------------------------

_SEASON_DAYS = 7


def _q_seasonal_naive_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.select(
            "event_type",
            (F.unix_micros(F.col("ts")) / _DAY_US).cast("long").alias("day"),
        )
        .groupBy("event_type", "day")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    lagged = daily.alias("a").join(
        daily.alias("f"),
        (F.col("a.event_type") == F.col("f.event_type"))
        & (F.col("a.day") == F.col("f.day") + _SEASON_DAYS),
    )
    err = F.abs(F.col("a.c") - F.col("f.c")).cast("double")
    return lagged.groupBy(F.col("a.event_type").alias("event_type")).agg(
        F.count(F.lit(1)).alias("n_days_scored"),
        F.round(F.avg(err), 6).alias("mae"),
        F.round(
            F.avg(
                F.lit(2.0) * err / (F.col("a.c") + F.col("f.c")).cast("double")
            ),
            6,
        ).alias("smape"),
    )


_SQL_SEASONAL_NAIVE_BACKTEST = f"""
WITH daily AS (
  SELECT event_type, epoch_us(ts) // 86400000000 AS day, count(*) AS c
  FROM events GROUP BY 1, 2
)
SELECT a.event_type, count(*) AS n_days_scored,
       round(avg(abs(a.c - f.c)), 6) AS mae,
       round(avg(2.0 * abs(a.c - f.c) / CAST(a.c + f.c AS DOUBLE)), 6) AS smape
FROM daily a JOIN daily f
  ON a.event_type = f.event_type AND a.day = f.day + {_SEASON_DAYS}
GROUP BY a.event_type
"""


SPECS: dict[str, QuerySpec] = {
    "cusum_changepoint_daily": QuerySpec(
        _q_cusum_changepoint_daily,
        _SQL_CUSUM_CHANGEPOINT_DAILY,
        "CUSUM mean-shift changepoint over the daily value series: "
        "argmax |cumsum(x - mean)| with earliest-day tiebreak",
    ),
    "holt_linear_smooth": QuerySpec(
        _q_holt_linear_smooth,
        _SQL_HOLT_LINEAR_SMOOTH,
        "Holt double exponential smoothing (level+trend fold) over the "
        "monthly revenue series — recursive state via deterministic "
        "array fold, identical order in both engines",
    ),
    "seasonal_naive_backtest": QuerySpec(
        _q_seasonal_naive_backtest,
        _SQL_SEASONAL_NAIVE_BACKTEST,
        "seasonal-naive (t-7 calendar self-join) forecast backtest per "
        "event type: MAE and sMAPE — the baseline any model must beat",
    ),
}
