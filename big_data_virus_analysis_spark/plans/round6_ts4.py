"""Round-6 time-series pack 4 — changepoint, intermittent demand, and
robust anomaly queries over the daily order-revenue series.

* ``binseg_changepoint_daily`` — one round of binary segmentation:
  the single split of the daily-revenue series that maximizes the SSE
  reduction (the CART/NIPALS-style greedy step under CUSUM's
  alternative formulation).  Prefix counts/sums/sumsquares come from
  the two-phase ``global_prefix_sum`` (value columns ride one pass;
  grand totals attach for free), the per-split gain is closed-form
  from exact decimal aggregates, and the argmax is
  ``orderBy().limit(1)`` → ``TakeOrderedAndProject`` with a
  deterministic day tiebreak — no global window anywhere.
* ``croston_intermittent_demand`` — Croston's method on an
  intermittent series (daily count of orders ≥ 450k): exponential
  smoothing of demand sizes and inter-demand intervals, folded in one
  ordered-array ``aggregate`` exactly like ``holt_linear_smooth``
  (DuckDB ``list_reduce`` has no init, so the fold seeds from the
  first transformed pair; the first interval is 1 by convention).
  Forecast = z/q.
* ``rolling_mad_anomaly_daily`` — modified z-score anomalies:
  trailing-7-day median and MAD per day (windows restricted to a full
  7 days so both medians have odd cardinality and are exact middle
  elements in both engines), top-10 days by |0.6745·(y−med)/MAD| with
  deterministic tiebreak.

100 TB shape: all three collapse the fact scan to the per-DAY frame
(calendar-bounded) first; the MAD band join is day-frame × 7 rows; the
Croston fold and the final top-k run on bounded frames.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.prefix_sum import global_prefix_sum
from ..sources.tables import load_table
from . import QuerySpec
from .frames import SQL_DAILY_ORDER_CENTS, daily_order_cents

# --------------------------------------------------------------------------
# binseg_changepoint_daily
# --------------------------------------------------------------------------


def _q_binseg_changepoint_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    daily = (
        orders.select(
            F.to_date("o_orderdate").alias("day"),
            F.col("o_totalprice").cast("decimal(18,2)").alias("y"),
        )
        .groupBy("day")
        .agg(F.sum("y").alias("rev"))
        .select(
            "day",
            F.lit(1).alias("one"),
            F.col("rev").cast("decimal(38,2)").alias("s"),
            (F.col("rev") * F.col("rev")).cast("decimal(38,4)").alias("q"),
        )
    )
    cum = global_prefix_sum(
        daily,
        "day",
        value_col=["one", "s", "q"],
        out_col=["cn", "cs", "cq"],
        total_col=["tn", "ts", "tq"],
    )
    nl = F.col("cn").cast("double")
    nr = (F.col("tn") - F.col("cn")).cast("double")
    sl = F.col("cs").cast("double")
    sr = (F.col("ts") - F.col("cs")).cast("double")
    ql = F.col("cq").cast("double")
    qr = (F.col("tq") - F.col("cq")).cast("double")
    st = F.col("ts").cast("double")
    qt = F.col("tq").cast("double")
    nt = F.col("tn").cast("double")
    sse_split = (ql - sl * sl / nl) + (qr - sr * sr / nr)
    sst = qt - st * st / nt
    scored = cum.where(F.col("cn") < F.col("tn")).select(
        "day",
        F.col("cn").alias("n_left"),
        (F.col("tn") - F.col("cn")).alias("n_right"),
        (sl / nl).alias("mean_left_raw"),
        (sr / nr).alias("mean_right_raw"),
        (sst - sse_split).alias("gain_raw"),
    )
    top = scored.orderBy(F.desc("gain_raw"), F.asc("day")).limit(1)
    return top.select(
        F.date_format("day", "yyyy-MM-dd").alias("split_day"),
        "n_left",
        "n_right",
        F.round("mean_left_raw", 4).alias("mean_left"),
        F.round("mean_right_raw", 4).alias("mean_right"),
        # gain is ~1e12-scale: sub-ULP round(.,4) is ill-defined there
        # (DuckDB's mul-by-1e4 overflows 2^53), so report it in millions
        F.round(F.col("gain_raw") / 1e6, 4).alias("sse_gain_millions"),
    )


_SQL_BINSEG_CHANGEPOINT_DAILY = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS s
  FROM orders GROUP BY 1
), staged AS (
  SELECT day, s, CAST(s * s AS DECIMAL(38,4)) AS q FROM daily
), cum AS (
  SELECT day,
         CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS cn,
         sum(s) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS cs,
         sum(q) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS cq,
         CAST(count(*) OVER () AS BIGINT) AS tn,
         sum(s) OVER () AS ts,
         sum(q) OVER () AS tq
  FROM staged
), scored AS (
  SELECT day, cn AS n_left, tn - cn AS n_right,
         CAST(cs AS DOUBLE) / cn AS mean_left_raw,
         CAST(ts - cs AS DOUBLE) / (tn - cn) AS mean_right_raw,
         (CAST(tq AS DOUBLE)
          - CAST(ts AS DOUBLE) * CAST(ts AS DOUBLE) / tn)
         - ((CAST(cq AS DOUBLE)
             - CAST(cs AS DOUBLE) * CAST(cs AS DOUBLE) / cn)
            + (CAST(tq - cq AS DOUBLE)
               - CAST(ts - cs AS DOUBLE) * CAST(ts - cs AS DOUBLE)
                 / (tn - cn))) AS gain_raw
  FROM cum WHERE cn < tn
)
SELECT strftime(day, '%Y-%m-%d') AS split_day, n_left, n_right,
       round(mean_left_raw, 4) AS mean_left,
       round(mean_right_raw, 4) AS mean_right,
       round(gain_raw / 1e6, 4) AS sse_gain_millions
FROM scored
ORDER BY gain_raw DESC, day
LIMIT 1
"""


# --------------------------------------------------------------------------
# croston_intermittent_demand
# --------------------------------------------------------------------------

_CROSTON_THRESHOLD = 450000
_CROSTON_ALPHA = 0.1


def _q_croston_intermittent_demand(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    demand = (
        orders.where(F.col("o_totalprice") >= _CROSTON_THRESHOLD)
        .select(F.to_date("o_orderdate").alias("day"))
        .groupBy("day")
        .agg(F.count(F.lit(1)).cast("double").alias("d"))
    )
    a = _CROSTON_ALPHA
    folded = demand.agg(
        F.sort_array(
            F.collect_list(F.struct(F.col("day"), F.col("d")))
        ).alias("series")
    ).select(
        F.size("series").alias("n_demand_days"),
        # pairs[i] = [demand_i, interval_i]; interval_1 = 1 by convention
        F.expr(
            """transform(series, (s, i) -> array(
                 s.d,
                 CASE WHEN i = 0 THEN 1.0D
                      ELSE CAST(datediff(s.day, element_at(series, i).day) AS DOUBLE)
                 END))"""
        ).alias("pairs"),
    ).select(
        "n_demand_days",
        F.expr(
            f"""aggregate(
                 slice(pairs, 2, size(pairs) - 1),
                 element_at(pairs, 1),
                 (acc, p) -> array(
                   {a}D * p[0] + {1 - a}D * acc[0],
                   {a}D * p[1] + {1 - a}D * acc[1]))"""
        ).alias("zq"),
    )
    return folded.select(
        "n_demand_days",
        F.round(F.col("zq")[0], 6).alias("smoothed_size"),
        F.round(F.col("zq")[1], 6).alias("smoothed_interval"),
        F.round(F.col("zq")[0] / F.col("zq")[1], 6).alias("croston_forecast"),
    )


_SQL_CROSTON_INTERMITTENT_DEMAND = f"""
WITH demand AS (
  SELECT CAST(o_orderdate AS DATE) AS day, CAST(count(*) AS DOUBLE) AS d
  FROM orders
  WHERE o_totalprice >= {_CROSTON_THRESHOLD}
  GROUP BY 1
), series AS (
  SELECT list(day ORDER BY day) AS days, list(d ORDER BY day) AS ds
  FROM demand
), paired AS (
  SELECT len(ds) AS n_demand_days,
         list_transform(range(1, len(ds) + 1), i -> [
           ds[i],
           CASE WHEN i = 1 THEN 1.0
                ELSE CAST(date_diff('day', days[i - 1], days[i]) AS DOUBLE)
           END]) AS pairs
  FROM series
), folded AS (
  SELECT n_demand_days,
         list_reduce(pairs, (acc, p) -> [
           {_CROSTON_ALPHA}e0 * p[1] + {1 - _CROSTON_ALPHA}e0 * acc[1],
           {_CROSTON_ALPHA}e0 * p[2] + {1 - _CROSTON_ALPHA}e0 * acc[2]]) AS zq
  FROM paired
)
SELECT CAST(n_demand_days AS INT) AS n_demand_days,
       round(zq[1], 6) AS smoothed_size,
       round(zq[2], 6) AS smoothed_interval,
       round(zq[1] / zq[2], 6) AS croston_forecast
FROM folded
"""


# --------------------------------------------------------------------------
# rolling_mad_anomaly_daily
# --------------------------------------------------------------------------

_MAD_TOPK = 10


def _q_rolling_mad_anomaly_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    # cents equal the old DECIMAL(18,2) day sum only while prices carry
    # at most 2 decimals (TPC-H data does): 1.005 casts to 1.01 but
    # round(1.005 * 100) is 100
    daily = daily_order_cents(spark, sf_dir).select(
        "day", (F.col("cents") / 100.0).alias("rev")
    )
    anchor = daily.select(F.col("day").alias("d"), F.col("rev").alias("y_d"))
    window = daily.select(F.col("day").alias("e"), F.col("rev").alias("y_e"))
    band = anchor.join(
        window,
        (F.col("e") >= F.date_sub(F.col("d"), 6)) & (F.col("e") <= F.col("d")),
    )
    med = (
        band.groupBy("d", "y_d")
        .agg(F.count(F.lit(1)).alias("w"), F.expr("median(y_e)").alias("med7"))
        .where(F.col("w") == 7)
    )
    mad = (
        band.join(med.select("d", "med7"), "d")
        .groupBy("d", "med7")
        .agg(F.expr("median(abs(y_e - med7))").alias("mad7"))
    )
    scored = (
        anchor.join(mad, "d")
        .select(
            F.col("d").alias("day"),
            F.round("y_d", 2).alias("revenue"),
            F.round("med7", 2).alias("med7"),
            F.round("mad7", 2).alias("mad7"),
            (
                F.lit(0.6745) * (F.col("y_d") - F.col("med7")) / F.col("mad7")
            ).alias("rz_raw"),
        )
    )
    return (
        scored.orderBy(F.desc(F.abs(F.col("rz_raw"))), F.asc("day"))
        .limit(_MAD_TOPK)
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "revenue",
            "med7",
            "mad7",
            F.round("rz_raw", 6).alias("robust_z"),
        )
    )


_SQL_ROLLING_MAD_ANOMALY_DAILY = f"""
WITH daily AS (
  SELECT day, CAST(cents AS DOUBLE) / 100 AS rev
  FROM ({SQL_DAILY_ORDER_CENTS})
), band AS (
  SELECT a.day AS d, a.rev AS y_d, w.day AS e, w.rev AS y_e
  FROM daily a
  JOIN daily w ON w.day >= a.day - INTERVAL 6 DAY AND w.day <= a.day
), med AS (
  SELECT d, y_d, median(y_e) AS med7
  FROM band GROUP BY d, y_d
  HAVING count(*) = 7
), mad AS (
  SELECT b.d, m.med7, median(abs(b.y_e - m.med7)) AS mad7
  FROM band b JOIN med m ON b.d = m.d
  GROUP BY b.d, m.med7
), scored AS (
  SELECT a.d AS day,
         round(a.y_d, 2) AS revenue,
         round(m.med7, 2) AS med7,
         round(m.mad7, 2) AS mad7,
         0.6745 * (a.y_d - m.med7) / m.mad7 AS rz_raw
  FROM (SELECT day AS d, rev AS y_d FROM daily) a
  JOIN mad m ON a.d = m.d
)
SELECT strftime(day, '%Y-%m-%d') AS day, revenue, med7, mad7,
       round(rz_raw, 6) AS robust_z
FROM scored
ORDER BY abs(rz_raw) DESC, day
LIMIT {_MAD_TOPK}
"""


SPECS: dict[str, QuerySpec] = {
    "binseg_changepoint_daily": QuerySpec(
        _q_binseg_changepoint_daily,
        _SQL_BINSEG_CHANGEPOINT_DAILY,
        "one binary-segmentation round on daily revenue: best single "
        "split by SSE gain via two-phase prefix sums + "
        "TakeOrderedAndProject argmax",
    ),
    "croston_intermittent_demand": QuerySpec(
        _q_croston_intermittent_demand,
        _SQL_CROSTON_INTERMITTENT_DEMAND,
        "Croston's intermittent-demand smoothing (sizes + intervals, "
        "alpha=0.1) folded in array order like holt_linear_smooth",
    ),
    "rolling_mad_anomaly_daily": QuerySpec(
        _q_rolling_mad_anomaly_daily,
        _SQL_ROLLING_MAD_ANOMALY_DAILY,
        "modified z-score anomalies: trailing-7-day median/MAD per day "
        "(full windows only, odd-count exact medians), top-10 |z| "
        "with deterministic tiebreak",
    ),
}
