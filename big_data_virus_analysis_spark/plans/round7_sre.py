"""Round-7 SRE/observability pack — error-budget burn, sequence
integrity, and scale-free forecast evaluation.

* ``slo_burn_rate_windows`` — multi-window error-budget burn rate
  (the Google SRE workbook alerting rule): per 6-hour tumbling window,
  error-event share / SLO budget, joined to the containing 24-hour
  window's burn; an alert fires only when BOTH windows burn > 1×
  (the fast window gives latency, the slow one suppresses flappy
  alerts).  Top-10 windows by fast burn.  Exact rational counts.
* ``event_id_gap_audit`` — sequence-integrity audit of the event_id
  space: span, distinct count, missing ids, and the LARGEST gap with
  its position (two-phase ``global_row_number`` + rank self-join —
  no global window).  The ingestion-loss companion to
  ``event_ledger_idempotency`` (which audits the duplicate side).
* ``pinball_mase_forecasts`` — scale-free evaluation of the
  seasonal-naive (lag-7) forecaster on daily revenue: MASE (MAE scaled
  by the in-sample naive-1 MAE, Hyndman & Koehler 2006) and pinball
  losses at τ = 0.5 / 0.9.  Pinball terms are exact integers in
  deci-cents (τ·e and (1−τ)·e with τ ∈ {0.5, 0.9} are rational with
  denominator 10), so every metric is a ratio of exact integer sums.

100 TB shape: burn-rate is two bounded window aggregates (≤ a few
thousand rows per year of data); the gap audit moves one BIGINT rank
per distinct id through the prefix primitive; the forecast metrics are
calendar-bounded day-frame self-joins at fixed lags.

No reference counterpart; observability/eval extensions alongside
plans/round6_ir.py (interevent SLA) and plans/round5_ts3.py
(seasonal-naive backtest).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.prefix_sum import global_row_number
from ..sources.tables import load_table
from . import QuerySpec
from .frames import SQL_DAILY_ORDER_CENTS, daily_order_cents

_HOUR_US = 3_600_000_000
_W_FAST = 6 * _HOUR_US
_W_SLOW = 24 * _HOUR_US
_SLO_BUDGET = 0.22  # error-share budget
_TOPK = 10


def _q_slo_burn_rate_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        F.unix_micros("ts").alias("us"),
        (F.col("event_type") == "error").cast("bigint").alias("err"),
    )
    fast = ev.groupBy(F.expr(f"us div {_W_FAST}").alias("wf")).agg(
        F.count(F.lit(1)).alias("n_f"), F.sum("err").alias("e_f")
    )
    slow = ev.groupBy(F.expr(f"us div {_W_SLOW}").alias("ws")).agg(
        F.count(F.lit(1)).alias("n_s"), F.sum("err").alias("e_s")
    )
    joined = fast.withColumn(
        "ws", F.expr(f"(wf * {_W_FAST}) div {_W_SLOW}")
    ).join(F.broadcast(slow), "ws")
    burn_f = F.col("e_f").cast("double") / F.col("n_f").cast("double") / _SLO_BUDGET
    burn_s = F.col("e_s").cast("double") / F.col("n_s").cast("double") / _SLO_BUDGET
    return (
        joined.select(
            (F.col("wf") * _W_FAST).alias("window_start_us"),
            "n_f",
            F.round(burn_f, 6).alias("burn_6h"),
            F.round(burn_s, 6).alias("burn_24h"),
            ((burn_f > 1.0) & (burn_s > 1.0)).alias("alert"),
        )
        .orderBy(F.desc("burn_6h"), F.asc("window_start_us"))
        .limit(_TOPK)
    )


_SQL_SLO_BURN_RATE_WINDOWS = f"""
WITH ev AS (
  SELECT epoch_us(ts) AS us,
         CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS err
  FROM events
), fast AS (
  SELECT us // {_W_FAST} AS wf, count(*) AS n_f, sum(err) AS e_f
  FROM ev GROUP BY 1
), slow AS (
  SELECT us // {_W_SLOW} AS ws, count(*) AS n_s, sum(err) AS e_s
  FROM ev GROUP BY 1
), joined AS (
  SELECT f.*, s.n_s, s.e_s
  FROM fast f JOIN slow s ON (f.wf * {_W_FAST}) // {_W_SLOW} = s.ws
)
SELECT wf * {_W_FAST} AS window_start_us,
       CAST(n_f AS BIGINT) AS n_f,
       round(CAST(e_f AS DOUBLE) / n_f / {_SLO_BUDGET}, 6) AS burn_6h,
       round(CAST(e_s AS DOUBLE) / n_s / {_SLO_BUDGET}, 6) AS burn_24h,
       (CAST(e_f AS DOUBLE) / n_f / {_SLO_BUDGET} > 1.0
        AND CAST(e_s AS DOUBLE) / n_s / {_SLO_BUDGET} > 1.0) AS alert
FROM joined
ORDER BY burn_6h DESC, window_start_us ASC
LIMIT {_TOPK}
"""


def _q_event_id_gap_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    ids = (
        load_table(spark, sf_dir, "events").select("event_id").distinct()
    )
    ranked = global_row_number(ids, [F.asc("event_id")], out_col="rk")
    cur = ranked.select("rk", F.col("event_id").alias("b"))
    prv = ranked.select((F.col("rk") + 1).alias("rk"), F.col("event_id").alias("a"))
    gaps = cur.join(prv, "rk").select(
        "a", "b", (F.col("b") - F.col("a") - 1).alias("gap")
    )
    top_gap = gaps.orderBy(F.desc("gap"), F.asc("a")).limit(1)
    summary = ids.agg(
        F.min("event_id").alias("min_id"),
        F.max("event_id").alias("max_id"),
        F.count(F.lit(1)).alias("n_distinct"),
    )
    return summary.crossJoin(F.broadcast(top_gap)).select(
        "min_id",
        "max_id",
        "n_distinct",
        (F.col("max_id") - F.col("min_id") + 1 - F.col("n_distinct")).alias(
            "n_missing"
        ),
        F.col("gap").alias("largest_gap"),
        F.col("a").alias("gap_after_id"),
    )


_SQL_EVENT_ID_GAP_AUDIT = """
WITH ids AS (
  SELECT DISTINCT event_id FROM events
), ranked AS (
  SELECT event_id, row_number() OVER (ORDER BY event_id) AS rk FROM ids
), gaps AS (
  SELECT a.event_id AS a, b.event_id AS b, b.event_id - a.event_id - 1 AS gap
  FROM ranked a JOIN ranked b ON b.rk = a.rk + 1
), top_gap AS (
  SELECT a, gap FROM gaps ORDER BY gap DESC, a ASC LIMIT 1
), summary AS (
  SELECT min(event_id) AS min_id, max(event_id) AS max_id,
         CAST(count(*) AS BIGINT) AS n_distinct
  FROM ids
)
SELECT min_id, max_id, n_distinct,
       max_id - min_id + 1 - n_distinct AS n_missing,
       g.gap AS largest_gap, g.a AS gap_after_id
FROM summary CROSS JOIN top_gap g
"""


_SEASON = 7  # days


def _q_pinball_mase_forecasts(spark: SparkSession, sf_dir: str) -> DataFrame:
    day = daily_order_cents(spark, sf_dir).select(
        F.datediff("day", F.lit("1995-01-01").cast("date")).cast("bigint").alias("d"),
        F.col("cents").alias("yc"),
    )
    # seasonal-naive forecast: y_hat(d) = y(d - 7); scored on days with
    # both; MASE denominator: naive-1 MAE over the same scored days
    f7 = day.alias("a").join(
        day.alias("s"), F.col("a.d") == F.col("s.d") + _SEASON
    )
    n1 = day.alias("a").join(day.alias("p"), F.col("a.d") == F.col("p.d") + 1)
    e = F.col("a.yc") - F.col("s.yc")
    # pinball in deci-cents: tau*e for e>=0, (tau-1)*e otherwise, tau in
    # tenths -> exact integers
    pin = lambda t10: F.when(  # noqa: E731
        e >= 0, F.lit(t10) * e
    ).otherwise(F.lit(t10 - 10) * e)
    scored = f7.agg(
        F.count(F.lit(1)).alias("n_scored"),
        F.sum(F.abs(e)).alias("sae"),
        F.sum(pin(5)).alias("pin5_10"),
        F.sum(pin(9)).alias("pin9_10"),
    )
    naive = n1.agg(
        F.count(F.lit(1)).alias("n_naive"),
        F.sum(F.abs(F.col("a.yc") - F.col("p.yc"))).alias("sae1"),
    )
    wide = scored.crossJoin(F.broadcast(naive))
    mae = F.col("sae").cast("double") / F.col("n_scored").cast("double")
    mae1 = F.col("sae1").cast("double") / F.col("n_naive").cast("double")
    return wide.select(
        "n_scored",
        F.round(mae / 100.0, 6).alias("mae_seasonal"),
        F.round(mae1 / 100.0, 6).alias("mae_naive1"),
        F.round(mae / mae1, 6).alias("mase"),
        F.round(
            F.col("pin5_10").cast("double")
            / (F.col("n_scored").cast("double") * 1000.0),
            6,
        ).alias("pinball_p50"),
        F.round(
            F.col("pin9_10").cast("double")
            / (F.col("n_scored").cast("double") * 1000.0),
            6,
        ).alias("pinball_p90"),
    )


_SQL_PINBALL_MASE_FORECASTS = f"""
WITH day AS (
  SELECT CAST(date_diff('day', DATE '1995-01-01', day) AS BIGINT) AS d,
         cents AS yc
  FROM ({SQL_DAILY_ORDER_CENTS})
), f7 AS (
  SELECT a.yc - s.yc AS e
  FROM day a JOIN day s ON a.d = s.d + {_SEASON}
), n1 AS (
  SELECT abs(a.yc - p.yc) AS ae
  FROM day a JOIN day p ON a.d = p.d + 1
), scored AS (
  SELECT CAST(count(*) AS BIGINT) AS n_scored,
         sum(abs(e)) AS sae,
         sum(CASE WHEN e >= 0 THEN 5 * e ELSE -5 * e END) AS pin5_10,
         sum(CASE WHEN e >= 0 THEN 9 * e ELSE -1 * e END) AS pin9_10
  FROM f7
), naive AS (
  SELECT CAST(count(*) AS BIGINT) AS n_naive, sum(ae) AS sae1 FROM n1
)
SELECT n_scored,
       round(CAST(sae AS DOUBLE) / n_scored / 100.0, 6) AS mae_seasonal,
       round(CAST(sae1 AS DOUBLE) / n_naive / 100.0, 6) AS mae_naive1,
       round((CAST(sae AS DOUBLE) / n_scored)
             / (CAST(sae1 AS DOUBLE) / n_naive), 6) AS mase,
       round(CAST(pin5_10 AS DOUBLE) / (n_scored * 1000.0), 6) AS pinball_p50,
       round(CAST(pin9_10 AS DOUBLE) / (n_scored * 1000.0), 6) AS pinball_p90
FROM scored CROSS JOIN naive
"""


SPECS: dict[str, QuerySpec] = {
    "slo_burn_rate_windows": QuerySpec(
        _q_slo_burn_rate_windows,
        _SQL_SLO_BURN_RATE_WINDOWS,
        "multi-window (6h/24h) error-budget burn rates with the SRE "
        "both-windows-burning alert rule, top-10 fast windows",
    ),
    "event_id_gap_audit": QuerySpec(
        _q_event_id_gap_audit,
        _SQL_EVENT_ID_GAP_AUDIT,
        "event_id sequence integrity: span, missing ids, largest gap + "
        "position (two-phase rank, no global window)",
    ),
    "pinball_mase_forecasts": QuerySpec(
        _q_pinball_mase_forecasts,
        _SQL_PINBALL_MASE_FORECASTS,
        "MASE + pinball(p50/p90) of the seasonal-naive daily-revenue "
        "forecaster (exact integer deci-cent loss terms)",
    ),
}
