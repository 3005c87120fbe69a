"""Round-9 sequential-detection addition: the Page–Hinkley mean-shift
monitor, completing the sequential family (CUSUM = known-target
cumulative sum, SPRT = two-simple-hypotheses likelihood walk; PH is the
self-referencing variant that needs NO target mean — each deviation is
measured against the RUNNING mean so far).

* ``page_hinkley_drift`` — over the daily mean order value (integer
  cents, ``daily_cents div n_orders``): per-day term
  xᵢ·10⁶ − (Sᵢ·10⁶ div i) (deviation from the running mean, δ=0,
  exact integer — the running mean is never materialized as a float),
  mₜ = prefix sum of terms, excess = mₜ − min_{i≤t} mᵢ, alarm when the
  excess passes λ = $2M·10⁶.  Output: n_days, max excess (dollars),
  the λ, alarmed flag, and the first alarm day ('none' if never).
  λ sits between the measured max excesses of the SF grid ($1.5M at
  sf0.1, $3.7M/$5.8M at sf0.001/0.01), so both branches of the alarm
  logic are exercised across the grid.

100 TB shape: one fact scan → calendar-bounded day frame (≤ ~2,500
rows by construction); running sums ride the two-phase
``global_prefix_sum`` (no global window); the single running-MIN is a
window over the day frame — the standing calendar-day-frame exemption
(same class as rolling_correlation_30d, allowlisted with rationale in
tests/test_plan_lint.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.prefix_sum import global_prefix_sum
from ..sources.tables import load_table
from . import QuerySpec

#: alarm threshold in micro-cents of cumulated deviation ($2M)
PH_LAMBDA_MICRO = 200_000_000 * 1_000_000


def _q_page_hinkley_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    day = (
        orders.groupBy(F.to_date("o_orderdate").alias("d"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias(
                "cents"
            ),
            F.count(F.lit(1)).alias("n"),
        )
        .select("d", F.expr("cents div n").alias("x"), F.lit(1).alias("one"))
    )
    cum = global_prefix_sum(
        day, order_col="d", value_col=["x", "one"], out_col=["s", "i"]
    )
    terms = cum.select(
        "d",
        F.expr("x * 1000000 - (s * 1000000) div i").alias("term"),
    )
    m = global_prefix_sum(terms, order_col="d", value_col="term", out_col="m")
    # running MIN over the calendar day frame (bounded-by-construction;
    # plan-lint day-frame exemption)
    ph = m.select(
        "d",
        "m",
        (
            F.col("m")
            - F.min("m").over(
                Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
            )
        ).alias("excess"),
    )
    agg = ph.agg(
        F.count(F.lit(1)).alias("n_days"),
        F.max("excess").alias("max_excess_micro"),
        F.min(
            F.when(
                F.col("excess") > PH_LAMBDA_MICRO,
                F.date_format("d", "yyyy-MM-dd"),
            )
        ).alias("first_alarm"),
    )
    return agg.select(
        "n_days",
        F.round(F.col("max_excess_micro").cast("double") / 1e6 / 100.0, 6).alias(
            "max_excess_dollars"
        ),
        F.lit(PH_LAMBDA_MICRO / 1e6 / 100.0).alias("lambda_dollars"),
        (F.col("max_excess_micro") > PH_LAMBDA_MICRO).alias("alarmed"),
        F.coalesce("first_alarm", F.lit("none")).alias("first_alarm_day"),
    )


_SQL_PAGE_HINKLEY_DRIFT = f"""
WITH day AS (
  SELECT CAST(o_orderdate AS DATE) AS d,
         sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS cents,
         count(*) AS n
  FROM orders GROUP BY 1
), x AS (
  SELECT d, cents // n AS x,
         sum(cents // n) OVER (ORDER BY d) AS s,
         row_number() OVER (ORDER BY d) AS i
  FROM day
), t AS (
  SELECT d, x * 1000000 - (s * 1000000) // i AS term FROM x
), m AS (
  SELECT d, sum(term) OVER (ORDER BY d) AS m FROM t
), ph AS (
  SELECT d, m, m - min(m) OVER (ORDER BY d) AS excess FROM m
)
SELECT CAST(count(*) AS BIGINT) AS n_days,
       round(CAST(max(excess) AS DOUBLE) / 1e6 / 100.0, 6)
         AS max_excess_dollars,
       CAST({PH_LAMBDA_MICRO / 1e6 / 100.0} AS DOUBLE) AS lambda_dollars,
       max(excess) > {PH_LAMBDA_MICRO} AS alarmed,
       coalesce(min(CASE WHEN excess > {PH_LAMBDA_MICRO}
                         THEN strftime(d, '%Y-%m-%d') END), 'none')
         AS first_alarm_day
FROM ph
"""


SPECS: dict[str, QuerySpec] = {
    "page_hinkley_drift": QuerySpec(
        _q_page_hinkley_drift,
        _SQL_PAGE_HINKLEY_DRIFT,
        "Page-Hinkley mean-shift monitor on daily mean order value "
        "(integer running-mean deviations, two-phase prefix sums, "
        "day-frame running min), $2M alarm threshold with first alarm "
        "day",
    ),
}
