"""Survival-analysis pack: Kaplan–Meier time-to-event estimation.

Time from each user's first signup to their first subsequent purchase,
right-censored at the user's last observed event when no purchase
follows — the canonical incomplete-observation estimator (retention,
time-to-convert, hardware-failure curves all take this shape).

KM estimate at event time t: S(t) = Π_{tᵢ ≤ t} (1 − dᵢ/nᵢ) with dᵢ
events and nᵢ at-risk at tᵢ.  The product is computed as
exp(Σ ln(1 − dᵢ/nᵢ)) — a running-sum window over the (tiny) distinct-
event-time frame, so the heavy work is just two aggregations over the
event log.  Both engines evaluate the identical ln/exp pipeline on
identical rationals, rounded to 6.

Scale shape: per-user first-signup/first-purchase come from one
struct-min aggregation pass (user_id shuffle); the KM frame is
|distinct durations| rows; at-risk counts are a descending cumulative
sum over that frame.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.prefix_sum import global_prefix_sum
from ..sources.tables import load_table
from . import QuerySpec

_DAY_US = 86_400_000_000


def _q_km_signup_to_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        (F.unix_micros(F.col("ts")) / _DAY_US).cast("long").alias("day"),
    )
    per_user = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", F.col("day"))).alias("s0"),
        F.max("day").alias("last_day"),
    )
    first_purchase = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("day").alias("p0"))
    )
    cohort = (
        per_user.join(first_purchase, "user_id", "left")
        .where(F.col("s0").isNotNull())
        .select(
            "user_id",
            F.when(
                F.col("p0").isNotNull() & (F.col("p0") >= F.col("s0")),
                F.col("p0") - F.col("s0"),
            )
            .otherwise(F.col("last_day") - F.col("s0"))
            .alias("duration"),
            (
                F.col("p0").isNotNull() & (F.col("p0") >= F.col("s0"))
            ).cast("int").alias("event"),
        )
    )
    times = cohort.groupBy("duration").agg(
        F.sum("event").alias("d"), F.count("*").alias("c")
    )
    # both cumulative sums run through the two-phase distributed scan —
    # the per-duration frame is bounded by distinct day-gaps, but no
    # aggregate-side frame gets a single-task global window on principle
    # (same rewrite as ks_price_periods / pareto_customers); durations
    # are distinct after the groupBy, so the order is total
    with_risk = global_prefix_sum(
        times,
        "duration",
        "c",
        "n_risk",
        order_exprs=[F.col("duration").desc()],
    )
    events_only = with_risk.where(F.col("d") > 0).withColumn(
        "logterm", F.log(1.0 - F.col("d") / F.col("n_risk").cast("double"))
    )
    return (
        global_prefix_sum(events_only, "duration", "logterm", "cumlog")
        .withColumn("surv", F.round(F.exp(F.col("cumlog")), 6))
        .select("duration", "d", "n_risk", "surv")
        .orderBy("duration")
    )


_SQL_KM_SIGNUP_TO_PURCHASE = """
WITH ev AS (
  SELECT user_id, event_type, epoch_us(ts) // 86400000000 AS day FROM events
), per_user AS (
  SELECT user_id,
         min(CASE WHEN event_type = 'signup' THEN day END) AS s0,
         max(day) AS last_day
  FROM ev GROUP BY user_id
), first_purchase AS (
  SELECT user_id, min(day) AS p0 FROM ev WHERE event_type = 'purchase'
  GROUP BY user_id
), cohort AS (
  SELECT p.user_id,
         CASE WHEN f.p0 IS NOT NULL AND f.p0 >= p.s0 THEN f.p0 - p.s0
              ELSE p.last_day - p.s0 END AS duration,
         CASE WHEN f.p0 IS NOT NULL AND f.p0 >= p.s0 THEN 1 ELSE 0 END AS event
  FROM per_user p LEFT JOIN first_purchase f ON p.user_id = f.user_id
  WHERE p.s0 IS NOT NULL
), times AS (
  SELECT duration, sum(event) AS d, count(*) AS c FROM cohort GROUP BY duration
), with_risk AS (
  SELECT duration, d, c,
         sum(c) OVER (ORDER BY duration DESC ROWS UNBOUNDED PRECEDING) AS n_risk
  FROM times
)
SELECT duration, CAST(d AS BIGINT) AS d, CAST(n_risk AS BIGINT) AS n_risk,
       round(exp(sum(ln(1.0 - d / CAST(n_risk AS DOUBLE)))
                 OVER (ORDER BY duration ROWS UNBOUNDED PRECEDING)), 6) AS surv
FROM with_risk
WHERE d > 0
ORDER BY duration
"""


SPECS: dict[str, QuerySpec] = {
    "km_signup_to_purchase": QuerySpec(
        _q_km_signup_to_purchase,
        _SQL_KM_SIGNUP_TO_PURCHASE,
        "Kaplan–Meier survival curve with right-censoring (exp-sum-log product)",
    ),
}
