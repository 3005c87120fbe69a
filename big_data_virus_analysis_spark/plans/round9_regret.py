"""Round-9 online-learning pack: Follow-the-Leader expert regret
(Cesa-Bianchi & Lugosi, "Prediction, Learning, and Games" 2006) on
daily revenue forecasting — the online-learning/regret-analysis
family the catalog did not yet cover (``seasonal_naive_backtest`` /
``pinball_mase_forecasts`` score FIXED forecasters; this plays the
online game of CHOOSING among them each day and audits the price of
hindsight).

* ``ftl_expert_regret_audit`` — three deterministic experts predict
  each day's revenue (in exact cents): yesterday's value, the
  trailing-7-day integer mean, and the trailing-28-day integer mean.
  Scored from the first day where all experts are defined, with
  absolute loss |v − pred| in exact integer cents.  Follow-the-Leader
  picks, each day, the expert with the smallest CUMULATIVE loss so
  far (strictly before today; ties break toward the shorter-memory
  expert), and the audit emits each expert's total loss, FTL's total
  loss, the hindsight-best expert, and the regret
  FTL_total − min_k L_k — all integer-cent arithmetic, so both
  engines walk identical ledgers (no float anywhere before the final
  display division).

100-TB shape: the fact scan collapses to the calendar-bounded day
frame (≤ 2,406 rows at any corpus size); every rolling mean, loss,
cumulative ledger, and the FTL selection is window arithmetic over
that bounded frame — the repo's standing day-frame exemption — and
the output is one row.

Identity property (tests/test_properties.py): a pure-Python replay of
the game on random integer sequences reproduces the column recursion
exactly (losses, leader choices, regret), and the classical bound
regret ≤ max-single-loss · (#leader switches + 1) holds.

No reference counterpart (forecast-eval extension alongside
plans/round7_sre.py); public theory only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import QuerySpec
from .frames import SQL_DAILY_ORDER_CENTS, daily_order_cents

#: trailing windows of the two mean experts
FTL_W_SHORT, FTL_W_LONG = 7, 28


def _q_ftl_expert_regret_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    day = daily_order_cents(spark, sf_dir).withColumnRenamed("cents", "v")
    w = Window.orderBy("day")
    s7 = (
        F.sum("v").over(w.rowsBetween(-FTL_W_SHORT, -1)),
        F.count("v").over(w.rowsBetween(-FTL_W_SHORT, -1)),
    )
    s28 = (
        F.sum("v").over(w.rowsBetween(-FTL_W_LONG, -1)),
        F.count("v").over(w.rowsBetween(-FTL_W_LONG, -1)),
    )
    preds = day.select(
        "day",
        "v",
        F.lag("v", 1).over(w).alias("p1"),
        F.when(s7[1] == FTL_W_SHORT, s7[0]).alias("_s7"),
        F.when(s28[1] == FTL_W_LONG, s28[0]).alias("_s28"),
    ).select(
        "day",
        "v",
        "p1",
        F.expr(f"CAST(_s7 div {FTL_W_SHORT} AS BIGINT)").alias("p2"),
        F.expr(f"CAST(_s28 div {FTL_W_LONG} AS BIGINT)").alias("p3"),
    )
    losses = preds.where(
        F.col("p1").isNotNull()
        & F.col("p2").isNotNull()
        & F.col("p3").isNotNull()
    ).select(
        "day",
        F.abs(F.col("v") - F.col("p1")).alias("l1"),
        F.abs(F.col("v") - F.col("p2")).alias("l2"),
        F.abs(F.col("v") - F.col("p3")).alias("l3"),
    )
    w2 = Window.orderBy("day")
    cum = losses.select(
        "day",
        "l1",
        "l2",
        "l3",
        F.coalesce(
            F.sum("l1").over(w2.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0),
        ).alias("c1"),
        F.coalesce(
            F.sum("l2").over(w2.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0),
        ).alias("c2"),
        F.coalesce(
            F.sum("l3").over(w2.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0),
        ).alias("c3"),
    )
    leader_loss = (
        F.when(
            (F.col("c1") <= F.col("c2")) & (F.col("c1") <= F.col("c3")),
            F.col("l1"),
        )
        .when(F.col("c2") <= F.col("c3"), F.col("l2"))
        .otherwise(F.col("l3"))
    )
    agg = cum.agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("l1").alias("t1"),
        F.sum("l2").alias("t2"),
        F.sum("l3").alias("t3"),
        F.sum(leader_loss).alias("ftl"),
    )
    best = F.least("t1", "t2", "t3")
    best_name = (
        F.when(F.col("t1") == best, F.lit("yesterday"))
        .when(F.col("t2") == best, F.lit("mean7"))
        .otherwise(F.lit("mean28"))
    )
    return agg.select(
        "n_days",
        F.round(F.col("t1").cast("double") / 100.0, 2).alias("loss_yesterday"),
        F.round(F.col("t2").cast("double") / 100.0, 2).alias("loss_mean7"),
        F.round(F.col("t3").cast("double") / 100.0, 2).alias("loss_mean28"),
        best_name.alias("best_expert"),
        F.round(F.col("ftl").cast("double") / 100.0, 2).alias("loss_ftl"),
        F.round(
            (F.col("ftl") - best).cast("double") / 100.0, 2
        ).alias("regret_vs_best"),
    )


_SQL_FTL_EXPERT_REGRET_AUDIT = f"""
WITH daily AS MATERIALIZED (
  SELECT day, cents AS v FROM ({SQL_DAILY_ORDER_CENTS})
), preds AS (
  SELECT day, v,
         lag(v, 1) OVER (ORDER BY day) AS p1,
         CAST(CASE WHEN count(v) OVER w7 = {FTL_W_SHORT}
                   THEN sum(v) OVER w7 END // {FTL_W_SHORT} AS BIGINT) AS p2,
         CAST(CASE WHEN count(v) OVER w28 = {FTL_W_LONG}
                   THEN sum(v) OVER w28 END // {FTL_W_LONG} AS BIGINT) AS p3
  FROM daily
  WINDOW w7 AS (ORDER BY day ROWS BETWEEN {FTL_W_SHORT} PRECEDING
                AND 1 PRECEDING),
         w28 AS (ORDER BY day ROWS BETWEEN {FTL_W_LONG} PRECEDING
                 AND 1 PRECEDING)
), losses AS (
  SELECT day, abs(v - p1) AS l1, abs(v - p2) AS l2, abs(v - p3) AS l3
  FROM preds WHERE p1 IS NOT NULL AND p2 IS NOT NULL AND p3 IS NOT NULL
), cum AS (
  SELECT day, l1, l2, l3,
         COALESCE(sum(l1) OVER wp, 0) AS c1,
         COALESCE(sum(l2) OVER wp, 0) AS c2,
         COALESCE(sum(l3) OVER wp, 0) AS c3
  FROM losses
  WINDOW wp AS (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
                AND 1 PRECEDING)
), agg AS (
  SELECT count(*) AS n_days, sum(l1) AS t1, sum(l2) AS t2, sum(l3) AS t3,
         sum(CASE WHEN c1 <= c2 AND c1 <= c3 THEN l1
                  WHEN c2 <= c3 THEN l2 ELSE l3 END) AS ftl
  FROM cum
)
SELECT CAST(n_days AS BIGINT) AS n_days,
       round(CAST(t1 AS DOUBLE) / 100.0, 2) AS loss_yesterday,
       round(CAST(t2 AS DOUBLE) / 100.0, 2) AS loss_mean7,
       round(CAST(t3 AS DOUBLE) / 100.0, 2) AS loss_mean28,
       CASE WHEN t1 = least(t1, t2, t3) THEN 'yesterday'
            WHEN t2 = least(t1, t2, t3) THEN 'mean7'
            ELSE 'mean28' END AS best_expert,
       round(CAST(ftl AS DOUBLE) / 100.0, 2) AS loss_ftl,
       round(CAST(ftl - least(t1, t2, t3) AS DOUBLE) / 100.0, 2)
         AS regret_vs_best
FROM agg
"""


SPECS: dict[str, QuerySpec] = {
    "ftl_expert_regret_audit": QuerySpec(
        _q_ftl_expert_regret_audit,
        _SQL_FTL_EXPERT_REGRET_AUDIT,
        "Follow-the-Leader online expert selection over three "
        "deterministic daily-revenue forecasters: exact integer-cent "
        "loss ledgers, hindsight-best expert, and FTL regret",
    ),
}
