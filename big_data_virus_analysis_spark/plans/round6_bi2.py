"""Round-6 BI pack 2 — running-extremum, weighted-price, transition
-timing, and anonymization-ladder queries.

* ``max_drawdown_daily_revenue`` — the classic running-peak /
  max-drawdown statistic over the cumulative daily-revenue curve
  (peak-to-trough of the equity curve a revenue dashboard draws).
  Cumulative revenue and running peak are windows over the per-DAY
  frame (calendar-bounded, the same allowlisted shape as
  ``cusum_changepoint_daily``); the answer row is the argmax drawdown
  with a deterministic day tiebreak via ``orderBy().limit(1)``.
* ``vwap_by_brand`` — quantity-weighted average price per brand
  (decimal-exact numerator/denominator, one IEEE division at the
  end), with the plain mean beside it — the gap flags where big
  orders transact at different prices.
* ``transition_latency_matrix`` — mean seconds between consecutive
  events per (from_type, to_type) pair: per-user ``lag`` (PARTITIONED
  window), then one hash-agg to the 5×5 matrix.  The timing companion
  to ``event_transition_matrix``'s counts.
* ``generalization_ladder_audit`` — k-anonymity at three
  generalization levels of the orders quasi-identifier (segment →
  +priority → +order month): minimum group size and share of rows in
  groups below k=10 at each level.  The lattice walk an anonymization
  pipeline does before releasing a cut; extends ``k_anonymity_audit``
  (one level) to the ladder decision.

100 TB shape: per-day / per-brand / per-(type,type) / per-QI-group
hash aggregates; the only ordered passes are the calendar-bounded day
frame and partitioned per-user lags.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window

from ..sources.tables import load_table
from . import QuerySpec
from .frames import SQL_DAILY_ORDER_CENTS, daily_order_cents

# --------------------------------------------------------------------------
# max_drawdown_daily_revenue
# --------------------------------------------------------------------------


def _q_max_drawdown_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    # cents equal the old DECIMAL(18,2) day sum only while prices carry
    # at most 2 decimals (TPC-H data does): 1.005 casts to 1.01 but
    # round(1.005 * 100) is 100
    daily = daily_order_cents(spark, sf_dir)
    # net curve: revenue relative to the running mean is monotone, so
    # drawdown needs a detrended series — use daily revenue minus the
    # global mean (exact integer cents broadcast), cumulated over days
    tot = daily.agg(
        F.sum("cents").alias("tot"), F.count(F.lit(1)).alias("n_days")
    )
    detr = daily.crossJoin(F.broadcast(tot)).select(
        "day",
        (
            F.col("cents") / 100.0
            - F.col("tot") / 100.0 / F.col("n_days").cast("double")
        ).alias("x"),
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    curve = detr.select(
        "day",
        F.sum("x").over(w).alias("cum"),
    ).select("day", "cum", F.max("cum").over(w).alias("peak"))
    dd = curve.select(
        "day", (F.col("peak") - F.col("cum")).alias("drawdown")
    )
    top = dd.orderBy(F.desc("drawdown"), F.asc("day")).limit(1)
    return top.select(
        F.date_format("day", "yyyy-MM-dd").alias("trough_day"),
        F.round("drawdown", 4).alias("max_drawdown"),
    )


_SQL_MAX_DRAWDOWN_DAILY_REVENUE = f"""
WITH daily AS ({SQL_DAILY_ORDER_CENTS}), tot AS (
  SELECT sum(cents) AS tot, CAST(count(*) AS BIGINT) AS n_days FROM daily
), detr AS (
  SELECT day,
         CAST(cents AS DOUBLE) / 100 - CAST(tot AS DOUBLE) / 100 / n_days AS x
  FROM daily CROSS JOIN tot
), curve AS (
  SELECT day,
         sum(x) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS cum
  FROM detr
), peaked AS (
  SELECT day, cum,
         max(cum) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS peak
  FROM curve
)
SELECT strftime(day, '%Y-%m-%d') AS trough_day,
       round(peak - cum, 4) AS max_drawdown
FROM peaked
ORDER BY peak - cum DESC, day
LIMIT 1
"""


# --------------------------------------------------------------------------
# vwap_by_brand
# --------------------------------------------------------------------------


def _q_vwap_by_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    base = lineitem.join(
        F.broadcast(part.select("p_partkey", "p_brand")),
        lineitem["l_partkey"] == part["p_partkey"],
    ).select(
        F.col("p_brand").alias("brand"),
        F.col("l_quantity").cast("bigint").alias("q"),
        F.col("l_extendedprice").cast("decimal(18,2)").alias("p"),
    )
    agg = base.groupBy("brand").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum("q").alias("vol"),
        F.sum((F.col("p") * F.col("q")).cast("decimal(38,2)")).alias("pq"),
        F.sum("p").alias("sp"),
    )
    return agg.select(
        "brand",
        "n_lines",
        "vol",
        F.round(F.col("pq").cast("double") / F.col("vol").cast("double"), 4).alias(
            "vwap"
        ),
        F.round(F.col("sp").cast("double") / F.col("n_lines").cast("double"), 4).alias(
            "mean_price"
        ),
    )


_SQL_VWAP_BY_BRAND = """
WITH base AS (
  SELECT p.p_brand AS brand,
         CAST(l.l_quantity AS BIGINT) AS q,
         CAST(l.l_extendedprice AS DECIMAL(18,2)) AS p
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
), agg AS (
  SELECT brand,
         CAST(count(*) AS BIGINT) AS n_lines,
         CAST(sum(q) AS BIGINT) AS vol,
         sum(CAST(p * q AS DECIMAL(38,2))) AS pq,
         sum(p) AS sp
  FROM base GROUP BY 1
)
SELECT brand, n_lines, vol,
       round(CAST(pq AS DOUBLE) / CAST(vol AS DOUBLE), 4) AS vwap,
       round(CAST(sp AS DOUBLE) / CAST(n_lines AS DOUBLE), 4) AS mean_price
FROM agg
"""


# --------------------------------------------------------------------------
# transition_latency_matrix
# --------------------------------------------------------------------------


def _q_transition_latency_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.unix_micros("ts"), "event_id")
    staged = events.select(
        "user_id",
        "event_type",
        F.unix_micros("ts").alias("us"),
        F.lag("event_type").over(w).alias("from_type"),
        F.lag(F.unix_micros("ts")).over(w).alias("from_us"),
    ).where(F.col("from_type").isNotNull())
    return (
        staged.groupBy(F.col("from_type"), F.col("event_type").alias("to_type"))
        .agg(
            F.count(F.lit(1)).alias("n_transitions"),
            F.round(
                F.sum(F.col("us") - F.col("from_us")).cast("double")
                / F.count(F.lit(1)).cast("double")
                / 1e6,
                4,
            ).alias("mean_gap_s"),
        )
    )


_SQL_TRANSITION_LATENCY_MATRIX = """
WITH staged AS (
  SELECT user_id, event_type,
         epoch_us(ts) AS us,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY epoch_us(ts), event_id) AS from_type,
         lag(epoch_us(ts)) OVER (PARTITION BY user_id
                                 ORDER BY epoch_us(ts), event_id) AS from_us
  FROM events
)
SELECT from_type, event_type AS to_type,
       CAST(count(*) AS BIGINT) AS n_transitions,
       round(CAST(sum(us - from_us) AS DOUBLE) / count(*) / 1e6, 4)
         AS mean_gap_s
FROM staged
WHERE from_type IS NOT NULL
GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# generalization_ladder_audit
# --------------------------------------------------------------------------

_GL_K = 10


def _q_generalization_ladder_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    base = orders.join(
        F.broadcast(customer.select("c_custkey", "c_mktsegment")),
        orders["o_custkey"] == customer["c_custkey"],
    ).select(
        F.col("c_mktsegment").alias("seg"),
        F.col("o_orderpriority").alias("prio"),
        F.date_format("o_orderdate", "yyyy-MM").alias("month"),
    )
    levels = [
        ("L2_seg_prio_month", ["seg", "prio", "month"]),
        ("L1_seg_prio", ["seg", "prio"]),
        ("L0_seg", ["seg"]),
    ]
    out = None
    for lvl, cols in levels:
        g = base.groupBy(*cols).agg(F.count(F.lit(1)).alias("gsize"))
        row = g.agg(
            F.lit(lvl).alias("level"),
            F.count(F.lit(1)).alias("n_groups"),
            F.min("gsize").alias("k_min"),
            F.round(
                F.sum(
                    F.when(F.col("gsize") < _GL_K, F.col("gsize")).otherwise(F.lit(0))
                ).cast("double")
                / F.sum("gsize").cast("double"),
                6,
            ).alias("share_below_k"),
        )
        out = row if out is None else out.unionByName(row)
    return out


_SQL_GENERALIZATION_LADDER_AUDIT = f"""
WITH base AS (
  SELECT c.c_mktsegment AS seg, o.o_orderpriority AS prio,
         strftime(o.o_orderdate, '%Y-%m') AS month
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
)
SELECT 'L2_seg_prio_month' AS level,
       CAST(count(*) AS BIGINT) AS n_groups,
       CAST(min(gsize) AS BIGINT) AS k_min,
       round(CAST(sum(CASE WHEN gsize < {_GL_K} THEN gsize ELSE 0 END)
                  AS DOUBLE) / sum(gsize), 6) AS share_below_k
FROM (SELECT count(*) AS gsize FROM base GROUP BY seg, prio, month)
UNION ALL
SELECT 'L1_seg_prio',
       CAST(count(*) AS BIGINT),
       CAST(min(gsize) AS BIGINT),
       round(CAST(sum(CASE WHEN gsize < {_GL_K} THEN gsize ELSE 0 END)
                  AS DOUBLE) / sum(gsize), 6)
FROM (SELECT count(*) AS gsize FROM base GROUP BY seg, prio)
UNION ALL
SELECT 'L0_seg',
       CAST(count(*) AS BIGINT),
       CAST(min(gsize) AS BIGINT),
       round(CAST(sum(CASE WHEN gsize < {_GL_K} THEN gsize ELSE 0 END)
                  AS DOUBLE) / sum(gsize), 6)
FROM (SELECT count(*) AS gsize FROM base GROUP BY seg)
"""


SPECS: dict[str, QuerySpec] = {
    "max_drawdown_daily_revenue": QuerySpec(
        _q_max_drawdown_daily_revenue,
        _SQL_MAX_DRAWDOWN_DAILY_REVENUE,
        "max drawdown of the detrended cumulative daily-revenue curve "
        "(running peak over the calendar-bounded day frame, argmax via "
        "limit 1)",
    ),
    "vwap_by_brand": QuerySpec(
        _q_vwap_by_brand,
        _SQL_VWAP_BY_BRAND,
        "quantity-weighted average price vs plain mean per brand "
        "(decimal-exact numerators)",
    ),
    "transition_latency_matrix": QuerySpec(
        _q_transition_latency_matrix,
        _SQL_TRANSITION_LATENCY_MATRIX,
        "mean seconds between consecutive events per (from, to) "
        "event-type pair — the timing companion to the transition "
        "count matrix",
    ),
    "generalization_ladder_audit": QuerySpec(
        _q_generalization_ladder_audit,
        _SQL_GENERALIZATION_LADDER_AUDIT,
        "k-anonymity ladder across three QI generalization levels: "
        "min group size and share of rows below k=10 per level",
    ),
}
