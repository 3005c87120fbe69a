"""Time-series / BI pack: rolling-window distinct counts (WAU),
period-over-period growth, and Pareto concentration.

Three reporting primitives every analytics layer ends up needing:

* **weekly_active_users** — rolling 7-day COUNT DISTINCT.  Spark (like
  most engines) cannot evaluate DISTINCT inside a RANGE window, so the
  scalable rewrite is: distinct (user, day) grid → explode each
  activity day into the 7 report days it supports → one hash-agg
  count-distinct per report day.  The explode factor is a constant 7 on
  the ALREADY-DEDUPED grid, not on raw events.
* **month_over_month_revenue** — aggregate to month, then lag/pct-change
  over the tiny aggregated series (window over ~dozens of rows).
* **pareto_customers** — the smallest prefix of customers (by revenue)
  covering 80% of total revenue.  Running share via an ordered window
  over the per-customer aggregate.  NOTE for 100 TB: this ordered
  running sum is the one single-reducer stage in the catalog family —
  at billions of customers it becomes a range-partitioned two-phase
  prefix sum (per-partition totals broadcast as offsets); the
  aggregated-frame window here is the idiomatic form at any realistic
  customer cardinality.

Conventions as in catalog.py: matching aliases, decimal money, rounded
doubles, deterministic tie-breaks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.tables import load_table
from . import QuerySpec

_DAY_US = 86_400_000_000


# --------------------------------------------------------------------------
# Rolling 7-day distinct users (WAU per day)
# --------------------------------------------------------------------------

def _q_weekly_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day trailing-7-day distinct-user count.  The (user, day)
    activity grid is deduped FIRST (one shuffle), each grid row then
    supports report days d..d+6 (constant ×7 explode), and a left-semi
    join restricts report days to days that actually occur before the
    final count-distinct agg.  No DISTINCT-in-window (unsupported), no
    per-day self-joins."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        (F.unix_micros(F.col("ts")) / _DAY_US).cast("long").alias("day_num"),
    )
    grid = ev.distinct()
    days = grid.select("day_num").distinct()
    supported = grid.select(
        "user_id",
        F.explode(
            F.sequence(F.col("day_num"), F.col("day_num") + F.lit(6))
        ).alias("report_day"),
    )
    return (
        supported.join(
            F.broadcast(days),
            supported["report_day"] == days["day_num"],
            "left_semi",
        )
        .groupBy("report_day")
        .agg(F.count_distinct("user_id").alias("wau"))
        .orderBy("report_day")
    )


_SQL_WEEKLY_ACTIVE_USERS = """
WITH grid AS (
  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day_num FROM events
), days AS (
  SELECT DISTINCT day_num FROM grid
), supported AS (
  SELECT user_id, day_num + offs AS report_day
  FROM grid, UNNEST(generate_series(0, 6)) AS t(offs)
)
SELECT report_day, count(DISTINCT user_id) AS wau
FROM supported
WHERE report_day IN (SELECT day_num FROM days)
GROUP BY report_day
ORDER BY report_day
"""


# --------------------------------------------------------------------------
# Month-over-month revenue growth
# --------------------------------------------------------------------------

def _q_month_over_month_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly order revenue with absolute and percent change vs the
    prior month — aggregate-then-lag: the heavy groupBy shuffles on
    month, the lag window runs over the resulting ~dozens-of-rows
    series.  Exact decimal sums; percent change rounded to 6."""
    orders = load_table(spark, sf_dir, "orders")
    month = F.date_format(F.col("o_orderdate"), "yyyy-MM")
    monthly = orders.groupBy(month.alias("month")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,4)")).alias("rev")
    )
    w = Window.orderBy("month")
    prev = F.lag("rev").over(w)
    return (
        monthly.select(
            "month",
            F.round(F.col("rev").cast("double"), 4).alias("revenue"),
            F.round((F.col("rev") - prev).cast("double"), 4).alias("delta"),
            F.round(
                ((F.col("rev") - prev) / prev).cast("double"), 6
            ).alias("pct_change"),
        )
        .orderBy("month")
    )


_SQL_MONTH_OVER_MONTH_REVENUE = """
WITH monthly AS (
  SELECT strftime(o_orderdate, '%Y-%m') AS month,
         sum(CAST(o_totalprice AS DECIMAL(18,4))) AS rev
  FROM orders GROUP BY 1
)
SELECT month,
       round(CAST(rev AS DOUBLE), 4) AS revenue,
       round(CAST(rev - lag(rev) OVER (ORDER BY month) AS DOUBLE), 4) AS delta,
       round(CAST((rev - lag(rev) OVER (ORDER BY month))
                  / lag(rev) OVER (ORDER BY month) AS DOUBLE), 6) AS pct_change
FROM monthly
ORDER BY month
"""


# --------------------------------------------------------------------------
# Pareto concentration (customers covering 80% of revenue)
# --------------------------------------------------------------------------

def _q_pareto_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The smallest revenue-ranked customer prefix covering 80% of
    total revenue — running decimal share over the per-customer
    aggregate, ordered (revenue DESC, custkey) for tie-determinism; a
    row survives while the share BEFORE it is < 0.80, so the customer
    crossing the threshold is included.  See module docstring for the
    100 TB prefix-sum note."""
    from ..operators.prefix_sum import global_prefix_sum

    orders = load_table(spark, sf_dir, "orders")
    per_cust = orders.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,4)")).alias("rev")
    )
    # running share via the two-phase distributed scan (no global
    # window); the grand total is the scan's own driver-summed literal
    # (total_col) — no second aggregation pass, no cross join
    return (
        global_prefix_sum(
            per_cust, "o_custkey", "rev", out_col="cum_rev",
            order_exprs=[F.col("rev").desc(), F.col("o_custkey")],
            total_col="total",
        )
        .where((F.col("cum_rev") - F.col("rev")) < F.lit(0.8) * F.col("total"))
        .select(
            "o_custkey",
            F.round(F.col("rev").cast("double"), 4).alias("revenue"),
            F.round((F.col("cum_rev") / F.col("total")).cast("double"), 6).alias(
                "cum_share"
            ),
        )
    )


_SQL_PARETO_CUSTOMERS = """
WITH per_cust AS (
  SELECT o_custkey, sum(CAST(o_totalprice AS DECIMAL(18,4))) AS rev
  FROM orders GROUP BY 1
), ranked AS (
  SELECT o_custkey, rev,
         sum(rev) OVER (ORDER BY rev DESC, o_custkey
                        ROWS UNBOUNDED PRECEDING) AS cum_rev,
         sum(rev) OVER () AS total
  FROM per_cust
)
SELECT o_custkey,
       round(CAST(rev AS DOUBLE), 4) AS revenue,
       round(CAST(cum_rev / total AS DOUBLE), 6) AS cum_share
FROM ranked
WHERE (cum_rev - rev) < 0.8 * total
"""


# --------------------------------------------------------------------------
# EWMA smoothing (recursive series via deterministic array fold)
# --------------------------------------------------------------------------

def _q_ewma_daily_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average of each user's daily value
    total (α=0.3) — a RECURSIVE series that window functions cannot
    express, computed as a deterministic left fold over the user's
    time-ordered daily array: aggregate once per (user, day), collect
    the bounded per-user series, fold JVM-side with `aggregate`.  Both
    engines execute the identical fold order on identical (rounded)
    inputs, so the oracle is exact.  Per-user state is the day-series
    array — bounded by the observation span, not the event count."""
    ev = load_table(spark, sf_dir, "events").where(F.col("user_id") < 200)
    daily = (
        ev.select(
            "user_id",
            (F.unix_micros(F.col("ts")) / _DAY_US).cast("long").alias("day"),
            "value",
        )
        .groupBy("user_id", "day")
        .agg(F.round(F.sum("value"), 6).alias("v"))
    )
    series = F.transform(
        F.sort_array(F.collect_list(F.struct(F.col("day"), F.col("v")))),
        lambda s: s.getField("v"),
    )
    per_user = daily.groupBy("user_id").agg(series.alias("vals"))
    ewma = F.expr(
        "aggregate(slice(vals, 2, size(vals) - 1), element_at(vals, 1),"
        " (acc, x) -> acc * 0.7D + x * 0.3D)"
    )
    return per_user.select(
        "user_id",
        F.size("vals").alias("n_days"),
        F.round(ewma, 4).alias("ewma_value"),
    )


_SQL_EWMA_DAILY_VALUE = """
WITH daily AS (
  SELECT user_id, epoch_us(ts) // 86400000000 AS day,
         round(sum(value), 6) AS v
  FROM events WHERE user_id < 200
  GROUP BY 1, 2
), per_user AS (
  SELECT user_id, list(v ORDER BY day) AS vals
  FROM daily GROUP BY user_id
)
SELECT user_id,
       CAST(len(vals) AS INT) AS n_days,
       round(list_reduce(vals, (acc, x) -> acc * 0.7 + x * 0.3), 4) AS ewma_value
FROM per_user
"""


# --------------------------------------------------------------------------
# Growth accounting (new / retained / resurrected per day)
# --------------------------------------------------------------------------

def _q_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily active users decomposed into NEW (first-ever day),
    RETAINED (also active the previous day), and RESURRECTED (returning
    after a gap) — the standard growth-accounting ledger.  One lag
    window over the deduped (user, day) grid classifies every active
    day; the daily rollup is a small hash agg.  One shuffle on user_id,
    one on day."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        (F.unix_micros(F.col("ts")) / _DAY_US).cast("long").alias("day_num"),
    )
    grid = ev.distinct()
    w = Window.partitionBy("user_id").orderBy("day_num")
    classified = grid.withColumn("prev_day", F.lag("day_num").over(w)).withColumn(
        "status",
        F.when(F.col("prev_day").isNull(), "new")
        .when(F.col("prev_day") == F.col("day_num") - 1, "retained")
        .otherwise("resurrected"),
    )
    return (
        classified.groupBy("day_num", "status")
        .agg(F.count("*").alias("n_users"))
        .orderBy("day_num", "status")
    )


_SQL_GROWTH_ACCOUNTING = """
WITH grid AS (
  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day_num FROM events
), classified AS (
  SELECT day_num,
         CASE
           WHEN lag(day_num) OVER (PARTITION BY user_id ORDER BY day_num) IS NULL
             THEN 'new'
           WHEN lag(day_num) OVER (PARTITION BY user_id ORDER BY day_num)
                = day_num - 1 THEN 'retained'
           ELSE 'resurrected'
         END AS status
  FROM grid
)
SELECT day_num, status, count(*) AS n_users
FROM classified
GROUP BY day_num, status
ORDER BY day_num, status
"""


# --------------------------------------------------------------------------
# Hierarchical share-of-parent (nation within region within world)
# --------------------------------------------------------------------------

def _q_share_of_parent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue share of each nation within its region and of each
    region within the whole — the drill-down report's share-of-parent
    measure, from ONE nation-level aggregate plus two windows over the
    25-row result (region partition, whole frame).  The fact table
    shuffles once, on the 25-value nation key; dims broadcast."""
    orders = load_table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("nk"),
        F.col("n_name").alias("nation"),
        F.col("n_regionkey").alias("rk"),
    )
    region = load_table(spark, sf_dir, "region").select(
        F.col("r_regionkey").alias("rk2"), F.col("r_name").alias("region")
    )
    per_nation = (
        orders.join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("nk"))
        .join(F.broadcast(region), F.col("rk") == F.col("rk2"))
        .groupBy("region", "nation")
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,4)")).alias("rev"))
    )
    wreg = Window.partitionBy("region")
    wall = Window.orderBy(F.lit(1))
    return (
        per_nation.select(
            "region",
            "nation",
            F.round(F.col("rev").cast("double"), 4).alias("revenue"),
            F.round(
                (F.col("rev") / F.sum("rev").over(wreg)).cast("double"), 6
            ).alias("share_of_region"),
            F.round(
                (F.sum("rev").over(wreg) / F.sum("rev").over(wall)).cast("double"), 6
            ).alias("region_share_of_world"),
        )
        .orderBy("region", "nation")
    )


_SQL_SHARE_OF_PARENT = """
WITH per_nation AS (
  SELECT r_name AS region, n_name AS nation,
         sum(CAST(o_totalprice AS DECIMAL(18,4))) AS rev
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  GROUP BY 1, 2
)
SELECT region, nation,
       round(CAST(rev AS DOUBLE), 4) AS revenue,
       round(CAST(rev / sum(rev) OVER (PARTITION BY region) AS DOUBLE), 6)
         AS share_of_region,
       round(CAST(sum(rev) OVER (PARTITION BY region) / sum(rev) OVER ()
                  AS DOUBLE), 6) AS region_share_of_world
FROM per_nation
ORDER BY region, nation
"""


SPECS: dict[str, QuerySpec] = {
    "weekly_active_users": QuerySpec(
        _q_weekly_active_users,
        _SQL_WEEKLY_ACTIVE_USERS,
        "rolling 7-day distinct users via dedup-grid + constant explode",
    ),
    "month_over_month_revenue": QuerySpec(
        _q_month_over_month_revenue,
        _SQL_MONTH_OVER_MONTH_REVENUE,
        "period-over-period growth: aggregate-then-lag",
    ),
    "pareto_customers": QuerySpec(
        _q_pareto_customers,
        _SQL_PARETO_CUSTOMERS,
        "Pareto 80% revenue concentration via ordered running share",
    ),
    "share_of_parent": QuerySpec(
        _q_share_of_parent,
        _SQL_SHARE_OF_PARENT,
        "hierarchical share-of-parent (nation→region→world) from one aggregate",
    ),
    "growth_accounting": QuerySpec(
        _q_growth_accounting,
        _SQL_GROWTH_ACCOUNTING,
        "daily new/retained/resurrected user ledger via one lag window",
    ),
    "ewma_daily_value": QuerySpec(
        _q_ewma_daily_value,
        _SQL_EWMA_DAILY_VALUE,
        "recursive EWMA via deterministic array fold (window-inexpressible)",
    ),
}
