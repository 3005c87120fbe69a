"""Round-8 BI pack — concentration, acquisition, and engagement-quality
primitives every dashboard stack ships.

* ``hhi_concentration`` — Herfindahl–Hirschman index of revenue
  concentration across nations WITHIN each region.  Shares are exact
  integer parts-per-million (``nation_cents * 1e6 div region_cents`` —
  integer division, no float share sum), so the ppm² sum is an exact
  integer in both engines and the final /1e12 is one double op: no
  engine-order wobble across the ≤25-nation sums.
* ``new_vs_returning_daily`` — daily order counts split into new
  (order date equals the customer's first-ever order date) vs
  returning, with the new-customer share.  The acquisition-mix
  primitive; first-order dates come from one partial-agg min per
  customer, broadcast back.
* ``bounce_sessions_daily`` — 30-minute-gap sessionization (the same
  gap rule as ``sessionize_events``), then per-day session counts and
  the bounce rate (share of single-event sessions).  Engagement
  quality over time; lag/running-sum windows are PARTITIONED by
  user_id throughout.

Day columns are emitted as yyyy-MM-dd STRINGS (driver-compare
convention).  100 TB shape: session windows shuffle once on user_id;
the other two collapse to (nation)/(customer)/(day) frames in the
first partial aggregation.

No reference counterpart; BI extensions alongside plans/round6_bi2.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.tables import load_table
from . import QuerySpec

# --------------------------------------------------------------------------
# hhi_concentration
# --------------------------------------------------------------------------


def _q_hhi_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    rev = (
        orders.select(
            "o_custkey",
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("yc"),
        )
        .join(
            F.broadcast(customer.select("c_custkey", "c_nationkey")),
            orders["o_custkey"] == customer["c_custkey"],
        )
        .groupBy("c_nationkey")
        .agg(F.sum("yc").alias("nation_cents"))
        .join(
            F.broadcast(
                nation.select("n_nationkey", "n_name", "n_regionkey").join(
                    F.broadcast(region.select("r_regionkey", "r_name")),
                    nation["n_regionkey"] == region["r_regionkey"],
                )
            ),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select("r_name", "n_name", "nation_cents")
    )
    reg = rev.groupBy("r_name").agg(
        F.sum("nation_cents").alias("region_cents"),
        F.count(F.lit(1)).alias("n_nations"),
    )
    shares = rev.join(reg, "r_name").select(
        "r_name",
        "n_nations",
        # exact integer ppm share: cents * 1e6 div region cents — `div`
        # (truncating integral division, bigint result) on decimal
        # operands matches DuckDB's `//` exactly; a `/` would round
        # (Spark decimal HALF_UP at scale, DuckDB float) and the two
        # engines disagree by 1 ppm at the boundaries
        F.expr(
            "CAST(nation_cents AS DECIMAL(38,0)) * 1000000 "
            "div CAST(region_cents AS DECIMAL(38,0))"
        ).alias("share_ppm"),
    )
    return (
        shares.groupBy("r_name", "n_nations")
        .agg(
            F.sum(
                F.col("share_ppm").cast("decimal(38,0)")
                * F.col("share_ppm").cast("decimal(38,0)")
            ).alias("ppm2"),
            F.max("share_ppm").alias("top_ppm"),
        )
        .select(
            F.col("r_name").alias("region"),
            F.col("n_nations").cast("int").alias("n_nations"),
            F.round(F.col("ppm2").cast("double") / 1e12, 6).alias("hhi"),
            F.round(F.col("top_ppm").cast("double") / 1e6, 6).alias("top_share"),
        )
        .orderBy("region")
    )


_SQL_HHI_CONCENTRATION = """
WITH rev AS (
  SELECT r.r_name, n.n_name,
         sum(CAST(round(o.o_totalprice * 100, 0) AS BIGINT)) AS nation_cents
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey
  GROUP BY 1, 2
), reg AS (
  SELECT r_name, sum(nation_cents) AS region_cents,
         count(*) AS n_nations
  FROM rev GROUP BY 1
), shares AS (
  SELECT rev.r_name, reg.n_nations,
         CAST(CAST(rev.nation_cents AS HUGEINT) * 1000000
              // reg.region_cents AS BIGINT) AS share_ppm
  FROM rev JOIN reg USING (r_name)
)
SELECT r_name AS region,
       CAST(n_nations AS INT) AS n_nations,
       round(CAST(sum(CAST(share_ppm AS HUGEINT) * share_ppm) AS DOUBLE)
             / 1e12, 6) AS hhi,
       round(CAST(max(share_ppm) AS DOUBLE) / 1e6, 6) AS top_share
FROM shares
GROUP BY r_name, n_nations
ORDER BY region
"""


# --------------------------------------------------------------------------
# new_vs_returning_daily
# --------------------------------------------------------------------------


def _q_new_vs_returning_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", F.to_date("o_orderdate").alias("day")
    )
    first = orders.groupBy("o_custkey").agg(F.min("day").alias("first_day"))
    return (
        orders.join(F.broadcast(first), "o_custkey")
        .groupBy("day")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum((F.col("day") == F.col("first_day")).cast("bigint")).alias(
                "n_new"
            ),
        )
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "n_orders",
            "n_new",
            (F.col("n_orders") - F.col("n_new")).alias("n_returning"),
            F.round(
                F.col("n_new").cast("double") / F.col("n_orders").cast("double"),
                6,
            ).alias("new_share"),
        )
        .orderBy("day")
    )


_SQL_NEW_VS_RETURNING_DAILY = """
WITH o AS (
  SELECT o_custkey, CAST(o_orderdate AS DATE) AS day FROM orders
), first AS (
  SELECT o_custkey, min(day) AS first_day FROM o GROUP BY 1
), daily AS (
  SELECT day, count(*) AS n_orders,
         sum(CASE WHEN day = first_day THEN 1 ELSE 0 END) AS n_new
  FROM o JOIN first USING (o_custkey)
  GROUP BY day
)
SELECT strftime(day, '%Y-%m-%d') AS day,
       CAST(n_orders AS BIGINT) AS n_orders,
       CAST(n_new AS BIGINT) AS n_new,
       CAST(n_orders - n_new AS BIGINT) AS n_returning,
       round(CAST(n_new AS DOUBLE) / n_orders, 6) AS new_share
FROM daily
ORDER BY day
"""


# --------------------------------------------------------------------------
# bounce_sessions_daily
# --------------------------------------------------------------------------

_GAP_US = 1_800_000_000  # 30 minutes, same rule as sessionize_events


def _q_bounce_sessions_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", F.unix_micros("ts").alias("tus")
    )
    w = Window.partitionBy("user_id").orderBy("tus", "event_id")
    flagged = ev.withColumn("prev", F.lag("tus").over(w)).withColumn(
        "new_s",
        (
            F.col("prev").isNull() | (F.col("tus") - F.col("prev") > _GAP_US)
        ).cast("int"),
    )
    sess = (
        flagged.withColumn(
            "sid",
            F.sum("new_s").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        .groupBy("user_id", "sid")
        .agg(F.min("tus").alias("start_us"), F.count(F.lit(1)).alias("n_ev"))
    )
    return (
        sess.select(
            F.date_format(
                F.timestamp_micros(F.col("start_us")), "yyyy-MM-dd"
            ).alias("day"),
            (F.col("n_ev") == 1).cast("bigint").alias("bounce"),
        )
        .groupBy("day")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum("bounce").alias("n_bounces"),
        )
        .select(
            "day",
            "n_sessions",
            "n_bounces",
            F.round(
                F.col("n_bounces").cast("double")
                / F.col("n_sessions").cast("double"),
                6,
            ).alias("bounce_rate"),
        )
        .orderBy("day")
    )


_SQL_BOUNCE_SESSIONS_DAILY = f"""
WITH x AS (
  SELECT user_id, event_id, epoch_us(ts) AS tus,
         lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev
  FROM events
), flagged AS (
  SELECT *, CASE WHEN prev IS NULL OR tus - prev > {_GAP_US}
                 THEN 1 ELSE 0 END AS new_s
  FROM x
), sid AS (
  SELECT user_id, tus,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY tus, event_id
                          ROWS UNBOUNDED PRECEDING) AS sid
  FROM flagged
), sess AS (
  SELECT user_id, sid, min(tus) AS start_us, count(*) AS n_ev
  FROM sid GROUP BY 1, 2
), daily AS (
  SELECT strftime(make_timestamp(start_us), '%Y-%m-%d') AS day,
         count(*) AS n_sessions,
         sum(CASE WHEN n_ev = 1 THEN 1 ELSE 0 END) AS n_bounces
  FROM sess GROUP BY 1
)
SELECT day, CAST(n_sessions AS BIGINT) AS n_sessions,
       CAST(n_bounces AS BIGINT) AS n_bounces,
       round(CAST(n_bounces AS DOUBLE) / n_sessions, 6) AS bounce_rate
FROM daily
ORDER BY day
"""


SPECS: dict[str, QuerySpec] = {
    "hhi_concentration": QuerySpec(
        _q_hhi_concentration,
        _SQL_HHI_CONCENTRATION,
        "Herfindahl-Hirschman revenue concentration per region over "
        "exact integer ppm shares (no float share sums)",
    ),
    "new_vs_returning_daily": QuerySpec(
        _q_new_vs_returning_daily,
        _SQL_NEW_VS_RETURNING_DAILY,
        "daily acquisition mix: new (first-ever order date) vs "
        "returning order counts and new-customer share",
    ),
    "bounce_sessions_daily": QuerySpec(
        _q_bounce_sessions_daily,
        _SQL_BOUNCE_SESSIONS_DAILY,
        "30-min-gap sessionization -> per-day bounce rate (share of "
        "single-event sessions); user-partitioned windows only",
    ),
}
