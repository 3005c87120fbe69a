"""Round-6 e2e pack 2 — transactional near-dup detection and the
third composed canary (a BI dashboard as ONE plan).

* ``near_duplicate_orders`` — double-submission detection: order
  pairs from the SAME customer whose total prices agree within $100
  and whose order dates fall within 92 days (the retry/amendment
  signature in transactional data; thresholds sized so the synthetic
  near-uniform price distribution yields a non-empty answer).
  Candidates come from an equi-join BLOCKED on the customer key —
  per-customer quadratic, never corpus-quadratic — with the price and
  date bands as post-filters; ordered (earlier, later) pairs with a
  key tiebreak.  The TRANSACTIONAL sibling of the text near-dup
  family: blocking keys + cheap verify, same discipline as
  ``entity_resolution_pairs``.
* ``bi_dashboard_e2e`` — composed canary #3 (after
  ``dedup_pipeline_e2e`` and ``corpus_curation_e2e``): the five
  headline dashboard numbers — total revenue, last month-over-month
  delta, top nation by revenue, max drawdown trough, day-of-week
  seasonality strength — computed in ONE DataFrame plan (each leg is
  a bounded aggregate; the combine is 1-row × 1-row broadcasts).
  Proves the BI legs compose without re-materialization, and gives
  the bench a dashboard-shaped composite to time.

100 TB shape: the near-dup join shuffles on the customer key — high
cardinality, per-entity-bounded fanout; every dashboard leg collapses
the fact scan to a bounded frame before the final 1-row combines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window

from ..sources.tables import load_table
from . import QuerySpec

# --------------------------------------------------------------------------
# near_duplicate_orders
# --------------------------------------------------------------------------

_NDO_DAYS = 92
_NDO_PRICE_EPS = 100.0


def _q_near_duplicate_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    base = orders.select(
        "o_orderkey",
        "o_custkey",
        F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
        F.to_date("o_orderdate").alias("day"),
    )
    a = base.select(
        F.col("o_custkey").alias("cust"),
        F.col("price"),
        F.col("o_orderkey").alias("k1"),
        F.col("day").alias("d1"),
    )
    b = base.select(
        F.col("o_custkey").alias("cust"),
        F.col("price"),
        F.col("o_orderkey").alias("k2"),
        F.col("day").alias("d2"),
    )
    b = b.withColumnRenamed("price", "price2")
    pairs = a.join(b, ["cust"]).where(
        (F.col("k1") < F.col("k2"))
        & (F.abs((F.col("price") - F.col("price2")).cast("double")) <= _NDO_PRICE_EPS)
        & (F.abs(F.datediff(F.col("d2"), F.col("d1"))) <= _NDO_DAYS)
    )
    return pairs.select(
        "cust",
        # r12 driver-parity: DECIMAL(18,2) renders differently per
        # engine on the driver channel (trailing-zero cents); emit
        # DOUBLE — the cents-rounded value is « 2^53, so the decimal
        # -> double conversion is value-exact in both engines
        F.col("price").cast("double").alias("price"),
        F.col("price2").cast("double").alias("price2"),
        "k1",
        "k2",
        F.date_format("d1", "yyyy-MM-dd").alias("day1"),
        F.date_format("d2", "yyyy-MM-dd").alias("day2"),
        F.abs(F.datediff(F.col("d2"), F.col("d1"))).cast("int").alias("gap_days"),
    )


_SQL_NEAR_DUPLICATE_ORDERS = f"""
WITH base AS (
  SELECT o_orderkey, o_custkey,
         CAST(o_totalprice AS DECIMAL(18,2)) AS price,
         CAST(o_orderdate AS DATE) AS day
  FROM orders
)
SELECT a.o_custkey AS cust,
       -- DOUBLE final emission (driver-parity)
       CAST(a.price AS DOUBLE) AS price,
       CAST(b.price AS DOUBLE) AS price2,
       a.o_orderkey AS k1, b.o_orderkey AS k2,
       strftime(a.day, '%Y-%m-%d') AS day1,
       strftime(b.day, '%Y-%m-%d') AS day2,
       CAST(abs(date_diff('day', a.day, b.day)) AS INT) AS gap_days
FROM base a
JOIN base b ON a.o_custkey = b.o_custkey
WHERE a.o_orderkey < b.o_orderkey
  AND abs(CAST(a.price - b.price AS DOUBLE)) <= {_NDO_PRICE_EPS!r}
  AND abs(date_diff('day', a.day, b.day)) <= {_NDO_DAYS}
"""


# --------------------------------------------------------------------------
# bi_dashboard_e2e
# --------------------------------------------------------------------------


def _q_bi_dashboard_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.caching import tracked_cache

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")

    # ONE fact scan feeds totals, the monthly frame, and the drawdown
    # curve: everything re-derives from the cached per-DAY rollup (the
    # only second scan is the nation leg, which needs the customer key)
    daily = tracked_cache(
        orders.select(
            F.to_date("o_orderdate").alias("day"),
            F.col("o_totalprice").cast("decimal(18,2)").alias("rev"),
        )
        .groupBy("day")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("rev").alias("rev"))
    )

    # leg 1: grand totals (from the day frame, no second scan)
    totals = daily.agg(
        F.sum("n").alias("n_orders"),
        # r12 driver-parity: exact decimal sum, DOUBLE final emission
        # (wide decimals render differently per engine on the driver
        # channel; cents magnitudes « 2^53 so this is value-exact)
        F.sum("rev").cast("double").alias("total_revenue"),
    )

    # leg 2: last month-over-month revenue delta (month frame bounded)
    monthly = (
        daily.select(
            (F.year("day") * 12 + F.month("day")).alias("m"), "rev"
        )
        .groupBy("m")
        .agg(F.sum("rev").alias("rev"))
    )
    last2 = monthly.orderBy(F.desc("m")).limit(2)
    mom = last2.agg(
        F.round(
            (F.max(F.struct("m", "rev")).getField("rev")
             - F.min(F.struct("m", "rev")).getField("rev")).cast("double"),
            2,
        ).alias("last_mom_delta")
    )

    # leg 3: top nation by revenue
    dim = customer.join(
        F.broadcast(nation), customer["c_nationkey"] == nation["n_nationkey"]
    ).select("c_custkey", "n_name")
    top_nation = (
        orders.join(F.broadcast(dim), orders["o_custkey"] == dim["c_custkey"])
        .groupBy("n_name")
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev"))
        .orderBy(F.desc("rev"), F.asc("n_name"))
        .limit(1)
        .select(
            F.col("n_name").alias("top_nation"),
            # DOUBLE final emission (driver-parity; ordering already
            # settled on the exact decimal above)
            F.col("rev").cast("double").alias("top_nation_revenue"),
        )
    )

    # leg 4: max drawdown trough day (detrended cumulative daily curve,
    # reusing the cached day frame)
    dtot = daily.agg(F.sum("rev").alias("tot"), F.count(F.lit(1)).alias("n_days"))
    detr = daily.crossJoin(F.broadcast(dtot)).select(
        "day",
        (
            F.col("rev").cast("double")
            - F.col("tot").cast("double") / F.col("n_days").cast("double")
        ).alias("x"),
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    curve = detr.select("day", F.sum("x").over(w).alias("cum")).select(
        "day", "cum", F.max("cum").over(w).alias("peak")
    )
    trough = (
        curve.select("day", (F.col("peak") - F.col("cum")).alias("dd"))
        .orderBy(F.desc("dd"), F.asc("day"))
        .limit(1)
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("drawdown_trough_day"),
            F.round("dd", 2).alias("max_drawdown"),
        )
    )

    return (
        totals.crossJoin(F.broadcast(mom))
        .crossJoin(F.broadcast(top_nation))
        .crossJoin(F.broadcast(trough))
    )


_SQL_BI_DASHBOARD_E2E = """
WITH totals AS (
  -- DOUBLE final emission (driver-parity; exact decimal sum first)
  SELECT CAST(count(*) AS BIGINT) AS n_orders,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
           AS total_revenue
  FROM orders
), monthly AS (
  SELECT year(o_orderdate) * 12 + month(o_orderdate) AS m,
         sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
  FROM orders GROUP BY 1
), last2 AS (
  SELECT m, rev FROM monthly ORDER BY m DESC LIMIT 2
), mom AS (
  SELECT round(CAST(max_by(rev, m) - min_by(rev, m) AS DOUBLE), 2)
           AS last_mom_delta
  FROM last2
), top_nation AS (
  -- order on the exact decimal, emit DOUBLE (driver-parity)
  SELECT n.n_name AS top_nation,
         CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
           AS top_nation_revenue
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  GROUP BY n.n_name
  ORDER BY sum(CAST(o.o_totalprice AS DECIMAL(18,2))) DESC, top_nation
  LIMIT 1
), daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
  FROM orders GROUP BY 1
), dtot AS (
  SELECT sum(rev) AS tot, CAST(count(*) AS BIGINT) AS n_days FROM daily
), curve AS (
  SELECT day,
         sum(CAST(rev AS DOUBLE) - CAST(tot AS DOUBLE) / n_days)
           OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS cum
  FROM daily CROSS JOIN dtot
), peaked AS (
  SELECT day, cum,
         max(cum) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS peak
  FROM curve
), trough AS (
  SELECT strftime(day, '%Y-%m-%d') AS drawdown_trough_day,
         round(peak - cum, 2) AS max_drawdown
  FROM peaked
  ORDER BY peak - cum DESC, day
  LIMIT 1
)
SELECT t.n_orders, t.total_revenue, m.last_mom_delta,
       tn.top_nation, tn.top_nation_revenue,
       tr.drawdown_trough_day, tr.max_drawdown
FROM totals t
CROSS JOIN mom m
CROSS JOIN top_nation tn
CROSS JOIN trough tr
"""


SPECS: dict[str, QuerySpec] = {
    "near_duplicate_orders": QuerySpec(
        _q_near_duplicate_orders,
        _SQL_NEAR_DUPLICATE_ORDERS,
        "double-submission detection: same customer, prices within "
        "$100, dates within 92 days (customer-blocked equi-join, band "
        "post-filters)",
    ),
    "bi_dashboard_e2e": QuerySpec(
        _q_bi_dashboard_e2e,
        _SQL_BI_DASHBOARD_E2E,
        "composed canary #3: totals, last MoM delta, top nation, max "
        "drawdown in ONE plan (bounded legs, 1-row broadcast combine)",
    ),
}
