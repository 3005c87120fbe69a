"""Round-6 percentile-convention pack — exact interpolated vs discrete
quantiles, and the inter-event-gap percentiles built on them.

* ``percentile_cont_vs_disc_audit`` — per market segment: the exact
  INTERPOLATED median (SQL ``percentile_cont`` semantics — Spark's
  ``percentile``; DuckDB's ``quantile_cont``) next to the DISCRETE
  median (``percentile_disc`` / ``quantile_disc``: the smallest value
  at-or-above the rank) and their gap.  Pins that both engines'
  quantile conventions line up — the audit that must pass before any
  percentile appears in a report; complements
  ``approx_percentile_prices_bounded`` (which audits the SKETCH
  against the exact value this query defines).
* ``order_gap_percentiles_by_segment`` — p50/p90 of the
  days-between-consecutive-orders distribution per segment (per-
  customer ``lag``, PARTITIONED window), the re-engagement metric.

100 TB shape: exact percentiles group per segment (5 groups; Spark's
``percentile`` is a partial-aggregating sketchless implementation —
per-group state is the value multiset, which is why the catalog's
scale path for quantiles is the t-digest-style
``approx_percentile_prices`` and the merge audit; this entry is the
truth side at audit time).  The gap query's window is partitioned by
customer — no global pass.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window

from ..sources.tables import load_table
from . import QuerySpec

# --------------------------------------------------------------------------
# percentile_cont_vs_disc_audit
# --------------------------------------------------------------------------


def _q_percentile_cont_vs_disc_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    base = orders.join(
        F.broadcast(customer.select("c_custkey", "c_mktsegment")),
        orders["o_custkey"] == customer["c_custkey"],
    ).select(
        F.col("c_mktsegment").alias("seg"),
        F.col("o_totalprice").cast("double").alias("y"),
    )
    return base.groupBy("seg").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.expr("percentile(y, 0.5)"), 4).alias("median_cont"),
        F.round(F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY y)"), 4).alias(
            "median_disc"
        ),
        F.round(
            F.expr("percentile(y, 0.5)")
            - F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY y)"),
            4,
        ).alias("cont_minus_disc"),
    )


_SQL_PERCENTILE_CONT_VS_DISC_AUDIT = """
WITH base AS (
  SELECT c.c_mktsegment AS seg, CAST(o.o_totalprice AS DOUBLE) AS y
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
)
SELECT seg,
       CAST(count(*) AS BIGINT) AS n,
       round(quantile_cont(y, 0.5), 4) AS median_cont,
       round(quantile_disc(y, 0.5), 4) AS median_disc,
       round(quantile_cont(y, 0.5) - quantile_disc(y, 0.5), 4)
         AS cont_minus_disc
FROM base
GROUP BY seg
"""


# --------------------------------------------------------------------------
# order_gap_percentiles_by_segment
# --------------------------------------------------------------------------


def _q_order_gap_percentiles_by_segment(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("o_custkey").orderBy(
        F.to_date("o_orderdate"), "o_orderkey"
    )
    gaps = (
        orders.select(
            "o_custkey",
            F.to_date("o_orderdate").alias("day"),
            "o_orderkey",
            F.lag(F.to_date("o_orderdate")).over(w).alias("prev_day"),
        )
        .where(F.col("prev_day").isNotNull())
        .select(
            "o_custkey",
            F.datediff(F.col("day"), F.col("prev_day")).cast("double").alias("gap"),
        )
    )
    joined = gaps.join(
        F.broadcast(customer.select("c_custkey", "c_mktsegment")),
        gaps["o_custkey"] == customer["c_custkey"],
    )
    return joined.groupBy(F.col("c_mktsegment").alias("seg")).agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.round(F.expr("percentile(gap, 0.5)"), 4).alias("gap_p50_days"),
        F.round(F.expr("percentile(gap, 0.9)"), 4).alias("gap_p90_days"),
    )


_SQL_ORDER_GAP_PERCENTILES_BY_SEGMENT = """
WITH gaps AS (
  SELECT o_custkey,
         CAST(date_diff('day',
              lag(CAST(o_orderdate AS DATE)) OVER (
                PARTITION BY o_custkey
                ORDER BY CAST(o_orderdate AS DATE), o_orderkey),
              CAST(o_orderdate AS DATE)) AS DOUBLE) AS gap
  FROM orders
)
SELECT c.c_mktsegment AS seg,
       CAST(count(*) AS BIGINT) AS n_gaps,
       round(quantile_cont(g.gap, 0.5), 4) AS gap_p50_days,
       round(quantile_cont(g.gap, 0.9), 4) AS gap_p90_days
FROM gaps g JOIN customer c ON g.o_custkey = c.c_custkey
WHERE g.gap IS NOT NULL
GROUP BY c.c_mktsegment
"""


SPECS: dict[str, QuerySpec] = {
    "percentile_cont_vs_disc_audit": QuerySpec(
        _q_percentile_cont_vs_disc_audit,
        _SQL_PERCENTILE_CONT_VS_DISC_AUDIT,
        "interpolated vs discrete exact medians per segment — the "
        "quantile-convention cross-engine audit",
    ),
    "order_gap_percentiles_by_segment": QuerySpec(
        _q_order_gap_percentiles_by_segment,
        _SQL_ORDER_GAP_PERCENTILES_BY_SEGMENT,
        "p50/p90 days between consecutive orders per segment "
        "(partitioned lag, exact interpolated percentiles)",
    ),
}
