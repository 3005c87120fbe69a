"""Shared derived frames, each built once next to its DuckDB twin.

The ``operators/graph_edges.py`` pattern applied to the catalog's
time-series family: one Spark construction plus the DuckDB CTE body
that every consumer's oracle embeds literally, so the two engines
agree by construction and a change to the frame is made in one place.

* :func:`daily_order_cents` / :data:`SQL_DAILY_ORDER_CENTS` — order
  revenue per calendar day in integer cents, ``(day DATE, cents
  BIGINT)``.  Each order is rounded to whole cents BEFORE the sum, so
  the day total is exact integer arithmetic in both engines.
  Consumers derive what they need on top of ``(day, cents)``: a period
  filter on ``day`` (Catalyst pushes it below the aggregate), the
  epoch day, whole dollars or a quantized value, a dense day index.

100 TB shape: one orders scan and one hash aggregate with map-side
partials; the output is calendar-bounded (one row per order day, about
2.4k rows at any scale factor).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load_table


def daily_order_cents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``(day DATE, cents BIGINT)``: the sum of each order's
    ``o_totalprice`` rounded to whole cents, per calendar day."""
    return (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias(
                "cents"
            )
        )
    )


#: DuckDB twin of :func:`daily_order_cents`.  DuckDB widens a BIGINT
#: sum to HUGEINT, so the sum is cast back to Spark's BIGINT.
SQL_DAILY_ORDER_CENTS = """
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
           AS cents
  FROM orders GROUP BY 1
"""
