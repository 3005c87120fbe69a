"""Round-8 data-profiling pack.

* ``mode_concentration_profile`` — per-column value-DISTRIBUTION
  profile of orders: exact distinct count, the modal value's share,
  and the value-distribution Shannon entropy (nats), from ONE scan.
  The companion to ``column_profile_orders`` (plans/catalog.py), which
  covers nulls/distinct/min/max but says nothing about SHAPE — two
  columns with the same distinct count can be uniform (entropy ≈
  ln(nd), top_share ≈ 1/nd) or pathologically skewed (top_share → 1),
  and skew is what breaks shuffle partitioning and join planning at
  100 TB.  The unpivot is a single ``explode(array(struct...))``
  projection, so all six columns profile in one scan + two hash aggs;
  entropy terms are 1e-8-quantized before the cross-value sum (the
  repo's engine-order-independence discipline).

Values are compared as strings only for COUNTING — no formatted value
is emitted, so cross-engine value formatting cannot leak into output.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load_table
from . import QuerySpec

_MODE_COLS = (
    "o_orderkey",
    "o_custkey",
    "o_orderstatus",
    "o_totalprice",
    "o_orderdate",
    "o_orderpriority",
)


def _q_mode_concentration_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    long = orders.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("col"),
                        F.col(c).cast("string").alias("val"),
                    )
                    for c in _MODE_COLS
                ]
            )
        ).alias("kv")
    ).select("kv.col", "kv.val")
    per_val = long.where(F.col("val").isNotNull()).groupBy("col", "val").agg(
        F.count(F.lit(1)).alias("c")
    )
    tot = per_val.groupBy("col").agg(F.sum("c").alias("n"))
    p = F.col("c").cast("double") / F.col("n").cast("double")
    term8 = F.floor(-p * F.log(p) * 1e8 + 0.5).cast("bigint")
    return (
        per_val.join(tot, "col")
        .groupBy("col", "n")
        .agg(
            F.count(F.lit(1)).alias("n_distinct"),
            F.max("c").alias("top_c"),
            F.sum(term8).alias("h8"),
        )
        .select(
            F.col("col").alias("column"),
            "n",
            "n_distinct",
            F.round(
                F.col("n_distinct").cast("double") / F.col("n").cast("double"), 6
            ).alias("distinct_ratio"),
            F.round(
                F.col("top_c").cast("double") / F.col("n").cast("double"), 6
            ).alias("top_share"),
            F.round(F.col("h8").cast("double") / 1e8, 6).alias("value_entropy"),
        )
        .orderBy("column")
    )


_SQL_MODE_CONCENTRATION_PROFILE = f"""
WITH longf AS (
  {" UNION ALL ".join(f"SELECT '{c}' AS col, CAST({c} AS VARCHAR) AS val FROM orders" for c in _MODE_COLS)}
), per_val AS (
  SELECT col, val, count(*) AS c FROM longf WHERE val IS NOT NULL
  GROUP BY 1, 2
), tot AS (
  SELECT col, sum(c) AS n FROM per_val GROUP BY 1
), terms AS (
  SELECT p.col, t.n, p.c,
         CAST(floor(-(CAST(p.c AS DOUBLE) / t.n)
                    * ln(CAST(p.c AS DOUBLE) / t.n) * 1e8 + 0.5) AS BIGINT)
           AS term8
  FROM per_val p JOIN tot t USING (col)
)
SELECT col AS "column",
       CAST(n AS BIGINT) AS n,
       CAST(count(*) AS BIGINT) AS n_distinct,
       round(CAST(count(*) AS DOUBLE) / n, 6) AS distinct_ratio,
       round(CAST(max(c) AS DOUBLE) / n, 6) AS top_share,
       round(CAST(sum(term8) AS DOUBLE) / 1e8, 6) AS value_entropy
FROM terms
GROUP BY col, n
ORDER BY "column"
"""


SPECS: dict[str, QuerySpec] = {
    "mode_concentration_profile": QuerySpec(
        _q_mode_concentration_profile,
        _SQL_MODE_CONCENTRATION_PROFILE,
        "one-scan value-distribution profile of orders columns: exact "
        "distinct ratio, modal-value share, and value entropy (the "
        "skew signals column_profile_orders lacks)",
    ),
}
