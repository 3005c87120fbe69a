"""Round-6 BI/inference pack — conformal intervals, A/B power
planning, and waterfall decomposition.

* ``conformal_price_interval`` — split conformal prediction (Vovk;
  Papadopoulos 2002) per order priority: a deterministic md5 hash
  splits orders into train/calibration/test thirds (the repo's
  standard md5-prefix bucket recipe — packing.py, profiling_ext.py);
  the predictor is the train-split mean price, the conformal quantile
  q̂ is the ⌈(n_cal+1)·0.9⌉-th smallest calibration residual (rank
  within priority — PARTITIONED window), and the empirical test
  coverage is reported beside the 90% target.  Everything is
  per-priority, so no global windows anywhere.

* ``ab_test_power_plan`` — classical two-sample power planning per
  market segment: variance from decimal-exact sum/sumsq spreads (the
  ``brown_forsythe_f`` recipe), a minimum-detectable-effect grid of
  1/2/5% of the segment mean, and the required per-arm n at α=0.05,
  power=0.80 (z constants pinned: 1.959964, 0.841621) with a
  feasibility verdict against the segment's actual order count.

* ``revenue_waterfall_by_nation`` — the BI waterfall: 1996→1997
  revenue delta per nation (decimal-exact via the broadcast
  customer→nation dims), each nation's share of the total delta, and
  the cumulative bridge position via the two-phase
  ``global_prefix_sum`` ordered by (delta desc, nation) — the grand
  total rides along as ``total_col``, so there is no second pass.

No reference counterpart; extends the statistics/BI families
(plans/statistics.py, plans/timeseries_bi.py, plans/round5_stats2.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.prefix_sum import global_prefix_sum
from ..sources.tables import load_table
from . import QuerySpec

# --------------------------------------------------------------------------
# conformal_price_interval
# --------------------------------------------------------------------------

_CONF_ALPHA = 0.1  # 90% target coverage


def _q_conformal_price_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    split = (
        F.conv(
            F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 15), 16, 10
        ).cast("bigint")
        % 3
    )
    base = orders.select(
        "o_orderpriority",
        F.col("o_totalprice").cast("decimal(18,2)").alias("y"),
        split.alias("part"),
    )
    pred = (
        base.where(F.col("part") == 0)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_train"),
            F.round(
                F.sum("y").cast("double") / F.count(F.lit(1)), 6
            ).alias("pred"),
        )
    )
    cal = base.where(F.col("part") == 1).join(pred, "o_orderpriority").select(
        "o_orderpriority",
        "n_train",
        "pred",
        F.round(F.abs(F.col("y").cast("double") - F.col("pred")), 6).alias("r"),
    )
    w = Window.partitionBy("o_orderpriority").orderBy(F.asc("r"))
    nw = Window.partitionBy("o_orderpriority")
    qhat = (
        cal.withColumn("rk", F.row_number().over(w))
        .withColumn("n_cal", F.count(F.lit(1)).over(nw))
        .where(
            F.col("rk")
            == F.ceil((F.col("n_cal") + 1) * (1.0 - _CONF_ALPHA)).cast("int")
        )
        .select(
            "o_orderpriority", "n_train", "n_cal", "pred", F.col("r").alias("q_hat")
        )
    )
    test = base.where(F.col("part") == 2).join(qhat, "o_orderpriority")
    return test.groupBy(
        "o_orderpriority", "n_train", "n_cal", "pred", "q_hat"
    ).agg(
        F.count(F.lit(1)).alias("n_test"),
        F.round(
            F.sum(
                (
                    F.abs(F.col("y").cast("double") - F.col("pred"))
                    <= F.col("q_hat")
                ).cast("bigint")
            ).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("coverage"),
    )


_SQL_CONFORMAL_PRICE_INTERVAL = f"""
WITH base AS (
  SELECT o_orderpriority,
         CAST(o_totalprice AS DECIMAL(18,2)) AS y,
         CAST('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 15)
              AS BIGINT) % 3 AS part
  FROM orders
), pred AS (
  SELECT o_orderpriority, count(*) AS n_train,
         round(CAST(sum(y) AS DOUBLE) / count(*), 6) AS pred
  FROM base WHERE part = 0 GROUP BY o_orderpriority
), cal AS (
  SELECT b.o_orderpriority, p.n_train, p.pred,
         round(abs(CAST(b.y AS DOUBLE) - p.pred), 6) AS r
  FROM base b JOIN pred p USING (o_orderpriority)
  WHERE b.part = 1
), qhat AS (
  SELECT o_orderpriority, n_train, n_cal, pred, r AS q_hat FROM (
    SELECT o_orderpriority, n_train, pred, r,
           row_number() OVER (PARTITION BY o_orderpriority
                              ORDER BY r ASC) AS rk,
           count(*) OVER (PARTITION BY o_orderpriority) AS n_cal
    FROM cal
  ) WHERE rk = CAST(ceil((n_cal + 1) * {1.0 - _CONF_ALPHA}) AS INT)
)
SELECT b.o_orderpriority,
       CAST(q.n_train AS BIGINT) AS n_train,
       CAST(q.n_cal AS BIGINT) AS n_cal,
       q.pred, q.q_hat,
       count(*) AS n_test,
       round(CAST(sum(CASE WHEN abs(CAST(b.y AS DOUBLE) - q.pred) <= q.q_hat
                           THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6)
         AS coverage
FROM base b JOIN qhat q USING (o_orderpriority)
WHERE b.part = 2
GROUP BY 1, 2, 3, 4, 5
"""


# --------------------------------------------------------------------------
# ab_test_power_plan
# --------------------------------------------------------------------------

_Z_ALPHA = 1.959964  # two-sided 0.05
_Z_BETA = 0.841621  # power 0.80
_MDE_FRACS = (0.01, 0.02, 0.05)


def _q_ab_test_power_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    j = orders.join(
        F.broadcast(cust.select("c_custkey", "c_mktsegment")),
        orders.o_custkey == cust.c_custkey,
    ).select(
        "c_mktsegment", F.col("o_totalprice").cast("decimal(18,2)").alias("y")
    )
    per = j.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("y").alias("sx"),
        F.sum(F.col("y") * F.col("y")).alias("sxx"),
    )
    mean = F.col("sx").cast("double") / F.col("n")
    var = (
        F.col("sxx").cast("double")
        - F.col("sx").cast("double") * F.col("sx").cast("double") / F.col("n")
    ) / (F.col("n") - 1)
    stats = per.select(
        "c_mktsegment",
        "n",
        F.round(mean, 6).alias("mean"),
        F.round(var, 6).alias("var"),
    )
    grid = stats.select(
        "*", F.explode(F.array(*[F.lit(m) for m in _MDE_FRACS])).alias("mde_frac")
    )
    delta = F.col("mde_frac") * F.col("mean")
    n_req = F.ceil(
        2.0 * (_Z_ALPHA + _Z_BETA) ** 2 * F.col("var") / (delta * delta)
    ).cast("bigint")
    return grid.select(
        "c_mktsegment",
        "n",
        "mean",
        "var",
        F.round("mde_frac", 6).alias("mde_frac"),
        n_req.alias("n_per_arm"),
        (n_req * 2 <= F.col("n")).alias("feasible_now"),
    )


_SQL_AB_TEST_POWER_PLAN = f"""
WITH j AS (
  SELECT c.c_mktsegment, CAST(o.o_totalprice AS DECIMAL(18,2)) AS y
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
), per AS (
  SELECT c_mktsegment, count(*) AS n, sum(y) AS sx, sum(y * y) AS sxx
  FROM j GROUP BY c_mktsegment
), stats AS (
  SELECT c_mktsegment, n,
         round(CAST(sx AS DOUBLE) / n, 6) AS mean,
         round((CAST(sxx AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n) / (n - 1), 6)
           AS var
  FROM per
), grid AS (
  SELECT s.*, CAST(m.mde_frac AS DOUBLE) AS mde_frac
  FROM stats s CROSS JOIN
       (SELECT unnest([{", ".join(str(m) for m in _MDE_FRACS)}]) AS mde_frac) m
)
SELECT c_mktsegment, CAST(n AS BIGINT) AS n, mean, var,
       round(mde_frac, 6) AS mde_frac,
       CAST(ceil(2.0 * {(_Z_ALPHA + _Z_BETA) ** 2!r} * var
                 / ((mde_frac * mean) * (mde_frac * mean))) AS BIGINT)
         AS n_per_arm,
       CAST(ceil(2.0 * {(_Z_ALPHA + _Z_BETA) ** 2!r} * var
                 / ((mde_frac * mean) * (mde_frac * mean))) AS BIGINT) * 2 <= n
         AS feasible_now
FROM grid
"""


# --------------------------------------------------------------------------
# revenue_waterfall_by_nation
# --------------------------------------------------------------------------

_WF_Y1, _WF_Y2 = 1996, 1997


def _q_revenue_waterfall_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    j = (
        orders.where(F.year("o_orderdate").isin(_WF_Y1, _WF_Y2))
        .join(
            F.broadcast(cust.select("c_custkey", "c_nationkey")),
            orders.o_custkey == cust.c_custkey,
        )
        .join(
            F.broadcast(nation.select("n_nationkey", "n_name")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select(
            "n_name",
            F.year("o_orderdate").alias("yr"),
            F.col("o_totalprice").cast("decimal(18,2)").alias("p"),
        )
    )
    per = j.groupBy("n_name").agg(
        F.sum(F.when(F.col("yr") == _WF_Y1, F.col("p")).otherwise(F.lit(0))).alias(
            "rev_y1"
        ),
        F.sum(F.when(F.col("yr") == _WF_Y2, F.col("p")).otherwise(F.lit(0))).alias(
            "rev_y2"
        ),
    )
    deltas = per.select(
        "n_name",
        F.round(F.col("rev_y1").cast("double"), 2).alias("rev_1996"),
        F.round(F.col("rev_y2").cast("double"), 2).alias("rev_1997"),
        (F.col("rev_y2") - F.col("rev_y1")).alias("delta_dec"),
    )
    bridged = global_prefix_sum(
        deltas,
        "n_name",
        "delta_dec",
        "cum_dec",
        order_exprs=[F.desc("delta_dec"), F.asc("n_name")],
        total_col="tot_dec",
    )
    return bridged.select(
        "n_name",
        "rev_1996",
        "rev_1997",
        F.round(F.col("delta_dec").cast("double"), 2).alias("delta"),
        F.round(F.col("cum_dec").cast("double"), 2).alias("cum_delta"),
        F.round(
            F.col("delta_dec").cast("double") / F.col("tot_dec").cast("double"),
            6,
        ).alias("share_of_delta"),
    )


_SQL_REVENUE_WATERFALL_BY_NATION = f"""
WITH j AS (
  SELECT n.n_name, year(o.o_orderdate) AS yr,
         CAST(o.o_totalprice AS DECIMAL(18,2)) AS p
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  WHERE year(o.o_orderdate) IN ({_WF_Y1}, {_WF_Y2})
), per AS (
  SELECT n_name,
         sum(CASE WHEN yr = {_WF_Y1} THEN p ELSE 0 END) AS rev_y1,
         sum(CASE WHEN yr = {_WF_Y2} THEN p ELSE 0 END) AS rev_y2
  FROM j GROUP BY n_name
), deltas AS (
  SELECT n_name,
         round(CAST(rev_y1 AS DOUBLE), 2) AS rev_1996,
         round(CAST(rev_y2 AS DOUBLE), 2) AS rev_1997,
         rev_y2 - rev_y1 AS delta_dec
  FROM per
), bridged AS (
  SELECT *,
         sum(delta_dec) OVER (ORDER BY delta_dec DESC, n_name ASC
                              ROWS UNBOUNDED PRECEDING) AS cum_dec,
         sum(delta_dec) OVER () AS tot_dec
  FROM deltas
)
SELECT n_name, rev_1996, rev_1997,
       round(CAST(delta_dec AS DOUBLE), 2) AS delta,
       round(CAST(cum_dec AS DOUBLE), 2) AS cum_delta,
       round(CAST(delta_dec AS DOUBLE) / CAST(tot_dec AS DOUBLE), 6)
         AS share_of_delta
FROM bridged
"""


SPECS: dict[str, QuerySpec] = {
    "conformal_price_interval": QuerySpec(
        _q_conformal_price_interval,
        _SQL_CONFORMAL_PRICE_INTERVAL,
        "split conformal 90% intervals per priority: md5 three-way "
        "split, train-mean predictor, calibration quantile, test coverage",
    ),
    "ab_test_power_plan": QuerySpec(
        _q_ab_test_power_plan,
        _SQL_AB_TEST_POWER_PLAN,
        "two-sample power planning per segment: decimal-exact variance, "
        "1/2/5% MDE grid, required n per arm, feasibility verdict",
    ),
    "revenue_waterfall_by_nation": QuerySpec(
        _q_revenue_waterfall_by_nation,
        _SQL_REVENUE_WATERFALL_BY_NATION,
        "1996->1997 revenue waterfall per nation: decimal deltas, "
        "two-phase cumulative bridge, share of total delta",
    ),
}
