"""Round-7 time-series / robust-estimation pack.

* ``hurst_rescaled_range_daily`` — the Hurst exponent of daily revenue
  by classical rescaled-range (R/S) analysis (Hurst 1951; Mandelbrot &
  Wallis 1969): partition the day sequence into complete blocks of
  n ∈ {16, 64, 256} days, per block compute R (range of the cumulative
  deviation-from-block-mean series) over S (population std), average
  R/S per n, and fit the log-log slope — H ≈ 0.5 for a memoryless
  series, > 0.5 for long-range dependence.  All block arithmetic runs
  on mean-cleared integers (n·yc − Σyc — exact, no division), per-block
  R/S is quantized to 1e-6 before the cross-block average, and the
  3-point slope uses 1e-6-quantized logs.
* ``theil_inequality_by_segment`` — the Theil T inequality index of
  order values within each segment, T = (1/n)·Σ (x/μ)·ln(x/μ): the
  decomposable entropy-based companion to ``gini_by_segment``.
  ln(x/μ) is quantized to integer 1e-6 units; the weighted sum
  Σ xc·ln6 runs in decimal so T is exact in both engines.
* ``huber_irls_step_exact`` — ONE iteratively-reweighted-least-squares
  step of Huber robust regression of daily revenue on day index: OLS
  fit → integer-cent residuals → scale = 1.4826·MAD (exact interpolated
  median — the Spark percentile / DuckDB quantile_cont convention match
  is pinned by ``percentile_cont_vs_disc_audit``) → Huber weights at
  c = 1.345σ quantized to 1e-6 → weighted-LS closed form from exact
  integer/decimal moments.  The robust-regression member of the
  exact-ML-twin family (same per-iteration-body policy as
  ``lr_gd_steps_exact`` / ``gmm_em_step_exact``).

100 TB shape: all three collapse the fact scan first (day frame is
calendar-bounded ~2.4k rows; Theil is one hash agg per segment); Hurst
expands the day frame by the 3-row block-size grid (broadcast) and
windows are PARTITIONED by (n, block); the IRLS step is two passes
over the day frame with 1-row fit broadcasts.

No reference counterpart; analytics extensions alongside
plans/round6_ts5.py and the exact-ML twins in plans/ml_exact.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.prefix_sum import global_row_number
from ..sources.tables import load_table
from . import QuerySpec
from .frames import SQL_DAILY_ORDER_CENTS, daily_order_cents
from .round7_stats import _residual_day_frame, _SQL_RESIDUAL_DAY_FRAME

_HURST_SIZES = (16, 64, 256)


# --------------------------------------------------------------------------
# hurst_rescaled_range_daily
# --------------------------------------------------------------------------


def _q_hurst_rescaled_range_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    day = daily_order_cents(spark, sf_dir)
    ranked = global_row_number(day, [F.asc("day")], out_col="rk")
    sizes = spark.createDataFrame([(n,) for n in _HURST_SIZES], "n int")
    expanded = ranked.crossJoin(F.broadcast(sizes)).select(
        "n",
        "rk",
        F.col("cents").alias("yc"),
        ((F.col("rk") - 1) / F.col("n")).cast("bigint").alias("blk"),
    )
    blk = expanded.groupBy("n", "blk").agg(
        F.count(F.lit(1)).alias("cnt"), F.sum("yc").alias("syc")
    )
    # complete blocks only; dev_t = n·yc_t − Σyc (mean-cleared, ×n — the
    # scale cancels in R/S), cumulative via block-partitioned window
    rows = expanded.join(
        blk.where(F.col("cnt") == F.col("n")).select("n", "blk", "syc"),
        ["n", "blk"],
    ).select(
        "n",
        "blk",
        "rk",
        (F.col("n").cast("bigint") * F.col("yc") - F.col("syc")).alias("dev"),
    )
    w = Window.partitionBy("n", "blk").orderBy("rk")
    cum = rows.withColumn("z", F.sum("dev").over(w))
    per_block = cum.groupBy("n", "blk").agg(
        (F.max("z") - F.min("z")).alias("r_sc"),
        F.sum(
            F.col("dev").cast("decimal(19,0)") * F.col("dev").cast("decimal(19,0)")
        ).alias("q"),
    )
    rs = per_block.where(F.col("q") > 0).select(
        "n",
        F.floor(
            F.col("r_sc").cast("double")
            / F.sqrt(F.col("q").cast("double") / F.col("n").cast("double"))
            * 1e6
            + 0.5
        )
        .cast("bigint")
        .alias("rs6"),
    )
    per_n = rs.groupBy("n").agg(
        F.count(F.lit(1)).alias("n_blocks"), F.sum("rs6").alias("srs6")
    )
    pts = per_n.select(
        "n",
        "n_blocks",
        (
            F.col("srs6").cast("double")
            / (F.col("n_blocks").cast("double") * 1e6)
        ).alias("mean_rs"),
        F.floor(F.log(F.col("n").cast("double")) * 1e6 + 0.5).alias("x6"),
        F.floor(
            F.log(
                F.col("srs6").cast("double")
                / (F.col("n_blocks").cast("double") * 1e6)
            )
            * 1e6
            + 0.5
        ).alias("y6"),
    )
    agg = pts.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("x6").alias("sx"),
        F.sum("y6").alias("sy"),
        F.sum(F.col("x6") * F.col("y6")).alias("sxy"),
        F.sum(F.col("x6") * F.col("x6")).alias("sxx"),
        *[
            F.round(
                F.sum(F.when(F.col("n") == n, F.col("mean_rs"))), 6
            ).alias(f"rs_{n}")
            for n in _HURST_SIZES
        ],
    )
    kd = F.col("k").cast("double")
    slope = (
        kd * F.col("sxy").cast("double")
        - F.col("sx").cast("double") * F.col("sy").cast("double")
    ) / (
        kd * F.col("sxx").cast("double")
        - F.col("sx").cast("double") * F.col("sx").cast("double")
    )
    return agg.select(
        *[f"rs_{n}" for n in _HURST_SIZES],
        F.round(slope, 6).alias("hurst_exponent"),
    )


_SQL_HURST_RESCALED_RANGE_DAILY = f"""
WITH ranked AS (
  SELECT cents AS yc, row_number() OVER (ORDER BY day) AS rk
  FROM ({SQL_DAILY_ORDER_CENTS})
), expanded AS (
  SELECT s.n, r.rk, r.yc, CAST((r.rk - 1) // s.n AS BIGINT) AS blk
  FROM ranked r CROSS JOIN (
    SELECT unnest([{", ".join(str(n) for n in _HURST_SIZES)}]) AS n) s
), blk AS (
  SELECT n, blk, count(*) AS cnt, sum(yc) AS syc
  FROM expanded GROUP BY 1, 2
), rows_ AS (
  SELECT e.n, e.blk, e.rk, CAST(e.n AS BIGINT) * e.yc - b.syc AS dev
  FROM expanded e JOIN blk b ON e.n = b.n AND e.blk = b.blk AND b.cnt = b.n
), cum AS (
  SELECT n, blk, dev,
         sum(dev) OVER (PARTITION BY n, blk ORDER BY rk) AS z
  FROM rows_
), per_block AS (
  SELECT n, blk, max(z) - min(z) AS r_sc,
         sum(CAST(dev AS HUGEINT) * dev) AS q
  FROM cum GROUP BY 1, 2
), rs AS (
  SELECT n,
         CAST(floor(CAST(r_sc AS DOUBLE)
                    / sqrt(CAST(q AS DOUBLE) / n) * 1e6 + 0.5) AS BIGINT)
           AS rs6
  FROM per_block WHERE q > 0
), per_n AS (
  SELECT n, count(*) AS n_blocks, sum(rs6) AS srs6 FROM rs GROUP BY n
), pts AS (
  SELECT n, n_blocks,
         CAST(srs6 AS DOUBLE) / (n_blocks * 1e6) AS mean_rs,
         CAST(floor(ln(CAST(n AS DOUBLE)) * 1e6 + 0.5) AS BIGINT) AS x6,
         CAST(floor(ln(CAST(srs6 AS DOUBLE) / (n_blocks * 1e6)) * 1e6 + 0.5)
              AS BIGINT) AS y6
  FROM per_n
), agg AS (
  SELECT count(*) AS k, sum(x6) AS sx, sum(y6) AS sy,
         sum(x6 * y6) AS sxy, sum(x6 * x6) AS sxx,
         {", ".join(f"round(sum(CASE WHEN n = {n} THEN mean_rs END), 6) AS rs_{n}" for n in _HURST_SIZES)}
  FROM pts
)
SELECT {", ".join(f"rs_{n}" for n in _HURST_SIZES)},
       round((CAST(k AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / (CAST(k AS DOUBLE) * CAST(sxx AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6)
         AS hurst_exponent
FROM agg
"""


# --------------------------------------------------------------------------
# theil_inequality_by_segment
# --------------------------------------------------------------------------


def _q_theil_inequality_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    base = orders.join(
        F.broadcast(customer.select("c_custkey", "c_mktsegment")),
        orders["o_custkey"] == customer["c_custkey"],
    ).select(
        F.col("c_mktsegment").alias("segment"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("xc"),
    )
    seg = base.groupBy("segment").agg(
        F.count(F.lit(1)).alias("n"), F.sum("xc").alias("sxc")
    )
    # ln(x/μ) = ln(xc·n / Σxc), quantized to 1e-6; Σ xc·ln6 in decimal
    staged = base.join(F.broadcast(seg), "segment").select(
        "segment",
        "n",
        "sxc",
        "xc",
        F.floor(
            F.log(
                (F.col("xc") * F.col("n")).cast("double")
                / F.col("sxc").cast("double")
            )
            * 1e6
            + 0.5
        )
        .cast("bigint")
        .alias("ln6"),
    )
    out = staged.groupBy("segment").agg(
        F.first("n").alias("n"),
        F.first("sxc").alias("sxc"),
        F.sum(
            F.col("xc").cast("decimal(19,0)") * F.col("ln6").cast("decimal(19,0)")
        ).alias("wsum"),
    )
    return out.select(
        "segment",
        "n",
        F.round(
            F.col("sxc").cast("double") / (100.0 * F.col("n").cast("double")), 6
        ).alias("mean_price"),
        F.round(
            F.col("wsum").cast("double") / (1e6 * F.col("sxc").cast("double")), 6
        ).alias("theil_t"),
    ).orderBy("segment")


_SQL_THEIL_INEQUALITY_BY_SEGMENT = """
WITH base AS (
  SELECT c.c_mktsegment AS segment,
         CAST(round(o.o_totalprice * 100, 0) AS BIGINT) AS xc
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
), seg AS (
  SELECT segment, count(*) AS n, sum(xc) AS sxc FROM base GROUP BY segment
), staged AS (
  SELECT b.segment, s.n, s.sxc, b.xc,
         CAST(floor(ln(CAST(b.xc * s.n AS DOUBLE) / CAST(s.sxc AS DOUBLE))
                    * 1e6 + 0.5) AS BIGINT) AS ln6
  FROM base b JOIN seg s USING (segment)
), out_ AS (
  SELECT segment, any_value(n) AS n, any_value(sxc) AS sxc,
         sum(CAST(xc AS HUGEINT) * ln6) AS wsum
  FROM staged GROUP BY segment
)
SELECT segment, CAST(n AS BIGINT) AS n,
       round(CAST(sxc AS DOUBLE) / (100.0 * n), 6) AS mean_price,
       round(CAST(wsum AS DOUBLE) / (1e6 * CAST(sxc AS DOUBLE)), 6) AS theil_t
FROM out_
ORDER BY segment
"""


# --------------------------------------------------------------------------
# huber_irls_step_exact
# --------------------------------------------------------------------------

_HUBER_K = 1.345
_MAD_CONST = 1.4826


def _q_huber_irls_step_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    resid = _residual_day_frame(spark, sf_dir)
    scale = resid.agg(
        (
            F.lit(_MAD_CONST) * F.percentile(F.abs(F.col("ec")), F.lit(0.5))
        ).alias("sigma")
    )
    weighted = resid.crossJoin(F.broadcast(scale)).select(
        "i",
        "yc",
        "a",
        "b",
        F.floor(
            F.when(
                F.abs(F.col("ec")).cast("double") <= _HUBER_K * F.col("sigma"),
                F.lit(1.0),
            ).otherwise(
                _HUBER_K * F.col("sigma") / F.abs(F.col("ec")).cast("double")
            )
            * 1e6
            + 0.5
        )
        .cast("bigint")
        .alias("w6"),
    )
    wmom = weighted.agg(
        F.count(F.lit(1)).alias("n_days"),
        F.first("a").alias("a0"),
        F.first("b").alias("b0"),
        F.sum("w6").alias("sw"),
        F.sum(F.col("w6") * F.col("i")).alias("swx"),
        F.sum(F.col("w6") * F.col("i") * F.col("i")).alias("swxx"),
        F.sum(
            F.col("w6").cast("decimal(19,0)") * F.col("yc").cast("decimal(19,0)")
        ).alias("swy"),
        F.sum(
            (F.col("w6") * F.col("i")).cast("decimal(19,0)")
            * F.col("yc").cast("decimal(19,0)")
        ).alias("swxy"),
        F.sum((F.col("w6") < 1000000).cast("bigint")).alias("n_downweighted"),
    )
    swd = F.col("sw").cast("double")
    b1 = (
        swd * F.col("swxy").cast("double")
        - F.col("swx").cast("double") * F.col("swy").cast("double")
    ) / (
        swd * F.col("swxx").cast("double")
        - F.col("swx").cast("double") * F.col("swx").cast("double")
    )
    a1 = (F.col("swy").cast("double") - b1 * F.col("swx").cast("double")) / swd
    return wmom.select(
        "n_days",
        "n_downweighted",
        F.round(F.col("a0") / 100.0, 6).alias("ols_intercept"),
        F.round(F.col("b0") / 100.0, 6).alias("ols_slope"),
        F.round(a1 / 100.0, 6).alias("huber_intercept"),
        F.round(b1 / 100.0, 6).alias("huber_slope"),
    )


_SQL_HUBER_IRLS_STEP_EXACT = (
    _SQL_RESIDUAL_DAY_FRAME
    + f"""
, scale AS (
  SELECT {_MAD_CONST} * quantile_cont(abs(ec), 0.5) AS sigma FROM resid
), weighted AS (
  SELECT r.i, r.yc, r.a, r.b,
         CAST(floor(CASE WHEN CAST(abs(r.ec) AS DOUBLE)
                              <= {_HUBER_K} * s.sigma
                         THEN 1.0
                         ELSE {_HUBER_K} * s.sigma
                              / CAST(abs(r.ec) AS DOUBLE) END * 1e6 + 0.5)
              AS BIGINT) AS w6
  FROM resid r CROSS JOIN scale s
), wmom AS (
  SELECT count(*) AS n_days,
         any_value(a) AS a0, any_value(b) AS b0,
         sum(w6) AS sw, sum(w6 * i) AS swx, sum(w6 * i * i) AS swxx,
         sum(CAST(w6 AS HUGEINT) * yc) AS swy,
         sum(CAST(w6 * i AS HUGEINT) * yc) AS swxy,
         sum(CASE WHEN w6 < 1000000 THEN 1 ELSE 0 END) AS n_downweighted
  FROM weighted
), fin AS (
  SELECT n_days, n_downweighted, a0, b0,
         (CAST(sw AS DOUBLE) * CAST(swxy AS DOUBLE)
          - CAST(swx AS DOUBLE) * CAST(swy AS DOUBLE))
         / (CAST(sw AS DOUBLE) * CAST(swxx AS DOUBLE)
            - CAST(swx AS DOUBLE) * CAST(swx AS DOUBLE)) AS b1,
         sw, swx, swy
  FROM wmom
)
SELECT CAST(n_days AS BIGINT) AS n_days,
       CAST(n_downweighted AS BIGINT) AS n_downweighted,
       round(a0 / 100.0, 6) AS ols_intercept,
       round(b0 / 100.0, 6) AS ols_slope,
       round((CAST(swy AS DOUBLE) - b1 * CAST(swx AS DOUBLE))
             / CAST(sw AS DOUBLE) / 100.0, 6) AS huber_intercept,
       round(b1 / 100.0, 6) AS huber_slope
FROM fin
"""
)


SPECS: dict[str, QuerySpec] = {
    "hurst_rescaled_range_daily": QuerySpec(
        _q_hurst_rescaled_range_daily,
        _SQL_HURST_RESCALED_RANGE_DAILY,
        "Hurst exponent of daily revenue via classical R/S analysis "
        "over complete 16/64/256-day blocks (mean-cleared integer "
        "arithmetic, block-partitioned windows, 3-point log-log slope)",
    ),
    "theil_inequality_by_segment": QuerySpec(
        _q_theil_inequality_by_segment,
        _SQL_THEIL_INEQUALITY_BY_SEGMENT,
        "Theil T inequality index of order values per segment "
        "(1e-6-quantized ln, decimal-exact weighted sum)",
    ),
    "huber_irls_step_exact": QuerySpec(
        _q_huber_irls_step_exact,
        _SQL_HUBER_IRLS_STEP_EXACT,
        "one exact IRLS step of Huber robust regression of daily "
        "revenue on day index (MAD scale, quantized weights, "
        "weighted-LS closed form)",
    ),
}
