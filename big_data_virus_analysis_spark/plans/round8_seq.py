"""Round-8 sequential / conformal / multivariate pack.

* ``sprt_urgent_share_drift`` — Wald's Sequential Probability Ratio
  Test walked over the calendar: daily cumulative log-likelihood ratio
  of H1 (urgent share 0.22) vs H0 (0.20) with α=β=0.05 boundaries
  ±ln(19), first boundary crossing day and verdict.  The
  sequential-analysis primitive (fixed-horizon tests are
  ``ab_conversion_ztest``'s family; SPRT stops early).  Per-day LLR
  terms quantize to 1e-6 integers before the two-phase global prefix
  sum, so the cumulative walk is exact and order-independent.
* ``conformal_interval_coverage`` — split conformal prediction: orders
  hash-split into calibration/test halves (bit 16 of the odd-multiplier
  hash — carry-propagating, unlike the low bit which reduces to
  orderkey parity; r8 ADVICE); the predictor is the
  per-segment calibration mean; the nonconformity threshold is the
  ⌈(n+1)·0.9⌉-th smallest calibration |residual| (exact order
  statistic via the two-phase global rank); report measured test
  coverage vs the 90% target.  The distribution-free uncertainty
  wrapper every production scorer ships with.
* ``mahalanobis_2d_outliers`` — top-15 (quantity, price) lineitem
  outliers by squared Mahalanobis distance from the closed-form 2×2
  covariance inverse over exact integer moments — the multivariate
  outlier rule where the two marginal z-scores both look benign.

100 TB shape: one fact scan → bounded day/segment/moment frames; the
only ranked pass is over calibration RESIDUALS (two-phase, no global
window); top-k via orderBy+limit.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.prefix_sum import global_prefix_sum, global_row_number
from ..sources.tables import load_table
from . import QuerySpec

# --------------------------------------------------------------------------
# sprt_urgent_share_drift
# --------------------------------------------------------------------------

_SPRT_P0 = 0.20
_SPRT_P1 = 0.22
_SPRT_BOUND = math.log(19.0)  # alpha = beta = 0.05


def _q_sprt_urgent_share_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    la = math.log(_SPRT_P1 / _SPRT_P0)
    lb = math.log((1.0 - _SPRT_P1) / (1.0 - _SPRT_P0))
    day = (
        orders.select(
            F.to_date("o_orderdate").alias("day"),
            (F.col("o_orderpriority") == "1-URGENT").cast("bigint").alias("u"),
        )
        .groupBy("day")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("u").alias("k"))
        .select(
            "day",
            F.floor(
                (
                    F.col("k").cast("double") * la
                    + (F.col("n") - F.col("k")).cast("double") * lb
                )
                * 1e6
                + 0.5
            )
            .cast("bigint")
            .alias("llr6"),
        )
    )
    walked = global_prefix_sum(day, "day", "llr6", out_col="cum6")
    bound6 = int(round(_SPRT_BOUND * 1e6))
    verdict = walked.agg(
        F.count(F.lit(1)).alias("n_days"),
        F.min(
            F.when(F.col("cum6") >= bound6, F.col("day"))
        ).alias("h1_cross_day"),
        F.min(
            F.when(F.col("cum6") <= -bound6, F.col("day"))
        ).alias("h0_cross_day"),
        F.max(F.when(F.col("cum6").isNotNull(), F.col("cum6"))).alias("_max6"),
        F.sum("llr6").alias("final6"),
    )
    first_h1 = F.col("h1_cross_day")
    first_h0 = F.col("h0_cross_day")
    decision = (
        F.when(
            first_h1.isNotNull()
            & (first_h0.isNull() | (first_h1 < first_h0)),
            F.lit("accept_h1"),
        )
        .when(first_h0.isNotNull(), F.lit("accept_h0"))
        .otherwise(F.lit("continue"))
    )
    cross = F.when(
        decision == "accept_h1", F.date_format(first_h1, "yyyy-MM-dd")
    ).when(decision == "accept_h0", F.date_format(first_h0, "yyyy-MM-dd"))
    return verdict.select(
        "n_days",
        decision.alias("decision"),
        cross.alias("crossing_day"),
        F.round(F.col("final6").cast("double") / 1e6, 6).alias("final_llr"),
    )


_SQL_SPRT_URGENT_SHARE_DRIFT = f"""
WITH day AS (
  SELECT CAST(o_orderdate AS DATE) AS day, count(*) AS n,
         sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS k
  FROM orders GROUP BY 1
), terms AS (
  SELECT day,
         CAST(floor((k * ln({_SPRT_P1} / {_SPRT_P0})
                     + (n - k) * ln((1.0 - {_SPRT_P1}) / (1.0 - {_SPRT_P0})))
                    * 1e6 + 0.5) AS BIGINT) AS llr6
  FROM day
), walked AS (
  SELECT day, llr6,
         sum(llr6) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS cum6
  FROM terms
), verdict AS (
  SELECT count(*) AS n_days,
         min(CASE WHEN cum6 >= {int(round(_SPRT_BOUND * 1e6))}
                  THEN day END) AS h1_cross_day,
         min(CASE WHEN cum6 <= -{int(round(_SPRT_BOUND * 1e6))}
                  THEN day END) AS h0_cross_day,
         sum(llr6) AS final6
  FROM walked
)
SELECT CAST(n_days AS BIGINT) AS n_days,
       CASE WHEN h1_cross_day IS NOT NULL
                 AND (h0_cross_day IS NULL OR h1_cross_day < h0_cross_day)
            THEN 'accept_h1'
            WHEN h0_cross_day IS NOT NULL THEN 'accept_h0'
            ELSE 'continue' END AS decision,
       CASE WHEN h1_cross_day IS NOT NULL
                 AND (h0_cross_day IS NULL OR h1_cross_day < h0_cross_day)
            THEN strftime(h1_cross_day, '%Y-%m-%d')
            WHEN h0_cross_day IS NOT NULL
            THEN strftime(h0_cross_day, '%Y-%m-%d') END AS crossing_day,
       round(CAST(final6 AS DOUBLE) / 1e6, 6) AS final_llr
FROM verdict
"""


# --------------------------------------------------------------------------
# conformal_interval_coverage
# --------------------------------------------------------------------------

_M31 = 2147483648
_CONF_ALPHA = 0.10


def _q_conformal_interval_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    base = orders.join(
        F.broadcast(customer.select("c_custkey", "c_mktsegment")),
        orders["o_custkey"] == customer["c_custkey"],
    ).select(
        "o_orderkey",
        F.col("c_mktsegment").alias("segment"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("yc"),
        # calib/test split via BIT 16 of the multiplicative hash — the
        # LOW bit of (a·k) mod 2³¹ with odd a is just k's parity (no
        # carry propagation; r8 ADVICE), a structured not pseudo-random
        # split.  A middle bit mixes carries from 17 partial products.
        (
            ((F.col("o_orderkey") * F.lit(2654435761)) % _M31).bitwiseAND(
                F.lit(65536)
            )
            == 0
        ).alias("is_calib"),
    )
    pred = (
        base.where("is_calib")
        .groupBy("segment")
        .agg(F.sum("yc").alias("s"), F.count(F.lit(1)).alias("c"))
        .select(
            "segment",
            (F.col("s").cast("double") / F.col("c").cast("double")).alias(
                "pred"
            ),
        )
    )
    scored = base.join(F.broadcast(pred), "segment").select(
        "o_orderkey",
        "is_calib",
        F.abs(F.col("yc").cast("double") - F.col("pred")).alias("score"),
    )
    calib = scored.where("is_calib")
    ranked = global_row_number(
        calib, [F.asc("score"), F.asc("o_orderkey")], out_col="r", n_col="nc"
    )
    # exact split-conformal order statistic: the ceil((n+1)(1-alpha))-th
    # smallest calibration score
    thr = ranked.where(
        F.col("r")
        == F.ceil((F.col("nc") + 1) * F.lit(1.0 - _CONF_ALPHA)).cast("bigint")
    ).select(F.col("score").alias("thr"), F.col("nc").alias("n_calib"))
    test = scored.where(~F.col("is_calib"))
    cov = test.crossJoin(F.broadcast(thr)).agg(
        F.first("n_calib").alias("n_calib"),
        F.count(F.lit(1)).alias("n_test"),
        F.round(F.first("thr") / 100.0, 6).alias("threshold_dollars"),
        F.round(
            F.sum((F.col("score") <= F.col("thr")).cast("bigint")).cast("double")
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("coverage"),
    )
    return cov.select(
        "n_calib",
        "n_test",
        "threshold_dollars",
        "coverage",
        F.lit(1.0 - _CONF_ALPHA).alias("target"),
        (F.col("coverage") >= 1.0 - _CONF_ALPHA - 0.02).alias("coverage_ok"),
    )


_SQL_CONFORMAL_INTERVAL_COVERAGE = f"""
WITH base AS (
  SELECT o.o_orderkey, c.c_mktsegment AS segment,
         CAST(round(o.o_totalprice * 100, 0) AS BIGINT) AS yc,
         (((o.o_orderkey * 2654435761) % {_M31}) & 65536) = 0 AS is_calib
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
), pred AS (
  SELECT segment, CAST(sum(yc) AS DOUBLE) / count(*) AS pred
  FROM base WHERE is_calib GROUP BY 1
), scored AS (
  SELECT b.o_orderkey, b.is_calib, abs(b.yc - p.pred) AS score
  FROM base b JOIN pred p USING (segment)
), ranked AS (
  SELECT score,
         row_number() OVER (ORDER BY score, o_orderkey) AS r,
         count(*) OVER () AS nc
  FROM scored WHERE is_calib
), thr AS (
  SELECT score AS thr, nc AS n_calib FROM ranked
  WHERE r = CAST(ceil((nc + 1) * {1.0 - _CONF_ALPHA}) AS BIGINT)
), cov AS (
  SELECT t.n_calib, count(*) AS n_test,
         round(t.thr / 100.0, 6) AS threshold_dollars,
         round(CAST(sum(CASE WHEN s.score <= t.thr THEN 1 ELSE 0 END)
                    AS DOUBLE) / count(*), 6) AS coverage
  FROM scored s CROSS JOIN thr t
  WHERE NOT s.is_calib
  GROUP BY t.n_calib, t.thr
)
SELECT CAST(n_calib AS BIGINT) AS n_calib,
       CAST(n_test AS BIGINT) AS n_test,
       threshold_dollars, coverage,
       -- bare 0.9 literal is DECIMAL(2,1) in DuckDB vs Spark's DOUBLE;
       -- the r11 oracle-type lint hard-fails decimal-vs-double outputs
       CAST({1.0 - _CONF_ALPHA} AS DOUBLE) AS target,
       coverage >= {1.0 - _CONF_ALPHA} - 0.02 AS coverage_ok
FROM cov
"""


# --------------------------------------------------------------------------
# mahalanobis_2d_outliers
# --------------------------------------------------------------------------

_MAHA_TOPK = 15


def _q_mahalanobis_2d_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        F.round("l_quantity").cast("bigint").alias("q"),
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("pc"),
    )
    dec = lambda c: F.col(c).cast("decimal(19,0)")  # noqa: E731
    mom = li.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("q").alias("sq"),
        F.sum("pc").alias("sp"),
        F.sum(dec("q") * dec("q")).alias("sqq"),
        F.sum(dec("pc") * dec("pc")).alias("spp"),
        F.sum(dec("q") * dec("pc")).alias("sqp"),
    )
    nd = F.col("n").cast("double")
    mq = F.col("sq").cast("double") / nd
    mp = F.col("sp").cast("double") / nd
    vq = F.col("sqq").cast("double") / nd - mq * mq
    vp = F.col("spp").cast("double") / nd - mp * mp
    cqp = F.col("sqp").cast("double") / nd - mq * mp
    det = vq * vp - cqp * cqp
    scaf = mom.select(
        mq.alias("mq"),
        mp.alias("mp"),
        (vp / det).alias("i11"),
        (vq / det).alias("i22"),
        (-cqp / det).alias("i12"),
    )
    joined = li.crossJoin(F.broadcast(scaf))
    dx = F.col("q").cast("double") - F.col("mq")
    dy = F.col("pc").cast("double") - F.col("mp")
    d2 = (
        dx * dx * F.col("i11")
        + 2.0 * dx * dy * F.col("i12")
        + dy * dy * F.col("i22")
    )
    return (
        joined.select(
            "l_orderkey",
            "l_linenumber",
            F.col("q").alias("quantity"),
            F.round(F.col("pc").cast("double") / 100.0, 2).alias("price"),
            F.round(d2, 6).alias("mahalanobis_sq"),
        )
        .orderBy(F.desc("mahalanobis_sq"), F.asc("l_orderkey"), F.asc("l_linenumber"))
        .limit(_MAHA_TOPK)
    )


_SQL_MAHALANOBIS_2D_OUTLIERS = f"""
WITH li AS (
  SELECT l_orderkey, l_linenumber,
         CAST(round(l_quantity, 0) AS BIGINT) AS q,
         CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS pc
  FROM lineitem
), mom AS (
  SELECT count(*) AS n, sum(q) AS sq, sum(pc) AS sp,
         sum(CAST(q AS HUGEINT) * q) AS sqq,
         sum(CAST(pc AS HUGEINT) * pc) AS spp,
         sum(CAST(q AS HUGEINT) * pc) AS sqp
  FROM li
), scaf AS (
  SELECT CAST(sq AS DOUBLE) / n AS mq,
         CAST(sp AS DOUBLE) / n AS mp,
         (CAST(spp AS DOUBLE) / n - (CAST(sp AS DOUBLE) / n)
                                     * (CAST(sp AS DOUBLE) / n))
         / ((CAST(sqq AS DOUBLE) / n - (CAST(sq AS DOUBLE) / n)
                                        * (CAST(sq AS DOUBLE) / n))
            * (CAST(spp AS DOUBLE) / n - (CAST(sp AS DOUBLE) / n)
                                          * (CAST(sp AS DOUBLE) / n))
            - (CAST(sqp AS DOUBLE) / n - (CAST(sq AS DOUBLE) / n)
                                          * (CAST(sp AS DOUBLE) / n))
              * (CAST(sqp AS DOUBLE) / n - (CAST(sq AS DOUBLE) / n)
                                            * (CAST(sp AS DOUBLE) / n)))
           AS i11,
         (CAST(sqq AS DOUBLE) / n - (CAST(sq AS DOUBLE) / n)
                                     * (CAST(sq AS DOUBLE) / n))
         / ((CAST(sqq AS DOUBLE) / n - (CAST(sq AS DOUBLE) / n)
                                        * (CAST(sq AS DOUBLE) / n))
            * (CAST(spp AS DOUBLE) / n - (CAST(sp AS DOUBLE) / n)
                                          * (CAST(sp AS DOUBLE) / n))
            - (CAST(sqp AS DOUBLE) / n - (CAST(sq AS DOUBLE) / n)
                                          * (CAST(sp AS DOUBLE) / n))
              * (CAST(sqp AS DOUBLE) / n - (CAST(sq AS DOUBLE) / n)
                                            * (CAST(sp AS DOUBLE) / n)))
           AS i22,
         -(CAST(sqp AS DOUBLE) / n - (CAST(sq AS DOUBLE) / n)
                                      * (CAST(sp AS DOUBLE) / n))
         / ((CAST(sqq AS DOUBLE) / n - (CAST(sq AS DOUBLE) / n)
                                        * (CAST(sq AS DOUBLE) / n))
            * (CAST(spp AS DOUBLE) / n - (CAST(sp AS DOUBLE) / n)
                                          * (CAST(sp AS DOUBLE) / n))
            - (CAST(sqp AS DOUBLE) / n - (CAST(sq AS DOUBLE) / n)
                                          * (CAST(sp AS DOUBLE) / n))
              * (CAST(sqp AS DOUBLE) / n - (CAST(sq AS DOUBLE) / n)
                                            * (CAST(sp AS DOUBLE) / n)))
           AS i12
  FROM mom
)
SELECT li.l_orderkey, li.l_linenumber,
       li.q AS quantity,
       round(CAST(li.pc AS DOUBLE) / 100.0, 2) AS price,
       round((li.q - s.mq) * (li.q - s.mq) * s.i11
             + 2.0 * (li.q - s.mq) * (li.pc - s.mp) * s.i12
             + (li.pc - s.mp) * (li.pc - s.mp) * s.i22, 6)
         AS mahalanobis_sq
FROM li CROSS JOIN scaf s
ORDER BY mahalanobis_sq DESC, li.l_orderkey ASC, li.l_linenumber ASC
LIMIT {_MAHA_TOPK}
"""


SPECS: dict[str, QuerySpec] = {
    "sprt_urgent_share_drift": QuerySpec(
        _q_sprt_urgent_share_drift,
        _SQL_SPRT_URGENT_SHARE_DRIFT,
        "Wald SPRT walked over the calendar (H1 urgent share 0.22 vs "
        "H0 0.20, +-ln(19) boundaries): first crossing day + verdict "
        "from an exact quantized LLR prefix sum",
    ),
    "conformal_interval_coverage": QuerySpec(
        _q_conformal_interval_coverage,
        _SQL_CONFORMAL_INTERVAL_COVERAGE,
        "split conformal prediction: hash calib/test split, exact "
        "ceil((n+1)(1-alpha)) order-statistic threshold, measured test "
        "coverage vs the 90% target",
    ),
    "mahalanobis_2d_outliers": QuerySpec(
        _q_mahalanobis_2d_outliers,
        _SQL_MAHALANOBIS_2D_OUTLIERS,
        "top-15 (quantity, price) outliers by closed-form 2x2 "
        "Mahalanobis distance over exact integer moments",
    ),
}
