"""Round-7 econ/experimentation pack — index numbers, variance
reduction, and count-model diagnostics.

* ``price_index_monthly`` — Laspeyres, Paasche, and Fisher price
  indices per month vs the first month as base: the index-number
  family BI stacks ship for "are prices rising or is the basket
  shifting".  Per (month, part) average unit prices are exact
  rationals (cents·quantity sums); the index ratios are Σ p_t·q_0 /
  Σ p_0·q_0 style sums of exact integer cross products, so every
  index value is a ratio of exact decimals.  Only parts present in
  BOTH the base month and month t enter (the matched-basket
  convention), so the three indices are well-defined at every month.
* ``cuped_variance_reduction`` — CUPED (Deng et al. 2013): per
  customer, pre-period (1995–1997) and post-period (1998+) spend;
  θ = cov(pre, post)/var(pre) from exact cents moments; report the
  variance of the adjusted metric post − θ·pre next to the raw
  variance and the reduction ratio (= 1 − ρ², algebraically — the
  identity a reviewer can check by eye).  The variance-reduction gate
  in front of ``experiment_readout_e2e``'s Welch leg.
* ``overdispersion_daily_counts`` — index of dispersion (variance /
  mean) of daily order counts per segment plus the chi-square
  dispersion statistic (n−1)·s²/x̄ — the "is Poisson plausible"
  diagnostic that decides between Poisson and negative-binomial
  models for arrival counts.  Exact integer day-count moments.

100 TB shape: all three collapse the fact scan to bounded frames
immediately (month×part matched baskets; one row per customer; one row
per segment×day), then closed-form arithmetic over exact aggregates.

No reference counterpart; BI/experimentation extensions alongside
plans/round6_bi2.py and plans/round7_e2e.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load_table
from . import QuerySpec

# --------------------------------------------------------------------------
# price_index_monthly
# --------------------------------------------------------------------------


def _q_price_index_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    # per (month, part): total cents and total quantity -> exact unit
    # price as the (cents, qty) pair; month from ship date
    mp = (
        li.select(
            F.date_format("l_shipdate", "yyyy-MM").alias("month"),
            "l_partkey",
            F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("pc"),
            F.col("l_quantity").cast("bigint").alias("q"),
        )
        .groupBy("month", "l_partkey")
        .agg(F.sum("pc").alias("spc"), F.sum("q").alias("sq"))
    )
    base_month = mp.agg(F.min("month").alias("m0"))
    base = (
        mp.join(F.broadcast(base_month), mp["month"] == F.col("m0"))
        .select(
            "l_partkey",
            F.col("spc").alias("spc0"),
            F.col("sq").alias("sq0"),
        )
    )
    # matched basket: parts present in both month t and the base month.
    # Laspeyres_t = Σ p_t q_0 / Σ p_0 q_0 with p = spc/sq; clearing
    # denominators per part keeps everything integer-exact:
    # p_t·q_0 = (spc_t/sq_t)·sq_0  ->  term = spc_t·sq0 / sq_t (double
    # per part from exact ints, quantized at 1e-6 before the sum)
    joined = mp.join(F.broadcast(base), "l_partkey").select(
        "month",
        F.floor(
            F.col("spc").cast("double") * F.col("sq0").cast("double")
            / F.col("sq").cast("double")
            * 1e6
            + 0.5
        )
        .cast("bigint")
        .alias("pt_q0_6"),
        F.col("spc0").alias("p0_q0_num"),  # spc0 = p_0·q_0 exactly
        F.floor(
            F.col("spc").cast("double") * F.col("sq").cast("double")
            / F.col("sq").cast("double")
            * 1e6
            + 0.5
        )
        .cast("bigint")
        .alias("pt_qt_6"),
        F.floor(
            F.col("spc0").cast("double") * F.col("sq").cast("double")
            / F.col("sq0").cast("double")
            * 1e6
            + 0.5
        )
        .cast("bigint")
        .alias("p0_qt_6"),
    )
    agg = joined.groupBy("month").agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.sum("pt_q0_6").alias("l_num"),
        F.sum("p0_q0_num").alias("l_den"),
        F.sum("pt_qt_6").alias("p_num"),
        F.sum("p0_qt_6").alias("p_den"),
    )
    lasp = F.col("l_num").cast("double") / (F.col("l_den").cast("double") * 1e6)
    paas = F.col("p_num").cast("double") / F.col("p_den").cast("double")
    return agg.select(
        "month",
        "n_parts",
        F.round(lasp, 6).alias("laspeyres"),
        F.round(paas, 6).alias("paasche"),
        F.round(F.sqrt(lasp * paas), 6).alias("fisher"),
    ).orderBy("month")


_SQL_PRICE_INDEX_MONTHLY = """
WITH mp AS (
  SELECT strftime(CAST(l_shipdate AS DATE), '%Y-%m') AS month,
         l_partkey,
         sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS spc,
         sum(CAST(l_quantity AS BIGINT)) AS sq
  FROM lineitem
  GROUP BY 1, 2
), base_month AS (
  SELECT min(month) AS m0 FROM mp
), base AS (
  SELECT l_partkey, spc AS spc0, sq AS sq0
  FROM mp JOIN base_month ON month = m0
), joined AS (
  SELECT m.month,
         CAST(floor(CAST(m.spc AS DOUBLE) * b.sq0 / m.sq * 1e6 + 0.5)
              AS BIGINT) AS pt_q0_6,
         b.spc0 AS p0_q0_num,
         CAST(floor(CAST(m.spc AS DOUBLE) * m.sq / m.sq * 1e6 + 0.5)
              AS BIGINT) AS pt_qt_6,
         CAST(floor(CAST(b.spc0 AS DOUBLE) * m.sq / b.sq0 * 1e6 + 0.5)
              AS BIGINT) AS p0_qt_6
  FROM mp m JOIN base b USING (l_partkey)
), agg AS (
  SELECT month, CAST(count(*) AS BIGINT) AS n_parts,
         sum(pt_q0_6) AS l_num, sum(p0_q0_num) AS l_den,
         sum(pt_qt_6) AS p_num, sum(p0_qt_6) AS p_den
  FROM joined GROUP BY month
)
SELECT month, n_parts,
       round(CAST(l_num AS DOUBLE) / (CAST(l_den AS DOUBLE) * 1e6), 6)
         AS laspeyres,
       round(CAST(p_num AS DOUBLE) / CAST(p_den AS DOUBLE), 6) AS paasche,
       round(sqrt((CAST(l_num AS DOUBLE) / (CAST(l_den AS DOUBLE) * 1e6))
                  * (CAST(p_num AS DOUBLE) / CAST(p_den AS DOUBLE))), 6)
         AS fisher
FROM agg
ORDER BY month
"""


# --------------------------------------------------------------------------
# cuped_variance_reduction
# --------------------------------------------------------------------------

_PRE_END = "1998-01-01"


def _q_cuped_variance_reduction(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    per_cust = orders.groupBy("o_custkey").agg(
        F.sum(
            F.when(
                F.col("o_orderdate") < F.lit(_PRE_END).cast("timestamp"),
                F.round(F.col("o_totalprice") * 100).cast("bigint"),
            ).otherwise(F.lit(0))
        ).alias("pre"),
        F.sum(
            F.when(
                F.col("o_orderdate") >= F.lit(_PRE_END).cast("timestamp"),
                F.round(F.col("o_totalprice") * 100).cast("bigint"),
            ).otherwise(F.lit(0))
        ).alias("post"),
    )
    mom = per_cust.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("pre").alias("sx"),
        F.sum("post").alias("sy"),
        F.sum(
            F.col("pre").cast("decimal(19,0)") * F.col("pre").cast("decimal(19,0)")
        ).alias("sxx"),
        F.sum(
            F.col("post").cast("decimal(19,0)") * F.col("post").cast("decimal(19,0)")
        ).alias("syy"),
        F.sum(
            F.col("pre").cast("decimal(19,0)") * F.col("post").cast("decimal(19,0)")
        ).alias("sxy"),
    )
    nd = F.col("n").cast("double")
    # population (co)variances in dollars² from exact cents moments
    vx = (
        F.col("sxx").cast("double") - F.col("sx").cast("double") ** 2 / nd
    ) / (nd * 10000.0)
    vy = (
        F.col("syy").cast("double") - F.col("sy").cast("double") ** 2 / nd
    ) / (nd * 10000.0)
    cxy = (
        F.col("sxy").cast("double")
        - F.col("sx").cast("double") * F.col("sy").cast("double") / nd
    ) / (nd * 10000.0)
    theta = cxy / vx
    v_adj = vy - cxy * cxy / vx  # var(post − θ·pre), algebraically
    return mom.select(
        F.col("n").alias("n_customers"),
        F.round(theta, 6).alias("theta"),
        F.round(vy, 6).alias("var_raw"),
        F.round(v_adj, 6).alias("var_cuped"),
        F.round(1.0 - v_adj / vy, 6).alias("variance_reduction"),
        F.round(cxy / F.sqrt(vx * vy), 6).alias("pre_post_corr"),
    )


_SQL_CUPED_VARIANCE_REDUCTION = f"""
WITH per_cust AS (
  SELECT o_custkey,
         sum(CASE WHEN o_orderdate < TIMESTAMP '{_PRE_END} 00:00:00'
                  THEN CAST(round(o_totalprice * 100, 0) AS BIGINT)
                  ELSE 0 END) AS pre,
         sum(CASE WHEN o_orderdate >= TIMESTAMP '{_PRE_END} 00:00:00'
                  THEN CAST(round(o_totalprice * 100, 0) AS BIGINT)
                  ELSE 0 END) AS post
  FROM orders GROUP BY o_custkey
), mom AS (
  SELECT count(*) AS n, sum(pre) AS sx, sum(post) AS sy,
         sum(CAST(pre AS HUGEINT) * pre) AS sxx,
         sum(CAST(post AS HUGEINT) * post) AS syy,
         sum(CAST(pre AS HUGEINT) * post) AS sxy
  FROM per_cust
), g AS (
  SELECT n,
         (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n)
           / (CAST(n AS DOUBLE) * 10000.0) AS vx,
         (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n)
           / (CAST(n AS DOUBLE) * 10000.0) AS vy,
         (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n)
           / (CAST(n AS DOUBLE) * 10000.0) AS cxy
  FROM mom
)
SELECT CAST(n AS BIGINT) AS n_customers,
       round(cxy / vx, 6) AS theta,
       round(vy, 6) AS var_raw,
       round(vy - cxy * cxy / vx, 6) AS var_cuped,
       round(1.0 - (vy - cxy * cxy / vx) / vy, 6) AS variance_reduction,
       round(cxy / sqrt(vx * vy), 6) AS pre_post_corr
FROM g
"""


# --------------------------------------------------------------------------
# overdispersion_daily_counts
# --------------------------------------------------------------------------


def _q_overdispersion_daily_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    day = (
        orders.join(
            F.broadcast(customer.select("c_custkey", "c_mktsegment")),
            orders["o_custkey"] == customer["c_custkey"],
        )
        .groupBy(
            F.col("c_mktsegment").alias("segment"),
            F.to_date("o_orderdate").alias("day"),
        )
        .agg(F.count(F.lit(1)).alias("c"))
    )
    mom = day.groupBy("segment").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("c").alias("sc"),
        F.sum(F.col("c") * F.col("c")).alias("scc"),
    )
    nd = F.col("n_days").cast("double")
    mean = F.col("sc").cast("double") / nd
    var = (F.col("scc").cast("double") - F.col("sc").cast("double") ** 2 / nd) / (
        nd - 1.0
    )
    return mom.select(
        "segment",
        "n_days",
        F.round(mean, 6).alias("mean_daily"),
        F.round(var, 6).alias("var_daily"),
        F.round(var / mean, 6).alias("dispersion_index"),
        F.round((nd - 1.0) * var / mean, 6).alias("chi2_dispersion"),
    ).orderBy("segment")


_SQL_OVERDISPERSION_DAILY_COUNTS = """
WITH day AS (
  SELECT c.c_mktsegment AS segment, CAST(o.o_orderdate AS DATE) AS day,
         count(*) AS c
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY 1, 2
), mom AS (
  SELECT segment, count(*) AS n_days, sum(c) AS sc, sum(c * c) AS scc
  FROM day GROUP BY segment
)
SELECT segment, CAST(n_days AS BIGINT) AS n_days,
       round(CAST(sc AS DOUBLE) / n_days, 6) AS mean_daily,
       round((CAST(scc AS DOUBLE) - CAST(sc AS DOUBLE) * sc / n_days)
             / (n_days - 1.0), 6) AS var_daily,
       round(((CAST(scc AS DOUBLE) - CAST(sc AS DOUBLE) * sc / n_days)
              / (n_days - 1.0)) / (CAST(sc AS DOUBLE) / n_days), 6)
         AS dispersion_index,
       round((n_days - 1.0)
             * ((CAST(scc AS DOUBLE) - CAST(sc AS DOUBLE) * sc / n_days)
                / (n_days - 1.0)) / (CAST(sc AS DOUBLE) / n_days), 6)
         AS chi2_dispersion
FROM mom
ORDER BY segment
"""


SPECS: dict[str, QuerySpec] = {
    "price_index_monthly": QuerySpec(
        _q_price_index_monthly,
        _SQL_PRICE_INDEX_MONTHLY,
        "Laspeyres / Paasche / Fisher price indices per month vs the "
        "base month over the matched part basket (exact integer cross "
        "products, quantized per-part terms)",
    ),
    "cuped_variance_reduction": QuerySpec(
        _q_cuped_variance_reduction,
        _SQL_CUPED_VARIANCE_REDUCTION,
        "CUPED theta and variance-reduction ratio from exact pre/post "
        "spend moments per customer (Deng 2013)",
    ),
    "overdispersion_daily_counts": QuerySpec(
        _q_overdispersion_daily_counts,
        _SQL_OVERDISPERSION_DAILY_COUNTS,
        "index of dispersion + chi-square dispersion statistic of "
        "daily order counts per segment (Poisson-vs-NB diagnostic)",
    ),
}
