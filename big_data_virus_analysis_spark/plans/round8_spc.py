"""Round-8 robust-stats / statistical-process-control pack.

* ``trimmed_winsorized_means`` — per-segment 10%-trimmed and
  10%-winsorized means of order value next to the raw mean.  Ranks
  come from a row_number window PARTITIONED by segment (the lint-clean
  shape), the trim cut k = floor(n/10) per segment, and every sum is
  exact integer cents — the robust-location family's answer to "is the
  segment mean a few whales or the body of the distribution".
* ``p_chart_daily_errors`` — the attribute control chart (p-chart,
  Shewhart): daily error share vs 3σ control limits around the grand
  error rate p̄, LCL clamped at 0.  CUSUM (round6_ts3) catches slow
  drifts; the p-chart catches single out-of-control days — ship both,
  like every SPC stack.  Day emitted as yyyy-MM-dd string.
* ``process_capability_orders`` — Cp / Cpk of order value against
  fixed spec limits [$1,500, $450,000] from exact cents moments
  (population σ), plus the measured out-of-spec share.  The
  manufacturing-borrowed "is the process centered and tight enough"
  summary BI tools ship as a single tile.

100 TB shape: one partial-agg day/segment frame each; the only window
is segment-partitioned; grand rates ride 1-row broadcasts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.tables import load_table
from . import QuerySpec

# --------------------------------------------------------------------------
# trimmed_winsorized_means
# --------------------------------------------------------------------------


def _q_trimmed_winsorized_means(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    base = orders.join(
        F.broadcast(customer.select("c_custkey", "c_mktsegment")),
        orders["o_custkey"] == customer["c_custkey"],
    ).select(
        F.col("c_mktsegment").alias("segment"),
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("yc"),
    )
    w = Window.partitionBy("segment").orderBy("yc", "o_orderkey")
    ranked = base.select(
        "segment", "yc", F.row_number().over(w).alias("rk")
    )
    agg = ranked.groupBy("segment").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("yc").alias("s_all"),
    )
    k = F.floor(F.col("n") / 10).cast("bigint")
    cut = agg.select("segment", "n", "s_all", k.alias("k"))
    joined = ranked.join(cut, "segment")
    stats = joined.groupBy("segment", "n", "s_all", "k").agg(
        F.sum(
            F.when(
                (F.col("rk") > F.col("k")) & (F.col("rk") <= F.col("n") - F.col("k")),
                F.col("yc"),
            )
        ).alias("s_kept"),
        F.max(F.when(F.col("rk") == F.col("k") + 1, F.col("yc"))).alias("lo_val"),
        F.max(F.when(F.col("rk") == F.col("n") - F.col("k"), F.col("yc"))).alias(
            "hi_val"
        ),
    )
    nd = F.col("n").cast("double")
    kd = F.col("k").cast("double")
    return stats.select(
        "segment",
        F.col("n").alias("n_orders"),
        F.round(F.col("s_all").cast("double") / nd / 100.0, 6).alias("raw_mean"),
        F.round(
            F.col("s_kept").cast("double") / (nd - 2.0 * kd) / 100.0, 6
        ).alias("trimmed_mean"),
        F.round(
            (
                F.col("s_kept").cast("double")
                + kd * F.col("lo_val").cast("double")
                + kd * F.col("hi_val").cast("double")
            )
            / nd
            / 100.0,
            6,
        ).alias("winsorized_mean"),
    ).orderBy("segment")


_SQL_TRIMMED_WINSORIZED_MEANS = """
WITH base AS (
  SELECT c.c_mktsegment AS segment, o.o_orderkey,
         CAST(round(o.o_totalprice * 100, 0) AS BIGINT) AS yc
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
), ranked AS (
  SELECT segment, yc,
         row_number() OVER (PARTITION BY segment ORDER BY yc, o_orderkey)
           AS rk
  FROM base
), agg AS (
  SELECT segment, count(*) AS n, sum(yc) AS s_all,
         CAST(floor(count(*) / 10.0) AS BIGINT) AS k
  FROM ranked GROUP BY segment
), stats AS (
  SELECT r.segment, a.n, a.s_all, a.k,
         sum(CASE WHEN r.rk > a.k AND r.rk <= a.n - a.k THEN r.yc END)
           AS s_kept,
         max(CASE WHEN r.rk = a.k + 1 THEN r.yc END) AS lo_val,
         max(CASE WHEN r.rk = a.n - a.k THEN r.yc END) AS hi_val
  FROM ranked r JOIN agg a USING (segment)
  GROUP BY 1, 2, 3, 4
)
SELECT segment, CAST(n AS BIGINT) AS n_orders,
       round(CAST(s_all AS DOUBLE) / n / 100.0, 6) AS raw_mean,
       round(CAST(s_kept AS DOUBLE) / (n - 2.0 * k) / 100.0, 6)
         AS trimmed_mean,
       round((CAST(s_kept AS DOUBLE) + k * CAST(lo_val AS DOUBLE)
              + k * CAST(hi_val AS DOUBLE)) / n / 100.0, 6)
         AS winsorized_mean
FROM stats
ORDER BY segment
"""


# --------------------------------------------------------------------------
# p_chart_daily_errors
# --------------------------------------------------------------------------


def _q_p_chart_daily_errors(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        F.date_format("ts", "yyyy-MM-dd").alias("day"),
        (F.col("event_type") == "error").cast("bigint").alias("err"),
    )
    daily = ev.groupBy("day").agg(
        F.count(F.lit(1)).alias("n"), F.sum("err").alias("n_err")
    )
    grand = daily.agg(
        (F.sum("n_err").cast("double") / F.sum("n").cast("double")).alias("pbar")
    )
    joined = daily.crossJoin(F.broadcast(grand))
    sigma = F.sqrt(
        F.col("pbar") * (1.0 - F.col("pbar")) / F.col("n").cast("double")
    )
    p = F.col("n_err").cast("double") / F.col("n").cast("double")
    ucl = F.col("pbar") + 3.0 * sigma
    lcl = F.greatest(F.col("pbar") - 3.0 * sigma, F.lit(0.0))
    return joined.select(
        "day",
        "n",
        "n_err",
        F.round(p, 6).alias("p"),
        F.round(F.col("pbar"), 6).alias("p_bar"),
        F.round(lcl, 6).alias("lcl"),
        F.round(ucl, 6).alias("ucl"),
        ((p > ucl) | (p < lcl)).alias("out_of_control"),
    ).orderBy("day")


_SQL_P_CHART_DAILY_ERRORS = """
WITH ev AS (
  SELECT strftime(ts, '%Y-%m-%d') AS day,
         CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS err
  FROM events
), daily AS (
  SELECT day, count(*) AS n, sum(err) AS n_err FROM ev GROUP BY 1
), grand AS (
  SELECT CAST(sum(n_err) AS DOUBLE) / sum(n) AS pbar FROM daily
), j AS (
  SELECT d.day, d.n, d.n_err, g.pbar,
         CAST(d.n_err AS DOUBLE) / d.n AS p,
         sqrt(g.pbar * (1.0 - g.pbar) / d.n) AS sg
  FROM daily d CROSS JOIN grand g
)
SELECT day, CAST(n AS BIGINT) AS n, CAST(n_err AS BIGINT) AS n_err,
       round(p, 6) AS p,
       round(pbar, 6) AS p_bar,
       round(greatest(pbar - 3.0 * sg, 0.0), 6) AS lcl,
       round(pbar + 3.0 * sg, 6) AS ucl,
       (p > pbar + 3.0 * sg OR p < greatest(pbar - 3.0 * sg, 0.0))
         AS out_of_control
FROM j
ORDER BY day
"""


# --------------------------------------------------------------------------
# process_capability_orders
# --------------------------------------------------------------------------

_LSL_CENTS = 150_000  # $1,500
_USL_CENTS = 45_000_000  # $450,000


def _q_process_capability_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select(
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("yc")
    )
    mom = orders.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("yc").alias("s1"),
        F.sum(
            F.col("yc").cast("decimal(19,0)") * F.col("yc").cast("decimal(19,0)")
        ).alias("s2"),
        F.sum(
            (
                (F.col("yc") < _LSL_CENTS) | (F.col("yc") > _USL_CENTS)
            ).cast("bigint")
        ).alias("n_out"),
    )
    n = F.col("n").cast("double")
    mu = F.col("s1").cast("double") / n
    var = F.col("s2").cast("double") / n - mu * mu
    sd = F.sqrt(var)
    cp = (_USL_CENTS - _LSL_CENTS) / (6.0 * sd)
    cpk = F.least(_USL_CENTS - mu, mu - F.lit(float(_LSL_CENTS))) / (3.0 * sd)
    return mom.select(
        F.col("n").alias("n_orders"),
        F.round(mu / 100.0, 6).alias("mean"),
        F.round(sd / 100.0, 6).alias("stddev_pop"),
        F.round(cp, 6).alias("cp"),
        F.round(cpk, 6).alias("cpk"),
        F.round(F.col("n_out").cast("double") / n, 6).alias("out_of_spec_share"),
    )


_SQL_PROCESS_CAPABILITY_ORDERS = f"""
WITH o AS (
  SELECT CAST(round(o_totalprice * 100, 0) AS BIGINT) AS yc FROM orders
), mom AS (
  SELECT count(*) AS n, sum(yc) AS s1,
         sum(CAST(yc AS HUGEINT) * yc) AS s2,
         sum(CASE WHEN yc < {_LSL_CENTS} OR yc > {_USL_CENTS}
                  THEN 1 ELSE 0 END) AS n_out
  FROM o
), g AS (
  SELECT n, n_out,
         CAST(s1 AS DOUBLE) / n AS mu,
         sqrt(CAST(s2 AS DOUBLE) / n
              - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)) AS sd
  FROM mom
)
SELECT CAST(n AS BIGINT) AS n_orders,
       round(mu / 100.0, 6) AS mean,
       round(sd / 100.0, 6) AS stddev_pop,
       round(({_USL_CENTS} - {_LSL_CENTS}) / (6.0 * sd), 6) AS cp,
       round(least({_USL_CENTS} - mu, mu - {_LSL_CENTS}.0) / (3.0 * sd), 6)
         AS cpk,
       round(CAST(n_out AS DOUBLE) / n, 6) AS out_of_spec_share
FROM g
"""


SPECS: dict[str, QuerySpec] = {
    "trimmed_winsorized_means": QuerySpec(
        _q_trimmed_winsorized_means,
        _SQL_TRIMMED_WINSORIZED_MEANS,
        "per-segment 10%-trimmed and winsorized means vs raw mean "
        "(segment-partitioned ranks, exact integer cents)",
    ),
    "p_chart_daily_errors": QuerySpec(
        _q_p_chart_daily_errors,
        _SQL_P_CHART_DAILY_ERRORS,
        "Shewhart p-chart of daily error share vs 3-sigma control "
        "limits around the grand rate (the single-day SPC complement "
        "to CUSUM)",
    ),
    "process_capability_orders": QuerySpec(
        _q_process_capability_orders,
        _SQL_PROCESS_CAPABILITY_ORDERS,
        "Cp/Cpk process capability of order value vs fixed spec limits "
        "from exact cents moments + measured out-of-spec share",
    ),
}
