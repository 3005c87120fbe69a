"""Round-7 Granger-causality test — does yesterday's order COUNT help
predict today's revenue beyond yesterday's revenue?

``granger_causality_daily`` — the 1-lag Granger test (Granger 1969):

* restricted model:    y_t = α + β·y_{t−1}
* unrestricted model:  y_t = α + β·y_{t−1} + γ·x_{t−1}
* F = (SSR_r − SSR_u) / (SSR_u / (n − 3)), rejecting at the
  F(1, n−3) ≈ 3.84 large-sample critical value.

with y = daily revenue (cents) and x = daily order count.  The
unrestricted two-regressor fit solves the CENTERED 2×2 normal
equations by Cramer's rule (the ``ridge_closed_form_by_flag``
precedent) over exact integer moments; both SSRs are algebraic in
those same moments, so the whole test is a fixed closed form over one
moment aggregate — no iteration, no matrix library.

Adjacency via the two-phase ``global_row_number`` rank self-join over
the calendar-bounded day frame (same shape as ``durbin_watson_daily``
/ ``dickey_fuller_daily``); completes the temporal-dependence family
(ACF → Ljung–Box → DW → DF → Granger).

100 TB shape: fact scan collapses to the day frame; one rank pass, one
self-join at lag 1, one 9-moment aggregate.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.prefix_sum import global_row_number
from ..sources.tables import load_table
from . import QuerySpec


def _granger_moment_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row: ``n`` and the nine moment sums of the lag-1 design
    ``(y_t; y_{t−1}, x_{t−1})`` over the day frame ``(day, y = revenue
    cents, x = order count)`` — the global row number ranks the days and
    a rank self-join at lag 1 pairs each with its predecessor.  Products
    run in DECIMAL so the second moments are exact.  Shared with
    round8_infer's ``aic_bic_granger_compare``; DuckDB twin:
    :data:`_SQL_GRANGER_MOMENTS`."""
    orders = load_table(spark, sf_dir, "orders")
    day = (
        orders.select(
            F.to_date("o_orderdate").alias("day"),
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("yc"),
        )
        .groupBy("day")
        .agg(F.sum("yc").alias("y"), F.count(F.lit(1)).alias("x"))
    )
    ranked = global_row_number(day, [F.asc("day")], out_col="rk")
    cur = ranked.select("rk", F.col("y").alias("yt"))
    prv = ranked.select(
        (F.col("rk") + 1).alias("rk"),
        F.col("y").alias("yl"),
        F.col("x").alias("xl"),
    )
    rows = cur.join(prv, "rk")
    dec = lambda c: F.col(c).cast("decimal(19,0)")  # noqa: E731
    return rows.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("yt").alias("sy"),
        F.sum("yl").alias("sa"),
        F.sum("xl").alias("sb"),
        F.sum(dec("yl") * dec("yl")).alias("saa"),
        F.sum(dec("xl") * dec("xl")).alias("sbb"),
        F.sum(dec("yl") * dec("xl")).alias("sab"),
        F.sum(dec("yl") * dec("yt")).alias("say"),
        F.sum(dec("xl") * dec("yt")).alias("sby"),
        F.sum(dec("yt") * dec("yt")).alias("syy"),
    )


def _granger_fit() -> tuple[Column, Column, Column, Column, Column]:
    """``(n, β, γ, SSR_r, SSR_u)`` as DOUBLE expressions over
    :func:`_granger_moment_frame`: centered moments, the restricted fit
    ``SSR_r = cyy − cay²/caa`` and the unrestricted fit by Cramer's rule
    on ``[[caa, cab], [cab, cbb]]`` (the ``c`` … fit CTEs of the twin)."""
    nd = F.col("n").cast("double")
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    # centered moments
    caa = d("saa") - d("sa") * d("sa") / nd
    cbb = d("sbb") - d("sb") * d("sb") / nd
    cab = d("sab") - d("sa") * d("sb") / nd
    cay = d("say") - d("sa") * d("sy") / nd
    cby = d("sby") - d("sb") * d("sy") / nd
    cyy = d("syy") - d("sy") * d("sy") / nd
    ssr_r = cyy - cay * cay / caa
    det = caa * cbb - cab * cab
    beta = (cay * cbb - cby * cab) / det
    gamma = (caa * cby - cab * cay) / det
    ssr_u = cyy - beta * cay - gamma * cby
    return nd, beta, gamma, ssr_r, ssr_u


#: DuckDB twin of :func:`_granger_moment_frame` plus the centered
#: moments: the CTEs ``day`` … ``mom``, ``c`` (one row: n, caa, cbb,
#: cab, cay, cby, cyy), embedded after ``WITH`` by both consumers.
_SQL_GRANGER_MOMENTS = """
day AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS y,
         count(*) AS x
  FROM orders GROUP BY 1
), ranked AS (
  SELECT y, x, row_number() OVER (ORDER BY day) AS rk FROM day
), rows_ AS (
  SELECT a.y AS yt, b.y AS yl, b.x AS xl
  FROM ranked a JOIN ranked b ON a.rk = b.rk + 1
), mom AS (
  SELECT count(*) AS n, sum(yt) AS sy, sum(yl) AS sa, sum(xl) AS sb,
         sum(CAST(yl AS HUGEINT) * yl) AS saa,
         sum(CAST(xl AS HUGEINT) * xl) AS sbb,
         sum(CAST(yl AS HUGEINT) * xl) AS sab,
         sum(CAST(yl AS HUGEINT) * yt) AS say,
         sum(CAST(xl AS HUGEINT) * yt) AS sby,
         sum(CAST(yt AS HUGEINT) * yt) AS syy
  FROM rows_
), c AS (
  SELECT n,
         CAST(saa AS DOUBLE) - CAST(sa AS DOUBLE) * sa / n AS caa,
         CAST(sbb AS DOUBLE) - CAST(sb AS DOUBLE) * sb / n AS cbb,
         CAST(sab AS DOUBLE) - CAST(sa AS DOUBLE) * sb / n AS cab,
         CAST(say AS DOUBLE) - CAST(sa AS DOUBLE) * sy / n AS cay,
         CAST(sby AS DOUBLE) - CAST(sb AS DOUBLE) * sy / n AS cby,
         CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n AS cyy
  FROM mom
)"""


def _q_granger_causality_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    nd, beta, gamma, ssr_r, ssr_u = _granger_fit()
    f_stat = (ssr_r - ssr_u) / (ssr_u / (nd - 3.0))
    return _granger_moment_frame(spark, sf_dir).select(
        F.col("n").alias("n_obs"),
        F.round(beta, 6).alias("beta_lag_revenue"),
        F.round(gamma / 100.0, 6).alias("gamma_lag_orders_dollars"),
        F.round(f_stat, 6).alias("granger_f"),
        (f_stat > 3.84).alias("x_granger_causes_y_5pct"),
    )


_SQL_GRANGER_CAUSALITY_DAILY = f"""
WITH {_SQL_GRANGER_MOMENTS}, g AS (
  SELECT n, caa, cbb, cab, cay, cby, cyy,
         cyy - cay * cay / caa AS ssr_r,
         (cay * cbb - cby * cab) / (caa * cbb - cab * cab) AS beta,
         (caa * cby - cab * cay) / (caa * cbb - cab * cab) AS gamma
  FROM c
), h AS (
  SELECT n, beta, gamma, ssr_r,
         cyy - beta * cay - gamma * cby AS ssr_u
  FROM g
)
SELECT CAST(n AS BIGINT) AS n_obs,
       round(beta, 6) AS beta_lag_revenue,
       round(gamma / 100.0, 6) AS gamma_lag_orders_dollars,
       round((ssr_r - ssr_u) / (ssr_u / (n - 3.0)), 6) AS granger_f,
       (ssr_r - ssr_u) / (ssr_u / (n - 3.0)) > 3.84
         AS x_granger_causes_y_5pct
FROM h
"""


SPECS: dict[str, QuerySpec] = {
    "granger_causality_daily": QuerySpec(
        _q_granger_causality_daily,
        _SQL_GRANGER_CAUSALITY_DAILY,
        "1-lag Granger causality (order count -> revenue): restricted "
        "vs unrestricted SSR F-test, Cramer closed form over exact "
        "moments",
    ),
}
