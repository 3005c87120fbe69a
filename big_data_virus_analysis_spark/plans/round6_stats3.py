"""Round-6 stats pack 3 — robust trend, seasonal decomposition, and
two classic model-diagnostics queries, all exact-oracle.

* ``theil_sen_daily_revenue`` — Theil–Sen robust trend estimate of the
  1996 daily-revenue series: the median over all day-pair slopes
  (Sen 1968), next to the closed-form OLS slope for contrast.  The
  pair frame is CALENDAR-bounded (≤366 observed days ⇒ ≤66.8k pairs —
  it does not grow with row count, only with the date window), and the
  median is located with the two-phase ``global_row_number`` rank (no
  unpartitioned window).  All sums run over exact DECIMAL(18,2)
  revenue; the only double ops are the per-pair slope division and the
  final rounding — identical IEEE in both engines.

* ``seasonal_decompose_dow`` — classical additive decomposition of the
  same series: trend = centered 7-day moving sum / 7 (full windows
  only, over OBSERVED days), seasonal = per-day-of-week mean of the
  detrended series, reported with each weekday's day count and mean
  revenue.  Day-of-week is computed as ``datediff(day, 1996-01-01) %
  7`` (0 = Monday) — engine-agnostic, no dayofweek() convention
  mismatch.  The day frame is calendar-bounded (≤366 rows), so its
  global MA window is in the plan-lint bounded-frame allowlist.

* ``woe_iv_price_bins`` — weight-of-evidence / information-value
  binning (the standard credit-scoring feature diagnostic): orders
  ranked into 10 exact deciles of ``o_totalprice`` via the two-phase
  global rank + ``ntile_from_rank`` (no global ntile window), event =
  ``o_orderstatus = 'F'``; per-bin WOE = ln((bad_i/bad_tot)/
  (good_i/good_tot)) and the IV term.  Bin totals reach the per-bin
  rows through a 1-row aggregate broadcast, not a second scan.

* ``brier_decomposition_fixed`` — Murphy (1973) decomposition of the
  Brier score (reliability − resolution + uncertainty) for the
  deterministic linear scorer shared with ``fixed_scorer_auc``
  (`plans/ml_exact.py`), min-max calibrated to [0,1] and bucketed into
  10 equal-width probability bins.  Per-row squared errors and
  calibrated probabilities go through DECIMAL before summation so the
  accumulation is order-independent; the decomposition identity is
  reported as a residual column (≈0) rather than assumed.

No reference counterpart; these extend the statistics family
(`plans/statistics.py`, `plans/round5_stats2.py`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.prefix_sum import global_row_number, ntile_from_rank
from ..operators.similarity import DIM, _plane_weight
from ..sources.tables import load_table
from . import QuerySpec

_YEAR = 1996
_EPOCH = f"{_YEAR}-01-01"  # a Monday: datediff % 7 == 0 -> Monday


def _daily_rev(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(day, x = day index from Jan 1, rev DECIMAL(18,2)) for _YEAR."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.where(F.year("o_orderdate") == _YEAR)
        .select(
            F.to_date("o_orderdate").alias("day"),
            F.col("o_totalprice").cast("decimal(18,2)").alias("p"),
        )
        .groupBy("day")
        .agg(F.sum("p").alias("rev"))
        .select(
            "day",
            F.datediff("day", F.lit(_EPOCH).cast("date")).alias("x"),
            "rev",
        )
    )


_SQL_DAILY_REV = f"""
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         datediff('day', DATE '{_EPOCH}', CAST(o_orderdate AS DATE)) AS x,
         sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
  FROM orders
  WHERE year(o_orderdate) = {_YEAR}
  GROUP BY 1, 2
)"""


# --------------------------------------------------------------------------
# theil_sen_daily_revenue
# --------------------------------------------------------------------------


def _q_theil_sen_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = _daily_rev(spark, sf_dir)
    a, b = daily.alias("a"), daily.alias("b")
    pairs = (
        a.join(b, F.col("a.x") < F.col("b.x"))
        .select(
            F.col("a.x").alias("xi"),
            F.col("b.x").alias("xj"),
            F.round(
                (F.col("b.rev") - F.col("a.rev")).cast("double")
                / (F.col("b.x") - F.col("a.x")).cast("double"),
                9,
            ).alias("slope9"),
        )
    )
    ranked = global_row_number(
        pairs, [F.asc("slope9"), F.asc("xi"), F.asc("xj")], n_col="n_pairs"
    )
    lo = F.floor((F.col("n_pairs") + 1) / 2)
    hi = F.floor(F.col("n_pairs") / 2) + 1
    med = (
        ranked.where((F.col("rn") == lo) | (F.col("rn") == hi))
        .agg(
            F.round(F.avg("slope9"), 6).alias("theil_sen_slope"),
            F.first(F.col("n_pairs")).alias("n_pairs"),
        )
    )
    stats = daily.agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum(F.col("x").cast("bigint")).alias("sx"),
        F.sum(F.col("x").cast("bigint") * F.col("x")).alias("sxx"),
        F.sum("rev").alias("sy"),
        F.sum(F.col("rev") * F.col("x")).alias("sxy"),
    )
    ols = stats.select(
        "n_days",
        F.round(
            (
                F.col("n_days") * F.col("sxy") - F.col("sx") * F.col("sy")
            ).cast("double")
            / (
                F.col("n_days") * F.col("sxx") - F.col("sx") * F.col("sx")
            ).cast("double"),
            6,
        ).alias("ols_slope"),
    )
    return ols.crossJoin(F.broadcast(med)).select(
        "n_days", "n_pairs", "theil_sen_slope", "ols_slope"
    )


_SQL_THEIL_SEN_DAILY_REVENUE = (
    _SQL_DAILY_REV
    + """, pairs AS (
  SELECT a.x AS xi, b.x AS xj,
         round(CAST(b.rev - a.rev AS DOUBLE) / CAST(b.x - a.x AS DOUBLE), 9)
           AS slope9
  FROM daily a JOIN daily b ON a.x < b.x
), ranked AS (
  SELECT slope9,
         row_number() OVER (ORDER BY slope9 ASC, xi ASC, xj ASC) AS rn,
         count(*) OVER () AS n_pairs
  FROM pairs
), med AS (
  SELECT round(avg(slope9), 6) AS theil_sen_slope,
         CAST(max(n_pairs) AS BIGINT) AS n_pairs
  FROM ranked
  WHERE rn = (n_pairs + 1) // 2 OR rn = n_pairs // 2 + 1
), stats AS (
  SELECT CAST(count(*) AS BIGINT) AS n_days,
         CAST(sum(x) AS BIGINT) AS sx,
         CAST(sum(CAST(x AS BIGINT) * x) AS BIGINT) AS sxx,
         sum(rev) AS sy,
         sum(rev * x) AS sxy
  FROM daily
)
SELECT n_days, n_pairs,
       theil_sen_slope,
       round(CAST(n_days * sxy - sx * sy AS DOUBLE)
             / CAST(n_days * sxx - sx * sx AS DOUBLE), 6) AS ols_slope
FROM stats CROSS JOIN med
"""
)


# --------------------------------------------------------------------------
# seasonal_decompose_dow
# --------------------------------------------------------------------------

_MA_HALF = 3  # centered 7-day window


def _q_seasonal_decompose_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    daily = _daily_rev(spark, sf_dir)
    # calendar-bounded global window (<=366 day-grain rows; lint
    # allowlist): centered 7-row moving sum over observed days
    w = (
        Window.orderBy("x").rowsBetween(-_MA_HALF, _MA_HALF)
    )
    ma = daily.select(
        "x",
        "rev",
        F.sum("rev").over(w).alias("msum"),
        F.count(F.lit(1)).over(w).alias("mcnt"),
    )
    detr = ma.where(F.col("mcnt") == 2 * _MA_HALF + 1).select(
        (F.col("x") % 7).alias("dow"),
        F.col("rev").cast("double").alias("revd"),
        F.round(
            F.col("rev").cast("double") - F.col("msum").cast("double") / 7.0, 6
        )
        .cast("decimal(18,6)")
        .alias("det"),
    )
    return (
        detr.groupBy("dow")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.round(
                F.sum("det").cast("double") / F.count(F.lit(1)), 6
            ).alias("seasonal"),
            F.round(F.avg("revd"), 6).alias("mean_rev"),
        )
        .select(F.col("dow").cast("int").alias("dow"), "n_days", "seasonal", "mean_rev")
    )


_SQL_SEASONAL_DECOMPOSE_DOW = (
    _SQL_DAILY_REV
    + f""", ma AS (
  SELECT x, rev,
         sum(rev) OVER (ORDER BY x ROWS BETWEEN {_MA_HALF} PRECEDING
                        AND {_MA_HALF} FOLLOWING) AS msum,
         count(*) OVER (ORDER BY x ROWS BETWEEN {_MA_HALF} PRECEDING
                        AND {_MA_HALF} FOLLOWING) AS mcnt
  FROM daily
), detr AS (
  SELECT x % 7 AS dow,
         CAST(rev AS DOUBLE) AS revd,
         CAST(round(CAST(rev AS DOUBLE) - CAST(msum AS DOUBLE) / 7.0, 6)
              AS DECIMAL(18,6)) AS det
  FROM ma WHERE mcnt = {2 * _MA_HALF + 1}
)
SELECT CAST(dow AS INT) AS dow,
       count(*) AS n_days,
       round(CAST(sum(det) AS DOUBLE) / count(*), 6) AS seasonal,
       round(avg(revd), 6) AS mean_rev
FROM detr GROUP BY dow
"""
)


# --------------------------------------------------------------------------
# woe_iv_price_bins
# --------------------------------------------------------------------------

_WOE_BINS = 10


def _q_woe_iv_price_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    base = orders.select(
        "o_totalprice",
        "o_orderkey",
        (F.col("o_orderstatus") == "F").cast("bigint").alias("bad"),
    )
    ranked = global_row_number(
        base, [F.asc("o_totalprice"), F.asc("o_orderkey")], n_col="n"
    )
    binned = ranked.select(
        ntile_from_rank(F.col("rn"), F.col("n"), _WOE_BINS).alias("bin"),
        "bad",
    )
    per_bin = binned.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("bad").alias("n_bad"),
        (F.count(F.lit(1)) - F.sum("bad")).alias("n_good"),
    )
    totals = binned.agg(
        F.sum("bad").alias("bad_tot"),
        (F.count(F.lit(1)) - F.sum("bad")).alias("good_tot"),
    )
    joined = per_bin.crossJoin(F.broadcast(totals))
    bad_r = F.col("n_bad").cast("double") / F.col("bad_tot").cast("double")
    good_r = F.col("n_good").cast("double") / F.col("good_tot").cast("double")
    woe = F.log(bad_r / good_r)
    return joined.select(
        F.col("bin").cast("int").alias("bin"),
        "n",
        "n_bad",
        "n_good",
        F.round(woe, 6).alias("woe"),
        F.round((bad_r - good_r) * woe, 6).alias("iv_term"),
    )


_SQL_WOE_IV_PRICE_BINS = f"""
WITH base AS (
  SELECT o_totalprice, o_orderkey,
         CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS bad
  FROM orders
), binned AS (
  SELECT ntile({_WOE_BINS}) OVER (ORDER BY o_totalprice ASC, o_orderkey ASC)
           AS bin,
         bad
  FROM base
), per_bin AS (
  SELECT bin, count(*) AS n, sum(bad) AS n_bad,
         count(*) - sum(bad) AS n_good
  FROM binned GROUP BY bin
), totals AS (
  SELECT sum(bad) AS bad_tot, count(*) - sum(bad) AS good_tot FROM binned
)
SELECT CAST(bin AS INT) AS bin,
       CAST(n AS BIGINT) AS n,
       CAST(n_bad AS BIGINT) AS n_bad,
       CAST(n_good AS BIGINT) AS n_good,
       round(ln((CAST(n_bad AS DOUBLE) / bad_tot)
                / (CAST(n_good AS DOUBLE) / good_tot)), 6) AS woe,
       round((CAST(n_bad AS DOUBLE) / bad_tot
              - CAST(n_good AS DOUBLE) / good_tot)
             * ln((CAST(n_bad AS DOUBLE) / bad_tot)
                  / (CAST(n_good AS DOUBLE) / good_tot)), 6) AS iv_term
FROM per_bin CROSS JOIN totals
"""


# --------------------------------------------------------------------------
# brier_decomposition_fixed
# --------------------------------------------------------------------------

_BRIER_BINS = 10


def _q_brier_decomposition_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    plane = F.array(*[F.lit(_plane_weight(0, d)) for d in range(DIM)])
    score = F.round(
        F.aggregate(
            F.zip_with(F.col("embedding"), plane, lambda x, wt: x.cast("double") * wt),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ),
        6,
    )
    scored = emb.select(
        score.alias("s"), (F.col("label") < 5).cast("bigint").alias("y")
    )
    rng = scored.agg(F.min("s").alias("smin"), F.max("s").alias("smax"))
    cal = scored.crossJoin(F.broadcast(rng)).select(
        F.round(
            (F.col("s") - F.col("smin")) / (F.col("smax") - F.col("smin")), 6
        ).alias("p"),
        "y",
    )
    rows = cal.select(
        F.least(F.floor(F.col("p") * _BRIER_BINS), F.lit(_BRIER_BINS - 1))
        .cast("int")
        .alias("bin"),
        F.col("p").cast("decimal(18,6)").alias("pd"),
        "y",
        F.round((F.col("p") - F.col("y")) * (F.col("p") - F.col("y")), 12)
        .cast("decimal(28,12)")
        .alias("sq"),
    )
    per_bin = rows.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n_k"),
        F.sum("pd").alias("sp_k"),
        F.sum("y").alias("sy_k"),
    )
    tot = rows.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("sq").alias("ssq"),
        F.sum("y").alias("sy"),
    )
    j = per_bin.crossJoin(F.broadcast(tot))
    pbar = F.col("sp_k").cast("double") / F.col("n_k")
    obar_k = F.col("sy_k").cast("double") / F.col("n_k")
    obar = F.col("sy").cast("double") / F.col("n")
    terms = j.select(
        "n",
        "ssq",
        "sy",
        (F.col("n_k") * (pbar - obar_k) * (pbar - obar_k)).alias("rel_t"),
        (F.col("n_k") * (obar_k - obar) * (obar_k - obar)).alias("res_t"),
    )
    out = terms.groupBy("n", "ssq", "sy").agg(
        F.sum("rel_t").alias("rel_s"), F.sum("res_t").alias("res_s")
    )
    brier = F.col("ssq").cast("double") / F.col("n")
    rel = F.col("rel_s") / F.col("n")
    res = F.col("res_s") / F.col("n")
    unc = (F.col("sy").cast("double") / F.col("n")) * (
        1.0 - F.col("sy").cast("double") / F.col("n")
    )
    return out.select(
        "n",
        F.round(brier, 6).alias("brier"),
        F.round(rel, 6).alias("reliability"),
        F.round(res, 6).alias("resolution"),
        F.round(unc, 6).alias("uncertainty"),
        F.round(brier - (rel - res + unc), 6).alias("identity_gap"),
    )


_W_VALUES = ", ".join(f"({d + 1}, {_plane_weight(0, d)!r})" for d in range(DIM))

_SQL_BRIER_DECOMPOSITION_FIXED = f"""
WITH w(i, wt) AS (VALUES {_W_VALUES}),
elems AS (
  SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS x
  FROM embeddings CROSS JOIN (SELECT unnest(generate_series(1, {DIM})) AS i)
), scored AS (
  SELECT e.vec_id, round(sum(e.x * w.wt), 6) AS s,
         CASE WHEN l.label < 5 THEN 1 ELSE 0 END AS y
  FROM elems e JOIN w USING (i) JOIN embeddings l ON e.vec_id = l.vec_id
  GROUP BY e.vec_id, l.label
), rng AS (
  SELECT min(s) AS smin, max(s) AS smax FROM scored
), cal AS (
  SELECT round((s - smin) / (smax - smin), 6) AS p, y
  FROM scored CROSS JOIN rng
), rows_ AS (
  SELECT CAST(least(floor(p * {_BRIER_BINS}), {_BRIER_BINS - 1}) AS INT) AS bin,
         CAST(p AS DECIMAL(18,6)) AS pd,
         y,
         CAST(round((p - y) * (p - y), 12) AS DECIMAL(28,12)) AS sq
  FROM cal
), per_bin AS (
  SELECT bin, count(*) AS n_k, sum(pd) AS sp_k, sum(y) AS sy_k
  FROM rows_ GROUP BY bin
), tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n, sum(sq) AS ssq,
         CAST(sum(y) AS BIGINT) AS sy
  FROM rows_
), terms AS (
  SELECT n, ssq, sy,
         n_k * pow(CAST(sp_k AS DOUBLE) / n_k
                   - CAST(sy_k AS DOUBLE) / n_k, 2) AS rel_t,
         n_k * pow(CAST(sy_k AS DOUBLE) / n_k
                   - CAST(sy AS DOUBLE) / n, 2) AS res_t
  FROM per_bin CROSS JOIN tot
), agg AS (
  SELECT n, ssq, sy, sum(rel_t) AS rel_s, sum(res_t) AS res_s
  FROM terms GROUP BY n, ssq, sy
)
SELECT n,
       round(CAST(ssq AS DOUBLE) / n, 6) AS brier,
       round(rel_s / n, 6) AS reliability,
       round(res_s / n, 6) AS resolution,
       round((CAST(sy AS DOUBLE) / n) * (1.0 - CAST(sy AS DOUBLE) / n), 6)
         AS uncertainty,
       round(CAST(ssq AS DOUBLE) / n
             - (rel_s / n - res_s / n
                + (CAST(sy AS DOUBLE) / n) * (1.0 - CAST(sy AS DOUBLE) / n)),
             6) AS identity_gap
FROM agg
"""


SPECS: dict[str, QuerySpec] = {
    "theil_sen_daily_revenue": QuerySpec(
        _q_theil_sen_daily_revenue,
        _SQL_THEIL_SEN_DAILY_REVENUE,
        "Theil-Sen median pair-slope of 1996 daily revenue (two-phase "
        "rank median over the calendar-bounded pair frame) vs OLS",
    ),
    "seasonal_decompose_dow": QuerySpec(
        _q_seasonal_decompose_dow,
        _SQL_SEASONAL_DECOMPOSE_DOW,
        "additive seasonal decomposition: centered 7-day MA trend, "
        "per-day-of-week seasonal means over the 1996 daily series",
    ),
    "woe_iv_price_bins": QuerySpec(
        _q_woe_iv_price_bins,
        _SQL_WOE_IV_PRICE_BINS,
        "weight-of-evidence / information-value deciles of order "
        "totalprice against order status F (two-phase exact ntile)",
    ),
    "brier_decomposition_fixed": QuerySpec(
        _q_brier_decomposition_fixed,
        _SQL_BRIER_DECOMPOSITION_FIXED,
        "Murphy decomposition of the fixed linear scorer's Brier score "
        "(reliability/resolution/uncertainty + identity residual)",
    ),
}
