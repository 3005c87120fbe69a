"""Round-9 distribution-distance pack: exact two-sample distances and
rank tests the drift/quality family lacked (PSI/KL/JS/KS compare BINNED
or sup-norm views; these are the integral/rank statistics).

* ``wasserstein_1d_price_periods`` — exact 1-Wasserstein (earth-mover)
  distance between the 1995 and 1996 order-price distributions:
  W₁ = ∫|F₁−F₂| dx, computed EXACTLY as Σ_v |c₁(v)·n₂ − c₂(v)·n₁| ·
  (v_next − v) / (n₁·n₂) over the distinct cent values — cumulative
  counts from one two-phase ``global_prefix_sum`` (totals attached, no
  second pass), consecutive values paired by a rank self-join (the
  durbin_watson discipline: no global window, no lead()).  Numerators
  are DECIMAL(38,0)/HUGEINT — c·n reaches ~2e10 at sf0.1 and the Δv
  product passes int64 at sf1.
* ``cramer_von_mises_two_sample`` — the two-sample Cramér–von Mises
  statistic in Anderson's integral form T = n₁n₂/(n₁+n₂)² ·
  Σ_v cnt_v·(F₁(v)−F₂(v))², which is tie-robust by construction and
  needs only the same per-value cumulative counts (no per-point index,
  no tie corrections): T's numerator Σ cnt·(c₁n₂−c₂n₁)² stays integer
  to the end.  Rejects location AND shape drift the KS sup-norm can
  miss when CDFs cross.
* ``energy_distance_two_periods`` — Székely's energy distance between
  the Q1'95 and Q1'96 DAILY-revenue distributions (V-statistic form,
  all ordered pairs, self-pairs |a−a|=0 included — documented):
  E = 2·E|A−B| − E|A−A'| − E|B−B'|, exact integer cent sums over the
  ~90×91 day-aggregate cross products (bounded frames; the fact scan
  aggregates to days FIRST, so pair volume is calendar-bounded, not
  data-bounded).
* ``friedman_test_segments`` — Friedman's rank test: do the 5 market
  segments keep the same revenue ORDERING month after month?  Blocks =
  complete months (all 5 segments present), within-block ranks by
  (revenue cents DESC, segment) — a deterministic tiebreak; exact cent
  ties across segments within one month do not occur in this data and
  the tiebreak keeps both engines identical if one ever appears.
  Q = 12·ΣR_j²/(n·k·(k+1)) − 3·n·(k+1), integer rank sums.

100 TB shape: every statistic reduces the fact scan to a per-value /
per-day / per-month aggregate before any pairing; the only self-join is
rank-adjacency (shuffle on rn) or a calendar-bounded cross product;
cumulative counts ride the two-phase prefix sum — no global windows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.caching import tracked_cache
from ..operators.prefix_sum import global_prefix_sum
from ..sources.tables import load_table
from . import QuerySpec
from .frames import SQL_DAILY_ORDER_CENTS, daily_order_cents

_W1_YEARS = (1995, 1996)
#: energy-distance quarters
_ED_A = ("1995-01-01", "1995-04-01")
_ED_B = ("1996-01-01", "1996-04-01")


def _period_value_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per distinct price (cents): counts in each year + cumulative
    counts + global value rank, totals attached — one prefix pass."""
    orders = load_table(spark, sf_dir, "orders")
    ya, yb = _W1_YEARS
    src = orders.where(F.year("o_orderdate").isin(*_W1_YEARS)).select(
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("y"),
        (F.year("o_orderdate") == ya).cast("bigint").alias("in_a"),
        (F.year("o_orderdate") == yb).cast("bigint").alias("in_b"),
    )
    by_val = src.groupBy("y").agg(
        F.sum("in_a").alias("cnt_a"),
        F.sum("in_b").alias("cnt_b"),
        F.lit(1).alias("one"),
    )
    return global_prefix_sum(
        by_val,
        order_col="y",
        value_col=["cnt_a", "cnt_b", "one"],
        out_col=["c1", "c2", "rn"],
        total_col=["n1", "n2", "nv"],
    )


_SQL_PERIOD_VALUE_COUNTS = f"""
WITH src AS (
  SELECT CAST(round(o_totalprice * 100, 0) AS BIGINT) AS y,
         CASE WHEN year(o_orderdate) = {_W1_YEARS[0]} THEN 1 ELSE 0 END AS in_a,
         CASE WHEN year(o_orderdate) = {_W1_YEARS[1]} THEN 1 ELSE 0 END AS in_b
  FROM orders
  WHERE year(o_orderdate) IN ({_W1_YEARS[0]}, {_W1_YEARS[1]})
), by_val AS (
  SELECT y, sum(in_a) AS cnt_a, sum(in_b) AS cnt_b FROM src GROUP BY y
), cum AS (
  SELECT y,
         sum(cnt_a) OVER (ORDER BY y) AS c1,
         sum(cnt_b) OVER (ORDER BY y) AS c2,
         row_number() OVER (ORDER BY y) AS rn,
         sum(cnt_a) OVER () AS n1,
         sum(cnt_b) OVER () AS n2,
         count(*) OVER () AS nv,
         cnt_a + cnt_b AS cnt
  FROM by_val
)"""


def _q_wasserstein_1d_price_periods(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    cum = tracked_cache(_period_value_counts(spark, sf_dir))
    cur = cum.select("rn", "y", "c1", "c2", "n1", "n2", "nv")
    nxt = cum.select((F.col("rn") - 1).alias("rn"), F.col("y").alias("y_next"))
    paired = cur.join(nxt, "rn")  # inner: the max value has no interval
    num = paired.select(
        "n1",
        "n2",
        "nv",
        (
            F.abs(
                F.col("c1").cast("decimal(38,0)") * F.col("n2")
                - F.col("c2").cast("decimal(38,0)") * F.col("n1")
            )
            * (F.col("y_next") - F.col("y"))
        ).alias("contrib"),
    )
    return num.groupBy("n1", "n2", "nv").agg(
        F.sum("contrib").alias("s")
    ).select(
        "n1",
        "n2",
        F.col("nv").alias("n_support"),
        F.round(
            F.col("s").cast("double")
            / (F.col("n1") * F.col("n2")).cast("double")
            / 100.0,
            6,
        ).alias("w1_dollars"),
    )


_SQL_WASSERSTEIN_1D_PRICE_PERIODS = (
    _SQL_PERIOD_VALUE_COUNTS
    + """
SELECT CAST(max(n1) AS BIGINT) AS n1,
       CAST(max(n2) AS BIGINT) AS n2,
       CAST(max(nv) AS BIGINT) AS n_support,
       round(CAST(sum(abs(CAST(c1 AS HUGEINT) * n2 - CAST(c2 AS HUGEINT) * n1)
                      * (y_next - y)) AS DOUBLE)
             / (CAST(max(n1) AS DOUBLE) * max(n2)) / 100.0, 6) AS w1_dollars
FROM (
  SELECT a.*, b.y AS y_next
  FROM cum a JOIN cum b ON b.rn = a.rn + 1
)
"""
)


def _q_cramer_von_mises_two_sample(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    cum = _period_value_counts(spark, sf_dir)
    d = (
        F.col("c1").cast("decimal(38,0)") * F.col("n2")
        - F.col("c2").cast("decimal(38,0)") * F.col("n1")
    )
    terms = cum.select(
        "n1",
        "n2",
        ((F.col("cnt_a") + F.col("cnt_b")).cast("decimal(38,0)") * d * d).alias(
            "term"
        ),
    )
    n1 = F.col("n1").cast("double")
    n2 = F.col("n2").cast("double")
    return terms.groupBy("n1", "n2").agg(F.sum("term").alias("s")).select(
        "n1",
        "n2",
        # T = (n1·n2/N²)·Σcnt·(F1−F2)² with (F1−F2)² = D²/(n1²n2²)
        #   = Σcnt·D² / (n1·n2·N²)
        F.round(
            F.col("s").cast("double") / (n1 * n2 * (n1 + n2) * (n1 + n2)),
            6,
        ).alias("cvm_t"),
    )


_SQL_CRAMER_VON_MISES_TWO_SAMPLE = (
    _SQL_PERIOD_VALUE_COUNTS
    + """
SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
       round(CAST(sum(CAST(cnt AS HUGEINT)
                      * (CAST(c1 AS HUGEINT) * n2 - CAST(c2 AS HUGEINT) * n1)
                      * (CAST(c1 AS HUGEINT) * n2 - CAST(c2 AS HUGEINT) * n1))
                  AS DOUBLE)
             / (CAST(n1 AS DOUBLE) * n2 * (n1 + n2) * (n1 + n2)),
             6) AS cvm_t
FROM cum
GROUP BY n1, n2
"""
)


def _q_energy_distance_two_periods(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    daily = daily_order_cents(spark, sf_dir)
    da, db = (
        tracked_cache(daily.where((F.col("day") >= lo) & (F.col("day") < hi)))
        for lo, hi in (_ED_A, _ED_B)
    )

    def _pair_mean(x: DataFrame, yf: DataFrame, out: str) -> DataFrame:
        a = x.select(F.col("cents").alias("xa"))
        b = yf.select(F.col("cents").alias("xb"))
        return (
            a.crossJoin(b)
            .agg(
                F.sum(F.abs(F.col("xa") - F.col("xb"))).alias("s"),
                F.count(F.lit(1)).alias("c"),
            )
            .select(
                (F.col("s").cast("double") / F.col("c")).alias(out)
            )
        )

    ab = _pair_mean(da, db, "m_ab")
    aa = _pair_mean(da, da, "m_aa")
    bb = _pair_mean(db, db, "m_bb")
    na = da.agg(F.count(F.lit(1)).alias("n_a"))
    nb = db.agg(F.count(F.lit(1)).alias("n_b"))
    return (
        ab.crossJoin(F.broadcast(aa))
        .crossJoin(F.broadcast(bb))
        .crossJoin(F.broadcast(na))
        .crossJoin(F.broadcast(nb))
        .select(
            "n_a",
            "n_b",
            F.round(
                (2 * F.col("m_ab") - F.col("m_aa") - F.col("m_bb")) / 100.0, 6
            ).alias("energy_distance_dollars"),
        )
    )


_SQL_ENERGY_DISTANCE_TWO_PERIODS = f"""
WITH daily AS ({SQL_DAILY_ORDER_CENTS}), da AS (
  SELECT cents FROM daily
  WHERE day >= DATE '{_ED_A[0]}' AND day < DATE '{_ED_A[1]}'
), db AS (
  SELECT cents FROM daily
  WHERE day >= DATE '{_ED_B[0]}' AND day < DATE '{_ED_B[1]}'
), m_ab AS (
  SELECT CAST(sum(abs(a.cents - b.cents)) AS DOUBLE) / count(*) AS m
  FROM da a CROSS JOIN db b
), m_aa AS (
  SELECT CAST(sum(abs(a.cents - b.cents)) AS DOUBLE) / count(*) AS m
  FROM da a CROSS JOIN da b
), m_bb AS (
  SELECT CAST(sum(abs(a.cents - b.cents)) AS DOUBLE) / count(*) AS m
  FROM db a CROSS JOIN db b
)
SELECT (SELECT count(*) FROM da) AS n_a,
       (SELECT count(*) FROM db) AS n_b,
       round((2 * m_ab.m - m_aa.m - m_bb.m) / 100.0, 6)
         AS energy_distance_dollars
FROM m_ab, m_aa, m_bb
"""


_FR_K = 5


def _q_friedman_test_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    cell = (
        orders.join(
            F.broadcast(customer.select("c_custkey", "c_mktsegment")),
            orders["o_custkey"] == customer["c_custkey"],
        )
        .groupBy(
            F.date_format("o_orderdate", "yyyy-MM").alias("mo"),
            F.col("c_mktsegment").alias("seg"),
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias(
                "cents"
            )
        )
    )
    complete = (
        cell.groupBy("mo")
        .agg(F.count(F.lit(1)).alias("k"))
        .where(F.col("k") == _FR_K)
        .select("mo")
    )
    ranked = cell.join(complete, "mo").select(
        "mo",
        "seg",
        F.row_number()
        .over(
            Window.partitionBy("mo").orderBy(F.desc("cents"), F.asc("seg"))
        )
        .alias("r"),
    )
    rsums = ranked.groupBy("seg").agg(
        F.sum("r").alias("rank_sum"), F.count(F.lit(1)).alias("n_blocks")
    )
    agg = rsums.agg(
        F.sum(F.col("rank_sum") * F.col("rank_sum")).alias("sum_r2"),
        F.max("n_blocks").alias("n"),
    )
    n = F.col("n").cast("double")
    k = float(_FR_K)
    return agg.select(
        F.col("n").alias("n_blocks"),
        F.lit(_FR_K - 1).alias("df"),
        F.round(
            12.0 * F.col("sum_r2").cast("double") / (n * k * (k + 1))
            - 3.0 * n * (k + 1),
            6,
        ).alias("friedman_q"),
    )


_SQL_FRIEDMAN_TEST_SEGMENTS = f"""
WITH cell AS (
  SELECT strftime(o_orderdate, '%Y-%m') AS mo, c_mktsegment AS seg,
         sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS cents
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY 1, 2
), complete AS (
  SELECT mo FROM cell GROUP BY mo HAVING count(*) = {_FR_K}
), ranked AS (
  SELECT c.mo, c.seg,
         row_number() OVER (PARTITION BY c.mo ORDER BY c.cents DESC, c.seg ASC)
           AS r
  FROM cell c JOIN complete USING (mo)
), rsums AS (
  SELECT seg, sum(r) AS rank_sum, count(*) AS n_blocks FROM ranked GROUP BY seg
)
SELECT CAST(max(n_blocks) AS BIGINT) AS n_blocks,
       {_FR_K - 1} AS df,
       round(12.0 * CAST(sum(rank_sum * rank_sum) AS DOUBLE)
             / (max(n_blocks) * {_FR_K} * {_FR_K + 1})
             - 3.0 * max(n_blocks) * {_FR_K + 1}, 6) AS friedman_q
FROM rsums
"""


SPECS: dict[str, QuerySpec] = {
    "wasserstein_1d_price_periods": QuerySpec(
        _q_wasserstein_1d_price_periods,
        _SQL_WASSERSTEIN_1D_PRICE_PERIODS,
        "exact 1-Wasserstein distance between the 1995 and 1996 order-"
        "price distributions (integral of |F1-F2|, integer numerators, "
        "prefix-sum CDF + rank-adjacency self-join — no global window)",
    ),
    "cramer_von_mises_two_sample": QuerySpec(
        _q_cramer_von_mises_two_sample,
        _SQL_CRAMER_VON_MISES_TWO_SAMPLE,
        "two-sample Cramer-von Mises T in Anderson's tie-robust "
        "integral form over per-value cumulative counts (integer "
        "numerator end-to-end)",
    ),
    "energy_distance_two_periods": QuerySpec(
        _q_energy_distance_two_periods,
        _SQL_ENERGY_DISTANCE_TWO_PERIODS,
        "Szekely energy distance between Q1'95 and Q1'96 daily-revenue "
        "distributions (V-statistic over calendar-bounded day-aggregate "
        "pairs, exact integer cent sums)",
    ),
    "friedman_test_segments": QuerySpec(
        _q_friedman_test_segments,
        _SQL_FRIEDMAN_TEST_SEGMENTS,
        "Friedman rank test across the 5 market segments blocked by "
        "complete months (deterministic within-block ranks, integer "
        "rank sums)",
    ),
}
