"""Round-8 OLAP / pipeline pack — rolling co-movement, revenue
decomposition, class rebalancing, and vocabulary coverage.

* ``rolling_correlation_30d`` — 30-day trailing Pearson correlation
  between daily order count and daily revenue over the calendar day
  frame.  The window is ORDER BY day ROWS 29 PRECEDING — an
  unpartitioned but CALENDAR-BOUNDED frame (≤ 2,406 day rows at any
  corpus size; the day frame is the repo's standing bounded-window
  exemption, tests/test_plan_lint.py).  All six rolling sums are exact
  integer/decimal window aggregates; the corr combine is one double
  expression per row, round 6.  Emitted only where the window is full
  (rk ≥ 30), day as yyyy-MM-dd string.
* ``revenue_waterfall`` — the TPC-H Q1 money algebra re-cut as a
  waterfall: gross extended price → −discount → +tax → net charge, as
  FOUR component rows with exact cumulative totals.  Discount/tax are
  integer percents in the data, so every component is an exact integer
  sum in 1e-4-cent units (epc·(100−d)·(100+t) products stay < 2^63 per
  row, summed as decimal(38,0)).
* ``class_balanced_downsample`` — deterministic majority-class
  downsampling to the minority-class size: per-label rank by the
  engine-free odd-multiplier hash of vec_id (label-PARTITIONED
  window), keep rank ≤ min class count (1-row broadcast).  The class-
  rebalance primitive of a training-data pipeline, exact because the
  hash ranking is reproducible in SQL.
* ``vocab_coverage_topk_grid`` — corpus token coverage of the top-k
  frequency vocabulary for k ∈ {100, 1000, 5000}: the tokenizer-
  budget curve ("how much of the corpus does a k-entry vocab cover").
  Vocabulary ranks via the two-phase ``global_row_number`` (no global
  window), one conditional-sum aggregate for all three k legs.

No reference counterpart; BI/pipeline extensions alongside
plans/round6_olap2.py and plans/packing.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.prefix_sum import global_row_number
from ..sources.tables import load_table
from . import QuerySpec

# --------------------------------------------------------------------------
# rolling_correlation_30d
# --------------------------------------------------------------------------

_ROLL_DAYS = 30


def _q_rolling_correlation_30d(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    day = (
        orders.select(
            F.to_date("o_orderdate").alias("day"),
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("yc"),
        )
        .groupBy("day")
        .agg(
            F.count(F.lit(1)).alias("x"),
            # revenue in $1000 units so xy/yy products stay well under
            # decimal(38,0) across any window width
            F.floor(F.sum("yc") / F.lit(1e5) + 0.5).cast("bigint").alias("y"),
        )
    )
    w = Window.orderBy("day").rowsBetween(-(_ROLL_DAYS - 1), 0)
    dec = lambda c: F.col(c).cast("decimal(19,0)")  # noqa: E731
    rolled = day.select(
        "day",
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum("x").over(w).alias("sx"),
        F.sum("y").over(w).alias("sy"),
        F.sum(dec("x") * dec("x")).over(w).alias("sxx"),
        F.sum(dec("y") * dec("y")).over(w).alias("syy"),
        F.sum(dec("x") * dec("y")).over(w).alias("sxy"),
    ).where(F.col("n") == _ROLL_DAYS)
    n = F.col("n").cast("double")
    num = n * F.col("sxy").cast("double") - F.col("sx").cast("double") * F.col(
        "sy"
    ).cast("double")
    den = F.sqrt(
        (n * F.col("sxx").cast("double") - F.col("sx").cast("double") ** 2)
        * (n * F.col("syy").cast("double") - F.col("sy").cast("double") ** 2)
    )
    return rolled.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.round(num / den, 6).alias("corr_orders_revenue"),
    ).orderBy("day")


_SQL_ROLLING_CORRELATION_30D = f"""
WITH day AS (
  SELECT CAST(o_orderdate AS DATE) AS day, count(*) AS x,
         CAST(floor(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
                    / 1e5 + 0.5) AS BIGINT) AS y
  FROM orders GROUP BY 1
), rolled AS (
  SELECT day,
         count(*) OVER w AS n,
         sum(x) OVER w AS sx, sum(y) OVER w AS sy,
         sum(CAST(x AS HUGEINT) * x) OVER w AS sxx,
         sum(CAST(y AS HUGEINT) * y) OVER w AS syy,
         sum(CAST(x AS HUGEINT) * y) OVER w AS sxy
  FROM day
  WINDOW w AS (ORDER BY day ROWS BETWEEN {_ROLL_DAYS - 1} PRECEDING
               AND CURRENT ROW)
), full_w AS (
  SELECT * FROM rolled WHERE n = {_ROLL_DAYS}
)
SELECT strftime(day, '%Y-%m-%d') AS day,
       round((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy)
             / sqrt((n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx)
                    * (n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy)),
             6) AS corr_orders_revenue
FROM full_w
ORDER BY day
"""


# --------------------------------------------------------------------------
# revenue_waterfall
# --------------------------------------------------------------------------


def _q_revenue_waterfall(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("epc"),
        F.round(F.col("l_discount") * 100).cast("bigint").alias("d2"),
        F.round(F.col("l_tax") * 100).cast("bigint").alias("t2"),
    )
    # all amounts in 1e-4-cent units (epc * 100 * 100 scale)
    gross = F.col("epc").cast("decimal(38,0)") * 10_000
    disc = F.col("epc").cast("decimal(38,0)") * F.col("d2") * 100
    disc_price = F.col("epc").cast("decimal(38,0)") * (100 - F.col("d2")) * 100
    tax = (
        F.col("epc").cast("decimal(38,0)") * (100 - F.col("d2")) * F.col("t2")
    )
    mom = li.agg(
        F.sum(gross).alias("gross"),
        F.sum(disc).alias("disc"),
        F.sum(tax).alias("tax"),
        F.sum(disc_price + tax).alias("charge"),
    )
    dollars = lambda expr: F.round(expr.cast("double") / 1e6, 2)  # noqa: E731
    # each leg's running total has a closed form in the exact decimal
    # moments — no window needed over the 4-row result
    legs = [
        ("1_gross_price", F.col("gross"), F.col("gross")),
        ("2_discount", -F.col("disc"), F.col("gross") - F.col("disc")),
        (
            "3_tax",
            F.col("tax"),
            F.col("gross") - F.col("disc") + F.col("tax"),
        ),
        ("4_net_charge", F.col("charge"), F.col("charge")),
    ]
    steps = None
    for step, amt, cum in legs:
        leg = mom.select(
            F.lit(step).alias("step"),
            dollars(amt).alias("amount"),
            dollars(cum).alias("running_total"),
        )
        steps = leg if steps is None else steps.unionByName(leg)
    return steps.orderBy("step")


_SQL_REVENUE_WATERFALL = """
WITH li AS (
  SELECT CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS epc,
         CAST(round(l_discount * 100, 0) AS BIGINT) AS d2,
         CAST(round(l_tax * 100, 0) AS BIGINT) AS t2
  FROM lineitem
), mom AS (
  SELECT sum(CAST(epc AS HUGEINT) * 10000) AS gross,
         sum(CAST(epc AS HUGEINT) * d2 * 100) AS disc,
         sum(CAST(epc AS HUGEINT) * (100 - d2) * t2) AS tax,
         sum(CAST(epc AS HUGEINT) * (100 - d2) * 100
             + CAST(epc AS HUGEINT) * (100 - d2) * t2) AS charge
  FROM li
)
SELECT '1_gross_price' AS step,
       round(CAST(gross AS DOUBLE) / 1e6, 2) AS amount,
       round(CAST(gross AS DOUBLE) / 1e6, 2) AS running_total FROM mom
UNION ALL
SELECT '2_discount', round(-CAST(disc AS DOUBLE) / 1e6, 2),
       round(CAST(gross - disc AS DOUBLE) / 1e6, 2) FROM mom
UNION ALL
SELECT '3_tax', round(CAST(tax AS DOUBLE) / 1e6, 2),
       round(CAST(gross - disc + tax AS DOUBLE) / 1e6, 2) FROM mom
UNION ALL
SELECT '4_net_charge', round(CAST(charge AS DOUBLE) / 1e6, 2),
       round(CAST(charge AS DOUBLE) / 1e6, 2) FROM mom
ORDER BY step
"""


# --------------------------------------------------------------------------
# class_balanced_downsample
# --------------------------------------------------------------------------

_M31 = 2147483648


def _q_class_balanced_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.floor(F.element_at("embedding", 1).cast("double") * 1e6 + 0.5)
        .cast("bigint")
        .alias("xq0"),
    )
    counts = emb.groupBy("label").agg(F.count(F.lit(1)).alias("n_before"))
    cap = counts.agg(F.min("n_before").alias("cap"))
    w = Window.partitionBy("label").orderBy(
        (F.col("vec_id") * F.lit(2654435761)) % _M31, "vec_id"
    )
    kept = (
        emb.withColumn("rk", F.row_number().over(w))
        .crossJoin(F.broadcast(cap))
        .where(F.col("rk") <= F.col("cap"))
    )
    after = kept.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_after"),
        F.sum("xq0").alias("sx"),
    )
    return (
        counts.join(after, "label")
        .select(
            F.col("label").cast("int").alias("label"),
            "n_before",
            "n_after",
            F.round(
                F.col("sx").cast("double") / F.col("n_after").cast("double") / 1e6,
                6,
            ).alias("mean_dim0_after"),
        )
        .orderBy("label")
    )


_SQL_CLASS_BALANCED_DOWNSAMPLE = f"""
WITH emb AS (
  SELECT vec_id, label,
         CAST(floor(CAST(embedding[1] AS DOUBLE) * 1e6 + 0.5) AS BIGINT)
           AS xq0
  FROM embeddings
), counts AS (
  SELECT label, count(*) AS n_before FROM emb GROUP BY 1
), cap AS (
  SELECT min(n_before) AS cap FROM counts
), ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY label
    ORDER BY (vec_id * 2654435761) % {_M31}, vec_id
  ) AS rk
  FROM emb
), kept AS (
  SELECT r.* FROM ranked r CROSS JOIN cap WHERE r.rk <= cap.cap
), after AS (
  SELECT label, count(*) AS n_after, sum(xq0) AS sx FROM kept GROUP BY 1
)
SELECT CAST(c.label AS INT) AS label,
       CAST(c.n_before AS BIGINT) AS n_before,
       CAST(a.n_after AS BIGINT) AS n_after,
       round(CAST(a.sx AS DOUBLE) / a.n_after / 1e6, 6) AS mean_dim0_after
FROM counts c JOIN after a USING (label)
ORDER BY label
"""


# --------------------------------------------------------------------------
# vocab_coverage_topk_grid
# --------------------------------------------------------------------------

_COV_KS = (100, 1000, 5000)


def _q_vocab_coverage_topk_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    cf = (
        docs.select(F.explode(F.split("text", " ")).alias("tok"))
        .where(F.length("tok") > 0)
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cf"))
    )
    ranked = global_row_number(
        cf, [F.desc("cf"), F.asc("tok")], out_col="rank"
    )
    agg = ranked.agg(
        F.sum("cf").alias("total"),
        F.count(F.lit(1)).alias("vocab_size"),
        *[
            F.sum(F.when(F.col("rank") <= k, F.col("cf"))).alias(f"c{k}")
            for k in _COV_KS
        ],
    )
    rows = None
    for k in _COV_KS:
        leg = agg.select(
            F.lit(k).alias("k"),
            F.col("vocab_size"),
            F.coalesce(F.col(f"c{k}"), F.lit(0)).alias("tokens_covered"),
            F.col("total").alias("tokens_total"),
            F.round(
                F.coalesce(F.col(f"c{k}"), F.lit(0)).cast("double")
                / F.col("total").cast("double"),
                6,
            ).alias("coverage"),
        )
        rows = leg if rows is None else rows.unionByName(leg)
    return rows.orderBy("k")


_SQL_VOCAB_COVERAGE_TOPK_GRID = f"""
WITH tok AS (
  SELECT unnest(string_split(text, ' ')) AS tok FROM documents
), cf AS (
  SELECT tok, count(*) AS cf FROM tok WHERE length(tok) > 0 GROUP BY 1
), ranked AS (
  SELECT cf, row_number() OVER (ORDER BY cf DESC, tok ASC) AS rank FROM cf
), agg AS (
  SELECT sum(cf) AS total, count(*) AS vocab_size,
         {", ".join(f"coalesce(sum(CASE WHEN rank <= {k} THEN cf END), 0) AS c{k}" for k in _COV_KS)}
  FROM ranked
)
{" UNION ALL ".join(f"SELECT {k} AS k, CAST(vocab_size AS BIGINT) AS vocab_size, CAST(c{k} AS BIGINT) AS tokens_covered, CAST(total AS BIGINT) AS tokens_total, round(CAST(c{k} AS DOUBLE) / total, 6) AS coverage FROM agg" for k in _COV_KS)}
ORDER BY k
"""


SPECS: dict[str, QuerySpec] = {
    "rolling_correlation_30d": QuerySpec(
        _q_rolling_correlation_30d,
        _SQL_ROLLING_CORRELATION_30D,
        "30-day trailing Pearson correlation of daily order count vs "
        "revenue over the calendar-bounded day frame (exact rolling "
        "integer sums)",
    ),
    "revenue_waterfall": QuerySpec(
        _q_revenue_waterfall,
        _SQL_REVENUE_WATERFALL,
        "gross -> -discount -> +tax -> net revenue waterfall from exact "
        "1e-4-cent integer component sums (the Q1 money algebra re-cut)",
    ),
    "class_balanced_downsample": QuerySpec(
        _q_class_balanced_downsample,
        _SQL_CLASS_BALANCED_DOWNSAMPLE,
        "deterministic hash-ranked downsampling of every class to the "
        "minority size (label-partitioned ranks, 1-row cap broadcast)",
    ),
    "vocab_coverage_topk_grid": QuerySpec(
        _q_vocab_coverage_topk_grid,
        _SQL_VOCAB_COVERAGE_TOPK_GRID,
        "corpus token coverage of the top-{100,1000,5000} frequency "
        "vocab (two-phase global rank, one conditional-sum aggregate)",
    ),
}
