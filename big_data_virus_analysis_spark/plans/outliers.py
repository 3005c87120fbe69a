"""Outlier-detection / robust-statistics pack: z-score outliers, median
absolute deviation, Gopher-style duplicate-n-gram repetition scoring,
and first/last-touch attribution.

The first two are the workhorse anomaly screens of a data-quality
layer (parametric and robust); the repetition fraction is the classic
LLM-corpus filter (repeated n-grams ⇒ boilerplate / spam); first/last
touch is the attribution primitive.  All four follow the catalog
conventions (catalog.py module docstring).

Scale notes per query below — headline: the repetition score is a PURE
MAP (per-row array math, zero shuffles), and both robust-stat queries
shuffle only aggregated or dimension-sized frames.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.tables import load_table
from . import QuerySpec


# --------------------------------------------------------------------------
# Parametric outliers (per-group z-score)
# --------------------------------------------------------------------------

def _q_zscore_outlier_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders whose total price sits ≥ 1.7 sample standard deviations
    from their priority class's mean (threshold calibrated to the fixture's bounded,
    uniform-like price distribution, whose |z| tops out near √3 ≈ 1.73 —
    a 2.5σ normal-style cut would select nothing).  Group moments come from a window
    over the class (one shuffle on o_orderpriority); the z-score and
    filter are then row-local.  At 100 TB the same plan holds — the
    window state per group is two running sums, and AQE splits a skewed
    priority class across reducers."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority")
    z = (F.col("o_totalprice") - F.avg("o_totalprice").over(w)) / F.stddev_samp(
        "o_totalprice"
    ).over(w)
    return (
        orders.withColumn("z", z)
        .where(F.abs(F.col("z")) >= 1.7)
        .select(
            "o_orderkey",
            "o_orderpriority",
            F.round("o_totalprice", 4).alias("o_totalprice"),
            F.round("z", 4).alias("zscore"),
        )
    )


_SQL_ZSCORE_OUTLIER_ORDERS = """
SELECT o_orderkey, o_orderpriority,
       round(o_totalprice, 4) AS o_totalprice,
       round(z, 4) AS zscore
FROM (
  SELECT o_orderkey, o_orderpriority, o_totalprice,
         (o_totalprice - avg(o_totalprice) OVER (PARTITION BY o_orderpriority))
           / stddev_samp(o_totalprice) OVER (PARTITION BY o_orderpriority) AS z
  FROM orders
)
WHERE abs(z) >= 1.7
"""


# --------------------------------------------------------------------------
# Robust dispersion (median absolute deviation)
# --------------------------------------------------------------------------

def _q_mad_price_by_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median absolute deviation of retail price per brand — the robust
    twin of stddev (50% breakdown point vs 0%).  Two exact-percentile
    aggregations with a BROADCAST join of the 25-row median table in
    between; the fact table is scanned twice but never self-joined on a
    shuffle.  At 100 TB swap `percentile` for `approx_percentile` and
    the plan shape is unchanged."""
    part = load_table(spark, sf_dir, "part").select("p_brand", "p_retailprice")
    medians = part.groupBy("p_brand").agg(
        F.expr("percentile(p_retailprice, 0.5)").alias("med")
    )
    return (
        part.join(F.broadcast(medians), "p_brand")
        .withColumn("absdev", F.abs(F.col("p_retailprice") - F.col("med")))
        .groupBy("p_brand")
        .agg(
            F.round(F.first("med"), 4).alias("median_price"),
            F.round(F.expr("percentile(absdev, 0.5)"), 4).alias("mad"),
        )
        .orderBy("p_brand")
    )


_SQL_MAD_PRICE_BY_BRAND = """
WITH medians AS (
  SELECT p_brand, quantile_cont(p_retailprice, 0.5) AS med
  FROM part GROUP BY p_brand
)
SELECT part.p_brand,
       round(any_value(med), 4) AS median_price,
       round(quantile_cont(abs(p_retailprice - med), 0.5), 4) AS mad
FROM part JOIN medians ON part.p_brand = medians.p_brand
GROUP BY part.p_brand
ORDER BY part.p_brand
"""


# --------------------------------------------------------------------------
# Winsorized mean (robust location, complements MAD's robust spread)
# --------------------------------------------------------------------------

def _q_winsorized_mean_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand winsorized mean retail price: values clipped to the
    brand's [p05, p95] before averaging — the robust-location twin of
    `mad_price_by_brand`'s robust spread.  One exact-percentile pass,
    broadcast of the 25-row bounds, then a clipped mean; the decimal
    cast makes the clipped sum order-independent."""
    part = load_table(spark, sf_dir, "part").select("p_brand", "p_retailprice")
    bounds = part.groupBy("p_brand").agg(
        F.expr("percentile(p_retailprice, 0.05)").alias("lo"),
        F.expr("percentile(p_retailprice, 0.95)").alias("hi"),
    )
    clipped = F.least(F.greatest(F.col("p_retailprice"), F.col("lo")), F.col("hi"))
    return (
        part.join(F.broadcast(bounds), "p_brand")
        .groupBy("p_brand")
        .agg(
            F.count("*").alias("n_parts"),
            F.round(
                F.sum(clipped.cast("decimal(18,6)")).cast("double") / F.count("*"),
                4,
            ).alias("winsorized_mean"),
            F.round(F.avg("p_retailprice"), 4).alias("plain_mean"),
        )
        .orderBy("p_brand")
    )


_SQL_WINSORIZED_MEAN_PRICES = """
WITH bounds AS (
  SELECT p_brand,
         quantile_cont(p_retailprice, 0.05) AS lo,
         quantile_cont(p_retailprice, 0.95) AS hi
  FROM part GROUP BY p_brand
)
SELECT part.p_brand,
       count(*) AS n_parts,
       round(CAST(sum(CAST(least(greatest(p_retailprice, lo), hi)
                           AS DECIMAL(18,6))) AS DOUBLE) / count(*), 4)
         AS winsorized_mean,
       round(avg(p_retailprice), 4) AS plain_mean
FROM part JOIN bounds ON part.p_brand = bounds.p_brand
GROUP BY part.p_brand
ORDER BY part.p_brand
"""


# --------------------------------------------------------------------------
# Duplicate-n-gram repetition score (LLM-corpus boilerplate filter)
# --------------------------------------------------------------------------

def _q_dup_ngram_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplicate word-3-gram fraction (the Gopher
    repetition rule: high fraction ⇒ boilerplate/spam).  The entire
    computation is per-row array math — transform over a sequence
    builds the gram list, array_distinct dedups it — so the plan is a
    PURE MAP over the scan: zero shuffles, embarrassingly parallel at
    any scale.  No explode: the grams never become rows."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    # stage tokens AND the gram array as real columns: a transform
    # lambda closing over the split() expression re-splits per element
    # (O(n²) per row), and the three outputs below would otherwise each
    # rebuild the gram array
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size("_toks") - 2, F.lit(0))),
        lambda i: F.concat_ws(" ", F.slice(F.col("_toks"), i, 3)),
    )
    return (
        docs.where(F.size(toks) >= 3)
        .select("doc_id", toks.alias("_toks"))
        .select("doc_id", grams.alias("_g"))
        .select(
            "doc_id",
            F.size("_g").alias("n_grams"),
            F.size(F.array_distinct("_g")).alias("n_distinct"),
            F.round(
                1.0 - F.size(F.array_distinct("_g")) / F.size("_g").cast("double"), 6
            ).alias("dup_fraction"),
        )
    )


_SQL_DUP_NGRAM_FRACTION = """
WITH grams AS (
  SELECT doc_id,
         list_transform(range(1, len(string_split(text, ' ')) - 1),
                        i -> array_to_string(string_split(text, ' ')[i:i+2], ' '))
           AS g
  FROM documents
  WHERE len(string_split(text, ' ')) >= 3
)
SELECT doc_id,
       CAST(len(g) AS INT) AS n_grams,
       CAST(len(list_distinct(g)) AS INT) AS n_distinct,
       round(1.0 - len(list_distinct(g)) / CAST(len(g) AS DOUBLE), 6) AS dup_fraction
FROM grams
"""


# --------------------------------------------------------------------------
# Skyline / Pareto frontier (multi-objective non-dominated set)
# --------------------------------------------------------------------------

def _q_skyline_parts_per_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand skyline: parts not DOMINATED on (price ↓, size ↑) —
    another part is at least as cheap AND at least as big, strictly
    better in one.  The dominance anti-join runs WITHIN brand blocks
    (the standard distributed skyline: partition, local frontier), so
    the quadratic candidate space is (brand size)², never (table)².
    Multi-objective top-k that no single ORDER BY can express."""
    part = load_table(spark, sf_dir, "part").select(
        "p_brand", "p_partkey", "p_retailprice", "p_size"
    )
    a, b = part.alias("a"), part.alias("b")
    dominated = (
        (F.col("b.p_retailprice") <= F.col("a.p_retailprice"))
        & (F.col("b.p_size") >= F.col("a.p_size"))
        & (
            (F.col("b.p_retailprice") < F.col("a.p_retailprice"))
            | (F.col("b.p_size") > F.col("a.p_size"))
        )
    )
    return (
        a.join(
            b,
            (F.col("a.p_brand") == F.col("b.p_brand")) & dominated,
            "left_anti",
        )
        .select(
            "p_brand",
            "p_partkey",
            F.round("p_retailprice", 4).alias("p_retailprice"),
            "p_size",
        )
    )


_SQL_SKYLINE_PARTS_PER_BRAND = """
SELECT p_brand, p_partkey, round(p_retailprice, 4) AS p_retailprice, p_size
FROM part a
WHERE NOT EXISTS (
  SELECT 1 FROM part b
  WHERE b.p_brand = a.p_brand
    AND b.p_retailprice <= a.p_retailprice
    AND b.p_size >= a.p_size
    AND (b.p_retailprice < a.p_retailprice OR b.p_size > a.p_size)
)
"""


# --------------------------------------------------------------------------
# First/last-touch attribution (single-pass struct min/max)
# --------------------------------------------------------------------------

def _q_first_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each user's first and last event type — attribution's first-
    touch/last-touch primitive as ONE aggregation pass: lexicographic
    min/max over (ts, event_id, type) structs.  event_id in the struct
    makes ties deterministic; no window, no sort, map-side partial
    aggregation all the way."""
    ev = load_table(spark, sf_dir, "events").where(F.col("user_id") < 300)
    touch = F.struct(
        F.unix_micros(F.col("ts")).alias("t"),
        F.col("event_id").alias("e"),
        F.col("event_type").alias("y"),
    )
    first, last = F.min(touch), F.max(touch)
    return ev.groupBy("user_id").agg(
        first.getField("y").alias("first_type"),
        first.getField("t").alias("first_ts_us"),
        last.getField("y").alias("last_type"),
        last.getField("t").alias("last_ts_us"),
        F.count("*").alias("n_events"),
    )


_SQL_FIRST_LAST_TOUCH = """
SELECT user_id,
       (min(struct_pack(t := epoch_us(ts), e := event_id, y := event_type))).y
         AS first_type,
       (min(struct_pack(t := epoch_us(ts), e := event_id, y := event_type))).t
         AS first_ts_us,
       (max(struct_pack(t := epoch_us(ts), e := event_id, y := event_type))).y
         AS last_type,
       (max(struct_pack(t := epoch_us(ts), e := event_id, y := event_type))).t
         AS last_ts_us,
       count(*) AS n_events
FROM events
WHERE user_id < 300
GROUP BY user_id
"""


SPECS: dict[str, QuerySpec] = {
    "zscore_outlier_orders": QuerySpec(
        _q_zscore_outlier_orders,
        _SQL_ZSCORE_OUTLIER_ORDERS,
        "per-group z-score outlier screen via windowed moments",
    ),
    "mad_price_by_brand": QuerySpec(
        _q_mad_price_by_brand,
        _SQL_MAD_PRICE_BY_BRAND,
        "median absolute deviation via two percentile passes + broadcast medians",
    ),
    "dup_ngram_fraction": QuerySpec(
        _q_dup_ngram_fraction,
        _SQL_DUP_NGRAM_FRACTION,
        "Gopher duplicate-3-gram repetition score, shuffle-free pure map",
    ),
    "first_last_touch": QuerySpec(
        _q_first_last_touch,
        _SQL_FIRST_LAST_TOUCH,
        "first/last-touch attribution via single-pass struct min/max",
    ),
    "winsorized_mean_prices": QuerySpec(
        _q_winsorized_mean_prices,
        _SQL_WINSORIZED_MEAN_PRICES,
        "winsorized (clipped-tail) robust mean per group",
    ),
    "skyline_parts_per_brand": QuerySpec(
        _q_skyline_parts_per_brand,
        _SQL_SKYLINE_PARTS_PER_BRAND,
        "blocked Pareto-frontier skyline (non-dominated multi-objective set)",
    ),
}
