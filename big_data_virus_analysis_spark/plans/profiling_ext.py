"""Profiling extensions: deterministic systematic sampling, equi-depth
histograms, and key-skew profiling.

Complements the existing profiling tier (`column_profile_orders`,
`price_histogram` equal-width, `stratified_sample` seeded-random) with
the three remaining screens a pipeline planner wants:

* **systematic sampling** — every k-th row in key order: exactly
  reproducible across engines (unlike PRNG sampling, which is
  rows-only-checkable), and statistically fine when the key order is
  uncorrelated with the measure.
* **equi-depth histogram** — ntile buckets with value boundaries: the
  histogram the optimizer actually wants for selectivity (equal mass,
  not equal width).
* **skew profile** — per-key frequency dispersion (max/mean share,
  top-1 share): the diagnostic that decides between a plain shuffle,
  AQE skew handling, or explicit salting (operators/skew.py).

Conventions as in catalog.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.tables import load_table
from . import QuerySpec


# --------------------------------------------------------------------------
# Systematic sampling (every k-th in key order)
# --------------------------------------------------------------------------

def _q_systematic_sample_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every 100th order in key order — deterministic systematic
    sampling with an EXACT oracle (seeded-PRNG sampling can only be
    rows-only checked; this variant is bit-reproducible anywhere).
    The global numbering runs as the two-phase distributed scan
    (operators/prefix_sum.py::global_row_number) — no single-partition
    window anywhere; at 100 TB the same semantics also come
    shuffle-free from a monotonic surrogate (`o_orderkey % 100 = 1`
    when keys are dense)."""
    from ..operators.prefix_sum import global_row_number

    orders = load_table(spark, sf_dir, "orders")
    return (
        global_row_number(orders, [F.col("o_orderkey")])
        .where((F.col("rn") % 100) == 1)
        .select(
            "o_orderkey",
            "o_custkey",
            F.round("o_totalprice", 4).alias("o_totalprice"),
        )
    )


_SQL_SYSTEMATIC_SAMPLE_ORDERS = """
SELECT o_orderkey, o_custkey, round(o_totalprice, 4) AS o_totalprice
FROM (
  SELECT o_orderkey, o_custkey, o_totalprice,
         row_number() OVER (ORDER BY o_orderkey) AS rn
  FROM orders
)
WHERE rn % 100 = 1
"""


# --------------------------------------------------------------------------
# Equi-depth histogram (ntile buckets with boundaries)
# --------------------------------------------------------------------------

def _q_equidepth_price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10-bucket equi-depth histogram of part retail price: equal-mass
    buckets (deterministic with the p_partkey tiebreak), then
    per-bucket min/max/count are the boundaries.  Equal-width twin:
    `price_histogram`.  The bucket assignment is the rank-derived ntile
    over the two-phase distributed scan (operators/prefix_sum.py) — NO
    single-partition window funnels the part table through one task;
    at 100 TB approx_percentile supplies the boundaries without even
    the range shuffle (sketch twin, same output shape)."""
    from ..operators.prefix_sum import global_row_number, ntile_from_rank

    part = load_table(spark, sf_dir, "part")
    ranked = global_row_number(
        part, [F.col("p_retailprice"), F.col("p_partkey")], n_col="_n"
    )
    return (
        ranked.withColumn(
            "bucket", ntile_from_rank(F.col("rn"), F.col("_n"), 10).cast("int")
        )
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_parts"),
            F.round(F.min("p_retailprice"), 4).alias("lo"),
            F.round(F.max("p_retailprice"), 4).alias("hi"),
        )
        .orderBy("bucket")
    )


_SQL_EQUIDEPTH_PRICE_HISTOGRAM = """
SELECT bucket,
       count(*) AS n_parts,
       round(min(p_retailprice), 4) AS lo,
       round(max(p_retailprice), 4) AS hi
FROM (
  SELECT p_retailprice,
         CAST(ntile(10) OVER (ORDER BY p_retailprice, p_partkey) AS INT) AS bucket
  FROM part
)
GROUP BY bucket
ORDER BY bucket
"""


# --------------------------------------------------------------------------
# Key-skew profile (shuffle-strategy diagnostic)
# --------------------------------------------------------------------------

def _q_skew_profile_custkey(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency-skew diagnostic for the orders→customer join key: key
    count, mean/max per-key frequency, and the heaviest key's share of
    all rows — one row that says whether a shuffle on this key needs
    salting.  Two cheap aggregations (per-key counts, then moments of
    the counts); deterministic max-key via struct-max."""
    orders = load_table(spark, sf_dir, "orders")
    per_key = orders.groupBy("o_custkey").agg(F.count("*").alias("n"))
    top = F.max(F.struct(F.col("n").alias("n"), F.col("o_custkey").alias("k")))
    return per_key.agg(
        F.count("*").alias("n_keys"),
        F.sum("n").alias("n_rows"),
        F.round(F.avg("n"), 6).alias("mean_per_key"),
        F.max("n").alias("max_per_key"),
        top.getField("k").alias("heaviest_key"),
        F.round(F.max("n") / F.sum("n").cast("double"), 6).alias("top1_share"),
    )


_SQL_SKEW_PROFILE_CUSTKEY = """
WITH per_key AS (
  SELECT o_custkey, count(*) AS n FROM orders GROUP BY 1
)
SELECT count(*) AS n_keys,
       CAST(sum(n) AS BIGINT) AS n_rows,
       round(avg(n), 6) AS mean_per_key,
       max(n) AS max_per_key,
       (max(struct_pack(n := n, k := o_custkey))).k AS heaviest_key,
       round(max(n) / CAST(sum(n) AS DOUBLE), 6) AS top1_share
FROM per_key
"""


# --------------------------------------------------------------------------
# Hash-based deterministic sampling (consistent across systems)
# --------------------------------------------------------------------------

def _q_hash_sample_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """~1% sample selected by key hash (md5(o_orderkey) bucket 0 of
    100) — the production sampling idiom: any system hashing the same
    keys draws the SAME sample (stable across runs, engines, and
    re-partitioning, and extendable to consistent joins of samples
    across tables sharing the key).  Pure map over the scan, exact
    oracle — seeded-PRNG sampling can't give either property."""
    orders = load_table(spark, sf_dir, "orders")
    bucket = (
        F.conv(F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        % 100
    )
    return orders.where(bucket == 0).select(
        "o_orderkey", "o_custkey", F.round("o_totalprice", 4).alias("o_totalprice")
    )


_SQL_HASH_SAMPLE_ORDERS = """
SELECT o_orderkey, o_custkey, round(o_totalprice, 4) AS o_totalprice
FROM orders
WHERE CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8)) AS BIGINT)
        % 100 = 0
"""


def _q_hash_reservoir_per_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size per-group sample (5 customers per market segment)
    drawn by ranking on the key hash — the deterministic reservoir:
    same members on every engine, one window pass, no PRNG state.
    md5's uniformity makes the hash order an unbiased shuffle of each
    group."""
    cust = load_table(spark, sf_dir, "customer")
    h = F.md5(F.col("c_custkey").cast("string"))
    w = Window.partitionBy("c_mktsegment").orderBy(h.alias("h"))
    return (
        cust.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 5)
        .select("c_mktsegment", "c_custkey", F.col("rn").alias("sample_rank"))
    )


_SQL_HASH_RESERVOIR_PER_SEGMENT = """
SELECT c_mktsegment, c_custkey, CAST(rn AS INT) AS sample_rank
FROM (
  SELECT c_mktsegment, c_custkey,
         row_number() OVER (PARTITION BY c_mktsegment
                            ORDER BY md5(CAST(c_custkey AS VARCHAR))) AS rn
  FROM customer
)
WHERE rn <= 5
"""


SPECS: dict[str, QuerySpec] = {
    "systematic_sample_orders": QuerySpec(
        _q_systematic_sample_orders,
        _SQL_SYSTEMATIC_SAMPLE_ORDERS,
        "deterministic every-k-th systematic sample (exact-oracle sampling)",
    ),
    "equidepth_price_histogram": QuerySpec(
        _q_equidepth_price_histogram,
        _SQL_EQUIDEPTH_PRICE_HISTOGRAM,
        "equi-depth ntile histogram with bucket boundaries",
    ),
    "skew_profile_custkey": QuerySpec(
        _q_skew_profile_custkey,
        _SQL_SKEW_PROFILE_CUSTKEY,
        "join-key skew diagnostic (decides plain shuffle vs salting)",
    ),
    "hash_sample_orders": QuerySpec(
        _q_hash_sample_orders,
        _SQL_HASH_SAMPLE_ORDERS,
        "deterministic key-hash sampling (consistent across systems/runs)",
    ),
    "hash_reservoir_per_segment": QuerySpec(
        _q_hash_reservoir_per_segment,
        _SQL_HASH_RESERVOIR_PER_SEGMENT,
        "fixed-size per-group sample via hash-order ranking",
    ),
}
