"""Round-9 relative-error quantile-sketch pack: DDSketch (Masson,
Rim & Lee, VLDB 2019) over line prices — the guaranteed-RELATIVE-error
quantile family the catalog did not yet cover (approx_percentile /
the merged equi-width sketches bound ABSOLUTE rank or value error;
DDSketch bounds value error multiplicatively, uniformly across the
tail).

* ``ddsketch_price_quantiles`` — γ = 1.02 log-bucketed sketch of
  l_extendedprice cents: bucket = ⌈ln(v)/ln γ⌉, counts per bucket
  (one hash aggregate — the sketch is trivially mergeable because
  buckets are keyed by index), then p50/p90/p95/p99 read off the
  cumulative bucket scan with EXACT integer ranks
  (r = ⌈q·n⌉ via integer multiply-divide, never float), estimate
  2·γ^b/(γ+1) (bucket midpoint in relative terms).  ln γ is embedded
  as the SAME Python-computed literal in both engines so the only
  engine-computed float is ln(v) — and the guaranteed bound
  (γ−1)/(γ+1) ≈ 0.99% is emitted beside each estimate.

100-TB shape: the sketch IS the scale story — one map-side-combinable
groupBy over ~580 bucket keys regardless of corpus size (the bucket
count grows with the log of the value RANGE, not with rows); the
cumulative scan and the 4-quantile probe run on that bounded frame.
Contrast with exact_price_quartiles' global two-phase rank: this is
the one-pass mergeable answer with a uniform relative guarantee.

Identity property (tests/test_properties.py): on random positive
integers, every value in bucket b satisfies |2γ^b/(γ+1) − v|/v ≤
(γ−1)/(γ+1) (+ float slop), and the rank-r probe returns exactly the
bucket containing the rank-r order statistic.

No reference counterpart (sketch extension alongside
plans/round5_sketch2.py); public algorithm only.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.caching import tracked_cache
from ..sources.tables import load_table
from . import QuerySpec

#: DDSketch relative-accuracy parameter
DD_GAMMA = 1.02
#: ln(gamma), computed ONCE in Python and embedded as the same literal
#: in both engines (repr round-trips the exact double)
DD_LOG_GAMMA = math.log(DD_GAMMA)
#: guaranteed relative error (gamma-1)/(gamma+1)
DD_REL_ERR = (DD_GAMMA - 1.0) / (DD_GAMMA + 1.0)
#: quantiles probed, as exact rationals
DD_QUANTILES = (("p50", 1, 2), ("p90", 9, 10), ("p95", 19, 20), ("p99", 99, 100))


def _q_ddsketch_price_quantiles(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    buckets = (
        li.select(
            F.ceil(
                F.log(
                    F.round(F.col("l_extendedprice") * 100)
                    .cast("bigint")
                    .cast("double")
                )
                / F.lit(DD_LOG_GAMMA)
            )
            .cast("int")
            .alias("b")
        )
        .groupBy("b")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    # cumulative scan over the BOUNDED bucket frame (~580 rows at any
    # corpus size — the sketch domain, never data rows); cached: all
    # four quantile legs probe it
    cum = tracked_cache(
        buckets.select(
            "b",
            F.sum("cnt").over(
                Window.orderBy("b").rowsBetween(Window.unboundedPreceding, 0)
            ).alias("cum"),
            F.sum("cnt").over(Window.partitionBy()).alias("n"),
        )
    )
    qs = None
    for qname, num, den in DD_QUANTILES:
        leg = (
            cum.where(
                F.col("cum")
                >= F.expr(f"CAST((n * {num} + {den - 1}) div {den} AS BIGINT)")
            )
            .groupBy("n")
            .agg(F.min("b").alias("bucket"))
            .select(
                F.lit(qname).alias("q"),
                F.col("n").alias("n_rows"),
                "bucket",
                F.round(
                    F.lit(2.0)
                    * F.exp(F.col("bucket").cast("double") * F.lit(DD_LOG_GAMMA))
                    / F.lit(DD_GAMMA + 1.0)
                    / F.lit(100.0),
                    4,
                ).alias("est_price"),
                F.lit(round(DD_REL_ERR, 6)).alias("rel_err_bound"),
            )
        )
        qs = leg if qs is None else qs.unionByName(leg)
    return qs.orderBy("q")


def _sql_ddsketch() -> str:
    legs = []
    for qname, num, den in DD_QUANTILES:
        legs.append(
            f"""SELECT '{qname}' AS q,
       -- window sum() over BIGINT is HUGEINT in DuckDB; narrow the FINAL
       -- projection to BIGINT (values are plain row counts — r10 verdict:
       -- the driver hash breaks on int128 output even when values match).
       CAST(n AS BIGINT) AS n_rows, min(b) AS bucket,
       round(2.0 * exp(CAST(min(b) AS DOUBLE) * {DD_LOG_GAMMA!r})
             / {DD_GAMMA + 1.0!r} / 100.0, 4) AS est_price,
       CAST({round(DD_REL_ERR, 6)!r} AS DOUBLE) AS rel_err_bound
FROM cum WHERE cum >= (n * {num} + {den - 1}) // {den}
GROUP BY n"""
        )
    return (
        f"""
WITH buckets AS MATERIALIZED (
  SELECT CAST(ceil(ln(CAST(CAST(round(l_extendedprice * 100, 0) AS BIGINT)
                           AS DOUBLE)) / {DD_LOG_GAMMA!r}) AS INT) AS b,
         count(*) AS cnt
  FROM lineitem GROUP BY 1
), cum AS MATERIALIZED (
  SELECT b,
         sum(cnt) OVER (ORDER BY b
                        ROWS UNBOUNDED PRECEDING) AS cum,
         sum(cnt) OVER () AS n
  FROM buckets
)
"""
        + "\nUNION ALL\n".join(legs)
        + "\nORDER BY q\n"
    )


SPECS: dict[str, QuerySpec] = {
    "ddsketch_price_quantiles": QuerySpec(
        _q_ddsketch_price_quantiles,
        _sql_ddsketch(),
        "DDSketch (gamma=1.02) relative-error quantiles of line price: "
        "log-bucket hash agg (mergeable, ~580 keys at any SF), exact "
        "integer rank probe, 0.99% guaranteed relative bound emitted",
    ),
}
