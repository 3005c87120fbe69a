"""Round-11 sampling-design pack: Neyman optimal allocation of a
sampling budget across document sources — the planning query a
corpus-quality team runs BEFORE drawing an audit sample ("given 1000
human reviews, how many per source?"), allocated to minimize the
estimator variance and rounded by the largest-remainder (Hamilton)
method so the integer allocations provably respect the quota rule.

* ``neyman_allocation_sources`` — strata are the document sources;
  per stratum: N_h (docs) and the text-length standard deviation S_h
  from the exact integer moments (n·Σx² − (Σx)², one scan).  Neyman
  weight w_h = N_h·S_h; real quota q_h = B·w_h / Σw for budget
  B = 1000; integer allocation = floor(q_h) plus one extra for the
  (B − Σfloor) largest remainders (remainder desc, source asc
  tiebreak — deterministic on both engines).  Output per stratum:
  N_h, S_h micro, quota micro, the allocation, and THREE in-band
  certificates: the budget identity Σalloc = B (same row, corpus
  constant), and the Hamilton quota rule floor(q) ≤ alloc ≤ ceil(q)
  as per-row booleans.

100-TB shape: one documents scan → per-source moments (hash agg,
map-side partial) → all allocation arithmetic on the
dimension-bounded source frame (~20 rows at any SF; the dense_rank
over it is the stable_matching precedent).

Identity properties (tests/test_properties.py): the pure-Python
replica satisfies the quota rule and the budget identity on random
instances; equal-variance equal-size strata split the budget evenly;
a zero-variance stratum draws zero (beyond remainder effects —
asserted via quota bounds).

No reference counterpart (sampling-design extension alongside
plans/profiling_ext.py); public method only (Neyman 1934, Hamilton
apportionment).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.caching import tracked_cache
from ..sources.tables import load_table
from . import QuerySpec

#: sampling budget to allocate
NEYMAN_BUDGET = 1000


def _q_neyman_allocation_sources(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    strata = tracked_cache(
        docs.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_h"),
            F.sum(F.length("text").cast("bigint")).alias("sx"),
            F.sum(
                F.length("text").cast("bigint")
                * F.length("text").cast("bigint")
            ).alias("sxx"),
        )
        .select(
            "source",
            "n_h",
            # population std: sqrt((n*sxx - sx^2)) / n — the integer
            # moment difference is exact, the sqrt is the only double
            F.expr(
                "sqrt(CAST(n_h * sxx - sx * sx AS DOUBLE)) / n_h"
            ).alias("s_h"),
        )
        .select(
            "source",
            "n_h",
            "s_h",
            (F.col("n_h") * F.col("s_h")).alias("w_h"),
        )
    )
    tot = strata.agg(F.sum("w_h").alias("w_tot"))
    q = strata.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_h",
        "s_h",
        (F.lit(NEYMAN_BUDGET) * F.col("w_h") / F.col("w_tot")).alias(
            "quota"
        ),
    )
    q = q.select(
        "source",
        "n_h",
        "s_h",
        "quota",
        F.floor("quota").cast("bigint").alias("fl"),
        (F.col("quota") - F.floor("quota")).alias("rem"),
    )
    base = q.agg(F.sum("fl").alias("fl_tot"))
    ranked = q.crossJoin(F.broadcast(base)).select(
        "source",
        "n_h",
        "s_h",
        "quota",
        "fl",
        (F.lit(NEYMAN_BUDGET) - F.col("fl_tot")).alias("n_extra"),
        # dimension-bounded frame (~20 sources at any SF): the global
        # rank is the stable_matching dense_rank precedent
        F.expr(
            "rank() OVER (ORDER BY quota - fl DESC, source)"
        ).alias("rrk"),
    )
    out = ranked.select(
        "source",
        "n_h",
        F.expr("CAST(round(s_h * 1000000, 0) AS BIGINT)").alias(
            "s_h_micro"
        ),
        F.expr("CAST(round(quota * 1000000, 0) AS BIGINT)").alias(
            "quota_micro"
        ),
        (
            F.col("fl")
            + F.when(F.col("rrk") <= F.col("n_extra"), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("alloc"),
        "quota",
        "fl",
    )
    tot_alloc = out.agg(F.sum("alloc").alias("alloc_tot"))
    return (
        out.crossJoin(F.broadcast(tot_alloc))
        .select(
            "source",
            "n_h",
            "s_h_micro",
            "quota_micro",
            "alloc",
            (F.col("alloc_tot") == NEYMAN_BUDGET).alias("budget_ok"),
            (
                (F.col("alloc") >= F.col("fl"))
                & (F.col("alloc") <= F.col("fl") + 1)
            ).alias("quota_rule_ok"),
        )
        .orderBy("source")
    )


_SQL_NEYMAN = f"""
WITH strata AS MATERIALIZED (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n_h,
         CAST(sum(length(text)) AS BIGINT) AS sx,
         CAST(sum(length(text) * length(text)) AS BIGINT) AS sxx
  FROM documents GROUP BY source
), w AS MATERIALIZED (
  SELECT source, n_h,
         sqrt(CAST(n_h * sxx - sx * sx AS DOUBLE)) / n_h AS s_h,
         n_h * (sqrt(CAST(n_h * sxx - sx * sx AS DOUBLE)) / n_h) AS w_h
  FROM strata
), q AS MATERIALIZED (
  SELECT source, n_h, s_h,
         {NEYMAN_BUDGET} * w_h / (SELECT sum(w_h) FROM w) AS quota
  FROM w
), f AS MATERIALIZED (
  SELECT source, n_h, s_h, quota,
         CAST(floor(quota) AS BIGINT) AS fl,
         quota - floor(quota) AS rem
  FROM q
), r AS MATERIALIZED (
  SELECT f.*,
         {NEYMAN_BUDGET} - (SELECT sum(fl) FROM f) AS n_extra,
         rank() OVER (ORDER BY rem DESC, source) AS rrk
  FROM f
), alloc AS MATERIALIZED (
  SELECT source, n_h,
         CAST(round(s_h * 1000000, 0) AS BIGINT) AS s_h_micro,
         CAST(round(quota * 1000000, 0) AS BIGINT) AS quota_micro,
         CAST(fl + CASE WHEN rrk <= n_extra THEN 1 ELSE 0 END
           AS BIGINT) AS alloc,
         fl
  FROM r
)
SELECT source, n_h, s_h_micro, quota_micro, alloc,
       (SELECT CAST(sum(alloc) AS BIGINT) FROM alloc)
         = {NEYMAN_BUDGET} AS budget_ok,
       alloc >= fl AND alloc <= fl + 1 AS quota_rule_ok
FROM alloc
ORDER BY source
"""


SPECS: dict[str, QuerySpec] = {
    "neyman_allocation_sources": QuerySpec(
        _q_neyman_allocation_sources,
        _SQL_NEYMAN,
        "Neyman optimal sampling allocation across sources (exact "
        "integer moments, largest-remainder rounding with "
        "deterministic ties): per-stratum allocation with the budget "
        "identity and the Hamilton quota rule certified in-band",
    ),
}
