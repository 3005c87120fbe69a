"""Round-6 data-quality / profiling pack 2 — constraint discovery and
sampling-plan queries a 100 TB curation pipeline runs before committing
to a layout or a sample.

* ``candidate_key_audit`` — per orders column: exact distinct count vs
  row count and the is-candidate-key verdict.  One pass; the distinct
  counts are exact (this is the audit that VALIDATES the approximate
  ``approx_distinct_users`` family, so it must not itself estimate).
* ``functional_dependency_check`` — violation counts for three
  candidate FDs over lineitem (partkey→suppkey, orderkey→shipdate,
  (partkey,suppkey)→extendedprice): groups where the RHS is not
  unique, plus the worst group's RHS cardinality.  The classic
  profiling primitive behind normalization / dedup-key design.
* ``neyman_allocation_plan`` — optimal stratified-sample allocation
  n_g ∝ N_g·S_g over order-priority strata for a fixed total budget;
  S_g from decimal-exact moments, the rounding is deterministic
  ``floor(x+0.5)`` (IEEE-identical cross-engine, unlike ``round``'s
  half rule).
* ``chao1_cardinality_audit`` — estimate |distinct l_partkey| from a
  deterministic 10% arithmetic-hash sample with the Chao1
  singleton/doubleton estimator, next to the exact count and the
  relative error.  The estimate-vs-exact audit discipline of the
  ``*_bounded`` sketch entries, applied to sample-based cardinality
  estimation (the thing a planner does before choosing a join
  strategy on an unindexed key).
* ``dtype_downcast_advisor`` — per integer-ish lineitem column: exact
  min/max, the narrowest safe integer width, and projected bytes
  saved per row.  Complements ``encoding_advisor`` (codec choice)
  with type-width planning for the 100 TB writer.

100 TB shape: each query is one or a few hash aggregates over the fact
scan; the FD check groups on the LHS key (same shuffle a dedup on that
key would pay); nothing materializes more than a per-group frame.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load_table
from . import QuerySpec

# --------------------------------------------------------------------------
# candidate_key_audit
# --------------------------------------------------------------------------

_CK_COLS = [
    "o_orderkey",
    "o_custkey",
    "o_orderstatus",
    "o_totalprice",
    "o_orderdate",
    "o_orderpriority",
]


def _q_candidate_key_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    agg = orders.agg(
        F.count(F.lit(1)).alias("n_rows"),
        *[F.countDistinct(c).alias(f"d_{c}") for c in _CK_COLS],
    )
    rows = None
    for c in _CK_COLS:
        row = agg.select(
            F.lit(c).alias("column_name"),
            F.col("n_rows"),
            F.col(f"d_{c}").alias("n_distinct"),
            (F.col(f"d_{c}") == F.col("n_rows")).alias("is_candidate_key"),
        )
        rows = row if rows is None else rows.unionByName(row)
    return rows


_SQL_CANDIDATE_KEY_AUDIT = "\nUNION ALL\n".join(
    f"""SELECT '{c}' AS column_name,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct,
       count(DISTINCT {c}) = count(*) AS is_candidate_key
FROM orders"""
    for c in _CK_COLS
)


# --------------------------------------------------------------------------
# functional_dependency_check
# --------------------------------------------------------------------------

_FDS = [
    ("l_partkey->l_suppkey", ["l_partkey"], "l_suppkey"),
    ("l_orderkey->l_shipdate", ["l_orderkey"], "l_shipdate"),
    ("l_partkey,l_suppkey->l_extendedprice", ["l_partkey", "l_suppkey"], "l_extendedprice"),
]


def _q_functional_dependency_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem")
    out = None
    for fd_name, lhs, rhs in _FDS:
        g = lineitem.groupBy(*lhs).agg(F.countDistinct(rhs).alias("d_rhs"))
        row = g.agg(
            F.lit(fd_name).alias("fd"),
            F.count(F.lit(1)).alias("n_groups"),
            F.sum((F.col("d_rhs") > 1).cast("bigint")).alias("violating_groups"),
            F.max("d_rhs").alias("max_rhs_cardinality"),
        ).select(
            "fd",
            "n_groups",
            "violating_groups",
            "max_rhs_cardinality",
            (F.col("violating_groups") == 0).alias("holds"),
        )
        out = row if out is None else out.unionByName(row)
    return out


_SQL_FUNCTIONAL_DEPENDENCY_CHECK = "\nUNION ALL\n".join(
    f"""SELECT '{fd_name}' AS fd,
       CAST(count(*) AS BIGINT) AS n_groups,
       CAST(sum(CASE WHEN d_rhs > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS violating_groups,
       CAST(max(d_rhs) AS BIGINT) AS max_rhs_cardinality,
       sum(CASE WHEN d_rhs > 1 THEN 1 ELSE 0 END) = 0 AS holds
FROM (
  SELECT count(DISTINCT {rhs}) AS d_rhs
  FROM lineitem GROUP BY {', '.join(lhs)}
)"""
    for fd_name, lhs, rhs in _FDS
)


# --------------------------------------------------------------------------
# neyman_allocation_plan
# --------------------------------------------------------------------------

_NEYMAN_BUDGET = 1000


def _q_neyman_allocation_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    grp = (
        orders.select(
            F.col("o_orderpriority").alias("stratum"),
            F.col("o_totalprice").cast("decimal(18,2)").alias("y"),
        )
        .groupBy("stratum")
        .agg(
            F.count(F.lit(1)).alias("n_g"),
            F.sum("y").alias("s_g"),
            F.sum((F.col("y") * F.col("y")).cast("decimal(38,4)")).alias("q_g"),
        )
    )
    nd = F.col("n_g").cast("double")
    mean = F.col("s_g").cast("double") / nd
    sd = F.sqrt((F.col("q_g").cast("double") - nd * mean * mean) / (nd - 1))
    weighted = grp.select("stratum", "n_g", (nd * sd).alias("w"), sd.alias("sd"))
    tot = weighted.agg(F.sum("w").alias("w_tot"))
    return (
        weighted.crossJoin(F.broadcast(tot))
        .select(
            "stratum",
            "n_g",
            F.round("sd", 6).alias("stddev"),
            F.round(F.col("w") / F.col("w_tot"), 6).alias("alloc_share"),
            F.floor(
                F.col("w") / F.col("w_tot") * F.lit(float(_NEYMAN_BUDGET)) + F.lit(0.5)
            )
            .cast("bigint")
            .alias("alloc_n"),
        )
    )


_SQL_NEYMAN_ALLOCATION_PLAN = f"""
WITH grp AS (
  SELECT o_orderpriority AS stratum,
         CAST(count(*) AS BIGINT) AS n_g,
         sum(CAST(o_totalprice AS DECIMAL(18,2))) AS s_g,
         sum(CAST(CAST(o_totalprice AS DECIMAL(18,2))
                  * CAST(o_totalprice AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS q_g
  FROM orders GROUP BY 1
), weighted AS (
  SELECT stratum, n_g,
         sqrt((CAST(q_g AS DOUBLE)
               - CAST(n_g AS DOUBLE)
                 * (CAST(s_g AS DOUBLE) / CAST(n_g AS DOUBLE))
                 * (CAST(s_g AS DOUBLE) / CAST(n_g AS DOUBLE)))
              / (CAST(n_g AS DOUBLE) - 1)) AS sd,
         CAST(n_g AS DOUBLE)
           * sqrt((CAST(q_g AS DOUBLE)
                   - CAST(n_g AS DOUBLE)
                     * (CAST(s_g AS DOUBLE) / CAST(n_g AS DOUBLE))
                     * (CAST(s_g AS DOUBLE) / CAST(n_g AS DOUBLE)))
                  / (CAST(n_g AS DOUBLE) - 1)) AS w
  FROM grp
), tot AS (
  SELECT sum(w) AS w_tot FROM weighted
)
SELECT stratum, n_g,
       round(sd, 6) AS stddev,
       round(w / w_tot, 6) AS alloc_share,
       CAST(floor(w / w_tot * {float(_NEYMAN_BUDGET)!r} + 0.5) AS BIGINT) AS alloc_n
FROM weighted CROSS JOIN tot
"""


# --------------------------------------------------------------------------
# chao1_cardinality_audit
# --------------------------------------------------------------------------

# deterministic arithmetic "hash": Knuth multiplicative constant; keeps
# both engines bit-identical (xxhash64 exists only on the Spark side)
_CHAO_MULT = 2654435761
_CHAO_MOD = 100
_CHAO_KEEP = 10  # 10% sample


def _q_chao1_cardinality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem")
    exact = lineitem.agg(F.countDistinct("l_partkey").alias("exact_distinct"))
    sample = lineitem.where(
        (F.col("l_partkey") * _CHAO_MULT) % _CHAO_MOD < _CHAO_KEEP
    )
    per_key = sample.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("c"))
    stats = per_key.agg(
        F.count(F.lit(1)).alias("d_sample"),
        F.sum((F.col("c") == 1).cast("bigint")).alias("f1"),
        F.sum((F.col("c") == 2).cast("bigint")).alias("f2"),
    )
    d = F.col("d_sample").cast("double")
    f1 = F.col("f1").cast("double")
    f2 = F.col("f2").cast("double")
    # bias-corrected Chao1 (safe when f2 = 0), then scale the sampled
    # key-space fraction back up: keys were sampled at KEEP/MOD
    chao_sample = d + f1 * (f1 - 1) / (2.0 * (f2 + 1.0))
    est = chao_sample * F.lit(float(_CHAO_MOD) / _CHAO_KEEP)
    return stats.crossJoin(F.broadcast(exact)).select(
        "d_sample",
        "f1",
        "f2",
        "exact_distinct",
        F.round(est, 2).alias("chao1_estimate"),
        F.round(
            F.abs(est - F.col("exact_distinct").cast("double"))
            / F.col("exact_distinct").cast("double"),
            6,
        ).alias("rel_err"),
    )


_SQL_CHAO1_CARDINALITY_AUDIT = f"""
WITH exact AS (
  SELECT CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_distinct FROM lineitem
), per_key AS (
  SELECT l_partkey, count(*) AS c
  FROM lineitem
  WHERE (l_partkey * {_CHAO_MULT}) % {_CHAO_MOD} < {_CHAO_KEEP}
  GROUP BY 1
), stats AS (
  SELECT CAST(count(*) AS BIGINT) AS d_sample,
         CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
         CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2
  FROM per_key
)
SELECT d_sample, f1, f2, exact_distinct,
       round((CAST(d_sample AS DOUBLE)
              + CAST(f1 AS DOUBLE) * (CAST(f1 AS DOUBLE) - 1)
                / (2.0 * (CAST(f2 AS DOUBLE) + 1.0)))
             * {float(_CHAO_MOD) / _CHAO_KEEP!r}, 2) AS chao1_estimate,
       round(abs((CAST(d_sample AS DOUBLE)
                  + CAST(f1 AS DOUBLE) * (CAST(f1 AS DOUBLE) - 1)
                    / (2.0 * (CAST(f2 AS DOUBLE) + 1.0)))
                 * {float(_CHAO_MOD) / _CHAO_KEEP!r}
                 - CAST(exact_distinct AS DOUBLE))
             / CAST(exact_distinct AS DOUBLE), 6) AS rel_err
FROM stats CROSS JOIN exact
"""


# --------------------------------------------------------------------------
# dtype_downcast_advisor
# --------------------------------------------------------------------------

_DC_COLS = ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity"]
_CURRENT_BYTES = 8  # columns land as 64-bit in the raw parquet


def _q_dtype_downcast_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem")
    agg = lineitem.agg(
        *[F.min(F.col(c).cast("bigint")).alias(f"min_{c}") for c in _DC_COLS],
        *[F.max(F.col(c).cast("bigint")).alias(f"max_{c}") for c in _DC_COLS],
    )
    rows = None
    for c in _DC_COLS:
        lo, hi = F.col(f"min_{c}"), F.col(f"max_{c}")
        width = (
            F.when((lo >= -128) & (hi <= 127), F.lit(1))
            .when((lo >= -32768) & (hi <= 32767), F.lit(2))
            .when((lo >= -2147483648) & (hi <= 2147483647), F.lit(4))
            .otherwise(F.lit(8))
        )
        row = agg.select(
            F.lit(c).alias("column_name"),
            lo.alias("min_val"),
            hi.alias("max_val"),
            width.alias("narrowest_bytes"),
            (F.lit(_CURRENT_BYTES) - width).alias("bytes_saved_per_row"),
        )
        rows = row if rows is None else rows.unionByName(row)
    return rows


_SQL_DTYPE_DOWNCAST_ADVISOR = "\nUNION ALL\n".join(
    f"""SELECT '{c}' AS column_name,
       CAST(min(CAST({c} AS BIGINT)) AS BIGINT) AS min_val,
       CAST(max(CAST({c} AS BIGINT)) AS BIGINT) AS max_val,
       CASE WHEN min(CAST({c} AS BIGINT)) >= -128
                 AND max(CAST({c} AS BIGINT)) <= 127 THEN 1
            WHEN min(CAST({c} AS BIGINT)) >= -32768
                 AND max(CAST({c} AS BIGINT)) <= 32767 THEN 2
            WHEN min(CAST({c} AS BIGINT)) >= -2147483648
                 AND max(CAST({c} AS BIGINT)) <= 2147483647 THEN 4
            ELSE 8 END AS narrowest_bytes,
       {_CURRENT_BYTES} - (CASE WHEN min(CAST({c} AS BIGINT)) >= -128
                 AND max(CAST({c} AS BIGINT)) <= 127 THEN 1
            WHEN min(CAST({c} AS BIGINT)) >= -32768
                 AND max(CAST({c} AS BIGINT)) <= 32767 THEN 2
            WHEN min(CAST({c} AS BIGINT)) >= -2147483648
                 AND max(CAST({c} AS BIGINT)) <= 2147483647 THEN 4
            ELSE 8 END) AS bytes_saved_per_row
FROM lineitem"""
    for c in _DC_COLS
)


SPECS: dict[str, QuerySpec] = {
    "candidate_key_audit": QuerySpec(
        _q_candidate_key_audit,
        _SQL_CANDIDATE_KEY_AUDIT,
        "per-column exact distinct-vs-rowcount candidate-key verdict "
        "over orders (one pass, exact distincts)",
    ),
    "functional_dependency_check": QuerySpec(
        _q_functional_dependency_check,
        _SQL_FUNCTIONAL_DEPENDENCY_CHECK,
        "violation counts for three candidate functional dependencies "
        "over lineitem (LHS groupBy, RHS distinct cardinality)",
    ),
    "neyman_allocation_plan": QuerySpec(
        _q_neyman_allocation_plan,
        _SQL_NEYMAN_ALLOCATION_PLAN,
        "Neyman-optimal stratified-sample allocation over order "
        "priorities from decimal-exact per-stratum moments "
        "(deterministic floor(x+0.5) rounding)",
    ),
    "chao1_cardinality_audit": QuerySpec(
        _q_chao1_cardinality_audit,
        _SQL_CHAO1_CARDINALITY_AUDIT,
        "Chao1 distinct-count estimate from a deterministic 10% "
        "arithmetic-hash key sample, audited against the exact count",
    ),
    "dtype_downcast_advisor": QuerySpec(
        _q_dtype_downcast_advisor,
        _SQL_DTYPE_DOWNCAST_ADVISOR,
        "narrowest safe integer width per lineitem key column with "
        "projected bytes saved per row (layout planning for the "
        "100 TB writer)",
    ),
}
