"""Round-7 composed canary #4 — the experiment-readout pipeline.

``experiment_readout_e2e`` chains the three gates of an A/B readout —
the queries exist separately (``ab_srm_check``, ``welch_t_segments``'s
machinery, ``bh_fdr_segments``'s z machinery) but a real readout runs
them as ONE job over ONE assignment of users to arms:

1. deterministic 50/50 hash split of customers (the same
   ``(c_custkey·2654435761) % 100 < 50`` split as ``ab_srm_check``);
2. SRM gate: chi-square(1) of the realized split;
3. primary metric: Welch's t of order value between arms (exact
   cents/cents² moments, closed form);
4. guardrail: two-proportion z of urgent-order share between arms.

Everything reduces to ONE customer scan (the arm assignment) and ONE
orders scan feeding a single (arm)-keyed hash aggregate; the three
verdict rows combine via 1-row broadcasts.  At 100 TB this is the
pre-flight readout shape: no shuffle wider than the 2-row arm
aggregate ever materializes.

No reference counterpart; composed canary alongside
``dedup_pipeline_e2e`` / ``corpus_curation_e2e`` / ``bi_dashboard_e2e``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load_table
from . import QuerySpec

_MULT = 2654435761
_CRIT = 3.841


def _q_experiment_readout_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    arms = customer.select(
        "c_custkey",
        ((F.col("c_custkey") * _MULT) % 100 < 50).alias("in_a"),
    )
    # SRM leg: realized split of the CUSTOMER population
    srm = arms.agg(
        F.count(F.lit(1)).alias("n_cust"),
        F.sum(F.col("in_a").cast("bigint")).alias("n_cust_a"),
    )
    nd = F.col("n_cust").cast("double")
    na = F.col("n_cust_a").cast("double")
    exp = nd / 2.0
    chi2 = (na - exp) * (na - exp) / exp + (nd - na - exp) * (nd - na - exp) / exp
    srm_row = srm.select(
        "n_cust",
        F.round(chi2, 6).alias("srm_chi2"),
        (chi2 > _CRIT).alias("srm_flag"),
    )
    # one orders scan -> per-arm exact moments (value + urgent share)
    fact = orders.join(F.broadcast(arms), orders["o_custkey"] == arms["c_custkey"])
    per_arm = fact.groupBy("in_a").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias("s"),
        F.sum(
            F.round(F.col("o_totalprice") * 100).cast("decimal(19,0)")
            * F.round(F.col("o_totalprice") * 100).cast("decimal(19,0)")
        ).alias("q"),
        F.sum((F.col("o_orderpriority") == "1-URGENT").cast("bigint")).alias("nu"),
    )
    wide = per_arm.groupBy().agg(
        F.sum(F.when(F.col("in_a"), F.col("n"))).alias("n1"),
        F.sum(F.when(F.col("in_a"), F.col("s"))).alias("s1"),
        F.sum(F.when(F.col("in_a"), F.col("q"))).alias("q1"),
        F.sum(F.when(F.col("in_a"), F.col("nu"))).alias("u1"),
        F.sum(F.when(~F.col("in_a"), F.col("n"))).alias("n2"),
        F.sum(F.when(~F.col("in_a"), F.col("s"))).alias("s2"),
        F.sum(F.when(~F.col("in_a"), F.col("q"))).alias("q2"),
        F.sum(F.when(~F.col("in_a"), F.col("nu"))).alias("u2"),
    )
    n1 = F.col("n1").cast("double")
    n2 = F.col("n2").cast("double")
    m1 = F.col("s1").cast("double") / (100.0 * n1)
    m2 = F.col("s2").cast("double") / (100.0 * n2)
    v1 = (
        F.col("q1").cast("double")
        - F.col("s1").cast("double") * F.col("s1").cast("double") / n1
    ) / ((n1 - 1.0) * 10000.0)
    v2 = (
        F.col("q2").cast("double")
        - F.col("s2").cast("double") * F.col("s2").cast("double") / n2
    ) / ((n2 - 1.0) * 10000.0)
    t = (m1 - m2) / F.sqrt(v1 / n1 + v2 / n2)
    p1 = F.col("u1").cast("double") / n1
    p2 = F.col("u2").cast("double") / n2
    pp = (F.col("u1") + F.col("u2")).cast("double") / (n1 + n2)
    z = (p1 - p2) / F.sqrt(pp * (1.0 - pp) * (1.0 / n1 + 1.0 / n2))
    metrics = wide.select(
        F.col("n1").alias("n_orders_a"),
        F.col("n2").alias("n_orders_b"),
        F.round(m1 - m2, 6).alias("value_diff"),
        F.round(t, 6).alias("value_welch_t"),
        F.round(p1 - p2, 6).alias("urgent_share_diff"),
        F.round(z, 6).alias("urgent_z"),
    )
    return srm_row.crossJoin(F.broadcast(metrics))


_SQL_EXPERIMENT_READOUT_E2E = f"""
WITH arms AS (
  SELECT c_custkey,
         (c_custkey * {_MULT}) % 100 < 50 AS in_a
  FROM customer
), srm AS (
  SELECT CAST(count(*) AS BIGINT) AS n_cust,
         CAST(sum(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT) AS n_cust_a
  FROM arms
), srm_row AS (
  SELECT n_cust,
         round((n_cust_a - CAST(n_cust AS DOUBLE) / 2)
                 * (n_cust_a - CAST(n_cust AS DOUBLE) / 2)
                 / (CAST(n_cust AS DOUBLE) / 2)
               + ((n_cust - n_cust_a) - CAST(n_cust AS DOUBLE) / 2)
                 * ((n_cust - n_cust_a) - CAST(n_cust AS DOUBLE) / 2)
                 / (CAST(n_cust AS DOUBLE) / 2), 6) AS srm_chi2,
         ((n_cust_a - CAST(n_cust AS DOUBLE) / 2)
            * (n_cust_a - CAST(n_cust AS DOUBLE) / 2)
            / (CAST(n_cust AS DOUBLE) / 2)
          + ((n_cust - n_cust_a) - CAST(n_cust AS DOUBLE) / 2)
            * ((n_cust - n_cust_a) - CAST(n_cust AS DOUBLE) / 2)
            / (CAST(n_cust AS DOUBLE) / 2)) > {_CRIT} AS srm_flag
  FROM srm
), fact AS (
  SELECT a.in_a,
         CAST(round(o.o_totalprice * 100, 0) AS BIGINT) AS yc,
         CASE WHEN o.o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS u
  FROM orders o JOIN arms a ON o.o_custkey = a.c_custkey
), per_arm AS (
  SELECT in_a, count(*) AS n, sum(yc) AS s,
         sum(CAST(yc AS HUGEINT) * yc) AS q, sum(u) AS nu
  FROM fact GROUP BY in_a
), wide AS (
  SELECT sum(CASE WHEN in_a THEN n END) AS n1,
         sum(CASE WHEN in_a THEN s END) AS s1,
         sum(CASE WHEN in_a THEN q END) AS q1,
         sum(CASE WHEN in_a THEN nu END) AS u1,
         sum(CASE WHEN NOT in_a THEN n END) AS n2,
         sum(CASE WHEN NOT in_a THEN s END) AS s2,
         sum(CASE WHEN NOT in_a THEN q END) AS q2,
         sum(CASE WHEN NOT in_a THEN nu END) AS u2
  FROM per_arm
), m AS (
  SELECT CAST(n1 AS DOUBLE) AS n1d, CAST(n2 AS DOUBLE) AS n2d,
         CAST(s1 AS DOUBLE) AS s1d, CAST(s2 AS DOUBLE) AS s2d,
         CAST(q1 AS DOUBLE) AS q1d, CAST(q2 AS DOUBLE) AS q2d,
         CAST(u1 AS DOUBLE) AS u1d, CAST(u2 AS DOUBLE) AS u2d,
         n1, n2
  FROM wide
), g AS (
  SELECT n1, n2, n1d, n2d, u1d, u2d,
         s1d / (100.0 * n1d) AS m1, s2d / (100.0 * n2d) AS m2,
         (q1d - s1d * s1d / n1d) / ((n1d - 1.0) * 10000.0) AS v1,
         (q2d - s2d * s2d / n2d) / ((n2d - 1.0) * 10000.0) AS v2
  FROM m
), metrics AS (
  SELECT CAST(n1 AS BIGINT) AS n_orders_a, CAST(n2 AS BIGINT) AS n_orders_b,
         round(m1 - m2, 6) AS value_diff,
         round((m1 - m2) / sqrt(v1 / n1d + v2 / n2d), 6) AS value_welch_t,
         round(u1d / n1d - u2d / n2d, 6) AS urgent_share_diff,
         round((u1d / n1d - u2d / n2d)
               / sqrt(((u1d + u2d) / (n1d + n2d))
                      * (1.0 - (u1d + u2d) / (n1d + n2d))
                      * (1.0 / n1d + 1.0 / n2d)), 6) AS urgent_z
  FROM g
)
SELECT s.n_cust, s.srm_chi2, s.srm_flag,
       m2.n_orders_a, m2.n_orders_b, m2.value_diff, m2.value_welch_t,
       m2.urgent_share_diff, m2.urgent_z
FROM srm_row s CROSS JOIN metrics m2
"""


SPECS: dict[str, QuerySpec] = {
    "experiment_readout_e2e": QuerySpec(
        _q_experiment_readout_e2e,
        _SQL_EXPERIMENT_READOUT_E2E,
        "composed canary #4: hash-split A/B readout in one plan — SRM "
        "chi-square gate, Welch t on order value, urgent-share "
        "two-proportion z (one customer scan, one orders scan)",
    ),
}
