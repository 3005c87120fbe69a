"""Round-6 data-quality pack 3 — experiment-infrastructure and
dedup-governance audits.

* ``ab_srm_check`` — sample-ratio-mismatch: split users 50/50 by a
  deterministic arithmetic hash (the assignment an A/B system would
  make), then chi-square the observed arm sizes against the expected
  ratio.  SRM is the first gate every experiment readout runs; a
  biased hash or a logging loss shows up here before any metric is
  trusted.  One hash aggregate; the chi-square is closed form.
* ``dedup_survivorship_provenance`` — governance view of exact dedup:
  per duplicate cluster (md5 of text), how many sources contributed,
  whether the canonical survivor (min doc_id, the
  ``dedup_survivors`` rule) comes from the plurality source, and the
  cluster-level rollup (clusters, multi-source clusters, survivor-
  from-plurality share).  The audit a licensing/attribution review
  asks for before dropping duplicates.
* ``weekly_type_psi_drift`` — event-type mix PSI per ISO week against
  the first week (smoothed shares) — the schema/mix drift monitor's
  batch twin at week grain, over the bounded (weeks × types) frame.

100 TB shape: all three are hash aggregates over (user), (text
digest), and (week, type) keys; cluster provenance joins the
bounded per-cluster frames back by digest.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load_table
from . import QuerySpec

# --------------------------------------------------------------------------
# ab_srm_check
# --------------------------------------------------------------------------

_SRM_MULT = 2654435761
_SRM_CRIT = 3.841  # chi-square(1) at alpha=0.05


def _q_ab_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    arms = customer.select(
        ((F.col("c_custkey") * _SRM_MULT) % 100 < 50).cast("bigint").alias("in_a")
    )
    agg = arms.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("in_a").alias("n_a"),
    )
    nd = F.col("n").cast("double")
    na = F.col("n_a").cast("double")
    nb = nd - na
    exp = nd / 2.0
    chi2 = (na - exp) * (na - exp) / exp + (nb - exp) * (nb - exp) / exp
    return agg.select(
        "n",
        "n_a",
        (F.col("n") - F.col("n_a")).alias("n_b"),
        F.round(chi2, 6).alias("srm_chi2"),
        (chi2 > _SRM_CRIT).alias("srm_flag"),
    )


_SQL_AB_SRM_CHECK = f"""
WITH arms AS (
  SELECT CASE WHEN (c_custkey * {_SRM_MULT}) % 100 < 50 THEN 1 ELSE 0 END
           AS in_a
  FROM customer
), agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(in_a) AS BIGINT) AS n_a
  FROM arms
)
SELECT n, n_a, n - n_a AS n_b,
       round((n_a - CAST(n AS DOUBLE) / 2) * (n_a - CAST(n AS DOUBLE) / 2)
               / (CAST(n AS DOUBLE) / 2)
             + ((n - n_a) - CAST(n AS DOUBLE) / 2)
               * ((n - n_a) - CAST(n AS DOUBLE) / 2)
               / (CAST(n AS DOUBLE) / 2), 6) AS srm_chi2,
       ((n_a - CAST(n AS DOUBLE) / 2) * (n_a - CAST(n AS DOUBLE) / 2)
          / (CAST(n AS DOUBLE) / 2)
        + ((n - n_a) - CAST(n AS DOUBLE) / 2)
          * ((n - n_a) - CAST(n AS DOUBLE) / 2)
          / (CAST(n AS DOUBLE) / 2)) > {_SRM_CRIT!r} AS srm_flag
FROM agg
"""


# --------------------------------------------------------------------------
# dedup_survivorship_provenance
# --------------------------------------------------------------------------


def _q_dedup_survivorship_provenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.md5("text").alias("digest")
    )
    per_cluster_src = docs.groupBy("digest", "source").agg(
        F.count(F.lit(1)).alias("n_src")
    )
    clusters = docs.groupBy("digest").agg(
        F.count(F.lit(1)).alias("cluster_size"),
        F.min("doc_id").alias("survivor_id"),
        F.countDistinct("source").alias("n_sources"),
    )
    # plurality source, deterministic: max over (count, source index,
    # source) — ties break toward the HIGHEST source index, the same
    # composite both engines order identically
    plurality = per_cluster_src.groupBy("digest").agg(
        F.max(
            F.struct(
                F.col("n_src"),
                F.regexp_extract("source", r"(\d+)", 1)
                .cast("int")
                .alias("src_idx"),
                F.col("source"),
            )
        ).alias("top")
    ).select(
        "digest",
        F.col("top.source").alias("plurality_source"),
    )
    survivor_src = docs.select(
        F.col("doc_id").alias("survivor_id"),
        F.col("source").alias("survivor_source"),
    )
    joined = (
        clusters.where(F.col("cluster_size") > 1)
        .join(plurality, "digest")
        .join(survivor_src, "survivor_id")
    )
    return joined.agg(
        F.count(F.lit(1)).alias("n_dup_clusters"),
        F.sum((F.col("n_sources") > 1).cast("bigint")).alias("multi_source_clusters"),
        F.round(
            F.avg(
                (F.col("survivor_source") == F.col("plurality_source")).cast("double")
            ),
            6,
        ).alias("survivor_plurality_share"),
    )


_SQL_DEDUP_SURVIVORSHIP_PROVENANCE = """
WITH docs AS (
  SELECT doc_id, source, md5(text) AS digest FROM documents
), per_cluster_src AS (
  SELECT digest, source, CAST(count(*) AS BIGINT) AS n_src
  FROM docs GROUP BY 1, 2
), clusters AS (
  SELECT digest, CAST(count(*) AS BIGINT) AS cluster_size,
         min(doc_id) AS survivor_id,
         CAST(count(DISTINCT source) AS BIGINT) AS n_sources
  FROM docs GROUP BY 1
), plurality AS (
  SELECT digest,
         (max(ROW(n_src,
                  CAST(regexp_extract(source, '(\\d+)', 1) AS INT),
                  source)))[3] AS plurality_source
  FROM per_cluster_src GROUP BY digest
), survivor_src AS (
  SELECT doc_id AS survivor_id, source AS survivor_source FROM docs
)
SELECT CAST(count(*) AS BIGINT) AS n_dup_clusters,
       CAST(sum(CASE WHEN c.n_sources > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS multi_source_clusters,
       round(avg(CASE WHEN s.survivor_source = p.plurality_source
                      THEN 1.0 ELSE 0.0 END), 6) AS survivor_plurality_share
FROM clusters c
JOIN plurality p ON c.digest = p.digest
JOIN survivor_src s ON c.survivor_id = s.survivor_id
WHERE c.cluster_size > 1
"""


# --------------------------------------------------------------------------
# weekly_type_psi_drift
# --------------------------------------------------------------------------

_PSI_EPS = 1e-4  # share smoothing so log terms stay finite


def _q_weekly_type_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    staged = events.select(
        F.weekofyear(
            F.timestamp_micros(F.unix_micros(F.col("ts")))
        ).alias("week"),
        "event_type",
    )
    cells = staged.groupBy("week", "event_type").agg(
        F.count(F.lit(1)).alias("c")
    )
    week_tot = cells.groupBy("week").agg(F.sum("c").alias("n_w"))
    shares = cells.join(week_tot, "week").select(
        "week",
        "event_type",
        (
            F.col("c").cast("double") / F.col("n_w").cast("double") + _PSI_EPS
        ).alias("p"),
    )
    first_week = shares.agg(F.min("week").alias("w0"))
    ref = (
        shares.crossJoin(F.broadcast(first_week))
        .where(F.col("week") == F.col("w0"))
        .select(F.col("event_type"), F.col("p").alias("p_ref"))
    )
    terms = shares.join(F.broadcast(ref), "event_type").select(
        "week",
        (
            (F.col("p") - F.col("p_ref"))
            * F.log(F.col("p") / F.col("p_ref"))
        ).alias("term"),
    )
    return terms.groupBy("week").agg(
        F.round(F.sum("term"), 6).alias("psi_vs_week1")
    )


_SQL_WEEKLY_TYPE_PSI_DRIFT = f"""
WITH staged AS (
  SELECT weekofyear(ts) AS week, event_type FROM events
), cells AS (
  SELECT week, event_type, CAST(count(*) AS BIGINT) AS c
  FROM staged GROUP BY 1, 2
), week_tot AS (
  SELECT week, CAST(sum(c) AS BIGINT) AS n_w FROM cells GROUP BY 1
), shares AS (
  SELECT c.week, c.event_type,
         CAST(c.c AS DOUBLE) / w.n_w + {_PSI_EPS!r} AS p
  FROM cells c JOIN week_tot w ON c.week = w.week
), ref AS (
  SELECT event_type, p AS p_ref
  FROM shares WHERE week = (SELECT min(week) FROM shares)
)
SELECT s.week,
       round(sum((s.p - r.p_ref) * ln(s.p / r.p_ref)), 6) AS psi_vs_week1
FROM shares s JOIN ref r ON s.event_type = r.event_type
GROUP BY s.week
"""


SPECS: dict[str, QuerySpec] = {
    "ab_srm_check": QuerySpec(
        _q_ab_srm_check,
        _SQL_AB_SRM_CHECK,
        "sample-ratio-mismatch chi-square on a deterministic 50/50 "
        "hash split of customers (the first gate of any experiment "
        "readout)",
    ),
    "dedup_survivorship_provenance": QuerySpec(
        _q_dedup_survivorship_provenance,
        _SQL_DEDUP_SURVIVORSHIP_PROVENANCE,
        "dedup governance: per-duplicate-cluster source counts and the "
        "share of survivors drawn from the plurality source",
    ),
    "weekly_type_psi_drift": QuerySpec(
        _q_weekly_type_psi_drift,
        _SQL_WEEKLY_TYPE_PSI_DRIFT,
        "event-type mix PSI per ISO week vs the first week (smoothed "
        "shares over the bounded weeks-by-types frame)",
    ),
}
