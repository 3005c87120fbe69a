"""Round-8 wave-4 pack — agreement, distribution alignment, and dedup
economics.

* ``cohens_kappa_scorers`` — Cohen's κ chance-corrected AGREEMENT
  between the two fixed urgent-order scorers of
  ``mcnemar_fixed_scorers`` (round8_ml): McNemar asks "do they differ
  in accuracy", κ asks "do they even predict the same thing" — the
  standard pair of paired-classifier diagnostics.  Exact 2×2 counts,
  closed form κ = (p_o − p_e)/(1 − p_e).
* ``quantile_normalization_sources`` — rank-based quantile
  normalization of src0's doc-length distribution onto src1's: doc at
  rank r of n_A maps to the src1 length at rank ⌈r·n_B/n_A⌉ (exact
  integer arithmetic, source-PARTITIONED rank windows).  The
  distribution-alignment preprocessing step (batch-effect removal /
  cross-source length harmonization) expressed as two rank passes and
  one equi-join.
* ``dedup_storage_savings`` — the dedup economics readout: for every
  EXACT-duplicate group (identical normalized text), bytes retained =
  one copy, bytes saved = (n−1)·doc bytes; per-source totals plus the
  corpus saving share.  Composes the ``dedup_exact`` hash-group shape
  into the number a storage owner actually asks for.

100 TB shape: κ is one scan → 2×2 counts; quantile normalization is
two source-bounded rank windows + an equi-join on mapped rank; the
savings scan is one hash agg on text-hash + one per-source rollup.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.tables import load_table
from . import QuerySpec

_M31 = 2147483648
_MCN_PRICE_CENTS = 15_000_000


def _q_cohens_kappa_scorers(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    h = (F.col("o_custkey") * F.lit(2654435761)) % _M31
    base = orders.select(
        (h.bitwiseAND(F.lit(65536)) == 0).alias("pa"),
        (
            F.round(F.col("o_totalprice") * 100).cast("bigint")
            < _MCN_PRICE_CENTS
        ).alias("pb"),
    )
    mom = base.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((F.col("pa") & F.col("pb")).cast("bigint")).alias("n11"),
        F.sum((F.col("pa") & ~F.col("pb")).cast("bigint")).alias("n10"),
        F.sum((~F.col("pa") & F.col("pb")).cast("bigint")).alias("n01"),
        F.sum((~F.col("pa") & ~F.col("pb")).cast("bigint")).alias("n00"),
    )
    nd = F.col("n").cast("double")
    po = (F.col("n11") + F.col("n00")).cast("double") / nd
    pa1 = (F.col("n11") + F.col("n10")).cast("double") / nd
    pb1 = (F.col("n11") + F.col("n01")).cast("double") / nd
    pe = pa1 * pb1 + (1.0 - pa1) * (1.0 - pb1)
    kappa = (po - pe) / (1.0 - pe)
    return mom.select(
        F.col("n").alias("n_cases"),
        F.col("n11").alias("both_urgent"),
        F.col("n00").alias("both_not"),
        F.col("n10").alias("only_hash"),
        F.col("n01").alias("only_price"),
        F.round(po, 6).alias("observed_agreement"),
        F.round(pe, 6).alias("chance_agreement"),
        F.round(kappa, 6).alias("cohens_kappa"),
    )


_SQL_COHENS_KAPPA_SCORERS = f"""
WITH base AS (
  SELECT (((o_custkey * 2654435761) % {_M31}) & 65536 = 0) AS pa,
         (CAST(round(o_totalprice * 100, 0) AS BIGINT) < {_MCN_PRICE_CENTS})
           AS pb
  FROM orders
), mom AS (
  SELECT count(*) AS n,
         sum(CASE WHEN pa AND pb THEN 1 ELSE 0 END) AS n11,
         sum(CASE WHEN pa AND NOT pb THEN 1 ELSE 0 END) AS n10,
         sum(CASE WHEN NOT pa AND pb THEN 1 ELSE 0 END) AS n01,
         sum(CASE WHEN NOT pa AND NOT pb THEN 1 ELSE 0 END) AS n00
  FROM base
), g AS (
  SELECT n, n11, n10, n01, n00,
         CAST(n11 + n00 AS DOUBLE) / n AS po,
         (CAST(n11 + n10 AS DOUBLE) / n) * (CAST(n11 + n01 AS DOUBLE) / n)
         + (1.0 - CAST(n11 + n10 AS DOUBLE) / n)
           * (1.0 - CAST(n11 + n01 AS DOUBLE) / n) AS pe
  FROM mom
)
SELECT CAST(n AS BIGINT) AS n_cases,
       CAST(n11 AS BIGINT) AS both_urgent,
       CAST(n00 AS BIGINT) AS both_not,
       CAST(n10 AS BIGINT) AS only_hash,
       CAST(n01 AS BIGINT) AS only_price,
       round(po, 6) AS observed_agreement,
       round(pe, 6) AS chance_agreement,
       round((po - pe) / (1.0 - pe), 6) AS cohens_kappa
FROM g
"""


# --------------------------------------------------------------------------
# quantile_normalization_sources
# --------------------------------------------------------------------------

_QN_SRC_A = "src0"
_QN_SRC_B = "src1"


def _q_quantile_normalization_sources(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").where(
        F.col("source").isin(_QN_SRC_A, _QN_SRC_B)
    )
    w = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    ranked = docs.select(
        "source", "doc_id", "n_chars", F.row_number().over(w).alias("rk")
    )
    sizes = ranked.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    a = (
        ranked.where(F.col("source") == _QN_SRC_A)
        .crossJoin(
            F.broadcast(
                sizes.groupBy().agg(
                    F.sum(F.when(F.col("source") == _QN_SRC_A, F.col("n"))).alias(
                        "na"
                    ),
                    F.sum(F.when(F.col("source") == _QN_SRC_B, F.col("n"))).alias(
                        "nb"
                    ),
                )
            )
        )
        .select(
            "doc_id",
            F.col("n_chars").alias("orig_len"),
            "rk",
            # ceil(rk * nb / na) as exact integer arithmetic
            F.expr("CAST((rk * nb + na - 1) div na AS BIGINT)").alias("rk_b"),
        )
    )
    b = ranked.where(F.col("source") == _QN_SRC_B).select(
        F.col("rk").alias("rk_b"), F.col("n_chars").alias("mapped_len")
    )
    return (
        a.join(b, "rk_b")
        .select(
            "doc_id",
            "orig_len",
            F.col("rk").cast("int").alias("rank_in_a"),
            "mapped_len",
            (F.col("mapped_len") - F.col("orig_len")).alias("shift"),
        )
        .orderBy("rank_in_a")
    )


_SQL_QUANTILE_NORMALIZATION_SOURCES = f"""
WITH d AS (
  SELECT source, doc_id, n_chars,
         row_number() OVER (PARTITION BY source ORDER BY n_chars, doc_id)
           AS rk
  FROM documents WHERE source IN ('{_QN_SRC_A}', '{_QN_SRC_B}')
), sizes AS (
  SELECT sum(CASE WHEN source = '{_QN_SRC_A}' THEN 1 ELSE 0 END) AS na,
         sum(CASE WHEN source = '{_QN_SRC_B}' THEN 1 ELSE 0 END) AS nb
  FROM d
), a AS (
  SELECT d.doc_id, d.n_chars AS orig_len, d.rk,
         CAST((d.rk * s.nb + s.na - 1) // s.na AS BIGINT) AS rk_b
  FROM d CROSS JOIN sizes s WHERE d.source = '{_QN_SRC_A}'
), b AS (
  SELECT rk AS rk_b, n_chars AS mapped_len FROM d
  WHERE source = '{_QN_SRC_B}'
)
SELECT a.doc_id, a.orig_len, CAST(a.rk AS INT) AS rank_in_a,
       b.mapped_len, b.mapped_len - a.orig_len AS shift
FROM a JOIN b USING (rk_b)
ORDER BY rank_in_a
"""


# --------------------------------------------------------------------------
# dedup_storage_savings
# --------------------------------------------------------------------------


def _q_dedup_storage_savings(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "source", "n_chars", F.md5(F.col("text")).alias("th")
    )
    groups = docs.groupBy("source", "th").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("n_chars").alias("bytes_all"),
        F.max("n_chars").alias("bytes_keep"),
    )
    per_src = groups.groupBy("source").agg(
        F.sum("n").alias("n_docs"),
        F.count(F.lit(1)).alias("n_unique"),
        F.sum("bytes_all").alias("bytes_total"),
        F.sum(F.col("bytes_all") - F.col("bytes_keep")).alias("bytes_saved"),
    )
    return per_src.select(
        "source",
        "n_docs",
        "n_unique",
        (F.col("n_docs") - F.col("n_unique")).alias("n_dups"),
        "bytes_total",
        "bytes_saved",
        F.round(
            F.col("bytes_saved").cast("double")
            / F.col("bytes_total").cast("double"),
            6,
        ).alias("saving_share"),
    ).orderBy("source")


_SQL_DEDUP_STORAGE_SAVINGS = """
WITH d AS (
  SELECT source, n_chars, md5(text) AS th FROM documents
), groups AS (
  SELECT source, th, count(*) AS n, sum(n_chars) AS bytes_all,
         max(n_chars) AS bytes_keep
  FROM d GROUP BY 1, 2
)
SELECT source,
       CAST(sum(n) AS BIGINT) AS n_docs,
       CAST(count(*) AS BIGINT) AS n_unique,
       CAST(sum(n) - count(*) AS BIGINT) AS n_dups,
       CAST(sum(bytes_all) AS BIGINT) AS bytes_total,
       CAST(sum(bytes_all - bytes_keep) AS BIGINT) AS bytes_saved,
       round(CAST(sum(bytes_all - bytes_keep) AS DOUBLE) / sum(bytes_all), 6)
         AS saving_share
FROM groups
GROUP BY source
ORDER BY source
"""


SPECS: dict[str, QuerySpec] = {
    "cohens_kappa_scorers": QuerySpec(
        _q_cohens_kappa_scorers,
        _SQL_COHENS_KAPPA_SCORERS,
        "Cohen's kappa chance-corrected agreement between the two fixed "
        "scorers (the agreement half of the McNemar pair)",
    ),
    "quantile_normalization_sources": QuerySpec(
        _q_quantile_normalization_sources,
        _SQL_QUANTILE_NORMALIZATION_SOURCES,
        "rank-based quantile normalization of src0 doc lengths onto "
        "src1 (exact integer rank mapping, source-partitioned windows)",
    ),
    "dedup_storage_savings": QuerySpec(
        _q_dedup_storage_savings,
        _SQL_DEDUP_STORAGE_SAVINGS,
        "exact-duplicate storage-savings readout per source (bytes "
        "saved, duplicate counts, corpus saving share)",
    ),
}
