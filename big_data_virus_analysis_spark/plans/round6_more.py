"""Round-6 extras pack — robust statistics, layout advice, resampling
inference, and a second composed end-to-end pipeline:

* ``mad_outlier_orders`` — robust z-score outliers per order priority:
  group median and MAD (median absolute deviation) via exact
  ``percentile(0.5)`` aggregates (both engines interpolate the even
  count the same way), flagging |x − med| > k·MAD.  The
  mean/stddev-free outlier test real pipelines use when the data has
  heavy tails.

* ``encoding_advisor`` — dictionary-encoding benefit per string
  column: rows, distinct values, measured average width, and the
  estimated bytes saved by dictionary encoding (the parquet writer
  decision, quantified).  Fourth member of the planning family.

* ``subsample_ci_det`` — deterministic m-out-of-n bootstrap: 16
  md5-selected half-samples of the order totals, the mean of each
  replica, and the replica-spread confidence interval.  Same
  hash-not-RNG discipline as ``stratified_sample_det`` — the oracle
  recomputes the identical replicas, so the CI itself is exact.

* ``corpus_curation_e2e`` — the LLM-corpus curation pipeline as ONE
  plan: length/stopword quality gate → exact dedup (md5 digest,
  keep-lowest-doc_id survivor) → per-source mixture stats with
  token counts and a 2048-token packing estimate.  Companion to
  ``dedup_pipeline_e2e`` (which composes the near-dup stages); this
  one composes the filter → exact-dedup → mixture accounting stages.
  Every stage is a hash-agg or semi-join keyed on digest/source — the
  plan a 100 TB curation run would want.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.caching import tracked_cache
from ..sources.tables import load_table
from . import QuerySpec

# --------------------------------------------------------------------------
# mad_outlier_orders
# --------------------------------------------------------------------------

_MAD_K = 2.05


def _q_mad_outlier_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", F.col("o_totalprice").cast("double").alias("x")
    )
    orders = tracked_cache(orders)
    med = orders.groupBy("o_orderpriority").agg(
        F.percentile("x", F.lit(0.5)).alias("med")
    )
    dev = orders.join(F.broadcast(med), "o_orderpriority").select(
        "o_orderpriority", "o_orderkey", "x", "med", F.abs(F.col("x") - F.col("med")).alias("ad")
    )
    mad = dev.groupBy("o_orderpriority").agg(
        F.percentile("ad", F.lit(0.5)).alias("mad")
    )
    return (
        dev.join(F.broadcast(mad), "o_orderpriority")
        .withColumn("robust_z", F.round(F.col("ad") / F.col("mad"), 6))
        .where(F.col("robust_z") > _MAD_K)
        .select(
            "o_orderpriority",
            "o_orderkey",
            F.round("x", 2).alias("totalprice"),
            F.round("med", 2).alias("group_median"),
            F.round("mad", 2).alias("group_mad"),
            "robust_z",
        )
    )


_SQL_MAD_OUTLIER_ORDERS = f"""
WITH base AS (
  SELECT o_orderkey, o_orderpriority, CAST(o_totalprice AS DOUBLE) AS x
  FROM orders
), med AS (
  SELECT o_orderpriority, quantile_cont(x, 0.5) AS med
  FROM base GROUP BY o_orderpriority
), dev AS (
  SELECT b.o_orderpriority, b.o_orderkey, b.x, m.med, abs(b.x - m.med) AS ad
  FROM base b JOIN med m USING (o_orderpriority)
), mad AS (
  SELECT o_orderpriority, quantile_cont(ad, 0.5) AS mad
  FROM dev GROUP BY o_orderpriority
)
SELECT d.o_orderpriority, d.o_orderkey,
       round(d.x, 2) AS totalprice,
       round(d.med, 2) AS group_median,
       round(m.mad, 2) AS group_mad,
       round(d.ad / m.mad, 6) AS robust_z
FROM dev d JOIN mad m USING (o_orderpriority)
WHERE round(d.ad / m.mad, 6) > {_MAD_K}
"""


# --------------------------------------------------------------------------
# encoding_advisor
# --------------------------------------------------------------------------


_ENC_CASES = [
    ("orders", "o_orderstatus"),
    ("orders", "o_orderpriority"),
    ("lineitem", "l_returnflag"),
    ("customer", "c_mktsegment"),
    ("documents", "lang"),
    ("documents", "source"),
]
_ENC_CODE_BYTES = 4  # per-row dictionary code width (simplified)


def _q_encoding_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    rows = []
    for table, col in _ENC_CASES:
        df = load_table(spark, sf_dir, table)
        # plain ~ sum of value widths; dictionary ~ total width of the
        # DISTINCT values + a fixed-width code per row (the parquet
        # dict-page trade, simplified).  Two column-pruned scans.
        plain = df.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.length(col)).alias("plain_bytes"),
        )
        dstats = (
            df.select(F.col(col).alias("v"))
            .distinct()
            .agg(
                F.count(F.lit(1)).alias("n_distinct"),
                F.sum(F.length("v")).alias("dict_page_bytes"),
            )
        )
        rows.append(
            plain.crossJoin(F.broadcast(dstats)).select(
                F.lit(table).alias("tbl"),
                F.lit(col).alias("col"),
                "n_rows",
                "n_distinct",
                "plain_bytes",
                (
                    F.col("dict_page_bytes")
                    + F.lit(_ENC_CODE_BYTES) * F.col("n_rows")
                ).alias("dict_bytes"),
                (
                    F.col("plain_bytes")
                    > F.col("dict_page_bytes")
                    + F.lit(_ENC_CODE_BYTES) * F.col("n_rows")
                ).alias("dictionary_wins"),
            )
        )
    out = rows[0]
    for extra in rows[1:]:
        out = out.unionByName(extra)
    return out


def _enc_row_sql(table: str, col: str) -> str:
    return f"""
  SELECT '{table}' AS tbl, '{col}' AS col, p.n_rows, d.n_distinct,
         p.plain_bytes,
         d.dict_page_bytes + {_ENC_CODE_BYTES} * p.n_rows AS dict_bytes,
         p.plain_bytes > d.dict_page_bytes + {_ENC_CODE_BYTES} * p.n_rows
           AS dictionary_wins
  FROM (SELECT count(*) AS n_rows,
               CAST(sum(length({col})) AS BIGINT) AS plain_bytes
        FROM {table}) p
  CROSS JOIN (SELECT count(*) AS n_distinct,
                     CAST(sum(length(v)) AS BIGINT) AS dict_page_bytes
              FROM (SELECT DISTINCT {col} AS v FROM {table})) d"""


_SQL_ENCODING_ADVISOR = "\n  UNION ALL\n".join(
    _enc_row_sql(t, c) for t, c in _ENC_CASES
)


# --------------------------------------------------------------------------
# subsample_ci_det
# --------------------------------------------------------------------------

_BOOT_K = 16


def _q_subsample_ci_det(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    j = F.explode(F.array(*[F.lit(i) for i in range(_BOOT_K)])).alias("j")
    tagged = orders.select(F.col("o_orderkey"), F.col("o_totalprice"), j)
    h = F.conv(
        F.substring(
            F.md5(F.concat_ws("|", F.col("o_orderkey").cast("string"), F.col("j"))),
            1,
            15,
        ),
        16,
        10,
    ).cast("bigint")
    half = tagged.where(h % 2 == 0)
    # replica means from DECIMAL-exact sums (order-independent), the
    # one deterministic double appearing only at the final division;
    # the CI is the replica min/max — order-independent by definition
    # (stddev-based CIs would expose cross-engine summation order)
    reps = half.groupBy("j").agg(
        F.count(F.lit(1)).alias("m"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("s"),
    ).select(
        "j",
        "m",
        F.round(F.col("s").cast("double") / F.col("m"), 6).alias("rep_mean"),
    )
    stats = reps.agg(
        F.count(F.lit(1)).alias("n_replicas"),
        F.round(F.min("rep_mean"), 6).alias("ci_lo"),
        F.round(F.max("rep_mean"), 6).alias("ci_hi"),
    )
    full = orders.agg(
        F.round(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("full_mean")
    )
    return full.crossJoin(F.broadcast(stats)).select(
        "full_mean",
        "n_replicas",
        "ci_lo",
        "ci_hi",
        (
            (F.col("full_mean") >= F.col("ci_lo"))
            & (F.col("full_mean") <= F.col("ci_hi"))
        ).alias("full_mean_in_ci"),
    )


_SQL_SUBSAMPLE_CI_DET = f"""
WITH tagged AS (
  SELECT o_orderkey, o_totalprice, j
  FROM orders CROSS JOIN (SELECT unnest(generate_series(0, {_BOOT_K - 1})) AS j)
), half AS (
  SELECT * FROM tagged
  WHERE CAST('0x' || substr(
          md5(CAST(o_orderkey AS VARCHAR) || '|' || CAST(j AS VARCHAR)),
          1, 15) AS BIGINT) % 2 = 0
), reps AS (
  SELECT j, count(*) AS m,
         round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               / count(*), 6) AS rep_mean
  FROM half GROUP BY j
), stats AS (
  SELECT count(*) AS n_replicas,
         round(min(rep_mean), 6) AS ci_lo,
         round(max(rep_mean), 6) AS ci_hi
  FROM reps
), fullm AS (
  SELECT round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               / count(*), 6) AS full_mean
  FROM orders
)
SELECT full_mean, n_replicas, ci_lo, ci_hi,
       full_mean >= ci_lo AND full_mean <= ci_hi AS full_mean_in_ci
FROM fullm CROSS JOIN stats
"""


# --------------------------------------------------------------------------
# corpus_curation_e2e
# --------------------------------------------------------------------------

_CUR_MIN_TOKENS = 20
_CUR_PACK_CAP = 2048


def _q_corpus_curation_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    staged = docs.select(
        "doc_id",
        "source",
        "text",
        F.size(toks).alias("n_tokens"),
        F.md5("text").alias("digest"),
    )
    # quality gate: length floor (the synthetic text has no punctuation,
    # so length is the meaningful gate here; the full scorer lives in
    # operators/text_quality.py)
    gated = tracked_cache(staged.where(F.col("n_tokens") >= _CUR_MIN_TOKENS))
    survivors = gated.groupBy("digest").agg(F.min("doc_id").alias("doc_id"))
    kept = gated.join(survivors, ["digest", "doc_id"])  # keep-lowest per digest
    return (
        kept.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("kept_docs"),
            F.sum("n_tokens").alias("kept_tokens"),
            F.countDistinct("digest").alias("unique_texts"),
        )
        .select(
            "source",
            "kept_docs",
            "kept_tokens",
            "unique_texts",
            F.ceil(F.col("kept_tokens").cast("double") / _CUR_PACK_CAP)
            .cast("bigint")
            .alias(f"est_bins_{_CUR_PACK_CAP}"),
        )
    )


_SQL_CORPUS_CURATION_E2E = f"""
WITH staged AS (
  SELECT doc_id, source, md5(text) AS digest,
         len(string_split(text, ' ')) AS n_tokens
  FROM documents
), gated AS (
  SELECT * FROM staged WHERE n_tokens >= {_CUR_MIN_TOKENS}
), survivors AS (
  SELECT digest, min(doc_id) AS doc_id FROM gated GROUP BY digest
), kept AS (
  SELECT g.* FROM gated g JOIN survivors s
    ON g.digest = s.digest AND g.doc_id = s.doc_id
)
SELECT source,
       count(*) AS kept_docs,
       CAST(sum(n_tokens) AS BIGINT) AS kept_tokens,
       CAST(count(DISTINCT digest) AS BIGINT) AS unique_texts,
       CAST(ceil(CAST(sum(n_tokens) AS DOUBLE) / {_CUR_PACK_CAP}) AS BIGINT)
         AS est_bins_{_CUR_PACK_CAP}
FROM kept GROUP BY source
"""


SPECS: dict[str, QuerySpec] = {
    "mad_outlier_orders": QuerySpec(
        _q_mad_outlier_orders,
        _SQL_MAD_OUTLIER_ORDERS,
        "robust z-score outliers per priority group: median/MAD via "
        "exact interpolated percentiles",
    ),
    "encoding_advisor": QuerySpec(
        _q_encoding_advisor,
        _SQL_ENCODING_ADVISOR,
        "dictionary-encoding benefit per string column: plain vs "
        "dict-page + per-row code bytes (parquet writer decision)",
    ),
    "subsample_ci_det": QuerySpec(
        _q_subsample_ci_det,
        _SQL_SUBSAMPLE_CI_DET,
        "deterministic m-out-of-n bootstrap: 16 md5 half-samples, "
        "replica-spread CI for the mean (oracle recomputes replicas)",
    ),
    "corpus_curation_e2e": QuerySpec(
        _q_corpus_curation_e2e,
        _SQL_CORPUS_CURATION_E2E,
        "curation pipeline as one plan: quality gate -> exact dedup "
        "keep-first -> per-source mixture stats + packing estimate",
    ),
}
