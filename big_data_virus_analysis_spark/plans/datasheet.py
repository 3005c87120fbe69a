"""Corpus datasheet: the one-row dataset-card summary every corpus
release ships with (Gebru et al. 2021, "Datasheets for Datasets" —
public): scale, composition, duplication, and quality-rule retention in
a single pass.

Plan shape: ONE scan computes every per-document derived column
(token count, bytes, quality score, Gopher keep flag, content digest),
then a single hash aggregate folds them into the datasheet row —
`count_distinct` on the digest and language/source ride the same
aggregate.  No joins, no windows, nothing driver-side; at 100 TB this
is exactly one pass over the corpus plus a final 1-row reduce.

The per-doc expressions reuse the SAME formulas as the dedicated
queries (`quality_score`, `gopher_quality_flags`, `dedup_exact`), so
the datasheet is consistent with the detailed views by construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.text_quality import LANG_STOPWORDS
from ..sources.tables import load_table
from . import QuerySpec

_EN_STOPS = LANG_STOPWORDS["en"]


def _q_corpus_datasheet(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.col("text"), " "), lambda t: F.length(t) > 0)
    n_toks = F.size("_toks")
    # quality score — same formula as operators/text_quality.quality_score
    stop_frac = (
        F.size(F.filter(F.col("_toks"), lambda t: t.isin(*_EN_STOPS))).cast("double")
        / n_toks.cast("double")
    )
    len_score = F.least(F.lit(1.0), n_toks.cast("double") / F.lit(100.0))
    alpha_frac_chars = (
        F.length(F.regexp_replace("text", "[^A-Za-z]", "")).cast("double")
        / F.length("text").cast("double")
    )
    score = F.round(
        0.4 * stop_frac + 0.3 * len_score + 0.3 * alpha_frac_chars, 6
    )
    # Gopher keep flag — same rules as plans/gopher.gopher_quality_flags
    mwl = (
        F.aggregate(
            F.transform(F.col("_toks"), lambda t: F.length(t)),
            F.lit(0),
            lambda a, v: a + v,
        ).cast("double")
        / n_toks.cast("double")
    )
    alpha_word_frac = (
        F.size(F.filter(F.col("_toks"), lambda t: t.rlike("[A-Za-z]"))).cast("double")
        / n_toks.cast("double")
    )
    stop_hits = F.size(
        F.array_intersect(
            F.transform(F.col("_toks"), lambda t: F.lower(t)),
            F.array(*[F.lit(w) for w in _EN_STOPS]),
        )
    )
    keep = (
        (n_toks >= 50)
        & (n_toks <= 100_000)
        & (mwl >= 3.0)
        & (mwl <= 10.0)
        & (alpha_word_frac >= 0.8)
        & (stop_hits >= 2)
    )
    per_doc = docs.select(
        "lang",
        "source",
        "text",
        F.md5("text").alias("_digest"),
        toks.alias("_toks"),
        F.octet_length("text").alias("_bytes"),
    ).select(
        "lang",
        "source",
        "_digest",
        "_bytes",
        n_toks.alias("_n_toks"),
        score.alias("_score"),
        keep.cast("int").alias("_keep"),
    )
    return per_doc.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("_n_toks").alias("n_tokens"),
        F.sum("_bytes").alias("n_bytes"),
        F.countDistinct("lang").alias("n_langs"),
        F.countDistinct("source").alias("n_sources"),
        F.round(
            F.lit(1.0)
            - F.countDistinct("_digest").cast("double")
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("exact_dup_rate"),
        F.round(F.avg("_score"), 6).alias("mean_quality"),
        F.round(F.avg("_keep"), 6).alias("gopher_keep_rate"),
        F.round(
            F.avg(F.col("_n_toks").cast("double")), 6
        ).alias("mean_doc_tokens"),
    )


_STOPS = ", ".join(f"'{w}'" for w in _EN_STOPS)
_STOPS_LIST = "[" + _STOPS + "]"

_SQL_CORPUS_DATASHEET = f"""
WITH t AS (
  SELECT lang, source, md5(text) AS digest,
         octet_length(encode(text)) AS n_bytes,
         list_filter(string_split(text, ' '), x -> length(x) > 0) AS a,
         text
  FROM documents
), per_doc AS (
  SELECT lang, source, digest, n_bytes,
         len(a) AS n_toks,
         round(0.4 * (CAST(len(list_filter(a, x -> x IN ({_STOPS}))) AS DOUBLE)
                      / CAST(len(a) AS DOUBLE))
               + 0.3 * least(1.0, CAST(len(a) AS DOUBLE) / 100.0)
               + 0.3 * (CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
                             AS DOUBLE) / CAST(length(text) AS DOUBLE)),
               6) AS score,
         CAST(len(a) >= 50 AND len(a) <= 100000
              AND (CAST(list_sum(list_transform(a, x -> length(x))) AS DOUBLE)
                   / CAST(len(a) AS DOUBLE)) >= 3.0
              AND (CAST(list_sum(list_transform(a, x -> length(x))) AS DOUBLE)
                   / CAST(len(a) AS DOUBLE)) <= 10.0
              AND (CAST(len(list_filter(a, x -> regexp_matches(x, '[A-Za-z]')))
                        AS DOUBLE) / CAST(len(a) AS DOUBLE)) >= 0.8
              AND len(list_intersect(list_transform(a, x -> lower(x)),
                                     {_STOPS_LIST})) >= 2
              AS INT) AS keep
  FROM t
)
SELECT count(*) AS n_docs,
       CAST(sum(n_toks) AS BIGINT) AS n_tokens,
       CAST(sum(n_bytes) AS BIGINT) AS n_bytes,
       CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
       CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
       round(1.0 - CAST(count(DISTINCT digest) AS DOUBLE)
                   / CAST(count(*) AS DOUBLE), 6) AS exact_dup_rate,
       round(avg(score), 6) AS mean_quality,
       round(avg(keep), 6) AS gopher_keep_rate,
       round(avg(CAST(n_toks AS DOUBLE)), 6) AS mean_doc_tokens
FROM per_doc
"""


SPECS: dict[str, QuerySpec] = {
    "corpus_datasheet": QuerySpec(
        _q_corpus_datasheet,
        _SQL_CORPUS_DATASHEET,
        "one-row dataset card: scale, composition, exact-dup rate, mean "
        "quality, Gopher retention — one scan + one aggregate, formulas "
        "shared with the dedicated queries",
    ),
}
