"""Round-6 text pack 4 — per-source distribution drift, tokenizer
coverage, and lexical-richness audits over ``documents``.

* ``source_token_kl`` — KL(P_source ‖ P_corpus) in bits per source,
  add-1 smoothed over the corpus vocabulary (every source scores every
  vocab word, so the sum is over the same support in both engines).
  The per-source drift score a mixture rebalancer watches; the
  source-level sibling of ``js_divergence_priorities``.
* ``oov_rate_by_source`` — coverage of a FIXED 20-word tokenizer
  vocabulary (literal in both engines, the fixed-parameter discipline
  of ``pq_adc_topk_fixed``): per source, token-level and type-level
  out-of-vocabulary rates.  The go/no-go audit before committing a
  tokenizer to a new data source.
* ``ttr_by_source`` — type-token ratio and hapax-legomena share per
  source (distinct types / tokens, share of types occurring once).
  The classic lexical-richness screen for TEMPLATED or bot-generated
  sources (low TTR = heavy repetition).

100 TB shape: all three are (source × token) hash aggregates — the
same shuffle a doc-frequency count pays — followed by joins against
the vocabulary-sized (bounded) corpus frame; the source frame is
|sources| rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load_table
from . import QuerySpec

_OOV_VOCAB = [
    "join", "hash", "row", "batch", "scan", "column", "customer", "filter",
    "small", "merge", "slow", "order", "vector", "line", "data", "table",
    "agg", "value", "key", "stream",
]


def _tokens(docs: DataFrame) -> DataFrame:
    return docs.select(
        "source",
        F.explode(F.expr("filter(split(text, ' '), t -> length(t) > 0)")).alias("tok"),
    )


# --------------------------------------------------------------------------
# source_token_kl
# --------------------------------------------------------------------------


def _q_source_token_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = _tokens(docs)
    corpus = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c_w"))
    vocab_n = corpus.agg(
        F.count(F.lit(1)).alias("v"), F.sum("c_w").alias("n_corpus")
    )
    per_src = toks.groupBy("source", "tok").agg(F.count(F.lit(1)).alias("c_ws"))
    src_tot = toks.groupBy("source").agg(F.count(F.lit(1)).alias("n_s"))
    # every (source, vocab word) cell — add-1 smoothing needs the zeros
    grid = src_tot.crossJoin(corpus)
    cells = (
        grid.join(per_src, ["source", "tok"], "left")
        .crossJoin(F.broadcast(vocab_n))
        .select(
            "source",
            "n_s",
            (
                (F.coalesce(F.col("c_ws"), F.lit(0)) + 1).cast("double")
                / (F.col("n_s") + F.col("v")).cast("double")
            ).alias("p_s"),
            (
                (F.col("c_w") + 1).cast("double")
                / (F.col("n_corpus") + F.col("v")).cast("double")
            ).alias("p_c"),
        )
    )
    return (
        cells.groupBy("source", "n_s")
        .agg(
            F.round(
                F.sum(F.col("p_s") * F.log2(F.col("p_s") / F.col("p_c"))), 6
            ).alias("kl_bits")
        )
        .select(F.col("source"), F.col("n_s").alias("n_tokens"), "kl_bits")
    )


_SQL_SOURCE_TOKEN_KL = """
WITH tok AS (
  SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents
), tok_ne AS (
  SELECT * FROM tok WHERE length(tok) > 0
), corpus AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS c_w FROM tok_ne GROUP BY 1
), vocab_n AS (
  SELECT CAST(count(*) AS BIGINT) AS v, CAST(sum(c_w) AS BIGINT) AS n_corpus
  FROM corpus
), per_src AS (
  SELECT source, tok, CAST(count(*) AS BIGINT) AS c_ws
  FROM tok_ne GROUP BY 1, 2
), src_tot AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_s FROM tok_ne GROUP BY 1
), cells AS (
  SELECT s.source, s.n_s,
         CAST(COALESCE(p.c_ws, 0) + 1 AS DOUBLE)
           / CAST(s.n_s + vn.v AS DOUBLE) AS p_s,
         CAST(c.c_w + 1 AS DOUBLE)
           / CAST(vn.n_corpus + vn.v AS DOUBLE) AS p_c
  FROM src_tot s
  CROSS JOIN corpus c
  LEFT JOIN per_src p ON p.source = s.source AND p.tok = c.tok
  CROSS JOIN vocab_n vn
)
SELECT source, n_s AS n_tokens,
       round(sum(p_s * log2(p_s / p_c)), 6) AS kl_bits
FROM cells
GROUP BY source, n_s
"""


# --------------------------------------------------------------------------
# oov_rate_by_source
# --------------------------------------------------------------------------


def _q_oov_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = _tokens(docs)
    in_vocab = F.col("tok").isin(*_OOV_VOCAB)
    per_type = toks.groupBy("source", "tok").agg(F.count(F.lit(1)).alias("c"))
    return (
        per_type.select(
            "source",
            "c",
            in_vocab.cast("bigint").alias("iv"),
        )
        .groupBy("source")
        .agg(
            F.sum("c").alias("n_tokens"),
            F.count(F.lit(1)).alias("n_types"),
            F.round(
                F.sum(F.when(F.col("iv") == 0, F.col("c")).otherwise(F.lit(0)))
                .cast("double")
                / F.sum("c").cast("double"),
                6,
            ).alias("token_oov_rate"),
            F.round(
                F.sum(1 - F.col("iv")).cast("double") / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("type_oov_rate"),
        )
    )


_OOV_SQL_LIST = ", ".join(f"'{t}'" for t in _OOV_VOCAB)

_SQL_OOV_RATE_BY_SOURCE = f"""
WITH tok AS (
  SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents
), tok_ne AS (
  SELECT * FROM tok WHERE length(tok) > 0
), per_type AS (
  SELECT source, tok, CAST(count(*) AS BIGINT) AS c,
         CASE WHEN tok IN ({_OOV_SQL_LIST}) THEN 1 ELSE 0 END AS iv
  FROM tok_ne GROUP BY 1, 2
)
SELECT source,
       CAST(sum(c) AS BIGINT) AS n_tokens,
       CAST(count(*) AS BIGINT) AS n_types,
       round(CAST(sum(CASE WHEN iv = 0 THEN c ELSE 0 END) AS DOUBLE)
             / CAST(sum(c) AS DOUBLE), 6) AS token_oov_rate,
       round(CAST(sum(1 - iv) AS DOUBLE) / count(*), 6) AS type_oov_rate
FROM per_type
GROUP BY source
"""


# --------------------------------------------------------------------------
# ttr_by_source
# --------------------------------------------------------------------------


def _q_ttr_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = _tokens(docs)
    per_type = toks.groupBy("source", "tok").agg(F.count(F.lit(1)).alias("c"))
    return (
        per_type.groupBy("source")
        .agg(
            F.sum("c").alias("n_tokens"),
            F.count(F.lit(1)).alias("n_types"),
            F.sum((F.col("c") == 1).cast("bigint")).alias("n_hapax"),
        )
        .select(
            "source",
            "n_tokens",
            "n_types",
            F.round(
                F.col("n_types").cast("double") / F.col("n_tokens").cast("double"), 6
            ).alias("ttr"),
            F.round(
                F.col("n_hapax").cast("double") / F.col("n_types").cast("double"), 6
            ).alias("hapax_share"),
        )
    )


_SQL_TTR_BY_SOURCE = """
WITH tok AS (
  SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents
), tok_ne AS (
  SELECT * FROM tok WHERE length(tok) > 0
), per_type AS (
  SELECT source, tok, CAST(count(*) AS BIGINT) AS c
  FROM tok_ne GROUP BY 1, 2
)
SELECT source,
       CAST(sum(c) AS BIGINT) AS n_tokens,
       CAST(count(*) AS BIGINT) AS n_types,
       round(CAST(count(*) AS DOUBLE) / CAST(sum(c) AS DOUBLE), 6) AS ttr,
       round(CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*), 6) AS hapax_share
FROM per_type
GROUP BY source
"""


SPECS: dict[str, QuerySpec] = {
    "source_token_kl": QuerySpec(
        _q_source_token_kl,
        _SQL_SOURCE_TOKEN_KL,
        "per-source KL divergence (bits) of the token distribution vs "
        "the corpus, add-1 smoothed over the shared vocabulary",
    ),
    "oov_rate_by_source": QuerySpec(
        _q_oov_rate_by_source,
        _SQL_OOV_RATE_BY_SOURCE,
        "token- and type-level OOV rates per source against a fixed "
        "20-word tokenizer vocabulary",
    ),
    "ttr_by_source": QuerySpec(
        _q_ttr_by_source,
        _SQL_TTR_BY_SOURCE,
        "type-token ratio and hapax share per source (lexical-richness "
        "screen for templated sources)",
    ),
}
