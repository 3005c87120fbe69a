"""Data-mixture & training-order pack: domain temperature weights,
tokenizer fertility, deterministic corpus shuffling, and round-robin
source interleaving.

What a training-data pipeline does AFTER filtering/dedup: decide how
much of each domain to sample and in what order examples reach the
trainer.

* ``domain_mixture_weights`` — temperature-scaled sampling weights
  w_d ∝ tokens_d^α (α=0.7, the multilingual-sampling convention from
  the XLM-R / mT5 line of work): one narrow scan, one tiny per-source
  hash agg, a 1-row scalar broadcast for the normalizer.  ``epochs``
  is the effective pass count over each domain when the token budget
  equals the corpus size — the number that tells you which domains get
  up-sampled (epochs > 1) vs down-sampled.
* ``tokenizer_fertility_by_lang`` — regex-token (BPE-ish) vs
  whitespace-token fertility and bytes-per-token per language: the
  standard tokenizer-efficiency audit before committing to a vocab.
  Pure column expressions + one tiny agg.
* ``training_shuffle_order`` — a DETERMINISTIC global shuffle: order
  by md5(doc_id:seed) and assign contiguous positions with the
  two-phase distributed rank (operators/prefix_sum.py) — no
  single-partition window, reproducible across runs/engines/cluster
  sizes.  This is the "seeded shuffle" every training run needs for
  resumability; at 100 TB the range shuffle on the 32-hex key is the
  only wide stage, and the md5 keyspace is uniform by construction so
  range partitions are balanced.
* ``curriculum_quality_order`` — quality-curriculum order: rank-derived
  quality deciles (two-phase scan), seeded shuffle within each decile —
  easy-to-hard with in-band randomness.
* ``interleave_sources_round_robin`` — curriculum interleaving: docs
  are shuffled WITHIN each source (partitioned window — parallel),
  then sources are interleaved round-robin by (pos_in_source, source)
  via the same two-phase global rank.  Guarantees any prefix of the
  training order has near-proportional source representation — the
  property homogeneous-batch streams lack.

No reference counterpart (the reference stops at model training on one
corpus); these are engine additions for LLM-corpus assembly.  All five
have exact DuckDB oracles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.caching import tracked_cache
from ..operators.prefix_sum import global_row_number
from ..operators.text_quality import TOKEN_PATTERN
from ..sources.tables import load_table
from . import QuerySpec
from .frames import EN_STOPS_SQL, TOKS_SQL

_ALPHA = 0.7  # sampling temperature (tokens^alpha), XLM-R convention
_SEED = 42


def _ws_token_count() -> F.Column:
    return F.size(F.filter(F.split(F.col("text"), " "), lambda t: F.length(t) > 0))


# --------------------------------------------------------------------------
# domain_mixture_weights
# --------------------------------------------------------------------------

def _q_domain_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # cache the ~#domains-row aggregate: the normalizer branch would
    # otherwise re-derive it from a SECOND full corpus scan (the same
    # materialize-once rule as the dedup signature frames)
    per_src = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(_ws_token_count()).alias("n_tokens"),
    ).transform(tracked_cache)
    w_raw = F.pow(F.col("n_tokens").cast("double"), F.lit(_ALPHA))
    # the normalizer is ONE row (sum over ~#domains) — broadcast scalar
    tot = per_src.agg(
        F.sum(F.pow(F.col("n_tokens").cast("double"), F.lit(_ALPHA))).alias("z"),
        F.sum("n_tokens").alias("t_all"),
    )
    return per_src.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "n_tokens",
        F.round(w_raw / F.col("z"), 6).alias("weight"),
        F.round(
            w_raw
            / F.col("z")
            * F.col("t_all").cast("double")
            / F.col("n_tokens").cast("double"),
            6,
        ).alias("epochs"),
    )


_SQL_DOMAIN_MIXTURE_WEIGHTS = f"""
WITH t AS (
  SELECT source, count(*) AS n_docs,
         CAST(sum(len({TOKS_SQL})) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
), z AS (
  SELECT sum(pow(CAST(n_tokens AS DOUBLE), {_ALPHA})) AS z,
         CAST(sum(n_tokens) AS BIGINT) AS t_all
  FROM t
)
SELECT source, n_docs, n_tokens,
       round(pow(CAST(n_tokens AS DOUBLE), {_ALPHA}) / z, 6) AS weight,
       round(pow(CAST(n_tokens AS DOUBLE), {_ALPHA}) / z
             * CAST(t_all AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6) AS epochs
FROM t CROSS JOIN z
"""


# --------------------------------------------------------------------------
# tokenizer_fertility_by_lang
# --------------------------------------------------------------------------

def _q_tokenizer_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    n_re = F.size(F.regexp_extract_all(F.col("text"), F.lit(TOKEN_PATTERN), 0))
    per_lang = docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(_ws_token_count()).alias("n_ws_tokens"),
        F.sum(n_re).alias("n_re_tokens"),
        F.sum(F.octet_length("text")).alias("n_bytes"),
    )
    return per_lang.select(
        "lang",
        "n_docs",
        "n_ws_tokens",
        "n_re_tokens",
        F.round(
            F.col("n_re_tokens").cast("double") / F.col("n_ws_tokens").cast("double"), 6
        ).alias("fertility"),
        F.round(
            F.col("n_bytes").cast("double") / F.col("n_re_tokens").cast("double"), 6
        ).alias("bytes_per_token"),
    )


_SQL_TOKENIZER_FERTILITY_BY_LANG = f"""
WITH t AS (
  SELECT lang, count(*) AS n_docs,
         CAST(sum(len({TOKS_SQL})) AS BIGINT) AS n_ws_tokens,
         CAST(sum(len(regexp_extract_all(text, '{TOKEN_PATTERN}'))) AS BIGINT)
           AS n_re_tokens,
         CAST(sum(octet_length(encode(text))) AS BIGINT) AS n_bytes
  FROM documents GROUP BY lang
)
SELECT lang, n_docs, n_ws_tokens, n_re_tokens,
       round(CAST(n_re_tokens AS DOUBLE) / CAST(n_ws_tokens AS DOUBLE), 6)
         AS fertility,
       round(CAST(n_bytes AS DOUBLE) / CAST(n_re_tokens AS DOUBLE), 6)
         AS bytes_per_token
FROM t
"""


# --------------------------------------------------------------------------
# training_shuffle_order
# --------------------------------------------------------------------------

def _q_training_shuffle_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.md5(
            F.concat(F.col("doc_id").cast("string"), F.lit(f":{_SEED}")).cast("binary")
        ).alias("shuffle_key"),
    )
    # md5 keys are unique w.h.p.; doc_id tiebreak makes the order total
    # unconditionally (the two-phase rank's documented precondition)
    ranked = global_row_number(
        docs, [F.col("shuffle_key").asc(), F.col("doc_id").asc()], out_col="pos"
    )
    return ranked.select("doc_id", "shuffle_key", "pos")


_SQL_TRAINING_SHUFFLE_ORDER = f"""
SELECT doc_id,
       md5(CAST(doc_id AS VARCHAR) || ':{_SEED}') AS shuffle_key,
       row_number() OVER (
         ORDER BY md5(CAST(doc_id AS VARCHAR) || ':{_SEED}') ASC, doc_id ASC
       ) AS pos
FROM documents
"""


# --------------------------------------------------------------------------
# interleave_sources_round_robin
# --------------------------------------------------------------------------

def _q_interleave_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.md5(
            F.concat(F.col("doc_id").cast("string"), F.lit(f":rr{_SEED}")).cast(
                "binary"
            )
        ).alias("_h"),
    )
    # within-source shuffle: PARTITIONED window — parallel across sources
    w = Window.partitionBy("source").orderBy(F.col("_h").asc(), F.col("doc_id").asc())
    in_src = docs.withColumn(
        "pos_in_source", F.row_number().over(w).cast("bigint")
    ).drop("_h")
    # round-robin across sources: (pos_in_source, source) is a total
    # order; rank it with the two-phase scan, not a global window
    ranked = global_row_number(
        in_src,
        [F.col("pos_in_source").asc(), F.col("source").asc()],
        out_col="global_pos",
    )
    return ranked.select("doc_id", "source", "pos_in_source", "global_pos")


_SQL_INTERLEAVE_SOURCES = f"""
WITH in_src AS (
  SELECT doc_id, source,
         row_number() OVER (
           PARTITION BY source
           ORDER BY md5(CAST(doc_id AS VARCHAR) || ':rr{_SEED}') ASC, doc_id ASC
         ) AS pos_in_source
  FROM documents
)
SELECT doc_id, source, pos_in_source,
       row_number() OVER (ORDER BY pos_in_source ASC, source ASC) AS global_pos
FROM in_src
"""


SPECS: dict[str, QuerySpec] = {
    "domain_mixture_weights": QuerySpec(
        _q_domain_mixture_weights,
        _SQL_DOMAIN_MIXTURE_WEIGHTS,
        "temperature-scaled (alpha=0.7) domain sampling weights and "
        "effective epochs: tiny per-source agg + 1-row normalizer broadcast",
    ),
    "tokenizer_fertility_by_lang": QuerySpec(
        _q_tokenizer_fertility_by_lang,
        _SQL_TOKENIZER_FERTILITY_BY_LANG,
        "per-language tokenizer fertility (regex vs whitespace tokens) and "
        "bytes-per-token: pure column expressions, one tiny agg",
    ),
    "training_shuffle_order": QuerySpec(
        _q_training_shuffle_order,
        _SQL_TRAINING_SHUFFLE_ORDER,
        "deterministic seeded corpus shuffle: md5(doc_id:seed) order with "
        "two-phase distributed rank — reproducible, no global window",
    ),
    "interleave_sources_round_robin": QuerySpec(
        _q_interleave_sources,
        _SQL_INTERLEAVE_SOURCES,
        "round-robin source interleaving: partitioned within-source shuffle "
        "+ two-phase global rank on (pos_in_source, source) — any training "
        "prefix sees near-proportional source mix",
    ),
}


# --------------------------------------------------------------------------
# curriculum_quality_order
# --------------------------------------------------------------------------

def _q_curriculum_quality_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-curriculum training order: docs ranked into quality
    deciles (highest-scoring decile first), shuffled WITHIN each decile
    by the seeded hash — easy-to-hard ordering with randomness inside
    each difficulty band, the standard curriculum-learning recipe.

    Both global orderings ride the two-phase distributed rank: the
    decile comes from rank-derived ntile over (score desc, doc_id), the
    final position from (decile, shuffle hash).  No single-partition
    window anywhere.
    """
    from ..operators.prefix_sum import ntile_from_rank
    from ..operators.text_quality import quality_score

    docs = load_table(spark, sf_dir, "documents")
    scored = quality_score(docs).select("doc_id", "score")
    ranked = global_row_number(
        scored, [F.col("score").desc(), F.col("doc_id").asc()], n_col="_n"
    )
    with_decile = ranked.select(
        "doc_id",
        "score",
        ntile_from_rank(F.col("rn"), F.col("_n"), 10).alias("decile"),
        F.md5(
            F.concat(F.col("doc_id").cast("string"), F.lit(f":cur{_SEED}")).cast(
                "binary"
            )
        ).alias("_h"),
    )
    out = global_row_number(
        with_decile,
        [F.col("decile").asc(), F.col("_h").asc(), F.col("doc_id").asc()],
        out_col="pos",
    )
    return out.select("doc_id", "score", "decile", "pos")


_SQL_CURRICULUM_QUALITY_ORDER = f"""
WITH t AS (
  SELECT doc_id, text, {TOKS_SQL} AS toks FROM documents
), parts AS (
  SELECT doc_id,
         CAST(len(list_filter(toks, x -> x IN ({EN_STOPS_SQL}))) AS DOUBLE)
           / CAST(len(toks) AS DOUBLE) AS stop_frac,
         least(1.0, CAST(len(toks) AS DOUBLE) / 100.0) AS len_score,
         CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
           / CAST(length(text) AS DOUBLE) AS alpha_frac
  FROM t
), scored AS (
  SELECT doc_id,
         round(0.4 * stop_frac + 0.3 * len_score + 0.3 * alpha_frac, 6) AS score
  FROM parts
), with_decile AS (
  SELECT doc_id, score,
         ntile(10) OVER (ORDER BY score DESC, doc_id ASC) AS decile
  FROM scored
)
SELECT doc_id, score, CAST(decile AS BIGINT) AS decile,
       row_number() OVER (
         ORDER BY decile ASC,
                  md5(CAST(doc_id AS VARCHAR) || ':cur{_SEED}') ASC,
                  doc_id ASC
       ) AS pos
FROM with_decile
"""


SPECS["curriculum_quality_order"] = QuerySpec(
    _q_curriculum_quality_order,
    _SQL_CURRICULUM_QUALITY_ORDER,
    "quality-curriculum training order: rank-derived deciles + seeded "
    "within-decile shuffle, all on the two-phase scan",
)
