"""Round-6 IR pack 3 — language-model retrieval, domain keywords, and
cross-source novelty over the ``documents`` corpus.

* ``dirichlet_ql_retrieval`` — query-likelihood retrieval with
  Dirichlet smoothing (the other classic lexical ranker next to
  ``bm25_search``): score(d) = Σ_q [log(1 + tf/(μ·P(w|C)))]
  + |q|·log(μ/(len_d + μ)) … decomposed so only MATCHED postings and
  a per-doc constant are needed (docs matching no query term are not
  scored, standard practice).  Inverted-index shape: per-term counts
  join the 3-term query; the corpus LM and doc-length frames attach
  by key.  Top-10 on the ROUNDED score with doc_id tiebreak.
* ``keyword_extraction_pmi`` — per-source characteristic terms:
  PMI(w, src) = log(P(w|src) / P(w)) with min in-source count 5,
  top-3 per source by (rounded pmi desc, token asc).  The
  domain-signature extraction a mixture-weights or contamination
  investigation starts from.
* ``ngram_novelty_by_source`` — order sources by index and charge
  each distinct 3-gram to its FIRST source: novelty(s) = share of
  s's distinct 3-grams never seen in any earlier source.  The
  marginal-value-of-a-source curve (what adding one more crawl
  snapshot buys), computed in ONE scan via min-first-seen per gram —
  no per-pair comparisons.

100 TB shape: all three are inverted-index aggregations (group by
token / gram) followed by bounded joins: the query frame is 3 rows,
the source frame 20 rows, and the top-k cuts are
``TakeOrderedAndProject`` / partitioned-window rank over per-source
frames.  No all-pairs, no global windows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window

from ..sources.tables import load_table
from . import QuerySpec

_QL_QUERY = ["join", "vector", "filter"]
_QL_MU = 100.0
_QL_TOPK = 10

_PMI_MIN_COUNT = 5
_PMI_TOPK = 3

_NOVELTY_N = 3  # 3-gram


def _tokens(docs: DataFrame) -> DataFrame:
    return docs.select(
        "doc_id",
        "source",
        F.explode(F.expr("filter(split(text, ' '), t -> length(t) > 0)")).alias("tok"),
    )


# --------------------------------------------------------------------------
# dirichlet_ql_retrieval
# --------------------------------------------------------------------------


def _q_dirichlet_ql_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = _tokens(docs)
    doclen = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    corpus = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cf"))
    total = toks.agg(F.sum(F.lit(1)).alias("n_corpus"))
    qterms = spark.createDataFrame([(t,) for t in _QL_QUERY], ["tok"])
    # background probabilities for the 3 query terms (3-row frame)
    q_lm = (
        corpus.join(F.broadcast(qterms), "tok")
        .crossJoin(F.broadcast(total))
        .select(
            "tok",
            (F.col("cf").cast("double") / F.col("n_corpus").cast("double")).alias(
                "p_bg"
            ),
        )
    )
    tf = (
        toks.join(F.broadcast(qterms), "tok")
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    matched = (
        tf.join(F.broadcast(q_lm), "tok")
        .select(
            "doc_id",
            F.log(
                F.lit(1.0)
                + F.col("tf").cast("double") / (F.lit(_QL_MU) * F.col("p_bg"))
            ).alias("term_gain"),
        )
        .groupBy("doc_id")
        .agg(
            F.sum("term_gain").alias("gain"),
            F.count(F.lit(1)).alias("n_matched"),
        )
    )
    scored = matched.join(doclen, "doc_id").select(
        "doc_id",
        "n_matched",
        F.round(
            F.col("gain")
            + F.lit(float(len(_QL_QUERY)))
            * F.log(F.lit(_QL_MU) / (F.col("dl").cast("double") + F.lit(_QL_MU))),
            6,
        ).alias("ql_score"),
    )
    return scored.orderBy(F.desc("ql_score"), F.asc("doc_id")).limit(_QL_TOPK)


_QL_TERMS_SQL = ", ".join(f"('{t}')" for t in _QL_QUERY)

_SQL_DIRICHLET_QL_RETRIEVAL = f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
), tok_ne AS (
  SELECT * FROM tok WHERE length(tok) > 0
), doclen AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM tok_ne GROUP BY 1
), corpus AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS cf FROM tok_ne GROUP BY 1
), total AS (
  SELECT CAST(count(*) AS BIGINT) AS n_corpus FROM tok_ne
), qterms(tok) AS (VALUES {_QL_TERMS_SQL}),
q_lm AS (
  SELECT c.tok, CAST(c.cf AS DOUBLE) / CAST(t.n_corpus AS DOUBLE) AS p_bg
  FROM corpus c JOIN qterms q ON c.tok = q.tok CROSS JOIN total t
), tf AS (
  SELECT doc_id, t.tok, CAST(count(*) AS BIGINT) AS tf
  FROM tok_ne t JOIN qterms q ON t.tok = q.tok
  GROUP BY 1, 2
), matched AS (
  SELECT doc_id,
         sum(ln(1.0 + CAST(tf AS DOUBLE) / ({_QL_MU!r} * p_bg))) AS gain,
         CAST(count(*) AS BIGINT) AS n_matched
  FROM tf JOIN q_lm USING (tok)
  GROUP BY doc_id
)
SELECT m.doc_id, m.n_matched,
       round(m.gain + {float(len(_QL_QUERY))!r}
             * ln({_QL_MU!r} / (CAST(d.dl AS DOUBLE) + {_QL_MU!r})), 6)
         AS ql_score
FROM matched m JOIN doclen d ON m.doc_id = d.doc_id
ORDER BY ql_score DESC, m.doc_id
LIMIT {_QL_TOPK}
"""


# --------------------------------------------------------------------------
# keyword_extraction_pmi
# --------------------------------------------------------------------------


def _q_keyword_extraction_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = _tokens(docs)
    per_src = toks.groupBy("source", "tok").agg(F.count(F.lit(1)).alias("c_ws"))
    src_tot = toks.groupBy("source").agg(F.count(F.lit(1)).alias("n_s"))
    corpus = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c_w"))
    total = toks.agg(F.sum(F.lit(1)).alias("n"))
    scored = (
        per_src.where(F.col("c_ws") >= _PMI_MIN_COUNT)
        .join(src_tot, "source")
        .join(corpus, "tok")
        .crossJoin(F.broadcast(total))
        .select(
            "source",
            "tok",
            "c_ws",
            F.round(
                F.log(
                    (F.col("c_ws").cast("double") / F.col("n_s").cast("double"))
                    / (F.col("c_w").cast("double") / F.col("n").cast("double"))
                ),
                6,
            ).alias("pmi"),
        )
    )
    w = Window.partitionBy("source").orderBy(F.desc("pmi"), F.asc("tok"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= _PMI_TOPK)
        .select("source", "rank", "tok", "c_ws", "pmi")
    )


_SQL_KEYWORD_EXTRACTION_PMI = f"""
WITH tok AS (
  SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents
), tok_ne AS (
  SELECT * FROM tok WHERE length(tok) > 0
), per_src AS (
  SELECT source, tok, CAST(count(*) AS BIGINT) AS c_ws
  FROM tok_ne GROUP BY 1, 2
), src_tot AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_s FROM tok_ne GROUP BY 1
), corpus AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS c_w FROM tok_ne GROUP BY 1
), total AS (
  SELECT CAST(count(*) AS BIGINT) AS n FROM tok_ne
), scored AS (
  SELECT p.source, p.tok, p.c_ws,
         round(ln((CAST(p.c_ws AS DOUBLE) / CAST(s.n_s AS DOUBLE))
                  / (CAST(c.c_w AS DOUBLE) / CAST(t.n AS DOUBLE))), 6) AS pmi
  FROM per_src p
  JOIN src_tot s ON p.source = s.source
  JOIN corpus c ON p.tok = c.tok
  CROSS JOIN total t
  WHERE p.c_ws >= {_PMI_MIN_COUNT}
), ranked AS (
  SELECT source, tok, c_ws, pmi,
         row_number() OVER (PARTITION BY source ORDER BY pmi DESC, tok)
           AS rank
  FROM scored
)
SELECT source, CAST(rank AS INT) AS rank, tok, c_ws, pmi
FROM ranked WHERE rank <= {_PMI_TOPK}
"""


# --------------------------------------------------------------------------
# ngram_novelty_by_source
# --------------------------------------------------------------------------


def _q_ngram_novelty_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    grams = docs.select(
        F.regexp_extract("source", r"(\d+)", 1).cast("int").alias("src_idx"),
        F.explode(
            F.expr(
                "transform(sequence(1, greatest(size(filter(split(text, ' '), "
                f"t -> length(t) > 0)) - {_NOVELTY_N - 1}, 0)), "
                "i -> concat_ws(' ', slice(filter(split(text, ' '), "
                f"t -> length(t) > 0), i, {_NOVELTY_N})))"
            )
        ).alias("gram"),
    )
    per_src = grams.groupBy("src_idx", "gram").agg(F.count(F.lit(1)).alias("c"))
    first_seen = per_src.groupBy("gram").agg(F.min("src_idx").alias("first_src"))
    joined = per_src.join(first_seen, "gram").select(
        "src_idx", (F.col("src_idx") == F.col("first_src")).cast("bigint").alias("new")
    )
    return (
        joined.groupBy("src_idx")
        .agg(
            F.count(F.lit(1)).alias("n_distinct_grams"),
            F.sum("new").alias("n_novel_grams"),
        )
        .select(
            "src_idx",
            "n_distinct_grams",
            "n_novel_grams",
            F.round(
                F.col("n_novel_grams").cast("double")
                / F.col("n_distinct_grams").cast("double"),
                6,
            ).alias("novelty_share"),
        )
    )


_SQL_NGRAM_NOVELTY_BY_SOURCE = f"""
WITH base AS (
  SELECT CAST(regexp_extract(source, '(\\d+)', 1) AS INT) AS src_idx,
         list_filter(string_split(text, ' '), t -> length(t) > 0) AS a
  FROM documents
), grams AS (
  SELECT src_idx,
         unnest(list_transform(
           range(1, greatest(len(a) - {_NOVELTY_N - 1}, 0) + 1),
           i -> array_to_string(list_slice(a, i, i + {_NOVELTY_N - 1}), ' ')))
           AS gram
  FROM base
), per_src AS (
  SELECT src_idx, gram, count(*) AS c FROM grams GROUP BY 1, 2
), first_seen AS (
  SELECT gram, min(src_idx) AS first_src FROM per_src GROUP BY 1
)
SELECT p.src_idx,
       CAST(count(*) AS BIGINT) AS n_distinct_grams,
       CAST(sum(CASE WHEN p.src_idx = f.first_src THEN 1 ELSE 0 END) AS BIGINT)
         AS n_novel_grams,
       round(CAST(sum(CASE WHEN p.src_idx = f.first_src THEN 1 ELSE 0 END)
                  AS DOUBLE) / count(*), 6) AS novelty_share
FROM per_src p JOIN first_seen f ON p.gram = f.gram
GROUP BY p.src_idx
"""


SPECS: dict[str, QuerySpec] = {
    "dirichlet_ql_retrieval": QuerySpec(
        _q_dirichlet_ql_retrieval,
        _SQL_DIRICHLET_QL_RETRIEVAL,
        "query-likelihood retrieval with Dirichlet smoothing (mu=100), "
        "matched-postings decomposition + per-doc length constant, "
        "top-10 with deterministic tiebreak",
    ),
    "keyword_extraction_pmi": QuerySpec(
        _q_keyword_extraction_pmi,
        _SQL_KEYWORD_EXTRACTION_PMI,
        "per-source characteristic keywords by PMI(word, source), min "
        "count 5, top-3 per source (partitioned rank)",
    ),
    "ngram_novelty_by_source": QuerySpec(
        _q_ngram_novelty_by_source,
        _SQL_NGRAM_NOVELTY_BY_SOURCE,
        "share of each source's distinct 3-grams first seen there "
        "(marginal-novelty curve) via one min-first-seen aggregation",
    ),
}
