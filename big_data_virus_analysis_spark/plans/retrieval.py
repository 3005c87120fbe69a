"""Retrieval pack: BM25 scoring of documents against a term query.

The canonical lexical-retrieval ranking function (Lucene/Elasticsearch
default).  For query terms q: score(d) = Σ_q idf(q) · tf·(k1+1) /
(tf + k1·(1 − b + b·dl/avgdl)) with the Lucene idf form
ln(1 + (N − df + ½)/(df + ½)).

Plan shape: one token explode → per-(doc, term) tf for the query terms
only (a 3-row broadcast semi-join prunes the explode immediately);
document lengths from the same pass; corpus scalars (N, avgdl) and
per-term df are single-row / |q|-row broadcasts.  Everything downstream
of the explode is bounded by |docs matching ≥1 term| × |q|.

Conventions as in catalog.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load_table
from . import QuerySpec

_K1 = 1.2
_B = 0.75
_QUERY_TERMS = ("spark", "join", "stream")


def bm25_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document BM25 score over the fixed query terms, UNfiltered:
    ``(doc_id, n_terms_hit, bm25)`` for every doc matching ≥1 term.
    ``bm25_search`` applies the conjunctive cut; ``rrf_hybrid_fusion``
    (plans/rag.py) reuses the same scored frame as its lexical leg."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("tok")
    ).where(F.length("tok") > 0)
    dl = toks.groupBy("doc_id").agg(F.count("*").alias("dl"))
    totals = dl.agg(
        F.count("*").cast("double").alias("n_docs"),
        (F.sum("dl").cast("double") / F.count("*")).alias("avgdl"),
    )
    qterms = spark.createDataFrame(
        [(t,) for t in _QUERY_TERMS], "tok string"
    )
    tf = (
        toks.join(F.broadcast(qterms), "tok")
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("tf"))
    )
    df_ = tf.groupBy("tok").agg(F.count("*").alias("df"))
    scored = (
        tf.join(F.broadcast(df_), "tok")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(totals))
        .withColumn(
            "idf",
            F.log(
                1.0
                + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
            ),
        )
        .withColumn(
            "term_score",
            F.col("idf")
            * F.col("tf")
            * (_K1 + 1.0)
            / (
                F.col("tf")
                + _K1 * (1.0 - _B + _B * F.col("dl") / F.col("avgdl"))
            ),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_terms_hit"),
        F.round(F.sum("term_score"), 6).alias("bm25"),
    )


def _q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bm25_scores(spark, sf_dir).where(
        F.col("n_terms_hit") == len(_QUERY_TERMS)
    )


_SQL_BM25_BODY = """
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
), nonempty AS (
  SELECT * FROM toks WHERE length(tok) > 0
), dl AS (
  SELECT doc_id, count(*) AS dl FROM nonempty GROUP BY 1
), totals AS (
  SELECT CAST(count(*) AS DOUBLE) AS n_docs,
         CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
  FROM dl
), tf AS (
  SELECT doc_id, tok, count(*) AS tf
  FROM nonempty WHERE tok IN ('spark', 'join', 'stream')
  GROUP BY 1, 2
), df AS (
  SELECT tok, count(*) AS df FROM tf GROUP BY 1
), scored AS (
  SELECT tf.doc_id,
         ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
           * tf * (1.2 + 1.0)
           / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / avgdl)) AS term_score
  FROM tf
  JOIN df USING (tok)
  JOIN dl ON tf.doc_id = dl.doc_id
  CROSS JOIN totals
), bm25_scored AS (
  SELECT doc_id,
         count(*) AS n_terms_hit,
         round(sum(term_score), 6) AS bm25
  FROM scored
  GROUP BY doc_id
)
"""

_SQL_BM25_SEARCH = _SQL_BM25_BODY + """
SELECT doc_id, n_terms_hit, bm25 FROM bm25_scored WHERE n_terms_hit = 3
"""


SPECS: dict[str, QuerySpec] = {
    "bm25_search": QuerySpec(
        _q_bm25_search,
        _SQL_BM25_SEARCH,
        "BM25 lexical retrieval scoring (Lucene idf form), conjunctive match",
    ),
}
