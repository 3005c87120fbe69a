"""Incremental-ingest dedup: score a NEW batch of documents against an
existing corpus without re-deduplicating the corpus.

The production shape for a continuously-growing training corpus: the
corpus's digest table and shingle inverted index are maintained
artifacts; each arriving batch joins against them and only batch-side
work is new.  Cost per ingest is O(batch) map work + joins keyed on
digest/gram — never O(corpus²) and never a corpus rescan beyond the
(maintained, pre-partitioned) index probe.  The streaming twin of this
batch query is `dropDuplicatesWithinWatermark` (streaming/streams.py);
this is the exact, unbounded-history form.

Here batch vs corpus is a deterministic doc_id split (doc_id % 5 == 0 ⇒
batch, ~20%) so the whole pipeline has an exact DuckDB oracle.

Per batch document:

* ``exact_dup``   — md5(text) digest already present in the corpus
  (one hash equi-join on the 32-hex digest).
* ``n_near_dups`` / ``best_jaccard`` — word-3-gram Jaccard vs corpus
  documents at/above 0.8, via the same inverted-index join as
  ``dedup_ngram_jaccard`` but ASYMMETRIC: gram keys join batch-side
  postings against corpus-side postings only, so candidate volume is
  |batch grams ∩ corpus grams| — no corpus-corpus pairs are ever
  generated.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import word_ngrams
from ..sources.tables import load_table
from . import QuerySpec
from ..operators.caching import tracked_cache

_N = 3
_TAU = 0.8


def _q_dedup_incremental_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    is_batch = (F.col("doc_id") % 5) == 0
    batch = docs.where(is_batch)
    corpus = docs.where(~is_batch)

    # exact tier: digest equi-join (the corpus digest table is the
    # maintained artifact at scale; here derived in-query)
    corpus_digests = corpus.select(F.md5("text").alias("digest")).distinct()
    batch_digests = batch.select("doc_id", F.md5("text").alias("digest"))
    exact = (
        batch_digests.join(corpus_digests, "digest", "left_semi")
        .select("doc_id")
        .withColumn("exact_dup", F.lit(True))
    )

    # near tier: asymmetric inverted-index join, batch grams probe
    # corpus grams; distinct-gram sets + intersection counts -> Jaccard.
    # ONE gram index over the whole table, split by the batch flag —
    # building per-side indexes would scan and explode the corpus twice
    # for the same total gram volume (measured ~25% of query time).
    dg_all = word_ngrams(docs, _N).transform(tracked_cache)
    bg = dg_all.where((F.col("doc_id") % 5) == 0)
    cg = dg_all.where((F.col("doc_id") % 5) != 0)
    b_sizes = bg.groupBy("doc_id").agg(F.count("*").alias("b_sz"))
    c_sizes = cg.groupBy("doc_id").agg(F.count("*").alias("c_sz"))
    inter = (
        bg.alias("b")
        .join(cg.alias("c"), "gram")
        .groupBy(
            F.col("b.doc_id").alias("batch_id"), F.col("c.doc_id").alias("corpus_id")
        )
        .agg(F.count("*").alias("inter"))
    )
    jac = (
        inter.join(b_sizes.withColumnRenamed("doc_id", "batch_id"), "batch_id")
        .join(c_sizes.withColumnRenamed("doc_id", "corpus_id"), "corpus_id")
        .withColumn(
            "jaccard",
            F.round(
                F.col("inter").cast("double")
                / (F.col("b_sz") + F.col("c_sz") - F.col("inter")).cast("double"),
                6,
            ),
        )
        .where(F.col("jaccard") >= _TAU)
    )
    near = jac.groupBy(F.col("batch_id").alias("doc_id")).agg(
        F.count(F.lit(1)).alias("n_near_dups"),
        F.max("jaccard").alias("best_jaccard"),
    )

    return (
        batch.select("doc_id")
        .join(exact, "doc_id", "left")
        .join(near, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("exact_dup"), F.lit(False)).alias("exact_dup"),
            F.coalesce(F.col("n_near_dups"), F.lit(0)).alias("n_near_dups"),
            F.coalesce(F.col("best_jaccard"), F.lit(0.0)).alias("best_jaccard"),
        )
    )


_SQL_DEDUP_INCREMENTAL_BATCH = """
WITH toks AS (
  SELECT doc_id, doc_id % 5 = 0 AS is_batch,
         string_split(text, ' ') AS tokens, md5(text) AS digest
  FROM documents
), grams AS (
  SELECT doc_id, is_batch,
         unnest(list_transform(generate_series(1, len(tokens) - 2),
                i -> array_to_string(list_slice(tokens, i, i + 2), ' '))) AS gram
  FROM toks WHERE len(tokens) >= 3
), dg AS (
  SELECT DISTINCT doc_id, is_batch, gram FROM grams
), sizes AS (
  SELECT doc_id, count(*) AS sz FROM dg GROUP BY doc_id
), inter AS (
  SELECT b.doc_id AS batch_id, c.doc_id AS corpus_id, count(*) AS inter
  FROM dg b JOIN dg c ON b.gram = c.gram
  WHERE b.is_batch AND NOT c.is_batch
  GROUP BY 1, 2
), jac AS (
  SELECT batch_id,
         round(CAST(inter AS DOUBLE)
               / CAST(sb.sz + sc.sz - inter AS DOUBLE), 6) AS jaccard
  FROM inter
  JOIN sizes sb ON batch_id = sb.doc_id
  JOIN sizes sc ON corpus_id = sc.doc_id
  WHERE round(CAST(inter AS DOUBLE)
              / CAST(sb.sz + sc.sz - inter AS DOUBLE), 6) >= 0.8
), near AS (
  SELECT batch_id AS doc_id, count(*) AS n_near_dups,
         max(jaccard) AS best_jaccard
  FROM jac GROUP BY 1
), exact AS (
  SELECT DISTINCT b.doc_id
  FROM toks b
  WHERE b.is_batch
    AND b.digest IN (SELECT digest FROM toks WHERE NOT is_batch)
)
SELECT t.doc_id,
       e.doc_id IS NOT NULL AS exact_dup,
       coalesce(n.n_near_dups, 0) AS n_near_dups,
       coalesce(n.best_jaccard, 0.0) AS best_jaccard
FROM toks t
LEFT JOIN exact e ON t.doc_id = e.doc_id
LEFT JOIN near n ON t.doc_id = n.doc_id
WHERE t.is_batch
"""


SPECS: dict[str, QuerySpec] = {
    "dedup_incremental_batch": QuerySpec(
        _q_dedup_incremental_batch,
        _SQL_DEDUP_INCREMENTAL_BATCH,
        "incremental-ingest dedup: new batch scored against the corpus "
        "(digest equi-join + asymmetric gram inverted-index Jaccard) — "
        "O(batch) new work, no corpus-corpus pairs",
    ),
}
