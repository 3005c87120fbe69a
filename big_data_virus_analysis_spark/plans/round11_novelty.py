"""Round-11 memorization-audit pack: verbatim n-gram novelty of the
eval corpus against the train corpus — the "how much of this
benchmark could be regurgitated?" number (the n-gram overlap audit
run before trusting an eval score, complementing round11_align's
document-level contamination provenance with a GRAM-level rate).

* ``eval_ngram_novelty`` — using the alignment pack's eval/train
  split (``doc_id < N_EVAL``): for every eval document, the fraction
  of its distinct word 8-grams that appear verbatim ANYWHERE in the
  training corpus.  The train gram set is probed via a semi-join
  against the BROADCAST eval grams (benchmarks are a few MB; the
  train corpus streams partition-local, never reshuffled), then each
  eval doc rolls up: distinct grams, grams seen in train, novelty in
  millis (1000 = fully novel, 0 = fully memorizable), plus the
  corpus-level pooled novelty repeated per row.  Longer grams than
  the dedup trigrams on purpose: 8-gram verbatim overlap is the
  standard memorization proxy (and the alignment family's Jaccard
  catches the paraphrase end).

100-TB shape: one documents scan → distinct (doc, gram) hash agg →
broadcast-probe semi-join keyed by the eval side → per-eval-doc hash
agg.  No corpus-sized shuffle anywhere.

Identity properties (tests/test_properties.py): a verbatim copy in
train drives an eval doc's novelty to 0; a disjoint-vocabulary eval
doc scores exactly 1000; novelty accounting (seen + unseen = total)
holds; pooled novelty lies between the per-doc min and max.

No reference counterpart (curation extension alongside
plans/round11_align.py); standard n-gram overlap methodology.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import word_ngrams
from ..sources.tables import load_table
from . import QuerySpec
from .round11_align import N_EVAL

#: memorization gram order (verbatim 8-grams, the standard proxy)
NOV_N = 8


def _q_eval_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    dg = word_ngrams(docs, NOV_N)
    ev_g = dg.where(F.col("doc_id") < N_EVAL).select(
        F.col("doc_id").alias("eval_doc"), "gram"
    )
    # distinct train grams probed by the broadcast eval side: the
    # train corpus never reshuffles (the alignment-pack discipline)
    tr_g = dg.where(F.col("doc_id") >= N_EVAL).select("gram").distinct()
    seen = tr_g.join(
        F.broadcast(ev_g.select("gram").distinct()), "gram"
    ).select("gram", F.lit(1).alias("in_train"))
    per = (
        ev_g.join(F.broadcast(seen), "gram", "left")
        .groupBy("eval_doc")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.coalesce(
                F.sum(F.coalesce("in_train", F.lit(0))), F.lit(0)
            )
            .cast("bigint")
            .alias("n_seen"),
        )
    )
    pooled = per.agg(
        F.coalesce(F.sum("n_grams"), F.lit(0).cast("bigint")).alias("tg"),
        F.coalesce(F.sum("n_seen"), F.lit(0).cast("bigint")).alias("ts"),
    )
    return (
        per.crossJoin(F.broadcast(pooled))
        .select(
            "eval_doc",
            "n_grams",
            "n_seen",
            (F.col("n_grams") - F.col("n_seen")).alias("n_novel"),
            F.expr(
                "(n_grams - n_seen) * 1000 div n_grams"
            ).alias("novelty_milli"),
            F.expr(
                "CASE WHEN tg = 0 THEN NULL"
                " ELSE CAST((tg - ts) * 1000 div tg AS BIGINT) END"
            ).alias("pooled_novelty_milli"),
        )
        .orderBy("eval_doc")
    )


_SQL_NOVELTY = f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS tokens FROM documents
), grams AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, len(tokens) - {NOV_N - 1}),
         i -> array_to_string(list_slice(tokens, i, i + {NOV_N - 1}), ' ')))
           AS gram
  FROM toks WHERE len(tokens) >= {NOV_N}
), dg AS (
  SELECT DISTINCT doc_id, gram FROM grams
), ev_g AS (
  SELECT doc_id AS eval_doc, gram FROM dg WHERE doc_id < {N_EVAL}
), tr_g AS (
  SELECT DISTINCT gram FROM dg WHERE doc_id >= {N_EVAL}
), per AS MATERIALIZED (
  SELECT e.eval_doc,
         CAST(count(*) AS BIGINT) AS n_grams,
         CAST(coalesce(sum(CASE WHEN t.gram IS NOT NULL
                                THEN 1 ELSE 0 END), 0) AS BIGINT)
           AS n_seen
  FROM ev_g e LEFT JOIN tr_g t ON t.gram = e.gram
  GROUP BY e.eval_doc
), pooled AS (
  SELECT CAST(coalesce(sum(n_grams), 0) AS BIGINT) AS tg,
         CAST(coalesce(sum(n_seen), 0) AS BIGINT) AS ts
  FROM per
)
SELECT eval_doc, n_grams, n_seen,
       n_grams - n_seen AS n_novel,
       CAST((n_grams - n_seen) * 1000 // n_grams AS BIGINT)
         AS novelty_milli,
       CASE WHEN tg = 0 THEN NULL
            ELSE CAST((tg - ts) * 1000 // tg AS BIGINT) END
         AS pooled_novelty_milli
FROM per CROSS JOIN pooled
ORDER BY eval_doc
"""


SPECS: dict[str, QuerySpec] = {
    "eval_ngram_novelty": QuerySpec(
        _q_eval_ngram_novelty,
        _SQL_NOVELTY,
        "verbatim 8-gram novelty of each eval doc vs the train corpus "
        "(broadcast eval probe, train never reshuffled): the "
        "memorization-risk rate beside the alignment pack's "
        "document-level provenance",
    ),
}
