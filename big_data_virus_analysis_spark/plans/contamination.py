"""Training-data hygiene: benchmark decontamination + boilerplate mining.

Two curation operators every LLM corpus build runs before training:

* **Decontamination** — find training documents sharing n-gram shingles
  with a held-out evaluation set, the standard test-set-leakage check
  (GPT-3 §C / PaLM-style n-gram overlap).  Eval set here = ``doc_id <
  5`` (a deterministic stand-in for the real benchmark suite); overlap
  counted over DISTINCT word n-grams per document.
* **Boilerplate mining** — n-grams whose document frequency exceeds a
  RELATIVE threshold (5% of the corpus): headers, footers, license
  blurbs, navigation chrome.  Relative, not absolute, so the same query
  is meaningful at any corpus size.

Scale shape: both are one gram-explosion scan + hash aggregates.  The
contamination join is inverted-index-shaped — the EVAL side (benchmark
suites are a few MB) broadcasts, so the training corpus is never
shuffled: each task streams its gram partition against the in-memory
eval index.  Boilerplate is a plain gram hash-agg; the corpus-count
threshold rides in as a one-row broadcast scalar (same pattern as
info_gain's totals).  No reference counterpart (curation extension,
SURVEY.md §7 phase 3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import word_ngrams
from ..sources.tables import load_table
from . import QuerySpec

#: eval-set cut (deterministic stand-in for a benchmark suite)
_N_EVAL = 5
#: n-gram order — short on the synthetic corpus so overlap exists;
#: production decontamination uses 8-13-grams, a parameter not a design
_NGRAM = 2
#: min shared distinct grams to flag a (train, eval) pair
_MIN_SHARED = 5
#: boilerplate document-frequency threshold (fraction of corpus)
_BOILER_DF_FRAC = 0.05


def contamination_pairs(
    documents: DataFrame,
    n: int = _NGRAM,
    n_eval: int = _N_EVAL,
    min_shared: int = _MIN_SHARED,
) -> DataFrame:
    """(train_doc, eval_doc, n_shared) — training docs sharing ≥
    ``min_shared`` distinct word n-grams with an eval doc."""
    dg = word_ngrams(documents, n)
    ev = dg.where(F.col("doc_id") < n_eval).select(
        F.col("doc_id").alias("eval_doc"), "gram"
    )
    tr = dg.where(F.col("doc_id") >= n_eval).select(
        F.col("doc_id").alias("train_doc"), "gram"
    )
    return (
        tr.join(F.broadcast(ev), "gram")
        .groupBy("train_doc", "eval_doc")
        .agg(F.count("*").alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )


def boilerplate_ngrams(
    documents: DataFrame, n: int = _NGRAM, df_frac: float = _BOILER_DF_FRAC
) -> DataFrame:
    """(gram, df, df_frac) — n-grams present in ≥ ``df_frac`` of docs."""
    n_docs = documents.agg(F.count("*").alias("n_docs"))
    df = word_ngrams(documents, n).groupBy("gram").agg(F.count("*").alias("df"))
    return (
        df.crossJoin(F.broadcast(n_docs))
        .where(F.col("df") >= F.lit(df_frac) * F.col("n_docs"))
        .select(
            "gram",
            "df",
            F.round(F.col("df").cast("double") / F.col("n_docs"), 6).alias("df_frac"),
        )
    )


def _q_contamination_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return contamination_pairs(load_table(spark, sf_dir, "documents"))


def _q_boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    return boilerplate_ngrams(load_table(spark, sf_dir, "documents"))


_SQL_GRAMS = f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
), grams AS (
  SELECT doc_id, unnest(list_transform(generate_series(1, len(t) - {_NGRAM - 1}),
         i -> array_to_string(list_slice(t, i, i + {_NGRAM - 1}), ' '))) AS gram
  FROM toks WHERE len(t) >= {_NGRAM}
), dg AS (
  SELECT DISTINCT doc_id, gram FROM grams
)
"""

_SQL_CONTAMINATION_PAIRS = _SQL_GRAMS + f"""
, ev AS (SELECT doc_id AS eval_doc, gram FROM dg WHERE doc_id < {_N_EVAL})
, tr AS (SELECT doc_id AS train_doc, gram FROM dg WHERE doc_id >= {_N_EVAL})
SELECT train_doc, eval_doc, count(*) AS n_shared
FROM tr JOIN ev USING (gram)
GROUP BY train_doc, eval_doc
HAVING count(*) >= {_MIN_SHARED}
"""

_SQL_BOILERPLATE_NGRAMS = _SQL_GRAMS + f"""
SELECT gram, df,
       round(CAST(df AS DOUBLE) / n_docs, 6) AS df_frac
FROM (SELECT gram, count(*) AS df FROM dg GROUP BY gram)
CROSS JOIN (SELECT count(*) AS n_docs FROM documents)
WHERE df >= {_BOILER_DF_FRAC} * n_docs
"""


SPECS: dict[str, QuerySpec] = {
    "contamination_pairs": QuerySpec(
        _q_contamination_pairs,
        _SQL_CONTAMINATION_PAIRS,
        "benchmark decontamination: training docs sharing ≥5 distinct "
        "n-grams with the eval set (eval side broadcast)",
    ),
    "boilerplate_ngrams": QuerySpec(
        _q_boilerplate_ngrams,
        _SQL_BOILERPLATE_NGRAMS,
        "boilerplate mining: n-grams in ≥5% of documents (relative "
        "threshold via one-row broadcast scalar)",
    ),
}
