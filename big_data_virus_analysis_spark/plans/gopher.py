"""Gopher-style quality rules (Rae et al. 2021, "Scaling Language
Models: Methods, Analysis & Insights from Training Gopher" — public):
the rule-based document filters every large-corpus pipeline applies
before model-based scoring.

* ``gopher_quality_flags`` — the per-document rule battery: word-count
  bounds, mean-word-length bounds, alphabetic-word fraction, stopword
  presence, plus the final AND ``keep`` flag.  Everything is per-row
  array math over the staged token column — a PURE MAP over the scan,
  zero shuffles, embarrassingly parallel at any corpus size.
* ``top_ngram_char_fraction`` — Gopher's repetition rule family:
  the fraction of characters covered by occurrences of the single most
  frequent word-2-gram (threshold ≤ 0.2 in the paper).  The mode of a
  per-doc gram multiset is computed by explode → (doc, gram) hash agg →
  per-doc max over (count, gram) structs — shuffles only on doc_id /
  (doc_id, gram), both well-distributed keys, no windows over anything
  bigger than one doc's distinct grams.  Companion to
  ``dup_ngram_fraction`` (plans/outliers.py), which scores DISTINCTNESS
  while this scores CONCENTRATION.

Both carry exact DuckDB oracles; thresholds are compared on the same
IEEE doubles in both engines (integer-derived divisions — bit-exact).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.text_quality import LANG_STOPWORDS
from ..sources.tables import load_table
from . import QuerySpec

_MIN_WORDS, _MAX_WORDS = 50, 100_000
_MIN_MWL, _MAX_MWL = 3.0, 10.0
_MIN_ALPHA_FRAC = 0.8
_MIN_STOP_HITS = 2

_EN_STOPS = LANG_STOPWORDS["en"]


def _q_gopher_quality_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.col("text"), " "), lambda t: F.length(t) > 0)
    staged = docs.select("doc_id", toks.alias("_toks"))
    n = F.size("_toks")
    len_sum = F.aggregate(
        F.transform(F.col("_toks"), lambda t: F.length(t)),
        F.lit(0),
        lambda a, v: a + v,
    )
    mwl = len_sum.cast("double") / n.cast("double")
    alpha_frac = (
        F.size(F.filter(F.col("_toks"), lambda t: t.rlike("[A-Za-z]"))).cast("double")
        / n.cast("double")
    )
    stop_hits = F.size(
        F.array_intersect(
            F.transform(F.col("_toks"), lambda t: F.lower(t)),
            F.array(*[F.lit(w) for w in _EN_STOPS]),
        )
    )
    flags = staged.select(
        "doc_id",
        n.alias("n_words"),
        F.round(mwl, 6).alias("mean_word_len"),
        F.round(alpha_frac, 6).alias("alpha_frac"),
        stop_hits.alias("stop_hits"),
        ((n >= _MIN_WORDS) & (n <= _MAX_WORDS)).alias("ok_word_count"),
        ((mwl >= _MIN_MWL) & (mwl <= _MAX_MWL)).alias("ok_mean_word_len"),
        (alpha_frac >= _MIN_ALPHA_FRAC).alias("ok_alpha_frac"),
        (stop_hits >= _MIN_STOP_HITS).alias("ok_stopwords"),
    )
    return flags.withColumn(
        "keep",
        F.col("ok_word_count")
        & F.col("ok_mean_word_len")
        & F.col("ok_alpha_frac")
        & F.col("ok_stopwords"),
    )


_STOPS_LIST_SQL = "[" + ", ".join(f"'{w}'" for w in _EN_STOPS) + "]"

_SQL_GOPHER_QUALITY_FLAGS = f"""
WITH t AS (
  SELECT doc_id,
         list_filter(string_split(text, ' '), x -> length(x) > 0) AS a
  FROM documents
), m AS (
  SELECT doc_id,
         len(a) AS n_words,
         CAST(list_sum(list_transform(a, x -> length(x))) AS DOUBLE)
           / CAST(len(a) AS DOUBLE) AS mwl,
         CAST(len(list_filter(a, x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE)
           / CAST(len(a) AS DOUBLE) AS alpha_frac,
         len(list_intersect(list_transform(a, x -> lower(x)),
                            {_STOPS_LIST_SQL})) AS stop_hits
  FROM t
)
SELECT doc_id, n_words,
       round(mwl, 6) AS mean_word_len,
       round(alpha_frac, 6) AS alpha_frac,
       stop_hits,
       n_words >= {_MIN_WORDS} AND n_words <= {_MAX_WORDS} AS ok_word_count,
       mwl >= {_MIN_MWL} AND mwl <= {_MAX_MWL} AS ok_mean_word_len,
       alpha_frac >= {_MIN_ALPHA_FRAC} AS ok_alpha_frac,
       stop_hits >= {_MIN_STOP_HITS} AS ok_stopwords,
       (n_words >= {_MIN_WORDS} AND n_words <= {_MAX_WORDS})
         AND (mwl >= {_MIN_MWL} AND mwl <= {_MAX_MWL})
         AND alpha_frac >= {_MIN_ALPHA_FRAC}
         AND stop_hits >= {_MIN_STOP_HITS} AS keep
FROM m
"""


def _q_top_ngram_char_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    grams = F.transform(
        F.sequence(F.lit(1), F.size("_toks") - 1),
        lambda i: F.concat_ws(" ", F.slice(F.col("_toks"), i, 2)),
    )
    ex = (
        docs.where(F.size(toks) >= 2)
        .select("doc_id", F.length("text").alias("n_chars"), toks.alias("_toks"))
        .select("doc_id", "n_chars", F.explode(grams).alias("gram"))
    )
    counts = ex.groupBy("doc_id", "n_chars", "gram").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    # per-doc argmax as a max over (cnt, gram) structs — no window, the
    # tie rule (higher count, then lexicographically LAST gram) is the
    # struct ordering itself, mirrored in the oracle
    top = counts.groupBy("doc_id", "n_chars").agg(
        F.max(F.struct(F.col("cnt"), F.col("gram"))).alias("_top")
    )
    return top.select(
        "doc_id",
        F.col("_top.gram").alias("top_gram"),
        F.col("_top.cnt").alias("n_occ"),
        F.round(
            (F.col("_top.cnt") * F.length("_top.gram")).cast("double")
            / F.col("n_chars").cast("double"),
            6,
        ).alias("char_frac"),
    )


_SQL_TOP_NGRAM_CHAR_FRACTION = """
WITH t AS (
  SELECT doc_id, length(text) AS n_chars, string_split(text, ' ') AS a
  FROM documents
), grams AS (
  SELECT doc_id, n_chars,
         unnest(list_transform(range(1, len(a)),
                i -> array_to_string(a[i:i+1], ' '))) AS gram
  FROM t WHERE len(a) >= 2
), counts AS (
  SELECT doc_id, n_chars, gram, count(*) AS cnt
  FROM grams GROUP BY 1, 2, 3
), top AS (
  SELECT doc_id, n_chars, gram, cnt,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY cnt DESC, gram DESC) AS rn
  FROM counts
)
SELECT doc_id, gram AS top_gram, cnt AS n_occ,
       round(CAST(cnt * length(gram) AS DOUBLE) / CAST(n_chars AS DOUBLE), 6)
         AS char_frac
FROM top WHERE rn = 1
"""


SPECS: dict[str, QuerySpec] = {
    "gopher_quality_flags": QuerySpec(
        _q_gopher_quality_flags,
        _SQL_GOPHER_QUALITY_FLAGS,
        "Gopher rule battery (word count, mean word length, alphabetic "
        "fraction, stopword presence) + keep flag: pure per-row array "
        "math, zero shuffles",
    ),
    "top_ngram_char_fraction": QuerySpec(
        _q_top_ngram_char_fraction,
        _SQL_TOP_NGRAM_CHAR_FRACTION,
        "Gopher repetition rule: characters covered by the most frequent "
        "2-gram per doc — explode + hash agg + struct-max argmax, no "
        "row-level windows",
    ),
}
