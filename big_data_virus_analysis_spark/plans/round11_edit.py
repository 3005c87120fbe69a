"""Round-11 pair-verification pack: exact Levenshtein edit distance
over the near-duplicate candidate pairs — the second, independent
similarity metric a dedup pipeline uses to adjudicate what token-set
Jaccard cannot see (reorderings score high on Jaccard but far on edit
distance; small in-place edits score high on both).

* ``edit_distance_dup_pairs`` — candidate pairs from the dedup
  family's inverted-index generator (``ngram_jaccard_pairs`` at the
  0.5 floor, hot-gram-capped — never all-pairs), each scored with the
  EXACT Levenshtein distance between the documents' first
  ``ED_MAX_CHARS`` characters: the full (la+1)×(lb+1) integer DP as
  nested array folds (outer fold carries the previous DP row — the
  ``dtw_month_shape_distance`` shape, zero iteration jobs, zero
  floats).  Output per pair: both prefix lengths, the token-set
  Jaccard it was generated with, the edit distance, the normalized
  similarity ``1000 − ed*1000 div max(la,lb)`` in millis, and the
  two classical bound witnesses ``|la−lb| ≤ ed ≤ max(la,lb)`` checked
  in-band per row.

The DuckDB twin replays the identical DP with ``list_reduce`` over
BIGINT[] rows and singleton-list indexes — the safe single-expression
accumulator path (round-10's ``list_reduce`` struct hazard), exactly
the ``round10_dp`` DTW oracle mechanism.

100-TB shape: the pair set is bounded by the LSH/inverted-index
discipline (hot-gram cutoff), the per-pair DP is a constant
``ED_MAX_CHARS²`` fold independent of corpus size, and the text
lookup joins broadcast the small pair side into the documents scan.

Identity properties (tests/test_properties.py): the fold equals the
textbook two-row Levenshtein on random strings; symmetry; the
triangle inequality on random triples; ed = 0 iff equal; both bound
witnesses.

No reference counterpart (dedup-verification extension alongside
operators/dedup.py); public algorithm only (Levenshtein 1966,
Wagner-Fischer 1974).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import ngram_jaccard_pairs
from ..sources.tables import load_table
from . import QuerySpec

#: edit-distance prefix cap — the per-pair DP is ED_MAX_CHARS² steps,
#: corpus-independent
ED_MAX_CHARS = 128
#: candidate floor: the dedup family's threshold-sweep floor
ED_JACC_FLOOR = 0.5


def _ed_fold(a: str, b: str, la: str, lb: str) -> str:
    """Spark: full Levenshtein DP as nested folds (outer row carry)."""
    cost = (
        f"IF(substring({a}, i, 1) = substring({b}, j, 1), "
        "CAST(0 AS BIGINT), CAST(1 AS BIGINT))"
    )
    inner = f"""aggregate(
      sequence(1, CAST({lb} AS INT)),
      array(CAST(i AS BIGINT)),
      (row, j) -> row || array(least(
        element_at(prev, j + 1) + 1,
        element_at(row, j) + 1,
        element_at(prev, j) + {cost})))"""
    return f"""element_at(aggregate(
      sequence(1, CAST({la} AS INT)),
      transform(sequence(0, CAST({lb} AS INT)), x -> CAST(x AS BIGINT)),
      (prev, i) -> {inner}), CAST({lb} AS INT) + 1)"""


def _q_edit_distance_dup_pairs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, n=3, threshold=ED_JACC_FLOOR)
    pref = docs.where(F.length("text") > 0).select(
        "doc_id",
        F.expr(f"substring(text, 1, {ED_MAX_CHARS})").alias("p"),
        F.expr(
            f"CAST(least(length(text), {ED_MAX_CHARS}) AS BIGINT)"
        ).alias("l"),
    )
    joined = (
        pref.join(
            F.broadcast(
                pairs.select("doc_a", "doc_b", "jaccard")
            ).withColumnRenamed("doc_a", "doc_id"),
            "doc_id",
        )
        .select(
            F.col("doc_id").alias("doc_a"),
            "doc_b",
            "jaccard",
            F.col("p").alias("pa"),
            F.col("l").alias("la"),
        )
        .join(
            pref.select(
                F.col("doc_id").alias("doc_b"),
                F.col("p").alias("pb"),
                F.col("l").alias("lb"),
            ),
            "doc_b",
        )
    )
    return (
        joined.select(
            "doc_a",
            "doc_b",
            "jaccard",
            "la",
            "lb",
            # r11 optimization (guide §4.1): the nested aggregate()
            # fold spelled out in _ed_fold is the SPECIFICATION, but
            # executing it costs O(la*lb) Catalyst lambda invocations
            # each allocating a row-array copy (~20s at sf0.1 for 256
            # pairs).  Spark's JVM-native levenshtein() computes the
            # identical unit-cost Wagner-Fischer integers over code
            # points (UTF8String.levenshteinDistance) — equality with
            # the fold is pinned by tests/test_plans.py::
            # test_levenshtein_builtin_equals_fold_expression.
            F.levenshtein("pa", "pb").cast("bigint").alias("edit_distance"),
        )
        .select(
            "doc_a",
            "doc_b",
            "jaccard",
            "la",
            "lb",
            "edit_distance",
            F.expr(
                "1000 - edit_distance * 1000 div greatest(la, lb)"
            ).alias("edit_sim_milli"),
            F.expr("edit_distance >= abs(la - lb)").alias("lower_bound_ok"),
            F.expr(
                "edit_distance <= greatest(la, lb)"
            ).alias("upper_bound_ok"),
        )
        .orderBy("doc_a", "doc_b")
    )


def _sql_ed_fold(a: str, b: str, la: str, lb: str) -> str:
    """DuckDB twin: list_reduce over BIGINT[] rows with singleton-list
    indexes (the round10_dp DTW oracle mechanism — list accumulators
    only, no struct accumulator)."""
    cost = (
        f"CASE WHEN substr({a}, CAST(x[1] AS INT), 1)"
        f" = substr({b}, CAST(y[1] AS INT), 1)"
        " THEN CAST(0 AS BIGINT) ELSE CAST(1 AS BIGINT) END"
    )
    inner = f"""list_reduce(
      [CAST([x[1]] AS BIGINT[])] || list_transform(
        range(1, CAST({lb} AS INT) + 1), j -> [CAST(j AS BIGINT)]),
      (row, y) -> row || [least(
        prev_row[CAST(y[1] AS INT) + 1] + 1,
        row[CAST(y[1] AS INT)] + 1,
        prev_row[CAST(y[1] AS INT)] + {cost})])"""
    return f"""(list_reduce(
      [list_transform(range(0, CAST({lb} AS INT) + 1),
                      z -> CAST(z AS BIGINT))] || list_transform(
        range(1, CAST({la} AS INT) + 1), i -> [CAST(i AS BIGINT)]),
      (prev_row, x) -> {inner}))[CAST({lb} AS INT) + 1]"""


_SQL_EDIT_PAIRS = f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS tokens FROM documents
), grams AS (
  SELECT doc_id, unnest(list_transform(generate_series(1, len(tokens) - 2),
         i -> array_to_string(list_slice(tokens, i, i + 2), ' '))) AS gram
  FROM toks WHERE len(tokens) >= 3
), dg AS (
  SELECT DISTINCT doc_id, gram FROM grams
), sizes AS (
  SELECT doc_id, count(*) AS sz FROM dg GROUP BY doc_id
), prs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
  FROM dg a JOIN dg b ON a.gram = b.gram AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), jacc AS (
  SELECT doc_a, doc_b,
         round(CAST(inter AS DOUBLE)
               / CAST(sa.sz + sb.sz - inter AS DOUBLE), 6) AS jaccard
  FROM prs
  JOIN sizes sa ON doc_a = sa.doc_id
  JOIN sizes sb ON doc_b = sb.doc_id
  WHERE round(CAST(inter AS DOUBLE)
              / CAST(sa.sz + sb.sz - inter AS DOUBLE), 6)
        >= {ED_JACC_FLOOR}
), pref AS (
  SELECT doc_id, substr(text, 1, {ED_MAX_CHARS}) AS p,
         CAST(least(length(text), {ED_MAX_CHARS}) AS BIGINT) AS l
  FROM documents WHERE length(text) > 0
), scored AS (
  SELECT j.doc_a, j.doc_b, j.jaccard,
         a.l AS la, b.l AS lb,
         {_sql_ed_fold("a.p", "b.p", "a.l", "b.l")} AS edit_distance
  FROM jacc j
  JOIN pref a ON a.doc_id = j.doc_a
  JOIN pref b ON b.doc_id = j.doc_b
)
SELECT doc_a, doc_b, jaccard, la, lb,
       CAST(edit_distance AS BIGINT) AS edit_distance,
       CAST(1000 - edit_distance * 1000 // greatest(la, lb) AS BIGINT)
         AS edit_sim_milli,
       edit_distance >= abs(la - lb) AS lower_bound_ok,
       edit_distance <= greatest(la, lb) AS upper_bound_ok
FROM scored
ORDER BY doc_a, doc_b
"""


def _q_edit_distance_dup_pairs_fast(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Arrow fast path: the SAME integers as the expression fold (an
    integer DP has one answer), computed per pair in NumPy via the
    prefix-min row recurrence — the Wagner-Fischer row
    row[j] = min(prev[j]+1, prev[j-1]+cost_j, row[j-1]+1) carries an
    in-row dependency, but m[j] = min(prev[j]+1, prev[j-1]+cost_j)
    (vectorized) turns it into row[j] = min_{k<=j}(m[k] + j - k)
    = j + running-min(m[k] - k) — one ``np.minimum.accumulate`` per
    row, no per-cell Python.  ~20x the fold's throughput at sf0.1
    (the fold stays as the oracle-matched specification and the twin
    both queries hash against)."""
    import numpy as np
    import pandas as pd

    from pyspark.sql import types as T

    docs = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, n=3, threshold=ED_JACC_FLOOR)
    pref = docs.where(F.length("text") > 0).select(
        "doc_id",
        F.expr(f"substring(text, 1, {ED_MAX_CHARS})").alias("p"),
        F.expr(
            f"CAST(least(length(text), {ED_MAX_CHARS}) AS BIGINT)"
        ).alias("l"),
    )
    joined = (
        pref.join(
            F.broadcast(
                pairs.select("doc_a", "doc_b", "jaccard")
            ).withColumnRenamed("doc_a", "doc_id"),
            "doc_id",
        )
        .select(
            F.col("doc_id").alias("doc_a"),
            "doc_b",
            "jaccard",
            F.col("p").alias("pa"),
            F.col("l").alias("la"),
        )
        .join(
            pref.select(
                F.col("doc_id").alias("doc_b"),
                F.col("p").alias("pb"),
                F.col("l").alias("lb"),
            ),
            "doc_b",
        )
    )

    out_schema = T.StructType(
        [
            T.StructField("doc_a", T.LongType()),
            T.StructField("doc_b", T.LongType()),
            T.StructField("jaccard", T.DoubleType()),
            T.StructField("la", T.LongType()),
            T.StructField("lb", T.LongType()),
            T.StructField("edit_distance", T.LongType()),
        ]
    )

    def _lev_np(a: str, b: str) -> int:
        # CODE-POINT arrays, not utf-8 bytes: the fold compares
        # substring() characters, and byte-level DP would differ on
        # multi-byte text
        bb = np.fromiter(map(ord, b), dtype=np.int64, count=len(b))
        prev = np.arange(len(bb) + 1, dtype=np.int64)
        idx = np.arange(len(bb) + 1, dtype=np.int64)
        for i, ca in enumerate(map(ord, a), 1):
            cost = (bb != ca).astype(np.int64)
            m = np.empty(len(bb) + 1, dtype=np.int64)
            m[0] = i
            np.minimum(prev[1:] + 1, prev[:-1] + cost, out=m[1:])
            prev = np.minimum.accumulate(m - idx) + idx
        return int(prev[-1])

    def _batch(it):
        for pdf in it:
            yield pd.DataFrame(
                {
                    "doc_a": pdf["doc_a"],
                    "doc_b": pdf["doc_b"],
                    "jaccard": pdf["jaccard"],
                    "la": pdf["la"],
                    "lb": pdf["lb"],
                    "edit_distance": [
                        _lev_np(a, b) for a, b in zip(pdf["pa"], pdf["pb"])
                    ],
                }
            )

    scored = joined.mapInPandas(_batch, out_schema)
    return (
        scored.select(
            "doc_a",
            "doc_b",
            "jaccard",
            "la",
            "lb",
            "edit_distance",
            F.expr(
                "1000 - edit_distance * 1000 div greatest(la, lb)"
            ).alias("edit_sim_milli"),
            F.expr("edit_distance >= abs(la - lb)").alias("lower_bound_ok"),
            F.expr(
                "edit_distance <= greatest(la, lb)"
            ).alias("upper_bound_ok"),
        )
        .orderBy("doc_a", "doc_b")
    )


SPECS: dict[str, QuerySpec] = {
    "edit_distance_dup_pairs": QuerySpec(
        _q_edit_distance_dup_pairs,
        _SQL_EDIT_PAIRS,
        "exact Levenshtein on the inverted-index near-dup candidate "
        "pairs (128-char prefixes, full integer DP as nested folds): "
        "the independent second metric beside token Jaccard, with "
        "both classical bounds witnessed per row",
    ),
    "edit_distance_dup_pairs_fast": QuerySpec(
        _q_edit_distance_dup_pairs_fast,
        _SQL_EDIT_PAIRS,
        "Arrow fast path for the same pairs: NumPy prefix-min row "
        "recurrence (np.minimum.accumulate) per pair — bit-identical "
        "integers against the identical oracle, ~20x the fold",
    ),
}
