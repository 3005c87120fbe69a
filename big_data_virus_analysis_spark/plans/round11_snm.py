"""Round-11 blocking-strategy pack: sorted-neighborhood dedup
candidates — the classical record-linkage alternative to hash/LSH
blocking (Hernandez & Stolfo 1995), plus its honesty audit against
exact ground truth.  LSH buckets by CONTENT hashes; the sorted
neighborhood buckets by LEXICOGRAPHIC ADJACENCY of a sort key, which
catches near-dups whose shared prefix survives edits that move them
through different LSH bands.  A real pipeline runs both and unions
the candidates; this pack adds the missing half.

* ``sorted_neighborhood_pairs`` — documents sorted by the key
  (first ``SNM_KEY_CHARS`` chars lowercased, doc_id tiebreak), each
  paired with the ``SNM_WINDOW − 1`` successors inside its sliding
  window.  Distributed shape: the global sort position comes from the
  two-phase rank (``global_row_number`` — no single-partition
  window); pairs come from a self-join on ``rn div SNM_WINDOW`` block
  ids over the CURRENT and NEXT block (every within-window pair lies
  in one block or spans two adjacent ones — the standard distributed
  SNM decomposition), filtered to ``0 < rn_b − rn_a < SNM_WINDOW``.
  Each pair carries its exact trigram Jaccard in micro-units (the
  dedup family's metric), so the emitted table is decision-ready.
* ``snm_vs_exact_recall_audit`` — ground truth = ALL pairs with
  Jaccard ≥ the dedup family's 0.5 floor (the inverted-index
  generator, hot-gram-capped); measured: how many the sorted
  neighborhood finds, recall in millis, the miss count, and the
  window's candidate count — the same honesty contract as
  ``eval_lsh_recall_audit`` gives the banded path.

100-TB shape: one scan builds the (key, doc) frame; the two-phase
rank is the only global ordering and never single-tasks; the block
self-join shuffles on block id with ≤ 2·SNM_WINDOW rows per block
side; the Jaccard scoring joins the bounded candidate set against the
gram index.

Identity properties (tests/test_properties.py): the block
decomposition (same-block ∪ adjacent-block, distance < w) generates
EXACTLY the textbook sliding-window pair set for any ordering and any
window; recall accounting (hits + misses = truth) holds by
construction on random universes.

No reference counterpart (dedup extension alongside
operators/dedup.py); public algorithm only (Hernandez-Stolfo 1995).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.caching import tracked_cache
from ..operators.dedup import ngram_jaccard_pairs, word_ngrams
from ..operators.prefix_sum import global_row_number
from ..sources.tables import load_table
from . import QuerySpec

#: sort-key prefix length (lowercased first chars)
SNM_KEY_CHARS = 24
#: sliding-window width (pairs within w-1 positions)
SNM_WINDOW = 8
#: the dedup family's candidate floor for ground truth
SNM_JACC_FLOOR = 0.5


def _snm_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_a, doc_b, rank_dist) — within-window pairs, doc_a the
    earlier row in key order."""
    docs = load_table(spark, sf_dir, "documents")
    keyed = docs.where(F.length("text") > 0).select(
        "doc_id",
        F.lower(F.expr(f"substring(text, 1, {SNM_KEY_CHARS})")).alias("k"),
    )
    ranked = global_row_number(
        keyed, [F.asc("k"), F.asc("doc_id")], out_col="rn"
    ).select("doc_id", "rn", F.expr(f"rn div {SNM_WINDOW}").alias("blk"))
    a = ranked.select(
        F.col("doc_id").alias("doc_a"),
        F.col("rn").alias("rn_a"),
        F.col("blk").alias("blk_a"),
    )
    # standard distributed SNM: every pair at rank distance < w lies in
    # the same block or spans two ADJACENT blocks — probe each left row
    # against its own and its successor block
    probes = a.select(
        "doc_a", "rn_a", F.col("blk_a").alias("blk")
    ).unionByName(
        a.select("doc_a", "rn_a", (F.col("blk_a") + 1).alias("blk"))
    )
    b = ranked.select(
        F.col("doc_id").alias("doc_b"),
        F.col("rn").alias("rn_b"),
        F.col("blk").alias("blk"),
    )
    return (
        probes.join(b, "blk")
        .where(
            (F.col("rn_b") > F.col("rn_a"))
            & (F.col("rn_b") - F.col("rn_a") < SNM_WINDOW)
        )
        .select(
            "doc_a", "doc_b", (F.col("rn_b") - F.col("rn_a")).alias("rank_dist")
        )
    )


def _q_sorted_neighborhood_pairs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    cand = tracked_cache(_snm_candidates(spark, sf_dir))
    dg = word_ngrams(docs, 3)
    sizes = dg.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    inter = (
        cand.join(
            dg.select(F.col("doc_id").alias("doc_a"), "gram"), "doc_a"
        )
        .join(
            dg.select(F.col("doc_id").alias("doc_b"), "gram"),
            ["doc_b", "gram"],
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return (
        cand.join(inter, ["doc_a", "doc_b"], "left")
        .join(
            sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sa")),
            "doc_a",
            "left",
        )
        .join(
            sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("sb")),
            "doc_b",
            "left",
        )
        .select(
            "doc_a",
            "doc_b",
            "rank_dist",
            F.expr(
                "CASE WHEN sa IS NULL OR sb IS NULL THEN CAST(0 AS BIGINT)"
                " ELSE CAST(round(coalesce(inter, 0) * 1000000.0"
                " / (sa + sb - coalesce(inter, 0)), 0) AS BIGINT) END"
            ).alias("jaccard_micro"),
        )
        .orderBy("doc_a", "doc_b")
    )


def _q_snm_vs_exact_recall_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    cand = tracked_cache(
        _snm_candidates(spark, sf_dir).select("doc_a", "doc_b").distinct()
    )
    truth = ngram_jaccard_pairs(docs, n=3, threshold=SNM_JACC_FLOOR).select(
        "doc_a", "doc_b"
    )
    joined = truth.join(
        cand.select("doc_a", "doc_b", F.lit(1).alias("hit")),
        ["doc_a", "doc_b"],
        "left",
    )
    t_agg = joined.agg(
        F.count(F.lit(1)).alias("n_true_pairs"),
        F.coalesce(F.sum(F.coalesce("hit", F.lit(0))), F.lit(0)).alias(
            "n_hits"
        ),
    )
    c_agg = cand.agg(F.count(F.lit(1)).alias("n_candidates"))
    return t_agg.crossJoin(F.broadcast(c_agg)).select(
        "n_true_pairs",
        F.col("n_hits").cast("bigint").alias("n_hits"),
        (F.col("n_true_pairs") - F.col("n_hits")).cast("bigint").alias(
            "n_misses"
        ),
        F.expr(
            "CASE WHEN n_true_pairs = 0 THEN NULL"
            " ELSE CAST(n_hits * 1000 div n_true_pairs AS BIGINT) END"
        ).alias("recall_millis"),
        "n_candidates",
    )


_SQL_SNM_CTES = f"""
WITH keyed AS MATERIALIZED (
  SELECT doc_id, lower(substr(text, 1, {SNM_KEY_CHARS})) AS k
  FROM documents WHERE length(text) > 0
), ranked AS MATERIALIZED (
  SELECT doc_id, row_number() OVER (ORDER BY k, doc_id) AS rn
  FROM keyed
), cand AS MATERIALIZED (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(b.rn - a.rn AS BIGINT) AS rank_dist
  FROM ranked a
  JOIN ranked b ON b.rn > a.rn AND b.rn - a.rn < {SNM_WINDOW}
), toks AS (
  SELECT doc_id, string_split(text, ' ') AS tokens FROM documents
), grams AS (
  SELECT doc_id, unnest(list_transform(generate_series(1, len(tokens) - 2),
         i -> array_to_string(list_slice(tokens, i, i + 2), ' '))) AS gram
  FROM toks WHERE len(tokens) >= 3
), dg AS (
  SELECT DISTINCT doc_id, gram FROM grams
), sizes AS (
  SELECT doc_id, count(*) AS sz FROM dg GROUP BY doc_id
)"""

_SQL_SNM_PAIRS = _SQL_SNM_CTES + f"""
, inter AS MATERIALIZED (
  SELECT c.doc_a, c.doc_b, count(*) AS inter
  FROM cand c
  JOIN dg a ON a.doc_id = c.doc_a
  JOIN dg b ON b.doc_id = c.doc_b AND b.gram = a.gram
  GROUP BY 1, 2
)
SELECT c.doc_a AS doc_a, c.doc_b AS doc_b, c.rank_dist,
       CASE WHEN sa.sz IS NULL OR sb.sz IS NULL THEN CAST(0 AS BIGINT)
            ELSE CAST(round(coalesce(i.inter, 0) * 1000000.0
                 / (sa.sz + sb.sz - coalesce(i.inter, 0)), 0) AS BIGINT)
       END AS jaccard_micro
FROM cand c
LEFT JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
LEFT JOIN sizes sa ON sa.doc_id = c.doc_a
LEFT JOIN sizes sb ON sb.doc_id = c.doc_b
ORDER BY c.doc_a, c.doc_b
"""

_SQL_SNM_RECALL = _SQL_SNM_CTES + f"""
, prs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
  FROM dg a JOIN dg b ON a.gram = b.gram AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), truth AS (
  SELECT doc_a, doc_b
  FROM prs
  JOIN sizes sa ON doc_a = sa.doc_id
  JOIN sizes sb ON doc_b = sb.doc_id
  WHERE round(CAST(inter AS DOUBLE)
              / CAST(sa.sz + sb.sz - inter AS DOUBLE), 6)
        >= {SNM_JACC_FLOOR}
), cd AS (SELECT DISTINCT doc_a, doc_b FROM cand),
t_agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n_true_pairs,
         CAST(coalesce(sum(CASE WHEN c.doc_a IS NOT NULL
                                THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_hits
  FROM truth t
  LEFT JOIN cd c ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b
), c_agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n_candidates FROM cd
)
SELECT n_true_pairs, n_hits,
       n_true_pairs - n_hits AS n_misses,
       CASE WHEN n_true_pairs = 0 THEN NULL
            ELSE CAST(n_hits * 1000 // n_true_pairs AS BIGINT) END
         AS recall_millis,
       n_candidates
FROM t_agg CROSS JOIN c_agg
"""


SPECS: dict[str, QuerySpec] = {
    "sorted_neighborhood_pairs": QuerySpec(
        _q_sorted_neighborhood_pairs,
        _SQL_SNM_PAIRS,
        "sorted-neighborhood dedup candidates (two-phase global rank, "
        "same+adjacent-block self-join = exact sliding window) with "
        "exact trigram Jaccard per pair — the lexicographic-blocking "
        "complement to LSH",
    ),
    "snm_vs_exact_recall_audit": QuerySpec(
        _q_snm_vs_exact_recall_audit,
        _SQL_SNM_RECALL,
        "sorted-neighborhood honesty check vs exact >=0.5-Jaccard "
        "ground truth: hits, misses, recall millis, candidate count",
    ),
}
