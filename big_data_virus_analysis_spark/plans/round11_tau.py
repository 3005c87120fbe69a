"""Round-11 cross-metric synthesis: do the two similarity lenses
AGREE?  Kendall's tau between token-set Jaccard and normalized edit
similarity over the near-duplicate candidate pairs — the one-row
answer to "would my dedup decisions change if I switched metrics?".

* ``jaccard_vs_edit_tau`` — the edit pack's scored frame (each
  candidate pair carries both ``jaccard`` and ``edit_sim_milli``)
  self-joined over unordered row pairs; exact integer concordance
  accounting: a row pair is concordant when the two metrics order it
  the same way (strictly), discordant when opposite, and ties on
  either metric are counted per class (the tau-a / tau-b
  distinction's raw material).  Output: pair count, C, D, tie counts,
  tau-a in micro-units ((C − D)·10⁶ div total), and the in-band
  sanity witness C + D + ties = total.  The Spark side rides the
  ARROW fast path for the edit scores (bit-identical to the fold);
  the oracle recomputes them with the expression-fold twin — so this
  query ALSO re-certifies fast == fold end-to-end on every run.

100-TB shape: the scored frame is bounded by the inverted-index
candidate discipline; the row-pair self-join is quadratic in THAT
bounded frame, never in the corpus, and both sides broadcast.

Identity properties (tests/test_properties.py): the pure-Python
concordance accounting matches an O(n²) reference on random frames;
tau = +1e6 on identically-ordered metrics, −1e6 on reversed ones;
the partition identity C + D + ties = n(n−1)/2 always.

No reference counterpart (synthesis of plans/round11_edit.py's
lenses); public statistic only (Kendall 1938).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.caching import tracked_cache
from . import QuerySpec
from .round11_edit import _SQL_EDIT_PAIRS, _q_edit_distance_dup_pairs_fast


def _q_jaccard_vs_edit_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    scored = tracked_cache(
        _q_edit_distance_dup_pairs_fast(spark, sf_dir).select(
            "doc_a",
            "doc_b",
            # micro-quantized jaccard: the exact integer the oracle
            # can reproduce (round(jaccard * 1e6) of the round-6
            # rounded double is stable on both engines)
            F.expr("CAST(round(jaccard * 1000000, 0) AS BIGINT)").alias(
                "jm"
            ),
            F.col("edit_sim_milli").alias("es"),
        )
    )
    # packed lexicographic key: a single range predicate instead of an
    # OR of inequalities (which Catalyst can only plan as a
    # CartesianProduct); order-isomorphic to (doc_a, doc_b) while
    # doc_b < 1e8 — true for the fixtures and the sf1 replica's 1e7
    # offsets, and int64-safe to doc_a < 9.2e10
    pk = (F.col("doc_a") * F.lit(100_000_000) + F.col("doc_b")).alias("pk")
    keyed = scored.select(pk, "jm", "es")
    a = keyed.select(
        F.col("pk").alias("pk1"),
        F.col("jm").alias("jm1"),
        F.col("es").alias("es1"),
    )
    b = keyed.select(
        F.col("pk").alias("pk2"),
        F.col("jm").alias("jm2"),
        F.col("es").alias("es2"),
    )
    # explicit broadcast: the fast-path frame carries no size stats,
    # and a stat-less range join would otherwise plan a
    # CartesianProduct; the candidate frame is bounded by the
    # inverted-index discipline, so the broadcast is honest
    rp = a.join(F.broadcast(b), F.col("pk1") < F.col("pk2"))
    agg = rp.agg(
        F.count(F.lit(1)).alias("n_row_pairs"),
        F.coalesce(
            F.sum(
                F.when(
                    (
                        (F.col("jm1") - F.col("jm2"))
                        * (F.col("es1") - F.col("es2"))
                    )
                    > 0,
                    1,
                ).otherwise(0)
            ),
            F.lit(0),
        ).alias("concordant"),
        F.coalesce(
            F.sum(
                F.when(
                    (
                        (F.col("jm1") - F.col("jm2"))
                        * (F.col("es1") - F.col("es2"))
                    )
                    < 0,
                    1,
                ).otherwise(0)
            ),
            F.lit(0),
        ).alias("discordant"),
        F.coalesce(
            F.sum(
                F.when(
                    (F.col("jm1") == F.col("jm2"))
                    | (F.col("es1") == F.col("es2")),
                    1,
                ).otherwise(0)
            ),
            F.lit(0),
        ).alias("tied"),
    )
    n_pairs = scored.agg(F.count(F.lit(1)).alias("n_pairs"))
    return agg.crossJoin(F.broadcast(n_pairs)).select(
        "n_pairs",
        "n_row_pairs",
        F.col("concordant").cast("bigint").alias("concordant"),
        F.col("discordant").cast("bigint").alias("discordant"),
        F.col("tied").cast("bigint").alias("tied"),
        F.expr(
            "CASE WHEN n_row_pairs = 0 THEN NULL ELSE "
            "CAST((concordant - discordant) * 1000000 div n_row_pairs"
            " AS BIGINT) END"
        ).alias("tau_a_micro"),
        F.expr(
            "concordant + discordant + tied = n_row_pairs"
        ).alias("partition_ok"),
    )


# the oracle embeds the edit pack's full expression-fold chain (so a
# fast-path divergence would surface HERE too), then adds the
# concordance suffix over the scored SELECT
_SQL_TAU = f"""
WITH scored_full AS MATERIALIZED (
{_SQL_EDIT_PAIRS.strip()}
), sc AS MATERIALIZED (
  SELECT doc_a, doc_b,
         CAST(round(jaccard * 1000000, 0) AS BIGINT) AS jm,
         edit_sim_milli AS es
  FROM scored_full
), keyed AS MATERIALIZED (
  -- packed lexicographic key, mirroring the Spark side's single
  -- range predicate
  SELECT doc_a * 100000000 + doc_b AS pk, jm, es FROM sc
), rp AS MATERIALIZED (
  SELECT x.jm AS jm1, x.es AS es1, y.jm AS jm2, y.es AS es2
  FROM keyed x JOIN keyed y ON x.pk < y.pk
), agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n_row_pairs,
         CAST(coalesce(sum(CASE WHEN (jm1 - jm2) * (es1 - es2) > 0
                                THEN 1 ELSE 0 END), 0) AS BIGINT)
           AS concordant,
         CAST(coalesce(sum(CASE WHEN (jm1 - jm2) * (es1 - es2) < 0
                                THEN 1 ELSE 0 END), 0) AS BIGINT)
           AS discordant,
         CAST(coalesce(sum(CASE WHEN jm1 = jm2 OR es1 = es2
                                THEN 1 ELSE 0 END), 0) AS BIGINT)
           AS tied
  FROM rp
)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM sc) AS n_pairs,
       n_row_pairs, concordant, discordant, tied,
       CASE WHEN n_row_pairs = 0 THEN NULL ELSE
         CAST((concordant - discordant) * 1000000 // n_row_pairs
           AS BIGINT) END AS tau_a_micro,
       concordant + discordant + tied = n_row_pairs AS partition_ok
FROM agg
"""


SPECS: dict[str, QuerySpec] = {
    "jaccard_vs_edit_tau": QuerySpec(
        _q_jaccard_vs_edit_tau,
        _SQL_TAU,
        "Kendall tau-a between token Jaccard and edit similarity over "
        "the candidate pairs (exact integer concordance, partition "
        "witness in-band) — and an end-to-end fast==fold recheck, "
        "since Spark rides the Arrow path while the oracle refolds",
    ),
}
