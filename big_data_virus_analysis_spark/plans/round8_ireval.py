"""Round-8 IR-evaluation / interval pack.

* ``ndcg_retrieval_eval`` — nDCG@10 and MRR of a self-contained TF
  retrieval run: the query is the corpus's two most frequent tokens
  (deterministic (cf desc, tok) pick), a document is RELEVANT when it
  contains both, and the ranking is term-frequency sum with doc_id
  tiebreak.  The discount weights are PER-RANK INTEGER CONSTANTS
  q_i = floor(1e8/log2(i+1) + 0.5), so DCG = Σ rel_i·q_i and the ideal
  DCG are exact integer sums — no float accumulation anywhere, the
  whole metric is oracle-exact by construction.  Completes the IR-eval
  family next to recall@10 (``ann_recall_audit``) and AUC.
* ``newcombe_diff_ci`` — Newcombe's hybrid score interval (Newcombe
  1998, method 10) for the DIFFERENCE of two segments' urgent-order
  proportions, built from the two per-segment Wilson intervals.  The
  repo has the one-sample Wilson CI; this is the two-sample interval
  A/B readouts actually report.

100 TB shape: one token scan → per-doc conditional agg; top-10 via
orderBy+limit; the rank/ideal frames are ≤10-row literals; the CI is
one 2-row aggregate.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.tables import load_table
from . import QuerySpec

_NDCG_K = 10
#: integer discount constants: q_i = floor(1e8 / log2(i+1) + 0.5)
_DCG_Q = {i: int(math.floor(1e8 / math.log2(i + 1) + 0.5)) for i in range(1, _NDCG_K + 1)}


def _q_ndcg_retrieval_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    ).where(F.length("tok") > 0)
    top2 = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cf"))
        .orderBy(F.desc("cf"), F.asc("tok"))
        .limit(2)
        .select("tok")
    )
    per_doc = (
        toks.join(F.broadcast(top2), "tok")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("tok").alias("n_terms"),
            F.count(F.lit(1)).alias("tf_sum"),
        )
        .select(
            "doc_id",
            "tf_sum",
            (F.col("n_terms") == 2).cast("int").alias("rel"),
        )
    )
    n_rel = per_doc.agg(F.sum("rel").alias("n_rel"))
    # limit-then-rank: row_number over the 10-row TakeOrderedAndProject
    topk = (
        per_doc.orderBy(F.desc("tf_sum"), F.asc("doc_id"))
        .limit(_NDCG_K)
        .select(
            "rel",
            F.row_number()
            .over(Window.orderBy(F.desc("tf_sum"), F.asc("doc_id")))
            .alias("rk"),
        )
    )
    q_expr = F.create_map(
        *[x for i, q in _DCG_Q.items() for x in (F.lit(i), F.lit(q))]
    )
    dcg = topk.agg(
        F.sum(F.col("rel") * q_expr[F.col("rk")]).alias("dcg8"),
        F.min(F.when(F.col("rel") == 1, F.col("rk"))).alias("first_rel"),
    )
    ranks = spark.range(1, _NDCG_K + 1).select(
        F.col("id").alias("i"), q_expr[F.col("id")].alias("q")
    )
    idcg = ranks.crossJoin(F.broadcast(n_rel)).agg(
        F.first("n_rel").alias("n_rel"),
        F.sum(
            F.when(F.col("i") <= F.least(F.col("n_rel"), F.lit(_NDCG_K)), F.col("q"))
        ).alias("idcg8"),
    )
    return dcg.crossJoin(F.broadcast(idcg)).select(
        F.col("n_rel").cast("long").alias("n_relevant"),
        F.round(F.col("dcg8").cast("double") / 1e8, 6).alias("dcg_at_10"),
        F.round(F.col("idcg8").cast("double") / 1e8, 6).alias("idcg_at_10"),
        F.round(
            F.col("dcg8").cast("double") / F.col("idcg8").cast("double"), 6
        ).alias("ndcg_at_10"),
        F.round(
            F.when(
                F.col("first_rel").isNotNull(),
                1.0 / F.col("first_rel").cast("double"),
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("mrr"),
    )


_DCG_CASE = " ".join(
    f"WHEN {i} THEN {q}" for i, q in _DCG_Q.items()
)

_SQL_NDCG_RETRIEVAL_EVAL = f"""
WITH toks AS (
  SELECT doc_id, tok
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        FROM documents)
  WHERE length(tok) > 0
), top2 AS (
  SELECT tok FROM (
    SELECT tok, count(*) AS cf FROM toks GROUP BY 1
    ORDER BY cf DESC, tok ASC LIMIT 2
  )
), per_doc AS (
  SELECT t.doc_id, count(*) AS tf_sum,
         CASE WHEN count(DISTINCT t.tok) = 2 THEN 1 ELSE 0 END AS rel
  FROM toks t JOIN top2 USING (tok)
  GROUP BY t.doc_id
), n_rel AS (
  SELECT sum(rel) AS n_rel FROM per_doc
), topk AS (
  SELECT rel, row_number() OVER (ORDER BY tf_sum DESC, doc_id ASC) AS rk
  FROM (SELECT * FROM per_doc ORDER BY tf_sum DESC, doc_id ASC
        LIMIT {_NDCG_K})
), dcg AS (
  SELECT sum(rel * (CASE rk {_DCG_CASE} END)) AS dcg8,
         min(CASE WHEN rel = 1 THEN rk END) AS first_rel
  FROM topk
), idcg AS (
  SELECT n.n_rel,
         sum(CASE WHEN u.i <= least(n.n_rel, {_NDCG_K})
                  THEN (CASE u.i {_DCG_CASE} END) END) AS idcg8
  FROM (SELECT unnest(range(1, {_NDCG_K} + 1)) AS i) u
  CROSS JOIN n_rel n
  GROUP BY n.n_rel
)
SELECT CAST(i.n_rel AS BIGINT) AS n_relevant,
       round(CAST(d.dcg8 AS DOUBLE) / 1e8, 6) AS dcg_at_10,
       round(CAST(i.idcg8 AS DOUBLE) / 1e8, 6) AS idcg_at_10,
       round(CAST(d.dcg8 AS DOUBLE) / i.idcg8, 6) AS ndcg_at_10,
       round(CASE WHEN d.first_rel IS NOT NULL
                  THEN 1.0 / d.first_rel ELSE 0.0 END, 6) AS mrr
FROM dcg d CROSS JOIN idcg i
"""


# --------------------------------------------------------------------------
# newcombe_diff_ci
# --------------------------------------------------------------------------

_NC_SEG_A = "AUTOMOBILE"
_NC_SEG_B = "HOUSEHOLD"
_NC_Z = 1.96


def _q_newcombe_diff_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    base = (
        orders.join(
            F.broadcast(customer.select("c_custkey", "c_mktsegment")),
            orders["o_custkey"] == customer["c_custkey"],
        )
        .where(F.col("c_mktsegment").isin(_NC_SEG_A, _NC_SEG_B))
        .select(
            F.col("c_mktsegment").alias("segment"),
            (F.col("o_orderpriority") == "1-URGENT").cast("bigint").alias("u"),
        )
    )
    mom = base.groupBy().agg(
        *[
            agg
            for seg, tag in ((_NC_SEG_A, "1"), (_NC_SEG_B, "2"))
            for agg in (
                F.sum(F.when(F.col("segment") == seg, F.lit(1))).alias(f"n{tag}"),
                F.sum(F.when(F.col("segment") == seg, F.col("u"))).alias(f"k{tag}"),
            )
        ]
    )

    def wilson(n, k):
        nd, kd = n.cast("double"), k.cast("double")
        p = kd / nd
        z2 = _NC_Z * _NC_Z
        center = (p + z2 / (2.0 * nd)) / (1.0 + z2 / nd)
        half = (
            _NC_Z
            * F.sqrt(p * (1.0 - p) / nd + z2 / (4.0 * nd * nd))
            / (1.0 + z2 / nd)
        )
        return p, center - half, center + half

    p1, l1, u1 = wilson(F.col("n1"), F.col("k1"))
    p2, l2, u2 = wilson(F.col("n2"), F.col("k2"))
    diff = p1 - p2
    lo = diff - F.sqrt((p1 - l1) * (p1 - l1) + (u2 - p2) * (u2 - p2))
    hi = diff + F.sqrt((u1 - p1) * (u1 - p1) + (p2 - l2) * (p2 - l2))
    return mom.select(
        F.col("n1").alias("n_a"),
        F.col("n2").alias("n_b"),
        F.round(p1, 6).alias("p_a"),
        F.round(p2, 6).alias("p_b"),
        F.round(diff, 6).alias("diff"),
        F.round(lo, 6).alias("ci_lo"),
        F.round(hi, 6).alias("ci_hi"),
        ((lo > 0) | (hi < 0)).alias("significant_5pct"),
    )


_SQL_NEWCOMBE_DIFF_CI = f"""
WITH base AS (
  SELECT c.c_mktsegment AS segment,
         CASE WHEN o.o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS u
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  WHERE c.c_mktsegment IN ('{_NC_SEG_A}', '{_NC_SEG_B}')
), mom AS (
  SELECT sum(CASE WHEN segment = '{_NC_SEG_A}' THEN 1 END) AS n1,
         sum(CASE WHEN segment = '{_NC_SEG_A}' THEN u END) AS k1,
         sum(CASE WHEN segment = '{_NC_SEG_B}' THEN 1 END) AS n2,
         sum(CASE WHEN segment = '{_NC_SEG_B}' THEN u END) AS k2
  FROM base
), w AS (
  SELECT n1, n2,
         CAST(k1 AS DOUBLE) / n1 AS p1, CAST(k2 AS DOUBLE) / n2 AS p2,
         (CAST(k1 AS DOUBLE) / n1 + {_NC_Z * _NC_Z} / (2.0 * n1))
           / (1.0 + {_NC_Z * _NC_Z} / n1)
         - {_NC_Z} * sqrt((CAST(k1 AS DOUBLE) / n1)
                          * (1.0 - CAST(k1 AS DOUBLE) / n1) / n1
                          + {_NC_Z * _NC_Z} / (4.0 * n1 * n1))
           / (1.0 + {_NC_Z * _NC_Z} / n1) AS l1,
         (CAST(k1 AS DOUBLE) / n1 + {_NC_Z * _NC_Z} / (2.0 * n1))
           / (1.0 + {_NC_Z * _NC_Z} / n1)
         + {_NC_Z} * sqrt((CAST(k1 AS DOUBLE) / n1)
                          * (1.0 - CAST(k1 AS DOUBLE) / n1) / n1
                          + {_NC_Z * _NC_Z} / (4.0 * n1 * n1))
           / (1.0 + {_NC_Z * _NC_Z} / n1) AS u1,
         (CAST(k2 AS DOUBLE) / n2 + {_NC_Z * _NC_Z} / (2.0 * n2))
           / (1.0 + {_NC_Z * _NC_Z} / n2)
         - {_NC_Z} * sqrt((CAST(k2 AS DOUBLE) / n2)
                          * (1.0 - CAST(k2 AS DOUBLE) / n2) / n2
                          + {_NC_Z * _NC_Z} / (4.0 * n2 * n2))
           / (1.0 + {_NC_Z * _NC_Z} / n2) AS l2,
         (CAST(k2 AS DOUBLE) / n2 + {_NC_Z * _NC_Z} / (2.0 * n2))
           / (1.0 + {_NC_Z * _NC_Z} / n2)
         + {_NC_Z} * sqrt((CAST(k2 AS DOUBLE) / n2)
                          * (1.0 - CAST(k2 AS DOUBLE) / n2) / n2
                          + {_NC_Z * _NC_Z} / (4.0 * n2 * n2))
           / (1.0 + {_NC_Z * _NC_Z} / n2) AS u2
  FROM mom
)
SELECT CAST(n1 AS BIGINT) AS n_a, CAST(n2 AS BIGINT) AS n_b,
       round(p1, 6) AS p_a, round(p2, 6) AS p_b,
       round(p1 - p2, 6) AS diff,
       round(p1 - p2 - sqrt((p1 - l1) * (p1 - l1)
                            + (u2 - p2) * (u2 - p2)), 6) AS ci_lo,
       round(p1 - p2 + sqrt((u1 - p1) * (u1 - p1)
                            + (p2 - l2) * (p2 - l2)), 6) AS ci_hi,
       (p1 - p2 - sqrt((p1 - l1) * (p1 - l1) + (u2 - p2) * (u2 - p2)) > 0
        OR p1 - p2 + sqrt((u1 - p1) * (u1 - p1) + (p2 - l2) * (p2 - l2)) < 0)
         AS significant_5pct
FROM w
"""


SPECS: dict[str, QuerySpec] = {
    "ndcg_retrieval_eval": QuerySpec(
        _q_ndcg_retrieval_eval,
        _SQL_NDCG_RETRIEVAL_EVAL,
        "nDCG@10 + MRR of a deterministic TF retrieval run with INTEGER "
        "discount constants (no float accumulation — exact by "
        "construction)",
    ),
    "newcombe_diff_ci": QuerySpec(
        _q_newcombe_diff_ci,
        _SQL_NEWCOMBE_DIFF_CI,
        "Newcombe hybrid-score CI for the difference of two segments' "
        "urgent proportions (two Wilson intervals composed)",
    ),
}
