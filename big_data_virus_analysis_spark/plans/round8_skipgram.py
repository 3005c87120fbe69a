"""Round-8 skip-gram pack.

* ``skipgram_cooccurrence_topk`` — windowed token co-occurrence PMI
  (window ±2, the word2vec/GloVe preprocessing primitive): token pairs
  within two positions inside a document, normalized to unordered
  (alphabetical) pairs, PMI = ln((c_ab/T)/((c_a/N)·(c_b/N))) with a
  min-support cutoff, top-20 by (PMI desc, pair).  The per-source PMI
  keywords (round6_ir3) score token-vs-SOURCE association; this scores
  token-vs-TOKEN association — the co-occurrence statistic embedding
  trainers consume.

100 TB shape: the position self-join emits ≤ 2 rows per token (offsets
+1/+2 — join on (doc, pos+k), never a per-doc quadratic), then one
pair hash agg; unigram totals ride a broadcast.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load_table
from . import QuerySpec

_SG_WINDOW = 2
_SG_MIN_PAIR = 5
_SG_TOPK = 20


def _q_skipgram_cooccurrence_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.posexplode(F.split("text", " ")).alias("pos", "tok"),
    ).where(F.length("tok") > 0)
    uni = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    n_tok = uni.agg(F.sum("c").alias("n"))
    a = toks.alias("a")
    pairs = None
    for k in range(1, _SG_WINDOW + 1):
        b = toks.select(
            "doc_id", (F.col("pos") - k).alias("pos"), F.col("tok").alias("tok_b")
        ).alias("b")
        leg = a.join(b, ["doc_id", "pos"]).select(
            F.least(F.col("a.tok"), F.col("tok_b")).alias("ta"),
            F.greatest(F.col("a.tok"), F.col("tok_b")).alias("tb"),
        )
        pairs = leg if pairs is None else pairs.unionByName(leg)
    pc = pairs.groupBy("ta", "tb").agg(F.count(F.lit(1)).alias("c_ab"))
    t_pairs = pc.agg(F.sum("c_ab").alias("t"))
    ua = uni.select(F.col("tok").alias("ta"), F.col("c").alias("c_a"))
    ub = uni.select(F.col("tok").alias("tb"), F.col("c").alias("c_b"))
    scored = (
        pc.where(F.col("c_ab") >= _SG_MIN_PAIR)
        .join(F.broadcast(ua), "ta")
        .join(F.broadcast(ub), "tb")
        .crossJoin(F.broadcast(t_pairs))
        .crossJoin(F.broadcast(n_tok))
        .select(
            "ta",
            "tb",
            "c_ab",
            F.round(
                F.log(
                    (F.col("c_ab").cast("double") / F.col("t").cast("double"))
                    / (
                        (F.col("c_a").cast("double") / F.col("n").cast("double"))
                        * (F.col("c_b").cast("double") / F.col("n").cast("double"))
                    )
                ),
                6,
            ).alias("pmi"),
        )
    )
    return scored.orderBy(F.desc("pmi"), F.asc("ta"), F.asc("tb")).limit(
        _SG_TOPK
    )


_SQL_SKIPGRAM_COOCCURRENCE_TOPK = f"""
WITH toks AS (
  SELECT doc_id, CAST(i AS BIGINT) - 1 AS pos, t.tok_arr[i] AS tok
  FROM (SELECT doc_id, string_split(text, ' ') AS tok_arr FROM documents) t,
       UNNEST(range(1, len(t.tok_arr) + 1)) AS u(i)
  WHERE length(t.tok_arr[i]) > 0
), uni AS (
  SELECT tok, count(*) AS c FROM toks GROUP BY 1
), n_tok AS (
  SELECT sum(c) AS n FROM uni
), pairs AS (
  SELECT least(a.tok, b.tok) AS ta, greatest(a.tok, b.tok) AS tb
  FROM toks a JOIN toks b
    ON a.doc_id = b.doc_id AND b.pos - a.pos IN (1, 2)
), pc AS (
  SELECT ta, tb, count(*) AS c_ab FROM pairs GROUP BY 1, 2
), t_pairs AS (
  SELECT sum(c_ab) AS t FROM pc
)
SELECT pc.ta, pc.tb, CAST(pc.c_ab AS BIGINT) AS c_ab,
       round(ln((CAST(pc.c_ab AS DOUBLE) / tp.t)
                / ((CAST(ua.c AS DOUBLE) / nt.n)
                   * (CAST(ub.c AS DOUBLE) / nt.n))), 6) AS pmi
FROM pc
JOIN uni ua ON ua.tok = pc.ta
JOIN uni ub ON ub.tok = pc.tb
CROSS JOIN t_pairs tp CROSS JOIN n_tok nt
WHERE pc.c_ab >= {_SG_MIN_PAIR}
ORDER BY pmi DESC, ta ASC, tb ASC
LIMIT {_SG_TOPK}
"""


SPECS: dict[str, QuerySpec] = {
    "skipgram_cooccurrence_topk": QuerySpec(
        _q_skipgram_cooccurrence_topk,
        _SQL_SKIPGRAM_COOCCURRENCE_TOPK,
        "windowed (+-2) token co-occurrence PMI top-20 — the "
        "word2vec/GloVe preprocessing statistic (offset joins, never "
        "per-doc quadratic)",
    ),
}
