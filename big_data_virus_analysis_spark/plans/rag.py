"""RAG-pipeline pack: chunking, hybrid retrieval fusion, and
nearest-centroid assignment.

Three operations a retrieval-augmented / curriculum pipeline runs over
the corpus before anything reaches a model:

* ``rag_chunk_windows`` — split every document into overlapping
  fixed-size token windows (size 32, stride 16, tail chunk kept).  The
  chunk table is the unit of embedding + indexing downstream.  Pure
  per-row array math (``transform`` over a computed chunk count, one
  ``explode``): a MAP over the scan, zero shuffles, embarrassingly
  parallel at any corpus size.
* ``rrf_hybrid_fusion`` — reciprocal-rank fusion (k=60) of a lexical
  BM25 ranking and a semantic cosine ranking, the standard hybrid
  search scorer.  Both input lists are cut to top-50 with
  ``orderBy().limit()`` FIRST (TakeOrderedAndProject — no global
  row-number window ever sees more than 50 rows), then fused with a
  full-outer join on the doc id.
* ``nearest_centroid_assign`` — assign every embedding to its nearest
  per-label centroid (squared L2) and emit the label-vs-assigned
  confusion counts: the relational core of SemDeDup-style semantic
  clustering and prototype classification.  Centroids are a
  labels×dim aggregate (tiny), carried as arrays on a broadcast
  nested-loop cross join (allowlisted: 10-row build side); the
  distance fold is ``zip_with`` + ``aggregate`` (JVM codegen), and the
  argmin window partitions by vec_id so it parallelizes freely.

Conventions as in catalog.py: every float is rounded before ranking /
output so the DuckDB oracle agrees exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.vectors import cosine_similarity
from ..sources.tables import load_table
from . import QuerySpec
from .retrieval import _QUERY_TERMS, _SQL_BM25_BODY, bm25_scores

_CHUNK = 32
_STRIDE = 16
_RRF_K = 60
_TOP_IN = 50
_TOP_OUT = 20


# --------------------------------------------------------------------------
# rag_chunk_windows
# --------------------------------------------------------------------------

def _q_rag_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    a = F.filter(F.split(F.col("text"), " "), lambda t: F.length(t) > 0)
    # stage the token array: a lambda closing over filter(split(...))
    # inlines it into every slice() call — O(n²) per row
    n = F.size("_toks")
    n_chunks = F.when(n <= _CHUNK, F.lit(1)).otherwise(
        F.ceil((n - _CHUNK) / F.lit(float(_STRIDE))).cast("int") + 1
    )
    chunk = F.explode(
        F.transform(
            F.sequence(F.lit(1), n_chunks),
            lambda i: F.struct(
                i.cast("int").alias("chunk_idx"),
                (1 + (i - 1) * _STRIDE).cast("int").alias("start_pos"),
                F.slice(F.col("_toks"), 1 + (i - 1) * _STRIDE, _CHUNK).alias("c"),
            ),
        )
    )
    return (
        docs.where(F.size(a) >= 1)
        .select("doc_id", a.alias("_toks"))
        .select("doc_id", chunk.alias("ch"))
        .select(
            "doc_id",
            F.col("ch.chunk_idx").alias("chunk_idx"),
            F.col("ch.start_pos").alias("start_pos"),
            F.size("ch.c").alias("n_tokens"),
            F.md5(F.concat_ws(" ", F.col("ch.c"))).alias("chunk_hash"),
        )
    )


_SQL_RAG_CHUNK_WINDOWS = """
WITH t AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> length(x) > 0) AS a
  FROM documents
), c AS (
  SELECT doc_id, a, len(a) AS n,
         CASE WHEN len(a) <= 32 THEN 1
              ELSE CAST(ceil((len(a) - 32) / 16.0) AS INT) + 1 END AS n_chunks
  FROM t WHERE len(a) >= 1
), e AS (
  SELECT doc_id, a, unnest(generate_series(1, n_chunks)) AS i FROM c
)
SELECT doc_id,
       CAST(i AS INT) AS chunk_idx,
       CAST(1 + (i - 1) * 16 AS INT) AS start_pos,
       CAST(len(a[(1 + (i - 1) * 16):(1 + (i - 1) * 16 + 31)]) AS INT) AS n_tokens,
       md5(array_to_string(a[(1 + (i - 1) * 16):(1 + (i - 1) * 16 + 31)], ' '))
         AS chunk_hash
FROM e
"""


# --------------------------------------------------------------------------
# rrf_hybrid_fusion
# --------------------------------------------------------------------------

def _q_rrf_hybrid_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    # lexical list: BM25 conjunctive match, top-50 first (no global window)
    lex_top = (
        bm25_scores(spark, sf_dir)
        .where(F.col("n_terms_hit") == len(_QUERY_TERMS))
        .orderBy(F.col("bm25").desc(), F.col("doc_id").asc())
        .limit(_TOP_IN)
    )
    lex = lex_top.withColumn(
        "rank_lex",
        F.row_number().over(Window.orderBy(F.col("bm25").desc(), F.col("doc_id").asc())),
    ).select(F.col("doc_id").alias("item_id"), "rank_lex")

    # semantic list: cosine similarity to the vec_id=0 query embedding,
    # top-50 first (TakeOrderedAndProject), ranked inside the 50 rows
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") == 0).select(F.col("embedding").alias("qe"))
    sem_top = (
        emb.where(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            F.col("vec_id").alias("item_id"),
            F.round(cosine_similarity(F.col("qe"), F.col("embedding")), 6).alias("sim"),
        )
        .orderBy(F.col("sim").desc(), F.col("item_id").asc())
        .limit(_TOP_IN)
    )
    sem = sem_top.withColumn(
        "rank_sem",
        F.row_number().over(Window.orderBy(F.col("sim").desc(), F.col("item_id").asc())),
    ).select("item_id", "rank_sem")

    fused = (
        lex.join(sem, "item_id", "full_outer")
        .withColumn(
            "rrf_score",
            F.round(
                F.coalesce(1.0 / (_RRF_K + F.col("rank_lex")), F.lit(0.0))
                + F.coalesce(1.0 / (_RRF_K + F.col("rank_sem")), F.lit(0.0)),
                6,
            ),
        )
        .orderBy(F.col("rrf_score").desc(), F.col("item_id").asc())
        .limit(_TOP_OUT)
    )
    return fused.select(
        "item_id",
        "rank_lex",
        "rank_sem",
        "rrf_score",
        F.row_number()
        .over(Window.orderBy(F.col("rrf_score").desc(), F.col("item_id").asc()))
        .alias("rank"),
    )


_SQL_RRF_HYBRID_FUSION = _SQL_BM25_BODY + """
, lex AS (
  SELECT doc_id AS item_id,
         CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id ASC) AS INT) AS rank_lex
  FROM bm25_scored WHERE n_terms_hit = 3
  QUALIFY rank_lex <= 50
), elems AS (
  SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS x
  FROM embeddings CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS i)
), norms AS (
  SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM elems GROUP BY vec_id
), dots AS (
  SELECT c.vec_id AS item_id, sum(q.x * c.x) AS dot
  FROM elems q JOIN elems c ON q.i = c.i AND c.vec_id <> 0
  WHERE q.vec_id = 0
  GROUP BY 1
), sem AS (
  SELECT item_id,
         CAST(row_number() OVER (
           ORDER BY round(dot / (nq.nrm * nc.nrm), 6) DESC, item_id ASC
         ) AS INT) AS rank_sem
  FROM dots
  JOIN norms nq ON nq.vec_id = 0
  JOIN norms nc ON item_id = nc.vec_id
  QUALIFY rank_sem <= 50
), fused AS (
  SELECT coalesce(lex.item_id, sem.item_id) AS item_id,
         rank_lex, rank_sem,
         round(coalesce(1.0 / (60 + rank_lex), 0.0)
               + coalesce(1.0 / (60 + rank_sem), 0.0), 6) AS rrf_score
  FROM lex FULL OUTER JOIN sem ON lex.item_id = sem.item_id
)
SELECT item_id, rank_lex, rank_sem, rrf_score,
       CAST(row_number() OVER (ORDER BY rrf_score DESC, item_id ASC) AS INT) AS rank
FROM fused
QUALIFY rank <= 20
"""


# --------------------------------------------------------------------------
# nearest_centroid_assign
# --------------------------------------------------------------------------

def assign_nearest_centroid(emb: DataFrame) -> DataFrame:
    """Assign every embedding to its nearest per-label centroid.

    Deterministic "trained-free" quantizer: centroids are per-label
    means (decimal-exact sums rounded to 6, so both engines agree
    bit-for-bit), distances are squared L2 via a zip_with fold, the
    argmin is a vec_id-partitioned window with clabel tiebreak.  The
    centroid table is #labels rows → broadcast; the corpus streams
    through one scan.  Shared by the confusion rollup below and the
    SemDeDup pack (plans/semantic.py).

    Output: the input columns + ``clabel`` (assigned centroid) +
    ``dist`` (rounded squared L2).
    """
    ex = emb.select("label", F.posexplode(F.col("embedding")).alias("pos", "x"))
    cent = ex.groupBy("label", "pos").agg(
        F.round(
            F.sum(F.col("x").cast("decimal(18,9)")).cast("double") / F.count(F.lit(1)),
            6,
        ).alias("c")
    )
    cvec = cent.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "c"))), lambda s: s["c"]
        ).alias("cvec")
    )
    dist = F.round(
        F.aggregate(
            F.zip_with(
                F.col("embedding"),
                F.col("cvec"),
                lambda x, c: (x.cast("double") - c) * (x.cast("double") - c),
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ),
        6,
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("dist").asc(), F.col("clabel").asc())
    return (
        emb.crossJoin(F.broadcast(cvec.select(F.col("label").alias("clabel"), "cvec")))
        .withColumn("dist", dist)
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .drop("rn", "cvec")
    )


def _q_nearest_centroid_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    assigned = assign_nearest_centroid(emb)
    return (
        assigned.groupBy(F.col("label"), F.col("clabel").alias("assigned_label"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


#: shared oracle body: per-label centroids + nearest-centroid argmin —
#: ends with a ``best(vec_id, label, clabel)`` CTE.  Reused by the
#: SemDeDup oracles (plans/semantic.py), which append further CTEs.
SQL_CENTROID_ASSIGN_BODY = """
WITH elems AS (
  SELECT vec_id, label, i, CAST(embedding[i] AS DOUBLE) AS x
  FROM embeddings CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS i)
), cent AS (
  SELECT label AS clabel, i,
         round(CAST(sum(CAST(x AS DECIMAL(18,9))) AS DOUBLE) / count(*), 6) AS c
  FROM elems GROUP BY 1, 2
), dists AS (
  SELECT e.vec_id, e.label, cent.clabel,
         round(sum((e.x - cent.c) * (e.x - cent.c)), 6) AS dist
  FROM elems e JOIN cent ON e.i = cent.i
  GROUP BY 1, 2, 3
), best AS (
  SELECT vec_id, label, clabel
  FROM dists
  QUALIFY row_number() OVER (PARTITION BY vec_id
                             ORDER BY dist ASC, clabel ASC) = 1
)
"""

_SQL_NEAREST_CENTROID_ASSIGN = SQL_CENTROID_ASSIGN_BODY + """
SELECT label, clabel AS assigned_label, count(*) AS n
FROM best GROUP BY 1, 2
"""


SPECS: dict[str, QuerySpec] = {
    "rag_chunk_windows": QuerySpec(
        _q_rag_chunk_windows,
        _SQL_RAG_CHUNK_WINDOWS,
        "overlapping token-window chunking (size 32 / stride 16, tail kept): "
        "pure per-row array transform + explode, zero shuffles",
    ),
    "rrf_hybrid_fusion": QuerySpec(
        _q_rrf_hybrid_fusion,
        _SQL_RRF_HYBRID_FUSION,
        "reciprocal-rank fusion (k=60) of BM25 top-50 and cosine top-50: "
        "TakeOrderedAndProject cuts before any ranking window",
    ),
    "nearest_centroid_assign": QuerySpec(
        _q_nearest_centroid_assign,
        _SQL_NEAREST_CENTROID_ASSIGN,
        "nearest per-label centroid assignment (squared L2) with confusion "
        "counts: labels x dim centroid aggregate broadcast as arrays, "
        "zip_with distance fold, vec_id-partitioned argmin",
    ),
}
