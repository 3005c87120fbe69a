"""Shared derived frames, each built once next to its DuckDB twin.

The ``operators/graph_edges.py`` pattern applied to the catalog's
time-series family: one Spark construction plus the DuckDB CTE body
that every consumer's oracle embeds literally, so the two engines
agree by construction and a change to the frame is made in one place.

* :func:`daily_order_cents` / :data:`SQL_DAILY_ORDER_CENTS` — order
  revenue per calendar day in integer cents, ``(day DATE, cents
  BIGINT)``.  Each order is rounded to whole cents BEFORE the sum, so
  the day total is exact integer arithmetic in both engines.
  Consumers derive what they need on top of ``(day, cents)``: a period
  filter on ``day`` (Catalyst pushes it below the aggregate), the
  epoch day, whole dollars or a quantized value, a dense day index.

100 TB shape: one orders scan and one hash aggregate with map-side
partials; the output is calendar-bounded (one row per order day, about
2.4k rows at any scale factor).

The second half of the module holds the DuckDB oracle fragments that
the registry (``catalog.py``) and one or more pack modules both embed:
the md5 MinHash/LSH family, the embedding element/norm views and kNN
votes, the text-quality score, the as-of purchase join, the dedup
component assignment and the embedding covariance cells.  They live
here, not in the registry, so a pack module defines its ``SPECS``
without importing ``catalog.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.text_quality import LANG_STOPWORDS
from ..sources.tables import load_table


def daily_order_cents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``(day DATE, cents BIGINT)``: the sum of each order's
    ``o_totalprice`` rounded to whole cents, per calendar day."""
    return (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias(
                "cents"
            )
        )
    )


#: DuckDB twin of :func:`daily_order_cents`.  DuckDB widens a BIGINT
#: sum to HUGEINT, so the sum is cast back to Spark's BIGINT.
SQL_DAILY_ORDER_CENTS = """
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
           AS cents
  FROM orders GROUP BY 1
"""


# --------------------------------------------------------------------------
# Oracle fragments shared by the registry and the pack modules
# --------------------------------------------------------------------------

#: ``ids(doc_id, s)``: the md5-prefix id of each document's distinct
#: word 3-grams, the input of :func:`minhash_sig_ctes`
SQL_SHINGLE_IDS = """
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS tokens FROM documents
), grams AS (
  SELECT doc_id, unnest(list_transform(generate_series(1, len(tokens) - 2),
         i -> array_to_string(list_slice(tokens, i, i + 2), ' '))) AS gram
  FROM toks WHERE len(tokens) >= 3
), dg AS (
  SELECT DISTINCT doc_id, gram FROM grams
), ids AS (
  -- tid = md5-prefix BIGINT (bit-identical to Spark's conv(substring(md5)..));
  -- reduce mod 2^31 before the multiply so the product stays < 2^63
  SELECT doc_id,
         ((CAST(('0x' || substr(md5(gram), 1, 15)) AS BIGINT) % 2147483648)
          * 2654435761) % 2147483648 AS s
  FROM dg
)
"""


def minhash_sig_ctes(k: int, rows_per_band: int) -> str:
    """Signature + banding CTEs (through ``band_keys``) over an
    ``ids(doc_id, s)`` CTE (mirrors operators/dedup.py::_family exactly
    — mask, not mod; no division).  Shared with the round-11
    cross-corpus alignment oracles."""
    return f"""
, sig AS (
  -- odd-multiplier linear permutation mod 2^31
  SELECT doc_id, i,
         min(((((2654435761 * (2 * i + 1)) % 2147483648) | 1) * s + 7919 * i)
             & 2147483647) AS h
  FROM ids CROSS JOIN (SELECT unnest(generate_series(1, {k})) AS i)
  GROUP BY doc_id, i
), band_keys AS (
  SELECT doc_id, CAST((i - 1) // {rows_per_band} AS INT) AS band,
         string_agg(CAST(h AS VARCHAR), ',' ORDER BY i) AS key
  FROM sig GROUP BY doc_id, band
)"""


def minhash_band_sql(k: int, rows_per_band: int) -> str:
    """Signature + banding + candidate self-join suffix."""
    return (
        minhash_sig_ctes(k, rows_per_band)
        + """
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared_bands
FROM band_keys a
JOIN band_keys b ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
GROUP BY doc_a, doc_b
"""
    )


def minhash_lsh_sql(k: int, rows_per_band: int) -> str:
    """Parameterized MinHash+LSH oracle over md5 STRING grams."""
    return SQL_SHINGLE_IDS + minhash_band_sql(k, rows_per_band)


SQL_MINHASH_LSH_PAIRS = minhash_lsh_sql(32, 4)


# element/norm views shared by every embedding oracle: explicit DOUBLE
# casts (DuckDB's list_cosine_similarity computes in float32 — not
# oracle-safe against Spark's double fold)
SQL_EMB_BASE = """
WITH elems AS (
  SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS x
  FROM embeddings CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS i)
), norms AS (
  SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM elems GROUP BY vec_id
)
"""


#: shared oracle body ending in ``votes(query_id, label, votes)`` — the
#: kNN vote tallies.  Named constant so knn_label_vote and the
#: label-noise audit (plans/round4_ops.py) consume the same fragment.
SQL_KNN_VOTES_BODY = SQL_EMB_BASE + """
, dots AS (
  SELECT q.vec_id AS query_id, c.vec_id AS cand_id, sum(q.x * c.x) AS dot
  FROM elems q JOIN elems c ON q.i = c.i AND c.vec_id <> q.vec_id
  WHERE q.vec_id < 50
  GROUP BY 1, 2
), sims AS (
  SELECT query_id, cand_id, round(dot / (nq.nrm * nc.nrm), 6) AS sim
  FROM dots
  JOIN norms nq ON query_id = nq.vec_id
  JOIN norms nc ON cand_id = nc.vec_id
), topk AS (
  SELECT query_id, cand_id
  FROM sims
  QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, cand_id ASC) <= 5
), votes AS (
  SELECT t.query_id, e.label, count(*) AS votes
  FROM topk t JOIN embeddings e ON t.cand_id = e.vec_id
  GROUP BY 1, 2
)
"""


#: a document's non-empty whitespace tokens
TOKS_SQL = "list_filter(string_split(text, ' '), x -> length(x) > 0)"


#: the English stopword list as a SQL IN-list
EN_STOPS_SQL = ", ".join(f"'{w}'" for w in LANG_STOPWORDS["en"])


SQL_QUALITY_SCORE = f"""
WITH t AS (SELECT doc_id, text, {TOKS_SQL} AS toks FROM documents),
parts AS (
  SELECT doc_id,
         CAST(len(list_filter(toks, x -> x IN ({EN_STOPS_SQL}))) AS DOUBLE)
           / CAST(len(toks) AS DOUBLE) AS stop_frac,
         least(1.0, CAST(len(toks) AS DOUBLE) / 100.0) AS len_score,
         CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
           / CAST(length(text) AS DOUBLE) AS alpha_frac
  FROM t
)
SELECT doc_id,
       round(stop_frac, 6) AS stop_frac,
       round(len_score, 6) AS len_score,
       round(alpha_frac, 6) AS alpha_frac,
       round(0.4 * stop_frac + 0.3 * len_score + 0.3 * alpha_frac, 6) AS score
FROM parts
"""


SQL_ASOF_LAST_PURCHASE = """
SELECT e.event_id, e.user_id, epoch_us(e.ts) AS ts_us, epoch_us(p.ts) AS last_purchase_us
FROM events e
ASOF LEFT JOIN (SELECT user_id, ts FROM events WHERE event_type = 'purchase') p
  ON e.user_id = p.user_id AND e.ts >= p.ts
"""


# transitive closure of the (tiny) LSH pair graph via recursive CTE;
# cluster id = min over each node's reachable set — exactly the
# fixpoint min-label propagation computes
SQL_DEDUP_CLUSTER_ASSIGN = (
    "WITH RECURSIVE pairs AS (\n"
    + SQL_MINHASH_LSH_PAIRS
    + """
), edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION
  SELECT doc_b AS src, doc_a AS dst FROM pairs
), reach(src, dst) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
)
SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
FROM reach GROUP BY src
"""
)


SQL_EMBEDDING_COVARIANCE_CELLS = """
WITH pairs AS (
  SELECT i, j,
         CAST(embedding[i + 1] AS DOUBLE) * CAST(embedding[j + 1] AS DOUBLE) AS xy
  FROM embeddings,
       UNNEST(range(0, len(embedding))) t(i),
       UNNEST(range(0, len(embedding))) u(j)
  WHERE j >= i
), cells AS (
  SELECT i, j,
         CAST(count(*) AS DOUBLE) AS n,
         sum(CAST(xy AS DECIMAL(28,12))) AS sxy
  FROM pairs GROUP BY 1, 2
), grid AS (
  SELECT i AS pos, CAST(embedding[i + 1] AS DOUBLE) AS xd
  FROM embeddings, UNNEST(range(0, len(embedding))) t(i)
), means AS (
  SELECT pos,
         CAST(sum(CAST(xd AS DECIMAL(28,12))) AS DOUBLE) / count(*) AS m
  FROM grid GROUP BY pos
)
SELECT CAST(i AS INT) AS i, CAST(j AS INT) AS j,
       round(CAST(sxy AS DOUBLE) / n - mi.m * mj.m, 6) + 0.0 AS cov
FROM cells
JOIN means mi ON i = mi.pos
JOIN means mj ON j = mj.pos
"""
