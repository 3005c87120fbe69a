"""Round-6 scale/infra pack 2 — the ε-band join primitive, an
embedding-truncation retrieval audit, and two more planning-as-queries
advisors (bucketing, DP noise).

* ``band_join_prices`` — the ε-band similarity join (|price_a −
  price_b| ≤ ε) expressed as a BUCKETED equi-join, not a nested loop:
  each value's home bucket is ``floor(price/ε)``, the probe side fans
  out to its three neighboring buckets, and the band predicate is a
  residual filter after the hash join.  Because |Δ| ≤ ε implies the
  home buckets differ by at most 1, the fan-out×home join finds every
  qualifying pair exactly once (the ``x < y`` filter keeps one
  orientation).  This is the classic interval/band-join recipe that
  survives 100 TB — work is proportional to genuinely-close pairs per
  bucket, never |T|².  Output: the 15 closest distinct-part pairs.

* ``dim_truncation_recall`` — Matryoshka-style truncation audit:
  recall@10 of cosine top-k computed on the FIRST 16 of 64 embedding
  dimensions (renormalized implicitly by cosine) against the full-dim
  exact top-k, per query over the standard 10-query panel.  The
  decision this feeds: whether a 4× cheaper truncated index is good
  enough as a first-stage retriever.  Both legs reuse
  ``operators/similarity.py::cosine_topk`` (the documented brute-force
  baseline — the LSH/IVF entries are the scale path).

* ``bucketing_advisor`` — physical-design advisor: for each candidate
  (table, key) it measures rows, exact distinct keys, and estimated
  in-memory bytes (fixed-width columns + measured string lengths),
  then recommends a power-of-two bucket count targeting 128 MiB per
  bucket, or broadcast when the table fits the 10 MiB broadcast
  threshold (the same threshold ``join_strategy_advisor`` pins to
  Catalyst's behavior).  The power of two is computed with integer bit
  arithmetic (``length(bin(n-1))``), not ``ceil(log2)`` — no float
  boundary hazard.  Completes the planning family: skew split ✓,
  partition sizing ✓, join strategy ✓, bucket count ✓.

* ``dp_noise_calibration`` — differential-privacy release planning for
  the per-priority order counts: for ε ∈ {0.1, 0.5, 1.0}, the Laplace
  scale b = Δf/ε (sensitivity 1), the expected absolute error E|X| = b,
  the relative error b/n, whether the release meets a 1% utility bound,
  and the minimum ε that would.  Deterministic calibration arithmetic
  (no sampled noise — the release mechanism itself is run-time policy).
  Completes the governance family: k-anonymity ✓, l-diversity ✓,
  t-closeness ✓, DP calibration ✓.

No reference counterpart; planning/eval extensions alongside
``plans/round6_planner.py`` and ``plans/round5_gov.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.similarity import cosine_topk
from ..sources.tables import load_table
from . import QuerySpec

# --------------------------------------------------------------------------
# band_join_prices
# --------------------------------------------------------------------------

_BAND_EPS = 0.5
_BAND_TOPK = 15


def _q_band_join_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    p = part.select("p_partkey", "p_retailprice")
    home = F.floor(F.col("p_retailprice") / _BAND_EPS).cast("bigint")
    build = p.select(
        F.col("p_partkey").alias("yk"),
        F.col("p_retailprice").alias("yp"),
        home.alias("bucket"),
    )
    probe = p.select(
        F.col("p_partkey").alias("xk"),
        F.col("p_retailprice").alias("xp"),
        F.explode(F.array(home - 1, home, home + 1)).alias("bucket"),
    )
    pairs = (
        probe.join(build, "bucket")
        .where(
            (F.col("xk") < F.col("yk"))
            & (F.abs(F.col("xp") - F.col("yp")) <= _BAND_EPS)
        )
        .select(
            "xk",
            "yk",
            F.round(F.abs(F.col("xp") - F.col("yp")), 6).alias("gap"),
        )
    )
    return pairs.orderBy(F.asc("gap"), F.asc("xk"), F.asc("yk")).limit(_BAND_TOPK)


_SQL_BAND_JOIN_PRICES = f"""
SELECT a.p_partkey AS xk, b.p_partkey AS yk,
       round(abs(a.p_retailprice - b.p_retailprice), 6) AS gap
FROM part a JOIN part b
  ON a.p_partkey < b.p_partkey
 AND abs(a.p_retailprice - b.p_retailprice) <= {_BAND_EPS}
ORDER BY gap ASC, xk ASC, yk ASC
LIMIT {_BAND_TOPK}
"""


# --------------------------------------------------------------------------
# dim_truncation_recall
# --------------------------------------------------------------------------

_TRUNC_DIMS = 16
_TRUNC_K = 10
_TRUNC_QUERIES = 10


def _q_dim_truncation_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    full = cosine_topk(emb, n_queries=_TRUNC_QUERIES, k=_TRUNC_K).select(
        "query_id", "cand_id"
    )
    trunc_emb = emb.select(
        "vec_id", F.slice("embedding", 1, _TRUNC_DIMS).alias("embedding")
    )
    trunc = cosine_topk(trunc_emb, n_queries=_TRUNC_QUERIES, k=_TRUNC_K).select(
        "query_id", "cand_id"
    )
    hits = (
        full.join(trunc, ["query_id", "cand_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    base = full.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_full"))
    return (
        base.join(hits, "query_id", "left")
        .select(
            "query_id",
            "n_full",
            F.coalesce("n_hit", F.lit(0)).alias("n_hit"),
            F.round(
                F.coalesce("n_hit", F.lit(0)) / F.lit(float(_TRUNC_K)), 6
            ).alias("recall_at_k"),
        )
    )


def _trunc_leg_sql(dims: int, alias: str) -> str:
    return f"""{alias}_elems AS (
  SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS x
  FROM embeddings CROSS JOIN (SELECT unnest(generate_series(1, {dims})) AS i)
), {alias}_norms AS (
  SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM {alias}_elems GROUP BY vec_id
), {alias}_dots AS (
  SELECT q.vec_id AS query_id, c.vec_id AS cand_id, sum(q.x * c.x) AS dot
  FROM {alias}_elems q JOIN {alias}_elems c
    ON q.i = c.i AND c.vec_id <> q.vec_id
  WHERE q.vec_id < {_TRUNC_QUERIES}
  GROUP BY 1, 2
), {alias} AS (
  SELECT query_id, cand_id FROM (
    SELECT query_id, cand_id,
           round(dot / (nq.nrm * nc.nrm), 6) AS sim
    FROM {alias}_dots
    JOIN {alias}_norms nq ON query_id = nq.vec_id
    JOIN {alias}_norms nc ON cand_id = nc.vec_id
  )
  QUALIFY row_number() OVER (PARTITION BY query_id
                             ORDER BY sim DESC, cand_id ASC) <= {_TRUNC_K}
)"""


_SQL_DIM_TRUNCATION_RECALL = (
    "WITH "
    + _trunc_leg_sql(64, "full_leg")
    + ",\n"
    + _trunc_leg_sql(_TRUNC_DIMS, "trunc_leg")
    + f""",
hits AS (
  SELECT query_id, count(*) AS n_hit
  FROM full_leg JOIN trunc_leg USING (query_id, cand_id)
  GROUP BY query_id
), base AS (
  SELECT query_id, count(*) AS n_full FROM full_leg GROUP BY query_id
)
SELECT b.query_id, b.n_full,
       coalesce(h.n_hit, 0) AS n_hit,
       round(coalesce(h.n_hit, 0) / {float(_TRUNC_K)!r}, 6) AS recall_at_k
FROM base b LEFT JOIN hits h USING (query_id)
"""
)


# --------------------------------------------------------------------------
# bucketing_advisor
# --------------------------------------------------------------------------

_TARGET_BUCKET_BYTES = 128 * 1024 * 1024
_BROADCAST_BYTES = 10 * 1024 * 1024  # join_strategy_advisor's threshold

#: per-table in-memory width expression: 8B per numeric/date column +
#: measured string lengths (the same width model join_strategy_advisor
#: uses for its size estimates)
_WIDTHS = {
    "orders": "8 + 8 + length(o_orderstatus) + 8 + 8 + length(o_orderpriority)",
    "lineitem": (
        "8 + 8 + 8 + 4 + 8 + 8 + 8 + 8"
        " + length(l_returnflag) + length(l_linestatus) + 8"
    ),
    "customer": "8 + length(c_name) + 4 + 8 + length(c_mktsegment)",
}

_CANDIDATES = [
    ("orders", "o_custkey"),
    ("lineitem", "l_orderkey"),
    ("lineitem", "l_partkey"),
    ("customer", "c_custkey"),
]


def _q_bucketing_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    frames = []
    for tbl, key in _CANDIDATES:
        t = load_table(spark, sf_dir, tbl)
        width = F.expr(_WIDTHS[tbl]).cast("bigint")
        agg = t.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct(key).alias("n_distinct"),
            F.sum(width).alias("est_bytes"),
        )
        frames.append(
            agg.select(
                F.lit(tbl).alias("tbl"), F.lit(key).alias("key"), "*"
            )
        )
    out = frames[0]
    for fdf in frames[1:]:
        out = out.unionByName(fdf)
    need = F.ceil(F.col("est_bytes") / F.lit(_TARGET_BUCKET_BYTES)).cast("bigint")
    # next power of two via bit length: 2^len(bin(n-1)) for n > 1
    # 2^p is exact in IEEE double far beyond any sane bucket count, so
    # pow() then cast is itself integer-exact (shiftleft needs a
    # literal shift amount in PySpark)
    pow2 = F.when(need <= 1, F.lit(1).cast("bigint")).otherwise(
        F.pow(F.lit(2.0), F.length(F.bin(need - 1)).cast("double")).cast("bigint")
    )
    return out.select(
        "tbl",
        "key",
        "n_rows",
        "n_distinct",
        "est_bytes",
        (F.col("est_bytes") <= _BROADCAST_BYTES).alias("broadcastable"),
        pow2.cast("bigint").alias("n_buckets"),
    )


def _bucketing_sql() -> str:
    legs = []
    for tbl, key in _CANDIDATES:
        legs.append(
            f"""SELECT '{tbl}' AS tbl, '{key}' AS key,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(DISTINCT {key}) AS BIGINT) AS n_distinct,
       CAST(sum({_WIDTHS[tbl]}) AS BIGINT) AS est_bytes
FROM {tbl}"""
        )
    return f"""
WITH stats AS (
  {" UNION ALL ".join(legs)}
), sized AS (
  SELECT *, CAST(ceil(est_bytes / {_TARGET_BUCKET_BYTES}.0) AS BIGINT) AS need
  FROM stats
)
SELECT tbl, key, n_rows, n_distinct, est_bytes,
       est_bytes <= {_BROADCAST_BYTES} AS broadcastable,
       CAST(CASE WHEN need <= 1 THEN 1
                 ELSE 1::BIGINT << length(bin(need - 1)) END AS BIGINT)
         AS n_buckets
FROM sized
"""


_SQL_BUCKETING_ADVISOR = _bucketing_sql()


# --------------------------------------------------------------------------
# dp_noise_calibration
# --------------------------------------------------------------------------

_DP_EPS = (0.1, 0.5, 1.0)
_DP_UTIL = 0.01  # 1% relative-error utility bound


def _q_dp_noise_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    per = orders.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("n"))
    eps = F.explode(F.array(*[F.lit(float(e)) for e in _DP_EPS])).alias("eps")
    grid = per.select("o_orderpriority", "n", eps)
    scale = 1.0 / F.col("eps")
    rel = scale / F.col("n")
    return grid.select(
        "o_orderpriority",
        "n",
        F.round("eps", 6).alias("eps"),
        F.round(scale, 6).alias("laplace_scale"),
        F.round(rel, 9).alias("rel_err"),
        (rel <= _DP_UTIL).alias("meets_1pct"),
        F.round(F.lit(1.0 / _DP_UTIL) / F.col("n"), 9).alias("min_eps_1pct"),
    )


_SQL_DP_NOISE_CALIBRATION = f"""
WITH per AS (
  SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n
  FROM orders GROUP BY o_orderpriority
), grid AS (
  SELECT o_orderpriority, n, CAST(e.eps AS DOUBLE) AS eps
  FROM per CROSS JOIN (SELECT unnest([{", ".join(str(e) for e in _DP_EPS)}]) AS eps) e
)
SELECT o_orderpriority, n,
       round(eps, 6) AS eps,
       round(1.0 / eps, 6) AS laplace_scale,
       round((1.0 / eps) / n, 9) AS rel_err,
       (1.0 / eps) / n <= {_DP_UTIL} AS meets_1pct,
       round({1.0 / _DP_UTIL!r} / n, 9) AS min_eps_1pct
FROM grid
"""


SPECS: dict[str, QuerySpec] = {
    "band_join_prices": QuerySpec(
        _q_band_join_prices,
        _SQL_BAND_JOIN_PRICES,
        "epsilon-band self-join on part price via bucketed equi-join "
        "(fan-out to neighbor buckets; no nested loop); 15 closest pairs",
    ),
    "dim_truncation_recall": QuerySpec(
        _q_dim_truncation_recall,
        _SQL_DIM_TRUNCATION_RECALL,
        "recall@10 of 16-dim truncated cosine top-k vs full 64-dim "
        "(Matryoshka truncation audit over the 10-query panel)",
    ),
    "bucketing_advisor": QuerySpec(
        _q_bucketing_advisor,
        _SQL_BUCKETING_ADVISOR,
        "bucket-count advisor: rows/distinct/bytes per candidate key, "
        "power-of-two buckets at 128MiB target or broadcast verdict",
    ),
    "dp_noise_calibration": QuerySpec(
        _q_dp_noise_calibration,
        _SQL_DP_NOISE_CALIBRATION,
        "Laplace-mechanism calibration for per-priority counts: scale, "
        "relative error, 1%-utility verdict, minimum epsilon",
    ),
}
