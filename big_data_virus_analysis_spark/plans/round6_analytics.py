"""Round-6 analytics pack — survival hazard, collocation strength,
cross-source normalization, graded retrieval eval, distribution drift.

* ``nelson_aalen_hazard`` — the Nelson–Aalen cumulative-hazard
  estimator H(t) = Σ_{t_i ≤ t} d_i/n_i over the SAME signup→purchase
  cohort as ``km_signup_to_purchase`` (plans/survival.py — durations,
  right-censoring, risk sets all identical), plus the Breslow survival
  estimate exp(−H).  Both cumulative sums run through the two-phase
  ``global_prefix_sum`` (risk set via reverse-ordered scan, hazard via
  forward scan over DECIMAL-staged per-time increments) — no
  single-task global window, same discipline as the KM query.

* ``collocation_g2_top`` — Dunning (1993) log-likelihood-ratio
  collocation ranking: G² = 2·Σ O·ln(O/E) over the 2×2 bigram
  contingency table (k11 = c(w1,w2), k12 = c(w1,·)−k11, k21 =
  c(·,w2)−k11, k22 = N−k11−k12−k21), the robust-at-low-counts
  complement to ``bigram_pmi_top`` (catalog.py — same bigram/marginal
  frames, same min-support-5 + rounded-score + full-tiebreak top-k
  discipline).

* ``quantile_normalize_sources`` — cross-source quantile
  normalization of document lengths: rank docs per source (PARTITIONED
  window — never global), keep ranks present in every source, and
  report each rank's reference value (the cross-source mean at that
  rank) with min/max spread.  The classic batch-effect remover
  (Bolstad 2003) for making per-shard score distributions comparable;
  sums are over BIGINT lengths so the reference values are exact.

* ``ndcg_fixed_ranking`` — graded retrieval eval of the cosine
  ranking over the standard 10-query panel: binary relevance = shared
  ``label``, DCG@10 with 1/log2(rank+1) gains staged as DECIMAL before
  the per-query sum, IDCG from the per-label candidate counts (10-row
  broadcast), nDCG, and the reciprocal rank of the first relevant hit.
  Completes the eval family: recall ✓ AUC ✓ PR ✓ calibration ✓ nDCG ✓.

* ``js_divergence_priorities`` — Jensen–Shannon divergence (in bits,
  log2) between the 1996 and 1997 order-priority distributions — the
  symmetric, bounded complement to ``psi_price_drift`` / KS for
  categorical drift.  Marginal frames are |priorities|-row; the two
  1-row totals broadcast on.

No reference counterpart; extends plans/survival.py, the text
collocation family, and the eval pack.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.prefix_sum import global_prefix_sum
from ..operators.similarity import cosine_topk
from ..sources.tables import load_table
from . import QuerySpec

# --------------------------------------------------------------------------
# nelson_aalen_hazard
# --------------------------------------------------------------------------

_DAY_US = 86_400_000_000


def _q_nelson_aalen_hazard(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        (F.unix_micros(F.col("ts")) / _DAY_US).cast("long").alias("day"),
    )
    per_user = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", F.col("day"))).alias("s0"),
        F.max("day").alias("last_day"),
    )
    first_purchase = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("day").alias("p0"))
    )
    cohort = (
        per_user.join(first_purchase, "user_id", "left")
        .where(F.col("s0").isNotNull())
        .select(
            F.when(
                F.col("p0").isNotNull() & (F.col("p0") >= F.col("s0")),
                F.col("p0") - F.col("s0"),
            )
            .otherwise(F.col("last_day") - F.col("s0"))
            .alias("duration"),
            (
                F.col("p0").isNotNull() & (F.col("p0") >= F.col("s0"))
            ).cast("int").alias("event"),
        )
    )
    times = cohort.groupBy("duration").agg(
        F.sum("event").alias("d"), F.count("*").alias("c")
    )
    with_risk = global_prefix_sum(
        times,
        "duration",
        "c",
        "n_risk",
        order_exprs=[F.col("duration").desc()],
    )
    events_only = with_risk.where(F.col("d") > 0).withColumn(
        "h",
        F.round(F.col("d") / F.col("n_risk").cast("double"), 9).cast(
            "decimal(28,12)"
        ),
    )
    return (
        global_prefix_sum(events_only, "duration", "h", "hcum")
        .select(
            "duration",
            F.col("d").cast("bigint").alias("d"),
            F.col("n_risk").cast("bigint").alias("n_risk"),
            F.round(F.col("hcum").cast("double"), 6).alias("cum_hazard"),
            F.round(F.exp(-F.col("hcum").cast("double")), 6).alias("surv_breslow"),
        )
        .orderBy("duration")
    )


_SQL_NELSON_AALEN_HAZARD = """
WITH ev AS (
  SELECT user_id, event_type, epoch_us(ts) // 86400000000 AS day FROM events
), per_user AS (
  SELECT user_id,
         min(CASE WHEN event_type = 'signup' THEN day END) AS s0,
         max(day) AS last_day
  FROM ev GROUP BY user_id
), first_purchase AS (
  SELECT user_id, min(day) AS p0 FROM ev WHERE event_type = 'purchase'
  GROUP BY user_id
), cohort AS (
  SELECT CASE WHEN f.p0 IS NOT NULL AND f.p0 >= p.s0 THEN f.p0 - p.s0
              ELSE p.last_day - p.s0 END AS duration,
         CASE WHEN f.p0 IS NOT NULL AND f.p0 >= p.s0 THEN 1 ELSE 0 END AS event
  FROM per_user p LEFT JOIN first_purchase f ON p.user_id = f.user_id
  WHERE p.s0 IS NOT NULL
), times AS (
  SELECT duration, sum(event) AS d, count(*) AS c FROM cohort GROUP BY duration
), with_risk AS (
  SELECT duration, d, c,
         sum(c) OVER (ORDER BY duration DESC ROWS UNBOUNDED PRECEDING) AS n_risk
  FROM times
), haz AS (
  SELECT duration, d, n_risk,
         CAST(round(d / CAST(n_risk AS DOUBLE), 9) AS DECIMAL(28,12)) AS h
  FROM with_risk WHERE d > 0
)
SELECT duration, CAST(d AS BIGINT) AS d, CAST(n_risk AS BIGINT) AS n_risk,
       round(CAST(sum(h) OVER (ORDER BY duration ROWS UNBOUNDED PRECEDING)
                  AS DOUBLE), 6) AS cum_hazard,
       round(exp(-CAST(sum(h) OVER (ORDER BY duration ROWS UNBOUNDED PRECEDING)
                       AS DOUBLE)), 6) AS surv_breslow
FROM haz
ORDER BY duration
"""


# --------------------------------------------------------------------------
# collocation_g2_top
# --------------------------------------------------------------------------

_G2_MIN_SUPPORT = 5
_G2_TOPK = 50


def _q_collocation_g2_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.expr("filter(split(text, ' '), t -> length(t) > 0)").alias("a")
    ).where(F.expr("size(a) >= 2"))
    pairs = toks.select(
        F.explode(
            F.expr(
                "transform(sequence(1, size(a) - 1), "
                "i -> struct(element_at(a, i) AS w1, element_at(a, i + 1) AS w2))"
            )
        ).alias("bg")
    ).select("bg.w1", "bg.w2")
    cnt = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("k11"))
    firsts = pairs.groupBy("w1").agg(F.count(F.lit(1)).alias("cx"))
    seconds = pairs.groupBy("w2").agg(F.count(F.lit(1)).alias("cy"))
    tot = pairs.agg(F.count(F.lit(1)).alias("nb"))
    j = (
        cnt.where(F.col("k11") >= _G2_MIN_SUPPORT)
        .join(firsts, "w1")
        .join(seconds, "w2")
        .crossJoin(F.broadcast(tot))
    )
    k11 = F.col("k11").cast("double")
    k12 = (F.col("cx") - F.col("k11")).cast("double")
    k21 = (F.col("cy") - F.col("k11")).cast("double")
    k22 = (F.col("nb") - F.col("cx") - F.col("cy") + F.col("k11")).cast("double")
    nb = F.col("nb").cast("double")

    def _term(o: F.Column, row: F.Column, colm: F.Column) -> F.Column:
        e = row * colm / nb
        return F.when(o > 0, o * F.log(o / e)).otherwise(F.lit(0.0))

    cxd, cyd = F.col("cx").cast("double"), F.col("cy").cast("double")
    g2 = F.round(
        2.0
        * (
            _term(k11, cxd, cyd)
            + _term(k12, cxd, nb - cyd)
            + _term(k21, nb - cxd, cyd)
            + _term(k22, nb - cxd, nb - cyd)
        ),
        6,
    )
    return (
        j.select("w1", "w2", F.col("k11").alias("c"), g2.alias("g2"))
        .orderBy(F.desc("g2"), F.asc("w1"), F.asc("w2"))
        .limit(_G2_TOPK)
    )


_SQL_COLLOCATION_G2_TOP = f"""
WITH t AS (
  SELECT list_filter(string_split(text, ' '), x -> length(x) > 0) AS a
  FROM documents
), t2 AS (
  SELECT a FROM t WHERE len(a) >= 2
), pairs AS (
  SELECT a[i] AS w1, a[i + 1] AS w2
  FROM t2, UNNEST(range(1, len(a))) AS u(i)
), cnt AS (
  SELECT w1, w2, count(*) AS k11 FROM pairs GROUP BY 1, 2
), firsts AS (
  SELECT w1, count(*) AS cx FROM pairs GROUP BY 1
), seconds AS (
  SELECT w2, count(*) AS cy FROM pairs GROUP BY 1
), tot AS (
  SELECT count(*) AS nb FROM pairs
), j AS (
  SELECT c.w1, c.w2, c.k11, f.cx, s.cy, t.nb
  FROM cnt c JOIN firsts f USING (w1) JOIN seconds s USING (w2)
  CROSS JOIN tot t
  WHERE c.k11 >= {_G2_MIN_SUPPORT}
), terms AS (
  SELECT w1, w2, k11,
         CAST(k11 AS DOUBLE) AS o11,
         CAST(cx - k11 AS DOUBLE) AS o12,
         CAST(cy - k11 AS DOUBLE) AS o21,
         CAST(nb - cx - cy + k11 AS DOUBLE) AS o22,
         CAST(cx AS DOUBLE) AS cxd, CAST(cy AS DOUBLE) AS cyd,
         CAST(nb AS DOUBLE) AS nbd
  FROM j
)
SELECT w1, w2, CAST(k11 AS BIGINT) AS c,
       round(2.0 * (
         (CASE WHEN o11 > 0 THEN o11 * ln(o11 / (cxd * cyd / nbd)) ELSE 0 END)
       + (CASE WHEN o12 > 0 THEN o12 * ln(o12 / (cxd * (nbd - cyd) / nbd)) ELSE 0 END)
       + (CASE WHEN o21 > 0 THEN o21 * ln(o21 / ((nbd - cxd) * cyd / nbd)) ELSE 0 END)
       + (CASE WHEN o22 > 0 THEN o22 * ln(o22 / ((nbd - cxd) * (nbd - cyd) / nbd)) ELSE 0 END)
       ), 6) AS g2
FROM terms
ORDER BY g2 DESC, w1 ASC, w2 ASC
LIMIT {_G2_TOPK}
"""


# --------------------------------------------------------------------------
# quantile_normalize_sources
# --------------------------------------------------------------------------


def _q_quantile_normalize_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.asc("n_chars"), F.asc("doc_id")
    )
    ranked = docs.select(
        "source", "n_chars", F.row_number().over(w).alias("rk")
    )
    n_sources = docs.agg(
        F.countDistinct("source").alias("ns")
    )
    per_rank = ranked.groupBy("rk").agg(
        F.count(F.lit(1)).alias("n_sources_at_rank"),
        F.sum("n_chars").alias("s"),
        F.min("n_chars").alias("min_val"),
        F.max("n_chars").alias("max_val"),
    )
    return (
        per_rank.crossJoin(F.broadcast(n_sources))
        .where(F.col("n_sources_at_rank") == F.col("ns"))
        .select(
            "rk",
            "n_sources_at_rank",
            F.round(F.col("s").cast("double") / F.col("ns"), 6).alias("ref_value"),
            "min_val",
            "max_val",
        )
    )


_SQL_QUANTILE_NORMALIZE_SOURCES = """
WITH ranked AS (
  SELECT source, n_chars,
         row_number() OVER (PARTITION BY source
                            ORDER BY n_chars ASC, doc_id ASC) AS rk
  FROM documents
), ns AS (
  SELECT count(DISTINCT source) AS ns FROM documents
), per_rank AS (
  SELECT rk, count(*) AS n_sources_at_rank,
         sum(n_chars) AS s, min(n_chars) AS min_val, max(n_chars) AS max_val
  FROM ranked GROUP BY rk
)
SELECT rk, CAST(n_sources_at_rank AS BIGINT) AS n_sources_at_rank,
       round(CAST(s AS DOUBLE) / ns, 6) AS ref_value,
       CAST(min_val AS BIGINT) AS min_val,
       CAST(max_val AS BIGINT) AS max_val
FROM per_rank CROSS JOIN ns
WHERE n_sources_at_rank = ns
"""


# --------------------------------------------------------------------------
# ndcg_fixed_ranking
# --------------------------------------------------------------------------

_NDCG_K = 10
_NDCG_QUERIES = 10


def _q_ndcg_fixed_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    ranking = cosine_topk(emb, n_queries=_NDCG_QUERIES, k=_NDCG_K).select(
        "query_id", "cand_id", "rank"
    )
    labels = emb.select("vec_id", "label")
    rel = (
        ranking.join(
            labels.select(
                F.col("vec_id").alias("query_id"), F.col("label").alias("qlab")
            ),
            "query_id",
        )
        .join(
            labels.select(
                F.col("vec_id").alias("cand_id"), F.col("label").alias("clab")
            ),
            "cand_id",
        )
        .select(
            "query_id",
            "rank",
            (F.col("qlab") == F.col("clab")).cast("int").alias("rel"),
        )
    )
    gain = F.round(
        F.col("rel") / F.log2(F.col("rank").cast("double") + 1.0), 9
    ).cast("decimal(28,12)")
    per_q = rel.groupBy("query_id").agg(
        F.sum(gain).alias("dcg_dec"),
        F.sum("rel").alias("n_rel"),
        F.min(F.when(F.col("rel") == 1, F.col("rank"))).alias("first_hit"),
    )
    # ideal gains: same-label candidates available per query (minus the
    # query itself), capped at k; IDCG = sum_{i=1..m} 1/log2(i+1)
    lab_counts = emb.groupBy("label").agg(F.count(F.lit(1)).alias("n_lab"))
    qlabs = (
        emb.where(F.col("vec_id") < _NDCG_QUERIES)
        .select(F.col("vec_id").alias("query_id"), "label")
        .join(lab_counts, "label")
        .select(
            "query_id",
            F.least(F.col("n_lab") - 1, F.lit(_NDCG_K)).alias("m"),
        )
    )
    ideal = qlabs.select(
        "query_id",
        "m",
        F.explode(F.sequence(F.lit(1), F.col("m"))).alias("i"),
    )
    idcg = ideal.groupBy("query_id").agg(
        F.sum(
            F.round(1.0 / F.log2(F.col("i").cast("double") + 1.0), 9).cast(
                "decimal(28,12)"
            )
        ).alias("idcg_dec")
    )
    return (
        per_q.join(idcg, "query_id")
        .select(
            "query_id",
            "n_rel",
            F.round(F.col("dcg_dec").cast("double"), 6).alias("dcg"),
            F.round(F.col("idcg_dec").cast("double"), 6).alias("idcg"),
            F.round(
                F.col("dcg_dec").cast("double") / F.col("idcg_dec").cast("double"),
                6,
            ).alias("ndcg"),
            F.round(
                F.coalesce(1.0 / F.col("first_hit"), F.lit(0.0)), 6
            ).alias("rr"),
        )
    )


_SQL_NDCG_FIXED_RANKING = f"""
WITH elems AS (
  SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS x
  FROM embeddings CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS i)
), norms AS (
  SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM elems GROUP BY vec_id
), dots AS (
  SELECT q.vec_id AS query_id, c.vec_id AS cand_id, sum(q.x * c.x) AS dot
  FROM elems q JOIN elems c ON q.i = c.i AND c.vec_id <> q.vec_id
  WHERE q.vec_id < {_NDCG_QUERIES}
  GROUP BY 1, 2
), sims AS (
  SELECT query_id, cand_id, round(dot / (nq.nrm * nc.nrm), 6) AS sim
  FROM dots
  JOIN norms nq ON query_id = nq.vec_id
  JOIN norms nc ON cand_id = nc.vec_id
), ranking AS (
  SELECT query_id, cand_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY sim DESC, cand_id ASC) AS rank
  FROM sims
  QUALIFY rank <= {_NDCG_K}
), rel AS (
  SELECT r.query_id, r.rank,
         CASE WHEN ql.label = cl.label THEN 1 ELSE 0 END AS rel
  FROM ranking r
  JOIN embeddings ql ON r.query_id = ql.vec_id
  JOIN embeddings cl ON r.cand_id = cl.vec_id
), per_q AS (
  SELECT query_id,
         sum(CAST(round(rel / log2(rank + 1.0), 9) AS DECIMAL(28,12)))
           AS dcg_dec,
         CAST(sum(rel) AS BIGINT) AS n_rel,
         min(CASE WHEN rel = 1 THEN rank END) AS first_hit
  FROM rel GROUP BY query_id
), lab_counts AS (
  SELECT label, count(*) AS n_lab FROM embeddings GROUP BY label
), qlabs AS (
  SELECT e.vec_id AS query_id, least(lc.n_lab - 1, {_NDCG_K}) AS m
  FROM embeddings e JOIN lab_counts lc ON e.label = lc.label
  WHERE e.vec_id < {_NDCG_QUERIES}
), ideal AS (
  SELECT query_id, unnest(generate_series(1, m)) AS i FROM qlabs
), idcg AS (
  SELECT query_id,
         sum(CAST(round(1.0 / log2(i + 1.0), 9) AS DECIMAL(28,12)))
           AS idcg_dec
  FROM ideal GROUP BY query_id
)
SELECT p.query_id, p.n_rel,
       round(CAST(p.dcg_dec AS DOUBLE), 6) AS dcg,
       round(CAST(i.idcg_dec AS DOUBLE), 6) AS idcg,
       round(CAST(p.dcg_dec AS DOUBLE) / CAST(i.idcg_dec AS DOUBLE), 6)
         AS ndcg,
       round(coalesce(1.0 / p.first_hit, 0.0), 6) AS rr
FROM per_q p JOIN idcg i USING (query_id)
"""


# --------------------------------------------------------------------------
# js_divergence_priorities
# --------------------------------------------------------------------------

_JS_Y1, _JS_Y2 = 1996, 1997


def _q_js_divergence_priorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    base = orders.where(
        F.year("o_orderdate").isin(_JS_Y1, _JS_Y2)
    ).select("o_orderpriority", F.year("o_orderdate").alias("yr"))
    marg = base.groupBy("o_orderpriority").agg(
        F.sum((F.col("yr") == _JS_Y1).cast("bigint")).alias("c1"),
        F.sum((F.col("yr") == _JS_Y2).cast("bigint")).alias("c2"),
    )
    tots = base.agg(
        F.sum((F.col("yr") == _JS_Y1).cast("bigint")).alias("n1"),
        F.sum((F.col("yr") == _JS_Y2).cast("bigint")).alias("n2"),
    )
    j = marg.crossJoin(F.broadcast(tots))
    p = F.col("c1").cast("double") / F.col("n1")
    q = F.col("c2").cast("double") / F.col("n2")
    m = (p + q) / 2.0
    kl_p = F.when(p > 0, p * F.log2(p / m)).otherwise(F.lit(0.0))
    kl_q = F.when(q > 0, q * F.log2(q / m)).otherwise(F.lit(0.0))
    terms = j.select(
        F.round((kl_p / 2.0 + kl_q / 2.0), 12)
        .cast("decimal(28,12)")
        .alias("t")
    )
    # |priorities|-row frame -> one hash agg
    return terms.agg(
        F.round(F.sum("t").cast("double"), 6).alias("js_divergence_bits")
    )


_SQL_JS_DIVERGENCE_PRIORITIES = f"""
WITH base AS (
  SELECT o_orderpriority, year(o_orderdate) AS yr
  FROM orders WHERE year(o_orderdate) IN ({_JS_Y1}, {_JS_Y2})
), marg AS (
  SELECT o_orderpriority,
         sum(CASE WHEN yr = {_JS_Y1} THEN 1 ELSE 0 END) AS c1,
         sum(CASE WHEN yr = {_JS_Y2} THEN 1 ELSE 0 END) AS c2
  FROM base GROUP BY o_orderpriority
), tots AS (
  SELECT sum(CASE WHEN yr = {_JS_Y1} THEN 1 ELSE 0 END) AS n1,
         sum(CASE WHEN yr = {_JS_Y2} THEN 1 ELSE 0 END) AS n2
  FROM base
), terms AS (
  SELECT CAST(round(
           (CASE WHEN CAST(c1 AS DOUBLE) / n1 > 0
                 THEN (CAST(c1 AS DOUBLE) / n1)
                      * log2((CAST(c1 AS DOUBLE) / n1)
                             / ((CAST(c1 AS DOUBLE) / n1
                                 + CAST(c2 AS DOUBLE) / n2) / 2.0))
                 ELSE 0 END) / 2.0
         + (CASE WHEN CAST(c2 AS DOUBLE) / n2 > 0
                 THEN (CAST(c2 AS DOUBLE) / n2)
                      * log2((CAST(c2 AS DOUBLE) / n2)
                             / ((CAST(c1 AS DOUBLE) / n1
                                 + CAST(c2 AS DOUBLE) / n2) / 2.0))
                 ELSE 0 END) / 2.0, 12) AS DECIMAL(28,12)) AS t
  FROM marg CROSS JOIN tots
)
SELECT round(CAST(sum(t) AS DOUBLE), 6) AS js_divergence_bits FROM terms
"""


SPECS: dict[str, QuerySpec] = {
    "nelson_aalen_hazard": QuerySpec(
        _q_nelson_aalen_hazard,
        _SQL_NELSON_AALEN_HAZARD,
        "Nelson-Aalen cumulative hazard + Breslow survival over the KM "
        "cohort (two-phase prefix sums, decimal-staged increments)",
    ),
    "collocation_g2_top": QuerySpec(
        _q_collocation_g2_top,
        _SQL_COLLOCATION_G2_TOP,
        "Dunning log-likelihood-ratio (G2) bigram collocations, "
        "min support 5, top-50 with rounded-score tiebreaks",
    ),
    "quantile_normalize_sources": QuerySpec(
        _q_quantile_normalize_sources,
        _SQL_QUANTILE_NORMALIZE_SOURCES,
        "cross-source quantile normalization of doc lengths: per-rank "
        "reference values from partitioned ranks (no global window)",
    ),
    "ndcg_fixed_ranking": QuerySpec(
        _q_ndcg_fixed_ranking,
        _SQL_NDCG_FIXED_RANKING,
        "nDCG@10 + MRR of the cosine ranking with shared-label "
        "relevance over the 10-query panel (decimal-staged gains)",
    ),
    "js_divergence_priorities": QuerySpec(
        _q_js_divergence_priorities,
        _SQL_JS_DIVERGENCE_PRIORITIES,
        "Jensen-Shannon divergence (bits) between 1996 and 1997 "
        "order-priority distributions",
    ),
}
