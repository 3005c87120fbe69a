"""Round-6 operations pack — operator families the catalog did not yet
cover, each exact-oracle and scale-shaped:

* ``pagerank_dup_graph_exact`` — two unrolled PageRank power
  iterations over the document near-duplicate graph (edges = doc pairs
  sharing ≥ ``_PR_MIN_SHARED`` 8-gram shingles, from the same inverted
  gram index the dedup family uses).  The honest way to oracle an
  iterative graph algorithm: pin the per-iteration body bit-for-bit
  (same discipline as ``kmeans_lloyd_step`` / ``lr_gd_steps_exact``).
  Scale shape: gram inverted-index join for edges, hash-aggregates
  keyed on doc for degrees/ranks, a 1-row node-count broadcast — no
  all-pairs, no global windows.

* ``entity_resolution_pairs`` — Fellegi–Sunter-style record linkage
  over customers: candidate pairs come ONLY from blocking
  (nation × market segment), each pair gets an agreement vector
  (balance band, close-balance, name-suffix distance) scored with
  fixed log-odds weights.  Blocking is THE scale decision: pairs grow
  per-block-quadratic, never corpus-quadratic.

* ``scd2_user_state_intervals`` — the warehouse SCD-2 build as a
  query: each user's event-type change history becomes versioned
  validity intervals [valid_from, valid_to) with a NULL open end —
  lag/lead windows partitioned by user (parallel at any scale).

* ``event_debounce`` — collapse bursts of same (user, type) events
  within ``_DEBOUNCE_S`` seconds into one row (first/last ts, count):
  the stream-hygiene op every ingest pipeline runs; islands-and-gaps
  per (user, type) partition.

* ``token_typo_pairs`` — data-cleaning typo mining: vocabulary token
  pairs at Levenshtein distance ≤ 1, candidates blocked on (first
  char, |length diff| ≤ 1) so the comparison count is capped by block
  sizes, never |V|².

* ``weighted_sample_det`` — deterministic weighted sampling without
  replacement (Efraimidis–Spirakis A-ES): key = ln(u)/w with u an
  md5-derived uniform, top-k by key via orderBy+limit
  (TakeOrderedAndProject).  Same hash-not-RNG discipline as
  ``stratified_sample_det``.

* ``data_quality_audit`` — the data-contract check frame: FK orphan
  counts (anti-join shape), null/empty/range violations, one row per
  check with a pass flag.  Every check is a filter + count on one
  scan; the union frame is |checks| rows.

* ``compaction_advisor`` — partitioned-write planning as a query: per
  ``documents.source``, measured bytes → recommended file count at the
  128 MB target and a tiny-file flag — the third member of the
  planning family (shuffle sizing ✓, join strategy ✓, write layout ✓).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators import graph_edges
from ..operators.caching import tracked_cache
from ..sources.tables import load_table
from . import QuerySpec

# --------------------------------------------------------------------------
# pagerank_dup_graph_exact
# --------------------------------------------------------------------------

# r7: gram length / hot-gram cap / min-shared support now live in
# operators/graph_edges.py (GRAM_L=8, DF_CAP=64, MIN_SHARED=5 — one
# builder, three consumers; r6 VERDICT directive #3).  The historical
# names stay as aliases because docstrings/tests cite them.
_PR_GRAM_L = graph_edges.GRAM_L
_PR_MIN_SHARED = graph_edges.MIN_SHARED
_PR_D = 0.85
_PR_DF_CAP = graph_edges.DF_CAP


def _q_pagerank_dup_graph_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = graph_edges.dup_graph_edges(spark, sf_dir)
    # symmetric edge list, cached: consumed by degree agg + 2 iterations
    edges = tracked_cache(
        pairs.unionByName(pairs.select(F.col("v").alias("u"), F.col("u").alias("v")))
    )
    deg = edges.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
    n_nodes = deg.agg(F.count(F.lit(1)).alias("n"))
    # p0 = 1/N for every node; two unrolled iterations of
    # p' = (1-d)/N + d * sum_in(p/deg)
    p0 = deg.crossJoin(F.broadcast(n_nodes)).select(
        "u", "deg", "n", (F.lit(1.0) / F.col("n")).alias("p")
    )
    p0 = tracked_cache(p0)

    def step(p: DataFrame) -> DataFrame:
        contrib = (
            edges.join(p, "u")
            .groupBy("v")
            .agg(F.sum(F.col("p") / F.col("deg")).alias("inflow"))
        )
        return (
            p.select("u", "deg", "n")
            .join(contrib, p["u"] == contrib["v"], "left")
            .select(
                "u",
                "deg",
                "n",
                (
                    (1.0 - _PR_D) / F.col("n")
                    + _PR_D * F.coalesce("inflow", F.lit(0.0))
                ).alias("p"),
            )
        )

    p2 = step(step(p0))
    return p2.select(
        F.col("u").alias("doc_id"), "deg", F.round("p", 6).alias("pagerank2")
    )


_SQL_PAGERANK_DUP_GRAPH_EXACT = graph_edges.dup_graph_edges_ctes() + f""", edges AS (
  SELECT u, v FROM pr UNION ALL SELECT v, u FROM pr
), deg AS (
  SELECT u, count(*) AS deg FROM edges GROUP BY u
), nn AS (
  SELECT count(*) AS n FROM deg
), p0 AS (
  SELECT u, deg, n, 1.0 / n AS p FROM deg CROSS JOIN nn
), c1 AS (
  SELECT e.v, sum(p.p / p.deg) AS inflow
  FROM edges e JOIN p0 p USING (u) GROUP BY e.v
), p1 AS (
  SELECT p0.u, p0.deg, p0.n,
         (1.0 - {_PR_D}) / p0.n + {_PR_D} * coalesce(c1.inflow, 0.0) AS p
  FROM p0 LEFT JOIN c1 ON p0.u = c1.v
), c2 AS (
  SELECT e.v, sum(p.p / p.deg) AS inflow
  FROM edges e JOIN p1 p USING (u) GROUP BY e.v
), p2 AS (
  SELECT p1.u, p1.deg, p1.n,
         (1.0 - {_PR_D}) / p1.n + {_PR_D} * coalesce(c2.inflow, 0.0) AS p
  FROM p1 LEFT JOIN c2 ON p1.u = c2.v
)
SELECT u AS doc_id, deg, round(p, 6) AS pagerank2 FROM p2
"""


# --------------------------------------------------------------------------
# entity_resolution_pairs
# --------------------------------------------------------------------------

#: fixed log-odds agreement weights (Fellegi–Sunter m/u ratios frozen
#: as constants so both engines score identically)
_ER_W_BAND = 2.0  # same 1000-wide balance band
_ER_W_CLOSE = 3.0  # |balance diff| <= 100
_ER_W_SUFFIX = 1.5  # customer-number suffix within 10
_ER_THRESHOLD = 3.5


def _q_entity_resolution_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_nationkey",
        "c_mktsegment",
        "c_acctbal",
        F.substring("c_name", -4, 4).cast("int").alias("suffix"),
    )
    a, b = cust.alias("a"), cust.alias("b")
    pairs = a.join(
        b,
        (F.col("a.c_nationkey") == F.col("b.c_nationkey"))
        & (F.col("a.c_mktsegment") == F.col("b.c_mktsegment"))
        & (F.col("a.c_custkey") < F.col("b.c_custkey")),
    )
    band = lambda c: F.floor(F.col(c) / 1000)  # noqa: E731
    score = (
        F.when(band("a.c_acctbal") == band("b.c_acctbal"), _ER_W_BAND).otherwise(0.0)
        + F.when(
            F.abs(F.col("a.c_acctbal") - F.col("b.c_acctbal")) <= 100, _ER_W_CLOSE
        ).otherwise(0.0)
        + F.when(
            F.abs(F.col("a.suffix") - F.col("b.suffix")) <= 10, _ER_W_SUFFIX
        ).otherwise(0.0)
    )
    return (
        pairs.select(
            F.col("a.c_custkey").alias("cust_a"),
            F.col("b.c_custkey").alias("cust_b"),
            F.col("a.c_nationkey").alias("nationkey"),
            F.col("a.c_mktsegment").alias("mktsegment"),
            F.round(score, 1).alias("match_score"),
        )
        .where(F.col("match_score") >= _ER_THRESHOLD)
    )


_SQL_ENTITY_RESOLUTION_PAIRS = f"""
WITH c AS (
  SELECT c_custkey, c_nationkey, c_mktsegment, c_acctbal,
         CAST(right(c_name, 4) AS INT) AS suffix
  FROM customer
), pairs AS (
  SELECT a.c_custkey AS cust_a, b.c_custkey AS cust_b,
         a.c_nationkey AS nationkey, a.c_mktsegment AS mktsegment,
         round(CAST(
           (CASE WHEN floor(a.c_acctbal / 1000) = floor(b.c_acctbal / 1000)
                 THEN {_ER_W_BAND} ELSE 0.0 END)
           + (CASE WHEN abs(a.c_acctbal - b.c_acctbal) <= 100
                   THEN {_ER_W_CLOSE} ELSE 0.0 END)
           + (CASE WHEN abs(a.suffix - b.suffix) <= 10
                   THEN {_ER_W_SUFFIX} ELSE 0.0 END) AS DOUBLE), 1)
           AS match_score
  FROM c a JOIN c b
    ON a.c_nationkey = b.c_nationkey
   AND a.c_mktsegment = b.c_mktsegment
   AND a.c_custkey < b.c_custkey
)
SELECT * FROM pairs WHERE match_score >= {_ER_THRESHOLD}
"""


# --------------------------------------------------------------------------
# scd2_user_state_intervals
# --------------------------------------------------------------------------


def _q_scd2_user_state_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("tus", "event_id")
    changes = (
        ev.select(
            "user_id", "event_type", F.unix_micros("ts").alias("tus"), "event_id"
        )
        .withColumn("prev_type", F.lag("event_type").over(w))
        .where(
            F.col("prev_type").isNull() | (F.col("prev_type") != F.col("event_type"))
        )
    )
    w2 = Window.partitionBy("user_id").orderBy("tus", "event_id")
    return changes.select(
        "user_id",
        F.col("event_type").alias("state"),
        F.row_number().over(w2).alias("version"),
        F.col("tus").alias("valid_from_us"),
        F.lead("tus").over(w2).alias("valid_to_us"),
        F.lead("tus").over(w2).isNull().alias("is_current"),
    )


_SQL_SCD2_USER_STATE_INTERVALS = """
WITH x AS (
  SELECT user_id, event_type, epoch_us(ts) AS tus, event_id,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev_type
  FROM events
), changes AS (
  SELECT * FROM x WHERE prev_type IS NULL OR prev_type <> event_type
)
SELECT user_id, event_type AS state,
       CAST(row_number() OVER w AS INT) AS version,
       tus AS valid_from_us,
       lead(tus) OVER w AS valid_to_us,
       lead(tus) OVER w IS NULL AS is_current
FROM changes
WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)
"""


# --------------------------------------------------------------------------
# event_debounce
# --------------------------------------------------------------------------

_DEBOUNCE_S = 300


def _q_event_debounce(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("tus", "event_id")
    x = ev.select(
        "user_id", "event_type", F.unix_micros("ts").alias("tus"), "event_id"
    ).withColumn("prev", F.lag("tus").over(w))
    flagged = x.withColumn(
        "new_burst",
        (
            F.col("prev").isNull()
            | ((F.col("tus") - F.col("prev")) > _DEBOUNCE_S * 1_000_000)
        ).cast("int"),
    )
    bursts = flagged.withColumn(
        "burst_id", F.sum("new_burst").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    return bursts.groupBy("user_id", "event_type", "burst_id").agg(
        F.min("tus").alias("first_us"),
        F.max("tus").alias("last_us"),
        F.count(F.lit(1)).alias("n_collapsed"),
    )


_SQL_EVENT_DEBOUNCE = f"""
WITH x AS (
  SELECT user_id, event_type, epoch_us(ts) AS tus, event_id,
         lag(epoch_us(ts)) OVER w AS prev
  FROM events
  WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts, event_id)
), flagged AS (
  SELECT *, CASE WHEN prev IS NULL OR tus - prev > {_DEBOUNCE_S * 1_000_000}
                 THEN 1 ELSE 0 END AS new_burst
  FROM x
), bursts AS (
  SELECT *, CAST(sum(new_burst) OVER (PARTITION BY user_id, event_type
                                      ORDER BY tus, event_id
                                      ROWS UNBOUNDED PRECEDING) AS BIGINT)
              AS burst_id
  FROM flagged
)
SELECT user_id, event_type, burst_id,
       min(tus) AS first_us, max(tus) AS last_us,
       count(*) AS n_collapsed
FROM bursts GROUP BY user_id, event_type, burst_id
"""


# --------------------------------------------------------------------------
# token_typo_pairs
# --------------------------------------------------------------------------

_TYPO_MIN_FREQ = 5


_TYPO_MAX_DIST = 2


def _q_token_typo_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocking = same FIRST char ∪ same LAST char (two equi-joins
    unioned — an OR join predicate would plan a nested loop), with
    |length diff| ≤ 2.  For distance ≤ 1 this blocking has FULL recall
    (a single edit can change the first or the last character, never
    both); at distance 2 recall is partial by design — that is the
    blocking trade every linkage system makes, stated rather than
    hidden."""
    docs = load_table(spark, sf_dir, "documents")
    vocab = tracked_cache(
        docs.select(F.explode(F.split("text", " ")).alias("tok"))
        .where(F.length("tok") > 0)
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("freq"))
        .where(F.col("freq") >= _TYPO_MIN_FREQ)
        .select(
            "tok",
            "freq",
            F.substring("tok", 1, 1).alias("blk1"),
            F.substring("tok", -1, 1).alias("blk2"),
        )
    )

    def blocked(blk: str) -> DataFrame:
        a, b = vocab.alias("a"), vocab.alias("b")
        return a.join(
            b,
            (F.col(f"a.{blk}") == F.col(f"b.{blk}"))
            & (F.col("a.tok") < F.col("b.tok"))
            & (
                F.abs(F.length("a.tok") - F.length("b.tok")) <= _TYPO_MAX_DIST
            ),
        ).select(
            F.col("a.tok").alias("tok_a"),
            F.col("b.tok").alias("tok_b"),
            F.col("a.freq").alias("freq_a"),
            F.col("b.freq").alias("freq_b"),
        )

    cand = blocked("blk1").unionByName(blocked("blk2")).distinct()
    return cand.withColumn(
        "dist", F.levenshtein("tok_a", "tok_b")
    ).where(F.col("dist") <= _TYPO_MAX_DIST)


_SQL_TOKEN_TYPO_PAIRS = f"""
WITH vocab AS (
  SELECT tok, count(*) AS freq,
         substr(tok, 1, 1) AS blk1, substr(tok, -1, 1) AS blk2
  FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
  WHERE length(tok) > 0
  GROUP BY tok HAVING count(*) >= {_TYPO_MIN_FREQ}
), cand AS (
  SELECT a.tok AS tok_a, b.tok AS tok_b, a.freq AS freq_a, b.freq AS freq_b
  FROM vocab a JOIN vocab b
    ON a.blk1 = b.blk1 AND a.tok < b.tok
   AND abs(length(a.tok) - length(b.tok)) <= {_TYPO_MAX_DIST}
  UNION
  SELECT a.tok, b.tok, a.freq, b.freq
  FROM vocab a JOIN vocab b
    ON a.blk2 = b.blk2 AND a.tok < b.tok
   AND abs(length(a.tok) - length(b.tok)) <= {_TYPO_MAX_DIST}
)
SELECT tok_a, tok_b, freq_a, freq_b,
       CAST(levenshtein(tok_a, tok_b) AS INT) AS dist
FROM cand
WHERE levenshtein(tok_a, tok_b) <= {_TYPO_MAX_DIST}
"""


# --------------------------------------------------------------------------
# weighted_sample_det
# --------------------------------------------------------------------------

_WS_K = 20
_TWO60_I = float(1 << 60)


def _q_weighted_sample_det(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Efraimidis–Spirakis weighted sampling without replacement, made
    deterministic the repo's standard way (hash, not RNG): u is an
    md5-derived uniform in (0,1], the A-ES key is ln(u)/w (monotone
    equivalent of u^(1/w)), and the k largest keys win.  Top-k is
    orderBy().limit() (TakeOrderedAndProject — per-partition partial
    top-k, k-row merge), so the plan is one scan + one k-row reduce at
    any scale.  Inclusion probability is proportional-to-weight
    without replacement — the sampling design mixtures/curriculum
    passes actually need."""
    orders = load_table(spark, sf_dir, "orders")
    u = (
        F.conv(F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 15), 16, 10)
        .cast("double")
        / F.lit(_TWO60_I)
    )  # (0,1): 60-bit mantissa-exact integer over 2^60
    key = F.log(u + F.lit(1e-18)) / F.col("o_totalprice")
    scored = orders.where(F.col("o_totalprice") > 0).select(
        "o_orderkey",
        "o_custkey",
        F.round(F.col("o_totalprice"), 2).alias("weight"),
        # + 0.0 canonicalizes IEEE -0.0 (ln of a u rounding to 1.0) so
        # both engines render the same zero
        (F.round(key, 9) + F.lit(0.0)).alias("es_key"),
    )
    return scored.orderBy(F.desc("es_key"), F.asc("o_orderkey")).limit(_WS_K)


_SQL_WEIGHTED_SAMPLE_DET = f"""
WITH scored AS (
  SELECT o_orderkey, o_custkey,
         round(o_totalprice, 2) AS weight,
         round(
           ln(CAST('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 15)
                   AS BIGINT) / {_TWO60_I!r} + 1e-18)
           / o_totalprice, 9) + 0.0 AS es_key
  FROM orders WHERE o_totalprice > 0
)
SELECT * FROM scored
ORDER BY es_key DESC, o_orderkey ASC
LIMIT {_WS_K}
"""


# --------------------------------------------------------------------------
# data_quality_audit
# --------------------------------------------------------------------------


def _q_data_quality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    li = load_table(spark, sf_dir, "lineitem")
    docs = load_table(spark, sf_dir, "documents")

    def check(name: str, df: DataFrame) -> DataFrame:
        return df.agg(F.count(F.lit(1)).alias("n_violations")).select(
            F.lit(name).alias("check"),
            "n_violations",
            (F.col("n_violations") == 0).alias("passed"),
        )

    fk_orders = orders.join(
        cust, orders["o_custkey"] == cust["c_custkey"], "left_anti"
    )
    fk_li = li.join(orders, li["l_orderkey"] == orders["o_orderkey"], "left_anti")
    neg_price = orders.where(F.col("o_totalprice") <= 0)
    big_disc = li.where(F.col("l_discount") > 0.10)
    empty_doc = docs.where(F.length(F.trim("text")) == 0)
    checks = [
        check("orders_fk_customer_orphans", fk_orders),
        check("lineitem_fk_orders_orphans", fk_li),
        check("orders_nonpositive_totalprice", neg_price),
        check("lineitem_discount_gt_10pct", big_disc),
        check("documents_empty_text", empty_doc),
    ]
    out = checks[0]
    for c in checks[1:]:
        out = out.unionByName(c)
    return out


_SQL_DATA_QUALITY_AUDIT = """
SELECT 'orders_fk_customer_orphans' AS check, count(*) AS n_violations,
       count(*) = 0 AS passed
FROM orders o WHERE NOT EXISTS (SELECT 1 FROM customer c
                                WHERE c.c_custkey = o.o_custkey)
UNION ALL
SELECT 'lineitem_fk_orders_orphans', count(*), count(*) = 0
FROM lineitem l WHERE NOT EXISTS (SELECT 1 FROM orders o
                                  WHERE o.o_orderkey = l.l_orderkey)
UNION ALL
SELECT 'orders_nonpositive_totalprice', count(*), count(*) = 0
FROM orders WHERE o_totalprice <= 0
UNION ALL
SELECT 'lineitem_discount_gt_10pct', count(*), count(*) = 0
FROM lineitem WHERE l_discount > 0.10
UNION ALL
SELECT 'documents_empty_text', count(*), count(*) = 0
FROM documents WHERE length(trim(text)) = 0
"""


# --------------------------------------------------------------------------
# compaction_advisor
# --------------------------------------------------------------------------

_TARGET_FILE_MB = 128
_TINY_FILE_MB = 8


def _q_compaction_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    row_bytes = F.length("text") + F.length("source") + F.length("lang") + F.lit(16)
    per_source = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(row_bytes).alias("est_bytes"),
    )
    target = _TARGET_FILE_MB * 1024 * 1024
    tiny = _TINY_FILE_MB * 1024 * 1024
    return per_source.select(
        "source",
        "n_docs",
        "est_bytes",
        F.greatest(
            F.lit(1).cast("bigint"),
            F.ceil(F.col("est_bytes").cast("double") / target).cast("bigint"),
        ).alias("recommended_files"),
        (F.col("est_bytes") < tiny).alias("coalesce_into_shared_file"),
    )


_SQL_COMPACTION_ADVISOR = f"""
WITH per_source AS (
  SELECT source, count(*) AS n_docs,
         CAST(sum(length(text) + length(source) + length(lang) + 16) AS BIGINT)
           AS est_bytes
  FROM documents GROUP BY source
)
SELECT source, n_docs, est_bytes,
       greatest(CAST(1 AS BIGINT),
                CAST(ceil(CAST(est_bytes AS DOUBLE)
                          / {_TARGET_FILE_MB * 1024 * 1024}) AS BIGINT))
         AS recommended_files,
       est_bytes < {_TINY_FILE_MB * 1024 * 1024} AS coalesce_into_shared_file
FROM per_source
"""


SPECS: dict[str, QuerySpec] = {
    "pagerank_dup_graph_exact": QuerySpec(
        _q_pagerank_dup_graph_exact,
        _SQL_PAGERANK_DUP_GRAPH_EXACT,
        "two unrolled PageRank power iterations over the shingle-overlap "
        "doc graph (inverted-index edges, 1-row N broadcast)",
    ),
    "entity_resolution_pairs": QuerySpec(
        _q_entity_resolution_pairs,
        _SQL_ENTITY_RESOLUTION_PAIRS,
        "Fellegi-Sunter-style record linkage: blocked candidate pairs + "
        "fixed log-odds agreement scoring",
    ),
    "scd2_user_state_intervals": QuerySpec(
        _q_scd2_user_state_intervals,
        _SQL_SCD2_USER_STATE_INTERVALS,
        "SCD-2 build: versioned validity intervals from the user event-"
        "type change history (lag/lead per user)",
    ),
    "event_debounce": QuerySpec(
        _q_event_debounce,
        _SQL_EVENT_DEBOUNCE,
        "burst collapse: same (user,type) events within 300s become one "
        "row (islands-and-gaps per partition)",
    ),
    "token_typo_pairs": QuerySpec(
        _q_token_typo_pairs,
        _SQL_TOKEN_TYPO_PAIRS,
        "typo mining: vocabulary pairs at Levenshtein <= 1, blocked on "
        "(first char, length +-1) so comparisons never go |V|^2",
    ),
    "weighted_sample_det": QuerySpec(
        _q_weighted_sample_det,
        _SQL_WEIGHTED_SAMPLE_DET,
        "Efraimidis-Spirakis weighted sampling without replacement, "
        "md5-deterministic, top-k via TakeOrderedAndProject",
    ),
    "data_quality_audit": QuerySpec(
        _q_data_quality_audit,
        _SQL_DATA_QUALITY_AUDIT,
        "data-contract audit: FK orphans (anti-join), range and "
        "emptiness violations, one pass per check",
    ),
    "compaction_advisor": QuerySpec(
        _q_compaction_advisor,
        _SQL_COMPACTION_ADVISOR,
        "partitioned-write layout planning: per-partition bytes -> file "
        "count at the 128MB target + tiny-file coalesce flag",
    ),
}
