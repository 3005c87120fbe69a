"""Round-9 systems-audit pack — two classical distributed-engine
design audits measured on the data itself (the
zone-map/bloom/selectivity audit family, systems tier):

* ``consistent_hash_ring_balance`` — consistent hashing of document
  ids onto 8 shards with K virtual nodes per shard, K ∈ {1, 16}: key
  and vnode positions are md5-prefix integers on the 2⁶⁰ ring (15 hex
  chars = exactly 60 bits, so the modulus is the hash space itself —
  no bias), each key goes to the clockwise-next vnode
  (argmin (vpos − kpos) mod 2⁶⁰).  Output: per-(K, shard) loads plus
  the max/min imbalance ratio per K — the textbook result that vnodes
  smooth the ring (Karger et al. 1997) shown on this corpus, the
  companion to ``shard_assignment_balanced``'s round-robin/snake
  comparison.
* ``join_order_cost_audit`` — the Selinger cardinality-estimation
  audit: for the 3-table chain customer ⋈ orders ⋈ lineitem, estimate
  each left-deep order's intermediate size with the textbook
  containment formula |R⋈S| = |R|·|S| / max(ndv(R.k), ndv(S.k)) and
  compare to the TRUE intermediate count, plus a third leg — the
  events self-join on the NON-uniform ``event_type`` — where the
  formula's uniformity assumption genuinely fails (truth = Σ n_t² >
  n²/ndv by Cauchy–Schwarz whenever type counts are unequal; computed
  from aggregates, the quadratic join is never materialized).  Reports
  per-leg estimate, truth, relative error, and whether the estimate
  picks the same chain winner as the truth — the property a cost-based
  optimizer actually needs (ordinal correctness, not point accuracy).

100 TB shape: the ring audit is keys × (≤128-row broadcast vnode
table) — linear with a small constant, the argmin is a per-key
min-struct aggregate; the join audit needs only distinct counts and
two FK-join counts, all single hash aggs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load_table
from . import QuerySpec

_N_SHARDS = 8
_VNODE_KS = (1, 16)
_RING = 1 << 60  # md5 15-hex-char space, exactly


def _md5pos(col):
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("decimal(38,0)")


def _q_consistent_hash_ring_balance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    keys = docs.select(
        _md5pos(F.col("doc_id").cast("string")).alias("kpos")
    )
    vnodes = spark.createDataFrame(
        [
            (k, s, f"s{s}#v{v}")
            for k in _VNODE_KS
            for s in range(_N_SHARDS)
            for v in range(k)
        ],
        "k_vnodes int, shard int, vname string",
    ).select("k_vnodes", "shard", _md5pos(F.col("vname")).alias("vpos"))
    ring = F.lit(_RING).cast("decimal(38,0)")
    assigned = (
        keys.crossJoin(F.broadcast(vnodes))
        .select(
            "k_vnodes",
            "kpos",
            F.struct(
                ((F.col("vpos") - F.col("kpos") + ring) % ring).alias("delta"),
                F.col("shard").alias("shard"),
            ).alias("cand"),
        )
        .groupBy("k_vnodes", "kpos")
        .agg(F.min("cand").alias("best"))
        .select("k_vnodes", F.col("best.shard").alias("shard"))
    )
    loads = assigned.groupBy("k_vnodes", "shard").agg(
        F.count(F.lit(1)).alias("n_keys")
    )
    ratio = loads.groupBy("k_vnodes").agg(
        F.round(
            F.max("n_keys").cast("double") / F.min("n_keys").cast("double"), 6
        ).alias("imbalance_ratio")
    )
    return (
        loads.join(F.broadcast(ratio), "k_vnodes")
        .select("k_vnodes", "shard", "n_keys", "imbalance_ratio")
        .orderBy("k_vnodes", "shard")
    )


def _sql_consistent_hash_ring_balance() -> str:
    vnode_rows = ", ".join(
        f"({k}, {s}, 's{s}#v{v}')"
        for k in _VNODE_KS
        for s in range(_N_SHARDS)
        for v in range(k)
    )
    return f"""
WITH keys AS (
  SELECT CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
              AS BIGINT) AS HUGEINT) AS kpos
  FROM documents
), vn(k_vnodes, shard, vname) AS (
  VALUES {vnode_rows}
), vnodes AS (
  SELECT k_vnodes, shard,
         CAST(CAST('0x' || substr(md5(vname), 1, 15) AS BIGINT) AS HUGEINT)
           AS vpos
  FROM vn
), assigned AS (
  SELECT k_vnodes, kpos,
         (min(ROW((vpos - kpos + {_RING}) % {_RING}, shard)))[2] AS shard
  FROM keys CROSS JOIN vnodes
  GROUP BY 1, 2
), loads AS (
  SELECT k_vnodes, shard, count(*) AS n_keys
  FROM assigned GROUP BY 1, 2
), ratio AS (
  SELECT k_vnodes,
         round(CAST(max(n_keys) AS DOUBLE) / min(n_keys), 6)
           AS imbalance_ratio
  FROM loads GROUP BY 1
)
SELECT l.k_vnodes, CAST(l.shard AS INT) AS shard,
       CAST(l.n_keys AS BIGINT) AS n_keys, r.imbalance_ratio
FROM loads l JOIN ratio r USING (k_vnodes)
ORDER BY l.k_vnodes, l.shard
"""


def _q_join_order_cost_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    stats = (
        customer.agg(
            F.count(F.lit(1)).alias("n_c"),
            F.countDistinct("c_custkey").alias("ndv_c"),
        )
        .crossJoin(
            F.broadcast(
                orders.agg(
                    F.count(F.lit(1)).alias("n_o"),
                    F.countDistinct("o_custkey").alias("ndv_o_cust"),
                    F.countDistinct("o_orderkey").alias("ndv_o_key"),
                )
            )
        )
        .crossJoin(
            F.broadcast(
                lineitem.agg(
                    F.count(F.lit(1)).alias("n_l"),
                    F.countDistinct("l_orderkey").alias("ndv_l"),
                )
            )
        )
    )
    true_co = customer.join(
        orders, customer["c_custkey"] == orders["o_custkey"]
    ).agg(F.count(F.lit(1)).alias("true_n"))
    true_ol = orders.join(
        lineitem, orders["o_orderkey"] == lineitem["l_orderkey"]
    ).agg(F.count(F.lit(1)).alias("true_n"))

    def _leg(first_join: str, est_col, truth: DataFrame) -> DataFrame:
        return (
            stats.crossJoin(F.broadcast(truth))
            .select(
                F.lit(first_join).alias("first_join"),
                F.round(est_col, 6).alias("est_intermediate"),
                F.col("true_n").alias("true_intermediate"),
                F.round(
                    F.abs(est_col - F.col("true_n").cast("double"))
                    / F.greatest(F.col("true_n").cast("double"), F.lit(1.0)),
                    6,
                ).alias("rel_err"),
            )
        )

    est_co = (
        F.col("n_c").cast("double")
        * F.col("n_o")
        / F.greatest("ndv_c", "ndv_o_cust").cast("double")
    )
    est_ol = (
        F.col("n_o").cast("double")
        * F.col("n_l")
        / F.greatest("ndv_o_key", "ndv_l").cast("double")
    )
    events = load_table(spark, sf_dir, "events")
    ev_stats = events.agg(
        F.count(F.lit(1)).alias("n_e"),
        F.countDistinct("event_type").alias("ndv_t"),
    )
    true_ev = (
        events.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_t"))
        .agg(F.sum(F.col("n_t") * F.col("n_t")).alias("true_n"))
    )
    est_ev_leg = (
        ev_stats.crossJoin(F.broadcast(true_ev))
        .select(
            F.lit("events_selfjoin_type").alias("first_join"),
            F.round(
                F.col("n_e").cast("double")
                * F.col("n_e")
                / F.col("ndv_t").cast("double"),
                6,
            ).alias("est_intermediate"),
            F.col("true_n").alias("true_intermediate"),
            F.round(
                F.abs(
                    F.col("n_e").cast("double")
                    * F.col("n_e")
                    / F.col("ndv_t").cast("double")
                    - F.col("true_n").cast("double")
                )
                / F.col("true_n").cast("double"),
                6,
            ).alias("rel_err"),
        )
    )
    legs = (
        _leg("customer_orders", est_co, true_co)
        .unionByName(_leg("orders_lineitem", est_ol, true_ol))
        .unionByName(est_ev_leg)
    )
    best_est = legs.agg(F.min("est_intermediate").alias("best_est"))
    best_true = legs.agg(F.min("true_intermediate").alias("best_true"))
    return (
        legs.crossJoin(F.broadcast(best_est))
        .crossJoin(F.broadcast(best_true))
        .select(
            "first_join",
            "est_intermediate",
            "true_intermediate",
            "rel_err",
            (
                (F.col("est_intermediate") == F.col("best_est"))
                == (F.col("true_intermediate") == F.col("best_true"))
            ).alias("ordinal_correct"),
        )
        .orderBy("first_join")
    )


_SQL_JOIN_ORDER_COST_AUDIT = """
WITH stats AS (
  SELECT (SELECT count(*) FROM customer) AS n_c,
         (SELECT count(DISTINCT c_custkey) FROM customer) AS ndv_c,
         (SELECT count(*) FROM orders) AS n_o,
         (SELECT count(DISTINCT o_custkey) FROM orders) AS ndv_o_cust,
         (SELECT count(DISTINCT o_orderkey) FROM orders) AS ndv_o_key,
         (SELECT count(*) FROM lineitem) AS n_l,
         (SELECT count(DISTINCT l_orderkey) FROM lineitem) AS ndv_l
), ev AS (
  SELECT (SELECT count(*) FROM events) AS n_e,
         (SELECT count(DISTINCT event_type) FROM events) AS ndv_t,
         (SELECT sum(n_t * n_t) FROM (
            SELECT count(*) AS n_t FROM events GROUP BY event_type))
           AS true_n
), truths AS (
  SELECT 'customer_orders' AS first_join,
         (SELECT count(*) FROM customer c JOIN orders o
            ON c.c_custkey = o.o_custkey) AS true_n
  UNION ALL
  SELECT 'orders_lineitem',
         (SELECT count(*) FROM orders o JOIN lineitem l
            ON o.o_orderkey = l.l_orderkey)
  UNION ALL
  SELECT 'events_selfjoin_type', (SELECT true_n FROM ev)
), legs AS (
  SELECT t.first_join,
         round(CASE t.first_join
            WHEN 'customer_orders' THEN
              CAST(s.n_c AS DOUBLE) * s.n_o / greatest(s.ndv_c, s.ndv_o_cust)
            WHEN 'orders_lineitem' THEN
              CAST(s.n_o AS DOUBLE) * s.n_l / greatest(s.ndv_o_key, s.ndv_l)
            ELSE CAST(e.n_e AS DOUBLE) * e.n_e / e.ndv_t
         END, 6) AS est_intermediate,
         t.true_n AS true_intermediate,
         round(abs(CASE t.first_join
            WHEN 'customer_orders' THEN
              CAST(s.n_c AS DOUBLE) * s.n_o / greatest(s.ndv_c, s.ndv_o_cust)
            WHEN 'orders_lineitem' THEN
              CAST(s.n_o AS DOUBLE) * s.n_l / greatest(s.ndv_o_key, s.ndv_l)
            ELSE CAST(e.n_e AS DOUBLE) * e.n_e / e.ndv_t
         END - t.true_n) / greatest(CAST(t.true_n AS DOUBLE), 1.0), 6)
           AS rel_err
  FROM truths t CROSS JOIN stats s CROSS JOIN ev e
)
SELECT first_join, est_intermediate,
       CAST(true_intermediate AS BIGINT) AS true_intermediate, rel_err,
       (est_intermediate = (SELECT min(est_intermediate) FROM legs))
         = (true_intermediate = (SELECT min(true_intermediate) FROM legs))
         AS ordinal_correct
FROM legs
ORDER BY first_join
"""


SPECS: dict[str, QuerySpec] = {
    "consistent_hash_ring_balance": QuerySpec(
        _q_consistent_hash_ring_balance,
        _sql_consistent_hash_ring_balance(),
        "consistent-hash ring assignment of doc ids onto 8 shards with "
        "1 vs 16 vnodes per shard (md5 positions on the exact 2^60 "
        "ring) — per-shard loads + imbalance ratio per K",
    ),
    "join_order_cost_audit": QuerySpec(
        _q_join_order_cost_audit,
        _SQL_JOIN_ORDER_COST_AUDIT,
        "Selinger containment-formula cardinality estimates vs true "
        "intermediate sizes (both chain orders + the non-uniform "
        "events type self-join where the uniformity assumption fails), "
        "with ordinal-correctness flag",
    ),
}
