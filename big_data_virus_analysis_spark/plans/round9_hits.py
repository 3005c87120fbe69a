"""Round-9 link-analysis pack: HITS hubs & authorities (Kleinberg,
JACM 1999) on the supplier→part shipment bipartite graph — the
mutual-reinforcement eigenvector family the catalog did not yet cover
(``pagerank_dup_graph_exact`` is the random-surfer family; HITS is the
dual-score power iteration).

* ``hits_bipartite_topk`` — suppliers are hubs, parts are authorities
  over the distinct (l_suppkey, l_partkey) edge set: authority(p) =
  Σ hub(s) over in-edges, hub(s) = Σ authority(p) over out-edges,
  L1-normalized each half-sweep.  Scores live in integer MICRO-UNITS
  and every normalization is ``(raw × 10⁶) div Σraw`` — multiply-then-
  floor-divide on decimal(38,0)/HUGEINT, the plans/round9_iter.py
  integer-trajectory discipline — so all ``HITS_SWEEPS`` sweeps are
  bit-identical across engines.  Output: top-15 authorities and top-15
  hubs with rank and micro-score.
* ``hits_convergence_audit`` — per-sweep max |score_t − score_{t−1}|
  in micro-units for both sides (sweeps 2..4): the measured
  convergence plateau that justifies the sweep count, emitted as data
  (the round9_iter convention: the unroll PROVES the plateau).

100-TB shape: the edge list is ONE distinct-aggregate of the fact
scan (hash agg, map-side partial), tracked-cached because every
half-sweep re-joins it; per sweep the work is one shuffle join +
hash agg per side (O(|edges|)), with the L1 totals as 1-row-agg
broadcasts; score frames are dimension-sized and localCheckpoint'd
per sweep so the final plan replays neither the fact scan nor the
join chain (the round9_iter lesson: an uncheckpointed 4-sweep chain
replays the base scan exponentially).

Identity property (tests/test_properties.py): the integer half-sweep
is pinned against a pure-Python HITS with the same quantization on
random bipartite graphs (ranking agreement with float HITS + L1
bound Σscore ≤ 10⁶ < Σraw remainder), and the planted
hub-dominance case (one supplier shipping every part) must rank that
supplier first.

No reference counterpart (graph extension alongside
plans/round8_graph.py); public algorithms only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.caching import tracked_cache
from ..sources.tables import load_table
from . import QuerySpec

#: full (authority + hub) sweeps — the audit shows the micro-unit
#: trajectory inside its truncation floor by sweep 3; 4 proves it
HITS_SWEEPS = 4
#: micro-units per unit of L1 mass
HITS_SCALE = 1_000_000
#: entries shown per side
HITS_TOPK = 15


def _edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    # r11 optimization (guide §2.5): AQE coalesces the small distinct
    # output to ONE post-shuffle partition at bench scale, so the
    # cached edge frame — re-scanned by all 8 half-sweeps — made every
    # sweep's join + partial-agg stage a single task.  Pinning a hash
    # layout on s at defaultParallelism (scale-adaptive, ~31 suppliers
    # per task at sf0.1) costs one tiny extra exchange once and
    # parallelizes every downstream sweep scan.
    p = spark.sparkContext.defaultParallelism
    return tracked_cache(
        li.select(
            F.col("l_suppkey").alias("s"), F.col("l_partkey").alias("p")
        )
        .distinct()
        .repartition(p, "s")
    )


def _l1_normalize(raw: DataFrame, key: str) -> DataFrame:
    """(raw × SCALE) div Σraw — exact integer, 1-row-agg broadcast."""
    tot = raw.agg(F.sum("raw").alias("tot"))
    return (
        raw.crossJoin(F.broadcast(tot))
        .select(
            key,
            (
                F.col("raw").cast("decimal(38,0)") * F.lit(HITS_SCALE)
            ).alias("_p"),
            F.col("tot").cast("decimal(38,0)").alias("_m"),
        )
        .select(key, F.expr("CAST(_p div _m AS BIGINT)").alias("sc"))
    )


def _hits_chain(spark: SparkSession, sf_dir: str):
    """Returns (auth_frames, hub_frames) — one localCheckpoint'd frame
    per sweep, plus the edge frame."""
    e = _edges(spark, sf_dir)
    h = e.select("s").distinct().select(
        "s", F.lit(HITS_SCALE).cast("bigint").alias("sc")
    ).localCheckpoint(eager=True)
    auths: list[DataFrame] = []
    hubs: list[DataFrame] = []
    # r11 optimization (guide §1.2): lazy per-half-sweep checkpoints —
    # lineage still truncates (LogicalRDD node), but materialization
    # folds into the NEXT half-sweep's first job instead of paying one
    # driver round-trip per checkpoint; the exchange-reuse of the
    # partial agg keeps the raw subtree (referenced by both the L1
    # total and the score projection) computed once.
    for _ in range(HITS_SWEEPS):
        araw = (
            e.join(h.withColumnRenamed("sc", "hsc"), "s")
            .groupBy("p")
            .agg(F.sum("hsc").alias("raw"))
        )
        a = _l1_normalize(araw, "p").localCheckpoint(eager=False)
        hraw = (
            e.join(a.withColumnRenamed("sc", "asc_"), "p")
            .groupBy("s")
            .agg(F.sum("asc_").alias("raw"))
        )
        h = _l1_normalize(hraw, "s").localCheckpoint(eager=False)
        auths.append(a)
        hubs.append(h)
    return auths, hubs


def _q_hits_bipartite_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    auths, hubs = _hits_chain(spark, sf_dir)
    a, h = auths[-1], hubs[-1]
    top_a = (
        a.orderBy(F.desc("sc"), "p")
        .limit(HITS_TOPK)
        .select(
            F.lit("authority").alias("side"),
            F.row_number()
            .over(Window.orderBy(F.desc("sc"), "p"))
            .alias("rk"),
            F.col("p").alias("node"),
            F.col("sc").alias("score_micro"),
        )
    )
    top_h = (
        h.orderBy(F.desc("sc"), "s")
        .limit(HITS_TOPK)
        .select(
            F.lit("hub").alias("side"),
            F.row_number()
            .over(Window.orderBy(F.desc("sc"), "s"))
            .alias("rk"),
            F.col("s").alias("node"),
            F.col("sc").alias("score_micro"),
        )
    )
    return top_a.unionByName(top_h).orderBy("side", "rk")


def _q_hits_convergence_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    auths, hubs = _hits_chain(spark, sf_dir)
    legs: list[DataFrame] = []
    for t in range(1, HITS_SWEEPS):
        da = (
            auths[t]
            .join(
                auths[t - 1].withColumnRenamed("sc", "prev"), "p"
            )
            .agg(
                F.max(F.abs(F.col("sc") - F.col("prev"))).alias(
                    "max_auth_delta_micro"
                )
            )
        )
        dh = (
            hubs[t]
            .join(hubs[t - 1].withColumnRenamed("sc", "prev"), "s")
            .agg(
                F.max(F.abs(F.col("sc") - F.col("prev"))).alias(
                    "max_hub_delta_micro"
                )
            )
        )
        legs.append(
            da.crossJoin(F.broadcast(dh)).select(
                F.lit(t + 1).alias("sweep"),
                "max_auth_delta_micro",
                "max_hub_delta_micro",
            )
        )
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionByName(leg)
    return out.orderBy("sweep")


def _sql_hits_ctes() -> str:
    parts = [
        f"""
WITH e AS MATERIALIZED (
  SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem
), h0 AS MATERIALIZED (
  SELECT DISTINCT s, CAST({HITS_SCALE} AS BIGINT) AS sc FROM e
)"""
    ]
    prev_h = "h0"
    for t in range(1, HITS_SWEEPS + 1):
        parts.append(
            f""", a{t}r AS MATERIALIZED (
  SELECT p, sum(sc) AS raw FROM e JOIN {prev_h} USING (s) GROUP BY p
), a{t} AS MATERIALIZED (
  SELECT p, CAST((CAST(raw AS HUGEINT) * {HITS_SCALE})
                 // (SELECT sum(raw) FROM a{t}r) AS BIGINT) AS sc
  FROM a{t}r
), h{t}r AS MATERIALIZED (
  SELECT s, sum(sc) AS raw FROM e JOIN a{t} USING (p) GROUP BY s
), h{t} AS MATERIALIZED (
  SELECT s, CAST((CAST(raw AS HUGEINT) * {HITS_SCALE})
                 // (SELECT sum(raw) FROM h{t}r) AS BIGINT) AS sc
  FROM h{t}r
)"""
        )
        prev_h = f"h{t}"
    return "".join(parts)


_SQL_HITS_BIPARTITE_TOPK = (
    _sql_hits_ctes()
    + f"""
SELECT side, rk, node, score_micro FROM (
  SELECT 'authority' AS side,
         CAST(row_number() OVER (ORDER BY sc DESC, p) AS INT) AS rk,
         p AS node, sc AS score_micro
  FROM a{HITS_SWEEPS}
  UNION ALL
  SELECT 'hub' AS side,
         CAST(row_number() OVER (ORDER BY sc DESC, s) AS INT) AS rk,
         s AS node, sc AS score_micro
  FROM h{HITS_SWEEPS}
)
WHERE rk <= {HITS_TOPK}
ORDER BY side, rk
"""
)


_SQL_HITS_CONVERGENCE_AUDIT = (
    _sql_hits_ctes()
    + "\n"
    + "\nUNION ALL\n".join(
        f"""SELECT {t + 1} AS sweep,
       (SELECT max(abs(c.sc - pv.sc)) FROM a{t + 1} c
        JOIN a{t} pv USING (p)) AS max_auth_delta_micro,
       (SELECT max(abs(c.sc - pv.sc)) FROM h{t + 1} c
        JOIN h{t} pv USING (s)) AS max_hub_delta_micro"""
        for t in range(1, HITS_SWEEPS)
    )
    + "\nORDER BY sweep\n"
)


SPECS: dict[str, QuerySpec] = {
    "hits_bipartite_topk": QuerySpec(
        _q_hits_bipartite_topk,
        _SQL_HITS_BIPARTITE_TOPK,
        "HITS hubs & authorities on the supplier->part shipment "
        "bipartite graph: 4 exact integer micro-unit power sweeps "
        "(L1 multiply-floor-divide normalization), top-15 per side",
    ),
    "hits_convergence_audit": QuerySpec(
        _q_hits_convergence_audit,
        _SQL_HITS_CONVERGENCE_AUDIT,
        "per-sweep max micro-unit score delta for both HITS sides "
        "(sweeps 2-4): the measured convergence plateau behind the "
        "sweep count, emitted as data",
    ),
}
