"""Round-9 iterative-to-fixpoint graph pack (r8 VERDICT directives #2
and #5): exact peel/propagation loops over the shared near-dup document
graph (``operators/graph_edges.py``), each unrolled past its measured
fixpoint depth with a per-round convergence audit — the honest middle
ground between the one-pass support histogram (``ktruss_edge_support``)
and an unverifiable driver-side while-loop.

* ``ktruss_peel_exact`` — the FULL truss peel: iterate (recompute
  per-edge triangle support within the CURRENT surviving edge set →
  remove edges with support < k−2) to fixpoint, hierarchically for
  k=3 then k=4 (the 4-truss is a subgraph of the 3-truss, so the k=4
  peel starts from the k=3 fixpoint — standard truss decomposition
  order, Cohen 2008).  Output: one row per (k, round) with surviving /
  removed edge counts and a converged flag.  Measured fixpoint depth on
  the capped graph is 1 effective round at every SF (sf0.001/0.01/0.1:
  second round removes nothing); the unroll is 3 rounds per k, so the
  final row PROVES convergence rather than assuming it.
* ``ktruss_peel_edges`` — the surviving 3-truss and 4-truss edge SETS
  at fixpoint, (k, u, v) rows (the companion membership view of the
  same peel; `ktruss_edge_support` reports only the first-pass
  histogram).
* ``min_label_propagation_fixpoint`` — synchronous min-label propagation:
  every node starts labeled with its own doc_id; each round takes the
  minimum label over itself and its neighbors.  The fixpoint labels
  are the connected components (the dedup-cluster assignment computed
  by ``dedup_cluster_assign_two_phase`` via large-star/small-star);
  this entry audits the CONVERGENCE TRAJECTORY — labels changed and
  distinct labels per round, converged flag — which the O(log²n)
  two-phase algorithm cannot expose.  Measured fixpoint depth 1
  effective round (components are near-cliques); unrolled 3.

100 TB shape: every round is one self-join bounded by the upstream
hot-gram cap (per-node work ≤ deg², deg capped by DF_CAP) and the
edge frame SHRINKS monotonically under peeling, so round cost is
non-increasing; each round's frame is ``localCheckpoint(eager=True)``'d
— read by the adjacency flip ×2, the support join, and the next round,
AND the checkpoint truncates the otherwise-6^rounds logical lineage
(the DuckDB twin needs ``AS MATERIALIZED`` for the same reason); the
convergence counters are 1-row aggregates broadcast into the history
rows — no driver-side collect anywhere (including the n_edges scalar,
which `ktruss_edge_support` still takes via count(); this pack uses
the 1-row-agg-broadcast convention throughout).

Identity property: the unrolled-join peel formulation is pinned against
a brute-force pure-Python peel (and against order-confluence — peeling
one edge at a time in any order reaches the same fixpoint) in
``tests/test_properties.py`` (r8 VERDICT standing rule).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import graph_edges
from ..operators.caching import tracked_cache
from . import QuerySpec

#: unrolled peel rounds per k — measured fixpoint depth is 1 effective
#: round on the capped graph at every SF; 3 rounds leaves the final
#: round as a proven no-op (converged=true) with one round of margin
PEEL_ROUNDS = 3
#: trusses reported: k=3 (support ≥ 1) then k=4 (support ≥ 2)
PEEL_KS = (3, 4)
#: label-propagation rounds (measured fixpoint depth 1; same margin)
LP_ROUNDS = 3


def _flip(edges: DataFrame) -> DataFrame:
    """Undirected adjacency from a (u < v) edge list."""
    return edges.select(
        F.col("u").alias("node"), F.col("v").alias("nbr")
    ).unionByName(edges.select(F.col("v").alias("node"), F.col("u").alias("nbr")))


def _peel_once(edges: DataFrame, thr: int) -> DataFrame:
    """One peel round: per-edge triangle support within ``edges``,
    keep support >= thr.  Support-0 edges never reach the wedge join,
    so the inner join removes them implicitly (thr >= 1 always)."""
    adj = _flip(edges)
    sup = (
        edges.join(adj.select(F.col("node").alias("u"), F.col("nbr").alias("w1")), "u")
        .join(adj.select(F.col("node").alias("v"), F.col("nbr").alias("w2")), "v")
        .where(F.col("w1") == F.col("w2"))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("support"))
    )
    return edges.join(
        sup.where(F.col("support") >= thr).select("u", "v"), ["u", "v"]
    )


def _peel_chain(spark: SparkSession, sf_dir: str):
    """Run the hierarchical unrolled peel; returns (history legs,
    {k: fixpoint edge frame}).  Each round frame is
    ``localCheckpoint(eager=True)``'d — the wedge join references the
    previous round's frame ~6× (edge scan + the two adjacency flips,
    each read twice), so WITHOUT lineage truncation the logical plan
    grows 6^rounds subtrees and Catalyst analysis alone takes minutes
    (measured; the exact blowup the dedup/BPE loops already truncate,
    operators/dedup.py:490)."""
    cur = graph_edges.dup_graph_edges(spark, sf_dir).localCheckpoint(
        eager=True
    )
    n_prev = cur.agg(F.count(F.lit(1)).alias("n_prev"))
    legs: list[DataFrame] = []
    finals: dict[int, DataFrame] = {}
    for k in PEEL_KS:
        thr = k - 2
        for r in range(1, PEEL_ROUNDS + 1):
            # r11 (guide §1.2): lazy checkpoint — the LogicalRDD node
            # still truncates the ~6^rounds lineage, but the round's
            # final stage materializes inside its first consumer's job
            # (the n_cur leg) instead of a dedicated driver round-trip
            cur = _peel_once(cur, thr).localCheckpoint(eager=False)
            n_cur = cur.agg(F.count(F.lit(1)).alias("n_cur"))
            legs.append(
                n_prev.crossJoin(F.broadcast(n_cur)).select(
                    F.lit(k).alias("k"),
                    F.lit(r).alias("round"),
                    F.col("n_cur").alias("surviving_edges"),
                    (F.col("n_prev") - F.col("n_cur")).alias("removed_edges"),
                    (F.col("n_prev") == F.col("n_cur")).alias("converged"),
                )
            )
            n_prev = n_cur.select(F.col("n_cur").alias("n_prev"))
        finals[k] = cur
    return legs, finals


def _q_ktruss_peel_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    legs, _ = _peel_chain(spark, sf_dir)
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionByName(leg)
    return out.orderBy("k", "round")


def _q_ktruss_peel_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, finals = _peel_chain(spark, sf_dir)
    out = None
    for k in PEEL_KS:
        leg = finals[k].select(F.lit(k).alias("k"), "u", "v")
        out = leg if out is None else out.unionByName(leg)
    return out.orderBy("k", "u", "v")


def _sql_peel_ctes() -> tuple[str, list[tuple[int, int, str, str]], dict[int, str]]:
    """The DuckDB twin of the unrolled peel: per round i, CTEs
    ``padj{i}`` / ``psup{i}`` / ``pe{i}``.  Returns (cte text,
    [(k, round, prev_cte, cur_cte)], {k: fixpoint cte})."""
    # every CTE is MATERIALIZED: DuckDB inlines CTEs by default, and
    # each round references the previous one ~6x (edge scan + two
    # adjacency flips used twice in the wedge join), so inlining would
    # expand the gram pipeline 6^rounds times
    parts = [
        graph_edges.dup_graph_edges_ctes()
        + ", pe0 AS MATERIALIZED (SELECT u, v FROM pr)"
    ]
    prev = "pe0"
    rounds: list[tuple[int, int, str, str]] = []
    finals: dict[int, str] = {}
    i = 0
    for k in PEEL_KS:
        thr = k - 2
        for r in range(1, PEEL_ROUNDS + 1):
            i += 1
            parts.append(
                f""", padj{i} AS MATERIALIZED (
  SELECT u AS node, v AS nbr FROM {prev}
  UNION ALL
  SELECT v AS node, u AS nbr FROM {prev}
), psup{i} AS MATERIALIZED (
  SELECT e.u, e.v, count(*) AS support
  FROM {prev} e
  JOIN padj{i} a ON a.node = e.u
  JOIN padj{i} b ON b.node = e.v AND b.nbr = a.nbr
  GROUP BY e.u, e.v
), pe{i} AS MATERIALIZED (
  SELECT e.u, e.v
  FROM {prev} e JOIN psup{i} s ON e.u = s.u AND e.v = s.v
  WHERE s.support >= {thr}
)"""
            )
            rounds.append((k, r, prev, f"pe{i}"))
            prev = f"pe{i}"
        finals[k] = prev
    return "".join(parts), rounds, finals


def _sql_ktruss_peel_exact() -> str:
    ctes, rounds, _ = _sql_peel_ctes()
    legs = [
        f"""SELECT {k} AS k, {r} AS round,
       CAST((SELECT count(*) FROM {cur}) AS BIGINT) AS surviving_edges,
       CAST((SELECT count(*) FROM {prev}) - (SELECT count(*) FROM {cur}) AS BIGINT)
         AS removed_edges,
       (SELECT count(*) FROM {prev}) = (SELECT count(*) FROM {cur}) AS converged"""
        for (k, r, prev, cur) in rounds
    ]
    return ctes + "\n" + "\nUNION ALL\n".join(legs) + "\nORDER BY k, round\n"


def _sql_ktruss_peel_edges() -> str:
    ctes, _, finals = _sql_peel_ctes()
    legs = [
        f"SELECT {k} AS k, u, v FROM {cte}" for k, cte in sorted(finals.items())
    ]
    return ctes + "\n" + "\nUNION ALL\n".join(legs) + "\nORDER BY k, u, v\n"


# --------------------------------------------------------------------------
# min_label_propagation_fixpoint
# --------------------------------------------------------------------------


def _q_min_label_propagation_fixpoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = graph_edges.dup_graph_edges(spark, sf_dir).localCheckpoint(
        eager=True
    )
    adj = tracked_cache(_flip(edges))
    # per-round localCheckpoint: each round references the previous
    # labels twice (propagation join + changed-count join) — linear
    # rounds would still square the lineage (operators/dedup.py:490)
    labels = (
        adj.select("node")
        .distinct()
        .select("node", F.col("node").alias("label"))
        .localCheckpoint(eager=True)
    )
    legs: list[DataFrame] = []
    for r in range(1, LP_ROUNDS + 1):
        # new label = min(own, min over neighbors) — the left join keeps
        # isolated nodes (none exist here: every node has an edge by
        # construction, but the shape must not depend on that)
        nbr_min = (
            adj.join(
                labels.select(
                    F.col("node").alias("nbr"), F.col("label").alias("nl")
                ),
                "nbr",
            )
            .groupBy("node")
            .agg(F.min("nl").alias("nbr_label"))
        )
        new_labels = (
            labels.join(nbr_min, "node", "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce("nbr_label", F.col("label"))
                ).alias("label"),
            )
            # r11 (guide §1.2): lazy — same LogicalRDD truncation, one
            # fewer driver round-trip per round
            .localCheckpoint(eager=False)
        )
        changed = (
            labels.select("node", F.col("label").alias("old"))
            .join(new_labels, "node")
            .agg(
                F.sum((F.col("old") != F.col("label")).cast("bigint")).alias(
                    "n_changed"
                )
            )
        )
        ndist = new_labels.agg(
            F.countDistinct("label").alias("n_components")
        )
        legs.append(
            changed.crossJoin(F.broadcast(ndist)).select(
                F.lit(r).alias("round"),
                F.coalesce("n_changed", F.lit(0)).alias("n_changed"),
                "n_components",
                (F.coalesce("n_changed", F.lit(0)) == 0).alias("converged"),
            )
        )
        labels = new_labels
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionByName(leg)
    return out.orderBy("round")


def _sql_min_label_propagation_fixpoint() -> str:
    parts = [
        graph_edges.dup_graph_edges_ctes()
        + """, ladj AS MATERIALIZED (
  SELECT u AS node, v AS nbr FROM pr
  UNION ALL
  SELECT v AS node, u AS nbr FROM pr
), lab0 AS MATERIALIZED (
  SELECT DISTINCT node, node AS label FROM ladj
)"""
    ]
    prev = "lab0"
    legs = []
    for r in range(1, LP_ROUNDS + 1):
        parts.append(
            f""", nmin{r} AS MATERIALIZED (
  SELECT a.node, min(p.label) AS nbr_label
  FROM ladj a JOIN {prev} p ON p.node = a.nbr
  GROUP BY a.node
), lab{r} AS MATERIALIZED (
  SELECT p.node,
         least(p.label, coalesce(n.nbr_label, p.label)) AS label
  FROM {prev} p LEFT JOIN nmin{r} n ON n.node = p.node
)"""
        )
        legs.append(
            f"""SELECT {r} AS round,
       CAST(coalesce(sum(CASE WHEN p.label <> c.label THEN 1 END), 0) AS BIGINT)
         AS n_changed,
       CAST((SELECT count(DISTINCT label) FROM lab{r}) AS BIGINT) AS n_components,
       coalesce(sum(CASE WHEN p.label <> c.label THEN 1 END), 0) = 0 AS converged
FROM {prev} p JOIN lab{r} c ON p.node = c.node"""
        )
        prev = f"lab{r}"
    return "".join(parts) + "\n" + "\nUNION ALL\n".join(legs) + "\nORDER BY round\n"


SPECS: dict[str, QuerySpec] = {
    "ktruss_peel_exact": QuerySpec(
        _q_ktruss_peel_exact,
        _sql_ktruss_peel_exact(),
        "full truss peel to fixpoint (hierarchical k=3 then k=4, "
        "support recompute + sub-(k-2) removal per round, 3 unrolled "
        "rounds each with a proven-converged final round); per-round "
        "surviving/removed audit",
    ),
    "ktruss_peel_edges": QuerySpec(
        _q_ktruss_peel_edges,
        _sql_ktruss_peel_edges(),
        "surviving 3-truss and 4-truss edge sets at peel fixpoint "
        "(companion membership view of ktruss_peel_exact)",
    ),
    "min_label_propagation_fixpoint": QuerySpec(
        _q_min_label_propagation_fixpoint,
        _sql_min_label_propagation_fixpoint(),
        "synchronous min-label propagation over the near-dup graph "
        "with per-round changed/components convergence audit "
        "(trajectory view of the connected-components fixpoint)",
    ),
}
