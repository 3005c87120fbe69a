"""Round-10 DAG-scheduling pack (r9 VERDICT directive #5): topological
levels, longest (critical) paths, and full CPM forward/backward
scheduling — the one classical graph-fixpoint family (CC, PageRank,
k-core, k-truss, label propagation, HITS, MSF all exist) the catalog
did not yet cover.

Two graph shapes, deliberately different scale classes:

* ``dag_topo_levels_dup`` / ``dag_critical_path_dup`` — the CORPUS-
  SIZED derivation DAG: the shared near-dup graph
  (`operators/graph_edges.py`) oriented by ``u < v`` is acyclic by
  construction, and reads naturally as document-derivation lineage
  (later ids derived from earlier ones).  Topological level
  (longest edge-count path from any root) and weighted longest path
  (edge weight = shared gram count) are computed by ``DAG_ROUNDS``
  Bellman-Ford-style relaxation rounds — the distributed bounded-
  unroll shape (round9_iter discipline): each round is ONE
  union + join + max-aggregate carrying BOTH metrics, frames are
  node-sized and localCheckpoint'd per round, and the final round's
  move count is EMITTED (``moves_last_round`` / ``converged``) so a
  deeper-than-budget DAG is data, not an assumption.  Measured depth
  of the real dup DAG: 2 at sf0.01, 3 at sf0.1 (components are
  hot-gram-capped small); DAG_ROUNDS = 5 is the minimum-plus-margin
  that PROVES the fixpoint via a no-move final round.
* ``dag_task_schedule_critical`` — the BOUNDED task-catalog CPM
  (critical-path method, Kelley & Walker 1959): a fixed ``N_TASKS``-
  node precedence DAG (task t depends on t div 2 and t div 3 — acyclic
  since parents are strictly smaller) whose durations are AGGREGATED
  FROM the corpus (one lineitem scan; task t's duration = 1 + total
  floored quantity routed to it by part-key bucketing).  A scheduler's
  task graph is config-sized while its inputs are corpus-sized — the
  same bounded-state premise as the Shapley coalition histogram and
  the round9_absorb state vector — so the ENTIRE forward (earliest
  start) and backward (latest finish) passes run as two
  ``aggregate(sequence(1, CPM_SWEEPS), ...)`` fold expressions over a
  1-row array frame: no joins, no checkpoints, no per-sweep jobs.
  Emits per-task est / finish / lst / slack, the makespan, and BOTH
  passes' final-sweep move counts (0 == proven fixpoint; DAG depth is
  ≤ log2(N_TASKS) = 11 < CPM_SWEEPS).

100-TB shape: the dup-DAG pair rides the 3-shuffle capped edge
builder and node-sized state frames; the CPM query is one lineitem
scan -> 4095-cell hash aggregate -> constant-size fold.  Integer
arithmetic throughout (weights floor-cast BEFORE summing — summing
doubles would be order-nondeterministic across engines).

Identity properties (tests/test_properties.py): on random DAGs the
truncated relaxation equals the exact topological-order DP whenever
its own no-move witness holds (and always within ``depth`` rounds);
on random task catalogs the CPM folds satisfy the textbook
invariants: est matches the topo DP, slack >= 0, min slack == 0, and
every critical task chains to a critical parent achieving its est.

No reference counterpart (graph/scheduling extension alongside
plans/round9_msf.py); public algorithms only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.caching import tracked_cache
from ..operators.graph_edges import dup_graph_edges, dup_graph_edges_ctes
from ..sources.tables import load_table
from . import QuerySpec

#: relaxation rounds for the dup-derivation DAG (measured depth 3 at
#: sf0.1; 5 = depth + margin, final round must move nothing to prove
#: the fixpoint — and a deeper corpus shows up in moves_last_round)
DAG_ROUNDS = 5
#: critical-path cutoff for dag_critical_path_dup
DAG_TOPK = 10

#: bounded task-catalog size (depth <= log2(N_TASKS) = 11)
N_TASKS = 4095
#: CPM fold sweeps per pass (> depth, so the last sweep proves the
#: fixpoint; the witness compares sweep CPM_SWEEPS vs CPM_SWEEPS - 1)
CPM_SWEEPS = 13
#: rows returned by dag_task_schedule_critical (slack-ascending)
CPM_TOPK = 20


# --------------------------------------------------------------------------
# corpus-sized derivation DAG: bounded distributed relaxation
# --------------------------------------------------------------------------


def _dag_chain(spark: SparkSession, sf_dir: str):
    """Returns (final_state, penultimate_state) with rows
    (node, lvl, dist) — lvl = longest edge-count path, dist = longest
    shared-gram-weighted path, after DAG_ROUNDS relaxation rounds."""
    edges = tracked_cache(
        dup_graph_edges(spark, sf_dir, keep_shared=True)
    )
    state = (
        edges.select(F.col("u").alias("node"))
        .unionByName(edges.select(F.col("v").alias("node")))
        .distinct()
        .select(
            "node",
            F.lit(0).alias("lvl"),
            F.lit(0).cast("bigint").alias("dist"),
        )
        .localCheckpoint(eager=True)
    )
    prev = state
    for rnd in range(1, DAG_ROUNDS + 1):
        # one fused relaxation: parent contributions via the edge join,
        # unioned with the node's own row, max-aggregated per node —
        # both metrics carried in the same pass (the MSF sweep shape)
        contrib = edges.join(
            state.select(
                F.col("node").alias("u"),
                F.col("lvl").alias("plvl"),
                F.col("dist").alias("pdist"),
            ),
            "u",
        ).select(
            F.col("v").alias("node"),
            (F.col("plvl") + F.lit(1)).alias("lvl"),
            (F.col("pdist") + F.col("shared")).alias("dist"),
        )
        if rnd == DAG_ROUNDS:
            prev = state  # penultimate: before the final round
        state = (
            state.select("node", "lvl", "dist")
            .unionByName(contrib)
            .groupBy("node")
            .agg(F.max("lvl").alias("lvl"), F.max("dist").alias("dist"))
            # r11 (guide §1.2, the MSF treatment): lazy — lineage still
            # truncates via the LogicalRDD node, but the round's final
            # stage materializes inside the next consumer's job instead
            # of paying one driver round-trip per round
            .localCheckpoint(eager=False)
        )
    return state, prev


def _dag_witness(state: DataFrame, prev: DataFrame) -> DataFrame:
    """1-row (moves_last_round, converged) fixpoint witness."""
    return (
        state.join(
            prev.select(
                "node",
                F.col("lvl").alias("qlvl"),
                F.col("dist").alias("qdist"),
            ),
            "node",
        )
        .agg(
            F.sum(
                (
                    (F.col("lvl") != F.col("qlvl"))
                    | (F.col("dist") != F.col("qdist"))
                ).cast("bigint")
            ).alias("moves_last_round")
        )
        .select(
            "moves_last_round",
            (F.col("moves_last_round") == 0).alias("converged"),
        )
    )


def _q_dag_topo_levels_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    state, prev = _dag_chain(spark, sf_dir)
    wit = _dag_witness(state, prev)
    return (
        state.groupBy("lvl")
        .agg(F.count(F.lit(1)).alias("n_nodes"))
        .crossJoin(F.broadcast(wit))
        .select(
            F.col("lvl").cast("int").alias("lvl"),
            "n_nodes",
            "moves_last_round",
            "converged",
        )
        .orderBy("lvl")
    )


def _q_dag_critical_path_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    state, prev = _dag_chain(spark, sf_dir)
    wit = _dag_witness(state, prev)
    return (
        state.orderBy(F.col("dist").desc(), "node")
        .limit(DAG_TOPK)
        .crossJoin(F.broadcast(wit))
        .select(
            "node",
            F.col("lvl").cast("int").alias("lvl"),
            "dist",
            "moves_last_round",
            "converged",
        )
        .orderBy(F.col("dist").desc(), "node")
    )


def _sql_dag_ctes() -> str:
    parts = [
        dup_graph_edges_ctes(keep_shared=True)
        + """, dnodes AS MATERIALIZED (
  SELECT DISTINCT x AS node FROM (
    SELECT u AS x FROM pr UNION ALL SELECT v AS x FROM pr)
), s0 AS MATERIALIZED (
  SELECT node, 0 AS lvl, CAST(0 AS BIGINT) AS dist FROM dnodes
)"""
    ]
    for rnd in range(1, DAG_ROUNDS + 1):
        parts.append(
            f""", s{rnd} AS MATERIALIZED (
  SELECT node, max(lvl) AS lvl, max(dist) AS dist FROM (
    SELECT node, lvl, dist FROM s{rnd - 1}
    UNION ALL
    SELECT e.v AS node, p.lvl + 1 AS lvl, p.dist + e.shared AS dist
    FROM pr e JOIN s{rnd - 1} p ON e.u = p.node
  ) GROUP BY node
)"""
        )
    parts.append(
        f""", wit AS MATERIALIZED (
  SELECT CAST(count(*) FILTER (WHERE f.lvl <> p.lvl OR f.dist <> p.dist)
              AS BIGINT) AS moves_last_round
  FROM s{DAG_ROUNDS} f JOIN s{DAG_ROUNDS - 1} p USING (node)
)"""
    )
    return "".join(parts)


_SQL_DAG_TOPO_LEVELS = (
    _sql_dag_ctes()
    + f"""
SELECT CAST(lvl AS INT) AS lvl, CAST(count(*) AS BIGINT) AS n_nodes,
       moves_last_round, moves_last_round = 0 AS converged
FROM s{DAG_ROUNDS}, wit
GROUP BY lvl, moves_last_round
ORDER BY lvl
"""
)

_SQL_DAG_CRITICAL_PATH = (
    _sql_dag_ctes()
    + f"""
SELECT node, CAST(lvl AS INT) AS lvl, CAST(dist AS BIGINT) AS dist,
       moves_last_round, moves_last_round = 0 AS converged
FROM s{DAG_ROUNDS}, wit
ORDER BY dist DESC, node
LIMIT {DAG_TOPK}
"""
)


# --------------------------------------------------------------------------
# bounded task-catalog CPM: forward/backward folds on a 1-row frame
# --------------------------------------------------------------------------

def _fwd_body(prev: str) -> str:
    """One forward sweep: est[t] = max over parents p of
    (est[p] + w[p]), est[1] = 0.  Parents of t are t div 2 and
    (t >= 3) t div 3 — derivable, so no edge table exists at all.
    ``prev`` names the previous est array (the fold's ``acc``, or the
    fold result for the stand-alone witness sweep); nested lambdas
    close over it."""
    return f"""transform(sequence(1, size(w)), t ->
  CASE WHEN t = 1 THEN CAST(0 AS BIGINT)
       WHEN t = 2 THEN element_at({prev}, 1) + element_at(w, 1)
       ELSE greatest(
         element_at({prev}, CAST(t div 2 AS INT))
           + element_at(w, CAST(t div 2 AS INT)),
         element_at({prev}, CAST(t div 3 AS INT))
           + element_at(w, CAST(t div 3 AS INT))) END)"""


def _bwd_body(prev: str) -> str:
    """One backward sweep: lft[t] = min(makespan, min over children c
    of (lft[c] - w[c])); children of t are {2t, 2t+1, 3t, 3t+1, 3t+2}
    clipped to the catalog (duplicates collapse under min)."""
    return f"""transform(sequence(1, size(w)), t ->
  aggregate(
    filter(array(2*t, 2*t + 1, 3*t, 3*t + 1, 3*t + 2),
           c -> c >= 2 AND c <= size(w)),
    mk,
    (m, c) -> least(m, element_at({prev}, c) - element_at(w, c))))"""


def _q_dag_task_schedule_critical(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    # task durations aggregated from the corpus: part-key bucketing,
    # quantities floor-cast to BIGINT BEFORE summing (double sums are
    # order-nondeterministic across engines)
    per_task = li.groupBy(
        ((F.col("l_partkey") % N_TASKS) + 1).alias("task")
    ).agg(
        F.sum(F.floor("l_quantity").cast("bigint")).alias("qty")
    )
    one = per_task.agg(
        F.expr(
            "map_from_arrays(collect_list(task), collect_list(qty))"
        ).alias("qmap")
    )
    wdf = one.select(
        F.expr(
            f"""transform(sequence(1, {N_TASKS}), t ->
                  1 + coalesce(element_at(qmap, CAST(t AS BIGINT)),
                               CAST(0 AS BIGINT)))"""
        ).alias("w")
    )
    fwd = wdf.select(
        "w",
        F.expr(
            f"""aggregate(
              sequence(1, {CPM_SWEEPS - 1}),
              transform(w, x -> CAST(0 AS BIGINT)),
              (acc, k) -> {_fwd_body("acc")})"""
        ).alias("est_pen"),
    )
    # the final sweep applied once OUTSIDE the fold, so the move count
    # between it and the fold result is the fixpoint witness
    fwd2 = fwd.select(
        "w", "est_pen", F.expr(_fwd_body("est_pen")).alias("est")
    )
    mk = fwd2.select(
        "w",
        "est_pen",
        "est",
        F.expr(
            "array_max(zip_with(est, w, (a, b) -> a + b))"
        ).alias("mk"),
    )
    bwd = mk.select(
        "w",
        "est_pen",
        "est",
        "mk",
        F.expr(
            f"""aggregate(
              sequence(1, {CPM_SWEEPS - 1}),
              transform(w, x -> mk),
              (acc, k) -> {_bwd_body("acc")})"""
        ).alias("lft_pen"),
    )
    bwd2 = bwd.select(
        "w",
        "est_pen",
        "est",
        "mk",
        "lft_pen",
        F.expr(_bwd_body("lft_pen")).alias("lft"),
    )
    wit = bwd2.select(
        "w",
        "est",
        "mk",
        "lft",
        F.expr(
            "size(filter(zip_with(est, est_pen, (a, b) -> a <> b),"
            " x -> x))"
        ).cast("bigint").alias("fwd_moves_last_sweep"),
        F.expr(
            "size(filter(zip_with(lft, lft_pen, (a, b) -> a <> b),"
            " x -> x))"
        ).cast("bigint").alias("bwd_moves_last_sweep"),
    )
    rows = wit.select(
        F.expr(
            """inline(transform(sequence(1, size(w)), t ->
                 named_struct(
                   'task', t,
                   'w', element_at(w, t),
                   'est', element_at(est, t),
                   'finish', element_at(est, t) + element_at(w, t),
                   'lst', element_at(lft, t) - element_at(w, t),
                   'slack', element_at(lft, t) - element_at(w, t)
                            - element_at(est, t))))"""
        ),
        F.col("mk").alias("makespan"),
        "fwd_moves_last_sweep",
        "bwd_moves_last_sweep",
        (
            (F.col("fwd_moves_last_sweep") == 0)
            & (F.col("bwd_moves_last_sweep") == 0)
        ).alias("converged"),
    )
    return rows.orderBy("slack", "est", "task").limit(CPM_TOPK)


def _sql_cpm() -> str:
    parts = [
        f"""
WITH wt AS MATERIALIZED (
  SELECT t.task, CAST(1 + COALESCE(q.qty, 0) AS BIGINT) AS w
  FROM (SELECT CAST(range AS INT) AS task
        FROM range(1, {N_TASKS + 1})) t
  LEFT JOIN (
    SELECT (l_partkey % {N_TASKS}) + 1 AS task,
           sum(CAST(floor(l_quantity) AS BIGINT)) AS qty
    FROM lineitem GROUP BY 1
  ) q USING (task)
), pedges AS MATERIALIZED (
  SELECT task AS c, task // 2 AS p FROM wt WHERE task >= 2
  UNION
  SELECT task AS c, task // 3 AS p FROM wt WHERE task >= 3
), e0 AS MATERIALIZED (
  SELECT task, CAST(0 AS BIGINT) AS est FROM wt
)"""
    ]
    for k in range(1, CPM_SWEEPS + 1):
        parts.append(
            f""", e{k} AS MATERIALIZED (
  SELECT w.task,
         CASE WHEN w.task = 1 THEN CAST(0 AS BIGINT) ELSE m.v END AS est
  FROM wt w LEFT JOIN (
    SELECT pe.c AS task, max(e.est + pw.w) AS v
    FROM pedges pe
    JOIN e{k - 1} e ON e.task = pe.p
    JOIN wt pw ON pw.task = pe.p
    GROUP BY pe.c
  ) m USING (task)
)"""
        )
    parts.append(
        f""", mk AS MATERIALIZED (
  SELECT max(e.est + w.w) AS m FROM e{CPM_SWEEPS} e JOIN wt w USING (task)
), l0 AS MATERIALIZED (
  SELECT task, (SELECT m FROM mk) AS lft FROM wt
)"""
    )
    for k in range(1, CPM_SWEEPS + 1):
        parts.append(
            f""", l{k} AS MATERIALIZED (
  SELECT w.task,
         least((SELECT m FROM mk),
               COALESCE(mm.v, (SELECT m FROM mk))) AS lft
  FROM wt w LEFT JOIN (
    SELECT pe.p AS task, min(l.lft - cw.w) AS v
    FROM pedges pe
    JOIN l{k - 1} l ON l.task = pe.c
    JOIN wt cw ON cw.task = pe.c
    GROUP BY pe.p
  ) mm USING (task)
)"""
        )
    parts.append(
        f""", fmoves AS (
  SELECT CAST(count(*) FILTER (WHERE a.est <> b.est) AS BIGINT) AS n
  FROM e{CPM_SWEEPS} a JOIN e{CPM_SWEEPS - 1} b USING (task)
), bmoves AS (
  SELECT CAST(count(*) FILTER (WHERE a.lft <> b.lft) AS BIGINT) AS n
  FROM l{CPM_SWEEPS} a JOIN l{CPM_SWEEPS - 1} b USING (task)
)
SELECT CAST(w.task AS INT) AS task, w.w AS w,
       e.est AS est, e.est + w.w AS finish,
       l.lft - w.w AS lst, l.lft - w.w - e.est AS slack,
       (SELECT m FROM mk) AS makespan,
       (SELECT n FROM fmoves) AS fwd_moves_last_sweep,
       (SELECT n FROM bmoves) AS bwd_moves_last_sweep,
       (SELECT n FROM fmoves) = 0 AND (SELECT n FROM bmoves) = 0
         AS converged
FROM wt w
JOIN e{CPM_SWEEPS} e USING (task)
JOIN l{CPM_SWEEPS} l USING (task)
ORDER BY slack, est, task
LIMIT {CPM_TOPK}
"""
    )
    return "".join(parts)


SPECS: dict[str, QuerySpec] = {
    "dag_topo_levels_dup": QuerySpec(
        _q_dag_topo_levels_dup,
        _SQL_DAG_TOPO_LEVELS,
        "topological-level histogram of the u<v-oriented dup "
        "derivation DAG via 5 bounded relaxation rounds, with the "
        "final round's move count emitted as the fixpoint witness",
    ),
    "dag_critical_path_dup": QuerySpec(
        _q_dag_critical_path_dup,
        _SQL_DAG_CRITICAL_PATH,
        "top-10 longest weighted derivation chains (edge weight = "
        "shared grams) in the dup DAG — bounded Bellman-Ford "
        "relaxation, convergence as data",
    ),
    "dag_task_schedule_critical": QuerySpec(
        _q_dag_task_schedule_critical,
        _sql_cpm(),
        "full CPM schedule of the bounded 4095-task precedence DAG "
        "with corpus-aggregated durations: forward/backward passes as "
        "two fold expressions over a 1-row array frame, emitting "
        "est/finish/lst/slack, makespan, and both passes' fixpoint "
        "witnesses",
    ),
}
