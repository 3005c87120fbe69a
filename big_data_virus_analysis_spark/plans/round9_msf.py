"""Round-9 spanning-forest pack: Borůvka's algorithm (Borůvka 1926;
the distributed-MST workhorse) on the near-duplicate document graph —
the maximum-similarity spanning forest that is exactly the
single-linkage dedup hierarchy's backbone, and the one classical
graph-fixpoint family (CC, PageRank, k-core, k-truss, label
propagation, HITS all exist) the catalog did not yet cover.

* ``msf_boruvka_dup_graph`` — the maximum spanning forest (min forest
  under weight −shared, i.e. keep the MOST-similar edges) of the
  capped dup graph (`operators/graph_edges.py`, weights = shared gram
  counts).  ``MSF_ROUNDS`` Borůvka rounds: every component picks its
  best incident cross edge under the STRICT total order
  (−shared, u, v) — the tie-break makes the forest unique — then
  components contract by ``MSF_PROP`` rounds of min-label propagation
  over the accumulated forest.  All arithmetic is integer; both
  engines walk the identical truncated procedure, and the companion
  audit emits whether it CONVERGED rather than assuming it.
* ``msf_boruvka_audit`` — per-round honesty ledger: cross edges
  before choosing, new forest edges, components after contraction,
  cumulative forest size, ``tree_check`` = (forest edges ==
  nodes − components) — the acyclicity/spanning witness — and
  ``n_label_moves_last_sweep`` = how many node labels still changed
  in the round's FINAL propagation sweep (0 certifies the
  contraction hit its fixpoint inside the sweep budget).  Borůvka
  halves components per round, so round 3's ``n_cross_before`` at 0
  (or ``tree_check`` true) certifies the forest is THE maximum
  spanning forest; a non-converged run is visible as data.

100-TB shape: edge construction is the shared capped builder (hot-
gram cutoff bounds the pair join); each round is two label joins +
one per-component min aggregate + bounded-diameter propagation over
FOREST edges only (≤ nodes−1 rows); label/forest frames are node-
sized and localCheckpoint'd once per Borůvka round (lineage stays
≤ MSF_PROP tiny joins deep while the fixed checkpoint-job floor —
the dominant cost at small SF, measured 8.1 s of the query's 9.3 s
in the r9 bench — drops from ~16 jobs to ~7).
Rounds needed grow with log(max cluster size), and dup clusters are
capped by the same hot-gram discipline that bounds the pair join.

Identity property (tests/test_properties.py): a pure-Python
replication of the truncated procedure, on random weighted graphs,
(a) equals Kruskal's unique MSF under the same total order WHENEVER
its own tree_check/convergence witnesses hold, and (b) every chosen
edge in round 1 belongs to the true MSF (the cut property, always).

No reference counterpart (graph extension alongside
plans/round8_graph.py); public algorithm only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.caching import tracked_cache
from ..operators.graph_edges import dup_graph_edges, dup_graph_edges_ctes
from . import QuerySpec

#: Borůvka rounds (components at least halve per converged round)
MSF_ROUNDS = 3
#: min-label propagation rounds per contraction (bounds the forest
#: diameter handled per round; dup clusters are hot-gram-capped small).
#: Measured plateau on the real dup graphs: 2 sweeps at sf0.1, 1 at
#: sf0.01, 0 after round 1 (components are tiny stars) — 3 is the
#: minimum that PROVES the fixpoint (the final sweep must move zero
#: labels for the audit's n_label_moves_last_sweep witness to read 0),
#: and a too-shallow budget on a deeper graph is DATA, not an
#: assumption: the witness goes nonzero and tree_check goes false.
MSF_PROP = 3


def _msf_chain(spark: SparkSession, sf_dir: str):
    """Returns (edges, labels_per_round, penultimate_labels_per_round,
    forest_per_round) — forest rows are (u, v, shared, round_added).
    The penultimate frame (labels BEFORE the round's final sweep) lets
    the audit count final-sweep label moves — the fixpoint witness.

    Job-floor trim (r10 VERDICT directive #4, the ~5s target): a
    stage-level profile at sf0.1 showed the wall clock is ~79 tiny AQE
    query-stage jobs (each a driver round-trip) over frames of a few
    hundred rows, plus the corpus-sized edge build.  Experiments
    committed to history: statically sizing shuffle partitions and
    disabling AQE for the loop made things WORSE (checkpointed frames
    have no stats, so static planning loses the runtime broadcasts);
    fully lazy caching exploded the logical plan exponentially.  What
    works is cutting the jobs that exist: every sweep is a LAZY
    localCheckpoint (single LogicalRDD node — lineage truncates with
    no blowup).  Measured caveat (r11 ADVICE): with AQE on,
    ``localCheckpoint(eager=False)`` still EXECUTES every intermediate
    stage at construction time (``toRdd`` finalizes the adaptive
    plan); only the FINAL stage defers into the next consumer's job —
    the win is one saved driver job per sweep, not whole-round
    deferral — plus zero per-sweep driver probes (r11; the r10 shape
    spent one count() job per sweep to skip post-fixpoint sweeps —
    identity maps that cost less to run than to probe), and the
    chosen-edge dedup folds into the forest merge aggregate."""
    edges = tracked_cache(
        dup_graph_edges(spark, sf_dir, keep_shared=True)
    )
    labels = (
        edges.select(F.col("u").alias("node"))
        .unionByName(edges.select(F.col("v").alias("node")))
        .distinct()
        .select("node", F.col("node").alias("lbl"))
        .localCheckpoint(eager=True)
    )
    forest = None
    label_hist: list[DataFrame] = []
    label_prev_hist: list[DataFrame] = []
    forest_hist: list[DataFrame] = []
    for rnd in range(1, MSF_ROUNDS + 1):
        lab_u = labels.select(
            F.col("node").alias("u"), F.col("lbl").alias("lu")
        )
        lab_v = labels.select(
            F.col("node").alias("v"), F.col("lbl").alias("lv")
        )
        cross = (
            edges.join(lab_u, "u")
            .join(lab_v, "v")
            .where(F.col("lu") != F.col("lv"))
        )
        # r11: both endpoint components ride ONE pass — the former
        # two-branch union duplicated the whole cross-join subtree in
        # the plan (identical row multiset via explode of the 2-array)
        cand = cross.select(
            F.explode(F.array("lu", "lv")).alias("comp"),
            "u",
            "v",
            "shared",
        )
        # chosen edges stay raw (each endpoint component may pick the
        # same edge twice); the dedup rides the forest-merge aggregate
        # below instead of a separate DISTINCT stage — the DuckDB twin
        # keeps its textbook DISTINCT, set-identical either way
        chosen = (
            cand.groupBy("comp")
            .agg(
                F.min(
                    F.struct(
                        (-F.col("shared")).alias("nw"),
                        F.col("u").alias("u"),
                        F.col("v").alias("v"),
                        F.col("shared").alias("shared"),
                    )
                ).alias("m")
            )
            .select(
                F.col("m.u").alias("u"),
                F.col("m.v").alias("v"),
                F.col("m.shared").alias("shared"),
                F.lit(rnd).alias("round_added"),
            )
        )
        forest = (
            (
                chosen
                if forest is None
                else forest.unionByName(chosen)
            )
            .groupBy("u", "v", "shared")
            .agg(F.min("round_added").alias("round_added"))
            # lazy checkpoint: lineage truncates now; under AQE the
            # intermediate stages still run at construction, only the
            # final stage folds into the first sweep's job (one saved
            # driver job — the measured r11 behavior)
        ).localCheckpoint(eager=False)
        # contraction: min-label propagation over FOREST edges.
        # r11 optimization (guide §1.2 — remove driver round-trips):
        # the r10 shape probed a moves-count per sweep (one driver job
        # each) to SKIP post-fixpoint sweeps; but a sweep on fixpoint
        # labels is the identity map, so running the full MSF_PROP
        # budget lazily is bit-identical (and now literally mirrors
        # the DuckDB twin's full-budget lab CTEs) while each sweep
        # saves one driver job (under AQE the lazy checkpoint defers
        # only its FINAL stage into the next consumer — the measured
        # r11 behavior); each sweep's LogicalRDD is a single plan
        # node, so lineage stays linear in MSF_PROP.  Bonus: the
        # final round's
        # labels are never consumed by the forest output, so the main
        # MSF query no longer executes them at all (the audit still
        # does, via its component counts and move witnesses).
        prev = labels
        for _ in range(MSF_PROP):
            # fused sweep: new label = min(own, forest-neighbor labels)
            # as ONE union + join + min-aggregate (the DuckDB twin
            # keeps the textbook least(own, min-nbr) form)
            fu = forest.select(F.col("u").alias("node"), F.col("v").alias("nbr"))
            fv = forest.select(F.col("v").alias("node"), F.col("u").alias("nbr"))
            nbr_lbls = (
                fu.unionByName(fv)
                .join(
                    labels.select(
                        F.col("node").alias("nbr"), F.col("lbl").alias("nlbl")
                    ),
                    "nbr",
                )
                .select("node", F.col("nlbl").alias("lbl"))
            )
            prev = labels
            labels = (
                labels.select("node", "lbl")
                .unionByName(nbr_lbls)
                .groupBy("node")
                .agg(F.min("lbl").alias("lbl"))
                .localCheckpoint(eager=False)
            )
        label_hist.append(labels)
        # penultimate labels (input of the round's final sweep) — the
        # audit's final-sweep-move witness compares them to the final
        # frame, exactly lab{PROP-1} vs lab{PROP} in the twin
        label_prev_hist.append(prev.select("node", "lbl"))
        forest_hist.append(forest)
    return edges, label_hist, label_prev_hist, forest_hist


def _q_msf_boruvka_dup_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, _, _, forest_hist = _msf_chain(spark, sf_dir)
    return forest_hist[-1].select(
        "u", "v", "shared", "round_added"
    ).orderBy("u", "v")


def _q_msf_boruvka_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges, label_hist, label_prev_hist, forest_hist = _msf_chain(spark, sf_dir)
    n_nodes = (
        edges.select(F.col("u").alias("n"))
        .unionByName(edges.select(F.col("v").alias("n")))
        .distinct()
        .agg(F.count(F.lit(1)).alias("n_nodes"))
    )
    legs = []
    prev_labels = None
    for rnd in range(1, MSF_ROUNDS + 1):
        labels = label_hist[rnd - 1]
        forest = forest_hist[rnd - 1]
        seed = (
            prev_labels
            if prev_labels is not None
            else edges.select(F.col("u").alias("node"))
            .unionByName(edges.select(F.col("v").alias("node")))
            .distinct()
            .select("node", F.col("node").alias("lbl"))
        )
        cross_before = (
            edges.join(
                seed.select(F.col("node").alias("u"), F.col("lbl").alias("lu")),
                "u",
            )
            .join(
                seed.select(F.col("node").alias("v"), F.col("lbl").alias("lv")),
                "v",
            )
            .where(F.col("lu") != F.col("lv"))
            .agg(F.count(F.lit(1)).alias("n_cross_before"))
        )
        n_new = forest.where(F.col("round_added") == rnd).agg(
            F.count(F.lit(1)).alias("n_new_edges")
        )
        n_comp = labels.agg(
            F.countDistinct("lbl").alias("n_components_after")
        )
        n_forest = forest.agg(F.count(F.lit(1)).alias("forest_edges_total"))
        # fixpoint witness: labels that still moved in the round's
        # FINAL propagation sweep (0 == converged inside the budget)
        n_moves = (
            label_hist[rnd - 1]
            .join(
                label_prev_hist[rnd - 1].select(
                    "node", F.col("lbl").alias("plbl")
                ),
                "node",
            )
            .where(F.col("lbl") != F.col("plbl"))
            .agg(F.count(F.lit(1)).alias("n_label_moves_last_sweep"))
        )
        legs.append(
            cross_before.crossJoin(F.broadcast(n_new))
            .crossJoin(F.broadcast(n_comp))
            .crossJoin(F.broadcast(n_forest))
            .crossJoin(F.broadcast(n_nodes))
            .crossJoin(F.broadcast(n_moves))
            .select(
                F.lit(rnd).alias("round"),
                "n_cross_before",
                "n_new_edges",
                "n_components_after",
                "forest_edges_total",
                (
                    F.col("forest_edges_total")
                    == F.col("n_nodes") - F.col("n_components_after")
                ).alias("tree_check"),
                "n_label_moves_last_sweep",
            )
        )
        prev_labels = labels
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionByName(leg)
    return out.orderBy("round")


def _sql_msf_ctes() -> str:
    parts = [
        dup_graph_edges_ctes(keep_shared=True)
        + """, edges AS MATERIALIZED (
  SELECT u, v, shared FROM pr
), nodes AS MATERIALIZED (
  SELECT DISTINCT n AS node FROM (
    SELECT u AS n FROM edges UNION ALL SELECT v AS n FROM edges)
), lab0 AS MATERIALIZED (
  SELECT node, node AS lbl FROM nodes
)"""
    ]
    prev_lab = "lab0"
    prev_forest = None
    for rnd in range(1, MSF_ROUNDS + 1):
        parts.append(
            f""", cross{rnd} AS MATERIALIZED (
  SELECT e.u, e.v, e.shared, lu.lbl AS lu, lv.lbl AS lv
  FROM edges e
  JOIN {prev_lab} lu ON e.u = lu.node
  JOIN {prev_lab} lv ON e.v = lv.node
  WHERE lu.lbl <> lv.lbl
), chosen{rnd} AS MATERIALIZED (
  SELECT DISTINCT (m).u AS u, (m).v AS v, (m).shared AS shared,
         {rnd} AS round_added
  FROM (
    SELECT comp, min(struct_pack(nw := -shared, u := u, v := v,
                                 shared := shared)) AS m
    FROM (
      SELECT lu AS comp, u, v, shared FROM cross{rnd}
      UNION ALL
      SELECT lv AS comp, u, v, shared FROM cross{rnd}
    ) GROUP BY comp
  )
)"""
        )
        if prev_forest is None:
            parts.append(
                f""", forest{rnd} AS MATERIALIZED (
  SELECT u, v, shared, round_added FROM chosen{rnd}
)"""
            )
        else:
            parts.append(
                f""", forest{rnd} AS MATERIALIZED (
  SELECT u, v, shared, min(round_added) AS round_added FROM (
    SELECT * FROM {prev_forest} UNION ALL SELECT * FROM chosen{rnd}
  ) GROUP BY u, v, shared
)"""
            )
        prev_forest = f"forest{rnd}"
        for p in range(1, MSF_PROP + 1):
            nxt = f"lab{rnd}_{p}"
            parts.append(
                f""", {nxt} AS MATERIALIZED (
  SELECT l.node,
         least(l.lbl, COALESCE(b.blbl, l.lbl)) AS lbl
  FROM {prev_lab} l
  LEFT JOIN (
    SELECT fe.node, min(nl.lbl) AS blbl
    FROM (
      SELECT u AS node, v AS nbr FROM {prev_forest}
      UNION ALL
      SELECT v AS node, u AS nbr FROM {prev_forest}
    ) fe JOIN {prev_lab} nl ON fe.nbr = nl.node
    GROUP BY fe.node
  ) b ON l.node = b.node
)"""
            )
            prev_lab = nxt
    return "".join(parts)


def _sql_msf_edges() -> str:
    return (
        _sql_msf_ctes()
        + f"""
SELECT u, v, CAST(shared AS BIGINT) AS shared,
       CAST(round_added AS INT) AS round_added
FROM forest{MSF_ROUNDS}
ORDER BY u, v
"""
    )


def _sql_msf_audit() -> str:
    legs = []
    for rnd in range(1, MSF_ROUNDS + 1):
        final_lab = f"lab{rnd}_{MSF_PROP}"
        penult_lab = (
            f"lab{rnd}_{MSF_PROP - 1}" if MSF_PROP > 1 else
            (f"lab{rnd - 1}_{MSF_PROP}" if rnd > 1 else "lab0")
        )
        legs.append(
            f"""SELECT {rnd} AS round,
       (SELECT count(*) FROM cross{rnd}) AS n_cross_before,
       (SELECT count(*) FROM forest{MSF_ROUNDS}
        WHERE round_added = {rnd}) AS n_new_edges,
       (SELECT count(DISTINCT lbl) FROM {final_lab})
         AS n_components_after,
       (SELECT count(*) FROM forest{rnd}) AS forest_edges_total,
       (SELECT count(*) FROM forest{rnd})
         = (SELECT count(*) FROM nodes)
           - (SELECT count(DISTINCT lbl) FROM {final_lab}) AS tree_check,
       (SELECT count(*) FROM {final_lab} f
        JOIN {penult_lab} p ON f.node = p.node
        WHERE f.lbl <> p.lbl) AS n_label_moves_last_sweep"""
        )
    return (
        _sql_msf_ctes()
        + "\n"
        + "\nUNION ALL\n".join(legs)
        + "\nORDER BY round\n"
    )


SPECS: dict[str, QuerySpec] = {
    "msf_boruvka_dup_graph": QuerySpec(
        _q_msf_boruvka_dup_graph,
        _sql_msf_edges(),
        "maximum-similarity spanning forest of the capped dup graph "
        "via 3 Boruvka rounds (strict (-shared,u,v) edge order makes "
        "it unique): the single-linkage dedup backbone, exact integer",
    ),
    "msf_boruvka_audit": QuerySpec(
        _q_msf_boruvka_audit,
        _sql_msf_audit(),
        "per-round Boruvka honesty ledger: cross edges before, new "
        "edges, components after contraction, forest size, the "
        "tree_check acyclicity/spanning witness, and the final-sweep "
        "label-move count (propagation fixpoint as data)",
    ),
}
