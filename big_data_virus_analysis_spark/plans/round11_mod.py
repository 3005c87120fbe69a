"""Round-11 community-structure pack: Newman modularity of the
near-duplicate graph under the SOURCE partition — "does the corpus's
source field explain its near-dup topology?", the one-number answer a
curation team wants before trusting per-source dedup policies (high Q:
duplication is intra-source boilerplate; Q ≈ 0: cross-source scraping,
and per-source policies will miss it).

* ``dup_graph_source_modularity`` — the shared capped dup graph
  (``operators/graph_edges.py``) with both endpoints labeled by their
  document's source; per source c: internal edge count e_cc and total
  endpoint degree d_c; Newman's Q = Σ_c [e_cc/m − (d_c/2m)²]
  computed from EXACT integer sums — the only float is the single
  final division (4m·e_cc − d_c², both int64-safe, over 4m²).
  Output per source: nodes, internal edges, degree sum, the exact
  integer contribution numerator and its micro value, plus corpus-
  wide columns on every row: m, Q in micro, and the classical range
  witness −½ ≤ Q ≤ 1.

100-TB shape: the corpus-sized work is the shared edge builder; the
labeling is two joins against the (doc → source) projection, and
everything after is a ~20-row per-source aggregate.

Identity properties (tests/test_properties.py): the integer formula
matches the textbook float definition on random labeled graphs; a
perfectly-separated graph scores Q = 1 − Σ(d_c/2m)² (maximal for
balanced communities); single-community labeling scores exactly 0;
the range bound holds.

No reference counterpart (graph extension alongside
plans/round6_graph3.py); public statistic only (Newman & Girvan
2004).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.caching import tracked_cache
from ..operators.graph_edges import dup_graph_edges, dup_graph_edges_ctes
from ..sources.tables import load_table
from . import QuerySpec


def _q_dup_graph_source_modularity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id"), "source"
    )
    edges = tracked_cache(dup_graph_edges(spark, sf_dir))
    lab = (
        edges.join(
            docs.select(
                F.col("doc_id").alias("u"), F.col("source").alias("su")
            ),
            "u",
        )
        .join(
            docs.select(
                F.col("doc_id").alias("v"), F.col("source").alias("sv")
            ),
            "v",
        )
    )
    # per-source internal edges and endpoint-degree mass in ONE pass:
    # each edge contributes 1 internal edge iff su = sv, and one
    # degree unit to each endpoint's source
    contrib = lab.select(
        F.explode(
            F.expr(
                """array(
                     named_struct('c', su, 'e_in',
                       IF(su = sv, CAST(1 AS BIGINT), CAST(0 AS BIGINT)),
                       'deg', CAST(1 AS BIGINT)),
                     named_struct('c', sv, 'e_in', CAST(0 AS BIGINT),
                       'deg', CAST(1 AS BIGINT)))"""
            )
        ).alias("x")
    ).select("x.c", "x.e_in", "x.deg")
    per = contrib.groupBy(F.col("c").alias("source")).agg(
        F.sum("e_in").alias("e_cc"),
        F.sum("deg").alias("d_c"),
    )
    nodes = (
        edges.select(F.col("u").alias("doc_id"))
        .unionByName(edges.select(F.col("v").alias("doc_id")))
        .distinct()
        .join(docs, "doc_id")
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_nodes"))
    )
    m_tot = edges.agg(F.count(F.lit(1)).alias("m"))
    joined = (
        per.join(nodes, "source", "full")
        .crossJoin(F.broadcast(m_tot))
        .select(
            "source",
            F.coalesce("n_nodes", F.lit(0).cast("bigint")).alias("n_nodes"),
            F.coalesce("e_cc", F.lit(0).cast("bigint")).alias(
                "internal_edges"
            ),
            F.coalesce("d_c", F.lit(0).cast("bigint")).alias("degree_sum"),
            "m",
            # exact integer contribution numerator: 4m*e_cc - d_c^2
            # (over the common denominator 4m^2)
            (
                F.lit(4) * F.col("m") * F.coalesce("e_cc", F.lit(0))
                - F.coalesce("d_c", F.lit(0))
                * F.coalesce("d_c", F.lit(0))
            ).alias("contrib_num"),
        )
    )
    q = joined.agg(
        F.sum("contrib_num").alias("q_num"),
        F.max("m").alias("m2"),
    ).select(
        "q_num",
        F.expr(
            "CAST(round(CAST(q_num AS DOUBLE) * 1000000.0"
            " / (4.0 * m2 * m2), 0) AS BIGINT)"
        ).alias("q_micro"),
    )
    return (
        joined.crossJoin(F.broadcast(q))
        .select(
            "source",
            "n_nodes",
            "internal_edges",
            "degree_sum",
            "contrib_num",
            F.expr(
                "CAST(round(CAST(contrib_num AS DOUBLE) * 1000000.0"
                " / (4.0 * m * m), 0) AS BIGINT)"
            ).alias("contrib_micro"),
            "m",
            "q_micro",
            F.expr(
                "q_micro >= -500000 AND q_micro <= 1000000"
            ).alias("q_range_ok"),
        )
        .orderBy("source")
    )


_SQL_MODULARITY = (
    dup_graph_edges_ctes()
    + """, edges AS MATERIALIZED (
  SELECT u, v FROM pr
), lab AS MATERIALIZED (
  SELECT e.u, e.v, du.source AS su, dv.source AS sv
  FROM edges e
  JOIN documents du ON du.doc_id = e.u
  JOIN documents dv ON dv.doc_id = e.v
), contrib AS MATERIALIZED (
  SELECT su AS c,
         CASE WHEN su = sv THEN 1 ELSE 0 END AS e_in,
         1 AS deg
  FROM lab
  UNION ALL
  SELECT sv, 0, 1 FROM lab
), per AS MATERIALIZED (
  SELECT c AS source,
         CAST(sum(e_in) AS BIGINT) AS e_cc,
         CAST(sum(deg) AS BIGINT) AS d_c
  FROM contrib GROUP BY c
), nodes AS MATERIALIZED (
  SELECT d.source, CAST(count(*) AS BIGINT) AS n_nodes
  FROM (SELECT DISTINCT n AS doc_id FROM (
          SELECT u AS n FROM edges UNION ALL SELECT v FROM edges)) x
  JOIN documents d ON d.doc_id = x.doc_id
  GROUP BY d.source
), m_tot AS MATERIALIZED (
  SELECT CAST(count(*) AS BIGINT) AS m FROM edges
), joined AS MATERIALIZED (
  SELECT coalesce(p.source, n.source) AS source,
         coalesce(n.n_nodes, 0) AS n_nodes,
         coalesce(p.e_cc, 0) AS internal_edges,
         coalesce(p.d_c, 0) AS degree_sum,
         t.m,
         CAST(4 * t.m * coalesce(p.e_cc, 0)
              - coalesce(p.d_c, 0) * coalesce(p.d_c, 0)
           AS BIGINT) AS contrib_num
  FROM per p
  FULL OUTER JOIN nodes n ON n.source = p.source
  CROSS JOIN m_tot t
), q AS MATERIALIZED (
  SELECT CAST(sum(contrib_num) AS BIGINT) AS q_num,
         CAST(max(m) AS BIGINT) AS m2
  FROM joined
)
SELECT j.source, j.n_nodes, j.internal_edges, j.degree_sum,
       j.contrib_num,
       CAST(round(CAST(j.contrib_num AS DOUBLE) * 1000000.0
            / (4.0 * j.m * j.m), 0) AS BIGINT) AS contrib_micro,
       j.m,
       CAST(round(CAST(q.q_num AS DOUBLE) * 1000000.0
            / (4.0 * q.m2 * q.m2), 0) AS BIGINT) AS q_micro,
       CAST(round(CAST(q.q_num AS DOUBLE) * 1000000.0
            / (4.0 * q.m2 * q.m2), 0) AS BIGINT)
         BETWEEN -500000 AND 1000000 AS q_range_ok
FROM joined j CROSS JOIN q
ORDER BY j.source
"""
)


SPECS: dict[str, QuerySpec] = {
    "dup_graph_source_modularity": QuerySpec(
        _q_dup_graph_source_modularity,
        _SQL_MODULARITY,
        "Newman modularity of the capped dup graph under the source "
        "partition (exact integer 4m*e_cc - d_c^2 numerators, one "
        "final double division): per-source contributions + corpus Q "
        "micro with the range witness — does source explain the "
        "near-dup topology?",
    ),
}
