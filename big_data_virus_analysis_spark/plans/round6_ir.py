"""Round-6 IR & graph pack — positional retrieval and the canonical
triangle primitive, plus an ops-latency report:

* ``phrase_search_positional`` — exact phrase search ("the spark
  join"-style) through a POSITIONAL inverted index: one (token,
  doc, pos) explode, then the classic conjunctive join
  ``t1@p ∧ t2@p+1 ∧ t3@p+2``.  Each join is an equi-join on
  (doc, pos±k) after a selective token filter, so the plan touches
  only the three posting lists, never the corpus — the textbook
  phrase-query plan, relational.

* ``triangle_count_dup_graph`` — exact triangle count of the document
  near-dup graph via DEGREE-ORDERED edge orientation: orient every
  edge from the lower-(degree, id) endpoint to the higher, so each
  wedge is generated exactly once by the node in the middle of the
  ordering, and the wedge-closing join is on oriented edges — the
  standard O(m^{3/2}) bound that makes distributed triangle counting
  feasible (a naive undirected wedge join explodes on hubs; the
  orientation caps every node's out-degree at O(√m)).

* ``graph_degree_distribution`` — log₂-binned degree histogram of the
  same graph (the health check every graph pipeline runs first).

* ``interevent_latency_sla`` — per event type, p50/p95/p99 of the
  inter-event gap within each user's stream (lag window PARTITIONED
  by user), in seconds — the ops-SLA report shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.caching import tracked_cache
from ..operators.graph_edges import dup_graph_edges, dup_graph_edges_ctes
from ..sources.tables import load_table
from . import QuerySpec

# --------------------------------------------------------------------------
# phrase_search_positional
# --------------------------------------------------------------------------

_PHRASE = ("the", "spark", "join")


def _q_phrase_search_positional(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.split("text", " ").alias("_toks"))
    index = tracked_cache(
        toks.select(
            "doc_id", F.posexplode("_toks").alias("p0", "tok")
        ).select("doc_id", (F.col("p0") + 1).alias("pos"), "tok")
    )
    t1 = index.where(F.col("tok") == _PHRASE[0]).select("doc_id", "pos")
    t2 = index.where(F.col("tok") == _PHRASE[1]).select(
        "doc_id", (F.col("pos") - 1).alias("pos")
    )
    t3 = index.where(F.col("tok") == _PHRASE[2]).select(
        "doc_id", (F.col("pos") - 2).alias("pos")
    )
    hits = t1.join(t2, ["doc_id", "pos"]).join(t3, ["doc_id", "pos"])
    return hits.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_occurrences"),
        F.min("pos").alias("first_pos"),
    )


_SQL_PHRASE_SEARCH_POSITIONAL = f"""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
), idx AS (
  SELECT doc_id, CAST(i AS INT) AS pos, toks[i] AS tok
  FROM t, UNNEST(range(1, len(toks) + 1)) AS u(i)
), t1 AS (
  SELECT doc_id, pos FROM idx WHERE tok = '{_PHRASE[0]}'
), t2 AS (
  SELECT doc_id, pos - 1 AS pos FROM idx WHERE tok = '{_PHRASE[1]}'
), t3 AS (
  SELECT doc_id, pos - 2 AS pos FROM idx WHERE tok = '{_PHRASE[2]}'
), hits AS (
  SELECT t1.doc_id, t1.pos
  FROM t1 JOIN t2 USING (doc_id, pos) JOIN t3 USING (doc_id, pos)
)
SELECT doc_id, count(*) AS n_occurrences, CAST(min(pos) AS INT) AS first_pos
FROM hits GROUP BY doc_id
"""


# --------------------------------------------------------------------------
# shared near-dup graph (same construction as pagerank_dup_graph_exact)
# --------------------------------------------------------------------------

# r7: the edge derivation moved to operators/graph_edges.py (one
# builder, three consumers — r6 VERDICT directive #3); these aliases
# keep this pack's query bodies and downstream imports unchanged.
_dup_edges = dup_graph_edges
_SQL_DUP_EDGES = dup_graph_edges_ctes()


def _q_triangle_count_dup_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = tracked_cache(_dup_edges(spark, sf_dir))
    both = edges.unionByName(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    deg = both.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
    # orient each edge toward the higher (deg, id) endpoint: out-degree
    # is then O(sqrt(m)) per node, so the wedge join cannot explode on
    # hub nodes
    du = deg.select(F.col("u").alias("u"), F.col("deg").alias("du"))
    dv = deg.select(F.col("u").alias("v"), F.col("deg").alias("dv"))
    ranked = edges.join(du, "u").join(dv, "v")
    oriented = ranked.select(
        F.when(
            (F.col("du") < F.col("dv"))
            | ((F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))),
            F.struct(
                F.col("u").alias("s"), F.col("v").alias("t"), F.col("dv").alias("dt")
            ),
        )
        .otherwise(
            F.struct(
                F.col("v").alias("s"), F.col("u").alias("t"), F.col("du").alias("dt")
            )
        )
        .alias("e")
    ).select(
        F.col("e.s").alias("s"), F.col("e.t").alias("t"), F.col("e.dt").alias("dt")
    )
    oriented = tracked_cache(oriented)
    # wedges from the common source, closed by a third oriented edge.
    # The wedge pair must be ordered by the SAME (deg, id) rank the
    # orientation uses — ordering by node id alone loses triangles
    # whose closing edge runs rank-upward but id-downward (caught by
    # tests/test_properties.py::test_oriented_triangle_count_...).
    a = oriented.select(F.col("s"), F.col("t").alias("w1"), F.col("dt").alias("d1"))
    b = oriented.select(F.col("s"), F.col("t").alias("w2"), F.col("dt").alias("d2"))
    wedges = a.join(b, "s").where(
        (F.col("d1") < F.col("d2"))
        | ((F.col("d1") == F.col("d2")) & (F.col("w1") < F.col("w2")))
    )
    closing = oriented.select(
        F.col("s").alias("w1"), F.col("t").alias("w2")
    )
    tri = wedges.join(closing, ["w1", "w2"]).agg(
        F.count(F.lit(1)).alias("n_triangles")
    )
    stats = edges.agg(F.count(F.lit(1)).alias("n_edges"))
    nodes = deg.agg(F.count(F.lit(1)).alias("n_nodes"))
    return (
        tri.crossJoin(F.broadcast(stats))
        .crossJoin(F.broadcast(nodes))
        .select("n_nodes", "n_edges", "n_triangles")
    )


_SQL_TRIANGLE_COUNT_DUP_GRAPH = _SQL_DUP_EDGES + """
, both_dir AS (
  SELECT u, v FROM pr UNION ALL SELECT v, u FROM pr
), deg AS (
  SELECT u, count(*) AS deg FROM both_dir GROUP BY u
), oriented AS (
  SELECT CASE WHEN du.deg < dv.deg OR (du.deg = dv.deg AND e.u < e.v)
              THEN e.u ELSE e.v END AS s,
         CASE WHEN du.deg < dv.deg OR (du.deg = dv.deg AND e.u < e.v)
              THEN e.v ELSE e.u END AS t,
         CASE WHEN du.deg < dv.deg OR (du.deg = dv.deg AND e.u < e.v)
              THEN dv.deg ELSE du.deg END AS dt
  FROM pr e
  JOIN deg du ON du.u = e.u
  JOIN deg dv ON dv.u = e.v
), wedges AS (
  SELECT a.s, a.t AS w1, b.t AS w2
  FROM oriented a JOIN oriented b USING (s)
  WHERE a.dt < b.dt OR (a.dt = b.dt AND a.t < b.t)
), tri AS (
  SELECT count(*) AS n_triangles
  FROM wedges w JOIN oriented o ON o.s = w.w1 AND o.t = w.w2
)
SELECT (SELECT count(*) FROM deg) AS n_nodes,
       (SELECT count(*) FROM pr) AS n_edges,
       n_triangles
FROM tri
"""


def _q_graph_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _dup_edges(spark, sf_dir)
    both = edges.unionByName(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    deg = both.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
    bin_ = F.floor(F.log2("deg")).cast("int")
    return (
        deg.groupBy(bin_.alias("log2_deg_bin"))
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.min("deg").alias("min_deg"),
            F.max("deg").alias("max_deg"),
        )
    )


_SQL_GRAPH_DEGREE_DISTRIBUTION = _SQL_DUP_EDGES + """
, both_dir AS (
  SELECT u, v FROM pr UNION ALL SELECT v, u FROM pr
), deg AS (
  SELECT u, count(*) AS deg FROM both_dir GROUP BY u
)
SELECT CAST(floor(log2(deg)) AS INT) AS log2_deg_bin,
       count(*) AS n_nodes,
       min(deg) AS min_deg,
       max(deg) AS max_deg
FROM deg GROUP BY 1
"""


# --------------------------------------------------------------------------
# interevent_latency_sla
# --------------------------------------------------------------------------


def _q_interevent_latency_sla(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("tus", "event_id")
    gaps = (
        ev.select(
            "user_id", "event_type", F.unix_micros("ts").alias("tus"), "event_id"
        )
        .withColumn("prev", F.lag("tus").over(w))
        .where(F.col("prev").isNotNull())
        .select(
            "event_type",
            ((F.col("tus") - F.col("prev")) / 1_000_000.0).alias("gap_s"),
        )
    )
    return gaps.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.round(F.percentile("gap_s", F.lit(0.5)), 6).alias("p50_s"),
        F.round(F.percentile("gap_s", F.lit(0.95)), 6).alias("p95_s"),
        F.round(F.percentile("gap_s", F.lit(0.99)), 6).alias("p99_s"),
    )


_SQL_INTEREVENT_LATENCY_SLA = """
WITH gaps AS (
  SELECT event_type,
         (epoch_us(ts) - lag(epoch_us(ts)) OVER (
            PARTITION BY user_id, event_type ORDER BY epoch_us(ts), event_id
          )) / 1000000.0 AS gap_s
  FROM events
)
SELECT event_type, count(*) AS n_gaps,
       round(quantile_cont(gap_s, 0.5), 6) AS p50_s,
       round(quantile_cont(gap_s, 0.95), 6) AS p95_s,
       round(quantile_cont(gap_s, 0.99), 6) AS p99_s
FROM gaps WHERE gap_s IS NOT NULL
GROUP BY event_type
"""


SPECS: dict[str, QuerySpec] = {
    "phrase_search_positional": QuerySpec(
        _q_phrase_search_positional,
        _SQL_PHRASE_SEARCH_POSITIONAL,
        "exact phrase search through a positional inverted index "
        "(conjunctive pos/pos+1/pos+2 equi-joins on posting lists)",
    ),
    "triangle_count_dup_graph": QuerySpec(
        _q_triangle_count_dup_graph,
        _SQL_TRIANGLE_COUNT_DUP_GRAPH,
        "exact triangle count via degree-ordered edge orientation "
        "(out-degree capped at O(sqrt m) — hub-safe wedge join)",
    ),
    "graph_degree_distribution": QuerySpec(
        _q_graph_degree_distribution,
        _SQL_GRAPH_DEGREE_DISTRIBUTION,
        "log2-binned degree histogram of the near-dup graph",
    ),
    "interevent_latency_sla": QuerySpec(
        _q_interevent_latency_sla,
        _SQL_INTEREVENT_LATENCY_SLA,
        "per event-type p50/p95/p99 inter-event gap within user streams "
        "(ops SLA report)",
    ),
}
