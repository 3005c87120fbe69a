"""Round-7 eval pack — external cluster-evaluation metrics over two
REAL dedup clusterings.

``adjusted_rand_clusterings`` compares the MinHash-LSH near-dup
clustering (k=32, 8 bands → connected components) against the SimHash
clustering (31-bit, Hamming ≤ 6 → connected components) on the same
corpus, with singletons for unpaired docs, and reports:

* the Adjusted Rand Index (Hubert & Arabie 1985) from exact integer
  pair counts C(n,2) over the contingency table;
* B-cubed precision / recall / F1 (Bagga & Baldwin 1998) — the
  per-document overlap averages the dedup literature prefers when
  cluster sizes are skewed (per-row terms quantized to 1e-6 before
  the cross-cell sum).

This closes the cluster-EVAL gap in the similarity family: the catalog
already audits pair-level precision (``lsh_precision_audit``) and
retrieval recall (``ann_recall_audit``); this is the clustering-level
agreement metric a dedup rollout decision actually reads.

Both clusterings are the catalog's own oracle-exact machinery
(``dedup_cluster_assign``'s min-label components; the SimHash pair
generator of ``simhash_pairs``), so the DuckDB twin replays everything
relationally: two recursive-CTE transitive closures over the two pair
sets, singleton completion via left join, then the contingency table.

100 TB shape: both pair generators are the banded/bit-sliced index
joins documented in SCALING.md; components are the O(log²n)
large-star/small-star rounds; the contingency table is one hash agg
keyed by (cluster_a, cluster_b) — bounded by the number of non-trivial
clusters, not by corpus size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import dedup_clusters, minhash_lsh_pairs, simhash_pairs
from ..sources.tables import load_table
from . import QuerySpec


def _q_adjusted_rand_clusterings(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    ids = docs.select("doc_id")
    a = dedup_clusters(minhash_lsh_pairs(docs, n=3, k=32, bands=8)).select(
        "doc_id", F.col("cluster_id").alias("ca0")
    )
    b = dedup_clusters(simhash_pairs(docs, n=3, max_hamming=6)).select(
        "doc_id", F.col("cluster_id").alias("cb0")
    )
    labeled = (
        ids.join(a, "doc_id", "left")
        .join(b, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("ca0", F.col("doc_id")).alias("ca"),
            F.coalesce("cb0", F.col("doc_id")).alias("cb"),
        )
    )
    cells = labeled.groupBy("ca", "cb").agg(F.count(F.lit(1)).alias("nij"))
    arow = cells.groupBy("ca").agg(F.sum("nij").alias("ai"))
    brow = cells.groupBy("cb").agg(F.sum("nij").alias("bj"))
    comb = lambda c: (F.col(c) * (F.col(c) - 1) / 2).cast("bigint")  # noqa: E731
    sij = cells.agg(
        F.sum(comb("nij")).alias("s_nij"),
        F.sum("nij").alias("n"),
    )
    sa = arow.agg(F.sum(comb("ai")).alias("s_ai"), F.count(F.lit(1)).alias("ka"))
    sb = brow.agg(F.sum(comb("bj")).alias("s_bj"), F.count(F.lit(1)).alias("kb"))
    # B-cubed from the same contingency: precision = (1/N)·Σ_i (Σ_j n_ij²)/a_i
    # (per-row terms quantized at 1e-6 before the final sum)
    bc_p = (
        cells.groupBy("ca")
        .agg(F.sum(F.col("nij") * F.col("nij")).alias("sq"))
        .join(arow, "ca")
        .select(
            F.floor(F.col("sq").cast("double") * 1e6 / F.col("ai").cast("double") + 0.5)
            .cast("bigint")
            .alias("t6")
        )
        .agg(F.sum("t6").alias("p6"))
    )
    bc_r = (
        cells.groupBy("cb")
        .agg(F.sum(F.col("nij") * F.col("nij")).alias("sq"))
        .join(brow, "cb")
        .select(
            F.floor(F.col("sq").cast("double") * 1e6 / F.col("bj").cast("double") + 0.5)
            .cast("bigint")
            .alias("t6")
        )
        .agg(F.sum("t6").alias("r6"))
    )
    wide = (
        sij.crossJoin(F.broadcast(sa))
        .crossJoin(F.broadcast(sb))
        .crossJoin(F.broadcast(bc_p))
        .crossJoin(F.broadcast(bc_r))
    )
    nd = F.col("n").cast("double")
    tot_pairs = nd * (nd - 1.0) / 2.0
    exp_idx = F.col("s_ai").cast("double") * F.col("s_bj").cast("double") / tot_pairs
    max_idx = (F.col("s_ai").cast("double") + F.col("s_bj").cast("double")) / 2.0
    ari = (F.col("s_nij").cast("double") - exp_idx) / (max_idx - exp_idx)
    prec = F.col("p6").cast("double") / (nd * 1e6)
    rec = F.col("r6").cast("double") / (nd * 1e6)
    return wide.select(
        F.col("n").alias("n_docs"),
        F.col("ka").cast("bigint").alias("n_clusters_lsh"),
        F.col("kb").cast("bigint").alias("n_clusters_simhash"),
        F.round(ari, 6).alias("adjusted_rand"),
        F.round(prec, 6).alias("bcubed_precision"),
        F.round(rec, 6).alias("bcubed_recall"),
        F.round(2.0 * prec * rec / (prec + rec), 6).alias("bcubed_f1"),
    )


# The twin replays both clusterings relationally.  The shared shingle-id
# prefix, the k=32/8-band signature chain, and the SimHash chain below
# are literally the catalog's canonical fragments (frames.py:
# SQL_SHINGLE_IDS / minhash_band_sql; catalog.py: _SQL_SIMHASH_BASE), inlined
# because the two pipelines must share one WITH clause here.
_SQL_ADJUSTED_RAND_CLUSTERINGS = """
WITH RECURSIVE toks AS (
  SELECT doc_id, string_split(text, ' ') AS tokens FROM documents
), grams AS (
  SELECT doc_id, unnest(list_transform(generate_series(1, len(tokens) - 2),
         i -> array_to_string(list_slice(tokens, i, i + 2), ' '))) AS gram
  FROM toks WHERE len(tokens) >= 3
), dg AS (
  SELECT DISTINCT doc_id, gram FROM grams
), ids AS (
  SELECT doc_id,
         ((CAST(('0x' || substr(md5(gram), 1, 15)) AS BIGINT) % 2147483648)
          * 2654435761) % 2147483648 AS s
  FROM dg
), sig AS (
  SELECT doc_id, i,
         min(((((2654435761 * (2 * i + 1)) % 2147483648) | 1) * s + 7919 * i)
             & 2147483647) AS h
  FROM ids CROSS JOIN (SELECT unnest(generate_series(1, 32)) AS i)
  GROUP BY doc_id, i
), band_keys AS (
  SELECT doc_id, CAST((i - 1) // 4 AS INT) AS band,
         string_agg(CAST(h AS VARCHAR), ',' ORDER BY i) AS key
  FROM sig GROUP BY doc_id, band
), lsh_pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM band_keys a
  JOIN band_keys b ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
), mixed AS (
  SELECT doc_id, (xor(s, s >> 13) * 1103515245) % 2147483648 AS h2 FROM ids
), contribs AS (
  SELECT doc_id, j,
         sum(CASE WHEN (h2 >> j) & 1 = 1 THEN 1 ELSE -1 END) AS bitsum
  FROM mixed CROSS JOIN (SELECT unnest(generate_series(0, 30)) AS j)
  GROUP BY doc_id, j
), sims AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN bitsum > 0 THEN (1::BIGINT << j) ELSE 0 END)
              AS BIGINT) AS simhash
  FROM contribs GROUP BY doc_id
), sim_pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM sims a JOIN sims b ON a.doc_id < b.doc_id
  WHERE bit_count(xor(a.simhash, b.simhash)) <= 6
), edges_a AS (
  SELECT doc_a AS src, doc_b AS dst FROM lsh_pairs
  UNION
  SELECT doc_b, doc_a FROM lsh_pairs
), reach_a(src, dst) AS (
  SELECT src, dst FROM edges_a
  UNION
  SELECT r.src, e.dst FROM reach_a r JOIN edges_a e ON r.dst = e.src
), comp_a AS (
  SELECT src AS doc_id, least(src, min(dst)) AS ca FROM reach_a GROUP BY src
), edges_b AS (
  SELECT doc_a AS src, doc_b AS dst FROM sim_pairs
  UNION
  SELECT doc_b, doc_a FROM sim_pairs
), reach_b(src, dst) AS (
  SELECT src, dst FROM edges_b
  UNION
  SELECT r.src, e.dst FROM reach_b r JOIN edges_b e ON r.dst = e.src
), comp_b AS (
  SELECT src AS doc_id, least(src, min(dst)) AS cb FROM reach_b GROUP BY src
), labeled AS (
  SELECT d.doc_id,
         coalesce(a.ca, d.doc_id) AS ca,
         coalesce(b.cb, d.doc_id) AS cb
  FROM documents d
  LEFT JOIN comp_a a ON d.doc_id = a.doc_id
  LEFT JOIN comp_b b ON d.doc_id = b.doc_id
), cells AS (
  SELECT ca, cb, count(*) AS nij FROM labeled GROUP BY 1, 2
), arow AS (SELECT ca, sum(nij) AS ai FROM cells GROUP BY ca),
brow AS (SELECT cb, sum(nij) AS bj FROM cells GROUP BY cb),
sij AS (
  SELECT CAST(sum(nij * (nij - 1) // 2) AS BIGINT) AS s_nij,
         CAST(sum(nij) AS BIGINT) AS n
  FROM cells
), sa AS (
  SELECT CAST(sum(ai * (ai - 1) // 2) AS BIGINT) AS s_ai,
         count(*) AS ka
  FROM arow
), sb AS (
  SELECT CAST(sum(bj * (bj - 1) // 2) AS BIGINT) AS s_bj,
         count(*) AS kb
  FROM brow
), bcp AS (
  SELECT sum(CAST(floor(CAST(sq AS DOUBLE) * 1e6 / ai + 0.5) AS BIGINT)) AS p6
  FROM (SELECT ca, sum(nij * nij) AS sq FROM cells GROUP BY ca) c
  JOIN arow USING (ca)
), bcr AS (
  SELECT sum(CAST(floor(CAST(sq AS DOUBLE) * 1e6 / bj + 0.5) AS BIGINT)) AS r6
  FROM (SELECT cb, sum(nij * nij) AS sq FROM cells GROUP BY cb) c
  JOIN brow USING (cb)
), wide AS (
  SELECT * FROM sij CROSS JOIN sa CROSS JOIN sb CROSS JOIN bcp CROSS JOIN bcr
)
SELECT n AS n_docs,
       CAST(ka AS BIGINT) AS n_clusters_lsh,
       CAST(kb AS BIGINT) AS n_clusters_simhash,
       round((CAST(s_nij AS DOUBLE)
              - CAST(s_ai AS DOUBLE) * s_bj
                / (CAST(n AS DOUBLE) * (n - 1.0) / 2.0))
             / ((CAST(s_ai AS DOUBLE) + s_bj) / 2.0
                - CAST(s_ai AS DOUBLE) * s_bj
                  / (CAST(n AS DOUBLE) * (n - 1.0) / 2.0)), 6)
         AS adjusted_rand,
       round(CAST(p6 AS DOUBLE) / (CAST(n AS DOUBLE) * 1e6), 6)
         AS bcubed_precision,
       round(CAST(r6 AS DOUBLE) / (CAST(n AS DOUBLE) * 1e6), 6)
         AS bcubed_recall,
       round(2.0 * (CAST(p6 AS DOUBLE) / (CAST(n AS DOUBLE) * 1e6))
             * (CAST(r6 AS DOUBLE) / (CAST(n AS DOUBLE) * 1e6))
             / (CAST(p6 AS DOUBLE) / (CAST(n AS DOUBLE) * 1e6)
                + CAST(r6 AS DOUBLE) / (CAST(n AS DOUBLE) * 1e6)), 6)
         AS bcubed_f1
FROM wide
"""


SPECS: dict[str, QuerySpec] = {
    "adjusted_rand_clusterings": QuerySpec(
        _q_adjusted_rand_clusterings,
        _SQL_ADJUSTED_RAND_CLUSTERINGS,
        "Adjusted Rand Index + B-cubed P/R/F1 between the MinHash-LSH "
        "and SimHash dedup clusterings (exact pair counts, singleton "
        "completion, recursive-CTE component twins)",
    ),
}
