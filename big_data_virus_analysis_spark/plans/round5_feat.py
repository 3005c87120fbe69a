"""Round-5 feature-engineering & graph-diagnostics pack — the
derived-signal layer between raw tables and model training, each
entry exact-oracle:

* ``degree_assortativity`` — Pearson correlation of endpoint degrees
  over the co-purchase graph (Newman 2002): do high-degree parts
  co-occur with other high-degree parts?  Degree sums are exact
  BIGINTs, so the closed-form correlation is deterministic in both
  engines.  Edge list and degree frame are the same shapes the
  PageRank/triangle queries already shuffle — one extra join, no new
  scale risk.
* ``target_encode_loo`` — leave-one-out target encoding of order
  priority against order value: encode(row) = (Σ_category y − y_row)
  / (n_category − 1).  The classic high-cardinality categorical
  encoder, LOO so a row never leaks its own target.  Per-category
  sums are exact DECIMALs; the audited output is the deterministic
  o_orderkey % 100 == 0 sample (encodings computed over ALL rows).
* ``rfm_quintile_codes`` — recency/frequency/monetary quintile
  scoring per customer, the canonical segmentation feature.  Each
  quintile comes from ``ntile_from_rank`` over the two-phase
  ``global_row_number`` — customer-scale frames, NO single-partition
  ntile window — with c_custkey tiebreaks making every quintile
  assignment total-order deterministic.
* ``markov_two_step_dist`` — the event-type distribution pushed two
  steps through the empirical transition matrix (p₁ = p₀P, p₂ = p₁P):
  where the traffic mix is heading.  The matrix and distributions are
  |event types|-bounded frames; each step is one tiny join-aggregate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.graph import copurchase_edges
from ..operators.prefix_sum import global_row_number, ntile_from_rank
from ..sources.tables import load_table
from . import QuerySpec

# --------------------------------------------------------------------------
# degree_assortativity
# --------------------------------------------------------------------------


def _q_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    edges = copurchase_edges(li)  # both directions, deduped (graph.py)
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    ends = (
        edges.join(deg.withColumnRenamed("src", "s"), F.col("src") == F.col("s"))
        .select("dst", F.col("deg").alias("dx"))
        .join(deg.withColumnRenamed("src", "d"), F.col("dst") == F.col("d"))
        .select("dx", F.col("deg").alias("dy"))
    )
    sums = ends.agg(
        F.count(F.lit(1)).alias("m"),
        F.sum("dx").alias("sx"),
        F.sum("dy").alias("sy"),
        F.sum(F.col("dx") * F.col("dx")).alias("sxx"),
        F.sum(F.col("dy") * F.col("dy")).alias("syy"),
        F.sum(F.col("dx") * F.col("dy")).alias("sxy"),
    )
    m = F.col("m").cast("double")
    num = m * F.col("sxy") - F.col("sx").cast("double") * F.col("sy")
    den = F.sqrt(
        (m * F.col("sxx") - F.col("sx").cast("double") * F.col("sx"))
        * (m * F.col("syy") - F.col("sy").cast("double") * F.col("sy"))
    )
    return sums.select(
        F.col("m").alias("n_directed_edges"),
        F.round(num / den, 6).alias("assortativity"),
    )


_SQL_DEGREE_ASSORTATIVITY = """
WITH op AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), edges AS (
  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
  FROM op a JOIN op b ON a.l_orderkey = b.l_orderkey
  WHERE a.l_partkey <> b.l_partkey
), deg AS (
  SELECT src, count(*) AS deg FROM edges GROUP BY src
), ends AS (
  SELECT dx.deg AS dx, dy.deg AS dy
  FROM edges e JOIN deg dx ON e.src = dx.src JOIN deg dy ON e.dst = dy.src
), sums AS (
  SELECT count(*) AS m,
         CAST(sum(dx) AS BIGINT) AS sx, CAST(sum(dy) AS BIGINT) AS sy,
         CAST(sum(dx * dx) AS BIGINT) AS sxx,
         CAST(sum(dy * dy) AS BIGINT) AS syy,
         CAST(sum(dx * dy) AS BIGINT) AS sxy
  FROM ends
)
SELECT m AS n_directed_edges,
       round((CAST(m AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
             / sqrt((CAST(m AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                    * (CAST(m AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)),
             6) AS assortativity
FROM sums
"""


# --------------------------------------------------------------------------
# target_encode_loo
# --------------------------------------------------------------------------


def _q_target_encode_loo(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.col("o_totalprice").cast("decimal(18,2)").alias("y"),
    )
    cat = orders.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_c"), F.sum("y").alias("s_c")
    )
    encoded = orders.join(F.broadcast(cat), "o_orderpriority").select(
        "o_orderkey",
        "o_orderpriority",
        F.col("y").cast("double").alias("y"),
        F.round(
            (F.col("s_c") - F.col("y")).cast("double")
            / (F.col("n_c") - 1).cast("double"),
            6,
        ).alias("loo_mean"),
    )
    return encoded.where(F.col("o_orderkey") % 100 == 0)


_SQL_TARGET_ENCODE_LOO = """
WITH src AS (
  SELECT o_orderkey, o_orderpriority,
         CAST(o_totalprice AS DECIMAL(18,2)) AS y
  FROM orders
), cat AS (
  SELECT o_orderpriority, count(*) AS n_c, sum(y) AS s_c
  FROM src GROUP BY o_orderpriority
)
SELECT o_orderkey, o_orderpriority, CAST(y AS DOUBLE) AS y,
       round(CAST(s_c - y AS DOUBLE) / CAST(n_c - 1 AS DOUBLE), 6) AS loo_mean
FROM src JOIN cat USING (o_orderpriority)
WHERE o_orderkey % 100 = 0
"""


# --------------------------------------------------------------------------
# rfm_quintile_codes
# --------------------------------------------------------------------------


def _q_rfm_quintile_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    per_cust = orders.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_date"),
        F.count(F.lit(1)).alias("freq"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("monetary"),
    )

    def quintile(df: DataFrame, order_exprs, out: str) -> DataFrame:
        ranked = global_row_number(df, order_exprs, out_col="_rn", n_col="_n")
        return ranked.withColumn(
            out, ntile_from_rank(F.col("_rn"), F.col("_n"), 5).cast("int")
        ).drop("_rn", "_n")

    scored = quintile(
        per_cust, [F.desc("last_date"), F.asc("o_custkey")], "r_q"
    )  # most recent buyers -> quintile 1
    scored = quintile(scored, [F.desc("freq"), F.asc("o_custkey")], "f_q")
    scored = quintile(scored, [F.desc("monetary"), F.asc("o_custkey")], "m_q")
    return (
        scored.withColumn("rfm_code", F.col("r_q") * 100 + F.col("f_q") * 10 + F.col("m_q"))
        .groupBy("rfm_code")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.avg(F.col("monetary").cast("double")), 6).alias("avg_monetary"),
        )
    )


_SQL_RFM_QUINTILE_CODES = """
WITH per_cust AS (
  SELECT o_custkey, max(o_orderdate) AS last_date, count(*) AS freq,
         sum(CAST(o_totalprice AS DECIMAL(18,2))) AS monetary
  FROM orders GROUP BY o_custkey
), scored AS (
  SELECT o_custkey, monetary,
         ntile(5) OVER (ORDER BY last_date DESC, o_custkey ASC) AS r_q,
         ntile(5) OVER (ORDER BY freq DESC, o_custkey ASC) AS f_q,
         ntile(5) OVER (ORDER BY monetary DESC, o_custkey ASC) AS m_q
  FROM per_cust
)
SELECT r_q * 100 + f_q * 10 + m_q AS rfm_code,
       count(*) AS n_customers,
       round(avg(CAST(monetary AS DOUBLE)), 6) AS avg_monetary
FROM scored GROUP BY 1
"""


# --------------------------------------------------------------------------
# markov_two_step_dist
# --------------------------------------------------------------------------


def _q_markov_two_step_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.withColumn("prev_type", F.lag("event_type").over(w))
        .where(F.col("prev_type").isNotNull())
        .groupBy("prev_type", "event_type")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    rw = Window.partitionBy("prev_type")
    P = pairs.select(
        "prev_type",
        F.col("event_type").alias("next_type"),
        F.round(F.col("c") / F.sum("c").over(rw), 6).alias("prob"),
    )
    tot = Window.partitionBy()
    p0 = (
        ev.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("c"))
        .select(
            "event_type", F.round(F.col("c") / F.sum("c").over(tot), 6).alias("p0")
        )
    )

    def step(dist: DataFrame, col: str, out: str) -> DataFrame:
        return (
            dist.join(F.broadcast(P), dist.event_type == P.prev_type)
            .groupBy(F.col("next_type").alias("event_type"))
            .agg(F.round(F.sum(F.col(col) * F.col("prob")), 6).alias(out))
        )

    p1 = step(p0, "p0", "p1")
    p2 = step(p1, "p1", "p2")
    return p0.join(p1, "event_type").join(p2, "event_type")


_SQL_MARKOV_TWO_STEP_DIST = """
WITH seq AS (
  SELECT event_type,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev_type
  FROM events
), pairs AS (
  SELECT prev_type, event_type AS next_type, count(*) AS c
  FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2
), P AS (
  SELECT prev_type, next_type,
         round(c / CAST(sum(c) OVER (PARTITION BY prev_type) AS DOUBLE), 6) AS prob
  FROM pairs
), p0 AS (
  SELECT event_type, round(count(*) / CAST(sum(count(*)) OVER () AS DOUBLE), 6) AS p0
  FROM events GROUP BY event_type
), p1 AS (
  SELECT next_type AS event_type, round(sum(p0 * prob), 6) AS p1
  FROM p0 JOIN P ON p0.event_type = P.prev_type GROUP BY next_type
), p2 AS (
  SELECT next_type AS event_type, round(sum(p1 * prob), 6) AS p2
  FROM p1 JOIN P ON p1.event_type = P.prev_type GROUP BY next_type
)
SELECT event_type, p0, p1, p2
FROM p0 JOIN p1 USING (event_type) JOIN p2 USING (event_type)
"""


# --------------------------------------------------------------------------
# padding_waste_audit
# --------------------------------------------------------------------------

_BATCH = 32


def _q_padding_waste_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-inference padding economics: fixed batches of 32 docs are
    padded to their batch max length; compare total padded tokens under
    (a) arrival order (md5(doc_id) — the unsorted baseline) and
    (b) length-sorted batching.  The length sort routinely saves
    30-60% of padded-token compute — the measurement that justifies a
    sort stage before every padded forward pass.  Ranks come from the
    two-phase ``global_row_number``; everything else is two hash
    aggregates over (strategy, batch)."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.size(F.split(F.col("text"), " ")).alias("len")
    )

    def batched(order_exprs, strategy: str) -> DataFrame:
        rn = global_row_number(docs, order_exprs, out_col="rn")
        return rn.select(
            F.lit(strategy).alias("strategy"),
            F.expr(f"(rn - 1) div {_BATCH}").alias("batch"),
            "len",
        )

    both = batched(
        [F.asc(F.md5(F.col("doc_id").cast("string"))), F.asc("doc_id")], "arrival"
    ).unionByName(batched([F.desc("len"), F.asc("doc_id")], "length_sorted"))
    per_batch = both.groupBy("strategy", "batch").agg(
        F.count(F.lit(1)).alias("n"),
        F.max("len").alias("mx"),
        F.sum("len").alias("tok"),
    )
    return per_batch.groupBy("strategy").agg(
        F.count(F.lit(1)).alias("n_batches"),
        F.sum("tok").alias("total_tokens"),
        F.sum(F.col("n") * F.col("mx")).alias("padded_tokens"),
        F.round(
            (F.sum(F.col("n") * F.col("mx")) - F.sum("tok")).cast("double")
            / F.sum(F.col("n") * F.col("mx")).cast("double"),
            6,
        ).alias("waste_frac"),
    )


_SQL_PADDING_WASTE_AUDIT = f"""
WITH docs AS (
  SELECT doc_id, len(string_split(text, ' ')) AS len FROM documents
), batched AS (
  SELECT 'arrival' AS strategy,
         (row_number() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) - 1)
           // {_BATCH} AS batch,
         len
  FROM docs
  UNION ALL
  SELECT 'length_sorted',
         (row_number() OVER (ORDER BY len DESC, doc_id) - 1) // {_BATCH},
         len
  FROM docs
), per_batch AS (
  SELECT strategy, batch, count(*) AS n, max(len) AS mx, sum(len) AS tok
  FROM batched GROUP BY 1, 2
)
SELECT strategy, count(*) AS n_batches,
       CAST(sum(tok) AS BIGINT) AS total_tokens,
       CAST(sum(n * mx) AS BIGINT) AS padded_tokens,
       round(CAST(sum(n * mx) - sum(tok) AS DOUBLE)
             / CAST(sum(n * mx) AS DOUBLE), 6) AS waste_frac
FROM per_batch GROUP BY strategy
"""


SPECS: dict[str, QuerySpec] = {
    "degree_assortativity": QuerySpec(
        _q_degree_assortativity,
        _SQL_DEGREE_ASSORTATIVITY,
        "degree assortativity (Newman r) of the co-purchase graph from "
        "exact BIGINT degree moments over the doubled edge list",
    ),
    "target_encode_loo": QuerySpec(
        _q_target_encode_loo,
        _SQL_TARGET_ENCODE_LOO,
        "leave-one-out target encoding of order priority vs order value "
        "(exact DECIMAL category sums; deterministic %100 output sample)",
    ),
    "rfm_quintile_codes": QuerySpec(
        _q_rfm_quintile_codes,
        _SQL_RFM_QUINTILE_CODES,
        "recency/frequency/monetary quintile segmentation via "
        "ntile_from_rank over two-phase global ranks (custkey tiebreaks)",
    ),
    "markov_two_step_dist": QuerySpec(
        _q_markov_two_step_dist,
        _SQL_MARKOV_TWO_STEP_DIST,
        "event-type mix pushed two steps through the empirical Markov "
        "transition matrix (tiny |types|-bounded join-aggregates)",
    ),
    "padding_waste_audit": QuerySpec(
        _q_padding_waste_audit,
        _SQL_PADDING_WASTE_AUDIT,
        "batch-inference padding waste: arrival-order vs length-sorted "
        "batches of 32, padded-token totals and waste fraction",
    ),
}
