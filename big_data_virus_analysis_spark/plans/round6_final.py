"""Round-6 final pack — operating-point sweep, star-join rollup, and
the ingest idempotency audit.

* ``threshold_sweep_metrics`` — the classifier operating-point table:
  precision / recall / F1 / Matthews correlation for the fixed LCG
  sigmoid scorer at 9 fixed probability thresholds (0.1 … 0.9).
  Confusion counts are exact integers from ONE scan (the 9-row
  threshold grid broadcasts onto the scored frame); every metric is
  closed-form from TP/FP/FN/TN.  The operating-point complement to
  ``fixed_scorer_auc`` (ranking) and ``pr_curve_deciles``
  (data-quantile cuts).
* ``star_join_region_priority`` — the canonical 4-table star rollup:
  revenue and order counts by region × order priority through
  orders ⋈ customer ⋈ nation ⋈ region, every dimension broadcast
  (the physical plan a 1000-executor warehouse must produce — one
  fact scan, zero dim shuffles; asserted in tests/test_plans.py).
* ``event_ledger_idempotency`` — exactly-once audit over the events
  ledger: duplicate event_id count, max multiplicity, affected-row
  share — the invariant an at-least-once ingest pipeline checks
  before trusting downstream counts.  One hash aggregate on the id.

100 TB shape: one fact scan each; the sweep's grid is 9 rows, the
star's dims broadcast, the ledger audit shuffles only the id-keyed
partial aggregation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.similarity import DIM, _plane_weight
from ..sources.tables import load_table
from . import QuerySpec

# --------------------------------------------------------------------------
# threshold_sweep_metrics
# --------------------------------------------------------------------------

_TS_THRESHOLDS = [i / 10.0 for i in range(1, 10)]


def _q_threshold_sweep_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    plane = F.array(*[F.lit(_plane_weight(0, d)) for d in range(DIM)])
    score = F.aggregate(
        F.zip_with(F.col("embedding"), plane, lambda x, wt: x.cast("double") * wt),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    # 1e-6-quantized probability: bin membership is integer-exact
    scored = emb.select(
        F.floor((F.lit(1.0) / (F.lit(1.0) + F.exp(-score))) * 1e6 + 0.5)
        .cast("bigint")
        .alias("p6"),
        (F.col("label") < 5).cast("bigint").alias("y"),
    )
    grid = F.explode(
        F.array(*[F.lit(int(t * 1e6)) for t in _TS_THRESHOLDS])
    ).alias("t6")
    cells = scored.select("p6", "y", grid).groupBy("t6").agg(
        F.sum(((F.col("p6") >= F.col("t6")) & (F.col("y") == 1)).cast("bigint")).alias(
            "tp"
        ),
        F.sum(((F.col("p6") >= F.col("t6")) & (F.col("y") == 0)).cast("bigint")).alias(
            "fp"
        ),
        F.sum(((F.col("p6") < F.col("t6")) & (F.col("y") == 1)).cast("bigint")).alias(
            "fn"
        ),
        F.sum(((F.col("p6") < F.col("t6")) & (F.col("y") == 0)).cast("bigint")).alias(
            "tn"
        ),
    )
    tp = F.col("tp").cast("double")
    fp = F.col("fp").cast("double")
    fn = F.col("fn").cast("double")
    tn = F.col("tn").cast("double")
    # ANSI mode raises on x/0, and empty predicted-positive sets are a
    # legitimate sweep outcome at high thresholds — every metric guards
    # its denominator and reports NULL where undefined (both engines)
    prec = F.when(tp + fp > 0, tp / (tp + fp))
    rec = F.when(tp + fn > 0, tp / (tp + fn))
    f1 = F.when(
        (tp + fp > 0) & (tp + fn > 0) & (tp > 0),
        2.0 * (tp / (tp + fp)) * (tp / (tp + fn))
        / (tp / (tp + fp) + tp / (tp + fn)),
    )
    mcc_den = (tp + fp) * (tp + fn) * (tn + fp) * (tn + fn)
    mcc = F.when(mcc_den > 0, (tp * tn - fp * fn) / F.sqrt(mcc_den))
    return cells.select(
        (F.col("t6").cast("double") / 1e6).alias("threshold"),
        "tp",
        "fp",
        "fn",
        "tn",
        F.round(prec, 6).alias("precision"),
        F.round(rec, 6).alias("recall"),
        F.round(f1, 6).alias("f1"),
        F.round(mcc, 6).alias("mcc"),
    )


_TS_W_VALUES = ", ".join(f"({d + 1}, {_plane_weight(0, d)!r})" for d in range(DIM))
_TS_GRID = ", ".join(f"({int(t * 1e6)})" for t in _TS_THRESHOLDS)

_SQL_THRESHOLD_SWEEP_METRICS = f"""
WITH w(i, wt) AS (VALUES {_TS_W_VALUES}),
elems AS (
  SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS x
  FROM embeddings CROSS JOIN (SELECT unnest(generate_series(1, {DIM})) AS i)
), scored AS (
  SELECT CAST(floor((1.0 / (1.0 + exp(-sum(e.x * w.wt)))) * 1e6 + 0.5)
              AS BIGINT) AS p6,
         CASE WHEN l.label < 5 THEN 1 ELSE 0 END AS y
  FROM elems e JOIN w USING (i) JOIN embeddings l ON e.vec_id = l.vec_id
  GROUP BY e.vec_id, l.label
), grid(t6) AS (VALUES {_TS_GRID}),
cells AS (
  SELECT g.t6,
         CAST(sum(CASE WHEN s.p6 >= g.t6 AND s.y = 1 THEN 1 ELSE 0 END)
              AS BIGINT) AS tp,
         CAST(sum(CASE WHEN s.p6 >= g.t6 AND s.y = 0 THEN 1 ELSE 0 END)
              AS BIGINT) AS fp,
         CAST(sum(CASE WHEN s.p6 < g.t6 AND s.y = 1 THEN 1 ELSE 0 END)
              AS BIGINT) AS fn,
         CAST(sum(CASE WHEN s.p6 < g.t6 AND s.y = 0 THEN 1 ELSE 0 END)
              AS BIGINT) AS tn
  FROM scored s CROSS JOIN grid g
  GROUP BY g.t6
)
SELECT CAST(t6 AS DOUBLE) / 1e6 AS threshold, tp, fp, fn, tn,
       round(CASE WHEN tp + fp > 0
                  THEN CAST(tp AS DOUBLE) / (tp + fp) END, 6) AS precision,
       round(CASE WHEN tp + fn > 0
                  THEN CAST(tp AS DOUBLE) / (tp + fn) END, 6) AS recall,
       round(CASE WHEN tp + fp > 0 AND tp + fn > 0 AND tp > 0
                  THEN 2.0 * (CAST(tp AS DOUBLE) / (tp + fp))
                       * (CAST(tp AS DOUBLE) / (tp + fn))
                       / (CAST(tp AS DOUBLE) / (tp + fp)
                          + CAST(tp AS DOUBLE) / (tp + fn)) END, 6) AS f1,
       round(CASE WHEN CAST(tp + fp AS DOUBLE) * (tp + fn)
                       * (tn + fp) * (tn + fn) > 0
                  THEN (CAST(tp AS DOUBLE) * tn - CAST(fp AS DOUBLE) * fn)
                       / sqrt(CAST(tp + fp AS DOUBLE) * (tp + fn)
                              * (tn + fp) * (tn + fn)) END, 6) AS mcc
FROM cells
"""


# --------------------------------------------------------------------------
# star_join_region_priority
# --------------------------------------------------------------------------


def _q_star_join_region_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    dim = (
        customer.join(
            F.broadcast(nation), customer["c_nationkey"] == nation["n_nationkey"]
        )
        .join(F.broadcast(region), nation["n_regionkey"] == region["r_regionkey"])
        .select("c_custkey", F.col("r_name").alias("region"))
    )
    return (
        orders.join(F.broadcast(dim), orders["o_custkey"] == dim["c_custkey"])
        .groupBy("region", F.col("o_orderpriority").alias("priority"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            # r12 driver-parity: exact decimal sum, DOUBLE final
            # emission (wide decimals render differently per engine
            # on the driver channel; value-exact at these magnitudes)
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("revenue"),
        )
    )


_SQL_STAR_JOIN_REGION_PRIORITY = """
SELECT r.r_name AS region, o.o_orderpriority AS priority,
       CAST(count(*) AS BIGINT) AS n_orders,
       -- DOUBLE final emission (driver-parity; exact decimal sum)
       CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
         AS revenue
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# event_ledger_idempotency
# --------------------------------------------------------------------------


def _q_event_ledger_idempotency(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    per_id = events.groupBy("event_id").agg(F.count(F.lit(1)).alias("c"))
    return per_id.agg(
        F.sum("c").alias("n_rows"),
        F.count(F.lit(1)).alias("n_distinct_ids"),
        F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(F.lit(0))).alias(
            "rows_in_dup_ids"
        ),
        F.max("c").alias("max_multiplicity"),
        F.round(
            F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(F.lit(0))).cast(
                "double"
            )
            / F.sum("c").cast("double"),
            6,
        ).alias("dup_row_share"),
    )


_SQL_EVENT_LEDGER_IDEMPOTENCY = """
WITH per_id AS (
  SELECT event_id, count(*) AS c FROM events GROUP BY 1
)
SELECT CAST(sum(c) AS BIGINT) AS n_rows,
       CAST(count(*) AS BIGINT) AS n_distinct_ids,
       CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT)
         AS rows_in_dup_ids,
       CAST(max(c) AS BIGINT) AS max_multiplicity,
       round(CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS DOUBLE)
             / sum(c), 6) AS dup_row_share
FROM per_id
"""


SPECS: dict[str, QuerySpec] = {
    "threshold_sweep_metrics": QuerySpec(
        _q_threshold_sweep_metrics,
        _SQL_THRESHOLD_SWEEP_METRICS,
        "precision/recall/F1/MCC of the fixed sigmoid scorer at 9 "
        "probability thresholds from one scan (exact confusion counts)",
    ),
    "star_join_region_priority": QuerySpec(
        _q_star_join_region_priority,
        _SQL_STAR_JOIN_REGION_PRIORITY,
        "4-table star rollup (orders x customer x nation x region) "
        "with every dimension broadcast — one fact scan, zero dim "
        "shuffles (plan-tested)",
    ),
    "event_ledger_idempotency": QuerySpec(
        _q_event_ledger_idempotency,
        _SQL_EVENT_LEDGER_IDEMPOTENCY,
        "exactly-once ledger audit: duplicate event_id rows, max "
        "multiplicity, dup-row share",
    ),
}
