"""Round-5 governance/robustness pack: corrupt-input auditing,
l-diversity, and the join-strategy hint surface.

* ``json_validity_audit`` — error-tolerant semi-structured ingestion:
  a deterministically mangled copy of the ``props`` JSON column (every
  user_id ≡ 0 mod 3 row truncated to 5 chars — guaranteed-invalid
  JSON) is parsed with ``try_parse_json``, and the per-event-type
  valid/corrupt ledger is emitted.  This is the dead-letter-queue
  accounting every production ingest keeps; Spark's permissive
  variant parser and DuckDB's ``json_valid`` must agree row for row.
* ``l_diversity_audit`` — the companion to ``k_anonymity_audit``:
  a QI group can be large (k-anonymous) yet still leak if everyone in
  it shares the same sensitive value.  Per (nation, segment,
  balance-band) QI group, the number of DISTINCT order priorities its
  members placed; groups below l=3 are flagged with their size and
  diversity.  One join + two hash aggregates, bounded by QI-group
  count.
* ``smj_hint_rollup`` — the join-strategy hint surface: the same
  orders⋈lineitem revenue rollup the optimizer would broadcast or
  shuffle-hash on its own, FORCED through a sort-merge join with
  ``hint("merge")`` — the escape hatch when a "dimension" is
  TB-sized in production and broadcast would OOM.  Results must be
  identical to the unhinted plan (same oracle shape); the plan test
  asserts SortMergeJoin actually appears.

Scale notes: the validity audit is a pure map + one aggregate; the
diversity audit's frames are QI-bounded; the SMJ rollup is the
deliberate big-big join pattern — shuffle both sides on the key, no
broadcast assumption.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load_table
from . import QuerySpec

# --------------------------------------------------------------------------
# json_validity_audit
# --------------------------------------------------------------------------

_JV_TRUNC = 5


def _q_json_validity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    mangled = F.when(
        F.col("user_id") % 3 == 0, F.substring(F.col("props"), 1, _JV_TRUNC)
    ).otherwise(F.col("props"))
    flagged = ev.select(
        "event_type",
        F.try_parse_json(mangled).isNotNull().cast("int").alias("ok"),
    )
    return flagged.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("ok").alias("n_valid"),
        (F.count(F.lit(1)) - F.sum("ok")).alias("n_corrupt"),
    )


_SQL_JSON_VALIDITY_AUDIT = f"""
SELECT event_type, count(*) AS n_events,
       CAST(sum(CASE WHEN json_valid(
              CASE WHEN user_id % 3 = 0 THEN substr(props, 1, {_JV_TRUNC})
                   ELSE props END) THEN 1 ELSE 0 END) AS BIGINT) AS n_valid,
       CAST(sum(CASE WHEN json_valid(
              CASE WHEN user_id % 3 = 0 THEN substr(props, 1, {_JV_TRUNC})
                   ELSE props END) THEN 0 ELSE 1 END) AS BIGINT) AS n_corrupt
FROM events GROUP BY event_type
"""


# --------------------------------------------------------------------------
# l_diversity_audit
# --------------------------------------------------------------------------

_L_DIV = 3


def _q_l_diversity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QI groups whose members' sensitive attribute (order priority)
    takes fewer than l distinct values — re-identification risk that
    k-anonymity alone misses."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    qi = customer.select(
        "c_custkey",
        "c_nationkey",
        "c_mktsegment",
        (F.floor(F.col("c_acctbal") / 1000)).cast("bigint").alias("bal_band"),
    )
    j = qi.join(orders, qi.c_custkey == orders.o_custkey)
    groups = j.groupBy("c_nationkey", "c_mktsegment", "bal_band").agg(
        F.count_distinct("c_custkey").alias("group_size"),
        F.count_distinct("o_orderpriority").alias("diversity"),
    )
    return groups.where(F.col("diversity") < _L_DIV).select(
        "c_nationkey", "c_mktsegment", "bal_band", "group_size", "diversity"
    )


_SQL_L_DIVERSITY_AUDIT = f"""
WITH qi AS (
  SELECT c_custkey, c_nationkey, c_mktsegment,
         CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_band
  FROM customer
), j AS (
  SELECT qi.*, o_orderpriority FROM qi JOIN orders ON c_custkey = o_custkey
), groups AS (
  SELECT c_nationkey, c_mktsegment, bal_band,
         CAST(count(DISTINCT c_custkey) AS BIGINT) AS group_size,
         CAST(count(DISTINCT o_orderpriority) AS BIGINT) AS diversity
  FROM j GROUP BY 1, 2, 3
)
SELECT * FROM groups WHERE diversity < {_L_DIV}
"""


# --------------------------------------------------------------------------
# t_closeness_audit
# --------------------------------------------------------------------------

_T_CLOSE = 0.2


def _q_t_closeness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The third privacy gate after k-anonymity and l-diversity: a QI
    group can be large AND diverse yet still leak if its sensitive-value
    DISTRIBUTION differs sharply from the table's.  Per QI group, the
    ordinal earth-mover's distance between the group's order-priority
    distribution and the global one — EMD for an ordered attribute is
    the mean absolute difference of the cumulative distributions
    (Li et al., "t-Closeness", ICDE 2007).  Groups with EMD > t=0.2
    are flagged.  Frames are QI-group × 5-priority bounded."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    qi = customer.select(
        "c_custkey",
        "c_nationkey",
        "c_mktsegment",
        (F.floor(F.col("c_acctbal") / 1000)).cast("bigint").alias("bal_band"),
    )
    j = qi.join(orders, qi.c_custkey == orders.o_custkey).select(
        "c_nationkey", "c_mktsegment", "bal_band", "o_orderpriority"
    )
    cell = j.groupBy("c_nationkey", "c_mktsegment", "bal_band", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("c")
    )
    from pyspark.sql import Window as _W

    gw = _W.partitionBy("c_nationkey", "c_mktsegment", "bal_band")
    gcw = gw.orderBy("o_orderpriority").rowsBetween(
        _W.unboundedPreceding, _W.currentRow
    )
    glob_tot = _W.partitionBy()
    glob_cum = _W.partitionBy().orderBy("o_orderpriority").rowsBetween(
        _W.unboundedPreceding, _W.currentRow
    )
    # global distribution over the 5 priorities — a 5-row frame
    glob = (
        j.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("gc"))
        .select(
            "o_orderpriority",
            (
                F.sum("gc").over(glob_cum).cast("double")
                / F.sum("gc").over(glob_tot).cast("double")
            ).alias("g_cum_p"),
        )
    )
    # missing (group, priority) cells contribute their group's cum
    # fraction unchanged; a scaffold join fills them in explicitly
    groups = cell.select("c_nationkey", "c_mktsegment", "bal_band").distinct()
    scaffold = groups.crossJoin(F.broadcast(glob.select("o_orderpriority")))
    filled = scaffold.join(
        cell, ["c_nationkey", "c_mktsegment", "bal_band", "o_orderpriority"], "left"
    ).select(
        "c_nationkey",
        "c_mktsegment",
        "bal_band",
        "o_orderpriority",
        F.coalesce("c", F.lit(0)).alias("c"),
    )
    cum = filled.select(
        "c_nationkey",
        "c_mktsegment",
        "bal_band",
        "o_orderpriority",
        (
            F.sum("c").over(gcw).cast("double") / F.sum("c").over(gw).cast("double")
        ).alias("cum_p"),
        F.sum("c").over(gw).alias("group_n"),
    )
    emd = (
        cum.join(F.broadcast(glob), "o_orderpriority")
        .groupBy("c_nationkey", "c_mktsegment", "bal_band")
        .agg(
            F.max("group_n").alias("group_n"),
            F.round(
                F.sum(F.abs(F.col("cum_p") - F.col("g_cum_p")))
                / (F.count(F.lit(1)) - 1),
                6,
            ).alias("emd"),
        )
    )
    return emd.where(F.col("emd") > _T_CLOSE).select(
        "c_nationkey", "c_mktsegment", "bal_band", "group_n", "emd"
    )


_SQL_T_CLOSENESS_AUDIT = f"""
WITH qi AS (
  SELECT c_custkey, c_nationkey, c_mktsegment,
         CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_band
  FROM customer
), j AS (
  SELECT c_nationkey, c_mktsegment, bal_band, o_orderpriority
  FROM qi JOIN orders ON c_custkey = o_custkey
), cell AS (
  SELECT c_nationkey, c_mktsegment, bal_band, o_orderpriority, count(*) AS c
  FROM j GROUP BY 1, 2, 3, 4
), gdist AS (
  SELECT o_orderpriority,
         CAST(sum(gc) OVER (ORDER BY o_orderpriority
                            ROWS UNBOUNDED PRECEDING) AS DOUBLE)
           / CAST(sum(gc) OVER () AS DOUBLE) AS g_cum_p
  FROM (SELECT o_orderpriority, count(*) AS gc FROM j GROUP BY 1)
), scaffold AS (
  SELECT g.c_nationkey, g.c_mktsegment, g.bal_band, p.o_orderpriority
  FROM (SELECT DISTINCT c_nationkey, c_mktsegment, bal_band FROM cell) g
  CROSS JOIN (SELECT o_orderpriority FROM gdist) p
), filled AS (
  SELECT s.c_nationkey, s.c_mktsegment, s.bal_band, s.o_orderpriority,
         coalesce(c.c, 0) AS c
  FROM scaffold s LEFT JOIN cell c USING (c_nationkey, c_mktsegment, bal_band, o_orderpriority)
), cum AS (
  SELECT c_nationkey, c_mktsegment, bal_band, o_orderpriority,
         CAST(sum(c) OVER (PARTITION BY c_nationkey, c_mktsegment, bal_band
                           ORDER BY o_orderpriority
                           ROWS UNBOUNDED PRECEDING) AS DOUBLE)
           / CAST(sum(c) OVER (PARTITION BY c_nationkey, c_mktsegment, bal_band)
                  AS DOUBLE) AS cum_p,
         sum(c) OVER (PARTITION BY c_nationkey, c_mktsegment, bal_band) AS group_n
  FROM filled
), emd AS (
  SELECT c_nationkey, c_mktsegment, bal_band,
         CAST(max(group_n) AS BIGINT) AS group_n,
         round(sum(abs(cum_p - g_cum_p)) / (count(*) - 1), 6) AS emd
  FROM cum JOIN gdist USING (o_orderpriority)
  GROUP BY 1, 2, 3
)
SELECT * FROM emd WHERE emd > {_T_CLOSE}
"""


# --------------------------------------------------------------------------
# smj_hint_rollup
# --------------------------------------------------------------------------

def _q_smj_hint_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").hint("merge")
    li = load_table(spark, sf_dir, "lineitem")
    j = li.join(orders, li.l_orderkey == orders.o_orderkey)
    return j.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.round(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    "decimal(18,6)"
                )
            ).cast("double"),
            6,
        ).alias("revenue"),
    )


_SQL_SMJ_HINT_ROLLUP = """
SELECT o_orderpriority, count(*) AS n_items,
       round(CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                           AS DECIMAL(18,6))) AS DOUBLE), 6) AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
"""


SPECS: dict[str, QuerySpec] = {
    "json_validity_audit": QuerySpec(
        _q_json_validity_audit,
        _SQL_JSON_VALIDITY_AUDIT,
        "corrupt-JSON ledger per event type via try_parse_json over a "
        "deterministically mangled column (dead-letter accounting)",
    ),
    "l_diversity_audit": QuerySpec(
        _q_l_diversity_audit,
        _SQL_L_DIVERSITY_AUDIT,
        "l-diversity audit (l=3): QI groups whose sensitive attribute "
        "takes too few distinct values — k-anonymity's companion gate",
    ),
    "t_closeness_audit": QuerySpec(
        _q_t_closeness_audit,
        _SQL_T_CLOSENESS_AUDIT,
        "t-closeness audit (t=0.2): ordinal EMD between each QI group's "
        "sensitive-value distribution and the global one — completes "
        "the k-anonymity / l-diversity / t-closeness trio",
    ),
    "smj_hint_rollup": QuerySpec(
        _q_smj_hint_rollup,
        _SQL_SMJ_HINT_ROLLUP,
        "revenue rollup forced through a sort-merge join via hint('merge') "
        "(the TB-sized-dimension escape hatch); plan test asserts SMJ",
    ),
}
