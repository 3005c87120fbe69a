"""Round-5 incremental-maintenance pack: the "don't recompute the
world" patterns a continuously-loading warehouse lives by, each with
an exact full-recompute oracle — the merge/patch path must produce
BIT-IDENTICAL results to recomputing from scratch, and the oracle
proves it does:

* ``ivm_merge_rollup`` — incremental view maintenance for an additive
  rollup: the materialized per-priority (count, revenue) view built
  from the base partition is MERGED with the delta partition's partial
  aggregate (union of mergeable states + re-aggregate), never
  rescanning the base.  Oracle = the full recompute, plus a per-group
  delta-row count proving the merge actually carried delta state.
  At 100 TB this is the difference between touching one day and
  touching seven years.
* ``late_data_window_patch`` — the batch twin of watermark retraction:
  late-arriving events (a deterministic event_id slice) touch only
  SOME tumbling windows; the patch recomputes exactly the affected
  windows (semi-join on the late rows' window keys) and reports
  old/late/new counts per patched window.  Unaffected windows are
  never read — the affected-partition recomputation pattern.
* ``null_imputation_by_group`` — data repair: a deterministically
  masked value column is imputed with the per-event-type observed
  mean; output audits n_imputed and the before/after means.  The
  imputation value is computed once per group and joined back — one
  scan for stats, one for the repair.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load_table
from . import QuerySpec

# --------------------------------------------------------------------------
# ivm_merge_rollup
# --------------------------------------------------------------------------

_IVM_SPLIT = "1998-01-01"


def _q_ivm_merge_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    tp = F.col("o_totalprice").cast("decimal(18,2)")

    def partial(df: DataFrame, is_delta: int) -> DataFrame:
        return df.groupBy("o_orderpriority").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(tp).alias("rev"),
            F.lit(is_delta).alias("is_delta"),
        )

    base = partial(orders.where(F.col("o_orderdate") < _IVM_SPLIT), 0)
    delta = partial(orders.where(F.col("o_orderdate") >= _IVM_SPLIT), 1)
    # merge = union of mergeable states + re-aggregate; base is not rescanned
    merged = base.unionByName(delta).groupBy("o_orderpriority").agg(
        F.sum("n").alias("n_orders"),
        F.round(F.sum("rev").cast("double"), 6).alias("revenue"),
        F.sum(F.col("n") * F.col("is_delta")).alias("n_delta"),
    )
    return merged


_SQL_IVM_MERGE_ROLLUP = f"""
SELECT o_orderpriority,
       count(*) AS n_orders,
       round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 6) AS revenue,
       CAST(sum(CASE WHEN o_orderdate >= TIMESTAMP '{_IVM_SPLIT}'
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_delta
FROM orders GROUP BY o_orderpriority
"""


# --------------------------------------------------------------------------
# late_data_window_patch
# --------------------------------------------------------------------------

_HOUR_US = 3_600_000_000


def _q_late_data_window_patch(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        (F.unix_micros(F.col("ts")) / _HOUR_US).cast("long").alias("hour"),
    )
    on_time = ev.where(F.col("event_id") % 11 != 0)
    late = ev.where(F.col("event_id") % 11 == 0)
    late_counts = late.groupBy("hour").agg(F.count(F.lit(1)).alias("n_late"))
    # only windows the late slice touches are recomputed: the on-time
    # side is filtered by a semi-join on the affected window keys
    affected = on_time.join(late_counts.select("hour"), "hour", "left_semi")
    patched = (
        affected.groupBy("hour")
        .agg(F.count(F.lit(1)).alias("n_before"))
        .join(late_counts, "hour", "right")
        .select(
            "hour",
            F.coalesce("n_before", F.lit(0)).alias("n_before"),
            "n_late",
            (F.coalesce("n_before", F.lit(0)) + F.col("n_late")).alias("n_after"),
        )
    )
    return patched


_SQL_LATE_DATA_WINDOW_PATCH = """
WITH ev AS (
  SELECT event_id, epoch_us(ts) // 3600000000 AS hour FROM events
), late AS (
  SELECT hour, count(*) AS n_late FROM ev WHERE event_id % 11 = 0 GROUP BY hour
), before AS (
  SELECT hour, count(*) AS n_before FROM ev WHERE event_id % 11 <> 0 GROUP BY hour
)
SELECT l.hour, coalesce(b.n_before, 0) AS n_before, l.n_late,
       coalesce(b.n_before, 0) + l.n_late AS n_after
FROM late l LEFT JOIN before b ON l.hour = b.hour
"""


# --------------------------------------------------------------------------
# null_imputation_by_group
# --------------------------------------------------------------------------


def _q_null_imputation_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.when(F.col("user_id") % 7 != 0, F.col("value")).alias("v_masked"),
    )
    stats = ev.groupBy("event_type").agg(
        F.round(F.avg("v_masked"), 6).alias("mean_observed")
    )
    repaired = ev.join(F.broadcast(stats), "event_type").select(
        "event_type",
        "mean_observed",
        F.col("v_masked").isNull().cast("int").alias("was_null"),
        F.coalesce("v_masked", "mean_observed").alias("v"),
    )
    return repaired.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("was_null").alias("n_imputed"),
        F.max("mean_observed").alias("mean_observed"),
        F.round(F.avg("v"), 6).alias("mean_after"),
    )


_SQL_NULL_IMPUTATION_BY_GROUP = """
WITH masked AS (
  SELECT event_type,
         CASE WHEN user_id % 7 <> 0 THEN value END AS v_masked
  FROM events
), stats AS (
  SELECT event_type, round(avg(v_masked), 6) AS mean_observed
  FROM masked GROUP BY event_type
), repaired AS (
  SELECT m.event_type, s.mean_observed,
         CASE WHEN m.v_masked IS NULL THEN 1 ELSE 0 END AS was_null,
         coalesce(m.v_masked, s.mean_observed) AS v
  FROM masked m JOIN stats s ON m.event_type = s.event_type
)
SELECT event_type, count(*) AS n,
       CAST(sum(was_null) AS BIGINT) AS n_imputed,
       max(mean_observed) AS mean_observed,
       round(avg(v), 6) AS mean_after
FROM repaired GROUP BY event_type
"""


SPECS: dict[str, QuerySpec] = {
    "ivm_merge_rollup": QuerySpec(
        _q_ivm_merge_rollup,
        _SQL_IVM_MERGE_ROLLUP,
        "incremental view maintenance: base rollup merged with delta "
        "partial aggregate, proven identical to the full recompute",
    ),
    "late_data_window_patch": QuerySpec(
        _q_late_data_window_patch,
        _SQL_LATE_DATA_WINDOW_PATCH,
        "late-data patch: recompute ONLY the tumbling windows the late "
        "slice touches (semi-join on affected keys), old/late/new counts",
    ),
    "null_imputation_by_group": QuerySpec(
        _q_null_imputation_by_group,
        _SQL_NULL_IMPUTATION_BY_GROUP,
        "group-mean null imputation with audit (n_imputed, before/after "
        "means) — stats once per group, broadcast back for the repair",
    ),
}
