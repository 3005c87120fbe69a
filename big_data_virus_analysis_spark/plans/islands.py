"""Gaps-and-islands pack: activity streaks, SCD2 interval construction,
and view→purchase conversion latency.

Three interval/sequence reconstructions that relational engines express
with window arithmetic instead of per-key loops:

* **gaps and islands** — consecutive-day streaks via the classic
  ``day_num − row_number()`` island key (consecutive days share a
  constant difference).
* **SCD2 intervals** — change-data rows → (valid_from, valid_to]
  intervals via lead() over the per-key timeline; the slowly-changing-
  dimension build every warehouse needs.
* **conversion latency** — per purchase, time since the user's most
  recent preceding view, via a running conditional ``last(...,
  ignorenulls)`` window — the as-of join collapsed into one sequence
  scan when both sides live in the same ordered log.

All three shuffle exactly once, on user_id — sequences never cross
partitions, so the plans are unchanged at 100 TB.  Conventions as in
catalog.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.tables import load_table
from . import QuerySpec

_DAY_US = 86_400_000_000


# --------------------------------------------------------------------------
# Longest consecutive-day activity streak per user
# --------------------------------------------------------------------------

def _q_longest_active_streak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest run of consecutive active days per user.  Islands key:
    ``day_num − row_number()`` over the user's DISTINCT active days is
    constant exactly within a consecutive run; grouping on it yields
    streak lengths.  Two window/agg passes, both partitioned on
    user_id — one shuffle total."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        (F.unix_micros(F.col("ts")) / _DAY_US).cast("long").alias("day_num"),
    )
    days = ev.distinct()
    w = Window.partitionBy("user_id").orderBy("day_num")
    islands = days.withColumn(
        "island", F.col("day_num") - F.row_number().over(w)
    )
    streaks = islands.groupBy("user_id", "island").agg(
        F.count("*").alias("streak_len"),
        F.min("day_num").alias("streak_start"),
    )
    best = F.max(
        F.struct(
            F.col("streak_len").alias("l"),
            (-F.col("streak_start")).alias("ns"),
        )
    )
    return streaks.groupBy("user_id").agg(
        best.getField("l").alias("longest_streak"),
        (-best.getField("ns")).alias("streak_start_day"),
    )


_SQL_LONGEST_ACTIVE_STREAK = """
WITH days AS (
  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day_num FROM events
), islands AS (
  SELECT user_id, day_num,
         day_num - row_number() OVER (PARTITION BY user_id ORDER BY day_num)
           AS island
  FROM days
), streaks AS (
  SELECT user_id, island, count(*) AS streak_len, min(day_num) AS streak_start
  FROM islands GROUP BY 1, 2
)
SELECT user_id,
       (max(struct_pack(l := streak_len, ns := -streak_start))).l
         AS longest_streak,
       -(max(struct_pack(l := streak_len, ns := -streak_start))).ns
         AS streak_start_day
FROM streaks
GROUP BY user_id
"""


# --------------------------------------------------------------------------
# SCD2 interval construction (change log → validity intervals)
# --------------------------------------------------------------------------

def _q_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type-2 build: each user's event-type
    changes become (valid_from, valid_to] intervals — lead() over the
    per-user timeline supplies the closing edge, NULL marking the
    current row.  Change rows are isolated first with a lag()
    comparison, so repeated values collapse.  Both windows partition on
    user_id: one shuffle."""
    ev = load_table(spark, sf_dir, "events").where(F.col("user_id") < 100)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changes = (
        ev.withColumn("prev", F.lag("event_type").over(w))
        .where(F.col("prev").isNull() | (F.col("prev") != F.col("event_type")))
        .select("user_id", "event_type", F.unix_micros("ts").alias("valid_from_us"),
                "event_id")
    )
    w2 = Window.partitionBy("user_id").orderBy("valid_from_us", "event_id")
    return changes.select(
        "user_id",
        F.col("event_type").alias("state"),
        "valid_from_us",
        F.lead("valid_from_us").over(w2).alias("valid_to_us"),
    )


_SQL_SCD2_INTERVALS = """
WITH changes AS (
  SELECT user_id, event_type, epoch_us(ts) AS valid_from_us, event_id
  FROM (
    SELECT user_id, event_type, ts, event_id,
           lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
             AS prev
    FROM events WHERE user_id < 100
  )
  WHERE prev IS NULL OR prev <> event_type
)
SELECT user_id, event_type AS state, valid_from_us,
       lead(valid_from_us) OVER (PARTITION BY user_id
                                 ORDER BY valid_from_us, event_id)
         AS valid_to_us
FROM changes
"""


# --------------------------------------------------------------------------
# View→purchase conversion latency (sequence as-of)
# --------------------------------------------------------------------------

def _q_conversion_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seconds from each purchase back to the user's most recent
    preceding view — the as-of join collapsed into one ordered pass:
    a running ``last(when(view, ts), ignorenulls)`` window carries the
    latest view time forward, purchases read it row-locally.  Summary:
    conversion-latency quartiles per event count bucket would follow;
    here we emit the per-purchase latencies (bounded by the purchase
    count) for exactness."""
    ev = load_table(spark, sf_dir, "events").where(F.col("user_id") < 200)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    last_view = F.last(
        F.when(F.col("event_type") == "view", F.unix_micros("ts")), ignorenulls=True
    ).over(w)
    return (
        ev.withColumn("last_view_us", last_view)
        .where((F.col("event_type") == "purchase") & F.col("last_view_us").isNotNull())
        .select(
            "user_id",
            "event_id",
            F.round(
                (F.unix_micros("ts") - F.col("last_view_us")) / 1_000_000.0, 3
            ).alias("latency_sec"),
        )
    )


_SQL_CONVERSION_LATENCY = """
SELECT user_id, event_id,
       round((epoch_us(ts) - last_view_us) / 1000000.0, 3) AS latency_sec
FROM (
  SELECT user_id, event_id, ts, event_type,
         last_value(CASE WHEN event_type = 'view' THEN epoch_us(ts) END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS last_view_us
  FROM events WHERE user_id < 200
)
WHERE event_type = 'purchase' AND last_view_us IS NOT NULL
"""


SPECS: dict[str, QuerySpec] = {
    "longest_active_streak": QuerySpec(
        _q_longest_active_streak,
        _SQL_LONGEST_ACTIVE_STREAK,
        "gaps-and-islands consecutive-day streaks (day − row_number key)",
    ),
    "scd2_intervals": QuerySpec(
        _q_scd2_intervals,
        _SQL_SCD2_INTERVALS,
        "SCD2 validity intervals from a change log via lag-filter + lead",
    ),
    "conversion_latency": QuerySpec(
        _q_conversion_latency,
        _SQL_CONVERSION_LATENCY,
        "view→purchase latency via running conditional last() (sequence as-of)",
    ),
}
