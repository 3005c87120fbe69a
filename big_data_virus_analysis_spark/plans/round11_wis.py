"""Round-11 weighted-interval pack: exact weighted interval scheduling
per user — the canonical big sibling of round-10's EFT activity
selection (EFT maximizes the COUNT of non-overlapping activities; the
weighted DP maximizes their VALUE, and greedy is provably suboptimal
there — the gap is emitted).

* ``weighted_interval_sessions`` — the same per-user activity
  intervals as ``interval_greedy_sessions`` ([ts, ts + chars·rate],
  value = the event-type length in chars), solved exactly by the
  classical predecessor DP (Kleinberg-Tardos §6.1): intervals in
  finish order, M_i = max(M_{i−1}, v_i + M_{p(i)}) with p(i) = the
  number of intervals finishing ≤ start_i — computed inside ONE
  per-key fold carrying the (finishes, M) arrays (the prefix of
  finishes is already sorted, so p(i) is a count, not a search).
  Beside it, the EFT greedy's VALUE on the same intervals.  Output:
  the top-10 users by optimal value (value order, user tiebreak) with
  per-user ``wis_value``, ``greedy_value``, the dominance certificate
  ``wis_ge_greedy``, and the corpus totals + the per-key sequence
  bound on every row (the belady premise convention).

100-TB shape: one events scan → per-user hash agg (map-side partial
collect) → per-key fold whose state is bounded by the emitted
``max_seq_len`` → constant-size rollup + TakeOrderedAndProject.

Identity properties (tests/test_properties.py): the fold equals
brute-force subset enumeration on random interval sets; greedy-count
equals r10's EFT fold; wis ≥ greedy always, with strict gap on the
textbook long-vs-two-short instance.

No reference counterpart (scheduling extension alongside
plans/round10_replay.py); public algorithm only (weighted interval
scheduling DP, Kleinberg-Tardos).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load_table
from . import QuerySpec
from .round10_replay import IVL_SEC_PER_CHAR

#: top-k users emitted
WIS_TOPK = 10

_WIS_FOLD = """aggregate(
  ivs,
  named_struct('fins', CAST(array() AS ARRAY<BIGINT>),
               'ms', CAST(array() AS ARRAY<BIGINT>)),
  (acc, e) -> named_struct(
    'fins', concat(acc.fins, array(e.fin)),
    'ms', concat(acc.ms, array(greatest(
      IF(size(acc.ms) = 0, CAST(0 AS BIGINT),
         element_at(acc.ms, size(acc.ms))),
      e.v + IF(size(filter(acc.fins, f -> f <= e.st)) = 0,
               CAST(0 AS BIGINT),
               element_at(acc.ms,
                 size(filter(acc.fins, f -> f <= e.st)))))))),
  acc -> IF(size(acc.ms) = 0, CAST(0 AS BIGINT),
            element_at(acc.ms, size(acc.ms))))"""

_GREEDY_V_FOLD = """aggregate(
  ivs,
  named_struct('fin', CAST(0 AS BIGINT), 'val', CAST(0 AS BIGINT)),
  (acc, e) -> IF(e.st >= acc.fin,
    named_struct('fin', e.fin, 'val', acc.val + e.v),
    acc),
  acc -> acc.val)"""


def _q_weighted_interval_sessions(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    per = (
        ev.select(
            "user_id",
            F.unix_micros("ts").alias("st"),
            (
                F.unix_micros("ts")
                + F.length("event_type").cast("bigint")
                * (IVL_SEC_PER_CHAR * 1_000_000)
            ).alias("fin"),
            F.length("event_type").cast("bigint").alias("v"),
        )
        .groupBy("user_id")
        .agg(
            F.expr(
                "sort_array(collect_list(named_struct("
                "'fin', fin, 'st', st, 'v', v)))"
            ).alias("ivs"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            "user_id",
            "n_events",
            F.expr(_WIS_FOLD).alias("wis_value"),
            F.expr(_GREEDY_V_FOLD).alias("greedy_value"),
        )
    )
    tot = per.agg(
        F.sum("wis_value").alias("total_wis"),
        F.sum("greedy_value").alias("total_greedy"),
        F.max("n_events").alias("max_seq_len"),
        F.min(
            (F.col("wis_value") >= F.col("greedy_value")).cast("int")
        )
        .cast("boolean")
        .alias("wis_ge_greedy_all_users"),
    )
    return (
        per.orderBy(F.desc("wis_value"), F.asc("user_id"))
        .limit(WIS_TOPK)
        .crossJoin(F.broadcast(tot))
        .select(
            "user_id",
            "n_events",
            "wis_value",
            "greedy_value",
            (F.col("wis_value") >= F.col("greedy_value")).alias(
                "wis_ge_greedy"
            ),
            "total_wis",
            "total_greedy",
            "max_seq_len",
            "wis_ge_greedy_all_users",
        )
        .orderBy(F.desc("wis_value"), F.asc("user_id"))
    )


_SQL_WIS = f"""
WITH RECURSIVE iv AS MATERIALIZED (
  SELECT user_id,
         epoch_us(ts) AS st,
         epoch_us(ts) + length(event_type)
           * {IVL_SEC_PER_CHAR * 1_000_000} AS fin,
         CAST(length(event_type) AS BIGINT) AS v,
         row_number() OVER (
           PARTITION BY user_id
           ORDER BY epoch_us(ts) + length(event_type)
                    * {IVL_SEC_PER_CHAR * 1_000_000},
                    epoch_us(ts), length(event_type)
         ) AS rn
  FROM events
), counts AS MATERIALIZED (
  SELECT user_id, CAST(count(*) AS BIGINT) AS n_events
  FROM iv GROUP BY user_id
), walk AS (
  SELECT user_id, CAST(0 AS BIGINT) AS i,
         CAST([] AS BIGINT[]) AS fins,
         CAST([] AS BIGINT[]) AS ms,
         CAST(0 AS BIGINT) AS g_fin,
         CAST(0 AS BIGINT) AS g_val
  FROM counts
  UNION ALL
  SELECT w.user_id, w.i + 1,
         list_append(w.fins, e.fin),
         list_append(w.ms, greatest(
           CASE WHEN len(w.ms) = 0 THEN 0 ELSE w.ms[-1] END,
           e.v + CASE WHEN len(list_filter(w.fins, f -> f <= e.st)) = 0
                      THEN 0
                      ELSE w.ms[len(list_filter(w.fins,
                                                f -> f <= e.st))] END)),
         CASE WHEN e.st >= w.g_fin THEN e.fin ELSE w.g_fin END,
         CASE WHEN e.st >= w.g_fin THEN w.g_val + e.v ELSE w.g_val END
  FROM walk w
  JOIN iv e ON e.user_id = w.user_id AND e.rn = w.i + 1
), fin AS MATERIALIZED (
  SELECT w.user_id,
         CASE WHEN len(w.ms) = 0 THEN 0 ELSE CAST(w.ms[-1] AS BIGINT) END
           AS wis_value,
         w.g_val AS greedy_value
  FROM walk w JOIN counts c
    ON c.user_id = w.user_id AND w.i = c.n_events
), per AS MATERIALIZED (
  SELECT f.user_id, c.n_events, f.wis_value, f.greedy_value
  FROM fin f JOIN counts c ON c.user_id = f.user_id
), tot AS MATERIALIZED (
  SELECT CAST(sum(wis_value) AS BIGINT) AS total_wis,
         CAST(sum(greedy_value) AS BIGINT) AS total_greedy,
         CAST(max(n_events) AS BIGINT) AS max_seq_len,
         CAST(min(CASE WHEN wis_value >= greedy_value
                       THEN 1 ELSE 0 END) AS BOOLEAN)
           AS wis_ge_greedy_all_users
  FROM per
)
SELECT p.user_id, p.n_events, p.wis_value, p.greedy_value,
       p.wis_value >= p.greedy_value AS wis_ge_greedy,
       t.total_wis, t.total_greedy, t.max_seq_len,
       t.wis_ge_greedy_all_users
FROM per p CROSS JOIN tot t
ORDER BY p.wis_value DESC, p.user_id
LIMIT {WIS_TOPK}
"""


SPECS: dict[str, QuerySpec] = {
    "weighted_interval_sessions": QuerySpec(
        _q_weighted_interval_sessions,
        _SQL_WIS,
        "exact weighted interval scheduling per user (predecessor DP "
        "as one per-key fold vs the recursive-CTE replay): top-10 "
        "users by optimal value with the EFT-greedy value and the "
        "wis>=greedy dominance certificate in-band",
    ),
}
