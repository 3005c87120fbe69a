"""Round-10 per-key replay pack: inherently-sequential per-entity
algorithms run as DISTRIBUTED per-key array folds — the third fold
shape in the round-10 family (round9_absorb/round10_dag fold bounded
GLOBAL state on a 1-row frame; round10_sched folds a calendar-bounded
list; here the fold runs INSIDE a corpus-sized aggregation, one
accumulator per user, embarrassingly parallel across keys).

* ``interval_greedy_sessions`` — classic activity selection (the
  earliest-finish-time greedy, provably optimal): per user, events
  spawn activity intervals [ts, ts + 300 s × length(event_type))
  (duration keyed by activity type), and the maximum set of
  non-overlapping activities is the EFT greedy over the
  finish-sorted list.  Output: histogram of per-user maxima, with the
  corpus-wide total and the LONGEST per-user sequence actually folded
  emitted as audit columns (the boundedness premise — ~66–99 events
  per user here, session-bounded by construction — is reported, not
  assumed).
* ``token_bucket_throttle_audit`` — a rate-limiter replay
  (token-bucket, the SRE standard): per user, replay events against a
  bucket of ``TB_CAP_MICRO`` micro-tokens refilling at
  ``TB_RATE_MICRO`` micro-tokens/second (integer: refill =
  (Δts_us · rate) div 1e6); each event spends 1e6 micro-tokens or is
  rejected.  Output: the top-10 throttled users (rejected desc) with
  per-user allowed/rejected, plus corpus totals.

Engine parity mechanics: the Spark side collects per-user event lists
ORDER-DETERMINISTICALLY (``sort_array`` over structs whose FIELD ORDER
encodes the sort key) and folds them with ``aggregate()``.  The DuckDB
oracles deliberately do NOT mirror that fold: DuckDB 1.0's
``list_reduce`` mis-evaluates repeated subexpressions across struct
fields in long folds (found while building this pack — two CASEs over
the SAME guard disagreed within one lambda application at step 3 of a
4-element fold, while the isolated step evaluates correctly).  Each
oracle instead replays the identical integer trajectory as a
RECURSIVE CTE over row-numbered per-user sequences — plain relational
evaluation AND an algorithmically independent second spelling, which
makes the hash-match a stronger check than a mirrored fold would be.

100-TB shape: ONE events scan → one hash aggregate keyed by user
(map-side partial collect) → narrow fold per row → re-aggregate.  No
windows, no joins, no iteration frames; state never leaves the key.
Per-key sequence length is the only memory bound and is emitted.

Identity properties (tests/test_properties.py): the EFT fold equals
brute-force maximum non-overlapping subset on small instances (the
greedy's optimality, exercised end-to-end), and the token-bucket fold
matches an independent pure-Python replay including conservation
(allowed + rejected == n_events).

No reference counterpart (sessionization/SRE extension alongside
operators/sessions.py and plans/round7_sre.py); public algorithms
only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load_table
from . import QuerySpec

#: activity seconds per character of event_type (duration by type)
IVL_SEC_PER_CHAR = 300
#: token bucket: capacity and refill rate in micro-tokens (1 request
#: costs 1_000_000; rate 120/s means one token every ~2.3 hours — slow
#: enough that session bursts visibly throttle)
TB_CAP_MICRO = 3_000_000
TB_RATE_MICRO = 120
#: rows returned by the throttle audit
TB_TOPK = 10


def _q_interval_greedy_sessions(
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
        )
        .groupBy("user_id")
        .agg(
            # EFT order = (fin, st) — encoded as struct field order;
            # cnt rides along at 0 so elements share the acc shape
            F.expr(
                "sort_array(collect_list(named_struct("
                "'fin', fin, 'st', st, 'cnt', CAST(0 AS BIGINT))))"
            ).alias("ivs"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            "user_id",
            "n_events",
            # fold: select iff st >= last selected finish (acc.fin);
            # init fin = 0 (< every epoch-micros), so the first
            # interval is always selected
            F.expr(
                """aggregate(
                  ivs,
                  named_struct('fin', CAST(0 AS BIGINT),
                               'st', CAST(0 AS BIGINT),
                               'cnt', CAST(0 AS BIGINT)),
                  (acc, e) -> IF(e.st >= acc.fin,
                    named_struct('fin', e.fin, 'st', CAST(0 AS BIGINT),
                                 'cnt', acc.cnt + 1),
                    acc)).cnt"""
            ).alias("n_selected"),
        )
    )
    wit = per.agg(
        F.sum("n_selected").alias("total_selected"),
        F.max("n_events").alias("max_seq_len"),
    )
    return (
        per.groupBy("n_selected")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .crossJoin(F.broadcast(wit))
        .select(
            F.col("n_selected").cast("int").alias("n_selected"),
            "n_users",
            "total_selected",
            "max_seq_len",
        )
        .orderBy("n_selected")
    )


#: The oracle deliberately does NOT mirror the Spark fold with
#: DuckDB's ``list_reduce``: DuckDB 1.0 mis-evaluates repeated
#: subexpressions across struct fields inside long ``list_reduce``
#: lambdas (two CASEs over the same guard disagreed within ONE lambda
#: application at fold step 3 of a 4-element list; the isolated step
#: evaluates correctly).  The oracle instead replays the same greedy
#: as a RECURSIVE CTE over row-numbered per-user sequences — plain
#: relational evaluation, and an algorithmically independent spelling
#: of the identical integer trajectory.
_SQL_INTERVAL_GREEDY = f"""
WITH RECURSIVE seq AS MATERIALIZED (
  SELECT user_id,
         row_number() OVER (PARTITION BY user_id ORDER BY fin, st)
           AS idx,
         fin, st
  FROM (
    SELECT user_id, epoch_us(ts) AS st,
           epoch_us(ts)
             + CAST(length(event_type) AS BIGINT)
               * {IVL_SEC_PER_CHAR * 1_000_000} AS fin
    FROM events
  )
), greedy AS (
  SELECT user_id, CAST(0 AS BIGINT) AS idx,
         CAST(0 AS BIGINT) AS last_fin, CAST(0 AS BIGINT) AS cnt
  FROM (SELECT DISTINCT user_id FROM seq)
  UNION ALL
  SELECT g.user_id, g.idx + 1,
         CASE WHEN q.st >= g.last_fin THEN q.fin ELSE g.last_fin END,
         g.cnt + CASE WHEN q.st >= g.last_fin THEN 1 ELSE 0 END
  FROM greedy g
  JOIN seq q ON q.user_id = g.user_id AND q.idx = g.idx + 1
), per AS MATERIALIZED (
  SELECT user_id, arg_max(cnt, idx) AS n_selected,
         max(idx) AS n_events
  FROM greedy GROUP BY user_id
), wit AS MATERIALIZED (
  SELECT sum(n_selected) AS total_selected,
         max(n_events) AS max_seq_len
  FROM per
)
SELECT CAST(n_selected AS INT) AS n_selected,
       CAST(count(*) AS BIGINT) AS n_users,
       CAST(total_selected AS BIGINT) AS total_selected,
       CAST(max_seq_len AS BIGINT) AS max_seq_len
FROM per, wit
GROUP BY n_selected, total_selected, max_seq_len
ORDER BY n_selected
"""


def _q_token_bucket_throttle_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    per = (
        ev.select(
            "user_id",
            F.unix_micros("ts").alias("tsu"),
            F.col("event_id").alias("eid"),
        )
        .groupBy("user_id")
        .agg(
            # replay order = (ts, event_id) via struct field order;
            # tok/alw/rej ride along at 0 so elements share the acc
            # shape
            F.expr(
                "sort_array(collect_list(named_struct("
                "'ts', tsu, 'eid', eid,"
                " 'tok', CAST(0 AS BIGINT),"
                " 'alw', CAST(0 AS BIGINT),"
                " 'rej', CAST(0 AS BIGINT))))"
            ).alias("evs"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            "user_id",
            "n_events",
            F.expr(
                f"""aggregate(
                  evs,
                  named_struct('ts', CAST(0 AS BIGINT),
                               'eid', CAST(0 AS BIGINT),
                               'tok', CAST({TB_CAP_MICRO} AS BIGINT),
                               'alw', CAST(0 AS BIGINT),
                               'rej', CAST(0 AS BIGINT)),
                  (acc, e) ->
                    named_struct(
                      'ts', e.ts, 'eid', CAST(0 AS BIGINT),
                      'tok', IF(least(CAST({TB_CAP_MICRO} AS BIGINT),
                                      acc.tok + ((e.ts - acc.ts)
                                        * {TB_RATE_MICRO}) div 1000000)
                                  >= 1000000,
                                least(CAST({TB_CAP_MICRO} AS BIGINT),
                                      acc.tok + ((e.ts - acc.ts)
                                        * {TB_RATE_MICRO}) div 1000000)
                                  - 1000000,
                                least(CAST({TB_CAP_MICRO} AS BIGINT),
                                      acc.tok + ((e.ts - acc.ts)
                                        * {TB_RATE_MICRO}) div 1000000)),
                      'alw', acc.alw + IF(
                        least(CAST({TB_CAP_MICRO} AS BIGINT),
                              acc.tok + ((e.ts - acc.ts)
                                * {TB_RATE_MICRO}) div 1000000)
                          >= 1000000, 1, 0),
                      'rej', acc.rej + IF(
                        least(CAST({TB_CAP_MICRO} AS BIGINT),
                              acc.tok + ((e.ts - acc.ts)
                                * {TB_RATE_MICRO}) div 1000000)
                          >= 1000000, 0, 1)))"""
            ).alias("st"),
        )
        .select(
            "user_id",
            "n_events",
            F.col("st.alw").alias("allowed"),
            F.col("st.rej").alias("rejected"),
        )
    )
    wit = per.agg(
        F.sum("allowed").alias("total_allowed"),
        F.sum("rejected").alias("total_rejected"),
        F.sum((F.col("rejected") > 0).cast("bigint")).alias(
            "n_throttled_users"
        ),
    )
    return (
        per.orderBy(F.col("rejected").desc(), "user_id")
        .limit(TB_TOPK)
        .crossJoin(F.broadcast(wit))
        .select(
            "user_id",
            "n_events",
            "allowed",
            "rejected",
            "total_allowed",
            "total_rejected",
            "n_throttled_users",
        )
        .orderBy(F.col("rejected").desc(), "user_id")
    )


#: same recursive-CTE spelling as the interval oracle (the DuckDB 1.0
#: list_reduce repeated-subexpression hazard documented there); the
#: refilled balance binds ONCE per step via a lateral column alias.
_SQL_TOKEN_BUCKET = f"""
WITH RECURSIVE seq AS MATERIALIZED (
  SELECT user_id,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY epoch_us(ts), event_id) AS idx,
         epoch_us(ts) AS tsu
  FROM events
), replay AS (
  SELECT user_id, CAST(0 AS BIGINT) AS idx, CAST(0 AS BIGINT) AS ts0,
         CAST({TB_CAP_MICRO} AS BIGINT) AS tok,
         CAST(0 AS BIGINT) AS alw, CAST(0 AS BIGINT) AS rej
  FROM (SELECT DISTINCT user_id FROM seq)
  UNION ALL
  SELECT user_id, idx + 1, tsu,
         CASE WHEN t2 >= 1000000 THEN t2 - 1000000 ELSE t2 END,
         alw + CASE WHEN t2 >= 1000000 THEN 1 ELSE 0 END,
         rej + CASE WHEN t2 >= 1000000 THEN 0 ELSE 1 END
  FROM (
    SELECT r.user_id, r.idx, r.alw, r.rej, q.tsu,
           least(CAST({TB_CAP_MICRO} AS BIGINT),
                 r.tok + ((q.tsu - r.ts0) * {TB_RATE_MICRO})
                   // 1000000) AS t2
    FROM replay r
    JOIN seq q ON q.user_id = r.user_id AND q.idx = r.idx + 1
  ) stepped
), per AS MATERIALIZED (
  SELECT user_id, max(idx) AS n_events,
         arg_max(alw, idx) AS allowed,
         arg_max(rej, idx) AS rejected
  FROM replay GROUP BY user_id
), wit AS MATERIALIZED (
  SELECT sum(allowed) AS total_allowed,
         sum(rejected) AS total_rejected,
         sum(CASE WHEN rejected > 0 THEN 1 ELSE 0 END)
           AS n_throttled_users
  FROM per
)
SELECT user_id, CAST(n_events AS BIGINT) AS n_events,
       CAST(allowed AS BIGINT) AS allowed,
       CAST(rejected AS BIGINT) AS rejected,
       CAST(total_allowed AS BIGINT) AS total_allowed,
       CAST(total_rejected AS BIGINT) AS total_rejected,
       CAST(n_throttled_users AS BIGINT) AS n_throttled_users
FROM per, wit
ORDER BY rejected DESC, user_id
LIMIT {TB_TOPK}
"""


SPECS: dict[str, QuerySpec] = {
    "interval_greedy_sessions": QuerySpec(
        _q_interval_greedy_sessions,
        _SQL_INTERVAL_GREEDY,
        "per-user earliest-finish-time activity selection as a "
        "distributed per-key fold (optimal max non-overlapping "
        "activities): histogram of per-user maxima + boundedness "
        "audit columns",
    ),
    "token_bucket_throttle_audit": QuerySpec(
        _q_token_bucket_throttle_audit,
        _SQL_TOKEN_BUCKET,
        "per-user token-bucket rate-limiter replay (integer "
        "micro-tokens) as a distributed per-key fold: top-10 "
        "throttled users + corpus totals",
    ),
}
