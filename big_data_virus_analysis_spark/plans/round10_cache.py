"""Round-10 cache-replacement analytics pack: exact cache-policy
replay over per-user event-type access streams — Mattson's
stack-distance hit curve (one pass yields the LRU hit rate for EVERY
cache size simultaneously) and the Belady-OPT vs LRU audit with the
optimality theorem checked in-band.

* ``lru_stack_distance_hit_curve`` — Mattson et al. 1970: an access
  hits an LRU cache of size k iff its stack distance (number of
  DISTINCT items touched since the previous access of the same item)
  is ≤ k.  The Spark side folds each user's (ts, event_id)-ordered
  type stream with a move-to-front recency-list accumulator — the
  distance is ``array_position`` in the list, one linear pass per
  key, alphabet-bounded state.  The histogram is 8-slot and the curve
  emits one row per cache size k = 1..8 (the fixture alphabet has 5
  event types; sizes past the alphabet are flat, and a larger alphabet
  would need the slot count raised in BOTH engines).  Per row: exact
  hits, accesses, and hit-rate millis.  The DuckDB oracle is the
  algorithmically INDEPENDENT interval-distinct identity — an access
  m lies in (prev_i, i) and counts iff the next access of m's type is
  ≥ i — a range join over row-numbered per-user sequences (no fold,
  no list state).
* ``belady_opt_vs_lru_audit`` — the clairvoyant optimum (Belady
  1966) replayed per user at CACHE_K = 3 beside LRU: each access
  carries its next-use position (``lead`` over (user, type); never
  used again encodes as INF + rn, keeping eviction keys UNIQUE so
  max-eviction is deterministic); OPT evicts the cached entry with
  the farthest next use.  Cache entries are packed as single BIGINTs
  (next_use · 100 + type_code) so both engines fold a plain
  LIST(BIGINT) — no struct lambdas, dodging DuckDB 1.0's
  ``list_reduce`` struct-accumulator hazard (the oracle replays the
  identical trajectory as a RECURSIVE CTE, the round10_replay
  precedent).  Output: corpus totals plus TWO in-band certificates:
  ``opt_ge_lru_all_users`` — Belady's optimality theorem must hold
  for EVERY user, and the row proves it held — and ``bounds_ok`` —
  the packing premises (stream length < NU_INF, type code < NU_PACK)
  actually held, since a breach would corrupt the replay identically
  in both engines where the oracle hash could never see it.

100-TB shape: ONE events scan each → hash aggregate keyed by user
(map-side partial collect) → per-key linear fold (state ≤ alphabet
size) → constant-size rollup.  No windows over corpus rows on the
Spark side (the lead/row_number spellings live in the ORACLE only);
per-key sequence length is the only memory bound and is emitted.

Identity properties (tests/test_properties.py): the move-to-front
fold's distances equal direct per-k LRU simulation for every k; the
interval-distinct identity equals the recency-list distance; the OPT
fold beats-or-ties LRU on random streams (Belady's theorem,
exercised end-to-end) and equals a pure-Python clairvoyant replay.

No reference counterpart (systems-analytics extension alongside
plans/round10_replay.py); public algorithms only (Mattson 1970,
Belady 1966).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load_table
from . import QuerySpec

#: Belady/LRU audit cache size
CACHE_K = 3
#: next-use encoding: "never again" = NU_INF + rn (unique per user)
NU_INF = 1_000_000
#: cache-entry packing: value = next_use * NU_PACK + type_code
NU_PACK = 100


def _per_user_streams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(user_id, evs): the (ts, event_id)-ordered type-code stream.
    Type codes are the alphabetical rank of the event_type."""
    ev = load_table(spark, sf_dir, "events")
    types = (
        ev.select("event_type")
        .distinct()
        .select(
            "event_type",
            F.expr(
                "CAST(rank() OVER (ORDER BY event_type) AS BIGINT)"
            ).alias("tc"),
        )
    )
    return (
        ev.join(F.broadcast(types), "event_type")
        .select(
            "user_id",
            F.unix_micros("ts").alias("tsu"),
            F.col("event_id").cast("bigint").alias("eid"),
            "tc",
        )
        .groupBy("user_id")
        .agg(
            F.expr(
                "transform(sort_array(collect_list(named_struct("
                "'tsu', tsu, 'eid', eid, 'tc', tc))), s -> s.tc)"
            ).alias("evs"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


def _q_lru_stack_distance_hit_curve(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    per = _per_user_streams(spark, sf_dir)
    # move-to-front fold: acc.h[d-1] counts accesses at stack
    # distance d (d <= alphabet); acc.cold counts first touches
    folded = per.select(
        "n_events",
        F.expr(
            """aggregate(
              evs,
              named_struct('lst', CAST(array() AS ARRAY<BIGINT>),
                           'h', array_repeat(CAST(0 AS BIGINT), 8),
                           'cold', CAST(0 AS BIGINT)),
              (acc, t) -> named_struct(
                'lst', concat(array(t), filter(acc.lst, x -> x != t)),
                'h', IF(array_position(acc.lst, t) > 0,
                        transform(acc.h, (v, i) ->
                          IF(i = array_position(acc.lst, t) - 1,
                             v + 1, v)),
                        acc.h),
                'cold', acc.cold
                        + IF(array_position(acc.lst, t) > 0, 0, 1)))"""
        ).alias("k"),
    )
    # elementwise histogram sum as 8 plain aggregates (partial-agg
    # collapses map-side; no array collect on the driver path)
    sums = folded.agg(
        *[
            F.sum(F.expr(f"element_at(k.h, {i})")).alias(f"h{i}")
            for i in range(1, 9)
        ],
        F.sum("k.cold").alias("cold_misses"),
        F.sum("n_events").alias("total_accesses"),
    ).select(
        F.expr(
            "array(" + ", ".join(f"h{i}" for i in range(1, 9)) + ")"
        ).alias("hist"),
        "cold_misses",
        "total_accesses",
    )
    # one row per cache size k: hits = accesses at distance <= k
    return sums.select(
        F.expr(
            """inline(transform(sequence(1, 8), kk ->
                 named_struct(
                   'cache_k', kk,
                   'hits', aggregate(slice(hist, 1, kk),
                             CAST(0 AS BIGINT), (a, x) -> a + x))))"""
        ),
        "cold_misses",
        "total_accesses",
    ).select(
        F.col("cache_k").cast("int").alias("cache_k"),
        "hits",
        "cold_misses",
        "total_accesses",
        F.expr("hits * 1000 div total_accesses").alias("hit_rate_millis"),
    ).orderBy("cache_k")


_SQL_LRU_CURVE = """
WITH seq AS MATERIALIZED (
  SELECT user_id,
         row_number() OVER (
           PARTITION BY user_id ORDER BY epoch_us(ts), event_id
         ) AS rn,
         event_type AS t
  FROM events
), nxt AS MATERIALIZED (
  SELECT user_id, rn, t,
         lag(rn) OVER (PARTITION BY user_id, t ORDER BY rn) AS prev_rn,
         coalesce(lead(rn) OVER (PARTITION BY user_id, t ORDER BY rn),
                  9223372036854775807) AS next_rn
  FROM seq
), dist AS MATERIALIZED (
  -- interval-distinct identity: stack distance = 1 (the item
  -- itself) + count of accesses m strictly between whose NEXT
  -- same-type access is >= i (i.e. m is its type's last occurrence
  -- inside the interval); adjacent repeats join nothing -> d = 1
  SELECT a.user_id, a.rn,
         CAST(1 + count(m.rn) AS BIGINT) AS d
  FROM nxt a
  LEFT JOIN nxt m
    ON m.user_id = a.user_id
   AND m.rn > a.prev_rn AND m.rn < a.rn
   AND m.next_rn >= a.rn
  WHERE a.prev_rn IS NOT NULL
  GROUP BY a.user_id, a.rn
), tot AS MATERIALIZED (
  SELECT CAST(count(*) AS BIGINT) AS total_accesses,
         CAST(sum(CASE WHEN prev_rn IS NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS cold_misses
  FROM nxt
)
SELECT CAST(u.kk AS INT) AS cache_k,
       CAST(coalesce(sum(CASE WHEN d.d <= u.kk THEN 1 END), 0)
            AS BIGINT) AS hits,
       (SELECT cold_misses FROM tot) AS cold_misses,
       (SELECT total_accesses FROM tot) AS total_accesses,
       CAST(coalesce(sum(CASE WHEN d.d <= u.kk THEN 1 END), 0) * 1000
            // (SELECT total_accesses FROM tot) AS BIGINT)
         AS hit_rate_millis
FROM UNNEST(range(1, 9)) AS u(kk)
LEFT JOIN dist d ON TRUE
GROUP BY u.kk
ORDER BY cache_k
"""


def _q_belady_opt_vs_lru_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    types = (
        ev.select("event_type")
        .distinct()
        .select(
            "event_type",
            F.expr(
                "CAST(rank() OVER (ORDER BY event_type) AS BIGINT)"
            ).alias("tc"),
        )
    )
    from pyspark.sql import Window

    wu = Window.partitionBy("user_id").orderBy("tsu", "eid")
    wt = Window.partitionBy("user_id", "tc").orderBy("rn")
    base = (
        ev.join(F.broadcast(types), "event_type")
        .select(
            "user_id",
            F.unix_micros("ts").alias("tsu"),
            F.col("event_id").cast("bigint").alias("eid"),
            "tc",
        )
        .withColumn("rn", F.row_number().over(wu).cast("bigint"))
        .withColumn(
            "nu",
            F.coalesce(
                F.lead("rn").over(wt), F.lit(NU_INF) + F.col("rn")
            ),
        )
    )
    per = base.groupBy("user_id").agg(
        F.expr(
            "transform(sort_array(collect_list(named_struct("
            "'rn', rn, 'tc', tc, 'nu', nu))),"
            " s -> struct(s.tc AS tc, s.nu AS nu))"
        ).alias("evs"),
        F.count(F.lit(1)).alias("n_events"),
        # packing-premise carrier: rides the same single-scan aggregate
        # (a separate base.agg would re-scan events — plan-linted)
        F.max("tc").alias("max_tc_u"),
    )
    pack = f"(e.nu * {NU_PACK} + e.tc)"
    opt_fold = f"""aggregate(
      evs,
      named_struct('lst', CAST(array() AS ARRAY<BIGINT>),
                   'hits', CAST(0 AS BIGINT)),
      (acc, e) -> IF(
        exists(acc.lst, x -> x % {NU_PACK} = e.tc),
        named_struct(
          'lst', concat(filter(acc.lst, x -> x % {NU_PACK} != e.tc),
                        array({pack})),
          'hits', acc.hits + 1),
        IF(size(acc.lst) < {CACHE_K},
          named_struct('lst', concat(acc.lst, array({pack})),
                       'hits', acc.hits),
          named_struct(
            'lst', concat(filter(acc.lst,
                                 x -> x != array_max(acc.lst)),
                          array({pack})),
            'hits', acc.hits))))"""
    lru_fold = f"""aggregate(
      evs,
      named_struct('lst', CAST(array() AS ARRAY<BIGINT>),
                   'hits', CAST(0 AS BIGINT)),
      (acc, e) -> named_struct(
        'lst', slice(concat(array(e.tc),
                            filter(acc.lst, x -> x != e.tc)),
                     1, {CACHE_K}),
        'hits', acc.hits
                + IF(array_position(acc.lst, e.tc) > 0, 1, 0)))"""
    folded = per.select(
        "user_id",
        "n_events",
        "max_tc_u",
        F.expr(f"({opt_fold}).hits").alias("opt_hits"),
        F.expr(f"({lru_fold}).hits").alias("lru_hits"),
    )
    # packing-premise audit (r10 ADVICE #2): the never-used-again
    # encoding NU_INF + rn and the value packing nu * NU_PACK + tc are
    # only collision-free while every stream is shorter than NU_INF and
    # every type code is below NU_PACK — past either bound the OPT
    # replay would corrupt IDENTICALLY in both engines, invisible to
    # the oracle hash.  So the premise is emitted in-band: a breach
    # flips bounds_ok to false instead of silently corrupting.
    return folded.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("n_events").alias("total_accesses"),
        F.sum("opt_hits").alias("opt_hits"),
        F.sum("lru_hits").alias("lru_hits"),
        F.min(
            (F.col("opt_hits") >= F.col("lru_hits")).cast("int")
        ).cast("boolean").alias("opt_ge_lru_all_users"),
        F.max("n_events").alias("max_seq_len"),
        (
            (F.max("n_events") < F.lit(NU_INF))
            & (F.max("max_tc_u") < F.lit(NU_PACK))
        ).alias("bounds_ok"),
    )


_SQL_BELADY = f"""
WITH RECURSIVE coded AS MATERIALIZED (
  -- alphabetical type code (dense over distinct types)
  SELECT user_id, rn,
         CAST(dense_rank() OVER (ORDER BY t) AS BIGINT) AS tc,
         t
  FROM (
    SELECT user_id,
           row_number() OVER (
             PARTITION BY user_id ORDER BY epoch_us(ts), event_id
           ) AS rn,
           event_type AS t
    FROM events
  )
), nu AS MATERIALIZED (
  SELECT user_id, rn, tc,
         coalesce(lead(rn) OVER (PARTITION BY user_id, tc ORDER BY rn),
                  {NU_INF} + rn) AS nu
  FROM coded
), walk AS (
  SELECT user_id, CAST(0 AS BIGINT) AS rn,
         CAST([] AS BIGINT[]) AS opt_lst,
         CAST(0 AS BIGINT) AS opt_hits,
         CAST([] AS BIGINT[]) AS lru_lst,
         CAST(0 AS BIGINT) AS lru_hits
  FROM (SELECT DISTINCT user_id FROM nu)
  UNION ALL
  SELECT w.user_id, e.rn,
         CASE
           WHEN len(list_filter(w.opt_lst,
                                x -> x % {NU_PACK} = e.tc)) > 0
           THEN list_append(list_filter(w.opt_lst,
                              x -> x % {NU_PACK} != e.tc),
                            e.nu * {NU_PACK} + e.tc)
           WHEN len(w.opt_lst) < {CACHE_K}
           THEN list_append(w.opt_lst, e.nu * {NU_PACK} + e.tc)
           ELSE list_append(list_filter(w.opt_lst,
                              x -> x != list_max(w.opt_lst)),
                            e.nu * {NU_PACK} + e.tc)
         END,
         w.opt_hits + CASE WHEN len(list_filter(w.opt_lst,
                             x -> x % {NU_PACK} = e.tc)) > 0
                           THEN 1 ELSE 0 END,
         (list_prepend(e.tc,
            list_filter(w.lru_lst, x -> x != e.tc)))[1 : {CACHE_K}],
         w.lru_hits + CASE WHEN coalesce(
                             list_position(w.lru_lst, e.tc), 0) > 0
                           THEN 1 ELSE 0 END
  FROM walk w
  JOIN nu e ON e.user_id = w.user_id AND e.rn = w.rn + 1
), per AS MATERIALIZED (
  SELECT user_id,
         max(rn) AS n_events,
         arg_max(opt_hits, rn) AS opt_hits,
         arg_max(lru_hits, rn) AS lru_hits
  FROM walk GROUP BY user_id
)
SELECT CAST(count(*) AS BIGINT) AS n_users,
       CAST(sum(n_events) AS BIGINT) AS total_accesses,
       CAST(sum(opt_hits) AS BIGINT) AS opt_hits,
       CAST(sum(lru_hits) AS BIGINT) AS lru_hits,
       CAST(min(CASE WHEN opt_hits >= lru_hits THEN 1 ELSE 0 END)
            AS BOOLEAN) AS opt_ge_lru_all_users,
       CAST(max(n_events) AS BIGINT) AS max_seq_len,
       -- packing-premise audit: streams under NU_INF, type codes under
       -- NU_PACK (see the Spark twin's bounds_ok comment)
       (max(n_events) < {NU_INF}
        AND (SELECT max(tc) FROM coded) < {NU_PACK}) AS bounds_ok
FROM per
"""


SPECS: dict[str, QuerySpec] = {
    "lru_stack_distance_hit_curve": QuerySpec(
        _q_lru_stack_distance_hit_curve,
        _SQL_LRU_CURVE,
        "Mattson stack-distance hit curve over per-user event-type "
        "streams: move-to-front fold (one pass, every cache size) vs "
        "the oracle's independent interval-distinct range join; "
        "exact hits + hit-rate millis per k",
    ),
    "belady_opt_vs_lru_audit": QuerySpec(
        _q_belady_opt_vs_lru_audit,
        _SQL_BELADY,
        "Belady clairvoyant OPT vs LRU at k=3 per user (packed "
        "BIGINT cache entries, unique next-use eviction keys): "
        "corpus totals with the OPT>=LRU theorem checked per user "
        "in-band",
    ),
}
