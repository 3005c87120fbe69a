"""Round-9 absorbing-Markov-chain pack: eventual-conversion
probability by starting state — the fundamental-matrix family
(Kemeny & Snell, "Finite Markov Chains" ch. 3) the catalog did not
yet cover (``markov_two_step_dist`` walks two steps; this solves the
absorption limit, with an exact error bracket instead of a float
linear solve).

* ``markov_absorption_conversion`` — states are event types with
  ``purchase`` absorbing; transitions are consecutive events per user
  (ordered by ts, event_id — the event_transition_matrix convention).
  The absorption probability p = Σ_{k≥0} Qᵏ r is evaluated as the
  TRUNCATED Neumann series after ``ABSORB_SWEEPS`` sweeps of
  p ← r + Q·p in exact integer micro-units — every term is
  ``(cnt·p) div tot`` (multiply-then-floor-divide), so both engines
  walk the identical trajectory.  Beside the lower bound p_micro the
  query emits the still-unabsorbed mass m = Qᵀ·1 (same sweep count,
  same arithmetic): the TRUE absorption probability provably lies in
  [p, p + m] (+ a ≤ sweeps·states micro quantization slack) — the
  truncation error is DATA, not an assumption.

100-TB shape: one events scan → user-partitioned lead window →
25-cell transition hash aggregate → ONE-ROW frame holding the state
list, r vector, and Q entries as array columns.  The entire 32-sweep
Neumann series is then a single ``aggregate(sequence(1, 32), ...)``
fold expression over that row — the sweep body is written once and
the runtime loops it, so there are NO per-sweep joins, shuffles,
checkpoints, or jobs at all (the r9 join-per-sweep form spent ~8 s of
pure stage-scheduling floor on ≤5-row frames; this form is one narrow
projection).  The bounded-state premise (event-type vocabulary is a
small closed categorical set) is exactly what licenses the array
layout — the same constant-size argument as the Shapley coalition
histogram.

Identity property (tests/test_properties.py): on random absorbing
chains the bracket holds against the EXACT fundamental-matrix
solution computed in fractions.Fraction (p* solved by Gaussian
elimination over rationals; assert p ≤ p* ≤ p + m + slack), and the
quantized sweep matches a pure-Python reimplementation bit-for-bit.

No reference counterpart (sequence-analytics extension alongside
plans/sequences.py); public theory only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.tables import load_table
from . import QuerySpec

#: Neumann sweeps — residual (unabsorbed mass) is EMITTED, not assumed
ABSORB_SWEEPS = 32
#: micro-units
ABSORB_SCALE = 1_000_000
#: the absorbing (conversion) state
ABSORB_STATE = "purchase"


def _transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(cur, nxt, cnt, tot) over consecutive per-user events."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.unix_micros("ts"), "event_id"
    )
    pairs = (
        ev.select(
            "user_id",
            F.col("event_type").alias("cur"),
            F.lead("event_type").over(w).alias("nxt"),
        )
        .where(F.col("nxt").isNotNull() & (F.col("cur") != ABSORB_STATE))
        .groupBy("cur", "nxt")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    # row totals via a cur-partitioned window over the 25-cell frame —
    # the oracle's sum(count(*)) OVER (PARTITION BY cur) spelling; one
    # events scan, no self-join
    return pairs.withColumn(
        "tot", F.sum("cnt").over(Window.partitionBy("cur"))
    )


#: one Neumann sweep as a fold body: p <- r + Q.p and m <- Q.m in exact
#: integer micro-units, each cell (cnt * x) div tot widened to
#: DECIMAL(38,0) (the round9_hits overflow discipline).  ``acc`` is the
#: named_struct('p', array<bigint>, 'm', array<bigint>) carried by the
#: outer aggregate() — nested lambdas close over it.
_SWEEP_BODY = """named_struct(
  'p', transform(sequence(1, size(st)), i ->
         element_at(r, i) + aggregate(
           filter(q, e -> e.i = i AND e.j > 0),
           CAST(0 AS BIGINT),
           (a, e) -> a + CAST((CAST(e.cnt AS DECIMAL(38,0))
                               * element_at(acc.p, e.j)) div e.tot
                              AS BIGINT))),
  'm', transform(sequence(1, size(st)), i ->
         aggregate(
           filter(q, e -> e.i = i AND e.j > 0),
           CAST(0 AS BIGINT),
           (a, e) -> a + CAST((CAST(e.cnt AS DECIMAL(38,0))
                               * element_at(acc.m, e.j)) div e.tot
                              AS BIGINT))))"""


def _q_markov_absorption_conversion(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    trans = _transitions(spark, sf_dir)
    # collapse the bounded transition table to ONE row of array
    # columns: st (sorted states), r (absorption row, micro-units),
    # q (transient Q entries with 1-based state positions; j = 0 marks
    # a dead-end successor, which contributes nothing — the same rows
    # the r9 inner join dropped)
    one = trans.agg(
        F.expr("sort_array(collect_set(cur))").alias("st"),
        F.expr("collect_list(struct(cur, nxt, cnt, tot))").alias("raw"),
    )
    prep = one.select(
        "st",
        F.expr(
            f"""transform(st, s -> coalesce(
              aggregate(
                filter(raw, e -> e.cur = s AND e.nxt = '{ABSORB_STATE}'),
                CAST(0 AS BIGINT),
                (a, e) -> a + CAST((CAST(e.cnt AS DECIMAL(38,0))
                                    * {ABSORB_SCALE}) div e.tot
                                   AS BIGINT)),
              CAST(0 AS BIGINT)))"""
        ).alias("r"),
        F.expr(
            f"""transform(filter(raw, e -> e.nxt <> '{ABSORB_STATE}'),
              e -> named_struct(
                'i', CAST(array_position(st, e.cur) AS INT),
                'j', CAST(array_position(st, e.nxt) AS INT),
                'cnt', e.cnt, 'tot', e.tot))"""
        ).alias("q"),
    )
    # the ENTIRE truncated Neumann series as one fold: the sweep body
    # is written once and looped by the runtime, so the plan is a
    # single narrow projection — no per-sweep joins or checkpoints
    swept = prep.select(
        "st",
        F.expr(
            f"""aggregate(
              sequence(1, {ABSORB_SWEEPS}),
              named_struct(
                'p', transform(st, s -> CAST(0 AS BIGINT)),
                'm', transform(st, s -> CAST({ABSORB_SCALE} AS BIGINT))),
              (acc, k) -> {_SWEEP_BODY})"""
        ).alias("pm"),
    )
    rows = swept.select(
        F.expr(
            """inline(transform(sequence(1, size(st)), i ->
                 named_struct(
                   'state', element_at(st, i),
                   'p_absorb_micro', element_at(pm.p, i),
                   'unabsorbed_micro', element_at(pm.m, i))))"""
        )
    )
    return rows.select(
        "state",
        "p_absorb_micro",
        "unabsorbed_micro",
        F.round(
            F.col("p_absorb_micro").cast("double") / ABSORB_SCALE, 4
        ).alias("p_convert"),
    ).orderBy("state")


def _sql_absorption() -> str:
    parts = [
        f"""
WITH pairs AS (
  SELECT user_id, event_type AS cur,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY epoch_us(ts), event_id) AS nxt
  FROM events
), trans AS MATERIALIZED (
  SELECT cur, nxt, count(*) AS cnt,
         sum(count(*)) OVER (PARTITION BY cur) AS tot
  FROM pairs WHERE nxt IS NOT NULL AND cur <> '{ABSORB_STATE}'
  GROUP BY cur, nxt
), pm0 AS MATERIALIZED (
  SELECT s.cur,
         COALESCE((SELECT CAST((CAST(cnt AS HUGEINT) * {ABSORB_SCALE}) // tot AS BIGINT)
                   FROM trans t WHERE t.cur = s.cur
                     AND t.nxt = '{ABSORB_STATE}'), 0) AS r,
         CAST(0 AS BIGINT) AS p,
         CAST({ABSORB_SCALE} AS BIGINT) AS m
  FROM (SELECT DISTINCT cur FROM trans) s
), q AS MATERIALIZED (
  SELECT cur, nxt, cnt, tot FROM trans WHERE nxt <> '{ABSORB_STATE}'
)"""
    ]
    prev = "pm0"
    for t in range(1, ABSORB_SWEEPS + 1):
        parts.append(
            f""", pm{t} AS MATERIALIZED (
  SELECT base.cur, base.r,
         base.r + COALESCE(st.qp, 0) AS p,
         COALESCE(st.qm, 0) AS m
  FROM (SELECT cur, r FROM {prev}) base
  LEFT JOIN (
    SELECT q.cur,
           sum(CAST((CAST(q.cnt AS HUGEINT) * pv.p) // q.tot AS BIGINT)) AS qp,
           sum(CAST((CAST(q.cnt AS HUGEINT) * pv.m) // q.tot AS BIGINT)) AS qm
    FROM q JOIN {prev} pv ON q.nxt = pv.cur
    GROUP BY q.cur
  ) st ON base.cur = st.cur
)"""
        )
        prev = f"pm{t}"
    parts.append(
        f"""
SELECT cur AS state,
       -- sum() over BIGINT yields HUGEINT in DuckDB; the driver's fetch
       -- path renders int128 differently from Spark's int64 (r10 verdict:
       -- hash broke on type, values bit-identical).  Values fit in int64
       -- by construction (micro-units <= ABSORB_SCALE), so narrow the
       -- FINAL projection back to BIGINT.
       CAST(p AS BIGINT) AS p_absorb_micro, CAST(m AS BIGINT) AS unabsorbed_micro,
       round(CAST(p AS DOUBLE) / {ABSORB_SCALE}, 4) AS p_convert
FROM {prev}
ORDER BY state
"""
    )
    return "".join(parts)


SPECS: dict[str, QuerySpec] = {
    "markov_absorption_conversion": QuerySpec(
        _q_markov_absorption_conversion,
        _sql_absorption(),
        "eventual purchase-absorption probability by starting event "
        "state: 32 exact integer micro-unit Neumann sweeps p <- r + Qp "
        "with the unabsorbed mass emitted as the truncation bracket "
        "[p, p + m]",
    ),
}
