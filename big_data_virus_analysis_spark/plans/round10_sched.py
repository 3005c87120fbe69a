"""Round-10 makespan-scheduling pack: Graham's list-scheduling
greedies (Graham 1966/1969 — LPT, arrival-order/online, SPT) over the
calendar-bounded daily-revenue job list, with the approximation
certificate's ingredients EMITTED (makespan, both classical lower
bounds, ratio) rather than assumed.

* ``lpt_makespan_daily`` — each calendar day's order revenue (integer
  cents) is one job; jobs sorted LPT (longest processing time first,
  day-ascending tie-break) are folded onto ``SCHED_M`` machines, each
  job to the FIRST least-loaded machine.  Per-machine rows with the
  final load, plus makespan, the two lower bounds every schedule obeys
  (ceil(total/m) and max job), and makespan·1000 div max(lb) — the
  observable ratio against the best certifiable lower bound.
* ``makespan_strategy_audit`` — one row comparing three orderings of
  the SAME job list through the SAME fold: LPT (4/3 − 1/3m guarantee),
  arrival order (Graham's online 2 − 1/m guarantee), and SPT (the
  worst classical ordering).  Demonstrates, as data, why ordering
  matters before committing a cluster to a schedule.

The job list is calendar-bounded (≤ ~2,400 day rows at any SF — the
``matrix_profile_daily`` precedent), so the whole greedy runs as ONE
``aggregate()`` fold over a 1-row array frame: one orders scan → day
hash-aggregate → sorted collect → fold.  The machine vector is the
fold accumulator; assignment is a transform guarded on
``array_position(acc, array_min(acc))`` — note Spark's ``transform``
index lambda is 0-BASED while ``array_position`` is 1-based (and
DuckDB's ``list_transform`` index is 1-based), so the two engines'
spellings differ by exactly that offset while walking the identical
trajectory.  DuckDB's ``list_reduce`` takes no initial accumulator, so
the oracle prepends the zero-load vector and lifts each job to a
1-element list (uniform LIST(BIGINT) element type) — the standard
fold-with-init encoding.  NOTE: DuckDB 1.0's ``list_reduce`` has a
repeated-subexpression hazard with MULTI-FIELD struct accumulators
(see plans/round10_replay.py, whose oracles had to switch to
recursive CTEs); this pack's single-expression LIST(BIGINT)
accumulator does not hit it, and the oracle is ground-truthed against
a pure-Python replay at sf0.001/0.01/0.1
(tests/test_round10_folds.py pins the Spark side the same way).

100-TB shape: corpus-sized work is one orders scan + one day
aggregate; everything after is constant-size.  All integer cents
(``round(x * 100, 0)`` — the round7_e2e parity idiom).

Identity properties (tests/test_properties.py): the fold replayed in
pure Python equals a reference greedy; on brute-forceable instances
LPT respects (4/3 − 1/3m)·OPT and arrival-order respects
(2 − 1/m)·OPT; both lower bounds never exceed OPT.

No reference counterpart (scheduling extension alongside
plans/round10_dag.py); public algorithms only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import QuerySpec
from .frames import SQL_DAILY_ORDER_CENTS, daily_order_cents

#: machine count for the greedy folds (a fixed cluster shape)
SCHED_M = 8


def _fold_expr(jobs_col: str) -> str:
    """Spark fold: assign each job to the FIRST least-loaded machine.
    transform's index ``i`` is 0-based; array_position is 1-based."""
    return f"""aggregate(
      {jobs_col},
      array_repeat(CAST(0 AS BIGINT), {SCHED_M}),
      (acc, j) -> transform(acc, (v, i) ->
        CASE WHEN i = array_position(acc, array_min(acc)) - 1
             THEN v + j ELSE v END))"""


_SORTS = {
    # LPT: cents desc, day asc — via the (-cents, day) struct sort
    "lpt": "transform(sort_array(collect_list(struct(-cents AS nc,"
    " day AS day, cents AS cents))), s -> s.cents)",
    # arrival order: day asc
    "online": "transform(sort_array(collect_list(struct(day AS day,"
    " cents AS cents))), s -> s.cents)",
    # SPT: cents asc, day asc
    "spt": "transform(sort_array(collect_list(struct(cents AS cents,"
    " day AS day))), s -> s.cents)",
}

_SQL_SORTS = {
    "lpt": "list(cents ORDER BY cents DESC, day)",
    "online": "list(cents ORDER BY day)",
    "spt": "list(cents ORDER BY cents, day)",
}


def _q_lpt_makespan_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    one = daily_order_cents(spark, sf_dir).agg(
        F.expr(_SORTS["lpt"]).alias("jobs"),
        F.count(F.lit(1)).alias("n_jobs"),
        F.sum("cents").alias("total_cents"),
    )
    loads = one.select(
        "n_jobs",
        "total_cents",
        F.expr(_fold_expr("jobs")).alias("loads"),
        F.expr("jobs[0]").alias("max_job"),
    )
    stats = loads.select(
        "n_jobs",
        "loads",
        F.expr("array_max(loads)").alias("makespan_cents"),
        F.expr(
            f"CAST((total_cents + {SCHED_M} - 1) div {SCHED_M} AS BIGINT)"
        ).alias("lb_avg_cents"),
        F.col("max_job").alias("lb_max_cents"),
    )
    return stats.select(
        F.expr(
            f"""inline(transform(sequence(1, {SCHED_M}), i ->
                 named_struct('machine', i,
                              'load_cents', element_at(loads, i))))"""
        ),
        "makespan_cents",
        "lb_avg_cents",
        "lb_max_cents",
        F.expr(
            "CAST((makespan_cents * 1000)"
            " div greatest(lb_avg_cents, lb_max_cents) AS BIGINT)"
        ).alias("ratio_millis"),
    ).orderBy("machine")


def _q_makespan_strategy_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    one = daily_order_cents(spark, sf_dir).agg(
        F.expr(_SORTS["lpt"]).alias("jl"),
        F.expr(_SORTS["online"]).alias("jo"),
        F.expr(_SORTS["spt"]).alias("js"),
        F.count(F.lit(1)).alias("n_jobs"),
        F.sum("cents").alias("total_cents"),
    )
    folded = one.select(
        "n_jobs",
        "total_cents",
        F.expr(f"array_max({_fold_expr('jl')})").alias("lpt_makespan"),
        F.expr(f"array_max({_fold_expr('jo')})").alias("online_makespan"),
        F.expr(f"array_max({_fold_expr('js')})").alias("spt_makespan"),
        F.expr("jl[0]").alias("lb_max_cents"),
        F.expr(
            f"CAST((total_cents + {SCHED_M} - 1) div {SCHED_M} AS BIGINT)"
        ).alias("lb_avg_cents"),
    )
    return folded.select(
        F.lit(SCHED_M).alias("m"),
        "n_jobs",
        "total_cents",
        "lb_avg_cents",
        "lb_max_cents",
        "lpt_makespan",
        "online_makespan",
        "spt_makespan",
        F.expr(
            "CAST((lpt_makespan * 1000)"
            " div greatest(lb_avg_cents, lb_max_cents) AS BIGINT)"
        ).alias("lpt_ratio_millis"),
        F.expr(
            "CAST((online_makespan * 1000)"
            " div greatest(lb_avg_cents, lb_max_cents) AS BIGINT)"
        ).alias("online_ratio_millis"),
    )


def _sql_fold(jobs_expr: str) -> str:
    """DuckDB fold with the prepend-init encoding (list_reduce has no
    initial-accumulator argument in 1.0); list_transform's index is
    1-based, matching list_position directly."""
    zeros = "[" + ", ".join(["CAST(0 AS BIGINT)"] * SCHED_M) + "]"
    return f"""list_reduce(
      [{zeros}] || list_transform({jobs_expr}, j -> [j]),
      (acc, x) -> list_transform(acc, (v, i) ->
        CASE WHEN i = list_position(acc, list_min(acc))
             THEN v + x[1] ELSE v END))"""


_SQL_DAYS = f"""
WITH days AS MATERIALIZED ({SQL_DAILY_ORDER_CENTS})"""


_SQL_LPT_MAKESPAN = (
    _SQL_DAYS
    + f""", one AS MATERIALIZED (
  SELECT {_SQL_SORTS["lpt"]} AS jobs,
         CAST(count(*) AS BIGINT) AS n_jobs,
         CAST(sum(cents) AS BIGINT) AS total_cents
  FROM days
), folded AS MATERIALIZED (
  SELECT n_jobs, total_cents, jobs[1] AS max_job,
         {_sql_fold("jobs")} AS loads
  FROM one
), stats AS MATERIALIZED (
  SELECT n_jobs, loads,
         list_max(loads) AS makespan_cents,
         CAST((total_cents + {SCHED_M} - 1) // {SCHED_M} AS BIGINT)
           AS lb_avg_cents,
         max_job AS lb_max_cents
  FROM folded
)
SELECT CAST(u.i AS INT) AS machine,
       CAST(loads[u.i] AS BIGINT) AS load_cents,
       CAST(makespan_cents AS BIGINT) AS makespan_cents,
       lb_avg_cents,
       CAST(lb_max_cents AS BIGINT) AS lb_max_cents,
       CAST((makespan_cents * 1000)
            // greatest(lb_avg_cents, lb_max_cents) AS BIGINT)
         AS ratio_millis
FROM stats, UNNEST(range(1, {SCHED_M + 1})) AS u(i)
ORDER BY machine
"""
)

_SQL_STRATEGY_AUDIT = (
    _SQL_DAYS
    + f""", one AS MATERIALIZED (
  SELECT {_SQL_SORTS["lpt"]} AS jl,
         {_SQL_SORTS["online"]} AS jo,
         {_SQL_SORTS["spt"]} AS js,
         CAST(count(*) AS BIGINT) AS n_jobs,
         CAST(sum(cents) AS BIGINT) AS total_cents
  FROM days
), folded AS MATERIALIZED (
  SELECT n_jobs, total_cents,
         list_max({_sql_fold("jl")}) AS lpt_makespan,
         list_max({_sql_fold("jo")}) AS online_makespan,
         list_max({_sql_fold("js")}) AS spt_makespan,
         jl[1] AS lb_max_cents,
         CAST((total_cents + {SCHED_M} - 1) // {SCHED_M} AS BIGINT)
           AS lb_avg_cents
  FROM one
)
SELECT CAST({SCHED_M} AS INT) AS m, n_jobs, total_cents,
       lb_avg_cents, CAST(lb_max_cents AS BIGINT) AS lb_max_cents,
       CAST(lpt_makespan AS BIGINT) AS lpt_makespan,
       CAST(online_makespan AS BIGINT) AS online_makespan,
       CAST(spt_makespan AS BIGINT) AS spt_makespan,
       CAST((lpt_makespan * 1000)
            // greatest(lb_avg_cents, lb_max_cents) AS BIGINT)
         AS lpt_ratio_millis,
       CAST((online_makespan * 1000)
            // greatest(lb_avg_cents, lb_max_cents) AS BIGINT)
         AS online_ratio_millis
FROM folded
"""
)


SPECS: dict[str, QuerySpec] = {
    "lpt_makespan_daily": QuerySpec(
        _q_lpt_makespan_daily,
        _SQL_LPT_MAKESPAN,
        "LPT greedy fold of calendar-day revenue jobs onto 8 machines "
        "(first least-loaded, deterministic tie-breaks): per-machine "
        "loads, makespan, both classical lower bounds, observed ratio",
    ),
    "makespan_strategy_audit": QuerySpec(
        _q_makespan_strategy_audit,
        _SQL_STRATEGY_AUDIT,
        "one fold, three orderings: LPT vs arrival-order (online "
        "Graham) vs SPT makespans over the same day-job list, with "
        "lower bounds and ratio-to-bound in millis",
    ),
}
