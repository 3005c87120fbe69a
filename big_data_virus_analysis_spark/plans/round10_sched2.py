"""Round-10 single-machine sequencing pack: due-date scheduling over
the calendar-bounded day-job list — Jackson's EDD rule for maximum
lateness and the Moore–Hodgson algorithm for the number of late jobs,
each with its optimality certificate's ingredients emitted as data.

Job model (shared): each calendar day of 1995 is one job; processing
time p_d = that day's order revenue in cents, consumed by a machine of
capacity C = ⌈total/n⌉ cents per day-slot.  The due date is
d_d = C · (idx_d + lead_d): the day's position in the year plus that
day's maximum order→ship lead (days, from the lineitem join) converts
to a cents-capacity budget — all integers, no floats anywhere.

* ``edd_lateness_audit`` — 1||Lmax: completion times are prefix sums
  of p in a chosen order; Jackson's rule (EDD — sort by due date)
  provably minimizes the maximum lateness.  One row compares Lmax
  under EDD, arrival (day) order, and SPT through the SAME prefix-sum
  spelling, so "EDD ≤ both" is checkable in-band (the exchange
  argument, laid out as data).  Pure window functions — no fold.
* ``moore_hodgson_late_jobs`` — 1||ΣU_j: Moore–Hodgson (1968) walks
  jobs in EDD order keeping a running accepted set; when a prefix
  overshoots its due date, the LARGEST accepted processing time is
  ejected (provably optimal for minimizing late-job count).  The
  Spark side folds the ≤ ~365-row job list with a
  (sorted-list, total, dropped) struct accumulator — ejection is
  slice-off-the-tail of the kept-sorted array.  The DuckDB oracle
  replays the identical trajectory as a RECURSIVE CTE (the
  round10_replay precedent: DuckDB 1.0's ``list_reduce`` mis-evaluates
  multi-field struct accumulators, and the relational spelling is an
  independent second implementation anyway).  Output: one row with
  n_jobs, n_on_time, n_late, the accepted-set total, and the in-band
  feasibility flag (the final accepted prefix meets every due date —
  the certificate that ejections sufficed).

100-TB shape: the corpus-sized work is one orders scan + one
orders⋈lineitem join collapsing to the ≤ ~365-row 1995 day frame;
everything after is constant-size fold/window arithmetic (the
round10_sched / matrix_profile_daily precedent).

Identity properties (tests/test_properties.py): EDD's Lmax is ≤ every
permutation's on brute-forceable instances (Jackson's rule); the
Moore–Hodgson fold equals a pure-Python replay AND achieves the
brute-force-minimal late count on small instances; the pack's day-job
construction is pinned by a pure-Python rebuild at sf0.001.

No reference counterpart (scheduling extension alongside
plans/round10_sched.py); public algorithms only (Jackson 1955,
Moore 1968).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.caching import tracked_cache
from ..sources.tables import load_table
from . import QuerySpec
from .frames import SQL_DAILY_ORDER_CENTS, daily_order_cents

#: job-list year (calendar-bounded frame, ≤ ~365 rows at any SF)
SCHED_YEAR = 1995


def _day_jobs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1995 day jobs: (idx, day, p_cents, due_cents)."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders").filter(
        F.year("o_orderdate") == SCHED_YEAR
    )
    li = load_table(spark, sf_dir, "lineitem")
    leads = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(
            F.max(
                F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
            ).cast("bigint").alias("lead_days")
        )
    )
    days = tracked_cache(  # day-job frame: one corpus pass total
        daily_order_cents(spark, sf_dir)
        .where(F.year("day") == SCHED_YEAR)
        .select("day", F.col("cents").alias("p_cents"))
        .join(leads, "day")
    )
    w = Window.orderBy("day")
    tot = days.agg(
        F.sum("p_cents").alias("total"), F.count(F.lit(1)).alias("n")
    )
    return (
        days.crossJoin(F.broadcast(tot))
        .select(
            F.row_number().over(w).alias("idx"),
            "day",
            "p_cents",
            "lead_days",
            F.expr("CAST((total + n - 1) div n AS BIGINT)").alias("cap"),
        )
        .select(
            "idx",
            "day",
            "p_cents",
            F.expr("cap * (idx + lead_days)").alias("due_cents"),
        )
    )


def _q_edd_lateness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    jobs = _day_jobs(spark, sf_dir)
    one = jobs.agg(
        F.expr(
            "transform(sort_array(collect_list(struct("
            "due_cents AS due, idx AS idx, p_cents AS p))),"
            " s -> struct(s.p AS p, s.due AS due))"
        ).alias("edd"),
        F.expr(
            "transform(sort_array(collect_list(struct("
            "idx AS idx, p_cents AS p, due_cents AS due))),"
            " s -> struct(s.p AS p, s.due AS due))"
        ).alias("arrival"),
        F.expr(
            "transform(sort_array(collect_list(struct("
            "p_cents AS p, idx AS idx, due_cents AS due))),"
            " s -> struct(s.p AS p, s.due AS due))"
        ).alias("spt"),
        F.count(F.lit(1)).alias("n_jobs"),
    )

    def lmax(col: str) -> str:
        # completion_j = prefix sum of p; lateness = completion - due
        return f"""array_max(zip_with(
          transform(sequence(1, size({col})), k ->
            aggregate(slice({col}, 1, k), CAST(0 AS BIGINT),
                      (a, e) -> a + e.p)),
          transform({col}, e -> e.due),
          (c, d) -> c - d))"""

    return one.select(
        "n_jobs",
        F.expr(lmax("edd")).alias("edd_lmax_cents"),
        F.expr(lmax("arrival")).alias("arrival_lmax_cents"),
        F.expr(lmax("spt")).alias("spt_lmax_cents"),
    ).select(
        "n_jobs",
        "edd_lmax_cents",
        "arrival_lmax_cents",
        "spt_lmax_cents",
        (
            (F.col("edd_lmax_cents") <= F.col("arrival_lmax_cents"))
            & (F.col("edd_lmax_cents") <= F.col("spt_lmax_cents"))
        ).alias("edd_optimal_in_band"),
    )


_SQL_JOBS = f"""
WITH o95 AS MATERIALIZED (
  SELECT * FROM orders
  WHERE year(CAST(o_orderdate AS DATE)) = {SCHED_YEAR}
), leads AS MATERIALIZED (
  SELECT CAST(o.o_orderdate AS DATE) AS day,
         CAST(max(datediff('day', CAST(o.o_orderdate AS DATE),
                           CAST(l.l_shipdate AS DATE))) AS BIGINT)
           AS lead_days
  FROM o95 o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
  GROUP BY 1
), days AS MATERIALIZED (
  SELECT d.day, d.cents AS p_cents, leads.lead_days
  FROM ({SQL_DAILY_ORDER_CENTS}) d JOIN leads USING (day)
  WHERE year(d.day) = {SCHED_YEAR}
), tot AS MATERIALIZED (
  SELECT CAST(sum(p_cents) AS BIGINT) AS total,
         CAST(count(*) AS BIGINT) AS n
  FROM days
), jobs AS MATERIALIZED (
  SELECT row_number() OVER (ORDER BY day) AS idx, day, p_cents,
         CAST((total + n - 1) // n AS BIGINT)
           * (row_number() OVER (ORDER BY day) + lead_days)
           AS due_cents
  FROM days, tot
)"""


_SQL_EDD_LATENESS = (
    _SQL_JOBS
    + """
, seqs AS MATERIALIZED (
  SELECT 'edd' AS ord, row_number() OVER (
           ORDER BY due_cents, idx) AS k, p_cents, due_cents
  FROM jobs
  UNION ALL
  SELECT 'arrival', row_number() OVER (ORDER BY idx),
         p_cents, due_cents
  FROM jobs
  UNION ALL
  SELECT 'spt', row_number() OVER (ORDER BY p_cents, idx),
         p_cents, due_cents
  FROM jobs
), compl AS MATERIALIZED (
  SELECT ord,
         sum(p_cents) OVER (PARTITION BY ord ORDER BY k) - due_cents
           AS lateness
  FROM seqs
), late AS MATERIALIZED (
  SELECT ord, max(lateness) AS lmax FROM compl GROUP BY ord
)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM jobs) AS n_jobs,
       CAST(max(CASE WHEN ord = 'edd' THEN lmax END) AS BIGINT)
         AS edd_lmax_cents,
       CAST(max(CASE WHEN ord = 'arrival' THEN lmax END) AS BIGINT)
         AS arrival_lmax_cents,
       CAST(max(CASE WHEN ord = 'spt' THEN lmax END) AS BIGINT)
         AS spt_lmax_cents,
       max(CASE WHEN ord = 'edd' THEN lmax END)
         <= max(CASE WHEN ord = 'arrival' THEN lmax END)
       AND max(CASE WHEN ord = 'edd' THEN lmax END)
         <= max(CASE WHEN ord = 'spt' THEN lmax END)
         AS edd_optimal_in_band
FROM late
"""
)


def _q_moore_hodgson_late_jobs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    jobs = _day_jobs(spark, sf_dir)
    one = jobs.agg(
        F.expr(
            "transform(sort_array(collect_list(struct("
            "due_cents AS due, idx AS idx, p_cents AS p))),"
            " s -> struct(s.p AS p, s.due AS due))"
        ).alias("edd"),
        F.count(F.lit(1)).alias("n_jobs"),
    )
    # fold: kept ascending-sorted; overshoot ejects the max (last).
    # 'ok' witnesses the algorithm's inductive step — after every
    # accept/eject the running total meets the CURRENT job's due date
    # (the Moore 1968 feasibility invariant, emitted, not assumed)
    fold = """aggregate(
      edd,
      named_struct('lst', CAST(array() AS ARRAY<BIGINT>),
                   'tot', CAST(0 AS BIGINT),
                   'dropped', CAST(0 AS BIGINT), 'ok', TRUE),
      (acc, e) -> IF(acc.tot + e.p <= e.due,
        named_struct('lst', array_sort(concat(acc.lst, array(e.p))),
                     'tot', acc.tot + e.p,
                     'dropped', acc.dropped,
                     'ok', acc.ok),
        named_struct(
          'lst', slice(array_sort(concat(acc.lst, array(e.p))),
                       1, size(acc.lst)),
          'tot', acc.tot + e.p
                 - element_at(array_sort(concat(acc.lst, array(e.p))),
                              size(acc.lst) + 1),
          'dropped', acc.dropped + 1,
          'ok', acc.ok AND acc.tot + e.p
                - element_at(array_sort(concat(acc.lst, array(e.p))),
                             size(acc.lst) + 1) <= e.due)))"""
    folded = one.select(F.expr(fold).alias("k"), "n_jobs")
    return folded.select(
        "n_jobs",
        F.expr("size(k.lst)").cast("bigint").alias("n_on_time"),
        F.col("k.dropped").alias("n_late"),
        F.col("k.tot").alias("accepted_cents"),
        F.col("k.ok").alias("step_invariant_ok"),
    )


_SQL_MOORE = (
    _SQL_JOBS.replace("WITH ", "WITH RECURSIVE ", 1)
    + """
, edd AS MATERIALIZED (
  SELECT row_number() OVER (ORDER BY due_cents, idx) AS k,
         p_cents AS p, due_cents AS due
  FROM jobs
), n AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS n_jobs FROM edd),
walk AS (
  -- Moore-Hodgson replay: state = (step, kept sorted asc, total,
  -- dropped, invariant flag); eject the max (list tail) on overshoot
  SELECT 0 AS k, CAST([] AS BIGINT[]) AS lst,
         CAST(0 AS BIGINT) AS tot, CAST(0 AS BIGINT) AS dropped,
         TRUE AS ok
  UNION ALL
  SELECT e.k,
         CASE WHEN w.tot + e.p <= e.due
              THEN list_sort(list_append(w.lst, e.p))
              ELSE list_sort(list_append(w.lst, e.p))[
                     1 : len(w.lst)]
         END,
         CASE WHEN w.tot + e.p <= e.due
              THEN w.tot + e.p
              ELSE w.tot + e.p
                   - list_sort(list_append(w.lst, e.p))[len(w.lst) + 1]
         END,
         CASE WHEN w.tot + e.p <= e.due
              THEN w.dropped ELSE w.dropped + 1 END,
         CASE WHEN w.tot + e.p <= e.due
              THEN w.ok
              ELSE w.ok AND w.tot + e.p
                   - list_sort(list_append(w.lst, e.p))[len(w.lst) + 1]
                   <= e.due END
  FROM walk w JOIN edd e ON e.k = w.k + 1
), final AS MATERIALIZED (
  SELECT * FROM walk ORDER BY k DESC LIMIT 1
)
SELECT (SELECT n_jobs FROM n) AS n_jobs,
       CAST(len(lst) AS BIGINT) AS n_on_time,
       dropped AS n_late,
       tot AS accepted_cents,
       ok AS step_invariant_ok
FROM final
"""
)


SPECS: dict[str, QuerySpec] = {
    "edd_lateness_audit": QuerySpec(
        _q_edd_lateness_audit,
        _SQL_EDD_LATENESS,
        "Jackson EDD rule on the 1995 day-job list: max lateness "
        "under EDD vs arrival vs SPT through the same prefix-sum "
        "completion times, with the EDD-optimality flag in-band",
    ),
    "moore_hodgson_late_jobs": QuerySpec(
        _q_moore_hodgson_late_jobs,
        _SQL_MOORE,
        "Moore-Hodgson minimum late jobs on the 1995 day-job list: "
        "EDD walk ejecting the largest accepted job on overshoot "
        "(sorted-list fold vs recursive-CTE oracle replay)",
    ),
}
