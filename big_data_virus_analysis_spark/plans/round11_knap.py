"""Round-11 budgeted-selection pack: exact 0/1 knapsack over the 1995
day frame with both classical certificates in-band — the "which days
of traffic fit under a capacity budget" audit, solved to proven
optimality rather than greedily.

* ``knapsack_day_budget_audit`` — items are the 1995 order days:
  weight = the day's order count quantized to PERMILLE of the year's
  total (``greatest(1, n*1000 div total)`` — quantization makes the
  DP capacity axis SCALE-INVARIANT: ~1000 weight units at every SF,
  so the fold state never grows with the corpus), value = the day's
  revenue in cents.  Capacity = one third of the total weight.  The
  exact optimum is the textbook O(n·C) dynamic program folded as ONE
  ``aggregate`` over the day-ordered item list with the dp array
  (C+1 BIGINTs) as the accumulator — the r10 CPM/Neumann array-fold
  shape, zero iteration jobs.  Beside it, computed from the same
  item list density-sorted (exact double density, day tiebreak):
  the skip-and-continue greedy value (a feasible solution, so a
  LOWER bound) and the Dantzig prefix-fractional relaxation (the LP
  optimum, an UPPER bound).  The row carries the full certificate
  chain ``greedy <= opt <= dantzig`` as booleans that must be true,
  plus the quantized weight total so the permille rounding is data.

The DuckDB twin replays all three folds as recursive CTEs (the
``list_reduce`` struct-accumulator hazard documented in round-10 —
single-expression list accumulators only), walking the identical
integer trajectories.

100-TB shape: one orders scan → 365-row day frame → 1-row fold; the
capacity axis is permille-quantized so C ≈ 333 at any SF, and the dp
accumulator is a constant-size array.  All certificate arithmetic is
int64-safe: rem*v ≤ 333 × year-revenue-cents.

Identity properties (tests/test_properties.py): the dp fold equals
brute-force subset enumeration on random instances; greedy ≤ opt ≤
Dantzig always; Dantzig equals opt when everything fits; the dp array
is monotone nondecreasing in capacity.

No reference counterpart (decision-support extension alongside
plans/round10_sched2.py); public algorithms only (Bellman 1957 DP,
Dantzig 1957 bound).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load_table
from . import QuerySpec

#: weight quantization: permille of the year's total order count
KNAP_SCALE = 1000
#: capacity as a fraction of total quantized weight (1/3)
KNAP_CAP_DIV = 3

_DP_FOLD = """aggregate(
  its,
  array_repeat(CAST(0 AS BIGINT), CAST(cap + 1 AS INT)),
  (acc, it) -> transform(acc, (x, c) ->
    IF(c >= it.w,
       greatest(x, element_at(acc, CAST(c - it.w + 1 AS INT)) + it.v),
       x)),
  acc -> element_at(acc, CAST(cap + 1 AS INT)))"""

# greedy (skip-and-continue whole items) over the density-sorted list
_GREEDY_FOLD = """aggregate(
  dits,
  named_struct('rem', cap, 'val', CAST(0 AS BIGINT)),
  (acc, it) -> IF(it.w <= acc.rem,
    named_struct('rem', acc.rem - it.w, 'val', acc.val + it.v),
    acc),
  acc -> acc.val)"""

# Dantzig prefix bound: whole items until the first that does not fit,
# then the integer-floored fraction of THAT item, then stop
_DANTZIG_FOLD = """aggregate(
  dits,
  named_struct('rem', cap, 'val', CAST(0 AS BIGINT),
               'done', CAST(0 AS INT)),
  (acc, it) -> IF(acc.done = 1, acc,
    IF(it.w <= acc.rem,
       named_struct('rem', acc.rem - it.w, 'val', acc.val + it.v,
                    'done', CAST(0 AS INT)),
       named_struct('rem', acc.rem,
                    'val', acc.val + (acc.rem * it.v) div it.w,
                    'done', CAST(1 AS INT)))),
  acc -> acc.val)"""


def _q_knapsack_day_budget_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").where(
        F.expr("year(o_orderdate) = 1995")
    )
    days = o.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(
            F.expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)")
        ).alias("v"),
    )
    tot = days.agg(F.sum("n_orders").alias("tot_orders"))
    items = days.crossJoin(F.broadcast(tot)).select(
        "day",
        F.greatest(
            F.lit(1).cast("bigint"),
            F.expr(f"n_orders * {KNAP_SCALE} div tot_orders"),
        ).alias("w"),
        "v",
    )
    one = items.agg(
        # day-ordered items for the dp; density-ordered for the bounds
        F.expr(
            "sort_array(collect_list(struct(day AS day, w AS w, v AS v)))"
        ).alias("its0"),
        F.expr(
            "transform(sort_array(collect_list(struct("
            "  -(CAST(v AS DOUBLE) / w) AS negdens,"
            "  day AS day, w AS w, v AS v))),"
            " s -> struct(s.day AS day, s.w AS w, s.v AS v))"
        ).alias("dits"),
        F.sum("w").alias("total_w"),
        F.count(F.lit(1)).alias("n_days"),
    ).select(
        F.expr("transform(its0, s -> struct(s.w AS w, s.v AS v))").alias(
            "its"
        ),
        "dits",
        "total_w",
        "n_days",
        F.expr(f"total_w div {KNAP_CAP_DIV}").alias("cap"),
    )
    folded = one.select(
        "n_days",
        "total_w",
        "cap",
        F.expr(_DP_FOLD).alias("opt_value"),
        F.expr(_GREEDY_FOLD).alias("greedy_value"),
        F.expr(_DANTZIG_FOLD).alias("dantzig_bound"),
    )
    return folded.select(
        "n_days",
        "total_w",
        "cap",
        "opt_value",
        "greedy_value",
        "dantzig_bound",
        (F.col("greedy_value") <= F.col("opt_value")).alias("greedy_le_opt"),
        (F.col("opt_value") <= F.col("dantzig_bound")).alias(
            "opt_le_dantzig"
        ),
    )


_SQL_KNAPSACK = f"""
WITH RECURSIVE days AS MATERIALIZED (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(count(*) AS BIGINT) AS n_orders,
         CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
              AS BIGINT) AS v
  FROM orders WHERE year(CAST(o_orderdate AS DATE)) = 1995
  GROUP BY 1
), items AS MATERIALIZED (
  SELECT day,
         greatest(CAST(1 AS BIGINT),
                  n_orders * {KNAP_SCALE}
                  // (SELECT sum(n_orders) FROM days)) AS w,
         v,
         row_number() OVER (ORDER BY day) AS rn,
         row_number() OVER (
           ORDER BY -(CAST(v AS DOUBLE) / greatest(CAST(1 AS BIGINT),
                      n_orders * {KNAP_SCALE}
                      // (SELECT sum(n_orders) FROM days))), day
         ) AS drn
  FROM days
), consts AS MATERIALIZED (
  SELECT CAST(sum(w) AS BIGINT) AS total_w,
         CAST(count(*) AS BIGINT) AS n_days,
         CAST(sum(w) AS BIGINT) // {KNAP_CAP_DIV} AS cap
  FROM items
), dp AS (
  -- textbook 0/1 knapsack over day-ordered items; the dp list is the
  -- recursion's carried state (list_reduce's struct-accumulator
  -- hazard rules out a fold here — round-10 finding)
  SELECT CAST(0 AS BIGINT) AS i,
         list_transform(range(0, CAST(cap + 1 AS INT)),
                        c -> CAST(0 AS BIGINT)) AS arr
  FROM consts
  UNION ALL
  SELECT d.i + 1,
         list_transform(range(0, CAST((SELECT cap FROM consts) + 1
                                      AS INT)),
                        c -> CASE WHEN c >= it.w
                             THEN greatest(d.arr[c + 1],
                                           d.arr[CAST(c - it.w + 1 AS INT)]
                                           + it.v)
                             ELSE d.arr[c + 1] END)
  FROM dp d
  JOIN items it ON it.rn = d.i + 1
), opt AS MATERIALIZED (
  SELECT arr[CAST((SELECT cap FROM consts) + 1 AS INT)] AS opt_value
  FROM dp WHERE i = (SELECT n_days FROM consts)
), walk AS (
  -- greedy (skip-and-continue) and Dantzig prefix bound over the
  -- density order, one lockstep recursion
  SELECT CAST(0 AS BIGINT) AS i,
         cap AS g_rem, CAST(0 AS BIGINT) AS g_val,
         cap AS d_rem, CAST(0 AS BIGINT) AS d_val,
         CAST(0 AS INT) AS d_done
  FROM consts
  UNION ALL
  SELECT w.i + 1,
         CASE WHEN it.w <= w.g_rem THEN w.g_rem - it.w ELSE w.g_rem END,
         CASE WHEN it.w <= w.g_rem THEN w.g_val + it.v ELSE w.g_val END,
         CASE WHEN w.d_done = 1 OR it.w > w.d_rem
              THEN w.d_rem ELSE w.d_rem - it.w END,
         CASE WHEN w.d_done = 1 THEN w.d_val
              WHEN it.w <= w.d_rem THEN w.d_val + it.v
              ELSE w.d_val + (w.d_rem * it.v) // it.w END,
         CASE WHEN w.d_done = 1 OR it.w > w.d_rem
              THEN 1 ELSE 0 END
  FROM walk w
  JOIN items it ON it.drn = w.i + 1
), bounds AS MATERIALIZED (
  SELECT g_val AS greedy_value, d_val AS dantzig_bound
  FROM walk WHERE i = (SELECT n_days FROM consts)
)
SELECT c.n_days, c.total_w, c.cap,
       o.opt_value,
       b.greedy_value,
       b.dantzig_bound,
       b.greedy_value <= o.opt_value AS greedy_le_opt,
       o.opt_value <= b.dantzig_bound AS opt_le_dantzig
FROM consts c CROSS JOIN opt o CROSS JOIN bounds b
"""


SPECS: dict[str, QuerySpec] = {
    "knapsack_day_budget_audit": QuerySpec(
        _q_knapsack_day_budget_audit,
        _SQL_KNAPSACK,
        "exact 0/1 knapsack over 1995 order days (permille-quantized "
        "weights keep the dp capacity axis scale-invariant): optimum "
        "as one array fold, with the greedy lower and Dantzig LP "
        "upper certificates proven in-band",
    ),
}
