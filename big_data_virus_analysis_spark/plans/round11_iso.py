"""Round-11 isotonic-regression pack: the exact PAVA (pool-adjacent-
violators) fit of a nondecreasing trend to the monthly revenue series
— the shape-constrained regression a forecasting pipeline uses when
"this metric should only grow" is a modeling assumption to ENFORCE,
not test (the Mann-Kendall pack tests it; this pack fits under it).

* ``isotonic_monthly_revenue`` — monthly revenue cents in calendar
  order, fitted by PAVA (Ayer et al. 1955; Barlow-Brunk 1972): walk
  left to right keeping a stack of pools (sum, count); whenever the
  last pool's mean exceeds the new one's, merge — repeatedly — until
  monotone.  All comparisons are EXACT cross-multiplied rationals
  (sum_a·cnt_b > sum_b·cnt_a — no float ever decides a merge).  The
  Spark side is one array fold whose per-element merge cascade is a
  bounded inner fold (cascade length ≤ current pool count ≤ the
  calendar-bounded month count); the DuckDB twin replays the same
  stack machine as a RECURSIVE CTE where each iteration either merges
  the top two pools or consumes the next month (≤ 2n iterations).
  Output: one row per fitted pool — months covered, exact pool sum,
  the fitted level in micro-cents (sum·10⁶ div count) — plus the
  in-band witnesses ``monotone_ok`` (fitted levels nondecreasing,
  rational comparison) and ``mass_ok`` (pool sums add to the series
  total — PAVA conserves mass exactly).

100-TB shape: the corpus-sized work is the one lineitem/orders scan
building the ~84-row month frame; the fit is a 1-row fold over a
calendar-bounded list.

Identity properties (tests/test_properties.py): PAVA equals the
brute-force minimax characterization ŷ_i = max_{j≤i} min_{k≥i}
avg(y[j..k]) (exact Fractions) on random series; the fit is the
L2-projection (any other monotone vector has ≥ SSE, spot-checked
against random monotone candidates); already-monotone input is a
fixed point; mass conservation.

No reference counterpart (statistics extension alongside
plans/round11_trend.py); public algorithm only (PAVA, Ayer 1955).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load_table
from . import QuerySpec

#: cascade bound = calendar month count ceiling (the fixture spans
#: ~84 months; 128 is safely above any same-schema calendar)
_ISO_MAX_POOLS = 128

#: one merge-if-violating step: pools are parallel sums/cnts arrays;
#: the LAST TWO pools merge when mean(prev) > mean(last), i.e.
#: sums[n-1]*cnts[n] > sums[n]*cnts[n-1] (exact integers)
_MERGE_STEP = """(st, _z) -> IF(
  size(st.sums) >= 2 AND
  element_at(st.sums, size(st.sums) - 1) * element_at(st.cnts, size(st.cnts))
    > element_at(st.sums, size(st.sums)) * element_at(st.cnts, size(st.cnts) - 1),
  named_struct(
    'sums', concat(slice(st.sums, 1, size(st.sums) - 2),
                   array(element_at(st.sums, size(st.sums) - 1)
                         + element_at(st.sums, size(st.sums)))),
    'cnts', concat(slice(st.cnts, 1, size(st.cnts) - 2),
                   array(element_at(st.cnts, size(st.cnts) - 1)
                         + element_at(st.cnts, size(st.cnts))))),
  st)"""

_PAVA_FOLD = f"""aggregate(
  ys,
  named_struct('sums', CAST(array() AS ARRAY<BIGINT>),
               'cnts', CAST(array() AS ARRAY<BIGINT>)),
  (acc, y) -> aggregate(
    sequence(1, {_ISO_MAX_POOLS}),
    named_struct('sums', concat(acc.sums, array(y)),
                 'cnts', concat(acc.cnts, array(CAST(1 AS BIGINT)))),
    {_MERGE_STEP}))"""


def _q_isotonic_monthly_revenue(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.date_trunc("month", "o_orderdate").alias("mon")
    ).agg(
        F.sum(
            F.expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)")
        ).alias("cents")
    )
    one = monthly.agg(
        F.expr(
            "transform(sort_array(collect_list(struct(mon AS mon,"
            " cents AS cents))), s -> s.cents)"
        ).alias("ys"),
        F.count(F.lit(1)).alias("n_months"),
        F.sum("cents").alias("total_cents"),
    )
    pools = one.select(
        "n_months",
        "total_cents",
        F.expr(_PAVA_FOLD).alias("st"),
    ).select(
        "n_months",
        "total_cents",
        "st",
        # monotone witness: every adjacent pool pair satisfies
        # mean_i <= mean_{i+1} under the exact cross-multiplied order
        F.expr(
            """size(filter(sequence(1, size(st.sums) - 1), i ->
                 element_at(st.sums, i) * element_at(st.cnts, i + 1)
                 > element_at(st.sums, i + 1) * element_at(st.cnts, i)))
               = 0"""
        ).alias("monotone_ok"),
        F.expr(
            "aggregate(st.sums, CAST(0 AS BIGINT), (a, x) -> a + x)"
            " = total_cents"
        ).alias("mass_ok"),
    )
    return (
        pools.select(
            "n_months",
            "monotone_ok",
            "mass_ok",
            F.expr(
                """posexplode(arrays_zip(st.sums, st.cnts))"""
            ).alias("i0", "pz"),
        )
        .select(
            (F.col("i0") + 1).cast("int").alias("pool_idx"),
            F.col("pz.cnts").alias("n_points"),
            F.col("pz.sums").alias("pool_sum"),
            F.expr("pz.sums * 1000000 div pz.cnts").alias("level_micro"),
            "n_months",
            "monotone_ok",
            "mass_ok",
        )
        .orderBy("pool_idx")
    )


_SQL_ISOTONIC = """
WITH RECURSIVE monthly AS MATERIALIZED (
  SELECT date_trunc('month', CAST(o_orderdate AS DATE)) AS mon,
         CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
              AS BIGINT) AS cents
  FROM orders GROUP BY 1
), vals AS MATERIALIZED (
  SELECT list(cents ORDER BY mon) AS ys,
         CAST(count(*) AS BIGINT) AS n_months,
         CAST(sum(cents) AS BIGINT) AS total_cents
  FROM monthly
), walk AS (
  -- PAVA as a stack machine: each iteration either merges the top two
  -- pools (when the exact rational order is violated) or consumes the
  -- next month; terminates in <= 2n iterations
  SELECT CAST(0 AS BIGINT) AS i,
         CAST([] AS BIGINT[]) AS sums,
         CAST([] AS BIGINT[]) AS cnts
  FROM vals
  UNION ALL
  SELECT CASE WHEN viol THEN w.i ELSE w.i + 1 END,
         CASE WHEN viol THEN
                list_append(w.sums[1 : len(w.sums) - 2],
                            w.sums[-2] + w.sums[-1])
              ELSE list_append(w.sums, v.ys[CAST(w.i + 1 AS INT)]) END,
         CASE WHEN viol THEN
                list_append(w.cnts[1 : len(w.cnts) - 2],
                            w.cnts[-2] + w.cnts[-1])
              ELSE list_append(w.cnts, CAST(1 AS BIGINT)) END
  FROM (
    SELECT w.*,
           (len(w.sums) >= 2 AND
            w.sums[-2] * w.cnts[-1] > w.sums[-1] * w.cnts[-2]) AS viol
    FROM walk w
  ) w, vals v
  WHERE viol OR w.i < v.n_months
), fin AS MATERIALIZED (
  -- the terminal state: all months consumed and no violation left
  SELECT w.sums, w.cnts
  FROM walk w, vals v
  WHERE w.i = v.n_months
    AND NOT (len(w.sums) >= 2 AND
             w.sums[-2] * w.cnts[-1] > w.sums[-1] * w.cnts[-2])
  ORDER BY len(w.sums) LIMIT 1
), wit AS MATERIALIZED (
  SELECT len(list_filter(range(1, len(sums)),
             i -> sums[CAST(i AS INT)] * cnts[CAST(i AS INT) + 1]
                  > sums[CAST(i AS INT) + 1] * cnts[CAST(i AS INT)])) = 0
           AS monotone_ok,
         list_reduce(sums, (a, x) -> a + x)
           = (SELECT total_cents FROM vals) AS mass_ok
  FROM fin
)
SELECT CAST(u.i AS INT) AS pool_idx,
       f.cnts[CAST(u.i AS INT)] AS n_points,
       f.sums[CAST(u.i AS INT)] AS pool_sum,
       CAST(f.sums[CAST(u.i AS INT)] * 1000000
            // f.cnts[CAST(u.i AS INT)] AS BIGINT) AS level_micro,
       (SELECT n_months FROM vals) AS n_months,
       w.monotone_ok, w.mass_ok
FROM fin f CROSS JOIN wit w,
     UNNEST(range(1, len(f.sums) + 1)) AS u(i)
ORDER BY pool_idx
"""


SPECS: dict[str, QuerySpec] = {
    "isotonic_monthly_revenue": QuerySpec(
        _q_isotonic_monthly_revenue,
        _SQL_ISOTONIC,
        "exact PAVA isotonic fit of monthly revenue (cross-multiplied "
        "rational merges, no float decisions): one fitted-pool row "
        "each with exact sum and micro-cent level, monotone + "
        "mass-conservation witnesses in-band",
    ),
}
