"""Round-10 dynamic-programming pack: classic quadratic DPs over
CALENDAR-BOUNDED series, each as a single fold expression — LIS
(Erdős–Szekeres territory) and DTW (Sakoe & Chiba 1978; Berndt &
Clifford 1994), two named operators the catalog did not yet cover
(matrix profile covers self-similarity of subsequences; DTW aligns two
whole curves, LIS measures monotone structure).

* ``lis_daily_revenue`` — longest strictly-increasing and longest
  strictly-decreasing subsequences of the day-ordered daily-revenue
  series (integer cents).  The O(n²) DP runs as ONE fold that builds
  the dp array by appending: dp[i] = 1 + max(dp[j] : j < i, v[j] < v[i]).
  Emits n_days, n_distinct_values, lis_len, lds_len, and the
  Erdős–Szekeres product lis·lds (for distinct-valued sequences the
  theorem guarantees lis·lds >= n — the identity test asserts it; the
  query emits the ingredients so ties are visible rather than papered
  over).
* ``dtw_month_shape_distance`` — dynamic-time-warping distance between
  the January and February revenue shapes (total cents per day-of-
  month, aggregated over all years — two series of length ≤ 31 and
  ≤ 29).  Full 31×29 DP, |a−b| step cost, as a nested fold (outer
  over rows, inner appending along the row).  The query also computes
  dtw(A, A) and dtw(B, A) IN-BAND and emits ``self_zero_ok`` /
  ``symmetric_ok`` — the implementation proves its own identities on
  the real data (the convergence-as-data discipline applied to a DP).

Both day frames are calendar-bounded (≤ ~2,400 and ≤ 31 rows at any
SF — the matrix_profile_daily precedent), so corpus-sized work is one
orders scan + one hash aggregate; the DP itself is constant-bounded.
The DuckDB twins mirror the folds with ``list_reduce`` in the SAFE
single-expression LIST(BIGINT) accumulator shape (the multi-field
struct hazard and its recursive-CTE workaround are documented in
plans/round10_replay.py), and tests/test_round10_folds.py ground-
truths both engines against pure-Python replays.

Spark pitfall encoded here: ``sequence(1, 0)`` DESCENDS in Spark
(yields [1, 0]) while DuckDB's ``range(1, 1)`` is empty — every inner
index range is guarded with an explicit empty-array CASE for i = 1.

Identity properties (tests/test_properties.py): the LIS fold equals
the textbook DP and patience-sorting length on random lists, and
lis·lds >= n on distinct values (Erdős–Szekeres); the DTW fold equals
brute-force enumeration of monotone alignment paths on small
instances, is symmetric, and is zero iff the series are equal.

No reference counterpart (time-series extension alongside
plans/round9_motif.py); public algorithms only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load_table
from . import QuerySpec
from .frames import SQL_DAILY_ORDER_CENTS, daily_order_cents


def _lis_fold(values: str, cmp: str) -> str:
    """Spark: dp built by appending; dp[i] = 1 + max over earlier
    strictly-{smaller,larger} values (0 when none).  ``cmp`` is '<'
    for LIS, '>' for LDS."""
    return f"""array_max(aggregate(
      sequence(1, size({values})),
      CAST(array() AS ARRAY<BIGINT>),
      (acc, i) -> acc || array(1 + coalesce(array_max(
        transform(
          CASE WHEN i = 1 THEN CAST(array() AS ARRAY<INT>)
               ELSE sequence(1, i - 1) END,
          j -> IF(element_at({values}, j) {cmp} element_at({values}, i),
                  element_at(acc, j), CAST(0 AS BIGINT)))), 0))))"""


def _q_lis_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    one = daily_order_cents(spark, sf_dir).agg(
        F.expr(
            "transform(sort_array(collect_list(struct(day, cents))),"
            " s -> s.cents)"
        ).alias("v"),
        F.count(F.lit(1)).alias("n_days"),
        F.countDistinct("cents").alias("n_distinct_values"),
    )
    out = one.select(
        "n_days",
        "n_distinct_values",
        F.expr(_lis_fold("v", "<")).alias("lis_len"),
        F.expr(_lis_fold("v", ">")).alias("lds_len"),
    )
    return out.select(
        "n_days",
        "n_distinct_values",
        "lis_len",
        "lds_len",
        (F.col("lis_len") * F.col("lds_len")).alias("es_product"),
        (
            F.col("lis_len") * F.col("lds_len") >= F.col("n_days")
        ).alias("es_bound_ok"),
    )


def _sql_lis_fold(values: str, cmp: str) -> str:
    """DuckDB twin: the [i]-lift encodes the index stream; range(1, 1)
    is naturally empty, no guard needed."""
    return f"""list_max(list_reduce(
      [CAST([] AS BIGINT[])] || list_transform(
        range(1, len({values}) + 1), i -> [CAST(i AS BIGINT)]),
      (acc, x) -> acc || [1 + coalesce(list_max(
        list_transform(range(1, CAST(x[1] AS INT)),
          j -> CASE WHEN {values}[CAST(j AS INT)] {cmp}
                         {values}[CAST(x[1] AS INT)]
                    THEN acc[CAST(j AS INT)]
                    ELSE CAST(0 AS BIGINT) END)), 0)]))"""


_SQL_LIS = f"""
WITH days AS MATERIALIZED ({SQL_DAILY_ORDER_CENTS}), one AS MATERIALIZED (
  SELECT list(cents ORDER BY day) AS v,
         CAST(count(*) AS BIGINT) AS n_days,
         CAST(count(DISTINCT cents) AS BIGINT) AS n_distinct_values
  FROM days
)
SELECT n_days, n_distinct_values,
       CAST({_sql_lis_fold("v", "<")} AS BIGINT) AS lis_len,
       CAST({_sql_lis_fold("v", ">")} AS BIGINT) AS lds_len,
       CAST({_sql_lis_fold("v", "<")}
            * {_sql_lis_fold("v", ">")} AS BIGINT) AS es_product,
       {_sql_lis_fold("v", "<")} * {_sql_lis_fold("v", ">")} >= n_days
         AS es_bound_ok
FROM one
"""


def _dtw_fold(a: str, b: str) -> str:
    """Spark: full DTW DP as nested folds.  Outer fold over rows of
    ``a`` carries the previous DP row; the inner fold appends along
    the row (D[i][j] needs D[i][j-1]).  Row 1 is the prefix-summed
    base case, folded the same way with an infinite-free spelling:
    the inner IF on j = 1 / i = 1 selects the valid predecessors."""
    cost = (
        f"abs(element_at({a}, i) - element_at({b}, j))"
    )
    # predecessor min: j=1 -> only D[i-1][1] (vertical); else
    # least(D[i-1][j], D[i][j-1], D[i-1][j-1])
    inner = f"""aggregate(
      sequence(1, size({b})),
      CAST(array() AS ARRAY<BIGINT>),
      (row, j) -> row || array({cost} +
        CASE WHEN i = 1 AND j = 1 THEN CAST(0 AS BIGINT)
             WHEN i = 1 THEN element_at(row, j - 1)
             WHEN j = 1 THEN element_at(prev, 1)
             ELSE least(element_at(prev, j),
                        element_at(row, j - 1),
                        element_at(prev, j - 1)) END))"""
    return f"""element_at(aggregate(
      sequence(1, size({a})),
      CAST(array() AS ARRAY<BIGINT>),
      (prev, i) -> {inner}), size({b}))"""


def _q_dtw_month_shape_distance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    dom = o.select(
        F.month("o_orderdate").alias("mo"),
        F.dayofmonth("o_orderdate").alias("dom"),
        F.expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)").alias(
            "cents"
        ),
    ).where(F.col("mo").isin(1, 2))
    per = dom.groupBy("mo", "dom").agg(F.sum("cents").alias("cents"))
    one = per.agg(
        F.expr(
            "transform(sort_array(collect_list(IF(mo = 1,"
            " struct(dom, cents), null))), s -> s.cents)"
        ).alias("a"),
        F.expr(
            "transform(sort_array(collect_list(IF(mo = 2,"
            " struct(dom, cents), null))), s -> s.cents)"
        ).alias("b"),
    )
    out = one.select(
        F.expr("size(a)").alias("len_a"),
        F.expr("size(b)").alias("len_b"),
        F.expr(_dtw_fold("a", "b")).alias("dtw_ab"),
        F.expr(_dtw_fold("b", "a")).alias("dtw_ba"),
        F.expr(_dtw_fold("a", "a")).alias("dtw_aa"),
    )
    return out.select(
        "len_a",
        "len_b",
        "dtw_ab",
        "dtw_ba",
        (F.col("dtw_ab") == F.col("dtw_ba")).alias("symmetric_ok"),
        "dtw_aa",
        (F.col("dtw_aa") == 0).alias("self_zero_ok"),
    )


def _sql_dtw_fold(a: str, b: str) -> str:
    """DuckDB twin of the nested DTW fold: the inner lambda closes
    over the outer fold's row index ``x`` (nested-lambda closure, the
    same mechanism the Spark side uses for ``prev``/``i``)."""
    cost = f"abs({a}[CAST(x[1] AS INT)] - {b}[CAST(y[1] AS INT)])"
    inner = f"""list_reduce(
      [CAST([] AS BIGINT[])] || list_transform(
        range(1, len({b}) + 1), j -> [CAST(j AS BIGINT)]),
      (row, y) -> row || [{cost} +
        CASE WHEN x[1] = 1 AND y[1] = 1 THEN CAST(0 AS BIGINT)
             WHEN x[1] = 1 THEN row[CAST(y[1] AS INT) - 1]
             WHEN y[1] = 1 THEN prev_row[1]
             ELSE least(prev_row[CAST(y[1] AS INT)],
                        row[CAST(y[1] AS INT) - 1],
                        prev_row[CAST(y[1] AS INT) - 1]) END])"""
    return f"""(list_reduce(
      [CAST([] AS BIGINT[])] || list_transform(
        range(1, len({a}) + 1), i -> [CAST(i AS BIGINT)]),
      (prev_row, x) -> {inner}))[len({b})]"""


_SQL_DTW = f"""
WITH per AS MATERIALIZED (
  SELECT month(o_orderdate) AS mo, day(o_orderdate) AS dom,
         CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
              AS BIGINT) AS cents
  FROM orders WHERE month(o_orderdate) IN (1, 2)
  GROUP BY 1, 2
), one AS MATERIALIZED (
  SELECT list(cents ORDER BY dom) FILTER (WHERE mo = 1) AS a,
         list(cents ORDER BY dom) FILTER (WHERE mo = 2) AS b
  FROM per
)
SELECT CAST(len(a) AS INT) AS len_a, CAST(len(b) AS INT) AS len_b,
       CAST({_sql_dtw_fold("a", "b")} AS BIGINT) AS dtw_ab,
       CAST({_sql_dtw_fold("b", "a")} AS BIGINT) AS dtw_ba,
       {_sql_dtw_fold("a", "b")} = {_sql_dtw_fold("b", "a")}
         AS symmetric_ok,
       CAST({_sql_dtw_fold("a", "a")} AS BIGINT) AS dtw_aa,
       {_sql_dtw_fold("a", "a")} = 0 AS self_zero_ok
FROM one
"""


SPECS: dict[str, QuerySpec] = {
    "lis_daily_revenue": QuerySpec(
        _q_lis_daily_revenue,
        _SQL_LIS,
        "longest strictly-increasing / decreasing subsequences of the "
        "daily-revenue series as one appending DP fold, with the "
        "Erdos-Szekeres product emitted",
    ),
    "dtw_month_shape_distance": QuerySpec(
        _q_dtw_month_shape_distance,
        _SQL_DTW,
        "dynamic-time-warping distance between the January and "
        "February day-of-month revenue shapes (full integer DP as "
        "nested folds) with in-band self-zero and symmetry witnesses",
    ),
}
