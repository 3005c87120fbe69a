"""Round-10 online-decision replay pack: classic online/streaming
decision rules replayed EXACTLY over the corpus, with their
competitive-ratio / optimality certificates emitted as data.

* ``ski_rental_break_even`` — the canonical rent-vs-buy problem
  (Karlin et al. 1988): each user's distinct active days are "ski
  days"; the break-even strategy rents for the first B−1 days and
  buys on day B (cost B−1+B), the offline optimum pays min(v, B).
  Grouped by per-user day count v: users, online cost, optimal cost,
  and the exact ratio in millis — every row must sit at or under the
  (2B−1)/B·1000 bound, which is emitted beside it.  Pure counting
  (no fold): ONE events scan → per-user distinct-day agg → v-keyed
  rollup (bounded rows).
* ``secretary_stopping_audit`` — the 1/e stopping rule replayed per
  (market segment × order year): observe the first ⌈0.37·n⌉ daily
  revenues, then accept the first later day strictly above the
  observed max.  Per-key row: observe count, threshold, the picked
  day/value (or none), the true best, and the success flag — the
  37 %-rule's hit rate laid out against its 1/e theory, entirely in
  window functions (prefix max + first-match rank), no fold.
* ``max_subarray_daily_kadane`` — Kadane's fold over the daily
  deviation series (day cents scaled by n minus total, so the mean
  shift is EXACT integer: dev_d = cents_d·n − total).  The Spark side
  runs the linear fold with a (cur, best) struct accumulator; the
  DuckDB oracle is the algorithmically independent prefix-sum
  identity max_j (prefix_j − min_{i<j} prefix_i) with matching
  first-min / first-max tie rules (restart only when cur < 0 ⇔ keep
  the EARLIEST minimal prefix; update best only on strict
  improvement ⇔ earliest end).  Output: best window sum, bounds, and
  length.
* ``stock_span_daily`` — the classic stock-span statistic (span_d =
  number of trailing days with revenue ≤ today's, self included) on
  the calendar-bounded day frame via the last-strictly-greater
  self-join; top-25 spans with deterministic tie order.  The pure
  O(n) monotonic-stack replay is the pytest identity twin (the
  pop-while loop is not a per-step lambda, so the distributed
  spelling is the bounded pair join — calendar frame, never
  corpus-sized).

100-TB shape: every query is ONE corpus scan collapsing to a
user- or calendar-bounded frame; the only quadratic piece
(stock_span) runs on the ≤ ~2,400-row day frame (matrix_profile
precedent).  All arithmetic integer cents; Kadane's scaled
deviations reach |dev| ≤ cents_max·n ≈ 1e12·2.4e3 — BIGINT-safe by
five orders at a 10× decade, stated here so the widening rule has a
written budget.

Identity properties (tests/test_properties.py): ski-rental ratio
bound (2B−1)/B proven per-bucket on the real frame and brute-checked
on tiny instances; the secretary replay equals a pure-Python replay;
Kadane's fold equals the O(n²) brute max-subarray with identical tie
rules; the span join equals the monotonic-stack replay.

No reference counterpart (online-algorithms extension alongside
plans/round10_replay.py); public algorithms only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.caching import tracked_cache
from ..sources.tables import load_table
from . import QuerySpec
from .frames import SQL_DAILY_ORDER_CENTS, daily_order_cents

#: ski-rental buy price, in rent-day units
SKI_B = 10
#: secretary observation share in millis (⌈0.37 n⌉)
SEC_OBS_MILLIS = 370
#: rows returned by the span query
SPAN_TOPK = 25


def _q_ski_rental_break_even(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    per_user = (
        ev.select("user_id", F.to_date("ts").alias("day"))
        .groupBy("user_id")
        .agg(F.countDistinct("day").alias("v"))
    )
    b = SKI_B
    cost = per_user.select(
        "v",
        F.expr(f"IF(v <= {b - 1}, v, {b - 1} + {b})").alias("online_cost"),
        F.expr(f"least(v, {b})").alias("opt_cost"),
    )
    return (
        cost.groupBy("v")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.sum("online_cost").alias("online_cost_days"),
            F.sum("opt_cost").alias("opt_cost_days"),
        )
        .select(
            "v",
            "n_users",
            "online_cost_days",
            "opt_cost_days",
            F.expr(
                "CAST(online_cost_days * 1000 div opt_cost_days AS BIGINT)"
            ).alias("ratio_millis"),
            F.lit((2 * b - 1) * 1000 // b).cast("bigint").alias("bound_millis"),
        )
        .orderBy("v")
    )


_SQL_SKI_RENTAL = f"""
WITH per_user AS MATERIALIZED (
  SELECT user_id, CAST(count(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS v
  FROM events GROUP BY user_id
), cost AS MATERIALIZED (
  SELECT v,
         CAST(CASE WHEN v <= {SKI_B - 1} THEN v
                   ELSE {SKI_B - 1} + {SKI_B} END AS BIGINT)
           AS online_cost,
         CAST(least(v, {SKI_B}) AS BIGINT) AS opt_cost
  FROM per_user
)
SELECT v,
       CAST(count(*) AS BIGINT) AS n_users,
       CAST(sum(online_cost) AS BIGINT) AS online_cost_days,
       CAST(sum(opt_cost) AS BIGINT) AS opt_cost_days,
       CAST(sum(online_cost) * 1000 // sum(opt_cost) AS BIGINT)
         AS ratio_millis,
       CAST({(2 * SKI_B - 1) * 1000 // SKI_B} AS BIGINT) AS bound_millis
FROM cost
GROUP BY v
ORDER BY v
"""


def _q_secretary_stopping_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    days = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy(
            F.col("c_mktsegment").alias("segment"),
            F.year("o_orderdate").alias("yr"),
            F.col("o_orderdate").cast("date").alias("day"),
        )
        .agg(
            F.sum(
                F.expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)")
            ).alias("cents")
        )
    )
    days = tracked_cache(days)  # day frame: one corpus scan total
    w = Window.partitionBy("segment", "yr").orderBy("day")
    wn = Window.partitionBy("segment", "yr")
    ranked = days.select(
        "segment",
        "yr",
        "day",
        "cents",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n_days"),
        F.max("cents").over(wn).alias("best_cents"),
    ).withColumn(
        "r_observe",
        F.expr(f"CAST(ceil(n_days * {SEC_OBS_MILLIS} / 1000.0) AS BIGINT)"),
    )
    thr = (
        ranked.filter(F.col("rn") <= F.col("r_observe"))
        .groupBy("segment", "yr")
        .agg(F.max("cents").alias("threshold_cents"))
    )
    picked = (
        ranked.join(thr, ["segment", "yr"])
        .filter(
            (F.col("rn") > F.col("r_observe"))
            & (F.col("cents") > F.col("threshold_cents"))
        )
        .groupBy("segment", "yr")
        .agg(F.min(F.struct("rn", "day", "cents")).alias("first_pick"))
        .select(
            "segment",
            "yr",
            F.col("first_pick.day").alias("picked_day"),
            F.col("first_pick.cents").alias("picked_cents"),
        )
    )
    keys = ranked.select(
        "segment", "yr", "n_days", "r_observe", "best_cents"
    ).distinct()
    return (
        keys.join(thr, ["segment", "yr"])
        .join(picked, ["segment", "yr"], "left")
        .select(
            "segment",
            "yr",
            "n_days",
            "r_observe",
            "threshold_cents",
            F.date_format("picked_day", "yyyy-MM-dd").alias("picked_day"),
            F.coalesce("picked_cents", F.lit(0)).alias("picked_cents"),
            "best_cents",
            (
                F.coalesce("picked_cents", F.lit(0)) == F.col("best_cents")
            ).alias("success"),
        )
        .orderBy("segment", "yr")
    )


_SQL_SECRETARY = f"""
WITH days AS MATERIALIZED (
  SELECT c.c_mktsegment AS segment,
         CAST(year(CAST(o.o_orderdate AS DATE)) AS BIGINT) AS yr,
         CAST(o.o_orderdate AS DATE) AS day,
         CAST(sum(CAST(round(o.o_totalprice * 100, 0) AS BIGINT))
              AS BIGINT) AS cents
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY 1, 2, 3
), ranked AS MATERIALIZED (
  SELECT segment, yr, day, cents,
         row_number() OVER (PARTITION BY segment, yr ORDER BY day) AS rn,
         CAST(count(*) OVER (PARTITION BY segment, yr) AS BIGINT)
           AS n_days,
         max(cents) OVER (PARTITION BY segment, yr) AS best_cents
  FROM days
), obs AS MATERIALIZED (
  SELECT *, CAST(ceil(n_days * {SEC_OBS_MILLIS} / 1000.0) AS BIGINT)
           AS r_observe
  FROM ranked
), thr AS MATERIALIZED (
  SELECT segment, yr, max(cents) AS threshold_cents
  FROM obs WHERE rn <= r_observe GROUP BY 1, 2
), picked AS MATERIALIZED (
  SELECT segment, yr,
         arg_min(day, rn) AS picked_day,
         arg_min(cents, rn) AS picked_cents
  FROM obs JOIN thr USING (segment, yr)
  WHERE rn > r_observe AND cents > threshold_cents
  GROUP BY 1, 2
), keys AS MATERIALIZED (
  SELECT DISTINCT segment, yr, n_days, r_observe, best_cents FROM obs
)
SELECT k.segment, k.yr, k.n_days, k.r_observe, t.threshold_cents,
       strftime(p.picked_day, '%Y-%m-%d') AS picked_day,
       CAST(coalesce(p.picked_cents, 0) AS BIGINT) AS picked_cents,
       k.best_cents,
       coalesce(p.picked_cents, 0) = k.best_cents AS success
FROM keys k
JOIN thr t USING (segment, yr)
LEFT JOIN picked p ON p.segment = k.segment AND p.yr = k.yr
ORDER BY k.segment, k.yr
"""


def _q_max_subarray_daily_kadane(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    days = daily_order_cents(spark, sf_dir)
    one = days.agg(
        F.expr(
            "transform(sort_array(collect_list(struct(day AS day,"
            " cents AS cents))), s -> s.cents)"
        ).alias("vals"),
        F.count(F.lit(1)).alias("n_days"),
        F.sum("cents").alias("total_cents"),
    )
    # dev_i = cents_i * n - total (exact integer mean-centering);
    # |dev| <= cents_max * n — BIGINT-safe (budget in the docstring).
    # Kadane: restart only when cur < 0; best updates on strict >
    # (ties keep the earliest window).  Accumulator tracks indices to
    # recover the window: (i, cur, cur_start, best, b_start, b_end).
    fold = """aggregate(
      transform(vals, v -> v * n_days - total_cents),
      named_struct('i', CAST(0 AS BIGINT), 'cur', CAST(0 AS BIGINT),
                   'cs', CAST(1 AS BIGINT), 'best', CAST(NULL AS BIGINT),
                   'bs', CAST(0 AS BIGINT), 'be', CAST(0 AS BIGINT)),
      (acc, d) -> named_struct(
        'i', acc.i + 1,
        'cur', IF(acc.cur < 0, d, acc.cur + d),
        'cs', IF(acc.cur < 0, acc.i + 1, acc.cs),
        'best', IF(acc.best IS NULL
                   OR IF(acc.cur < 0, d, acc.cur + d) > acc.best,
                   IF(acc.cur < 0, d, acc.cur + d), acc.best),
        'bs', IF(acc.best IS NULL
                 OR IF(acc.cur < 0, d, acc.cur + d) > acc.best,
                 IF(acc.cur < 0, acc.i + 1, acc.cs), acc.bs),
        'be', IF(acc.best IS NULL
                 OR IF(acc.cur < 0, d, acc.cur + d) > acc.best,
                 acc.i + 1, acc.be)))"""
    return one.select(F.expr(fold).alias("k"), "n_days").select(
        F.col("k.best").alias("best_dev_sum"),
        F.col("k.bs").alias("start_idx"),
        F.col("k.be").alias("end_idx"),
        F.expr("k.be - k.bs + 1").alias("window_days"),
        "n_days",
    )


_SQL_KADANE = f"""
WITH days AS MATERIALIZED ({SQL_DAILY_ORDER_CENTS}), stats AS MATERIALIZED (
  SELECT CAST(count(*) AS BIGINT) AS n_days,
         CAST(sum(cents) AS BIGINT) AS total_cents
  FROM days
), dev AS MATERIALIZED (
  SELECT row_number() OVER (ORDER BY day) AS i,
         cents * n_days - total_cents AS d
  FROM days, stats
), pre AS MATERIALIZED (
  SELECT i, sum(d) OVER (ORDER BY i) AS p FROM dev
), -- prefix identity: best = max_j (p_j - min_{{0<=i<j}} p_i) with
   -- p_0 = 0; Kadane's cur<0 restart keeps the EARLIEST minimal
   -- prefix and its strict best update keeps the earliest end
low AS MATERIALIZED (
  SELECT i AS j, p,
         least(coalesce(min(p) OVER (
           ORDER BY i ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0), 0) AS minp
  FROM pre
), lowidx AS MATERIALIZED (
  -- earliest index attaining the running min; p_0 = 0 sits at
  -- index 0 and is always the earliest when minp = 0
  SELECT j, p, minp,
         CASE WHEN minp = 0 THEN 0
              ELSE (SELECT min(q.i) FROM pre q
                    WHERE q.i < low.j AND q.p = low.minp)
         END AS min_at
  FROM low
), cand AS MATERIALIZED (
  SELECT j, p - minp AS s, min_at + 1 AS ws, j AS we FROM lowidx
)
SELECT CAST((SELECT max(s) FROM cand) AS BIGINT) AS best_dev_sum,
       CAST(ws AS BIGINT) AS start_idx,
       CAST(we AS BIGINT) AS end_idx,
       CAST(we - ws + 1 AS BIGINT) AS window_days,
       (SELECT n_days FROM stats) AS n_days
FROM cand
WHERE s = (SELECT max(s) FROM cand)
ORDER BY we LIMIT 1
"""


def _q_stock_span_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    days = daily_order_cents(spark, sf_dir)
    w = Window.orderBy("day")
    idx = tracked_cache(
        days.select("day", "cents", F.row_number().over(w).alias("i"))
    )
    prev = idx.select(
        F.col("i").alias("pi"), F.col("cents").alias("pcents")
    )
    # last strictly-greater predecessor on the calendar-bounded frame
    spans = (
        idx.join(
            prev,
            (F.col("pi") < F.col("i")) & (F.col("pcents") > F.col("cents")),
            "left",
        )
        .groupBy("day", "cents", "i")
        .agg(F.max("pi").alias("lg"))
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "cents",
            F.expr("i - coalesce(lg, 0)").cast("bigint").alias("span"),
        )
    )
    return spans.orderBy(
        F.desc("span"), F.asc("day")
    ).limit(SPAN_TOPK)


_SQL_STOCK_SPAN = f"""
WITH days AS MATERIALIZED ({SQL_DAILY_ORDER_CENTS}), idx AS MATERIALIZED (
  SELECT day, cents, row_number() OVER (ORDER BY day) AS i FROM days
), spans AS MATERIALIZED (
  SELECT a.day, a.cents,
         CAST(a.i - coalesce(max(b.i), 0) AS BIGINT) AS span
  FROM idx a
  LEFT JOIN idx b ON b.i < a.i AND b.cents > a.cents
  GROUP BY a.day, a.cents, a.i
)
SELECT strftime(day, '%Y-%m-%d') AS day, cents, span FROM spans
ORDER BY span DESC, day ASC
LIMIT {SPAN_TOPK}
"""


SPECS: dict[str, QuerySpec] = {
    "ski_rental_break_even": QuerySpec(
        _q_ski_rental_break_even,
        _SQL_SKI_RENTAL,
        "ski-rental break-even replay per user activity-day count: "
        "online vs offline-optimal cost per bucket with the exact "
        "ratio and the (2B-1)/B competitive bound emitted beside it",
    ),
    "secretary_stopping_audit": QuerySpec(
        _q_secretary_stopping_audit,
        _SQL_SECRETARY,
        "1/e-rule secretary replay per (segment, year): observe "
        "ceil(0.37 n) daily revenues, take the first later day above "
        "the observed max; picked vs true best with success flag",
    ),
    "max_subarray_daily_kadane": QuerySpec(
        _q_max_subarray_daily_kadane,
        _SQL_KADANE,
        "Kadane max-subarray fold over exact mean-centered daily "
        "revenue deviations (cents*n - total); oracle via the "
        "independent prefix-sum identity with matching tie rules",
    ),
    "stock_span_daily": QuerySpec(
        _q_stock_span_daily,
        _SQL_STOCK_SPAN,
        "stock-span statistic on the calendar day frame (trailing "
        "days with revenue <= today): last-strictly-greater bounded "
        "self-join, top-25 spans; monotonic-stack twin in pytest",
    ),
}
