"""Round-9 robust-model-fitting pack: deterministic RANSAC consensus
line fitting (Fischler & Bolles, CACM 1981) on the daily revenue
series — the hypothesize-and-verify robust-estimation family the
catalog did not yet cover (``theil_sen_daily_revenue`` is the
rank-based robust slope; RANSAC is the consensus-set one, and its
candidate loop is the classic embarrassingly-parallel fan-out).

* ``ransac_line_daily_det`` — ``RANSAC_CANDIDATES`` two-point line
  hypotheses whose sample indices come from the repo's engine-free
  odd-multiplier hash (``_det`` convention: reproducible in ANY
  engine, no RNG), each scored against every observed day by the
  EXACT integer cross-multiplied inlier predicate

      |(y − y1)·(x2 − x1) − (x − x1)·(y2 − y1)| ≤ tol·(x2 − x1)

  (vertical distance to the line, cleared of division; x2 > x1 by
  construction so no abs on the denominator).  The tolerance is
  scale-free: tol = mean daily revenue div 10 (integer, 1-row
  broadcast).  Output: every candidate's consensus count, slope
  (late-float, round 6), inlier rate, and an ``is_best`` flag under
  the deterministic (inliers desc, cand asc) order.

100-TB shape: the fact scan collapses to the calendar-bounded day
frame (≤ 2,406 rows at any corpus size); hypothesis scoring is a
≤16 × ≤2,406 constant-size broadcast join (corpus-independent), and
the winner selection is a 16-row aggregate.  At petabyte scale the
candidate fan-out parallelizes trivially — each hypothesis is one
conditional aggregation over the same broadcast day frame.

Identity property (tests/test_properties.py): the cross-multiplied
integer predicate equals |y − (a + b·x)| ≤ tol evaluated in
fractions.Fraction (zero tolerance), and the best-candidate selection
matches a brute-force pure-Python RANSAC with the same hash draws.

No reference counterpart (robust-stats extension alongside
plans/round7_ts.py's Theil–Sen); public algorithm only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.caching import tracked_cache
from . import QuerySpec
from .frames import SQL_DAILY_ORDER_CENTS, daily_order_cents

#: two-point hypotheses drawn by the engine-free hash
RANSAC_CANDIDATES = 16
#: Knuth multiplicative-hash constant (the repo's _det standard)
_HASH_MULT = 2654435761
#: tol = mean daily revenue div RANSAC_TOL_DIV (scale-free)
RANSAC_TOL_DIV = 10


def _q_ransac_line_daily_det(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = tracked_cache(
        daily_order_cents(spark, sf_dir).select(
            F.row_number().over(Window.orderBy("day")).alias("x"),
            F.floor(F.col("cents") / F.lit(100.0) + F.lit(0.5))
            .cast("bigint")
            .alias("y"),
        )
    )
    scalars = pts.agg(
        F.count(F.lit(1)).alias("n"),
        F.expr(
            f"CAST((CAST(sum(y) AS DECIMAL(38,0)) div count(1))"
            f" div {RANSAC_TOL_DIV} AS BIGINT)"
        ).alias("tol"),
    )
    cands = (
        spark.range(RANSAC_CANDIDATES)
        .select((F.col("id") + 1).cast("bigint").alias("cand"))
        .crossJoin(F.broadcast(scalars))
        .select(
            "cand",
            "tol",
            (
                F.pmod(F.col("cand") * F.lit(_HASH_MULT), F.col("n")) + 1
            ).alias("i1"),
            (
                F.pmod(
                    (F.lit(2) * F.col("cand") + 1) * F.lit(_HASH_MULT),
                    F.col("n"),
                )
                + 1
            ).alias("i2"),
        )
        .where(F.col("i1") != F.col("i2"))
        .select(
            "cand",
            "tol",
            F.least("i1", "i2").alias("x1i"),
            F.greatest("i1", "i2").alias("x2i"),
        )
    )
    lines = (
        cands.join(
            pts.select(F.col("x").alias("x1i"), F.col("y").alias("y1")),
            "x1i",
        )
        .join(
            pts.select(F.col("x").alias("x2i"), F.col("y").alias("y2")),
            "x2i",
        )
        .select("cand", "tol", "x1i", "y1", "x2i", "y2")
    )
    scored = (
        pts.crossJoin(F.broadcast(lines))
        .select(
            "cand",
            "x1i",
            "y1",
            "x2i",
            "y2",
            (
                F.abs(
                    (F.col("y") - F.col("y1")).cast("decimal(38,0)")
                    * (F.col("x2i") - F.col("x1i"))
                    - (F.col("x") - F.col("x1i")).cast("decimal(38,0)")
                    * (F.col("y2") - F.col("y1"))
                )
                <= F.col("tol").cast("decimal(38,0)")
                * (F.col("x2i") - F.col("x1i"))
            )
            .cast("int")
            .alias("inlier"),
        )
        .groupBy("cand", "x1i", "y1", "x2i", "y2")
        .agg(F.sum("inlier").alias("n_inliers"), F.count(F.lit(1)).alias("n"))
    )
    best = F.row_number().over(
        Window.orderBy(F.desc("n_inliers"), "cand")
    )
    return scored.select(
        "cand",
        F.col("x1i").alias("x1"),
        "y1",
        F.col("x2i").alias("x2"),
        "y2",
        F.col("n_inliers").cast("bigint").alias("n_inliers"),
        F.round(
            F.col("n_inliers").cast("double") / F.col("n").cast("double"), 4
        ).alias("inlier_rate"),
        F.round(
            (F.col("y2") - F.col("y1")).cast("double")
            / (F.col("x2i") - F.col("x1i")).cast("double"),
            6,
        ).alias("slope"),
        (best == 1).alias("is_best"),
    ).orderBy("cand")


_SQL_RANSAC_LINE_DAILY_DET = f"""
WITH pts AS MATERIALIZED (
  SELECT row_number() OVER (ORDER BY day) AS x,
         CAST(floor(cents / 100.0 + 0.5) AS BIGINT) AS y
  FROM ({SQL_DAILY_ORDER_CENTS})
), scalars AS (
  SELECT count(*) AS n,
         CAST((sum(CAST(y AS HUGEINT)) // count(*))
              // {RANSAC_TOL_DIV} AS BIGINT) AS tol
  FROM pts
), cands AS (
  SELECT cand, tol,
         least(i1, i2) AS x1i, greatest(i1, i2) AS x2i
  FROM (
    SELECT CAST(range + 1 AS BIGINT) AS cand, tol,
           (CAST(range + 1 AS BIGINT) * {_HASH_MULT}) % n + 1 AS i1,
           ((2 * CAST(range + 1 AS BIGINT) + 1) * {_HASH_MULT}) % n + 1
             AS i2
    FROM range({RANSAC_CANDIDATES}), scalars
  ) WHERE i1 <> i2
), lines AS MATERIALIZED (
  SELECT cand, tol, x1i, p1.y AS y1, x2i, p2.y AS y2
  FROM cands
  JOIN pts p1 ON p1.x = x1i
  JOIN pts p2 ON p2.x = x2i
), scored AS (
  SELECT cand, x1i, y1, x2i, y2,
         sum(CASE WHEN abs(CAST(p.y - y1 AS HUGEINT) * (x2i - x1i)
                           - CAST(p.x - x1i AS HUGEINT) * (y2 - y1))
                       <= CAST(tol AS HUGEINT) * (x2i - x1i)
                  THEN 1 ELSE 0 END) AS n_inliers,
         count(*) AS n
  FROM pts p CROSS JOIN lines
  GROUP BY cand, x1i, y1, x2i, y2
)
SELECT cand, x1i AS x1, y1, x2i AS x2, y2,
       CAST(n_inliers AS BIGINT) AS n_inliers,
       round(CAST(n_inliers AS DOUBLE) / CAST(n AS DOUBLE), 4)
         AS inlier_rate,
       round(CAST(y2 - y1 AS DOUBLE) / CAST(x2i - x1i AS DOUBLE), 6)
         AS slope,
       row_number() OVER (ORDER BY n_inliers DESC, cand) = 1 AS is_best
FROM scored
ORDER BY cand
"""


SPECS: dict[str, QuerySpec] = {
    "ransac_line_daily_det": QuerySpec(
        _q_ransac_line_daily_det,
        _SQL_RANSAC_LINE_DAILY_DET,
        "deterministic RANSAC consensus line over the daily revenue "
        "series: 16 hash-drawn two-point hypotheses, exact integer "
        "cross-multiplied inlier predicate, scale-free tolerance "
        "(mean/10), consensus counts + best flag",
    ),
}
