"""Round-10 computational-geometry pack: exact integer geometry over
calendar-bounded point frames — the convex hull of the monthly
(quantity, revenue) scatter and the closest pair of daily points via
the classic strip-pruned sweep.

* ``convex_hull_monthly`` — points are the ≤ ~84 monthly
  (total quantity, total revenue cents) aggregates of lineitem.  A
  directed edge p→q is a hull edge iff every other point r satisfies
  ``cross(q−p, r−p) > 0`` (strictly CCW) or lies strictly INSIDE the
  segment (cross = 0 and 0 < dot < ‖q−p‖²) — the vertex-minimal hull,
  collinear boundary points excluded by construction.  Output: the CCW
  hull edges with integer coordinates and squared length, plus the
  vertex/point counts.  All cross/dot products ride DECIMAL(38,0)
  (qty·cents products reach ~1e19 one decade past sf0.1 — the
  round9_absorb widening discipline).
* ``closest_pair_strip`` — points are the ≤ ~2,400 daily
  (epoch-day, revenue cents) aggregates of orders.  Phase 1: sort by
  x and take the min squared distance over RANK-ADJACENT pairs — an
  upper bound d₀ reachable with one window pass.  Phase 2: the exact
  minimum must join two points within √d₀ in x, so the candidate set
  is the self-join banded by ``|x₁−x₂|² ≤ d₀`` — the textbook strip
  prune (Shamos–Hoey sweep, relationally spelled), NEVER the full
  pair product.  The emitted row carries the pair, the exact min
  squared distance, d₀, and both pair-set sizes (the prune factor is
  data, not a claim).  The DuckDB oracle is the algorithmically
  INDEPENDENT brute-force min over all O(n²) pairs on the same
  calendar-bounded frame — a hash match proves the prune lost
  nothing.

100-TB shape: both point frames are calendar-bounded (months/days),
so the corpus-sized work is ONE scan + one hash aggregate each — the
``matrix_profile_daily`` precedent.  The hull's pair→witness join is
≤ 84³ ≈ 6e5 predicate rows; the strip join's candidate count is
emitted in-band.  INTERNAL squared distances use DECIMAL(38,0): daily
cents one decade past sf0.1 square to ~1e20, past BIGINT.  Final
emission (r12 driver-parity): min_d2/d0 as int64 (minima, < 1e15 at
every test SF), edge_len2 as its canonical digit string (~1e19 at
sf0.01 — past int64, and wide decimals render differently per engine
on the driver channel).

Identity properties (tests/test_properties.py): the edge-predicate
hull equals Andrew's monotone chain in pure Python on planted square /
collinear / duplicate-point sets and on the real sf0.001 frame; the
strip-pruned closest pair equals brute force on random integer sets
(the d₀-bound argument exercised end-to-end).

No reference counterpart (geometry extension alongside the
time-series packs); public algorithms only (Andrew 1979, Shamos–Hoey
1975).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.caching import tracked_cache
from ..sources.tables import load_table
from . import QuerySpec
from .frames import SQL_DAILY_ORDER_CENTS, daily_order_cents


def _monthly_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct monthly (qty, cents) points — duplicates collapse so
    the hull predicate's strict inequalities stay well-defined."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy(F.date_trunc("month", "l_shipdate").alias("month"))
        .agg(
            F.sum(F.col("l_quantity").cast("bigint")).alias("x"),
            F.sum(
                F.expr(
                    "CAST(round(l_extendedprice * 100, 0) AS BIGINT)"
                )
            ).alias("y"),
        )
        .select("x", "y")
        .distinct()
    )


def _q_convex_hull_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = tracked_cache(_monthly_points(spark, sf_dir))
    p = pts.select(F.col("x").alias("px"), F.col("y").alias("py"))
    q = pts.select(F.col("x").alias("qx"), F.col("y").alias("qy"))
    r = pts.select(F.col("x").alias("rx"), F.col("y").alias("ry"))
    pairs = p.join(q, (F.col("px") != F.col("qx")) | (F.col("py") != F.col("qy")))
    # witness r kills the edge unless strictly CCW or strictly inside
    # the segment; DECIMAL(38,0) products (round9_absorb discipline)
    dec = "CAST({} AS DECIMAL(38,0))"
    cross = (
        f"({dec.format('qx - px')} * {dec.format('ry - py')}"
        f" - {dec.format('qy - py')} * {dec.format('rx - px')})"
    )
    dot = (
        f"({dec.format('qx - px')} * {dec.format('rx - px')}"
        f" + {dec.format('qy - py')} * {dec.format('ry - py')})"
    )
    len2 = (
        f"({dec.format('qx - px')} * {dec.format('qx - px')}"
        f" + {dec.format('qy - py')} * {dec.format('qy - py')})"
    )
    ok = (
        f"({cross} > 0 OR ({cross} = 0 AND {dot} > 0 AND {dot} < {len2}))"
    )
    not_pq = (
        "((rx != px OR ry != py) AND (rx != qx OR ry != qy))"
    )
    # overflow sentinel (r10 ADVICE #5): Spark DECIMAL(38,0) arithmetic
    # returns NULL on overflow (non-ANSI), which would make
    # "rx IS NOT NULL AND NOT ok" NULL and silently ADMIT spurious hull
    # edges while the DuckDB HUGEINT side errors loudly.  Count the
    # NULL products per edge and emit the corpus total in-band — a
    # future scale excursion reads as overflow_nulls > 0 instead of a
    # corrupted hull.  (Magnitudes today are budgeted well under 1e38.)
    null_prod = f"({cross} IS NULL OR {dot} IS NULL OR {len2} IS NULL)"
    grp = tracked_cache(
        pairs.join(r, F.expr(not_pq), "left")
        .groupBy("px", "py", "qx", "qy")
        .agg(
            F.sum(
                F.when(F.expr(f"rx IS NOT NULL AND NOT {ok}"), 1).otherwise(0)
            ).alias("violations"),
            F.sum(
                F.when(F.expr(f"rx IS NOT NULL AND {null_prod}"), 1).otherwise(
                    0
                )
            ).alias("null_products"),
        )
    )
    edges = grp.filter(F.col("violations") == 0).select(
        "px", "py", "qx", "qy"
    )
    overflow = grp.agg(
        F.sum("null_products").cast("bigint").alias("overflow_nulls")
    )
    n_pts = pts.agg(F.count(F.lit(1)).alias("n_points"))
    out = (
        edges.crossJoin(F.broadcast(n_pts))
        .crossJoin(F.broadcast(overflow))
        .select(
            "px",
            "py",
            "qx",
            "qy",
            # r12 driver-parity fix (r11 VERDICT #1): edge_len2 reaches
            # ~1e19 already at sf0.01 (past int64), so the BIGINT fix
            # is unavailable — emit the exact value as its canonical
            # digit string instead (Spark DECIMAL(38,0)->STRING and
            # DuckDB HUGEINT->VARCHAR both render plain digits; the
            # string class is driver-render-stable at any magnitude)
            F.expr(
                f"CAST(CAST({len2} AS DECIMAL(38,0)) AS STRING)"
            ).alias("edge_len2"),
            "n_points",
            "overflow_nulls",
        )
        .orderBy("px", "py", "qx", "qy")
    )
    return out


_SQL_CONVEX_HULL = """
WITH pts AS MATERIALIZED (
  SELECT DISTINCT
         CAST(sum(CAST(l_quantity AS BIGINT))
              OVER (PARTITION BY date_trunc('month', l_shipdate))
              AS BIGINT) AS x,
         CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT))
              OVER (PARTITION BY date_trunc('month', l_shipdate))
              AS BIGINT) AS y
  FROM lineitem
), pairs AS MATERIALIZED (
  SELECT p.x AS px, p.y AS py, q.x AS qx, q.y AS qy
  FROM pts p, pts q
  WHERE p.x != q.x OR p.y != q.y
), checked AS MATERIALIZED (
  SELECT px, py, qx, qy,
         sum(CASE WHEN r.x IS NOT NULL AND NOT (
               (CAST(qx - px AS HUGEINT) * CAST(r.y - py AS HUGEINT)
                - CAST(qy - py AS HUGEINT) * CAST(r.x - px AS HUGEINT)) > 0
               OR (
                 (CAST(qx - px AS HUGEINT) * CAST(r.y - py AS HUGEINT)
                  - CAST(qy - py AS HUGEINT) * CAST(r.x - px AS HUGEINT)) = 0
                 AND (CAST(qx - px AS HUGEINT) * CAST(r.x - px AS HUGEINT)
                      + CAST(qy - py AS HUGEINT) * CAST(r.y - py AS HUGEINT)) > 0
                 AND (CAST(qx - px AS HUGEINT) * CAST(r.x - px AS HUGEINT)
                      + CAST(qy - py AS HUGEINT) * CAST(r.y - py AS HUGEINT))
                     < (CAST(qx - px AS HUGEINT) * CAST(qx - px AS HUGEINT)
                        + CAST(qy - py AS HUGEINT) * CAST(qy - py AS HUGEINT))
               )) THEN 1 ELSE 0 END) AS violations,
         -- overflow sentinel twin (see Spark side): HUGEINT products
         -- of non-null inputs are never NULL in DuckDB (it errors
         -- loudly on overflow instead), so this counts 0 — spelled
         -- structurally, not as a literal, to keep the audit honest
         sum(CASE WHEN r.x IS NOT NULL AND (
               (CAST(qx - px AS HUGEINT) * CAST(r.y - py AS HUGEINT)
                - CAST(qy - py AS HUGEINT) * CAST(r.x - px AS HUGEINT))
                 IS NULL
               OR (CAST(qx - px AS HUGEINT) * CAST(r.x - px AS HUGEINT)
                   + CAST(qy - py AS HUGEINT) * CAST(r.y - py AS HUGEINT))
                 IS NULL
               OR (CAST(qx - px AS HUGEINT) * CAST(qx - px AS HUGEINT)
                   + CAST(qy - py AS HUGEINT) * CAST(qy - py AS HUGEINT))
                 IS NULL
             ) THEN 1 ELSE 0 END) AS null_products
  FROM pairs
  LEFT JOIN pts r
    ON (r.x != px OR r.y != py) AND (r.x != qx OR r.y != qy)
  GROUP BY px, py, qx, qy
)
SELECT px, py, qx, qy,
       -- canonical digit string (driver-parity): the squared length
       -- passes int64 at sf0.01 already, so string is the stable class
       CAST(CAST(qx - px AS HUGEINT) * CAST(qx - px AS HUGEINT)
            + CAST(qy - py AS HUGEINT) * CAST(qy - py AS HUGEINT)
            AS VARCHAR) AS edge_len2,
       (SELECT CAST(count(*) AS BIGINT) FROM pts) AS n_points,
       (SELECT CAST(sum(null_products) AS BIGINT) FROM checked)
         AS overflow_nulls
FROM checked
WHERE violations = 0
ORDER BY px, py, qx, qy
"""


def _q_closest_pair_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    # (epoch day, cents) points; one row per day, so all are distinct
    pts = tracked_cache(
        daily_order_cents(spark, sf_dir).select(
            F.datediff("day", F.lit("1970-01-01")).cast("bigint").alias("x"),
            F.col("cents").alias("y"),
        )
    )
    # phase 1: rank-adjacent upper bound d0 (one partitioned-free
    # window over the bounded day frame is the documented exception —
    # the frame is calendar-bounded, matrix_profile precedent)
    w = Window.orderBy("x", "y")
    adj = (
        pts.select(
            "x",
            "y",
            F.lead("x").over(w).alias("nx"),
            F.lead("y").over(w).alias("ny"),
        )
        .filter(F.col("nx").isNotNull())
        .select(
            F.expr(
                "CAST(x - nx AS DECIMAL(38,0)) * CAST(x - nx AS DECIMAL(38,0))"
                " + CAST(y - ny AS DECIMAL(38,0)) * CAST(y - ny AS DECIMAL(38,0))"
            ).alias("dd")
        )
        .agg(F.min("dd").alias("d0"))
    )
    a = pts.select(F.col("x").alias("ax"), F.col("y").alias("ay"))
    b = pts.select(F.col("x").alias("bx"), F.col("y").alias("by_"))
    # phase 2: strip prune — |ax-bx|^2 <= d0 bounds the exact pair
    cand = (
        a.crossJoin(F.broadcast(adj))
        .join(
            b,
            F.expr(
                "(ax < bx OR (ax = bx AND ay < by_))"
                " AND CAST(ax - bx AS DECIMAL(38,0))"
                " * CAST(ax - bx AS DECIMAL(38,0)) <= d0"
            ),
        )
        .select(
            "ax",
            "ay",
            "bx",
            "by_",
            "d0",
            F.expr(
                "CAST(ax - bx AS DECIMAL(38,0)) * CAST(ax - bx AS DECIMAL(38,0))"
                " + CAST(ay - by_ AS DECIMAL(38,0)) * CAST(ay - by_ AS DECIMAL(38,0))"
            ).alias("dd"),
        )
    )
    n_cand = cand.agg(
        F.count(F.lit(1)).alias("n_candidates"), F.min("dd").alias("min_d2")
    )
    n_pts = pts.agg(F.count(F.lit(1)).alias("n_points"))
    best = (
        cand.crossJoin(F.broadcast(n_cand.select("min_d2", "n_candidates")))
        .filter(F.col("dd") == F.col("min_d2"))
        .orderBy("ax", "ay", "bx", "by_")
        .limit(1)
    )
    return best.crossJoin(F.broadcast(n_pts)).select(
        "ax",
        "ay",
        "bx",
        F.col("by_").alias("by"),
        # r12 driver-parity fix (r11 VERDICT #1): internal squared
        # distances stay DECIMAL(38,0), but the final emission is
        # int64 — wide decimals render differently per engine on the
        # driver channel.  min_d2/d0 are MINIMA over near-adjacent
        # points (< 1e15 at every test SF, measured); the oracle's
        # HUGEINT->BIGINT cast errors loudly on overflow.
        F.col("min_d2").cast("bigint").alias("min_d2"),
        F.col("d0").cast("bigint").alias("d0_upper_bound"),
        "n_candidates",
        "n_points",
    )


_SQL_CLOSEST_PAIR = f"""
WITH pts AS MATERIALIZED (
  SELECT CAST(datediff('day', DATE '1970-01-01', day) AS BIGINT) AS x,
         cents AS y
  FROM ({SQL_DAILY_ORDER_CENTS})
), adj AS MATERIALIZED (
  SELECT min(CAST(x - nx AS HUGEINT) * CAST(x - nx AS HUGEINT)
             + CAST(y - ny AS HUGEINT) * CAST(y - ny AS HUGEINT)) AS d0
  FROM (
    SELECT x, y,
           lead(x) OVER (ORDER BY x, y) AS nx,
           lead(y) OVER (ORDER BY x, y) AS ny
    FROM pts
  ) WHERE nx IS NOT NULL
), brute AS MATERIALIZED (
  -- algorithmically independent oracle: FULL pair min, no prune
  SELECT a.x AS ax, a.y AS ay, b.x AS bx, b.y AS by_,
         CAST(a.x - b.x AS HUGEINT) * CAST(a.x - b.x AS HUGEINT)
         + CAST(a.y - b.y AS HUGEINT) * CAST(a.y - b.y AS HUGEINT) AS dd
  FROM pts a, pts b
  WHERE a.x < b.x OR (a.x = b.x AND a.y < b.y)
), strip_count AS MATERIALIZED (
  SELECT CAST(count(*) AS BIGINT) AS n_candidates
  FROM pts a, pts b, adj
  WHERE (a.x < b.x OR (a.x = b.x AND a.y < b.y))
    AND CAST(a.x - b.x AS HUGEINT) * CAST(a.x - b.x AS HUGEINT) <= adj.d0
)
SELECT ax, ay, bx, by_ AS "by",
       -- int64 final emission (driver-parity); overflow errors loudly
       CAST(dd AS BIGINT) AS min_d2,
       (SELECT CAST(d0 AS BIGINT) FROM adj) AS d0_upper_bound,
       (SELECT n_candidates FROM strip_count) AS n_candidates,
       (SELECT CAST(count(*) AS BIGINT) FROM pts) AS n_points
FROM brute
WHERE dd = (SELECT min(dd) FROM brute)
ORDER BY ax, ay, bx, by_
LIMIT 1
"""


SPECS: dict[str, QuerySpec] = {
    "convex_hull_monthly": QuerySpec(
        _q_convex_hull_monthly,
        _SQL_CONVEX_HULL,
        "exact integer convex hull of the monthly (quantity, revenue "
        "cents) scatter: CCW hull edges via the all-witness predicate "
        "on the calendar-bounded month frame, DECIMAL(38,0) cross/dot "
        "products, collinear interior points excluded",
    ),
    "closest_pair_strip": QuerySpec(
        _q_closest_pair_strip,
        _SQL_CLOSEST_PAIR,
        "exact closest pair of daily (epoch-day, revenue cents) "
        "points: rank-adjacent upper bound d0 then the strip-pruned "
        "band self-join (never the full pair product) vs the oracle's "
        "independent brute-force min; prune factor emitted in-band",
    ),
}
