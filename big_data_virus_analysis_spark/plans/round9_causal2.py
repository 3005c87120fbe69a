"""Round-9 causal-inference pack 2: instrumental variables, caliper
nearest-neighbor matching, and the Jonckheere–Terpstra ordered-trend
test — three classical inference designs the catalog did not yet cover
(plans/round6_causal.py has IPW/DiD/RDD; this adds the IV and matching
estimators plus the ordered-alternative rank test).

* ``iv_wald_estimate`` — the Wald/2SLS estimator with a binary
  instrument (Angrist & Pischke, "Mostly Harmless Econometrics" §4):
  β = (E[y|z=1] − E[y|z=0]) / (E[x|z=1] − E[x|z=0]).  On this
  synthetic corpus the instrument is the DESIGN variable
  z = (l_partkey % 2 = 0) — the exercise is the estimator mechanics
  (the plans/round6_causal.py fixed-propensity precedent), with
  x = quantity and y = discounted line revenue.  The numeric core is
  exact: x sums are integer, y in 1e-4-dollar units via the
  revenue_waterfall integer product epc·(100−disc), so both engines
  divide the same exact sums.  First stage and reduced form are
  emitted beside β (a weak first stage is visible, not hidden).
* ``caliper_nn_match_att`` — 1-nearest-neighbor within-caliper
  matching with replacement (Rosenbaum & Rubin 1985's caliper rule):
  urgent-priority orders (treated) match their nearest
  non-urgent order by total price within a $100 caliper; the matched
  outcome is ship delay (days from order to first line shipment).
  Matching runs as an EQUI-join: bucket = price div caliper, each
  treated probes buckets {b−1, b, b+1} (the 3-bucket probe provably
  covers the caliper — hypothesis-tested), nearest = min(struct(
  |Δprice|, control_key)) — deterministic, no sort, no cross join.
* ``jonckheere_terpstra_priority`` — the JT test for an ordered
  alternative (Jonckheere 1954) across priority classes 1..5 on
  monthly revenue: JT = Σ_{g<h} U_gh in doubled integer units
  (2·#{x<y} + #{x=y}), with the exact closed-form null moments
  E = (N²−Σn²)/4 and Var = (N²(2N+3)−Σn²(2n+3))/72 emitted as
  integer numerators (e4, var72) beside the z statistic.

100-TB shape: IV collapses the fact scan to TWO arm rows before any
float math; matching is shuffle-on-bucket equi-joins with bounded
fan-out (caliper-width buckets) and a per-order lineitem pre-aggregate;
JT pools the fact scan to the calendar-bounded (priority × month)
frame (≤ 5×80 rows at any SF) before its allowlisted pair join.

Identity properties (tests/test_properties.py): Wald == cov(z,y)/
cov(z,x) on random data; the 3-bucket probe finds EVERY control
within the caliper; JT2 equals the brute-force doubled pair count,
is invariant under strictly monotone transforms of the outcome, and
e4 equals 2·Σ_{g<h} n_g·n_h.

No reference counterpart (statistics extension); public methods only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.caching import tracked_cache
from ..sources.tables import load_table
from . import QuerySpec

#: matching caliper in cents ($100) — also the bucket width, which is
#: what makes the 3-bucket probe complete
CALIPER_CENTS = 10_000


# --------------------------------------------------------------------------
# iv_wald_estimate
# --------------------------------------------------------------------------


def _q_iv_wald_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    base = li.select(
        (F.col("l_partkey") % 2 == 0).cast("int").alias("z"),
        F.round("l_quantity").cast("bigint").alias("x"),
        (
            F.round(F.col("l_extendedprice") * 100).cast("bigint")
            * (F.lit(100) - F.round(F.col("l_discount") * 100).cast("bigint"))
        ).alias("y4"),
    )
    arms = base.groupBy("z").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("y4").cast("decimal(38,0)")).alias("sy"),
    )
    wide = arms.agg(
        F.sum(F.when(F.col("z") == 1, F.col("n"))).alias("n1"),
        F.sum(F.when(F.col("z") == 1, F.col("sx"))).alias("sx1"),
        F.sum(F.when(F.col("z") == 1, F.col("sy"))).alias("sy1"),
        F.sum(F.when(F.col("z") == 0, F.col("n"))).alias("n0"),
        F.sum(F.when(F.col("z") == 0, F.col("sx"))).alias("sx0"),
        F.sum(F.when(F.col("z") == 0, F.col("sy"))).alias("sy0"),
    )
    xb1 = F.col("sx1").cast("double") / F.col("n1").cast("double")
    xb0 = F.col("sx0").cast("double") / F.col("n0").cast("double")
    yb1 = F.col("sy1").cast("double") / 1e4 / F.col("n1").cast("double")
    yb0 = F.col("sy0").cast("double") / 1e4 / F.col("n0").cast("double")
    return wide.select(
        "n1",
        "n0",
        F.round(xb1 - xb0, 6).alias("first_stage"),
        F.round(yb1 - yb0, 4).alias("reduced_form"),
        F.round((yb1 - yb0) / (xb1 - xb0), 4).alias("wald_beta"),
    )


_SQL_IV_WALD_ESTIMATE = """
WITH base AS (
  SELECT CASE WHEN l_partkey % 2 = 0 THEN 1 ELSE 0 END AS z,
         CAST(round(l_quantity, 0) AS BIGINT) AS x,
         CAST(round(l_extendedprice * 100, 0) AS BIGINT)
           * (100 - CAST(round(l_discount * 100, 0) AS BIGINT)) AS y4
  FROM lineitem
), arms AS (
  SELECT z, count(*) AS n, sum(x) AS sx, sum(CAST(y4 AS HUGEINT)) AS sy
  FROM base GROUP BY z
), wide AS (
  SELECT CAST(sum(CASE WHEN z = 1 THEN n END) AS BIGINT) AS n1,
         sum(CASE WHEN z = 1 THEN sx END) AS sx1,
         sum(CASE WHEN z = 1 THEN sy END) AS sy1,
         CAST(sum(CASE WHEN z = 0 THEN n END) AS BIGINT) AS n0,
         sum(CASE WHEN z = 0 THEN sx END) AS sx0,
         sum(CASE WHEN z = 0 THEN sy END) AS sy0
  FROM arms
)
SELECT n1, n0,
       round(CAST(sx1 AS DOUBLE) / CAST(n1 AS DOUBLE)
             - CAST(sx0 AS DOUBLE) / CAST(n0 AS DOUBLE), 6) AS first_stage,
       round(CAST(sy1 AS DOUBLE) / 1e4 / CAST(n1 AS DOUBLE)
             - CAST(sy0 AS DOUBLE) / 1e4 / CAST(n0 AS DOUBLE), 4)
         AS reduced_form,
       round((CAST(sy1 AS DOUBLE) / 1e4 / CAST(n1 AS DOUBLE)
              - CAST(sy0 AS DOUBLE) / 1e4 / CAST(n0 AS DOUBLE))
             / (CAST(sx1 AS DOUBLE) / CAST(n1 AS DOUBLE)
                - CAST(sx0 AS DOUBLE) / CAST(n0 AS DOUBLE)), 4) AS wald_beta
FROM wide
"""


# --------------------------------------------------------------------------
# caliper_nn_match_att
# --------------------------------------------------------------------------


def _order_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(orderkey, treated, price cents, ship-delay days) — the
    lineitem min-shipdate pre-aggregate joins on the order key."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    first_ship = li.groupBy("l_orderkey").agg(
        F.min(F.to_date("l_shipdate")).alias("first_ship")
    )
    return tracked_cache(
        orders.join(first_ship, orders["o_orderkey"] == first_ship["l_orderkey"])
        .select(
            F.col("o_orderkey").alias("k"),
            F.substring("o_orderpriority", 1, 1)
            .cast("int")
            .isin(1, 2)
            .alias("treated"),
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("v"),
            F.datediff(F.col("first_ship"), F.to_date("o_orderdate")).alias(
                "y"
            ),
        )
    )


def _q_caliper_nn_match_att(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = _order_frame(spark, sf_dir)
    treated = base.where("treated").select(
        "k", "v", "y", (F.col("v") - F.col("v") % CALIPER_CENTS).alias("_b0")
    )
    # 3-bucket probe: bucket width == caliper ⇒ every control within
    # the caliper is in {b-1, b, b+1} (hypothesis-proven complete)
    probes = treated.select(
        "k",
        "v",
        "y",
        F.explode(
            F.array(
                (F.col("_b0") / CALIPER_CENTS).cast("bigint") - 1,
                (F.col("_b0") / CALIPER_CENTS).cast("bigint"),
                (F.col("_b0") / CALIPER_CENTS).cast("bigint") + 1,
            )
        ).alias("b"),
    )
    controls = base.where(~F.col("treated")).select(
        (F.col("v") / CALIPER_CENTS).cast("bigint").alias("b"),
        F.col("k").alias("ck"),
        F.col("v").alias("cv"),
        F.col("y").alias("cy"),
    )
    matched = (
        probes.join(controls, "b")
        .where(F.abs(F.col("v") - F.col("cv")) <= CALIPER_CENTS)
        .groupBy("k", "y")
        .agg(
            F.min(
                F.struct(
                    F.abs(F.col("v") - F.col("cv")).alias("d"),
                    F.col("ck").alias("ck"),
                    F.col("cy").alias("cy"),
                )
            ).alias("m")
        )
    )
    n_treated = treated.groupBy().agg(F.count(F.lit(1)).alias("n_treated"))
    att = matched.agg(
        F.count(F.lit(1)).alias("n_matched"),
        F.sum(F.col("y") - F.col("m.cy")).alias("sdiff"),
    )
    return att.crossJoin(F.broadcast(n_treated)).select(
        "n_treated",
        "n_matched",
        F.round(
            F.col("n_matched").cast("double") / F.col("n_treated").cast("double"),
            6,
        ).alias("match_rate"),
        F.round(
            F.col("sdiff").cast("double") / F.col("n_matched").cast("double"), 4
        ).alias("att_ship_days"),
    )


_SQL_CALIPER_NN_MATCH_ATT = f"""
WITH base AS MATERIALIZED (
  SELECT o.o_orderkey AS k,
         CAST(substring(o.o_orderpriority, 1, 1) AS INT) IN (1, 2)
           AS treated,
         CAST(round(o.o_totalprice * 100, 0) AS BIGINT) AS v,
         datediff('day', CAST(o.o_orderdate AS DATE), fs.first_ship) AS y
  FROM orders o
  JOIN (SELECT l_orderkey, min(CAST(l_shipdate AS DATE)) AS first_ship
        FROM lineitem GROUP BY l_orderkey) fs
    ON o.o_orderkey = fs.l_orderkey
), treated AS (
  SELECT k, v, y, v // {CALIPER_CENTS} AS b0 FROM base WHERE treated
), probes AS (
  SELECT k, v, y, b0 + d AS b
  FROM treated, (SELECT unnest([-1, 0, 1]) AS d)
), controls AS (
  SELECT v // {CALIPER_CENTS} AS b, k AS ck, v AS cv, y AS cy
  FROM base WHERE NOT treated
), matched AS (
  SELECT k, y,
         min(struct_pack(d := abs(v - cv), ck := ck, cy := cy)) AS m
  FROM probes JOIN controls USING (b)
  WHERE abs(v - cv) <= {CALIPER_CENTS}
  GROUP BY k, y
)
SELECT (SELECT count(*) FROM treated) AS n_treated,
       CAST(count(*) AS BIGINT) AS n_matched,
       round(CAST(count(*) AS DOUBLE)
             / CAST((SELECT count(*) FROM treated) AS DOUBLE), 6)
         AS match_rate,
       round(CAST(sum(y - (m).cy) AS DOUBLE) / CAST(count(*) AS DOUBLE), 4)
         AS att_ship_days
FROM matched
"""


# --------------------------------------------------------------------------
# jonckheere_terpstra_priority
# --------------------------------------------------------------------------


def _q_jonckheere_terpstra_priority(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    monthly = tracked_cache(
        orders.select(
            F.substring("o_orderpriority", 1, 1).cast("int").alias("g"),
            F.date_format("o_orderdate", "yyyy-MM").alias("month"),
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("yc"),
        )
        .groupBy("g", "month")
        .agg(F.sum("yc").alias("v"))
    )
    a, b = monthly.alias("a"), monthly.alias("b")
    jt = a.join(F.broadcast(b), F.col("a.g") < F.col("b.g")).agg(
        F.sum(
            F.lit(2) * (F.col("a.v") < F.col("b.v")).cast("bigint")
            + (F.col("a.v") == F.col("b.v")).cast("bigint")
        ).alias("jt2")
    )
    sizes = monthly.groupBy("g").agg(F.count(F.lit(1)).alias("n"))
    moments = sizes.agg(
        F.sum("n").alias("nn"),
        F.sum(F.col("n") * F.col("n")).alias("sn2"),
        F.sum(
            F.col("n") * F.col("n") * (F.lit(2) * F.col("n") + F.lit(3))
        ).alias("sn23"),
    ).select(
        "nn",
        (F.col("nn") * F.col("nn") - F.col("sn2")).alias("e4"),
        (
            F.col("nn") * F.col("nn") * (F.lit(2) * F.col("nn") + F.lit(3))
            - F.col("sn23")
        ).alias("var72"),
    )
    return jt.crossJoin(F.broadcast(moments)).select(
        "jt2",
        F.col("nn").alias("n_total"),
        "e4",
        "var72",
        F.round(
            (
                F.col("jt2").cast("double") / F.lit(2.0)
                - F.col("e4").cast("double") / F.lit(4.0)
            )
            / F.sqrt(F.col("var72").cast("double") / F.lit(72.0)),
            4,
        ).alias("z_stat"),
    )


_SQL_JONCKHEERE_TERPSTRA_PRIORITY = """
WITH monthly AS MATERIALIZED (
  SELECT CAST(substring(o_orderpriority, 1, 1) AS INT) AS g,
         strftime(o_orderdate, '%Y-%m') AS month,
         sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS v
  FROM orders GROUP BY 1, 2
), jt AS (
  SELECT CAST(sum(2 * CASE WHEN a.v < b.v THEN 1 ELSE 0 END
               + CASE WHEN a.v = b.v THEN 1 ELSE 0 END) AS BIGINT) AS jt2
  FROM monthly a JOIN monthly b ON a.g < b.g
), sizes AS (
  SELECT g, count(*) AS n FROM monthly GROUP BY g
), moments AS (
  SELECT CAST(sum(n) AS BIGINT) AS n_total,
         CAST(sum(n) * sum(n) - sum(n * n) AS BIGINT) AS e4,
         CAST(sum(n) * sum(n) * (2 * sum(n) + 3)
              - sum(n * n * (2 * n + 3)) AS BIGINT) AS var72
  FROM sizes
)
SELECT jt2, n_total, e4, var72,
       round((CAST(jt2 AS DOUBLE) / 2.0 - CAST(e4 AS DOUBLE) / 4.0)
             / sqrt(CAST(var72 AS DOUBLE) / 72.0), 4) AS z_stat
FROM jt, moments
"""


SPECS: dict[str, QuerySpec] = {
    "iv_wald_estimate": QuerySpec(
        _q_iv_wald_estimate,
        _SQL_IV_WALD_ESTIMATE,
        "Wald/2SLS instrumental-variable estimate of quantity on line "
        "revenue under the parity design instrument: exact integer arm "
        "sums, first stage and reduced form emitted beside beta",
    ),
    "caliper_nn_match_att": QuerySpec(
        _q_caliper_nn_match_att,
        _SQL_CALIPER_NN_MATCH_ATT,
        "1-NN within-$100-caliper matching (with replacement) of "
        "urgent orders to controls on total price via the complete "
        "3-bucket equi-join probe; ATT on ship delay",
    ),
    "jonckheere_terpstra_priority": QuerySpec(
        _q_jonckheere_terpstra_priority,
        _SQL_JONCKHEERE_TERPSTRA_PRIORITY,
        "Jonckheere-Terpstra ordered-trend test of monthly revenue "
        "across priority classes: doubled-integer JT statistic plus "
        "exact closed-form null moment numerators (e4, var72)",
    ),
}
