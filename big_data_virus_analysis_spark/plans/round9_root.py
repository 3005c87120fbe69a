"""Round-9 root-finding pack (iterative-to-fixpoint family, third
member after peel/propagation and alternating projections): bracketing
and Newton iterations whose DECISIONS are pure integer comparisons, so
both engines walk the identical trajectory with zero float drift.

* ``irr_bisection_fixpoint`` — internal rate of return of a synthetic
  investment: t=0 outflow = 80% of H1-1995 revenue (integer dollars,
  ``(8·total) div 10``), inflows = the six monthly revenues.  Root of
  NPV(r) = Σ cf_t/(1+r)^t, bisected on the INTEGER basis-point grid
  r ∈ [0, 10000]: the sign test is the cleared-denominator polynomial
  S(r) = Σ cf_t · 10000^t · (10000+r)^{6−t} — exact DECIMAL(38,0)/
  HUGEINT (worst term ≈ 8×10³⁵ at sf1-scale cashflows, inside both) —
  and sign(S) = sign(NPV) since (1+r)⁶ > 0.  NPV is strictly
  decreasing in r (single sign change: one outflow then inflows), so
  the root is unique and bisection is correct.  14 unrolled rounds
  shrink the bracket below 1 bp; per-round (lo, hi, mid, sign) history.
* ``isqrt_newton_fixpoint`` — MIN-DAMPED integer Newton for
  floor(√N), N = total order revenue in cents:
  xₖ₊₁ = min(xₖ, (xₖ + N div xₖ) div 2) from the AM-GM upper seed
  x₀ = N div 10⁶ + 10⁶ ≥ √N.  The damping is load-bearing, not
  cosmetic: the raw integer Newton step 2-CYCLES at the bottom
  (n=255: 15 → 16 → 15 — the hypothesis identity test found it), while
  the Newton step from any x ≥ 1 never goes below floor(√N), so the
  min-damped iterate is non-increasing, bounded below by floor(√N),
  and exactly stationary there — a TRUE fixpoint.  The step halves the
  EXCESS while x ≫ √N then goes quadratic; the seed sits at most
  ~10⁶× above √N for any N ≤ 10²⁴, so 28 unrolled rounds (~20
  halvings + tail + slack) converge universally, not just for this
  data (the identity test sweeps N up to 10²⁴; 24 rounds was measured
  insufficient at N ≈ 10²⁴).  Each round carries the is_floor_sqrt
  certificate x² ≤ N < (x+1)² so the final row PROVES the answer
  rather than asserting convergence.

100 TB shape: one fact scan builds the 7-row cashflow frame / the
1-row total; every iteration is arithmetic over 1-row frames
(localCheckpoint'd — a bisection state references itself twice per
round, 2^rounds lineage without truncation); no driver collect.

Identity property: pure-Python bisection/Newton twins in
``tests/test_properties.py`` (bracket-invariant: the root stays inside
[lo, hi] every round; Newton certificate: first round with
is_floor_sqrt=true equals math.isqrt).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load_table
from . import QuerySpec

#: bisection rounds (bracket 10000 bp → < 1 bp) and Newton rounds
IRR_ROUNDS = 14
ISQRT_ROUNDS = 28
#: cashflow months (1995-01 .. 1995-06) — exponents stay ≤ 6 so the
#: cleared polynomial fits DECIMAL(38,0) at any plausible SF
_IRR_MONTHS = 6

#: CASE expression: (10000 + mid)^(6−t) via explicit products (no
#: float pow anywhere) — b is bound by the caller as a DECIMAL column
_POW_CASE = (
    "CASE e WHEN 0 THEN CAST(1 AS DECIMAL(38,0)) "
    "WHEN 1 THEN b WHEN 2 THEN b*b WHEN 3 THEN b*b*b "
    "WHEN 4 THEN (b*b)*(b*b) WHEN 5 THEN (b*b)*(b*b)*b "
    "ELSE (b*b*b)*(b*b*b) END"
)
#: 10000^t as literal decimal text (t = 0..6)
_SCALE_T = [str(10_000**t) for t in range(_IRR_MONTHS + 1)]
_SCALE_CASE = "CASE t " + " ".join(
    f"WHEN {t} THEN CAST('{s}' AS DECIMAL(38,0))"
    for t, s in enumerate(_SCALE_T)
) + " END"


def _irr_cashflows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-row frame (t, cf): t=0 outflow −(8·total div 10), t=1..6 the
    1995-H1 monthly revenues, all integer DOLLARS (cents div 100)."""
    orders = load_table(spark, sf_dir, "orders")
    monthly = (
        orders.where(
            (F.col("o_orderdate") >= F.lit("1995-01-01"))
            & (F.col("o_orderdate") < F.lit("1995-07-01"))
        )
        .groupBy(F.month("o_orderdate").alias("t"))
        .agg(
            F.expr(
                "sum(CAST(round(o_totalprice * 100) AS BIGINT)) div 100"
            ).alias("cf")
        )
    )
    out0 = monthly.agg(
        F.lit(0).alias("t"), F.expr("-((8 * sum(cf)) div 10)").alias("cf")
    )
    return monthly.select(F.col("t").cast("int").alias("t"), "cf").unionByName(
        out0.select(F.col("t").cast("int").alias("t"), "cf")
    )


_SQL_IRR_CASHFLOWS = """
WITH monthly AS (
  SELECT CAST(month(o_orderdate) AS INT) AS t,
         sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) // 100 AS cf
  FROM orders
  WHERE o_orderdate >= DATE '1995-01-01' AND o_orderdate < DATE '1995-07-01'
  GROUP BY 1
), flows AS MATERIALIZED (
  SELECT t, cf, 6 - t AS e FROM monthly
  UNION ALL
  SELECT 0 AS t, -((8 * sum(cf)) // 10) AS cf, 6 AS e FROM monthly
)"""


def _q_irr_bisection_fixpoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    flows = (
        _irr_cashflows(spark, sf_dir)
        .select("t", "cf", (F.lit(_IRR_MONTHS) - F.col("t")).alias("e"))
        .localCheckpoint(eager=True)
    )
    state = spark.range(1).select(
        F.lit(0).cast("bigint").alias("lo"),
        F.lit(10_000).cast("bigint").alias("hi"),
    )
    legs: list[DataFrame] = []
    for r in range(1, IRR_ROUNDS + 1):
        mid_state = state.select(
            "lo", "hi", F.expr("(lo + hi) div 2").alias("mid")
        )
        s_sign = (
            flows.crossJoin(F.broadcast(mid_state))
            .select(
                "lo",
                "hi",
                "mid",
                (
                    F.col("cf").cast("decimal(38,0)")
                    * F.expr(_SCALE_CASE)
                    * F.expr(
                        _POW_CASE.replace(
                            "b", "CAST(10000 + mid AS DECIMAL(38,0))"
                        )
                    )
                ).alias("term"),
            )
            .groupBy("lo", "hi", "mid")
            .agg((F.sum("term") > 0).alias("npv_positive"))
        )
        legs.append(
            s_sign.select(
                F.lit(r).alias("round"),
                F.col("lo").alias("lo_bp"),
                F.col("hi").alias("hi_bp"),
                F.col("mid").alias("mid_bp"),
                "npv_positive",
            )
        )
        state = s_sign.select(
            F.when(F.col("npv_positive"), F.col("mid"))
            .otherwise(F.col("lo"))
            .alias("lo"),
            F.when(F.col("npv_positive"), F.col("hi"))
            .otherwise(F.col("mid"))
            .alias("hi"),
        ).localCheckpoint(eager=True)
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionByName(leg)
    return out.orderBy("round")


def _sql_irr_bisection_fixpoint() -> str:
    parts = [
        _SQL_IRR_CASHFLOWS
        + ", st0 AS MATERIALIZED (SELECT CAST(0 AS BIGINT) AS lo, CAST(10000 AS BIGINT) AS hi)"
    ]
    legs = []
    prev = "st0"
    pow_sql = _POW_CASE.replace("b", "CAST(10000 + mid AS HUGEINT)").replace(
        "CAST(1 AS DECIMAL(38,0))", "CAST(1 AS HUGEINT)"
    )
    scale_sql = _SCALE_CASE.replace("DECIMAL(38,0)", "HUGEINT")
    for r in range(1, IRR_ROUNDS + 1):
        parts.append(
            f""", sg{r} AS MATERIALIZED (
  SELECT lo, hi, mid,
         sum(CAST(cf AS HUGEINT) * ({scale_sql})
             * ({pow_sql})) > 0 AS npv_positive
  FROM flows, (SELECT lo, hi, (lo + hi) // 2 AS mid FROM {prev}) s
  GROUP BY lo, hi, mid
), st{r} AS MATERIALIZED (
  SELECT CASE WHEN npv_positive THEN mid ELSE lo END AS lo,
         CASE WHEN npv_positive THEN hi ELSE mid END AS hi
  FROM sg{r}
)"""
        )
        legs.append(
            f"SELECT {r} AS round, lo AS lo_bp, hi AS hi_bp, mid AS mid_bp,"
            f" npv_positive FROM sg{r}"
        )
        prev = f"st{r}"
    return "".join(parts) + "\n" + "\nUNION ALL\n".join(legs) + "\nORDER BY round\n"


def _q_isqrt_newton_fixpoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    n0 = orders.agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias("n")
    ).localCheckpoint(eager=True)
    x = n0.select("n", F.expr("n div 1000000 + 1000000").alias("x"))
    legs: list[DataFrame] = []
    for r in range(1, ISQRT_ROUNDS + 1):
        x = x.select(
            "n", F.expr("least(x, (x + n div x) div 2)").alias("x")
        ).localCheckpoint(eager=True)
        legs.append(
            x.select(
                F.lit(r).alias("round"),
                "x",
                (
                    (F.col("x") * F.col("x") <= F.col("n"))
                    & ((F.col("x") + 1) * (F.col("x") + 1) > F.col("n"))
                ).alias("is_floor_sqrt"),
            )
        )
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionByName(leg)
    return out.orderBy("round")


def _sql_isqrt_newton_fixpoint() -> str:
    parts = [
        """
WITH n0 AS MATERIALIZED (
  SELECT sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS n FROM orders
), x0 AS MATERIALIZED (
  SELECT n, n // 1000000 + 1000000 AS x FROM n0
)"""
    ]
    legs = []
    prev = "x0"
    for r in range(1, ISQRT_ROUNDS + 1):
        parts.append(
            f""", x{r} AS MATERIALIZED (
  SELECT n, least(x, (x + n // x) // 2) AS x FROM {prev}
)"""
        )
        legs.append(
            f"""SELECT {r} AS round, CAST(x AS BIGINT) AS x,
       (x * x <= n AND (x + 1) * (x + 1) > n) AS is_floor_sqrt
FROM x{r}"""
        )
        prev = f"x{r}"
    return "".join(parts) + "\n" + "\nUNION ALL\n".join(legs) + "\nORDER BY round\n"


SPECS: dict[str, QuerySpec] = {
    "irr_bisection_fixpoint": QuerySpec(
        _q_irr_bisection_fixpoint,
        _sql_irr_bisection_fixpoint(),
        "IRR via exact integer bisection on the basis-point grid "
        "(cleared-denominator polynomial sign test, no float pow), "
        "14 rounds to sub-bp bracket with per-round history",
    ),
    "isqrt_newton_fixpoint": QuerySpec(
        _q_isqrt_newton_fixpoint,
        _sql_isqrt_newton_fixpoint(),
        "min-damped integer Newton floor-sqrt of total revenue cents "
        "from the AM-GM seed (raw Newton 2-cycles at the bottom), "
        "per-round x with the x^2<=n<(x+1)^2 certificate",
    ),
}
