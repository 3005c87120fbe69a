"""Round-6 causal-inference & closed-form factor-model pack.

Families the catalog did not yet cover, each as an exact-oracle entry:

* ``als_step_exact`` — one ALS half-step of a rank-2 matrix
  factorization (users x priority-items, ratings = spend): item
  factors fixed to deterministic rationals, per-user factors solved in
  closed form via 2x2 Cramer.  The per-iteration body of ALS — the
  same oracle-an-iteration discipline as ``kmeans_lloyd_step`` /
  ``lr_gd_steps_exact`` (trained-model outputs stay rows-only
  elsewhere).  All sums are integer/decimal-exact; doubles appear only
  in the final per-user solve.
* ``gmm_em_step_exact`` — one full EM step of a 1-D two-component
  Gaussian mixture on order totals.  Responsibilities are quantized to
  1e-6 via ``floor(g*1e6 + 0.5)`` (deterministic IEEE, identical in
  both engines — NOT ``round``, whose half-boundary rule differs
  cross-engine) so every M-step aggregate is an exact integer/decimal
  sum; component 2's sums are derived algebraically from component 1's
  (g2 = 1e6 - g1), so one aggregation pass serves both.
* ``isotonic_calibration_deciles`` — weighted isotonic (PAVA) fit of
  the F-status rate over 10 fixed price bins via the minimax identity
  fitted_i = max_{j<=i} min_{k>=i} mean(y[j..k]) — pure joins over the
  bounded 10-row bin frame, no iteration and no window at all.
* ``ipw_ate_fixed_propensity`` — inverse-propensity-weighted (Hajek)
  average treatment effect of urgent-priority on order value, with a
  fixed per-segment propensity table (documented stand-in for an
  upstream model's scores — keeps the estimator exact and the entry
  deterministic).  Aggregates collapse per (segment, arm) FIRST, so
  the weighting touches a 10-row frame.
* ``did_revenue_regions`` — 2x2 difference-in-differences of mean
  order value, AMERICA-region customers vs rest, pre/post 1998.
* ``logrank_two_segment`` — two-group log-rank test on
  signup→purchase survival times (censored at horizon), risk sets via
  the two-phase ``global_prefix_sum`` (no single-task global window);
  emits observed/expected and the chi-square statistic.

100 TB shape: every entry reduces the fact scan to one hash-aggregate
(per user / per bin / per segment-arm / per event-time) before any
driver-visible math; dimension joins broadcast; the only ordered pass
(log-rank risk sets) uses the repo's range-shuffle prefix-sum, whose
state per task is O(rows/partition) and whose driver exchange is P
rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.prefix_sum import global_prefix_sum
from ..sources.tables import load_table
from . import QuerySpec

# --------------------------------------------------------------------------
# als_step_exact
# --------------------------------------------------------------------------

_ALS_LAMBDA = 0.1  # ridge term keeps the 2x2 solve well-posed for 1-item users


def _q_als_step_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One ALS half-step: solve per-user rank-2 factors against FIXED
    item factors q_j = (j/10, ((3j) mod 7)/10) for priority index
    j=1..5 (deterministic rational init).  Ratings r_uj = total spend
    of user u on priority j, in 1e5 units.  Normal equations
    A = sum q q^T + lambda*I, b = sum r q are accumulated as integer /
    decimal sums (exact in both engines); the Cramer solve runs on the
    exact aggregates.  Reference analogue: the iterate-once oracle
    discipline of KmeansVirus.scala:183-186's per-iteration body.
    """
    orders = load_table(spark, sf_dir, "orders")
    rated = (
        orders.groupBy(
            F.col("o_custkey").alias("user_id"),
            F.substring("o_orderpriority", 1, 1).cast("int").alias("j"),
        )
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("r_dec"))
        .withColumn("m", (F.col("j") * 3) % 7)
    )
    sums = rated.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum(F.col("j") * F.col("j")).alias("sj2"),
        F.sum(F.col("j") * F.col("m")).alias("sjm"),
        F.sum(F.col("m") * F.col("m")).alias("sm2"),
        F.sum(F.col("r_dec") * F.col("j")).alias("b1_dec"),
        F.sum(F.col("r_dec") * F.col("m")).alias("b2_dec"),
    )
    a11 = F.col("sj2") / F.lit(100.0) + F.lit(_ALS_LAMBDA)
    a12 = F.col("sjm") / F.lit(100.0)
    a22 = F.col("sm2") / F.lit(100.0) + F.lit(_ALS_LAMBDA)
    # ratings scaled by 1e5, q components carry the extra 1/10
    b1 = F.col("b1_dec").cast("double") / F.lit(1000000.0)
    b2 = F.col("b2_dec").cast("double") / F.lit(1000000.0)
    solved = sums.select(
        "user_id",
        "n_items",
        a11.alias("a11"),
        a12.alias("a12"),
        a22.alias("a22"),
        b1.alias("b1"),
        b2.alias("b2"),
    ).select(
        "user_id",
        "n_items",
        (F.col("a11") * F.col("a22") - F.col("a12") * F.col("a12")).alias("det"),
        "a11",
        "a12",
        "a22",
        "b1",
        "b2",
    )
    return solved.select(
        "user_id",
        "n_items",
        F.round(
            (F.col("b1") * F.col("a22") - F.col("a12") * F.col("b2")) / F.col("det"), 6
        ).alias("p1"),
        F.round(
            (F.col("a11") * F.col("b2") - F.col("a12") * F.col("b1")) / F.col("det"), 6
        ).alias("p2"),
    )


_SQL_ALS_STEP_EXACT = f"""
WITH rated AS (
  SELECT o_custkey AS user_id,
         CAST(substr(o_orderpriority, 1, 1) AS INT) AS j,
         sum(CAST(o_totalprice AS DECIMAL(18,2))) AS r_dec
  FROM orders GROUP BY 1, 2
), with_m AS (
  SELECT user_id, j, (j * 3) % 7 AS m, r_dec FROM rated
), sums AS (
  SELECT user_id,
         CAST(count(*) AS BIGINT) AS n_items,
         CAST(sum(j * j) AS BIGINT) AS sj2,
         CAST(sum(j * m) AS BIGINT) AS sjm,
         CAST(sum(m * m) AS BIGINT) AS sm2,
         sum(r_dec * j) AS b1_dec,
         sum(r_dec * m) AS b2_dec
  FROM with_m GROUP BY user_id
), solved AS (
  SELECT user_id, n_items,
         sj2 / 100.0 + {_ALS_LAMBDA!r} AS a11,
         sjm / 100.0 AS a12,
         sm2 / 100.0 + {_ALS_LAMBDA!r} AS a22,
         CAST(b1_dec AS DOUBLE) / 1000000.0 AS b1,
         CAST(b2_dec AS DOUBLE) / 1000000.0 AS b2
  FROM sums
), with_det AS (
  SELECT *, a11 * a22 - a12 * a12 AS det FROM solved
)
SELECT user_id, n_items,
       round((b1 * a22 - a12 * b2) / det, 6) AS p1,
       round((a11 * b2 - a12 * b1) / det, 6) AS p2
FROM with_det
"""


# --------------------------------------------------------------------------
# gmm_em_step_exact
# --------------------------------------------------------------------------

# fixed E-step init: pi1 = pi2 = 0.5 (log-odds term vanishes),
# sigma1/sigma2 = 50000/80000 = 0.625 — exactly representable in binary
_GMM_M1, _GMM_S1 = 100000.0, 50000.0
_GMM_M2, _GMM_S2 = 250000.0, 80000.0


def _q_gmm_em_step_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One EM step of a 1-D 2-component GMM on o_totalprice.

    gamma (responsibility of component 1) is quantized to integer
    1e-6 units with floor(g*1e6 + 0.5) — bit-identical IEEE in both
    engines — so the M-step reduces to exact integer/decimal sums;
    component 2's aggregates derive from component 1's (g2 = 1e6-g1)
    and the plain sum(x), sum(x^2), so ONE aggregation pass emits both
    rows.
    """
    orders = load_table(spark, sf_dir, "orders")
    x = F.col("o_totalprice").cast("decimal(18,2)")
    xd = x.cast("double")
    e_term = (xd - F.lit(_GMM_M1)) * (xd - F.lit(_GMM_M1)) / F.lit(
        2.0 * _GMM_S1 * _GMM_S1
    ) - (xd - F.lit(_GMM_M2)) * (xd - F.lit(_GMM_M2)) / F.lit(2.0 * _GMM_S2 * _GMM_S2)
    ratio = F.lit(_GMM_S1 / _GMM_S2) * F.exp(e_term)
    gamma = F.lit(1.0) / (F.lit(1.0) + ratio)
    g6 = F.floor(gamma * F.lit(1000000.0) + F.lit(0.5)).cast("decimal(7,0)")
    staged = orders.select(
        x.alias("x"),
        x.cast("decimal(24,4)").alias("x1"),  # placeholder scale for products
        (x * x).cast("decimal(24,4)").alias("x2"),
        g6.alias("g6"),
    )
    agg = staged.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("g6").alias("sg"),
        F.sum(F.col("g6") * F.col("x1")).alias("sgx"),
        F.sum(F.col("g6") * F.col("x2")).alias("sgx2"),
        F.sum("x1").alias("sx"),
        F.sum("x2").alias("sx2"),
    )
    million = F.lit(1000000).cast("decimal(7,0)")

    def comp(label: int, sg, sgx, sgx2):
        mu = sgx.cast("double") / sg.cast("double")
        var = sgx2.cast("double") / sg.cast("double") - mu * mu
        return [
            F.lit(label).alias("component"),
            F.round(sg.cast("double") / (F.col("n") * F.lit(1000000.0)), 6).alias(
                "pi_new"
            ),
            F.round(mu, 4).alias("mu_new"),
            F.round(var, 2).alias("var_new"),
        ]

    c1 = agg.select(*comp(1, F.col("sg"), F.col("sgx"), F.col("sgx2")))
    c2 = agg.select(
        *comp(
            2,
            million * F.col("n") - F.col("sg"),
            million * F.col("sx") - F.col("sgx"),
            million * F.col("sx2") - F.col("sgx2"),
        )
    )
    return c1.unionByName(c2)


_SQL_GMM_EM_STEP_EXACT = f"""
WITH staged AS (
  SELECT CAST(o_totalprice AS DECIMAL(18,2)) AS x,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DECIMAL(24,4)) AS x1,
         CAST(CAST(o_totalprice AS DECIMAL(18,2))
              * CAST(o_totalprice AS DECIMAL(18,2)) AS DECIMAL(24,4)) AS x2,
         CAST(floor(
           (1.0 / (1.0 + {_GMM_S1 / _GMM_S2!r} * exp(
             (CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) - {_GMM_M1!r})
             * (CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) - {_GMM_M1!r})
             / {2.0 * _GMM_S1 * _GMM_S1!r}
             - (CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) - {_GMM_M2!r})
             * (CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) - {_GMM_M2!r})
             / {2.0 * _GMM_S2 * _GMM_S2!r})))
           * 1000000.0 + 0.5) AS DECIMAL(7,0)) AS g6
  FROM orders
), agg AS (
  SELECT count(*) AS n, sum(g6) AS sg,
         sum(g6 * x1) AS sgx, sum(g6 * x2) AS sgx2,
         sum(x1) AS sx, sum(x2) AS sx2
  FROM staged
)
SELECT 1 AS component,
       round(CAST(sg AS DOUBLE) / (n * 1000000.0), 6) AS pi_new,
       round(CAST(sgx AS DOUBLE) / CAST(sg AS DOUBLE), 4) AS mu_new,
       round(CAST(sgx2 AS DOUBLE) / CAST(sg AS DOUBLE)
             - (CAST(sgx AS DOUBLE) / CAST(sg AS DOUBLE))
               * (CAST(sgx AS DOUBLE) / CAST(sg AS DOUBLE)), 2) AS var_new
FROM agg
UNION ALL
SELECT 2 AS component,
       round(CAST(CAST(1000000 AS DECIMAL(7,0)) * n - sg AS DOUBLE)
             / (n * 1000000.0), 6) AS pi_new,
       round(CAST(CAST(1000000 AS DECIMAL(7,0)) * sx - sgx AS DOUBLE)
             / CAST(CAST(1000000 AS DECIMAL(7,0)) * n - sg AS DOUBLE), 4) AS mu_new,
       round(CAST(CAST(1000000 AS DECIMAL(7,0)) * sx2 - sgx2 AS DOUBLE)
             / CAST(CAST(1000000 AS DECIMAL(7,0)) * n - sg AS DOUBLE)
             - (CAST(CAST(1000000 AS DECIMAL(7,0)) * sx - sgx AS DOUBLE)
                / CAST(CAST(1000000 AS DECIMAL(7,0)) * n - sg AS DOUBLE))
               * (CAST(CAST(1000000 AS DECIMAL(7,0)) * sx - sgx AS DOUBLE)
                  / CAST(CAST(1000000 AS DECIMAL(7,0)) * n - sg AS DOUBLE)), 2)
         AS var_new
FROM agg
"""


# --------------------------------------------------------------------------
# isotonic_calibration_deciles
# --------------------------------------------------------------------------

_ISO_BIN_W = 50000.0
_ISO_BINS = 10


def _q_isotonic_calibration_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted isotonic regression (PAVA) of P(status='F') over 10
    fixed price bins, via the minimax identity
    fitted_i = max_{j<=i} min_{k>=i} mean(y[j..k]) — exact closed
    form, pure joins on the bounded bin frame (at most 10x10x10 rows),
    no iteration, no window.
    """
    orders = load_table(spark, sf_dir, "orders")
    bins = (
        orders.select(
            F.least(
                F.floor(F.col("o_totalprice") / F.lit(_ISO_BIN_W)),
                F.lit(_ISO_BINS - 1),
            )
            .cast("int")
            .alias("bin"),
            (F.col("o_orderstatus") == "F").cast("bigint").alias("y"),
        )
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("y").alias("pos"))
    )
    j = bins.select(
        F.col("bin").alias("j"), F.col("n").alias("nj"), F.col("pos").alias("pj")
    )
    k = bins.select(F.col("bin").alias("k"))
    l = bins.select(  # noqa: E741
        F.col("bin").alias("l"), F.col("n").alias("nl"), F.col("pos").alias("pl")
    )
    segs = (
        j.select("j")
        .join(k, F.col("j") <= F.col("k"))
        .join(l, (F.col("l") >= F.col("j")) & (F.col("l") <= F.col("k")))
        .groupBy("j", "k")
        .agg(
            (F.sum("pl").cast("double") / F.sum("nl").cast("double")).alias("seg_mean")
        )
    )
    i = bins.select(F.col("bin").alias("i"))
    inner = (
        i.join(segs, (F.col("j") <= F.col("i")) & (F.col("k") >= F.col("i")))
        .groupBy("i", "j")
        .agg(F.min("seg_mean").alias("min_mean"))
    )
    fitted = inner.groupBy("i").agg(F.max("min_mean").alias("iso"))
    return (
        bins.join(fitted, bins["bin"] == fitted["i"])
        .select(
            "bin",
            "n",
            F.round(F.col("pos").cast("double") / F.col("n").cast("double"), 6).alias(
                "raw_rate"
            ),
            F.round("iso", 6).alias("iso_rate"),
        )
    )


_SQL_ISOTONIC_CALIBRATION_DECILES = f"""
WITH bins AS (
  SELECT CAST(least(floor(o_totalprice / {_ISO_BIN_W!r}), {_ISO_BINS - 1}) AS INT)
           AS bin,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS pos
  FROM orders GROUP BY 1
), segs AS (
  SELECT j.bin AS j, k.bin AS k,
         CAST(sum(l.pos) AS DOUBLE) / CAST(sum(l.n) AS DOUBLE) AS seg_mean
  FROM bins j
  JOIN bins k ON j.bin <= k.bin
  JOIN bins l ON l.bin >= j.bin AND l.bin <= k.bin
  GROUP BY 1, 2
), inner_min AS (
  SELECT i.bin AS i, s.j, min(s.seg_mean) AS min_mean
  FROM bins i JOIN segs s ON s.j <= i.bin AND s.k >= i.bin
  GROUP BY 1, 2
), fitted AS (
  SELECT i, max(min_mean) AS iso FROM inner_min GROUP BY i
)
SELECT b.bin, b.n,
       round(CAST(b.pos AS DOUBLE) / CAST(b.n AS DOUBLE), 6) AS raw_rate,
       round(f.iso, 6) AS iso_rate
FROM bins b JOIN fitted f ON b.bin = f.i
"""


# --------------------------------------------------------------------------
# ipw_ate_fixed_propensity
# --------------------------------------------------------------------------

# fixed per-segment propensity scores (documented stand-in for an
# upstream model — keeps the Hajek estimator exact and deterministic)
_PROPENSITY = {
    "AUTOMOBILE": 0.45,
    "BUILDING": 0.55,
    "FURNITURE": 0.6,
    "HOUSEHOLD": 0.4,
    "MACHINERY": 0.5,
}


def _q_ipw_ate_fixed_propensity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hajek IPW estimate of the effect of urgent priority (1/2) on
    order value, propensities from the fixed per-segment table.
    The fact scan collapses to a 10-row (segment, arm) aggregate
    before any weighting; the customer dim joins broadcast.
    """
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    e = F.create_map(
        *[F.lit(v) for kv in _PROPENSITY.items() for v in kv]
    )[F.col("seg")]
    base = orders.join(
        F.broadcast(customer.select("c_custkey", "c_mktsegment")),
        orders["o_custkey"] == customer["c_custkey"],
    ).select(
        F.col("c_mktsegment").alias("seg"),
        F.substring("o_orderpriority", 1, 1).cast("int").isin(1, 2).alias("treated"),
        F.col("o_totalprice").cast("decimal(18,2)").alias("y"),
    )
    cells = base.groupBy("seg", "treated").agg(
        F.count(F.lit(1)).alias("n"), F.sum("y").alias("sy")
    )
    weighted = cells.select(
        "treated",
        (F.col("sy").cast("double") / e).alias("wy"),
        (F.col("n").cast("double") / e).alias("wn"),
        (F.col("sy").cast("double") / (F.lit(1.0) - e)).alias("cy"),
        (F.col("n").cast("double") / (F.lit(1.0) - e)).alias("cn"),
        "n",
    )
    agg = weighted.agg(
        F.sum(F.when(F.col("treated"), F.col("wy"))).alias("t_wy"),
        F.sum(F.when(F.col("treated"), F.col("wn"))).alias("t_wn"),
        F.sum(F.when(~F.col("treated"), F.col("cy"))).alias("c_cy"),
        F.sum(F.when(~F.col("treated"), F.col("cn"))).alias("c_cn"),
        F.sum(F.when(F.col("treated"), F.col("n"))).alias("n_treat"),
        F.sum(F.when(~F.col("treated"), F.col("n"))).alias("n_control"),
    )
    mu1 = F.col("t_wy") / F.col("t_wn")
    mu0 = F.col("c_cy") / F.col("c_cn")
    return agg.select(
        "n_treat",
        "n_control",
        F.round(mu1, 4).alias("mu_treated"),
        F.round(mu0, 4).alias("mu_control"),
        F.round(mu1 - mu0, 4).alias("ate"),
    )


_PROP_CASE = " ".join(
    f"WHEN '{k}' THEN {v!r}" for k, v in _PROPENSITY.items()
)

_SQL_IPW_ATE_FIXED_PROPENSITY = f"""
WITH base AS (
  SELECT c.c_mktsegment AS seg,
         CAST(substr(o.o_orderpriority, 1, 1) AS INT) IN (1, 2) AS treated,
         CAST(o.o_totalprice AS DECIMAL(18,2)) AS y
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
), cells AS (
  SELECT seg, treated, CAST(count(*) AS BIGINT) AS n, sum(y) AS sy
  FROM base GROUP BY 1, 2
), weighted AS (
  SELECT treated, n,
         CAST(sy AS DOUBLE) / (CASE seg {_PROP_CASE} END) AS wy,
         CAST(n AS DOUBLE) / (CASE seg {_PROP_CASE} END) AS wn,
         CAST(sy AS DOUBLE) / (1.0 - (CASE seg {_PROP_CASE} END)) AS cy,
         CAST(n AS DOUBLE) / (1.0 - (CASE seg {_PROP_CASE} END)) AS cn
  FROM cells
), agg AS (
  SELECT sum(CASE WHEN treated THEN wy END) AS t_wy,
         sum(CASE WHEN treated THEN wn END) AS t_wn,
         sum(CASE WHEN NOT treated THEN cy END) AS c_cy,
         sum(CASE WHEN NOT treated THEN cn END) AS c_cn,
         CAST(sum(CASE WHEN treated THEN n END) AS BIGINT) AS n_treat,
         CAST(sum(CASE WHEN NOT treated THEN n END) AS BIGINT) AS n_control
  FROM weighted
)
SELECT n_treat, n_control,
       round(t_wy / t_wn, 4) AS mu_treated,
       round(c_cy / c_cn, 4) AS mu_control,
       round(t_wy / t_wn - c_cy / c_cn, 4) AS ate
FROM agg
"""


# --------------------------------------------------------------------------
# did_revenue_regions
# --------------------------------------------------------------------------

_DID_CUT = "1998-01-01"
_DID_REGION = "AMERICA"


def _q_did_revenue_regions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2x2 difference-in-differences: mean order value, AMERICA-region
    customers (treated) vs rest, pre/post 1998-01-01.  Dims broadcast;
    the fact scan collapses to 4 cells.
    """
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    dim = (
        customer.join(
            F.broadcast(nation), customer["c_nationkey"] == nation["n_nationkey"]
        )
        .join(F.broadcast(region), nation["n_regionkey"] == region["r_regionkey"])
        .select("c_custkey", (F.col("r_name") == _DID_REGION).alias("treated"))
    )
    cells = (
        orders.join(F.broadcast(dim), orders["o_custkey"] == dim["c_custkey"])
        .select(
            "treated",
            (F.col("o_orderdate") >= F.lit(_DID_CUT).cast("timestamp")).alias("post"),
            F.col("o_totalprice").cast("decimal(18,2)").alias("y"),
        )
        .groupBy("treated", "post")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("y").alias("sy"))
        .select(
            "treated",
            "post",
            (F.col("sy").cast("double") / F.col("n").cast("double")).alias("mean_y"),
        )
    )
    agg = cells.agg(
        F.sum(F.when(F.col("treated") & F.col("post"), F.col("mean_y"))).alias("tp"),
        F.sum(F.when(F.col("treated") & ~F.col("post"), F.col("mean_y"))).alias("tq"),
        F.sum(F.when(~F.col("treated") & F.col("post"), F.col("mean_y"))).alias("cp"),
        F.sum(F.when(~F.col("treated") & ~F.col("post"), F.col("mean_y"))).alias("cq"),
    )
    return agg.select(
        F.round("tq", 4).alias("mean_treat_pre"),
        F.round("tp", 4).alias("mean_treat_post"),
        F.round("cq", 4).alias("mean_ctrl_pre"),
        F.round("cp", 4).alias("mean_ctrl_post"),
        F.round(
            (F.col("tp") - F.col("tq")) - (F.col("cp") - F.col("cq")), 4
        ).alias("did"),
    )


_SQL_DID_REVENUE_REGIONS = f"""
WITH dim AS (
  SELECT c.c_custkey, r.r_name = '{_DID_REGION}' AS treated
  FROM customer c
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey
), cells AS (
  SELECT d.treated,
         o.o_orderdate >= TIMESTAMP '{_DID_CUT} 00:00:00' AS post,
         CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
           / CAST(count(*) AS DOUBLE) AS mean_y
  FROM orders o JOIN dim d ON o.o_custkey = d.c_custkey
  GROUP BY 1, 2
)
SELECT round(sum(CASE WHEN treated AND NOT post THEN mean_y END), 4)
         AS mean_treat_pre,
       round(sum(CASE WHEN treated AND post THEN mean_y END), 4)
         AS mean_treat_post,
       round(sum(CASE WHEN NOT treated AND NOT post THEN mean_y END), 4)
         AS mean_ctrl_pre,
       round(sum(CASE WHEN NOT treated AND post THEN mean_y END), 4)
         AS mean_ctrl_post,
       round((sum(CASE WHEN treated AND post THEN mean_y END)
              - sum(CASE WHEN treated AND NOT post THEN mean_y END))
             - (sum(CASE WHEN NOT treated AND post THEN mean_y END)
                - sum(CASE WHEN NOT treated AND NOT post THEN mean_y END)), 4)
         AS did
FROM cells
"""


# --------------------------------------------------------------------------
# logrank_two_segment
# --------------------------------------------------------------------------


def _q_logrank_two_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-group log-rank test on signup→purchase time (seconds);
    users with no purchase after signup are censored at the global max
    event time.  Groups: user_id parity.  Risk sets N_g(t) come from
    the two-phase ``global_prefix_sum`` over the per-time frame — no
    single-task global window, and the per-time frame is grouped
    before the ordered pass, so the prefix machinery sees one row per
    distinct time.
    """
    events = load_table(spark, sf_dir, "events")
    su = (
        events.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min(F.unix_micros("ts")).alias("su"))
    )
    pu = events.where(F.col("event_type") == "purchase").select(
        "user_id", F.unix_micros("ts").alias("pu")
    )
    horizon = events.agg(F.max(F.unix_micros("ts")).alias("hz"))
    # The post-signup predicate must live in the JOIN CONDITION, not a
    # post-join filter: a bare left join + where(pu.isNull() | pu > su)
    # DROPS users whose purchases all precede signup (every matched row
    # fails the filter), while the SQL twin keeps them as censored.
    # (Round-6 ADVICE medium.)
    timed = (
        su.join(
            pu,
            (su["user_id"] == pu["user_id"]) & (pu["pu"] > su["su"]),
            "left",
        )
        .select(su["user_id"], su["su"], pu["pu"])
        .groupBy("user_id", "su")
        .agg(F.min("pu").alias("first_pu"))
        .crossJoin(F.broadcast(horizon))
        .select(
            "user_id",
            (F.col("user_id") % 2 == 0).alias("g1"),
            F.when(
                F.col("first_pu").isNotNull(),
                ((F.col("first_pu") - F.col("su")) / F.lit(1000000)).cast("bigint"),
            )
            .otherwise(((F.col("hz") - F.col("su")) / F.lit(1000000)).cast("bigint"))
            .alias("t"),
            F.col("first_pu").isNotNull().cast("bigint").alias("d"),
        )
    )
    per_time = timed.groupBy("t").agg(
        F.sum(F.when(F.col("g1"), F.col("d")).otherwise(F.lit(0))).alias("d1"),
        F.sum(F.when(~F.col("g1"), F.col("d")).otherwise(F.lit(0))).alias("d2"),
        F.sum(F.when(F.col("g1"), F.lit(1)).otherwise(F.lit(0))).alias("a1"),
        F.sum(F.when(~F.col("g1"), F.lit(1)).otherwise(F.lit(0))).alias("a2"),
    )
    cum = global_prefix_sum(
        per_time,
        "t",
        value_col=["a1", "a2"],
        out_col=["cum1", "cum2"],
        total_col=["tot1", "tot2"],
    )
    # at-risk just BEFORE t: total minus everything with time < t
    risk = cum.select(
        "t",
        "d1",
        "d2",
        (F.col("tot1") - F.col("cum1") + F.col("a1")).cast("double").alias("r1"),
        (F.col("tot2") - F.col("cum2") + F.col("a2")).cast("double").alias("r2"),
    ).where((F.col("d1") + F.col("d2")) > 0)
    d_t = (F.col("d1") + F.col("d2")).cast("double")
    n_t = F.col("r1") + F.col("r2")
    terms = risk.select(
        (F.col("d1") - d_t * F.col("r1") / n_t).alias("ome"),
        (d_t * F.col("r1") / n_t).alias("e1"),
        F.when(
            n_t > 1.0,
            d_t
            * (F.col("r1") / n_t)
            * (F.col("r2") / n_t)
            * (n_t - d_t)
            / (n_t - 1.0),
        )
        .otherwise(F.lit(0.0))
        .alias("v"),
        F.col("d1").alias("o1"),
    )
    agg = terms.agg(
        F.sum("o1").alias("observed1"),
        F.sum("e1").alias("se1"),
        F.sum("ome").alias("some"),
        F.sum("v").alias("sv"),
    )
    return agg.select(
        "observed1",
        F.round("se1", 6).alias("expected1"),
        F.round(F.col("some") * F.col("some") / F.col("sv"), 6).alias("chi2"),
    )


_SQL_LOGRANK_TWO_SEGMENT = """
WITH su AS (
  SELECT user_id, min(epoch_us(ts)) AS su
  FROM events WHERE event_type = 'signup' GROUP BY user_id
), pu AS (
  SELECT user_id, epoch_us(ts) AS pu
  FROM events WHERE event_type = 'purchase'
), hz AS (
  SELECT max(epoch_us(ts)) AS hz FROM events
), timed AS (
  SELECT s.user_id,
         s.user_id % 2 = 0 AS g1,
         CASE WHEN min(p.pu) IS NOT NULL
              THEN CAST((min(p.pu) - s.su) / 1000000 AS BIGINT)
              ELSE CAST((any_value(h.hz) - s.su) / 1000000 AS BIGINT) END AS t,
         CASE WHEN min(p.pu) IS NOT NULL THEN 1 ELSE 0 END AS d
  FROM su s
  LEFT JOIN pu p ON s.user_id = p.user_id AND p.pu > s.su
  CROSS JOIN hz h
  GROUP BY s.user_id, s.su
), per_time AS (
  SELECT t,
         CAST(sum(CASE WHEN g1 THEN d ELSE 0 END) AS BIGINT) AS d1,
         CAST(sum(CASE WHEN NOT g1 THEN d ELSE 0 END) AS BIGINT) AS d2,
         CAST(sum(CASE WHEN g1 THEN 1 ELSE 0 END) AS BIGINT) AS a1,
         CAST(sum(CASE WHEN NOT g1 THEN 1 ELSE 0 END) AS BIGINT) AS a2
  FROM timed GROUP BY t
), cum AS (
  SELECT t, d1, d2,
         CAST(sum(a1) OVER () - sum(a1) OVER (ORDER BY t) + a1 AS DOUBLE) AS r1,
         CAST(sum(a2) OVER () - sum(a2) OVER (ORDER BY t) + a2 AS DOUBLE) AS r2
  FROM per_time
), terms AS (
  SELECT d1,
         CAST(d1 + d2 AS DOUBLE) * r1 / (r1 + r2) AS e1,
         d1 - CAST(d1 + d2 AS DOUBLE) * r1 / (r1 + r2) AS ome,
         CASE WHEN r1 + r2 > 1.0
              THEN CAST(d1 + d2 AS DOUBLE) * (r1 / (r1 + r2)) * (r2 / (r1 + r2))
                   * ((r1 + r2) - CAST(d1 + d2 AS DOUBLE)) / ((r1 + r2) - 1.0)
              ELSE 0.0 END AS v
  FROM cum WHERE d1 + d2 > 0
)
SELECT CAST(sum(d1) AS BIGINT) AS observed1,
       round(sum(e1), 6) AS expected1,
       round(sum(ome) * sum(ome) / sum(v), 6) AS chi2
FROM terms
"""


SPECS: dict[str, QuerySpec] = {
    "als_step_exact": QuerySpec(
        _q_als_step_exact,
        _SQL_ALS_STEP_EXACT,
        "one ALS half-step: per-user rank-2 factors solved in closed "
        "form (2x2 Cramer) against fixed rational item factors — "
        "exact integer/decimal normal-equation sums",
    ),
    "gmm_em_step_exact": QuerySpec(
        _q_gmm_em_step_exact,
        _SQL_GMM_EM_STEP_EXACT,
        "one EM step of a 1-D 2-component GMM on order totals; "
        "responsibilities quantized to 1e-6 so the M-step is exact "
        "decimal sums (component 2 derived algebraically)",
    ),
    "isotonic_calibration_deciles": QuerySpec(
        _q_isotonic_calibration_deciles,
        _SQL_ISOTONIC_CALIBRATION_DECILES,
        "weighted isotonic (PAVA) calibration of the F-status rate "
        "over 10 fixed price bins via the minimax closed form — "
        "bounded joins, no iteration",
    ),
    "ipw_ate_fixed_propensity": QuerySpec(
        _q_ipw_ate_fixed_propensity,
        _SQL_IPW_ATE_FIXED_PROPENSITY,
        "Hajek IPW average treatment effect of urgent priority on "
        "order value with a fixed per-segment propensity table",
    ),
    "did_revenue_regions": QuerySpec(
        _q_did_revenue_regions,
        _SQL_DID_REVENUE_REGIONS,
        "2x2 difference-in-differences of mean order value, "
        "AMERICA-region customers vs rest, pre/post 1998",
    ),
    "logrank_two_segment": QuerySpec(
        _q_logrank_two_segment,
        _SQL_LOGRANK_TWO_SEGMENT,
        "two-group log-rank test on signup-to-purchase survival with "
        "horizon censoring; risk sets via two-phase global prefix sum",
    ),
}
