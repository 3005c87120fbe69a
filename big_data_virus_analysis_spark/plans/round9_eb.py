"""Round-9 empirical-Bayes / smoothing pack: James–Stein shrinkage and
Good–Turing frequency re-estimation — two classical
borrow-strength-from-the-ensemble estimators the catalog did not yet
cover (null_imputation/target_encode are point fixes; these are the
canonical shrinkage and unseen-mass machinery).

* ``james_stein_segment_means`` — positive-part James–Stein (Efron &
  Morris, JASA 1975) shrinkage of the 5 per-segment mean order values
  toward the grand mean of means: B⁺ = max(0, 1 − (k−3)·v̄ /
  Σ(x̄ᵢ−x̄)²), with v̄ the average per-segment variance of the mean
  (sᵢ²/nᵢ).  All sums are exact (cent-integer money via
  decimal(38,0)); the float algebra is the same fixed expression in
  both engines.  Output: per segment, n, raw mean, shrunk mean, and
  the common shrinkage factor.
* ``good_turing_token_mass`` — Good–Turing re-estimated token counts
  (Good 1953) from the corpus frequency-of-frequencies: for the 10
  RAREST observed frequency classes r, N_r, r* = (r+1)·N_{r+1}/N_r,
  and the raw probability mass r·N_r/N.  On a natural corpus these
  are r = 1..10 and the r = 1 mass N₁/N is the canonical
  unseen-species estimate; this synthetic corpus has a dense
  vocabulary (minimum token count 26 at sf0.01), so the rarest-class
  rows ARE its GT tail — the smoothing arithmetic is identical.

100-TB shape: both queries collapse the fact scan to a bounded frame
before any estimator algebra — 5 segment rows (one hash aggregate
over the orders×customer broadcast join) and ≤~10³ frequency-of-
frequency rows (token hash agg → count hash agg); the shrinkage /
re-estimation arithmetic is a constant-size broadcast combine.

Identity properties (tests/test_properties.py): the JS factor equals
the textbook form with B⁺ ∈ [0, 1] and shrunk means stay inside the
[min mean, max mean] hull; the Good–Turing invariant Σ r·N_r = N
holds exactly and Σ over r of the re-estimated mass r*·N_r/N equals
1 − N₁/N + (residual beyond the table) in exact Fractions.

No reference counterpart (statistics extension); public methods only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.caching import tracked_cache
from ..sources.tables import load_table
from . import QuerySpec

#: frequency-of-frequency table depth (the 10 rarest observed classes)
GT_TOPK = 10


def _q_james_stein_segment_means(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    seg = tracked_cache(
        orders.join(
            F.broadcast(customer.select("c_custkey", "c_mktsegment")),
            orders["o_custkey"] == customer["c_custkey"],
        )
        .select(
            F.col("c_mktsegment").alias("segment"),
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("yc"),
        )
        .groupBy("segment")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("yc").cast("decimal(38,0)")).alias("s"),
            F.sum(
                F.col("yc").cast("decimal(38,0)")
                * F.col("yc").cast("decimal(38,0)")
            ).alias("q"),
        )
        .select(
            "segment",
            "n",
            (F.col("s").cast("double") / 100.0 / F.col("n").cast("double"))
            .alias("xbar"),
            # variance of the mean: s_i^2 / n_i with s_i^2 the unbiased
            # per-segment variance, from exact integer moments
            (
                (
                    (
                        F.col("n").cast("decimal(38,0)") * F.col("q")
                        - F.col("s") * F.col("s")
                    ).cast("double")
                    / 10000.0
                )
                / (
                    F.col("n").cast("double")
                    * (F.col("n").cast("double") - 1.0)
                )
                / F.col("n").cast("double")
            ).alias("vmean"),
        )
    )
    glob = seg.agg(
        F.count(F.lit(1)).alias("k"),
        F.avg("xbar").alias("gbar"),
        F.avg("vmean").alias("vavg"),
    )
    dev = (
        seg.crossJoin(F.broadcast(glob))
        .select(
            ((F.col("xbar") - F.col("gbar")) * (F.col("xbar") - F.col("gbar")))
            .alias("d2"),
        )
        .agg(F.sum("d2").alias("ss"))
    )
    b = F.greatest(
        F.lit(0.0),
        F.lit(1.0)
        - (F.col("k").cast("double") - 3.0) * F.col("vavg") / F.col("ss"),
    )
    return (
        seg.crossJoin(F.broadcast(glob))
        .crossJoin(F.broadcast(dev))
        .select(
            "segment",
            "n",
            F.round(F.col("xbar"), 6).alias("raw_mean"),
            F.round(
                F.col("gbar") + b * (F.col("xbar") - F.col("gbar")), 6
            ).alias("shrunk_mean"),
            F.round(b, 6).alias("shrink_b"),
        )
        .orderBy("segment")
    )


_SQL_JAMES_STEIN_SEGMENT_MEANS = """
WITH seg AS MATERIALIZED (
  SELECT segment, n,
         CAST(s AS DOUBLE) / 100.0 / CAST(n AS DOUBLE) AS xbar,
         (CAST(n * q - s * s AS DOUBLE) / 10000.0)
           / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))
           / CAST(n AS DOUBLE) AS vmean
  FROM (
    SELECT c.c_mktsegment AS segment, count(*) AS n,
           sum(CAST(yc AS HUGEINT)) AS s,
           sum(CAST(yc AS HUGEINT) * CAST(yc AS HUGEINT)) AS q
    FROM (SELECT o_custkey,
                 CAST(round(o_totalprice * 100, 0) AS BIGINT) AS yc
          FROM orders) o
    JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY 1
  )
), gstats AS (
  SELECT count(*) AS k, avg(xbar) AS gbar, avg(vmean) AS vavg FROM seg
), dev AS (
  SELECT sum((xbar - gbar) * (xbar - gbar)) AS ss FROM seg, gstats
)
SELECT segment, CAST(n AS BIGINT) AS n,
       round(xbar, 6) AS raw_mean,
       round(gbar + greatest(0.0,
               1.0 - (CAST(k AS DOUBLE) - 3.0) * vavg / ss)
             * (xbar - gbar), 6) AS shrunk_mean,
       round(greatest(0.0,
               1.0 - (CAST(k AS DOUBLE) - 3.0) * vavg / ss), 6)
         AS shrink_b
FROM seg, gstats, dev
ORDER BY segment
"""


def _q_good_turing_token_mass(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(
            F.filter(F.split(F.col("text"), " "), lambda t: F.length(t) > 0)
        ).alias("tok")
    )
    counts = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("r"))
    fof = tracked_cache(
        counts.groupBy("r").agg(F.count(F.lit(1)).alias("n_r"))
    )
    ntot = fof.agg(
        F.sum(F.col("r").cast("decimal(38,0)") * F.col("n_r")).alias("n")
    )
    nxt = fof.select(
        (F.col("r") - 1).alias("r"), F.col("n_r").alias("n_r1")
    )
    rare = fof.orderBy("r").limit(GT_TOPK)
    return (
        rare.join(nxt, "r", "left")
        .crossJoin(F.broadcast(ntot))
        .select(
            "r",
            "n_r",
            F.coalesce(F.col("n_r1"), F.lit(0)).alias("n_r_next"),
            F.round(
                (F.col("r").cast("double") + 1.0)
                * F.coalesce(F.col("n_r1"), F.lit(0)).cast("double")
                / F.col("n_r").cast("double"),
                6,
            ).alias("r_star"),
            F.round(
                F.col("r").cast("double")
                * F.col("n_r").cast("double")
                / F.col("n").cast("double"),
                6,
            ).alias("mass_share"),
        )
        .orderBy("r")
    )


_SQL_GOOD_TURING_TOKEN_MASS = f"""
WITH toks AS (
  SELECT unnest(list_filter(string_split(text, ' '),
                            x -> length(x) > 0)) AS tok
  FROM documents
), counts AS (
  SELECT tok, count(*) AS r FROM toks GROUP BY tok
), fof AS MATERIALIZED (
  SELECT r, count(*) AS n_r FROM counts GROUP BY r
), ntot AS (
  SELECT sum(CAST(r AS HUGEINT) * n_r) AS n FROM fof
)
SELECT f.r, CAST(f.n_r AS BIGINT) AS n_r,
       CAST(COALESCE(nx.n_r, 0) AS BIGINT) AS n_r_next,
       round((CAST(f.r AS DOUBLE) + 1.0) * CAST(COALESCE(nx.n_r, 0) AS DOUBLE)
             / CAST(f.n_r AS DOUBLE), 6) AS r_star,
       round(CAST(f.r AS DOUBLE) * CAST(f.n_r AS DOUBLE)
             / CAST(n AS DOUBLE), 6) AS mass_share
FROM (SELECT * FROM fof ORDER BY r LIMIT {GT_TOPK}) f
LEFT JOIN fof nx ON nx.r = f.r + 1
CROSS JOIN ntot
ORDER BY f.r
"""


SPECS: dict[str, QuerySpec] = {
    "james_stein_segment_means": QuerySpec(
        _q_james_stein_segment_means,
        _SQL_JAMES_STEIN_SEGMENT_MEANS,
        "positive-part James-Stein shrinkage of per-segment mean order "
        "value toward the grand mean (exact integer moments, common "
        "factor B+ emitted)",
    ),
    "good_turing_token_mass": QuerySpec(
        _q_good_turing_token_mass,
        _SQL_GOOD_TURING_TOKEN_MASS,
        "Good-Turing frequency-of-frequencies re-estimation for the "
        "10 rarest token-count classes: r*, raw mass shares (the GT "
        "tail of this corpus; r=1..10 with N1/N unseen mass on a "
        "natural corpus)",
    ),
}
