"""Round-6 audit pack 3 — estimate-vs-truth audits in the tradition of
the ``*_bounded`` sketch entries: each query computes an APPROXIMATE
mechanism and its exact ground truth in the same plan, so the oracle
pins both the estimate and the error.

* ``fixed_scorer_learning_curve`` — exact AUC of the deterministic
  LCG-hyperplane scorer (shared with ``fixed_scorer_auc``) on NESTED
  deterministic subsets (25/50/75/100% via an arithmetic key hash):
  the metric-vs-data-size curve that decides whether more data is
  worth the tokens.  Each scored row is exploded into every subset it
  belongs to, and one grouped exact-AUC pass (``by=["pct"]``: one
  aggregate, one two-phase prefix sum) gives every point.
* ``bloom_fpr_curve`` — Bloom-filter false-positive rate, measured vs
  theoretical, for two filter sizes: build keys are odd-mapped
  supplier ids, probe keys even-mapped customer ids (provably
  disjoint), k=3 fixed affine hashes.  Measured FPR = probes with all
  3 bits set; expected = (1-(1-1/m)^(kn))^k.  The sizing evidence a
  ``bloom_semi_join_audit`` deployment needs before picking m.
* ``randomized_response_audit`` — the classic local-DP mechanism with
  a deterministic 25% arithmetic "coin": observed noised share,
  debiased estimate (p_obs - q)/(1 - 2q), and its absolute error vs
  the exact share.  Complements ``dp_noise_calibration`` (which
  plans noise; this measures a mechanism end-to-end).

100 TB shape: the learning curve scans once and explodes each row into
at most four subsets (2.5 on average) before the grouped score
aggregate; Bloom bit tables are bounded by m (rows ≤ m per
filter), probes join against them by bit id; randomized response is a
single hash aggregate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..ml.metrics import exact_auc_frame
from ..operators.similarity import DIM, _plane_weight
from ..sources.tables import load_table
from . import QuerySpec

# --------------------------------------------------------------------------
# fixed_scorer_learning_curve
# --------------------------------------------------------------------------

_LC_PCTS = [25, 50, 75, 100]
_LC_MULT = 2654435761


def _q_fixed_scorer_learning_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    plane = F.array(*[F.lit(_plane_weight(0, d)) for d in range(DIM)])
    score = F.round(
        F.aggregate(
            F.zip_with(F.col("embedding"), plane, lambda x, wt: x.cast("double") * wt),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ),
        6,
    )
    h = (F.col("vec_id") * _LC_MULT) % 100
    # each row joins every nested subset it belongs to (h < pct)
    pcts = F.filter(F.array(*[F.lit(p) for p in _LC_PCTS]), lambda p: h < p)
    scored = emb.select(
        score.alias("score"),
        (F.col("label") < 5).cast("int").alias("pos"),
        F.explode(pcts).alias("pct"),
    )
    return exact_auc_frame(scored, by=["pct"])


_LC_W_VALUES = ", ".join(f"({d + 1}, {_plane_weight(0, d)!r})" for d in range(DIM))


def _lc_auc_block(pct: int) -> str:
    return f"""SELECT {pct} AS pct,
       CAST(sum(np_s) AS BIGINT) AS n_pos,
       CAST(sum(nn_s) AS BIGINT) AS n_neg,
       round(sum(np_s * (cum_nn - nn_s / 2.0))
             / CAST(sum(np_s) * sum(nn_s) AS DOUBLE), 6) AS auc
FROM (
  SELECT np_s, nn_s,
         sum(nn_s) OVER (ORDER BY score ROWS UNBOUNDED PRECEDING) AS cum_nn
  FROM (
    SELECT score, sum(pos) AS np_s, sum(1 - pos) AS nn_s
    FROM scored WHERE h < {pct}
    GROUP BY score
  )
)"""


_SQL_FIXED_SCORER_LEARNING_CURVE = f"""
WITH w(i, wt) AS (VALUES {_LC_W_VALUES}),
elems AS (
  SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS x
  FROM embeddings CROSS JOIN (SELECT unnest(generate_series(1, {DIM})) AS i)
), scored AS (
  SELECT e.vec_id, round(sum(e.x * w.wt), 6) AS score,
         CASE WHEN l.label < 5 THEN 1 ELSE 0 END AS pos,
         (e.vec_id * {_LC_MULT}) % 100 AS h
  FROM elems e JOIN w USING (i) JOIN embeddings l ON e.vec_id = l.vec_id
  GROUP BY e.vec_id, l.label
)
{" UNION ALL ".join(_lc_auc_block(p) for p in _LC_PCTS)}
"""


# --------------------------------------------------------------------------
# bloom_fpr_curve
# --------------------------------------------------------------------------

_BF_MS = [1024, 4096]
_BF_HASHES = [(1103515245, 12345), (69069, 362437), (1664525, 1013904223)]
_BF_P = 2147483647


def _q_bloom_fpr_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    supplier = load_table(spark, sf_dir, "supplier")
    customer = load_table(spark, sf_dir, "customer")
    build = supplier.select((F.col("s_suppkey") * 2 + 1).alias("key"))
    probes = customer.select((F.col("c_custkey") * 2).alias("key"))
    out = None
    for m in _BF_MS:
        bit_cols = [
            (((F.col("key") * a + b) % _BF_P) % m).alias(f"bit{i}")
            for i, (a, b) in enumerate(_BF_HASHES)
        ]
        bits = (
            build.select(*bit_cols)
            .select(
                F.explode(
                    F.array(*[F.col(f"bit{i}") for i in range(len(_BF_HASHES))])
                ).alias("bit")
            )
            .distinct()
        )
        n_build = build.agg(F.count(F.lit(1)).alias("n_build"))
        probe_bits = probes.select("key", *bit_cols)
        hits = None
        for i in range(len(_BF_HASHES)):
            hit_i = probe_bits.join(
                bits.select(F.col("bit").alias(f"bit{i}")), f"bit{i}"
            ).select("key")
            hits = hit_i if hits is None else hits.intersect(hit_i)
        fp = hits.agg(F.count(F.lit(1)).alias("n_fp"))
        n_probe = probes.agg(F.count(F.lit(1)).alias("n_probes"))
        k = float(len(_BF_HASHES))
        expected = (
            1.0
            - F.pow(
                F.lit(1.0) - 1.0 / m, F.col("n_build").cast("double") * k
            )
        ) ** k
        row = (
            fp.crossJoin(F.broadcast(n_probe))
            .crossJoin(F.broadcast(n_build))
            .select(
                F.lit(m).alias("m_bits"),
                "n_build",
                "n_probes",
                "n_fp",
                F.round(
                    F.col("n_fp").cast("double") / F.col("n_probes").cast("double"),
                    6,
                ).alias("measured_fpr"),
                F.round(expected, 6).alias("expected_fpr"),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out


def _bf_block(m: int) -> str:
    k = len(_BF_HASHES)
    bit_exprs = [
        f"((key * {a} + {b}) % {_BF_P}) % {m}" for (a, b) in _BF_HASHES
    ]
    bits_union = " UNION SELECT ".join(
        f"{e} AS bit FROM build" for e in bit_exprs
    )
    probe_hits = " AND ".join(
        f"({e}) IN (SELECT bit FROM bits_{m})" for e in bit_exprs
    )
    return f"""bits_{m} AS (
  SELECT {bits_union}
), fp_{m} AS (
  SELECT CAST(count(*) AS BIGINT) AS n_fp
  FROM probes WHERE {probe_hits}
)"""


def _bf_select(m: int) -> str:
    k = len(_BF_HASHES)
    return f"""SELECT {m} AS m_bits,
       (SELECT CAST(count(*) AS BIGINT) FROM build) AS n_build,
       (SELECT CAST(count(*) AS BIGINT) FROM probes) AS n_probes,
       (SELECT n_fp FROM fp_{m}) AS n_fp,
       round(CAST((SELECT n_fp FROM fp_{m}) AS DOUBLE)
             / (SELECT count(*) FROM probes), 6) AS measured_fpr,
       round(pow(1.0 - pow(1.0 - 1.0 / {m},
                           (SELECT count(*) FROM build) * {float(k)!r}),
                 {float(k)!r}), 6) AS expected_fpr"""


_SQL_BLOOM_FPR_CURVE = f"""
WITH build AS (
  SELECT s_suppkey * 2 + 1 AS key FROM supplier
), probes AS (
  SELECT c_custkey * 2 AS key FROM customer
), {", ".join(_bf_block(m) for m in _BF_MS)}
{" UNION ALL ".join(_bf_select(m) for m in _BF_MS)}
"""


# --------------------------------------------------------------------------
# randomized_response_audit
# --------------------------------------------------------------------------

_RR_Q = 0.25  # flip probability
_RR_MULT = 2654435761


def _q_randomized_response_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    staged = orders.select(
        (F.col("o_orderstatus") == "F").cast("bigint").alias("truth"),
        ((F.col("o_orderkey") * _RR_MULT) % 100 < int(_RR_Q * 100))
        .cast("bigint")
        .alias("flip"),
    ).select(
        "truth",
        (F.col("truth") * (1 - F.col("flip")) + (1 - F.col("truth")) * F.col("flip"))
        .alias("response"),
    )
    agg = staged.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("truth").alias("n_true"),
        F.sum("response").alias("n_resp"),
    )
    p_obs = F.col("n_resp").cast("double") / F.col("n").cast("double")
    p_hat = (p_obs - _RR_Q) / (1.0 - 2.0 * _RR_Q)
    p_true = F.col("n_true").cast("double") / F.col("n").cast("double")
    return agg.select(
        "n",
        F.round(p_true, 6).alias("p_true"),
        F.round(p_obs, 6).alias("p_observed"),
        F.round(p_hat, 6).alias("p_debiased"),
        F.round(F.abs(p_hat - p_true), 6).alias("abs_err"),
    )


_SQL_RANDOMIZED_RESPONSE_AUDIT = f"""
WITH staged AS (
  SELECT CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS truth,
         CASE WHEN (o_orderkey * {_RR_MULT}) % 100 < {int(_RR_Q * 100)}
              THEN 1 ELSE 0 END AS flip
  FROM orders
), resp AS (
  SELECT truth, truth * (1 - flip) + (1 - truth) * flip AS response
  FROM staged
), agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(truth) AS BIGINT) AS n_true,
         CAST(sum(response) AS BIGINT) AS n_resp
  FROM resp
)
SELECT n,
       round(CAST(n_true AS DOUBLE) / n, 6) AS p_true,
       round(CAST(n_resp AS DOUBLE) / n, 6) AS p_observed,
       round((CAST(n_resp AS DOUBLE) / n - {_RR_Q!r}) / (1.0 - 2.0 * {_RR_Q!r}),
             6) AS p_debiased,
       round(abs((CAST(n_resp AS DOUBLE) / n - {_RR_Q!r})
                 / (1.0 - 2.0 * {_RR_Q!r})
                 - CAST(n_true AS DOUBLE) / n), 6) AS abs_err
FROM agg
"""


SPECS: dict[str, QuerySpec] = {
    "fixed_scorer_learning_curve": QuerySpec(
        _q_fixed_scorer_learning_curve,
        _SQL_FIXED_SCORER_LEARNING_CURVE,
        "exact AUC of the fixed LCG scorer on nested deterministic "
        "25/50/75/100% subsets — the data-size learning curve",
    ),
    "bloom_fpr_curve": QuerySpec(
        _q_bloom_fpr_curve,
        _SQL_BLOOM_FPR_CURVE,
        "Bloom-filter measured vs theoretical FPR for two sizes "
        "(k=3 affine hashes, disjoint build/probe key spaces)",
    ),
    "randomized_response_audit": QuerySpec(
        _q_randomized_response_audit,
        _SQL_RANDOMIZED_RESPONSE_AUDIT,
        "local-DP randomized response with a deterministic 25% coin: "
        "observed, debiased, and exact shares plus estimator error",
    ),
}
