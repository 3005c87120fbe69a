"""Round-6 ML & audit pack — closed-form training/eval/compression
steps that extend the exact-ML family, plus two planner audits:

* ``gbdt_stump_steps_exact`` — two unrolled gradient-boosting rounds
  (squared loss, depth-1 trees over the ≤50-value ``l_quantity``
  histogram): F0 = global mean, each round picks the SSE-optimal split
  from the histogram's prefix sums and adds ``lr``·stump.  The same
  oracle-the-iteration-body discipline as ``kmeans_lloyd_step`` /
  ``lr_gd_steps_exact``, for the one major trained-model family the
  exact pack lacked.  All stats frames are histogram-sized (quantity's
  domain is 1..50 — data-model bounded).

* ``kfold_auc_fixed_scorer`` — deterministic 5-fold cross-validation:
  fold = md5(vec_id) mod 5, per-fold exact ROC-AUC of the fixed
  hyperplane scorer via the grouped-score Mann–Whitney rank sum.  All
  windows are PARTITIONED by fold — the CV loop is data-parallel, no
  per-fold driver round-trips.

* ``feature_hashing_vectorize`` — the hashing-trick vectorizer: token
  → signed bucket (md5-derived index and sign), per-document signed
  counts.  One explode + one hash-aggregate; the vocabulary never
  materializes, which is the entire point of feature hashing at scale.

* ``int8_quantization_audit`` — scalar int8 embedding compression:
  per-dimension min/max (a |dims|-row frame broadcast back), affine
  quantize/dequantize with floor(x+0.5) rounding (identical on both
  engines), per-vector reconstruction MSE.

* ``join_cardinality_audit`` — the planner's containment-assumption
  estimate |A⋈B| ≈ nₐ·n_b / max(dₐ, d_b) next to the ACTUAL join
  count, per star-schema join — quantifies the estimator the
  cost-based decisions in ``join_strategy_advisor`` implicitly trust.

* ``ams_f2_moment_bounded`` — AMS/Tug-of-War sketch for the second
  frequency moment F2 = Σc² of the per-user event counts: 16
  md5-derived ±1 estimators, median-of-estimators vs the exact F2,
  with the tolerance bit pinned by the oracle (the ``*_bounded``
  sketch-audit pattern).

* ``denormalize_orders_nested`` — the nested-write shape: each order
  with its deterministic-sorted item array — collect_list under an
  explicit sort, the array-of-struct denormalization every
  document-store export runs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.caching import tracked_cache
from ..sources.tables import load_table
from . import QuerySpec
from .ml_exact import DIM, _plane_weight

# --------------------------------------------------------------------------
# gbdt_stump_steps_exact
# --------------------------------------------------------------------------

_GBDT_LR = 0.5


def _q_gbdt_stump_steps_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    base = li.select(
        F.col("l_quantity").cast("double").alias("x"),
        F.col("l_extendedprice").cast("double").alias("y"),
    )
    base = tracked_cache(base)

    def best_stump(df: DataFrame, ycol: str) -> DataFrame:
        """1-row frame (split, left_mean, right_mean) minimizing SSE.

        Histogram: one hash-agg to the ≤50-row quantity histogram,
        prefix sums over it (bounded frame — quantity's domain), then
        the argmax split with deterministic tiebreak.
        """
        hist = df.groupBy("x").agg(
            F.count(F.lit(1)).alias("n_b"),
            F.sum(ycol).alias("s_b"),
        )
        w = Window.orderBy("x")  # bounded: quantity domain (<=50 rows)
        tot = Window.partitionBy()
        cum = hist.select(
            "x",
            F.sum("n_b").over(w).alias("n_l"),
            F.sum("s_b").over(w).alias("s_l"),
            F.sum("n_b").over(tot).alias("n"),
            F.sum("s_b").over(tot).alias("s"),
        ).where(F.col("n_l") < F.col("n"))  # right side must be non-empty
        # SSE reduction = s_l^2/n_l + (s-s_l)^2/(n-n_l) - s^2/n; the
        # s^2/n term is constant, so maximize the first two
        gain = (
            F.col("s_l") * F.col("s_l") / F.col("n_l")
            + (F.col("s") - F.col("s_l"))
            * (F.col("s") - F.col("s_l"))
            / (F.col("n") - F.col("n_l"))
        )
        return (
            cum.select(
                "x",
                "n_l",
                "s_l",
                "n",
                "s",
                F.round(gain, 6).alias("gain"),
            )
            .orderBy(F.desc("gain"), F.asc("x"))
            .limit(1)
            .select(
                F.col("x").alias("split"),
                (F.col("s_l") / F.col("n_l")).alias("left_mean"),
                ((F.col("s") - F.col("s_l")) / (F.col("n") - F.col("n_l"))).alias(
                    "right_mean"
                ),
            )
        )

    f0 = base.agg(F.avg("y").alias("f0"))
    r1 = base.crossJoin(F.broadcast(f0)).select(
        "x", (F.col("y") - F.col("f0")).alias("r")
    )
    s1 = best_stump(r1, "r")
    r2 = (
        r1.crossJoin(F.broadcast(s1))
        .select(
            "x",
            (
                F.col("r")
                - _GBDT_LR
                * F.when(F.col("x") <= F.col("split"), F.col("left_mean")).otherwise(
                    F.col("right_mean")
                )
            ).alias("r"),
        )
    )
    s2 = best_stump(r2, "r")
    sse2 = r2.crossJoin(F.broadcast(s2)).agg(
        F.round(
            F.sum(
                F.pow(
                    F.col("r")
                    - _GBDT_LR
                    * F.when(
                        F.col("x") <= F.col("split"), F.col("left_mean")
                    ).otherwise(F.col("right_mean")),
                    2,
                )
            )
            / F.count(F.lit(1)),
            2,
        ).alias("mse_after_2")
    )
    row1 = s1.select(
        F.lit(1).alias("step"),
        F.col("split"),
        F.round("left_mean", 6).alias("left_mean"),
        F.round("right_mean", 6).alias("right_mean"),
    )
    row2 = s2.select(
        F.lit(2).alias("step"),
        F.col("split"),
        F.round("left_mean", 6).alias("left_mean"),
        F.round("right_mean", 6).alias("right_mean"),
    )
    return (
        row1.unionByName(row2)
        .crossJoin(F.broadcast(sse2))
        .crossJoin(F.broadcast(f0.select(F.round("f0", 6).alias("f0"))))
    )


_SQL_GBDT_STUMP_STEPS_EXACT = f"""
WITH base AS (
  SELECT CAST(l_quantity AS DOUBLE) AS x, CAST(l_extendedprice AS DOUBLE) AS y
  FROM lineitem
), f0 AS (
  SELECT avg(y) AS f0 FROM base
), r1 AS (
  SELECT x, y - f0 AS r FROM base CROSS JOIN f0
), h1 AS (
  SELECT x, count(*) AS n_b, sum(r) AS s_b FROM r1 GROUP BY x
), c1 AS (
  SELECT x,
         sum(n_b) OVER (ORDER BY x) AS n_l,
         sum(s_b) OVER (ORDER BY x) AS s_l,
         sum(n_b) OVER () AS n,
         sum(s_b) OVER () AS s
  FROM h1 QUALIFY n_l < n
), s1 AS (
  SELECT x AS split, s_l / n_l AS left_mean, (s - s_l) / (n - n_l) AS right_mean
  FROM c1
  ORDER BY round(s_l * s_l / n_l + (s - s_l) * (s - s_l) / (n - n_l), 6) DESC,
           x ASC
  LIMIT 1
), r2 AS (
  SELECT x,
         r - {_GBDT_LR} * (CASE WHEN x <= split THEN left_mean
                                ELSE right_mean END) AS r
  FROM r1 CROSS JOIN s1
), h2 AS (
  SELECT x, count(*) AS n_b, sum(r) AS s_b FROM r2 GROUP BY x
), c2 AS (
  SELECT x,
         sum(n_b) OVER (ORDER BY x) AS n_l,
         sum(s_b) OVER (ORDER BY x) AS s_l,
         sum(n_b) OVER () AS n,
         sum(s_b) OVER () AS s
  FROM h2 QUALIFY n_l < n
), s2 AS (
  SELECT x AS split, s_l / n_l AS left_mean, (s - s_l) / (n - n_l) AS right_mean
  FROM c2
  ORDER BY round(s_l * s_l / n_l + (s - s_l) * (s - s_l) / (n - n_l), 6) DESC,
           x ASC
  LIMIT 1
), sse2 AS (
  SELECT round(sum(pow(r - {_GBDT_LR} * (CASE WHEN x <= split THEN left_mean
                                              ELSE right_mean END), 2))
               / count(*), 2) AS mse_after_2
  FROM r2 CROSS JOIN s2
), steps AS (
  SELECT 1 AS step, split, round(left_mean, 6) AS left_mean,
         round(right_mean, 6) AS right_mean
  FROM s1
  UNION ALL
  SELECT 2, split, round(left_mean, 6), round(right_mean, 6) FROM s2
)
SELECT step, split, left_mean, right_mean, mse_after_2, round(f0, 6) AS f0
FROM steps CROSS JOIN sse2 CROSS JOIN f0
"""


# --------------------------------------------------------------------------
# kfold_auc_fixed_scorer
# --------------------------------------------------------------------------

_K_FOLDS = 5


def _q_kfold_auc_fixed_scorer(spark: SparkSession, sf_dir: str) -> DataFrame:
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
    fold = (
        F.conv(F.substring(F.md5(F.col("vec_id").cast("string")), 1, 15), 16, 10)
        .cast("bigint")
        % _K_FOLDS
    ).cast("int")
    scored = emb.select(
        fold.alias("fold"),
        score.alias("score"),
        (F.col("label") < 5).cast("int").alias("pos"),
    )
    grouped = scored.groupBy("fold", "score").agg(
        F.sum("pos").alias("np_s"),
        F.sum(1 - F.col("pos")).alias("nn_s"),
    )
    w = Window.partitionBy("fold").orderBy("score")
    cum = grouped.withColumn("cum_nn", F.sum("nn_s").over(w))
    return (
        cum.groupBy("fold")
        .agg(
            F.sum("np_s").alias("n_pos"),
            F.sum("nn_s").alias("n_neg"),
            F.round(
                F.sum(F.col("np_s") * (F.col("cum_nn") - F.col("nn_s") / 2.0))
                / (F.sum("np_s") * F.sum("nn_s")).cast("double"),
                6,
            ).alias("auc"),
        )
    )


_W_VALUES = ", ".join(f"({d + 1}, {_plane_weight(0, d)!r})" for d in range(DIM))

_SQL_KFOLD_AUC_FIXED_SCORER = f"""
WITH w(i, wt) AS (VALUES {_W_VALUES}),
elems AS (
  SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS x
  FROM embeddings CROSS JOIN (SELECT unnest(generate_series(1, {DIM})) AS i)
), scored AS (
  SELECT CAST(CAST('0x' || substr(md5(CAST(e.vec_id AS VARCHAR)), 1, 15)
                   AS BIGINT) % {_K_FOLDS} AS INT) AS fold,
         round(sum(e.x * w.wt), 6) AS score,
         CASE WHEN l.label < 5 THEN 1 ELSE 0 END AS pos
  FROM elems e JOIN w USING (i) JOIN embeddings l ON e.vec_id = l.vec_id
  GROUP BY e.vec_id, l.label
), grouped AS (
  SELECT fold, score, sum(pos) AS np_s, sum(1 - pos) AS nn_s
  FROM scored GROUP BY fold, score
), cum AS (
  SELECT fold, np_s, nn_s,
         sum(nn_s) OVER (PARTITION BY fold ORDER BY score
                         ROWS UNBOUNDED PRECEDING) AS cum_nn
  FROM grouped
)
SELECT fold,
       CAST(sum(np_s) AS BIGINT) AS n_pos,
       CAST(sum(nn_s) AS BIGINT) AS n_neg,
       round(sum(np_s * (cum_nn - nn_s / 2.0))
             / CAST(sum(np_s) * sum(nn_s) AS DOUBLE), 6) AS auc
FROM cum GROUP BY fold
"""


# --------------------------------------------------------------------------
# feature_hashing_vectorize
# --------------------------------------------------------------------------

_FH_BUCKETS = 256


def _q_feature_hashing_vectorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    ).where(F.length("tok") > 0)
    h = F.conv(F.substring(F.md5("tok"), 1, 15), 16, 10).cast("bigint")
    bucket = (h % _FH_BUCKETS).cast("int")
    sign = F.when((h % (2 * _FH_BUCKETS)) >= _FH_BUCKETS, -1).otherwise(1)
    return (
        toks.select("doc_id", bucket.alias("bucket"), sign.alias("sgn"))
        .groupBy("doc_id", "bucket")
        .agg(F.sum("sgn").alias("val"))
        .where(F.col("val") != 0)
    )


_SQL_FEATURE_HASHING_VECTORIZE = f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
), hashed AS (
  SELECT doc_id,
         CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) AS h
  FROM toks WHERE length(tok) > 0
)
SELECT doc_id,
       CAST(h % {_FH_BUCKETS} AS INT) AS bucket,
       CAST(sum(CASE WHEN h % {2 * _FH_BUCKETS} >= {_FH_BUCKETS}
                     THEN -1 ELSE 1 END) AS BIGINT) AS val
FROM hashed
GROUP BY doc_id, h % {_FH_BUCKETS}
HAVING sum(CASE WHEN h % {2 * _FH_BUCKETS} >= {_FH_BUCKETS}
                THEN -1 ELSE 1 END) <> 0
"""


# --------------------------------------------------------------------------
# int8_quantization_audit
# --------------------------------------------------------------------------


def _q_int8_quantization_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    elems = emb.select(
        "vec_id",
        F.posexplode(F.col("embedding")).alias("i", "xr"),
    ).select("vec_id", "i", F.col("xr").cast("double").alias("x"))
    elems = tracked_cache(elems)
    dims = elems.groupBy("i").agg(
        F.min("x").alias("mn"), F.max("x").alias("mx")
    )
    scale = F.greatest((F.col("mx") - F.col("mn")) / 255.0, F.lit(1e-12))
    q = F.floor((F.col("x") - F.col("mn")) / scale + 0.5)
    recon = F.col("mn") + q * scale
    return (
        elems.join(F.broadcast(dims), "i")
        .groupBy("vec_id")
        .agg(
            F.count(F.lit(1)).alias("dim"),
            F.round(F.avg(F.pow(F.col("x") - recon, 2)), 9).alias("mse"),
        )
    )


_SQL_INT8_QUANTIZATION_AUDIT = """
WITH elems AS (
  SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS x
  FROM embeddings CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS i)
), dims AS (
  SELECT i, min(x) AS mn, max(x) AS mx FROM elems GROUP BY i
), joined AS (
  SELECT e.vec_id, e.x, d.mn,
         greatest((d.mx - d.mn) / 255.0, 1e-12) AS scale
  FROM elems e JOIN dims d USING (i)
)
SELECT vec_id, count(*) AS dim,
       round(avg(pow(x - (mn + floor((x - mn) / scale + 0.5) * scale), 2)), 9)
         AS mse
FROM joined GROUP BY vec_id
"""


# --------------------------------------------------------------------------
# join_cardinality_audit
# --------------------------------------------------------------------------


def _q_join_cardinality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    cases = [
        ("orders_customer", "orders", "o_custkey", "customer", "c_custkey"),
        ("lineitem_orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
        ("lineitem_part", "lineitem", "l_partkey", "part", "p_partkey"),
    ]
    rows = []
    for name, lt, lk, rt, rk in cases:
        l = load_table(spark, sf_dir, lt)
        r = load_table(spark, sf_dir, rt)
        lstats = l.agg(
            F.count(F.lit(1)).alias("n_l"), F.countDistinct(lk).alias("d_l")
        )
        rstats = r.agg(
            F.count(F.lit(1)).alias("n_r"), F.countDistinct(rk).alias("d_r")
        )
        actual = (
            l.join(r, l[lk] == r[rk])
            .agg(F.count(F.lit(1)).alias("actual_rows"))
        )
        est = (
            F.col("n_l").cast("double")
            * F.col("n_r")
            / F.greatest("d_l", "d_r")
        )
        rows.append(
            lstats.crossJoin(F.broadcast(rstats))
            .crossJoin(F.broadcast(actual))
            .select(
                F.lit(name).alias("join_name"),
                "n_l",
                "n_r",
                "d_l",
                "d_r",
                F.round(est, 2).alias("est_rows"),
                "actual_rows",
                F.round(F.col("actual_rows") / est, 6).alias("actual_over_est"),
            )
        )
    out = rows[0]
    for extra in rows[1:]:
        out = out.unionByName(extra)
    return out


def _card_row_sql(name: str, lt: str, lk: str, rt: str, rk: str) -> str:
    return f"""
  SELECT '{name}' AS join_name, l.n_l, r.n_r, l.d_l, r.d_r,
         round(CAST(l.n_l AS DOUBLE) * r.n_r / greatest(l.d_l, r.d_r), 2)
           AS est_rows,
         a.actual_rows,
         round(a.actual_rows
               / (CAST(l.n_l AS DOUBLE) * r.n_r / greatest(l.d_l, r.d_r)), 6)
           AS actual_over_est
  FROM (SELECT count(*) AS n_l, CAST(count(DISTINCT {lk}) AS BIGINT) AS d_l
        FROM {lt}) l
  CROSS JOIN (SELECT count(*) AS n_r, CAST(count(DISTINCT {rk}) AS BIGINT) AS d_r
              FROM {rt}) r
  CROSS JOIN (SELECT count(*) AS actual_rows
              FROM {lt} JOIN {rt} ON {lt}.{lk} = {rt}.{rk}) a"""


_SQL_JOIN_CARDINALITY_AUDIT = "\n  UNION ALL\n".join(
    _card_row_sql(*c)
    for c in [
        ("orders_customer", "orders", "o_custkey", "customer", "c_custkey"),
        ("lineitem_orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
        ("lineitem_part", "lineitem", "l_partkey", "part", "p_partkey"),
    ]
)


# --------------------------------------------------------------------------
# ams_f2_moment_bounded
# --------------------------------------------------------------------------

_AMS_K = 16
_AMS_TOL = 0.5


def _q_ams_f2_moment_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    est_idx = F.explode(F.array(*[F.lit(j) for j in range(_AMS_K)])).alias("j")
    tagged = ev.select(F.col("user_id"), est_idx)
    h = F.conv(
        F.substring(
            F.md5(F.concat_ws("|", F.col("user_id").cast("string"), F.col("j"))),
            1,
            15,
        ),
        16,
        10,
    ).cast("bigint")
    sgn = F.when(h % 2 == 1, 1).otherwise(-1)
    sums = (
        tagged.select("j", sgn.alias("s"))
        .groupBy("j")
        .agg(F.sum("s").alias("z"))
        .select("j", (F.col("z") * F.col("z")).cast("double").alias("x2"))
    )
    est = sums.agg(F.percentile(F.col("x2"), F.lit(0.5)).alias("est_f2"))
    exact = (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(F.sum(F.col("c") * F.col("c")).alias("exact_f2"))
    )
    return exact.crossJoin(F.broadcast(est)).select(
        "exact_f2",
        F.round("est_f2", 1).alias("est_f2"),
        (
            F.abs(F.col("est_f2") - F.col("exact_f2"))
            / F.col("exact_f2").cast("double")
            <= _AMS_TOL
        ).alias("within_tol"),
    )


_SQL_AMS_F2_MOMENT_BOUNDED = f"""
WITH tagged AS (
  SELECT user_id, j
  FROM events CROSS JOIN (SELECT unnest(generate_series(0, {_AMS_K - 1})) AS j)
), signed AS (
  SELECT j,
         CASE WHEN CAST('0x' || substr(
                md5(CAST(user_id AS VARCHAR) || '|' || CAST(j AS VARCHAR)),
                1, 15) AS BIGINT) % 2 = 1
              THEN 1 ELSE -1 END AS s
  FROM tagged
), sums AS (
  SELECT j, CAST(sum(s) AS DOUBLE) AS z FROM signed GROUP BY j
), est AS (
  SELECT median(z * z) AS est_f2 FROM sums
), exact AS (
  SELECT CAST(sum(c * c) AS BIGINT) AS exact_f2
  FROM (SELECT count(*) AS c FROM events GROUP BY user_id)
)
SELECT exact_f2, round(est_f2, 1) AS est_f2,
       abs(est_f2 - exact_f2) / CAST(exact_f2 AS DOUBLE) <= {_AMS_TOL}
         AS within_tol
FROM exact CROSS JOIN est
"""


# --------------------------------------------------------------------------
# denormalize_orders_nested
# --------------------------------------------------------------------------


def _q_denormalize_orders_nested(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    item = F.concat_ws(
        ":",
        F.col("l_partkey").cast("string"),
        F.col("l_quantity").cast("int").cast("string"),
    )
    return (
        li.select("l_orderkey", "l_linenumber", item.alias("item"), "l_quantity")
        .groupBy("l_orderkey")
        .agg(
            F.array_sort(F.collect_list(F.struct("l_linenumber", "item"))).alias(
                "_st"
            ),
            F.count(F.lit(1)).alias("n_items"),
            F.sum(F.col("l_quantity").cast("int")).alias("total_qty"),
        )
        .select(
            "l_orderkey",
            F.transform(F.col("_st"), lambda s: s["item"]).alias("items"),
            "n_items",
            "total_qty",
        )
    )


_SQL_DENORMALIZE_ORDERS_NESTED = """
SELECT l_orderkey,
       list(l_partkey || ':' || CAST(CAST(l_quantity AS INT) AS VARCHAR)
            ORDER BY l_linenumber,
                     l_partkey || ':' || CAST(CAST(l_quantity AS INT) AS VARCHAR))
         AS items,
       count(*) AS n_items,
       CAST(sum(CAST(l_quantity AS INT)) AS BIGINT) AS total_qty
FROM lineitem
GROUP BY l_orderkey
"""


SPECS: dict[str, QuerySpec] = {
    "gbdt_stump_steps_exact": QuerySpec(
        _q_gbdt_stump_steps_exact,
        _SQL_GBDT_STUMP_STEPS_EXACT,
        "two unrolled gradient-boosting rounds (squared loss, depth-1 "
        "stumps over the bounded quantity histogram)",
    ),
    "kfold_auc_fixed_scorer": QuerySpec(
        _q_kfold_auc_fixed_scorer,
        _SQL_KFOLD_AUC_FIXED_SCORER,
        "deterministic 5-fold CV: per-fold exact ROC-AUC of the fixed "
        "hyperplane scorer, fold-partitioned rank sums",
    ),
    "feature_hashing_vectorize": QuerySpec(
        _q_feature_hashing_vectorize,
        _SQL_FEATURE_HASHING_VECTORIZE,
        "hashing-trick vectorizer: signed md5 buckets, per-doc signed "
        "counts, vocabulary never materialized",
    ),
    "int8_quantization_audit": QuerySpec(
        _q_int8_quantization_audit,
        _SQL_INT8_QUANTIZATION_AUDIT,
        "scalar int8 embedding compression audit: per-dim affine "
        "quantize/dequantize, per-vector reconstruction MSE",
    ),
    "join_cardinality_audit": QuerySpec(
        _q_join_cardinality_audit,
        _SQL_JOIN_CARDINALITY_AUDIT,
        "containment-assumption join size estimate vs actual join "
        "count, per star-schema join",
    ),
    "ams_f2_moment_bounded": QuerySpec(
        _q_ams_f2_moment_bounded,
        _SQL_AMS_F2_MOMENT_BOUNDED,
        "AMS tug-of-war F2 sketch (16 md5 estimators, median) vs exact "
        "second moment, tolerance pinned by the oracle",
    ),
    "denormalize_orders_nested": QuerySpec(
        _q_denormalize_orders_nested,
        _SQL_DENORMALIZE_ORDERS_NESTED,
        "nested denormalization: each order with its line-number-sorted "
        "item array (document-store export shape)",
    ),
}
