"""Round-6 quantile/sampling pack — mergeable quantile sketches with an
error audit, and popularity-corrected negative sampling.

* ``quantile_merge_audit`` — the mergeable-summary pattern every
  distributed quantile service uses (t-digest / GK style), expressed
  exactly: values are sharded (16 hash shards), each shard builds a
  32-bin equi-depth summary (boundary values at evenly spaced local
  ranks — PARTITIONED windows only), and the merged 512-row sketch
  estimates P50/P95/P99 by cumulative-weight lookup.  The audit
  recomputes the EXACT quantiles via the two-phase global rank and pins
  estimate, exact, absolute/relative error, and a 5% tolerance verdict
  — the same estimate-vs-exact-in-one-plan contract as the ``*_bounded``
  sketch audits (plans/round5_ops.py).  At 100 TB only the 512-row
  sketch union ever meets a single task; shard summaries build
  shard-locally.  (The exact leg is the audit apparatus, not the scale
  path — production reads the merged sketch alone.)

* ``negative_sampling_popularity`` — recsys training-data op: for each
  panel user, the top-3 hardest negatives among parts they never
  bought, sampled by popularity^0.75 (the word2vec/recsys smoothing)
  through the deterministic Efraimidis–Spirakis key ln(u)/w (the
  ``weighted_sample_det`` recipe, round6_ops.py — md5-derived u,
  rounded key, ``+0.0`` negative-zero canonicalization).  The candidate
  space is panel×parts (10-row panel broadcast), minus purchases via
  left-anti join; per-user top-3 is a partitioned rank.

No reference counterpart; extends the sketch-audit and sampling
families.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.caching import tracked_cache
from ..operators.prefix_sum import global_row_number
from ..sources.tables import load_table
from . import QuerySpec

_TWO60_I = 1 << 60

# --------------------------------------------------------------------------
# quantile_merge_audit
# --------------------------------------------------------------------------

_QM_SHARDS = 16
_QM_BINS = 32
_QM_QS = (0.5, 0.95, 0.99)
_QM_TOL = 0.05


def _q_quantile_merge_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_extendedprice").alias("v"),
        (F.col("l_orderkey") % _QM_SHARDS).alias("shard"),
    )
    w = Window.partitionBy("shard").orderBy(
        F.asc("v"), F.asc("l_orderkey"), F.asc("l_linenumber")
    )
    ranked = li.select("shard", "v", F.row_number().over(w).alias("rn")).transform(
        tracked_cache
    )
    sizes = ranked.groupBy("shard").agg(F.max("rn").alias("n_s"))
    targets = sizes.select(
        "shard",
        "n_s",
        F.explode(F.sequence(F.lit(1), F.lit(_QM_BINS))).alias("i"),
    ).select(
        "shard",
        "n_s",
        "i",
        (
            F.floor((F.col("n_s") - 1) * F.col("i") / _QM_BINS) + 1
        ).cast("int").alias("trn"),
    )
    sketch = targets.join(
        ranked, (targets.shard == ranked.shard) & (targets.trn == ranked.rn)
    ).select(
        targets.shard.alias("shard"),
        "i",
        "v",
        (F.col("n_s") / F.lit(float(_QM_BINS))).alias("wgt"),
    )
    # bounded 512-row merged sketch: cumulative weight in value order
    # (global window over the sketch union — lint allowlist)
    cw = Window.orderBy(F.asc("v"), F.asc("shard"), F.asc("i")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    merged = sketch.select(
        "v", F.sum("wgt").over(cw).alias("cumw")
    ).transform(tracked_cache)
    n_tot = li.agg(F.count(F.lit(1)).alias("n"))
    qs = spark.createDataFrame([(q,) for q in _QM_QS], "q double")
    est = (
        merged.crossJoin(F.broadcast(qs.crossJoin(n_tot)))
        .where(F.col("cumw") >= F.col("q") * F.col("n"))
        .groupBy("q", "n")
        .agg(F.min("v").alias("est"))
    )
    ranked_g = global_row_number(
        li.select("v", "l_orderkey", "l_linenumber"),
        [F.asc("v"), F.asc("l_orderkey"), F.asc("l_linenumber")],
        out_col="grn",
        n_col="gn",
    )
    exact_targets = qs.crossJoin(F.broadcast(n_tot)).select(
        "q", F.ceil(F.col("q") * F.col("n")).cast("bigint").alias("trank")
    )
    exact = ranked_g.join(
        F.broadcast(exact_targets), F.col("grn") == F.col("trank")
    ).select("q", F.col("v").alias("exact"))
    out = est.join(exact, "q")
    abs_err = F.round(F.abs(F.col("est") - F.col("exact")), 6)
    rel_err = F.round(abs_err / F.col("exact"), 6)
    return out.select(
        F.round("q", 2).alias("q"),
        "n",
        F.round("est", 2).alias("est"),
        F.round("exact", 2).alias("exact"),
        abs_err.alias("abs_err"),
        rel_err.alias("rel_err"),
        (rel_err <= _QM_TOL).alias("within_tol"),
    )


_QS_SQL = ", ".join(str(q) for q in _QM_QS)

_SQL_QUANTILE_MERGE_AUDIT = f"""
WITH li AS (
  SELECT l_orderkey, l_linenumber, l_extendedprice AS v,
         l_orderkey % {_QM_SHARDS} AS shard
  FROM lineitem
), ranked AS (
  SELECT shard, v,
         row_number() OVER (PARTITION BY shard
                            ORDER BY v ASC, l_orderkey ASC, l_linenumber ASC)
           AS rn
  FROM li
), sizes AS (
  SELECT shard, max(rn) AS n_s FROM ranked GROUP BY shard
), targets AS (
  SELECT shard, n_s, i,
         CAST((n_s - 1) * i // {_QM_BINS} + 1 AS INT) AS trn
  FROM sizes, UNNEST(generate_series(1, {_QM_BINS})) AS u(i)
), sketch AS (
  SELECT t.shard, t.i, r.v, t.n_s / {float(_QM_BINS)!r} AS wgt
  FROM targets t JOIN ranked r ON t.shard = r.shard AND t.trn = r.rn
), merged AS (
  SELECT v,
         sum(wgt) OVER (ORDER BY v ASC, shard ASC, i ASC
                        ROWS UNBOUNDED PRECEDING) AS cumw
  FROM sketch
), n_tot AS (
  SELECT count(*) AS n FROM li
), qs AS (
  -- CAST: a bare list literal is DECIMAL in DuckDB, which would render
  -- q as "0.50" against Spark's double "0.5"
  SELECT CAST(unnest([{_QS_SQL}]) AS DOUBLE) AS q
), est AS (
  SELECT q, n, min(v) AS est
  FROM merged CROSS JOIN (SELECT q, n FROM qs CROSS JOIN n_tot)
  WHERE cumw >= q * n
  GROUP BY q, n
), ranked_g AS (
  SELECT v,
         row_number() OVER (ORDER BY v ASC, l_orderkey ASC, l_linenumber ASC)
           AS grn
  FROM li
), exact AS (
  SELECT q, v AS exact
  FROM ranked_g
  JOIN (SELECT q, CAST(ceil(q * n) AS BIGINT) AS trank
        FROM qs CROSS JOIN n_tot) t
    ON grn = trank
)
SELECT round(e.q, 2) AS q, CAST(s.n AS BIGINT) AS n,
       round(s.est, 2) AS est, round(e.exact, 2) AS exact,
       round(abs(s.est - e.exact), 6) AS abs_err,
       round(round(abs(s.est - e.exact), 6) / e.exact, 6) AS rel_err,
       round(round(abs(s.est - e.exact), 6) / e.exact, 6) <= {_QM_TOL}
         AS within_tol
FROM est s JOIN exact e USING (q)
"""


# --------------------------------------------------------------------------
# negative_sampling_popularity
# --------------------------------------------------------------------------

_NS_PANEL = 10
_NS_K = 3
_NS_SMOOTH = 0.75


def _q_negative_sampling_popularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    pop = li.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("pop"))
    panel = (
        orders.where(F.col("o_custkey") < _NS_PANEL)
        .select(F.col("o_custkey").alias("cust"))
        .dropDuplicates()
    )
    purchased = (
        orders.where(F.col("o_custkey") < _NS_PANEL)
        .join(li, orders.o_orderkey == li.l_orderkey)
        .select(F.col("o_custkey").alias("cust"), "l_partkey")
        .dropDuplicates()
    )
    cand = pop.crossJoin(F.broadcast(panel)).join(
        purchased, ["cust", "l_partkey"], "left_anti"
    )
    u = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "_",
                        F.col("cust").cast("string"),
                        F.col("l_partkey").cast("string"),
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("double")
        / F.lit(float(_TWO60_I))
    )
    wgt = F.pow(F.col("pop").cast("double"), _NS_SMOOTH)
    scored = cand.select(
        "cust",
        "l_partkey",
        "pop",
        (F.round(F.log(u + F.lit(1e-18)) / wgt, 9) + F.lit(0.0)).alias("es_key"),
    )
    pw = Window.partitionBy("cust").orderBy(
        F.desc("es_key"), F.asc("l_partkey")
    )
    return (
        scored.withColumn("rk", F.row_number().over(pw))
        .where(F.col("rk") <= _NS_K)
        .select("cust", "rk", "l_partkey", "pop", "es_key")
    )


_SQL_NEGATIVE_SAMPLING_POPULARITY = f"""
WITH pop AS (
  SELECT l_partkey, count(*) AS pop FROM lineitem GROUP BY l_partkey
), panel AS (
  SELECT DISTINCT o_custkey AS cust FROM orders WHERE o_custkey < {_NS_PANEL}
), purchased AS (
  SELECT DISTINCT o.o_custkey AS cust, l.l_partkey
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
  WHERE o.o_custkey < {_NS_PANEL}
), cand AS (
  SELECT p.cust, pp.l_partkey, pp.pop
  FROM pop pp CROSS JOIN panel p
  WHERE NOT EXISTS (SELECT 1 FROM purchased pu
                    WHERE pu.cust = p.cust AND pu.l_partkey = pp.l_partkey)
), scored AS (
  SELECT cust, l_partkey, CAST(pop AS BIGINT) AS pop,
         round(
           ln(CAST('0x' || substr(md5(CAST(cust AS VARCHAR) || '_' ||
                                      CAST(l_partkey AS VARCHAR)), 1, 15)
                   AS BIGINT) / {float(_TWO60_I)!r} + 1e-18)
           / pow(CAST(pop AS DOUBLE), {_NS_SMOOTH}), 9) + 0.0 AS es_key
  FROM cand
)
SELECT cust, rk, l_partkey, pop, es_key FROM (
  SELECT *, row_number() OVER (PARTITION BY cust
                               ORDER BY es_key DESC, l_partkey ASC) AS rk
  FROM scored
) WHERE rk <= {_NS_K}
"""


SPECS: dict[str, QuerySpec] = {
    "quantile_merge_audit": QuerySpec(
        _q_quantile_merge_audit,
        _SQL_QUANTILE_MERGE_AUDIT,
        "mergeable 16-shard x 32-bin equi-depth quantile sketch vs "
        "exact two-phase ranks: P50/P95/P99 with error bounds",
    ),
    "negative_sampling_popularity": QuerySpec(
        _q_negative_sampling_popularity,
        _SQL_NEGATIVE_SAMPLING_POPULARITY,
        "popularity^0.75 deterministic negative sampling (A-ES keys): "
        "top-3 unpurchased parts per panel user",
    ),
}
