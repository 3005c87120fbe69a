"""Round-7 ops pack — representation similarity, bidirectional as-of,
and the Spark 4 SQL-UDF surface.

* ``linear_cka_dim_halves`` — linear Centered Kernel Alignment (CKA,
  Kornblith et al. 2019) between two 8-dim slices of the embedding
  space (dims 1–8 vs 33–40): CKA = ||Cxy||²F / (||Cxx||F·||Cyy||F)
  over centered cross-covariances.  The representation-similarity
  primitive behind "are these two embedding subspaces redundant" —
  complements ``embedding_covariance_cells`` (raw cells) and
  ``jl_projection_audit`` (distance preservation).  Embedding elements
  are quantized to integer 1e-6 units first, so every moment is an
  exact integer and C(i,j) = n·Σxy − Σx·Σy is exact in both engines
  (the float-sum ORDER would otherwise differ cross-engine).
* ``asof_nearest_event`` — BIDIRECTIONAL as-of: for each purchase,
  the nearest click by the same user in EITHER direction (backward tie
  wins), via running max/min over the user's interleaved event stream
  — two partitioned window scans, no range join, no explosion.
  Extends the backward-only ``asof_last_purchase``; Spark has no
  native as-of join, and this is the composition that closes the gap.
* ``sql_udf_margin_rollup`` — the Spark 4 SQL scalar UDF surface
  (CREATE OR REPLACE TEMPORARY FUNCTION … RETURNS … RETURN expr):
  a line-margin UDF computed in exact integer micro-dollars
  (cents × (100−disc%) × (100+tax%)), rolled up per return flag.  The
  oracle inlines the identical expression — proving the UDF is pure
  relational surface, not a black box (same policy as
  ``pipe_sql_segment_rollup`` / ``udtf_chunk_windows``).

100 TB shape: CKA is one explode bounded by the FIXED 16-dim slice
(16n rows) + a per-vector self-join bounded by 16² pairs per vector +
one 256-group hash agg; the as-of is two window passes partitioned by
user; the UDF rollup is a single scan with map-side partial agg — the
UDF body inlines into codegen (asserted by the oracle equivalence).

No reference counterpart; engine-infrastructure extensions alongside
plans/round6_embed3.py and plans/round6_spark4.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.tables import load_table
from . import QuerySpec

# --------------------------------------------------------------------------
# linear_cka_dim_halves
# --------------------------------------------------------------------------

_CKA_X = tuple(range(1, 9))  # 1-based dims of slice X
_CKA_Y = tuple(range(33, 41))  # 1-based dims of slice Y


def _q_linear_cka_dim_halves(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    dims = _CKA_X + _CKA_Y
    elems = (
        emb.select("vec_id", F.posexplode("embedding").alias("pos", "x"))
        .where((F.col("pos") + 1).isin(*dims))
        .select(
            "vec_id",
            (F.col("pos") + 1).alias("d"),
            F.floor(F.col("x").cast("double") * 1e6 + 0.5)
            .cast("bigint")
            .alias("e6"),
        )
    )
    per_dim = elems.groupBy("d").agg(
        F.count(F.lit(1)).alias("n"), F.sum("e6").alias("s")
    )
    pairs = (
        elems.alias("a")
        .join(elems.alias("b"), "vec_id")
        .groupBy(F.col("a.d").alias("d1"), F.col("b.d").alias("d2"))
        .agg(
            F.sum(
                F.col("a.e6").cast("decimal(19,0)")
                * F.col("b.e6").cast("decimal(19,0)")
            ).alias("sxy")
        )
    )
    cov = (
        pairs.join(
            per_dim.select(F.col("d").alias("d1"), F.col("n"), F.col("s").alias("s1")),
            "d1",
        )
        .join(per_dim.select(F.col("d").alias("d2"), F.col("s").alias("s2")), "d2")
        .select(
            "d1",
            "d2",
            (
                F.col("n").cast("decimal(19,0)") * F.col("sxy").cast("decimal(38,0)")
                - F.col("s1").cast("decimal(19,0)") * F.col("s2").cast("decimal(19,0)")
            ).alias("c"),
        )
    )
    in_x = lambda c: c.isin(*_CKA_X)  # noqa: E731
    fro = cov.agg(
        F.sum(
            F.when(
                in_x(F.col("d1")) & ~in_x(F.col("d2")),
                (F.col("c") / F.lit(10**12)) * (F.col("c") / F.lit(10**12)),
            )
        ).alias("fxy"),
        F.sum(
            F.when(
                in_x(F.col("d1")) & in_x(F.col("d2")),
                (F.col("c") / F.lit(10**12)) * (F.col("c") / F.lit(10**12)),
            )
        ).alias("fxx"),
        F.sum(
            F.when(
                ~in_x(F.col("d1")) & ~in_x(F.col("d2")),
                (F.col("c") / F.lit(10**12)) * (F.col("c") / F.lit(10**12)),
            )
        ).alias("fyy"),
    )
    return fro.select(
        F.round(
            F.col("fxy").cast("double")
            / F.sqrt(F.col("fxx").cast("double") * F.col("fyy").cast("double")),
            6,
        ).alias("linear_cka"),
        F.round(F.sqrt(F.col("fxy").cast("double")), 6).alias("fro_cxy"),
        F.round(F.sqrt(F.col("fxx").cast("double")), 6).alias("fro_cxx"),
        F.round(F.sqrt(F.col("fyy").cast("double")), 6).alias("fro_cyy"),
    )


_CKA_DIMS_SQL = ", ".join(str(d) for d in (_CKA_X + _CKA_Y))
_CKA_X_SQL = ", ".join(str(d) for d in _CKA_X)

_SQL_LINEAR_CKA_DIM_HALVES = f"""
WITH elems AS (
  SELECT vec_id, i AS d,
         CAST(floor(CAST(embedding[i] AS DOUBLE) * 1e6 + 0.5) AS BIGINT) AS e6
  FROM embeddings, UNNEST([{_CKA_DIMS_SQL}]) AS u(i)
), per_dim AS (
  SELECT d, count(*) AS n, sum(e6) AS s FROM elems GROUP BY d
), pairs AS (
  SELECT a.d AS d1, b.d AS d2, sum(CAST(a.e6 AS HUGEINT) * b.e6) AS sxy
  FROM elems a JOIN elems b USING (vec_id)
  GROUP BY 1, 2
), cov AS (
  SELECT p.d1, p.d2,
         CAST(pd1.n AS HUGEINT) * p.sxy
         - CAST(pd1.s AS HUGEINT) * pd2.s AS c
  FROM pairs p
  JOIN per_dim pd1 ON p.d1 = pd1.d
  JOIN per_dim pd2 ON p.d2 = pd2.d
), fro AS (
  SELECT sum(CASE WHEN d1 IN ({_CKA_X_SQL}) AND d2 NOT IN ({_CKA_X_SQL})
                  THEN (CAST(c AS DOUBLE) / 1e12) * (CAST(c AS DOUBLE) / 1e12)
             END) AS fxy,
         sum(CASE WHEN d1 IN ({_CKA_X_SQL}) AND d2 IN ({_CKA_X_SQL})
                  THEN (CAST(c AS DOUBLE) / 1e12) * (CAST(c AS DOUBLE) / 1e12)
             END) AS fxx,
         sum(CASE WHEN d1 NOT IN ({_CKA_X_SQL}) AND d2 NOT IN ({_CKA_X_SQL})
                  THEN (CAST(c AS DOUBLE) / 1e12) * (CAST(c AS DOUBLE) / 1e12)
             END) AS fyy
  FROM cov
)
SELECT round(fxy / sqrt(fxx * fyy), 6) AS linear_cka,
       round(sqrt(fxy), 6) AS fro_cxy,
       round(sqrt(fxx), 6) AS fro_cxx,
       round(sqrt(fyy), 6) AS fro_cyy
FROM fro
"""


# --------------------------------------------------------------------------
# asof_nearest_event
# --------------------------------------------------------------------------

_ASOF_TOPK = 20


def _q_asof_nearest_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_type").isin("click", "purchase")
    ).select(
        "event_id",
        "user_id",
        "event_type",
        F.unix_micros("ts").alias("us"),
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    click_us = F.when(F.col("event_type") == "click", F.col("us"))
    staged = ev.withColumn(
        "back_us",
        F.max(click_us).over(w.rowsBetween(Window.unboundedPreceding, 0)),
    ).withColumn(
        "fwd_us",
        F.min(click_us).over(w.rowsBetween(0, Window.unboundedFollowing)),
    )
    purch = staged.where(F.col("event_type") == "purchase").select(
        "event_id",
        "user_id",
        (F.col("us") - F.col("back_us")).alias("gap_back"),
        (F.col("fwd_us") - F.col("us")).alias("gap_fwd"),
    )
    direction = (
        F.when(F.col("gap_back").isNull() & F.col("gap_fwd").isNull(), "none")
        .when(
            F.col("gap_fwd").isNull()
            | (F.col("gap_back").isNotNull() & (F.col("gap_back") <= F.col("gap_fwd"))),
            "backward",
        )
        .otherwise("forward")
    )
    out = purch.select(
        "event_id",
        "user_id",
        direction.alias("direction"),
        F.least(
            F.coalesce("gap_back", F.lit(2**62)),
            F.coalesce("gap_fwd", F.lit(2**62)),
        ).alias("gap_us"),
    ).where(F.col("direction") != "none")
    return out.orderBy(F.asc("gap_us"), F.asc("event_id")).limit(_ASOF_TOPK)


_SQL_ASOF_NEAREST_EVENT = f"""
WITH ev AS (
  SELECT event_id, user_id, event_type, epoch_us(ts) AS us
  FROM events WHERE event_type IN ('click', 'purchase')
), staged AS (
  SELECT *,
         max(CASE WHEN event_type = 'click' THEN us END)
           OVER (PARTITION BY user_id ORDER BY us, event_id
                 ROWS UNBOUNDED PRECEDING) AS back_us,
         min(CASE WHEN event_type = 'click' THEN us END)
           OVER (PARTITION BY user_id ORDER BY us, event_id
                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS fwd_us
  FROM ev
), purch AS (
  SELECT event_id, user_id,
         us - back_us AS gap_back, fwd_us - us AS gap_fwd
  FROM staged WHERE event_type = 'purchase'
), labeled AS (
  SELECT event_id, user_id,
         CASE WHEN gap_back IS NULL AND gap_fwd IS NULL THEN 'none'
              WHEN gap_fwd IS NULL
                   OR (gap_back IS NOT NULL AND gap_back <= gap_fwd)
                THEN 'backward'
              ELSE 'forward' END AS direction,
         least(coalesce(gap_back, {2**62}), coalesce(gap_fwd, {2**62}))
           AS gap_us
  FROM purch
)
SELECT event_id, user_id, direction, gap_us
FROM labeled WHERE direction <> 'none'
ORDER BY gap_us ASC, event_id ASC
LIMIT {_ASOF_TOPK}
"""


# --------------------------------------------------------------------------
# sql_udf_margin_rollup
# --------------------------------------------------------------------------


def _q_sql_udf_margin_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 SQL scalar UDF (CREATE … RETURNS … RETURN expr) computing
    per-line margin in exact integer micro-dollars; the rollup groups by
    return flag.  Reference: the UDF body is pure SQL, so Catalyst
    inlines it — the DuckDB oracle runs the inlined expression and the
    hash match proves the equivalence."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "lineitem_r7_udf"
    )
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION line_margin_micros(
            ep DOUBLE, disc DOUBLE, tax DOUBLE)
        RETURNS BIGINT
        RETURN CAST(round(ep * 100, 0) AS BIGINT)
               * CAST(round((1 - disc) * 100, 0) AS BIGINT)
               * CAST(round((1 + tax) * 100, 0) AS BIGINT)
        """
    )
    return spark.sql(
        """
        SELECT l_returnflag,
               count(*) AS n_lines,
               round(CAST(sum(CAST(line_margin_micros(
                         l_extendedprice, l_discount, l_tax)
                       AS DECIMAL(38,0))) AS DOUBLE) / 1e6, 6) AS margin
        FROM lineitem_r7_udf
        GROUP BY l_returnflag
        ORDER BY l_returnflag
        """
    )


_SQL_SQL_UDF_MARGIN_ROLLUP = """
SELECT l_returnflag,
       CAST(count(*) AS BIGINT) AS n_lines,
       round(CAST(sum(CAST(round(l_extendedprice * 100, 0) AS HUGEINT)
                      * CAST(round((1 - l_discount) * 100, 0) AS BIGINT)
                      * CAST(round((1 + l_tax) * 100, 0) AS BIGINT))
                  AS DOUBLE) / 1e6, 6) AS margin
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


SPECS: dict[str, QuerySpec] = {
    "linear_cka_dim_halves": QuerySpec(
        _q_linear_cka_dim_halves,
        _SQL_LINEAR_CKA_DIM_HALVES,
        "linear CKA between two 8-dim embedding slices from exact "
        "quantized-integer moments (Kornblith 2019)",
    ),
    "asof_nearest_event": QuerySpec(
        _q_asof_nearest_event,
        _SQL_ASOF_NEAREST_EVENT,
        "bidirectional as-of: nearest same-user click per purchase in "
        "either direction via two partitioned window scans",
    ),
    "sql_udf_margin_rollup": QuerySpec(
        _q_sql_udf_margin_rollup,
        _SQL_SQL_UDF_MARGIN_ROLLUP,
        "Spark 4 SQL scalar UDF (exact integer micro-dollar margin) "
        "rolled up per return flag; oracle inlines the identical body",
    ),
}
