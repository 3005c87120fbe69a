"""Round-7 layout pack — Hilbert-curve clustering, completing the
physical-design family (natural / Z-order / Hilbert).

``hilbert_zone_pruning_audit`` re-runs round-5's zone-map pruning
measurement (``zone_map_pruning_audit``: 100 equal-row zones, per-zone
min/max band stats, zones an engine must scan for a fixed 2-D band
predicate) under THREE sort orders — natural, Morton/Z-order, and the
Hilbert curve — so the engine measures what the better curve buys.
Hilbert never makes the long diagonal jumps Z-order makes at quadrant
boundaries, so its zone bounding boxes are tighter and fewer zones
intersect a 2-D range; this query quantifies exactly that on real
data.

The Hilbert index is the standard xy2d transform (the quadrant-
rotation form; validated against the unit-adjacency property — every
consecutive pair of curve positions is one grid step apart — in
tests/test_plans.py): 8 unrolled stages of pure integer CASE/XOR
arithmetic per row, identical in both engines, materialized column-by-
column per stage (the repo's array-staging discipline — a single
nested expression would grow 3^8 nodes).

100 TB shape: banding is one 1-row bounds broadcast + integer div;
each stage is a map-only projection; zone assignment is the two-phase
``global_row_number``; everything after is a 300-row zone-stats agg.
The audit is the decision input for a CLUSTER BY choice before
rewriting petabytes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.vectors import zorder_value
from ..operators.prefix_sum import global_row_number
from ..sources.tables import load_table
from . import QuerySpec

_BITS = 8
_N = 1 << _BITS  # 256-band grid per dimension
_N_ZONES = 100
_CK_LO, _CK_HI = 96, 127
_DT_LO, _DT_HI = 96, 127
_EPOCH = "1995-01-01"

#: stage sizes for the unrolled xy2d loop
_STAGES = [1 << i for i in range(_BITS - 1, -1, -1)]


def hilbert_stages(df: DataFrame, x_col: str, y_col: str, out_col: str) -> DataFrame:
    """Append ``out_col`` = Hilbert curve position of (x_col, y_col) on
    the 2^_BITS grid via 8 unrolled rotation stages (one select per
    stage so each intermediate is a real column)."""
    out = df.select("*", F.col(x_col).alias("_hx"), F.col(y_col).alias("_hy"),
                    F.lit(0).cast("bigint").alias("_hd"))
    for s in _STAGES:
        rx = F.when(F.col("_hx").bitwiseAND(F.lit(s)) > 0, F.lit(1)).otherwise(
            F.lit(0)
        )
        ry = F.when(F.col("_hy").bitwiseAND(F.lit(s)) > 0, F.lit(1)).otherwise(
            F.lit(0)
        )
        d2 = F.col("_hd") + F.lit(s * s) * (rx * 3).bitwiseXOR(ry)
        # ry=0, rx=1: reflect both in the full grid, then swap;
        # ry=0, rx=0: swap only; ry=1: unchanged
        nx = (
            F.when((ry == 0) & (rx == 1), F.lit(_N - 1) - F.col("_hy"))
            .when(ry == 0, F.col("_hy"))
            .otherwise(F.col("_hx"))
        )
        ny = (
            F.when((ry == 0) & (rx == 1), F.lit(_N - 1) - F.col("_hx"))
            .when(ry == 0, F.col("_hx"))
            .otherwise(F.col("_hy"))
        )
        keep = [c for c in out.columns if c not in ("_hx", "_hy", "_hd")]
        out = out.select(
            *keep, nx.alias("_hx"), ny.alias("_hy"), d2.alias("_hd")
        )
    return out.withColumnRenamed("_hd", out_col).drop("_hx", "_hy")


def _hilbert_sql_ctes(src: str) -> str:
    """Chained CTEs h0..h7 replaying hilbert_stages over ``src`` (must
    expose ck_band, dt_band); final CTE ``hil`` adds column hd."""
    ctes = [
        f"h0 AS (SELECT *, ck_band AS hx, dt_band AS hy,"
        f" CAST(0 AS BIGINT) AS hd FROM {src})"
    ]
    prev = "h0"
    for idx, s in enumerate(_STAGES, start=1):
        # two CTEs per stage so the new hx/hy aliases can never shadow
        # the old values the distance increment reads
        ctes.append(
            f"""a{idx} AS (
  SELECT * EXCLUDE (hx, hy, hd), hx AS ox, hy AS oy,
         hd + {s * s} * xor(3 * (CASE WHEN (hx & {s}) > 0 THEN 1 ELSE 0 END),
                            CASE WHEN (hy & {s}) > 0 THEN 1 ELSE 0 END) AS hd
  FROM {prev}
), h{idx} AS (
  SELECT * EXCLUDE (ox, oy),
         CASE WHEN (oy & {s}) = 0 AND (ox & {s}) > 0 THEN {_N - 1} - oy
              WHEN (oy & {s}) = 0 THEN oy
              ELSE ox END AS hx,
         CASE WHEN (oy & {s}) = 0 AND (ox & {s}) > 0 THEN {_N - 1} - ox
              WHEN (oy & {s}) = 0 THEN ox
              ELSE oy END AS hy
  FROM a{idx}
)"""
        )
        prev = f"h{idx}"
    ctes.append(f"hil AS (SELECT * EXCLUDE (hx, hy) FROM {prev})")
    return ",\n".join(ctes)


def _q_hilbert_zone_pruning_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.datediff(F.col("o_orderdate"), F.lit(_EPOCH)).cast("bigint").alias("day"),
    )
    bounds = orders.agg(
        F.min("o_custkey").alias("mn_ck"),
        (F.max("o_custkey") - F.min("o_custkey") + 1).alias("rng_ck"),
        F.min("day").alias("mn_dt"),
        (F.max("day") - F.min("day") + 1).alias("rng_dt"),
    )
    banded = orders.crossJoin(F.broadcast(bounds)).select(
        "o_orderkey",
        F.expr(f"(o_custkey - mn_ck) * {_N} div rng_ck").alias("ck_band"),
        F.expr(f"(day - mn_dt) * {_N} div rng_dt").alias("dt_band"),
    )
    keyed = hilbert_stages(banded, "ck_band", "dt_band", "hil").withColumn(
        "z", zorder_value(F.col("ck_band"), F.col("dt_band"), bits=_BITS)
    )
    pred = (
        F.col("ck_band").between(_CK_LO, _CK_HI)
        & F.col("dt_band").between(_DT_LO, _DT_HI)
    ).cast("int")

    def zoned(order_exprs, layout: str) -> DataFrame:
        rn = global_row_number(keyed, order_exprs, out_col="rn", n_col="n")
        return rn.select(
            F.lit(layout).alias("layout"),
            F.expr(f"(rn - 1) * {_N_ZONES} div n").alias("zone"),
            "ck_band",
            "dt_band",
            pred.alias("hit"),
        )

    all3 = (
        zoned([F.asc("o_orderkey")], "natural")
        .unionByName(zoned([F.asc("z"), F.asc("o_orderkey")], "zorder"))
        .unionByName(zoned([F.asc("hil"), F.asc("o_orderkey")], "hilbert"))
    )
    zones = all3.groupBy("layout", "zone").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("ck_band").alias("mn_ck"),
        F.max("ck_band").alias("mx_ck"),
        F.min("dt_band").alias("mn_dt"),
        F.max("dt_band").alias("mx_dt"),
        F.sum("hit").alias("n_hit"),
    )
    scanned = (
        (F.col("mx_ck") >= _CK_LO)
        & (F.col("mn_ck") <= _CK_HI)
        & (F.col("mx_dt") >= _DT_LO)
        & (F.col("mn_dt") <= _DT_HI)
    ).cast("int")
    return (
        zones.groupBy("layout")
        .agg(
            F.count(F.lit(1)).alias("zones_total"),
            F.sum(scanned).alias("zones_scanned"),
            F.sum(scanned * F.col("n")).alias("rows_scanned"),
            F.sum("n_hit").alias("rows_matched"),
        )
        .orderBy("layout")
    )


_SQL_HILBERT_ZONE_PRUNING_AUDIT = f"""
WITH src AS (
  SELECT o_orderkey, o_custkey,
         date_diff('day', DATE '{_EPOCH}', CAST(o_orderdate AS DATE)) AS day
  FROM orders
), bounds AS (
  SELECT min(o_custkey) AS mn_ck, max(o_custkey) - min(o_custkey) + 1 AS rng_ck,
         min(day) AS mn_dt, max(day) - min(day) + 1 AS rng_dt
  FROM src
), banded AS (
  SELECT o_orderkey,
         (o_custkey - mn_ck) * {_N} // rng_ck AS ck_band,
         (day - mn_dt) * {_N} // rng_dt AS dt_band
  FROM src CROSS JOIN bounds
),
{_hilbert_sql_ctes("banded")},
zed AS (
  SELECT *, {' + '.join(
    f"(((ck_band >> {i}) & 1) << {2 * i}) + (((dt_band >> {i}) & 1) << {2 * i + 1})"
    for i in range(_BITS))} AS z
  FROM hil
), ranked AS (
  SELECT 'natural' AS layout,
         (row_number() OVER (ORDER BY o_orderkey) - 1) * {_N_ZONES}
           // (count(*) OVER ()) AS zone,
         ck_band, dt_band
  FROM zed
  UNION ALL
  SELECT 'zorder' AS layout,
         (row_number() OVER (ORDER BY z, o_orderkey) - 1) * {_N_ZONES}
           // (count(*) OVER ()) AS zone,
         ck_band, dt_band
  FROM zed
  UNION ALL
  SELECT 'hilbert' AS layout,
         (row_number() OVER (ORDER BY hd, o_orderkey) - 1) * {_N_ZONES}
           // (count(*) OVER ()) AS zone,
         ck_band, dt_band
  FROM zed
), zones AS (
  SELECT layout, zone, count(*) AS n,
         min(ck_band) AS mn_ck, max(ck_band) AS mx_ck,
         min(dt_band) AS mn_dt, max(dt_band) AS mx_dt,
         sum(CASE WHEN ck_band BETWEEN {_CK_LO} AND {_CK_HI}
                   AND dt_band BETWEEN {_DT_LO} AND {_DT_HI}
                  THEN 1 ELSE 0 END) AS n_hit
  FROM ranked GROUP BY 1, 2
)
SELECT layout,
       CAST(count(*) AS BIGINT) AS zones_total,
       CAST(sum(CASE WHEN mx_ck >= {_CK_LO} AND mn_ck <= {_CK_HI}
                      AND mx_dt >= {_DT_LO} AND mn_dt <= {_DT_HI}
                     THEN 1 ELSE 0 END) AS BIGINT) AS zones_scanned,
       CAST(sum(CASE WHEN mx_ck >= {_CK_LO} AND mn_ck <= {_CK_HI}
                      AND mx_dt >= {_DT_LO} AND mn_dt <= {_DT_HI}
                     THEN n ELSE 0 END) AS BIGINT) AS rows_scanned,
       CAST(sum(n_hit) AS BIGINT) AS rows_matched
FROM zones
GROUP BY layout
ORDER BY layout
"""


SPECS: dict[str, QuerySpec] = {
    "hilbert_zone_pruning_audit": QuerySpec(
        _q_hilbert_zone_pruning_audit,
        _SQL_HILBERT_ZONE_PRUNING_AUDIT,
        "zone-map pruning measured under natural vs Z-order vs Hilbert "
        "clustering (8-stage unrolled xy2d, adjacency property-tested); "
        "the CLUSTER BY decision input",
    ),
}
