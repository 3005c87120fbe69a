"""Round-5 data-layout pack: the physical-design diagnostics that decide
whether a 100 TB table is scanned or skipped.

At cluster scale the fastest query is the one that never reads the
file: parquet row-group min/max zone maps, Z-order clustering, and
Bloom-filter semi-join pruning are the three levers.  This pack
implements each lever's *math* as an exact-oracle relational plan, so
the engine can measure — not guess — what a layout change buys before
rewriting petabytes:

* ``zorder_locality_buckets`` — the 2-D Morton (Z-order) key over
  (customer band, order-date band), 8 bits each, built from pure
  integer bit-interleaving (identical ``&``/``<<`` arithmetic in both
  engines).  Output: per top-6-bit curve segment, the row count and
  the band bounding box — small boxes = the locality that makes
  min/max pruning work on BOTH filter columns at once.
* ``zone_map_pruning_audit`` — the payoff measurement: split the table
  into 100 equal-row zones under (a) its natural o_orderkey order and
  (b) Z-order, compute each zone's min/max band stats (exactly what a
  parquet footer stores), and count zones + rows an engine must scan
  for a fixed 2-D band predicate.  Two-phase ``global_row_number``
  supplies the zone assignment — no single-partition window.
* ``bloom_semi_join_audit`` — a Bloom filter built *relationally*
  (m=16384 bits, k=3 multiply-shift hashes) over the orders-side join
  keys, probed by every customer: members / passes / false positives,
  measured FP rate, and the (1−e^{−kn/m})^k theory bound it must sit
  near.  The filter is a ≤m-row frame — the broadcastable semi-join
  prefilter that saves shuffling the big side at scale.
* ``clustering_depth_by_column`` — which column is the table
  *effectively* sorted by: per natural-order zone, min/max width of
  o_orderkey / o_custkey / o_totalprice as a fraction of the global
  range, averaged.  ~0 ⇒ zone maps prune point queries on that column;
  ~1 ⇒ every zone overlaps every value and pruning is useless.

Scale notes: every plan is scan + hash-agg + bounded-frame joins; the
zone audits move one BIGINT rank per row through the two-phase prefix
primitive; the Bloom bit-set and all bounds frames are broadcast-sized
by construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.vectors import zorder_value
from ..operators.caching import tracked_cache
from ..operators.prefix_sum import global_row_number
from ..sources.tables import load_table
from . import QuerySpec

_BITS = 8  # band resolution: 256 bands per dimension
_N_ZONES = 100
_CK_LO, _CK_HI = 96, 127  # 2-D band predicate: middle 1/8 x 1/8
_DT_LO, _DT_HI = 96, 127
_EPOCH = "1995-01-01"  # orders span 1995-2001 (TESTDATA)


def _banded_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders + (ck_band, dt_band, z) — integer band + Morton key.

    Bands use integer `div` against a min/max bounds frame (1-row
    broadcast) so any scale factor maps onto the same 256-band grid.
    """
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.datediff(F.col("o_orderdate"), F.lit(_EPOCH)).cast("bigint").alias("day"),
        "o_totalprice",
    )
    bounds = orders.agg(
        F.min("o_custkey").alias("mn_ck"),
        (F.max("o_custkey") - F.min("o_custkey") + 1).alias("rng_ck"),
        F.min("day").alias("mn_dt"),
        (F.max("day") - F.min("day") + 1).alias("rng_dt"),
    )
    b = orders.crossJoin(F.broadcast(bounds)).select(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        F.expr(f"(o_custkey - mn_ck) * {1 << _BITS} div rng_ck").alias("ck_band"),
        F.expr(f"(day - mn_dt) * {1 << _BITS} div rng_dt").alias("dt_band"),
    )
    return b.withColumn(
        "z", zorder_value(F.col("ck_band"), F.col("dt_band"), bits=_BITS)
    )


_SQL_BANDED = f"""
WITH src AS (
  SELECT o_orderkey, o_custkey,
         date_diff('day', DATE '{_EPOCH}', o_orderdate) AS day, o_totalprice
  FROM orders
), bounds AS (
  SELECT min(o_custkey) AS mn_ck, max(o_custkey) - min(o_custkey) + 1 AS rng_ck,
         min(day) AS mn_dt, max(day) - min(day) + 1 AS rng_dt
  FROM src
), banded AS (
  SELECT o_orderkey, o_custkey, o_totalprice,
         (o_custkey - mn_ck) * {1 << _BITS} // rng_ck AS ck_band,
         (day - mn_dt) * {1 << _BITS} // rng_dt AS dt_band
  FROM src CROSS JOIN bounds
), zed AS (
  SELECT *, {' + '.join(
    f"(((ck_band >> {i}) & 1) << {2 * i}) + (((dt_band >> {i}) & 1) << {2 * i + 1})"
    for i in range(_BITS))} AS z
  FROM banded
)
"""


# --------------------------------------------------------------------------
# zorder_locality_buckets
# --------------------------------------------------------------------------

def _q_zorder_locality_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    b = _banded_orders(spark, sf_dir)
    seg = F.shiftright("z", 2 * _BITS - 6).alias("curve_segment")
    return b.groupBy(seg).agg(
        F.count(F.lit(1)).alias("n"),
        F.min("ck_band").alias("min_ck_band"),
        F.max("ck_band").alias("max_ck_band"),
        F.min("dt_band").alias("min_dt_band"),
        F.max("dt_band").alias("max_dt_band"),
    )


_SQL_ZORDER_LOCALITY_BUCKETS = _SQL_BANDED + f"""
SELECT z >> {2 * _BITS - 6} AS curve_segment, count(*) AS n,
       min(ck_band) AS min_ck_band, max(ck_band) AS max_ck_band,
       min(dt_band) AS min_dt_band, max(dt_band) AS max_dt_band
FROM zed GROUP BY 1
"""


# --------------------------------------------------------------------------
# zone_map_pruning_audit
# --------------------------------------------------------------------------

def _q_zone_map_pruning_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r11 (guide §5): the banded frame feeds BOTH layout ranks — cached
    # so the scan + bounds + banding + Morton key compute once
    b = tracked_cache(_banded_orders(spark, sf_dir))
    pred = (
        F.col("ck_band").between(_CK_LO, _CK_HI)
        & F.col("dt_band").between(_DT_LO, _DT_HI)
    ).cast("int")

    def zoned(df: DataFrame, order_exprs, layout: str) -> DataFrame:
        rn = global_row_number(df, order_exprs, out_col="rn", n_col="n")
        return rn.select(
            F.lit(layout).alias("layout"),
            F.expr(f"(rn - 1) * {_N_ZONES} div n").alias("zone"),
            "ck_band",
            "dt_band",
            pred.alias("hit"),
        )

    both = zoned(b, [F.asc("o_orderkey")], "natural").unionByName(
        zoned(b, [F.asc("z"), F.asc("o_orderkey")], "zorder")
    )
    zones = both.groupBy("layout", "zone").agg(
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
    return zones.groupBy("layout").agg(
        F.count(F.lit(1)).alias("zones_total"),
        F.sum(scanned).alias("zones_scanned"),
        F.sum(scanned * F.col("n")).alias("rows_scanned"),
        F.sum("n_hit").alias("rows_matched"),
    )


_SQL_ZONE_MAP_PRUNING_AUDIT = _SQL_BANDED + f"""
, ranked AS (
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
), zones AS (
  SELECT layout, zone, count(*) AS n,
         min(ck_band) AS mn_ck, max(ck_band) AS mx_ck,
         min(dt_band) AS mn_dt, max(dt_band) AS mx_dt,
         sum(CASE WHEN ck_band BETWEEN {_CK_LO} AND {_CK_HI}
                   AND dt_band BETWEEN {_DT_LO} AND {_DT_HI}
                  THEN 1 ELSE 0 END) AS n_hit
  FROM ranked GROUP BY layout, zone
)
SELECT layout, count(*) AS zones_total,
       CAST(sum(CASE WHEN mx_ck >= {_CK_LO} AND mn_ck <= {_CK_HI}
                      AND mx_dt >= {_DT_LO} AND mn_dt <= {_DT_HI}
                     THEN 1 ELSE 0 END) AS BIGINT) AS zones_scanned,
       CAST(sum(CASE WHEN mx_ck >= {_CK_LO} AND mn_ck <= {_CK_HI}
                      AND mx_dt >= {_DT_LO} AND mn_dt <= {_DT_HI}
                     THEN n ELSE 0 END) AS BIGINT) AS rows_scanned,
       CAST(sum(n_hit) AS BIGINT) AS rows_matched
FROM zones GROUP BY layout
"""


# --------------------------------------------------------------------------
# bloom_semi_join_audit
# --------------------------------------------------------------------------

_BLOOM_M = 16384
_BLOOM_K = 3
# odd multipliers (xxhash/Knuth primes); (a*h + b) stays < 2^63 for h < 2^31
_BLOOM_A = (2654435761, 2246822519, 3266489917)
_BLOOM_B = (1, 2, 3)
_MASK31 = (1 << 31) - 1


def _bloom_pos(col, i: int):
    return (
        (col * F.lit(_BLOOM_A[i]) + F.lit(_BLOOM_B[i])).bitwiseAND(F.lit(_MASK31))
        % _BLOOM_M
    )


def _bloom_pos_sql(col: str, i: int) -> str:
    return f"((({col} * {_BLOOM_A[i]} + {_BLOOM_B[i]}) & {_MASK31}) % {_BLOOM_M})"


_BLOOM_WINDOW = ("1995-06-01", "1995-07-01")  # one order-month partition


def _q_bloom_semi_join_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefilter audit for ``customers ⋉ orders[June 1995]``: the month
    partition's custkeys feed the filter, every customer probes it.
    (The window keeps true negatives at every SF — the full orders
    table covers ALL customers, which would make FP rate undefined.)"""
    orders = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= _BLOOM_WINDOW[0])
        & (F.col("o_orderdate") < _BLOOM_WINDOW[1])
    )
    customer = load_table(spark, sf_dir, "customer")
    keys = orders.select("o_custkey").distinct()
    bits = (
        keys.select(
            F.explode(
                F.array(*[_bloom_pos(F.col("o_custkey"), i) for i in range(_BLOOM_K)])
            ).alias("pos")
        )
        .distinct()
        .withColumn("set_bit", F.lit(1))
    )
    probe = customer.select(
        "c_custkey",
        F.explode(
            F.array(*[_bloom_pos(F.col("c_custkey"), i) for i in range(_BLOOM_K)])
        ).alias("pos"),
    )
    # the <=m-row bit set is the broadcast prefilter; a customer passes
    # iff all k probed bits are set
    hits = (
        probe.join(F.broadcast(bits), "pos", "left")
        .groupBy("c_custkey")
        .agg((F.count("set_bit") == _BLOOM_K).cast("int").alias("passes"))
    )
    member = keys.select(F.col("o_custkey").alias("c_custkey")).withColumn(
        "is_member", F.lit(1)
    )
    audited = hits.join(F.broadcast(member), "c_custkey", "left").select(
        "passes", F.coalesce("is_member", F.lit(0)).alias("is_member")
    )
    summary = audited.agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum("is_member").alias("n_members"),
        F.sum("passes").alias("n_pass"),
        F.sum(F.col("passes") * (1 - F.col("is_member"))).alias("n_false_pos"),
    )
    n_bits = bits.agg(F.count(F.lit(1)).alias("n_bits_set"))
    return (
        summary.crossJoin(F.broadcast(n_bits))
        .select(
            "n_customers",
            "n_members",
            "n_pass",
            "n_false_pos",
            "n_bits_set",
            F.round(
                F.when(
                    F.col("n_customers") > F.col("n_members"),
                    F.col("n_false_pos")
                    / (F.col("n_customers") - F.col("n_members")).cast("double"),
                ),
                6,
            ).alias("fp_rate"),
            F.round(
                F.pow(
                    F.lit(1.0)
                    - F.exp(
                        -F.lit(float(_BLOOM_K)) * F.col("n_members") / F.lit(float(_BLOOM_M))
                    ),
                    F.lit(float(_BLOOM_K)),
                ),
                6,
            ).alias("fp_theory"),
        )
    )


_SQL_BLOOM_SEMI_JOIN_AUDIT = f"""
WITH keys AS (
  SELECT DISTINCT o_custkey FROM orders
  WHERE o_orderdate >= TIMESTAMP '{_BLOOM_WINDOW[0]}'
    AND o_orderdate < TIMESTAMP '{_BLOOM_WINDOW[1]}'
), bits AS (
  SELECT DISTINCT unnest([{', '.join(_bloom_pos_sql('o_custkey', i) for i in range(_BLOOM_K))}]) AS pos
  FROM keys
), probe AS (
  SELECT c_custkey,
         unnest([{', '.join(_bloom_pos_sql('c_custkey', i) for i in range(_BLOOM_K))}]) AS pos
  FROM customer
), hits AS (
  SELECT c_custkey,
         CASE WHEN count(b.pos) = {_BLOOM_K} THEN 1 ELSE 0 END AS passes
  FROM probe p LEFT JOIN bits b ON p.pos = b.pos
  GROUP BY c_custkey
), audited AS (
  SELECT passes,
         CASE WHEN k.o_custkey IS NOT NULL THEN 1 ELSE 0 END AS is_member
  FROM hits LEFT JOIN keys k ON c_custkey = o_custkey
), summary AS (
  SELECT count(*) AS n_customers,
         CAST(sum(is_member) AS BIGINT) AS n_members,
         CAST(sum(passes) AS BIGINT) AS n_pass,
         CAST(sum(passes * (1 - is_member)) AS BIGINT) AS n_false_pos
  FROM audited
)
SELECT n_customers, n_members, n_pass, n_false_pos,
       (SELECT count(*) FROM bits) AS n_bits_set,
       round(CASE WHEN n_customers > n_members THEN
               n_false_pos / CAST(n_customers - n_members AS DOUBLE) END, 6) AS fp_rate,
       round(pow(1.0 - exp(-{float(_BLOOM_K)} * n_members / {float(_BLOOM_M)}),
                 {float(_BLOOM_K)}), 6) AS fp_theory
FROM summary
"""


# --------------------------------------------------------------------------
# clustering_depth_by_column
# --------------------------------------------------------------------------

def _q_clustering_depth_by_column(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_custkey").cast("double").alias("ck"),
        F.col("o_totalprice").alias("tp"),
        F.col("o_orderkey").cast("double").alias("ok"),
    )
    rn = global_row_number(orders, [F.asc("o_orderkey")], out_col="rn", n_col="n")
    zoned = rn.select(
        F.expr(f"(rn - 1) * {_N_ZONES} div n").alias("zone"), "ok", "ck", "tp"
    )
    zones = zoned.groupBy("zone").agg(
        *[
            f(c).alias(f"{pre}_{c}")
            for c in ("ok", "ck", "tp")
            for pre, f in (("mn", F.min), ("mx", F.max))
        ]
    )
    bounds = zoned.agg(
        *[
            f(c).alias(f"g{pre}_{c}")
            for c in ("ok", "ck", "tp")
            for pre, f in (("mn", F.min), ("mx", F.max))
        ]
    )
    per_zone = zones.crossJoin(F.broadcast(bounds))
    rows = []
    for c, label in (("ok", "o_orderkey"), ("ck", "o_custkey"), ("tp", "o_totalprice")):
        frac = (F.col(f"mx_{c}") - F.col(f"mn_{c}")) / (
            F.col(f"gmx_{c}") - F.col(f"gmn_{c}")
        )
        rows.append(
            per_zone.agg(
                F.lit(label).alias("column_name"),
                F.count(F.lit(1)).alias("zones_total"),
                F.round(F.avg(frac), 6).alias("avg_zone_width_frac"),
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


_SQL_CLUSTERING_DEPTH_BY_COLUMN = f"""
WITH src AS (
  SELECT o_orderkey, CAST(o_orderkey AS DOUBLE) AS ok,
         CAST(o_custkey AS DOUBLE) AS ck, o_totalprice AS tp
  FROM orders
), zoned AS (
  SELECT (row_number() OVER (ORDER BY o_orderkey) - 1) * {_N_ZONES}
           // (count(*) OVER ()) AS zone, ok, ck, tp
  FROM src
), zones AS (
  SELECT zone, min(ok) AS mn_ok, max(ok) AS mx_ok,
         min(ck) AS mn_ck, max(ck) AS mx_ck,
         min(tp) AS mn_tp, max(tp) AS mx_tp
  FROM zoned GROUP BY zone
), bounds AS (
  SELECT min(ok) AS gmn_ok, max(ok) AS gmx_ok,
         min(ck) AS gmn_ck, max(ck) AS gmx_ck,
         min(tp) AS gmn_tp, max(tp) AS gmx_tp
  FROM zoned
)
SELECT 'o_orderkey' AS column_name, count(*) AS zones_total,
       round(avg((mx_ok - mn_ok) / (gmx_ok - gmn_ok)), 6) AS avg_zone_width_frac
FROM zones CROSS JOIN bounds
UNION ALL
SELECT 'o_custkey', count(*),
       round(avg((mx_ck - mn_ck) / (gmx_ck - gmn_ck)), 6)
FROM zones CROSS JOIN bounds
UNION ALL
SELECT 'o_totalprice', count(*),
       round(avg((mx_tp - mn_tp) / (gmx_tp - gmn_tp)), 6)
FROM zones CROSS JOIN bounds
"""


SPECS: dict[str, QuerySpec] = {
    "zorder_locality_buckets": QuerySpec(
        _q_zorder_locality_buckets,
        _SQL_ZORDER_LOCALITY_BUCKETS,
        "Morton/Z-order key (8-bit custkey x order-date bands, pure "
        "bit-interleave) rolled up per curve segment with its band "
        "bounding box — the locality zone maps exploit",
    ),
    "zone_map_pruning_audit": QuerySpec(
        _q_zone_map_pruning_audit,
        _SQL_ZONE_MAP_PRUNING_AUDIT,
        "min/max zone-map audit: zones+rows scanned for a 2-D band "
        "predicate under natural vs Z-order layout (100 equal-row "
        "zones via two-phase global_row_number)",
    ),
    "bloom_semi_join_audit": QuerySpec(
        _q_bloom_semi_join_audit,
        _SQL_BLOOM_SEMI_JOIN_AUDIT,
        "relational Bloom filter (m=16384, k=3 multiply-shift) over "
        "orders custkeys probed by customers: FP rate vs the "
        "(1-e^{-kn/m})^k theory bound; broadcastable prefilter",
    ),
    "clustering_depth_by_column": QuerySpec(
        _q_clustering_depth_by_column,
        _SQL_CLUSTERING_DEPTH_BY_COLUMN,
        "effective-sort diagnostic: average per-zone min/max width as "
        "a fraction of global range, per candidate filter column",
    ),
}
