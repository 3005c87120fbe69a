"""Round-6 scale-planning pack 3 — the two remaining planner questions
the advisor family did not yet answer: "what does a partition layout
buy this predicate?" and "which dimension tables fit under which
broadcast threshold?".

* ``partition_pruning_audit`` — simulate a by-MONTH partition layout
  for ``orders`` against a fixed 90-day predicate: partitions total /
  hit, rows scanned under pruning vs rows actually matching, the scan
  fraction and the false-scan share inside hit partitions.  The same
  measured-evidence discipline as ``zone_map_pruning_audit``, but for
  the coarse directory-level pruning a 100 TB writer chooses FIRST
  (zone maps then prune inside files).
* ``broadcast_threshold_curve`` — per dimension table
  (region/nation/supplier/customer/part): an estimated in-memory size
  (rows × measured average row width: actual string lengths + 8 bytes
  per numeric) crossed with the standard threshold grid
  (10 KB … 100 MB), emitting the would-broadcast verdict per cell.
  The sensitivity-curve companion to ``join_strategy_advisor`` (which
  pins one threshold; this shows where each dim flips).

100 TB shape: one hash aggregate per table; the threshold grid is a
5-row literal frame; verdict rows = |tables| × |grid| = 25.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load_table
from . import QuerySpec

# --------------------------------------------------------------------------
# partition_pruning_audit
# --------------------------------------------------------------------------

_PP_LO = "1996-03-15"
_PP_HI = "1996-06-13"  # 90 days later


def _q_partition_pruning_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    staged = orders.select(
        F.date_trunc("month", F.col("o_orderdate")).alias("pmonth"),
        (
            (F.col("o_orderdate") >= F.lit(_PP_LO).cast("timestamp"))
            & (F.col("o_orderdate") < F.lit(_PP_HI).cast("timestamp"))
        )
        .cast("bigint")
        .alias("matches"),
    )
    per_part = staged.groupBy("pmonth").agg(
        F.count(F.lit(1)).alias("n_rows"), F.sum("matches").alias("n_match")
    )
    # a month partition is HIT iff it overlaps the predicate range —
    # which for a range predicate equals "contains >= 1 matching row"
    # on this data model only if every month in range has a match;
    # compute it from the month bounds instead so empty-overlap months
    # still count as scanned.
    hit = (F.col("pmonth") >= F.date_trunc("month", F.lit(_PP_LO).cast("timestamp"))) & (
        F.col("pmonth") <= F.date_trunc("month", F.lit(_PP_HI).cast("timestamp"))
    )
    agg = per_part.agg(
        F.count(F.lit(1)).alias("n_partitions"),
        F.sum(hit.cast("bigint")).alias("n_partitions_hit"),
        F.sum("n_rows").alias("total_rows"),
        F.sum(F.when(hit, F.col("n_rows")).otherwise(F.lit(0))).alias("rows_scanned"),
        F.sum("n_match").alias("rows_matching"),
    )
    return agg.select(
        "n_partitions",
        "n_partitions_hit",
        "total_rows",
        "rows_scanned",
        "rows_matching",
        F.round(
            F.col("rows_scanned").cast("double") / F.col("total_rows").cast("double"),
            6,
        ).alias("scan_fraction"),
        F.round(
            (F.col("rows_scanned") - F.col("rows_matching")).cast("double")
            / F.col("rows_scanned").cast("double"),
            6,
        ).alias("false_scan_share"),
    )


_SQL_PARTITION_PRUNING_AUDIT = f"""
WITH per_part AS (
  SELECT date_trunc('month', o_orderdate) AS pmonth,
         CAST(count(*) AS BIGINT) AS n_rows,
         CAST(sum(CASE WHEN o_orderdate >= TIMESTAMP '{_PP_LO} 00:00:00'
                        AND o_orderdate < TIMESTAMP '{_PP_HI} 00:00:00'
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_match
  FROM orders GROUP BY 1
), agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n_partitions,
         CAST(sum(CASE WHEN pmonth >= date_trunc('month',
                                        TIMESTAMP '{_PP_LO} 00:00:00')
                        AND pmonth <= date_trunc('month',
                                        TIMESTAMP '{_PP_HI} 00:00:00')
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_partitions_hit,
         CAST(sum(n_rows) AS BIGINT) AS total_rows,
         CAST(sum(CASE WHEN pmonth >= date_trunc('month',
                                        TIMESTAMP '{_PP_LO} 00:00:00')
                        AND pmonth <= date_trunc('month',
                                        TIMESTAMP '{_PP_HI} 00:00:00')
                       THEN n_rows ELSE 0 END) AS BIGINT) AS rows_scanned,
         CAST(sum(n_match) AS BIGINT) AS rows_matching
  FROM per_part
)
SELECT n_partitions, n_partitions_hit, total_rows, rows_scanned, rows_matching,
       round(CAST(rows_scanned AS DOUBLE) / CAST(total_rows AS DOUBLE), 6)
         AS scan_fraction,
       round(CAST(rows_scanned - rows_matching AS DOUBLE)
             / CAST(rows_scanned AS DOUBLE), 6) AS false_scan_share
FROM agg
"""


# --------------------------------------------------------------------------
# broadcast_threshold_curve
# --------------------------------------------------------------------------

_BT_THRESHOLDS = [10_240, 102_400, 1_048_576, 10_485_760, 104_857_600]

# (table, string columns, numeric column count) — numeric cols priced
# at 8 bytes each; strings at their measured average length
_BT_TABLES = [
    ("region", ["r_name"], 1),
    ("nation", ["n_name"], 2),
    ("supplier", ["s_name"], 3),
    ("customer", ["c_name", "c_mktsegment"], 3),
    ("part", ["p_name", "p_brand", "p_type"], 3),
]


def _q_broadcast_threshold_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    per_table = []
    for tname, str_cols, n_numeric in _BT_TABLES:
        t = load_table(spark, sf_dir, tname)
        str_bytes = reduce(
            lambda a, b: a + b, [F.sum(F.length(c)) for c in str_cols]
        )
        per_table.append(
            t.agg(
                F.lit(tname).alias("table_name"),
                F.count(F.lit(1)).alias("n_rows"),
                (str_bytes + F.count(F.lit(1)) * (8 * n_numeric)).alias("est_bytes"),
            )
        )
    dims = reduce(lambda a, b: a.unionByName(b), per_table)
    grid = F.explode(
        F.array(*[F.lit(v) for v in _BT_THRESHOLDS])
    ).alias("threshold_bytes")
    return dims.select("table_name", "n_rows", "est_bytes", grid).select(
        F.col("threshold_bytes"),
        "table_name",
        "n_rows",
        "est_bytes",
        (F.col("est_bytes") <= F.col("threshold_bytes")).alias("would_broadcast"),
    )


def _bt_table_sql(tname: str, str_cols: list, n_numeric: int) -> str:
    str_bytes = " + ".join(f"sum(length({c}))" for c in str_cols)
    return f"""SELECT '{tname}' AS table_name,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST({str_bytes} + count(*) * {8 * n_numeric} AS BIGINT) AS est_bytes
FROM {tname}"""


_SQL_BROADCAST_THRESHOLD_CURVE = f"""
WITH dims AS (
{chr(10).join("  " + _bt_table_sql(t, s, n) + (" UNION ALL" if i < len(_BT_TABLES) - 1 else "") for i, (t, s, n) in enumerate(_BT_TABLES))}
), grid(threshold_bytes) AS (
  VALUES {", ".join(f"({v})" for v in _BT_THRESHOLDS)}
)
SELECT CAST(g.threshold_bytes AS BIGINT) AS threshold_bytes,
       d.table_name, d.n_rows, d.est_bytes,
       d.est_bytes <= g.threshold_bytes AS would_broadcast
FROM dims d CROSS JOIN grid g
"""


SPECS: dict[str, QuerySpec] = {
    "partition_pruning_audit": QuerySpec(
        _q_partition_pruning_audit,
        _SQL_PARTITION_PRUNING_AUDIT,
        "by-month partition-layout audit for a 90-day predicate: "
        "partitions hit, scan fraction, false-scan share",
    ),
    "broadcast_threshold_curve": QuerySpec(
        _q_broadcast_threshold_curve,
        _SQL_BROADCAST_THRESHOLD_CURVE,
        "dimension-table size estimates (measured row widths) crossed "
        "with the broadcast-threshold grid: where each dim flips to "
        "broadcastable",
    ),
}
