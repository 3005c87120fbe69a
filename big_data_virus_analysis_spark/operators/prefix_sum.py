"""Distributed global prefix sum — the two-phase scan primitive.

A global ordered cumulative sum expressed naively is one
``Window.orderBy(...)`` with no partitioning: Spark funnels the WHOLE
table through a single task — the canonical scale killer.  The
distributed form is the classic two-phase scan (the same shape Spark's
own RangePartitioner sampling uses):

1. range-repartition on the order key so partitions hold contiguous,
   sorted, balanced key ranges;
2. per-partition local cumulative sums (a window PARTITIONED by the
   range bucket — parallel);
3. per-partition totals (one tiny row per partition, bounded in-plan
   by an explicit ``limit(P)``) are prefix-summed by a single-partition
   window over those P rows and broadcast-joined back as additive
   offsets.

The offset step touches P rows (hundreds; bounded by cluster size),
never data rows.  r12: the whole primitive is LAZY — the r11 shape
collected the P totals to the driver and pinned the buckets with an
eager localCheckpoint, which cost every caller a checkpoint write of
the full frame plus several driver jobs at plan-BUILD time; the lazy
offsets ride the same range exchange (reused, not recomputed) inside
the caller's own job.  Output is bit-identical to the single-partition
window because integer/decimal addition is associative; for doubles
use a decimal value column first.

No reference counterpart (the reference never needed a global scan);
this is engine-infrastructure for order-defined operators — sequence
packing (plans/packing.py), exact quantile assignment, pagination,
decile/ntile segmentation (ntile_from_rank / percent_rank_from_rank
below), and running-CDF statistics (plans/drift.py KS).
"""

from __future__ import annotations

from decimal import Decimal

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .caching import tracked_cache


def global_prefix_sum(
    df: DataFrame,
    order_col: str,
    value_col: str | list[str],
    out_col: str | list[str] = "cum",
    n_buckets: int | None = None,
    order_exprs=None,
    total_col: str | list[str] | None = None,
) -> DataFrame:
    """Add ``out_col`` = cumulative sum of ``value_col`` over the GLOBAL
    ``order_col`` order (inclusive prefix sum), without a global window.

    ``value_col``/``out_col`` may be lists (same length) to compute
    several prefix sums in ONE pass — one range shuffle, one local
    window, one P-row offset broadcast, however many scans ride along.

    ``total_col`` (optional, aligned with ``out_col``) attaches each
    value column's GRAND total: it is summed over the same P per-bucket
    totals that give the offsets and rides their broadcast, so callers
    that need "cumulative / total" (CDFs, running shares) get it with
    NO second pass over the input and no one-row cross join.

    PRECONDITION (documented, not just implied): the order defined by
    ``order_exprs`` (default: ``order_col`` ascending) must be TOTAL —
    no two rows may compare equal — otherwise ties can split across
    range-partition boundaries and the bit-identical-to-naive-window
    guarantee is void.  Callers pass a unique key (or append a unique
    tiebreaker expression) exactly as they would for a deterministic
    ORDER BY.

    NULL handling matches the naive global window exactly: SQL's SUM
    ignores NULLs, and a running sum is NULL only while no non-NULL
    value has occurred yet — so the rewrite tracks the running non-NULL
    COUNT alongside the running sum (same P-row offset broadcast) and
    emits NULL precisely when that count is zero.
    """
    value_cols = [value_col] if isinstance(value_col, str) else list(value_col)
    out_cols = [out_col] if isinstance(out_col, str) else list(out_col)
    if len(value_cols) != len(out_cols):
        raise ValueError("value_col and out_col must have the same length")
    if total_col is None:
        total_cols = [None] * len(out_cols)
    else:
        total_cols = [total_col] if isinstance(total_col, str) else list(total_col)
        if len(total_cols) != len(out_cols):
            raise ValueError("total_col and out_col must have the same length")
    spark = df.sparkSession
    if n_buckets is None:
        n_buckets = spark.sparkContext.defaultParallelism
    if order_exprs is None:
        order_exprs = [F.col(order_col)]  # default scan order; pass a
        # list of expressions (e.g. [col desc, tiebreaker]) for others
    # LAZY materialization pin (r12): the local-cum branch and the
    # totals branch must see IDENTICAL bucket ids, but two independent
    # materializations of a range exchange can sample different
    # partition bounds at runtime (measured: spearman/zone_map came
    # back value-shifted on a first fully-unpinned attempt).  A
    # tracked cache pins ONE materialization — still zero work at plan
    # build (the r11 shape pinned with an EAGER localCheckpoint plus a
    # driver collect of the totals; both now happen inside the
    # caller's own job).
    bucketed = tracked_cache(
        df.repartitionByRange(n_buckets, *order_exprs).withColumn(
            "_bucket", F.spark_partition_id()
        )
    )
    local_w = Window.partitionBy("_bucket").orderBy(*order_exprs)
    with_local = bucketed
    for vc, oc in zip(value_cols, out_cols):
        with_local = with_local.withColumn(f"_local_{oc}", F.sum(vc).over(local_w))
        with_local = with_local.withColumn(f"_lcnt_{oc}", F.count(vc).over(local_w))
    dtypes = dict(with_local.dtypes)
    zeros, cum_types = {}, {}
    for oc in out_cols:
        cum_types[oc] = dtypes[f"_local_{oc}"]  # sum()'s widened type
        if cum_types[oc].startswith("decimal"):
            zeros[oc] = Decimal(0)
        elif cum_types[oc] in ("double", "float"):
            zeros[oc] = 0.0
        else:
            zeros[oc] = 0
    # P tiny rows -> lazy offsets (r12): per-bucket totals, bounded
    # IN-PLAN by limit(n_buckets) (a true no-op — groupBy(_bucket) has
    # at most P groups — that makes the single-partition windows below
    # provably bounded for the plan lint), prefix-summed EXCLUSIVELY
    # over the bucket order and broadcast-joined back.  Both branches
    # read the SAME range exchange (ReusedExchange), so the input
    # pipeline still runs once; no driver collect, no eager checkpoint,
    # no plan-build-time jobs.
    totals = (
        bucketed.groupBy("_bucket")
        .agg(
            *[F.sum(vc).alias(f"_total_{oc}") for vc, oc in zip(value_cols, out_cols)],
            *[F.count(vc).alias(f"_n_{oc}") for vc, oc in zip(value_cols, out_cols)],
        )
        .limit(n_buckets)
    )
    bw = Window.orderBy("_bucket").rowsBetween(Window.unboundedPreceding, -1)
    fw = Window.orderBy("_bucket").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    offset_cols = ["_bucket"]
    for oc in out_cols:
        zero_lit = F.lit(zeros[oc]).cast(cum_types[oc])
        offset_cols.append(
            F.coalesce(
                F.sum(f"_total_{oc}").over(bw).cast(cum_types[oc]), zero_lit
            ).alias(f"_offset_{oc}")
        )
        offset_cols.append(
            F.coalesce(F.sum(f"_n_{oc}").over(bw), F.lit(0))
            .cast("bigint")
            .alias(f"_cnt_{oc}")
        )
        offset_cols.append(
            F.sum(f"_total_{oc}").over(fw).cast(cum_types[oc]).alias(f"_g_{oc}")
        )
        offset_cols.append(
            F.sum(f"_n_{oc}").over(fw).cast("bigint").alias(f"_gn_{oc}")
        )
    offsets = totals.select(*offset_cols)
    out = with_local.join(F.broadcast(offsets), "_bucket")
    for oc in out_cols:
        zero_lit = F.lit(zeros[oc]).cast(cum_types[oc])
        out = out.withColumn(
            oc,
            F.when(
                (F.col(f"_lcnt_{oc}") + F.col(f"_cnt_{oc}")) > 0,
                F.coalesce(F.col(f"_local_{oc}"), zero_lit) + F.col(f"_offset_{oc}"),
            ),  # otherwise NULL: no non-NULL value seen yet, like SUM
        ).drop(f"_local_{oc}", f"_offset_{oc}", f"_lcnt_{oc}", f"_cnt_{oc}")
    for oc, tc in zip(out_cols, total_cols):
        if tc is not None:
            # grand total: NULL only when NO non-NULL value exists at
            # all (grand non-NULL count 0)
            out = out.withColumn(
                tc, F.when(F.col(f"_gn_{oc}") > 0, F.col(f"_g_{oc}"))
            )
    return out.drop("_bucket", *[c for oc in out_cols for c in (f"_g_{oc}", f"_gn_{oc}")])


def global_row_number(
    df: DataFrame,
    order_exprs,
    out_col: str = "rn",
    n_buckets: int | None = None,
    n_col: str | None = None,
) -> DataFrame:
    """Add ``out_col`` = row_number() over the GLOBAL order without a
    single-partition window over DATA rows: range-partition on the
    order expressions, number rows per bucket in parallel, then offset
    each bucket by the count of all earlier buckets (P tiny rows
    through a bounded window + broadcast join — fully lazy, r12).

    ``n_col`` (optional) attaches the TOTAL row count — it rides the
    same P-row broadcast, so callers needing (rn, n) for derived
    ntile/percent_rank pay no second pass over the input.

    The order must be total (include a unique tiebreaker) so bucket
    boundaries cannot split ties; output is then bit-identical to the
    naive global window.  The rank stays BIGINT — this primitive's
    whole purpose is >2^31-row tables, so callers cast down only at
    oracle-matching query edges that need INT.  percent_rank and ntile
    derive from (rn, n) via :func:`percent_rank_from_rank` /
    :func:`ntile_from_rank`.
    """
    spark = df.sparkSession
    if n_buckets is None:
        n_buckets = spark.sparkContext.defaultParallelism
    # lazy materialization pin — see global_prefix_sum above
    bucketed = tracked_cache(
        df.repartitionByRange(n_buckets, *order_exprs).withColumn(
            "_bucket", F.spark_partition_id()
        )
    )
    local_w = Window.partitionBy("_bucket").orderBy(*order_exprs)
    with_local = bucketed.withColumn("_local_rn", F.row_number().over(local_w))
    # lazy offsets (r12, see global_prefix_sum): bounded-in-plan bucket
    # counts, exclusive prefix + grand total over the bucket order,
    # broadcast-joined back — no driver collect, no eager checkpoint
    counts = (
        bucketed.groupBy("_bucket")
        .agg(F.count(F.lit(1)).alias("_c"))
        .limit(n_buckets)
    )
    bw = Window.orderBy("_bucket").rowsBetween(Window.unboundedPreceding, -1)
    fw = Window.orderBy("_bucket").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    offsets = counts.select(
        "_bucket",
        F.coalesce(F.sum("_c").over(bw), F.lit(0)).cast("bigint").alias("_offset"),
        F.sum("_c").over(fw).cast("bigint").alias("_n_total"),
    )
    out = (
        with_local.join(F.broadcast(offsets), "_bucket")
        .withColumn(out_col, F.col("_local_rn").cast("bigint") + F.col("_offset"))
        .drop("_bucket", "_local_rn", "_offset")
    )
    if n_col is not None:
        out = out.withColumn(n_col, F.col("_n_total"))
    return out.drop("_n_total")


def ntile_from_rank(rn: Column, n: Column, k: int) -> Column:
    """SQL ``ntile(k)`` as a plain expression over (global row number,
    total row count): the first ``n % k`` buckets get ``n//k + 1`` rows,
    the rest ``n//k`` — exactly the uneven-bucket rule every SQL engine
    implements.  Property-tested against Spark's own ``F.ntile`` in
    tests/test_operators.py (non-divisible row counts included)."""
    big = (n % k) * (F.floor(n / k) + 1)  # rows living in the big buckets
    return F.when(
        rn <= big,
        ((rn - 1) / (F.floor(n / k) + 1)).cast("bigint") + 1,
    ).otherwise(
        n % k + ((rn - big - 1) / F.floor(n / k)).cast("bigint") + 1
    )


def percent_rank_from_rank(rn: Column, n: Column) -> Column:
    """SQL ``percent_rank`` = (rn-1)/(n-1) over (global row number,
    total count), with the single-row case pinned to 0.0 — SQL defines
    percent_rank of a lone row as 0, where the raw expression would be
    0/0 (NULL, or an ANSI error)."""
    return F.when(n > 1, (rn - 1).cast("double") / (n - 1)).otherwise(F.lit(0.0))

