"""Round-10 HyperLogLog pack: a from-scratch, ORACLE-EXACT HLL
(Flajolet et al. 2007) over the dedup pipeline's shingle stream —
upgrading the catalog's documented sketch limitation ("sketch values
are engine-specific, so there is no exact cross-engine oracle",
plans/catalog.py's approx-sketch pack, which pins Spark's built-in
HLL++ by error bound only).  Deterministic md5-derived registers make
the SKETCH ITSELF hash-matchable across engines, the same move the
dedup family made for MinHash.

* ``hll_shingle_estimate`` — estimate the distinct-8-gram cardinality
  (the number that sizes the dedup inverted index) in one pass:
  md5(gram) supplies a 12-bit register index (3 hex chars, m = 4096)
  and a 52-bit rank window (13 hex chars); ρ = leading zeros + 1 via
  ``53 - length(bin(v))`` (both engines' ``bin`` drops leading zeros).
  The harmonic sum is EXACT INTEGER — Σ 2^(60−ρ) in DECIMAL(38,0) /
  HUGEINT, absent registers contributing 2^60 — and the estimate is a
  single integer floor-division by the scaled-α numerator, so both
  engines produce the identical estimate with no float in the path.
  Emits the exact distinct alongside, the error in per-mille, and the
  3σ (= 3·1.04/√m ≈ 4.88 %) bound check as data.
* ``hll_shard_merge_audit`` — the property that makes HLL the 100-TB
  COUNT(DISTINCT): registers built INDEPENDENTLY per document source
  (shard), then merged by per-register max, must equal the registers
  built over the whole corpus.  The audit computes both sides and
  emits ``n_registers_equal`` (== m proves mergeability on the real
  data) plus the merged-sketch estimate — re-aggregability as data,
  the ``cms_heavy_users`` discipline applied to HLL.

100-TB shape: one documents scan → narrow gram explode (no per-doc
dedup needed — duplicates cannot change a max-of-ρ register) → 4096-
row register aggregate (map-side partial max).  The exact-distinct
audit leg is the only full-shuffle pass and exists to CHECK the
sketch; a production user runs the register leg alone.

Identity properties (tests/test_properties.py): a pure-Python
replication of the register/Σ/α arithmetic matches the engines'
formula exactly on random token sets, the estimate lands within the
3σ bound on cardinalities ≥ m, and per-shard max-merge equals
whole-set registers on random shardings (mergeability theorem).

No reference counterpart (sketch extension alongside the count-min
family in plans/round4_ops.py); public algorithm only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.caching import tracked_cache
from ..sources.tables import fan_out, load_table
from . import QuerySpec

#: register-index bits (3 hex chars) and register count
HLL_P = 12
HLL_M = 4096
#: gram length (token 8-grams — the dedup family's unit)
HLL_GRAM_L = 8
#: integer harmonic-sum scale: each register contributes 2^(60 - rho)
HLL_SHIFT = 60
#: alpha_m scaled to ppm: round(1e6 * 0.7213 / (1 + 1.079/4096))
HLL_ALPHA_PPM = 721110
#: the exact integer numerator alpha_ppm * m^2 * 2^SHIFT
HLL_NUMERATOR = HLL_ALPHA_PPM * HLL_M * HLL_M * (2**HLL_SHIFT)
#: 3-sigma relative-error bound in 1e-5 units: 3 * 1.04 / sqrt(m)
HLL_3SIGMA_1E5 = 4875


def _grams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The raw (doc_id-free) shingle stream with its register fields.
    No within-doc dedup: duplicate grams cannot move a max-of-rho
    register, so the cheap non-distinct explode is correct here."""
    # r11 optimization (guide §2.5 input skew): one parquet file → one
    # input split, so the explode + 2.5M md5 hashes ran on a single
    # core; fan_out's guard makes this a no-op once the scan has real
    # splits (the 100-TB shape).
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    toks = docs.select(F.split("text", " ").alias("_toks"))
    gram_arr = F.expr(
        f"CASE WHEN size(_toks) >= {HLL_GRAM_L} THEN "
        f"transform(sequence(1, size(_toks) - {HLL_GRAM_L} + 1), "
        f"i -> concat_ws(' ', slice(_toks, i, {HLL_GRAM_L}))) "
        "ELSE CAST(array() AS ARRAY<STRING>) END"
    )
    g = toks.select(F.explode(gram_arr).alias("gram"))
    return g.select(
        "gram",
        F.expr(
            "CAST(conv(substring(md5(gram), 1, 3), 16, 10) AS INT)"
        ).alias("bucket"),
        F.expr(
            """CASE WHEN CAST(conv(substring(md5(gram), 4, 13), 16, 10)
                          AS BIGINT) = 0 THEN 53
                    ELSE 53 - length(bin(CAST(conv(
                      substring(md5(gram), 4, 13), 16, 10) AS BIGINT)))
               END"""
        ).cast("int").alias("rho"),
    )


def _estimate_cols(reg: DataFrame) -> DataFrame:
    """(est, n_present) from a (bucket, rho) register frame — exact
    integer harmonic sum with absent registers at rho = 0."""
    return reg.agg(
        F.expr(
            f"""CAST((CAST({HLL_NUMERATOR} AS DECIMAL(38,0))) div (
              sum(CAST(shiftleft(CAST(1 AS BIGINT), {HLL_SHIFT} - rho)
                       AS DECIMAL(38,0)))
              + (CAST({HLL_M} AS DECIMAL(38,0)) - count(1))
                * CAST({2**HLL_SHIFT} AS DECIMAL(38,0))
            ) AS BIGINT)"""
        ).alias("est_micro"),
        F.count(F.lit(1)).alias("n_present"),
    )


def _q_hll_shingle_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = tracked_cache(_grams(spark, sf_dir))
    reg = g.groupBy("bucket").agg(F.max("rho").alias("rho"))
    est = _estimate_cols(reg)
    exact = g.agg(F.countDistinct("gram").alias("n_exact"))
    return (
        est.crossJoin(F.broadcast(exact))
        .select(
            F.lit(HLL_M).alias("m"),
            F.expr("CAST(est_micro div 1000000 AS BIGINT)").alias(
                "hll_estimate"
            ),
            "n_exact",
            (F.lit(HLL_M) - F.col("n_present"))
            .cast("bigint")
            .alias("n_empty_registers"),
            F.expr(
                "CAST((abs(est_micro div 1000000 - n_exact) * 1000)"
                " div n_exact AS BIGINT)"
            ).alias("err_millis"),
            F.expr(
                f"abs(est_micro div 1000000 - n_exact) * 100000"
                f" <= {HLL_3SIGMA_1E5} * n_exact"
            ).alias("within_3sigma"),
            # raw HLL is the operative estimator only above the
            # linear-counting handoff (n >= 2.5 m); below it the raw
            # estimate is biased high BY DESIGN — emit the regime so
            # the bound check is interpretable
            F.expr(f"n_exact * 10 >= 25 * {HLL_M}").alias(
                "above_lc_cutoff"
            ),
        )
    )


def _q_hll_shard_merge_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    # r11 optimization: same single-input-split fix as _grams above
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    toks = docs.select("source", F.split("text", " ").alias("_toks"))
    gram_arr = F.expr(
        f"CASE WHEN size(_toks) >= {HLL_GRAM_L} THEN "
        f"transform(sequence(1, size(_toks) - {HLL_GRAM_L} + 1), "
        f"i -> concat_ws(' ', slice(_toks, i, {HLL_GRAM_L}))) "
        "ELSE CAST(array() AS ARRAY<STRING>) END"
    )
    g = tracked_cache(
        toks.select("source", F.explode(gram_arr).alias("gram")).select(
            "source",
            F.expr(
                "CAST(conv(substring(md5(gram), 1, 3), 16, 10) AS INT)"
            ).alias("bucket"),
            F.expr(
                """CASE WHEN CAST(conv(substring(md5(gram), 4, 13),
                              16, 10) AS BIGINT) = 0 THEN 53
                        ELSE 53 - length(bin(CAST(conv(
                          substring(md5(gram), 4, 13), 16, 10)
                          AS BIGINT)))
                   END"""
            ).cast("int").alias("rho"),
        )
    )
    # per-shard registers, then max-merge across shards
    shard_reg = g.groupBy("source", "bucket").agg(
        F.max("rho").alias("rho")
    )
    merged = shard_reg.groupBy("bucket").agg(F.max("rho").alias("rho"))
    whole = g.groupBy("bucket").agg(F.max("rho").alias("rho"))
    n_shards = g.agg(F.countDistinct("source").alias("n_shards"))
    eq = (
        merged.join(
            whole.select("bucket", F.col("rho").alias("wrho")), "bucket"
        )
        .agg(
            F.sum((F.col("rho") == F.col("wrho")).cast("bigint")).alias(
                "n_registers_equal"
            ),
            F.count(F.lit(1)).alias("n_registers_present"),
        )
    )
    est = _estimate_cols(merged)
    return (
        eq.crossJoin(F.broadcast(est))
        .crossJoin(F.broadcast(n_shards))
        .select(
            F.lit(HLL_M).alias("m"),
            "n_shards",
            "n_registers_present",
            "n_registers_equal",
            (
                F.col("n_registers_equal")
                == F.col("n_registers_present")
            ).alias("merge_exact"),
            F.expr("CAST(est_micro div 1000000 AS BIGINT)").alias(
                "merged_estimate"
            ),
        )
    )


_SQL_GRAMS = f"""
WITH t AS (
  SELECT source, string_split(text, ' ') AS toks FROM documents
), g AS MATERIALIZED (
  SELECT source,
         array_to_string(toks[i:i+{HLL_GRAM_L}-1], ' ') AS gram
  FROM t, UNNEST(range(1, greatest(len(toks) - {HLL_GRAM_L} + 2, 1)))
       AS u(i)
), h AS MATERIALIZED (
  SELECT source,
         gram,
         CAST(CAST('0x' || substring(md5(gram), 1, 3) AS BIGINT)
              AS INT) AS bucket,
         CAST(CASE WHEN CAST('0x' || substring(md5(gram), 4, 13)
                        AS BIGINT) = 0 THEN 53
              ELSE 53 - length(bin(CAST('0x'
                     || substring(md5(gram), 4, 13) AS BIGINT)))
              END AS INT) AS rho
  FROM g
)"""

_SQL_EST = f"""(
  CAST(CAST({HLL_NUMERATOR} AS HUGEINT) // (
    sum(CAST((CAST(1 AS BIGINT) << ({HLL_SHIFT} - rho)) AS HUGEINT))
    + (CAST({HLL_M} AS HUGEINT) - count(*))
      * CAST({2**HLL_SHIFT} AS HUGEINT)
  ) AS BIGINT)
)"""

_SQL_HLL_ESTIMATE = (
    _SQL_GRAMS
    + f""", reg AS MATERIALIZED (
  SELECT bucket, max(rho) AS rho FROM h GROUP BY bucket
), est AS MATERIALIZED (
  SELECT {_SQL_EST} AS est_micro,
         CAST(count(*) AS BIGINT) AS n_present
  FROM reg
), ex AS MATERIALIZED (
  SELECT CAST(count(DISTINCT gram) AS BIGINT) AS n_exact FROM h
)
SELECT CAST({HLL_M} AS INT) AS m,
       CAST(est_micro // 1000000 AS BIGINT) AS hll_estimate,
       n_exact,
       CAST({HLL_M} - n_present AS BIGINT) AS n_empty_registers,
       CAST((abs(est_micro // 1000000 - n_exact) * 1000)
            // n_exact AS BIGINT) AS err_millis,
       abs(est_micro // 1000000 - n_exact) * 100000
         <= {HLL_3SIGMA_1E5} * n_exact AS within_3sigma,
       n_exact * 10 >= 25 * {HLL_M} AS above_lc_cutoff
FROM est, ex
"""
)

_SQL_HLL_MERGE = (
    _SQL_GRAMS
    + f""", shard_reg AS MATERIALIZED (
  SELECT source, bucket, max(rho) AS rho FROM h GROUP BY source, bucket
), merged AS MATERIALIZED (
  SELECT bucket, max(rho) AS rho FROM shard_reg GROUP BY bucket
), whole AS MATERIALIZED (
  SELECT bucket, max(rho) AS rho FROM h GROUP BY bucket
), eq AS MATERIALIZED (
  SELECT CAST(sum(CASE WHEN m.rho = w.rho THEN 1 ELSE 0 END)
              AS BIGINT) AS n_registers_equal,
         CAST(count(*) AS BIGINT) AS n_registers_present
  FROM merged m JOIN whole w USING (bucket)
), est AS MATERIALIZED (
  SELECT {_SQL_EST} AS est_micro FROM merged
), ns AS MATERIALIZED (
  SELECT CAST(count(DISTINCT source) AS BIGINT) AS n_shards FROM h
)
SELECT CAST({HLL_M} AS INT) AS m, n_shards,
       n_registers_present, n_registers_equal,
       n_registers_equal = n_registers_present AS merge_exact,
       CAST(est_micro // 1000000 AS BIGINT) AS merged_estimate
FROM eq, est, ns
"""
)


SPECS: dict[str, QuerySpec] = {
    "hll_shingle_estimate": QuerySpec(
        _q_hll_shingle_estimate,
        _SQL_HLL_ESTIMATE,
        "from-scratch oracle-exact HyperLogLog (m=4096, md5 registers, "
        "integer harmonic sum) estimating distinct dedup shingles, "
        "with the exact count, per-mille error, and 3-sigma bound "
        "check emitted",
    ),
    "hll_shard_merge_audit": QuerySpec(
        _q_hll_shard_merge_audit,
        _SQL_HLL_MERGE,
        "HLL mergeability as data: per-source registers max-merged "
        "must equal whole-corpus registers (n_registers_equal == "
        "present), plus the merged-sketch estimate",
    ),
}
