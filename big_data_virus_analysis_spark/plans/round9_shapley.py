"""Round-9 game-theoretic attribution pack: EXACT Shapley-value
channel attribution (Shapley 1953; the marketing-attribution casting
of Zhao, Mahboobi & Bagheri 2018) — the cooperative-game family the
catalog did not yet cover (``first_last_touch`` is positional
attribution; Shapley is the axiomatic one).

* ``shapley_channel_attribution`` — each converting user (≥1
  ``purchase`` event) contributes their coalition: the set of
  channels ({click, error, signup, view} → bits 1/2/4/8) touched
  STRICTLY BEFORE their first purchase.  The characteristic function
  v(S) = #converters whose coalition ⊆ S, and each channel's Shapley
  value is the closed-form subset sum

      φ_i = Σ_{S ∌ i} |S|!·(n−1−|S|)!/n! · (v(S∪{i}) − v(S)).

  With n = 4 channels every weight is an integer over 4! = 24, so
  φ is computed in EXACT 1/24-conversion units (phi24 BIGINT) — no
  float until the final display division.
* ``shapley_efficiency_check`` — the efficiency axiom as data:
  Σ_i phi24_i must equal 24·(v(full) − v(∅)) EXACTLY (the grand
  coalition's attributable conversions are fully distributed).

100-TB shape: ONE events scan → per-(user, channel) min-timestamp
hash aggregate → user-partitioned window for the first-purchase
cutoff → per-user coalition mask → the ≤16-row coalition histogram.
Everything after that histogram is constant-size (16 subsets × 16
masks, 4×8 marginal pairs) — the Shapley algebra costs O(2ⁿ·2ⁿ) on a
frame that never grows with the corpus, and n is fixed by the event
vocabulary, not the data volume.

Identity property (tests/test_properties.py): the subset-sum formula
equals the permutation-average definition (all 4! = 24 orderings
enumerated) exactly in 1/24 units on random coalition multisets, and
efficiency Σφ = v(N) − v(∅) holds exactly.

No reference counterpart (BI/attribution extension alongside
plans/sequences.py's first/last touch); public method only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.caching import tracked_cache
from ..sources.tables import load_table
from . import QuerySpec

#: channels in bit order (alphabetical; purchase is the conversion)
SHAPLEY_CHANNELS = ("click", "error", "signup", "view")
_N = len(SHAPLEY_CHANNELS)
#: |S|!(n-1-|S|)! for n=4 — the numerators over 4! = 24
_W24 = {0: 6, 1: 2, 2: 2, 3: 6}


def _coalition_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """≤16-row histogram: coalition mask → converter count."""
    ev = load_table(spark, sf_dir, "events")
    bit = F.create_map(
        *[
            F.lit(x)
            for name, b in zip(SHAPLEY_CHANNELS, (1, 2, 4, 8))
            for x in (name, b)
        ]
    )[F.col("event_type")]
    base = ev.groupBy("user_id", "event_type").agg(
        F.min(F.unix_micros("ts")).alias("mt")
    )
    w = Window.partitionBy("user_id")
    with_fp = base.withColumn(
        "fp",
        F.min(F.when(F.col("event_type") == "purchase", F.col("mt"))).over(w),
    )
    masks = (
        with_fp.where(F.col("fp").isNotNull())
        .groupBy("user_id")
        .agg(
            F.coalesce(
                F.sum(
                    F.when(
                        (F.col("event_type") != "purchase")
                        & (F.col("mt") < F.col("fp")),
                        bit,
                    )
                ),
                F.lit(0),
            ).alias("mask")
        )
    )
    return masks.groupBy("mask").agg(F.count(F.lit(1)).alias("cnt"))


def _v_frame(spark: SparkSession, coal: DataFrame) -> DataFrame:
    """v(S) for all 2ⁿ subsets: Σ cnt over masks ⊆ S (16×16 constant
    cross join — corpus-size-independent)."""
    subsets = spark.range(2**_N).select(F.col("id").cast("int").alias("s"))
    return (
        subsets.join(
            F.broadcast(coal),
            (F.col("mask").bitwiseAND(F.col("s"))) == F.col("mask"),
            "left",
        )
        .groupBy("s")
        .agg(F.coalesce(F.sum("cnt"), F.lit(0)).alias("v"))
    )


def _phi_frame(spark: SparkSession, v: DataFrame) -> DataFrame:
    channels = spark.range(_N).select(
        F.element_at(
            F.array(*[F.lit(c) for c in SHAPLEY_CHANNELS]),
            F.col("id").cast("int") + 1,
        ).alias("channel"),
        F.expr("CAST(shiftleft(1, CAST(id AS INT)) AS INT)").alias("bit"),
    )
    pairs = channels.join(
        F.broadcast(v.select(F.col("s"), F.col("v").alias("v_s"))),
        (F.col("s").bitwiseAND(F.col("bit"))) == 0,
    )
    w24 = (
        F.when(F.bit_count("s") == 0, F.lit(_W24[0]))
        .when(F.bit_count("s") == 1, F.lit(_W24[1]))
        .when(F.bit_count("s") == 2, F.lit(_W24[2]))
        .otherwise(F.lit(_W24[3]))
    )
    marg = pairs.join(
        F.broadcast(
            v.select(F.col("s").alias("si"), F.col("v").alias("v_si"))
        ),
        (F.col("s") + F.col("bit")) == F.col("si"),
    )
    return marg.groupBy("channel").agg(
        F.sum(w24 * (F.col("v_si") - F.col("v_s"))).alias("phi24")
    )


def _q_shapley_channel_attribution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    v = tracked_cache(_v_frame(spark, _coalition_counts(spark, sf_dir)))
    return (
        _phi_frame(spark, v)
        .select(
            "channel",
            F.col("phi24").cast("bigint").alias("phi24"),
            F.round(F.col("phi24").cast("double") / 24.0, 4).alias(
                "phi_conversions"
            ),
        )
        .orderBy("channel")
    )


def _q_shapley_efficiency_check(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    v = tracked_cache(_v_frame(spark, _coalition_counts(spark, sf_dir)))
    phis = _phi_frame(spark, v).agg(F.sum("phi24").alias("sum_phi24"))
    v_full = v.where(F.col("s") == 2**_N - 1).select(
        F.col("v").alias("v_full")
    )
    v_empty = v.where(F.col("s") == 0).select(F.col("v").alias("v_empty"))
    return (
        phis.crossJoin(F.broadcast(v_full))
        .crossJoin(F.broadcast(v_empty))
        .select(
            F.col("sum_phi24").cast("bigint").alias("sum_phi24"),
            F.col("v_full").cast("bigint").alias("v_full"),
            F.col("v_empty").cast("bigint").alias("v_empty"),
            (
                F.col("sum_phi24")
                == F.lit(24) * (F.col("v_full") - F.col("v_empty"))
            ).alias("exact_efficiency"),
        )
    )


_BIT_CASE = (
    "CASE event_type WHEN 'click' THEN 1 WHEN 'error' THEN 2 "
    "WHEN 'signup' THEN 4 WHEN 'view' THEN 8 END"
)

_SQL_SHAPLEY_BASE = f"""
WITH base AS (
  SELECT user_id, event_type, min(epoch_us(ts)) AS mt
  FROM events GROUP BY 1, 2
), with_fp AS (
  SELECT user_id, event_type, mt,
         min(CASE WHEN event_type = 'purchase' THEN mt END)
           OVER (PARTITION BY user_id) AS fp
  FROM base
), masks AS (
  SELECT user_id,
         COALESCE(sum(CASE WHEN event_type <> 'purchase' AND mt < fp
                           THEN {_BIT_CASE} END), 0) AS mask
  FROM with_fp WHERE fp IS NOT NULL GROUP BY user_id
), coal AS MATERIALIZED (
  SELECT mask, count(*) AS cnt FROM masks GROUP BY mask
), v AS MATERIALIZED (
  SELECT s, COALESCE(sum(cnt), 0) AS v
  FROM (SELECT CAST(range AS INT) AS s FROM range({2**_N})) subsets
  LEFT JOIN coal ON (mask & s) = mask
  GROUP BY s
), channels AS (
  SELECT * FROM (VALUES ('click', 1), ('error', 2), ('signup', 4),
                        ('view', 8)) AS t(channel, bit)
), phi AS MATERIALIZED (
  SELECT channel,
         sum((CASE bit_count(vs.s) WHEN 0 THEN {_W24[0]}
              WHEN 1 THEN {_W24[1]} WHEN 2 THEN {_W24[2]}
              ELSE {_W24[3]} END) * (vsi.v - vs.v)) AS phi24
  FROM channels
  JOIN v vs ON (vs.s & bit) = 0
  JOIN v vsi ON vsi.s = vs.s + bit
  GROUP BY channel
)"""


_SQL_SHAPLEY_CHANNEL_ATTRIBUTION = (
    _SQL_SHAPLEY_BASE
    + """
SELECT channel, CAST(phi24 AS BIGINT) AS phi24,
       round(CAST(phi24 AS DOUBLE) / 24.0, 4) AS phi_conversions
FROM phi
ORDER BY channel
"""
)


_SQL_SHAPLEY_EFFICIENCY_CHECK = (
    _SQL_SHAPLEY_BASE
    + f"""
SELECT CAST((SELECT sum(phi24) FROM phi) AS BIGINT) AS sum_phi24,
       CAST((SELECT v FROM v WHERE s = {2**_N - 1}) AS BIGINT) AS v_full,
       CAST((SELECT v FROM v WHERE s = 0) AS BIGINT) AS v_empty,
       (SELECT sum(phi24) FROM phi)
         = 24 * ((SELECT v FROM v WHERE s = {2**_N - 1})
                 - (SELECT v FROM v WHERE s = 0)) AS exact_efficiency
"""
)


SPECS: dict[str, QuerySpec] = {
    "shapley_channel_attribution": QuerySpec(
        _q_shapley_channel_attribution,
        _SQL_SHAPLEY_CHANNEL_ATTRIBUTION,
        "exact Shapley-value conversion attribution over the 4 "
        "pre-purchase touch channels: closed-form subset sums in "
        "integer 1/24-conversion units on the <=16-row coalition "
        "histogram",
    ),
    "shapley_efficiency_check": QuerySpec(
        _q_shapley_efficiency_check,
        _SQL_SHAPLEY_EFFICIENCY_CHECK,
        "Shapley efficiency axiom as data: sum of phi24 equals "
        "24*(v(full) - v(empty)) exactly",
    ),
}
