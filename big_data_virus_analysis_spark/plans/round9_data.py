"""Round-9 training-data-recipe pack — two audits every large-scale
LM data pipeline runs before a training job, previously absent from
the curation family (mixture WEIGHTS existed: domain_mixture_weights,
mixture_temperature_sweep; the EPOCH/REPEAT consequences and the
routing-balance readout did not).

* ``dataset_mixture_epochs_audit`` — given per-source token counts and
  a fixed target mixture (uniform over sources here), how many EPOCHS
  of each source does a 4-corpus-pass token budget imply?  budget =
  4·total_tokens (corpus-relative, so the audit stays meaningful at
  every SF), allocation_i = (budget · weight_ppm) div 10⁶ (exact
  integer), epochs_i = allocation/tokens, with the >4-epoch flag (the
  data-constrained repeat regime of Muennighoff et al. 2023, "Scaling
  Data-Constrained Language Models" — public): under a uniform target,
  below-average-size sources land over the cap — exactly the sources
  the recipe would over-repeat.
* ``moe_routing_balance`` — hard-hash token routing over 8 experts
  (md5-derived token hash mod 8 — deterministic, engine-reproducible)
  with the Switch-Transformer load-balance readout (Fedus et al. 2021,
  public): loss = E · Σ_i f_i² where f_i is the fraction of tokens
  routed to expert i (the hard-routing form of E·Σ f_i·P_i), plus
  min/max expert load and the imbalance ratio.  Perfect balance gives
  loss = 1; the audit shows how far content-hash routing sits from it.

100 TB shape: both are one corpus scan → per-source / per-expert hash
aggregates (≤ |sources| / ≤ E rows); the budget/total scalars ride
1-row-agg broadcasts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load_table
from . import QuerySpec

#: token budget = this many passes over the whole corpus
MIX_BUDGET_PASSES = 4
#: epoch cap beyond which repeating data stops helping (public result)
EPOCH_CAP = 4.0
#: experts for the routing audit
N_EXPERTS = 8


def _q_dataset_mixture_epochs_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    per_src = docs.groupBy("source").agg(
        F.sum(F.size(F.split("text", " "))).alias("tokens")
    )
    n_src = per_src.agg(
        F.count(F.lit(1)).alias("n_sources"),
        (F.sum("tokens") * MIX_BUDGET_PASSES).alias("budget"),
    )
    out = per_src.crossJoin(F.broadcast(n_src)).select(
        "source",
        "tokens",
        F.expr("1000000 div n_sources").alias("weight_ppm"),
        F.expr(
            "(budget * (1000000 div n_sources)) div 1000000"
        ).alias("allocated_tokens"),
    )
    return out.select(
        "source",
        "tokens",
        "weight_ppm",
        "allocated_tokens",
        F.round(
            F.col("allocated_tokens").cast("double") / F.col("tokens"), 6
        ).alias("epochs"),
        (
            F.col("allocated_tokens").cast("double") / F.col("tokens")
            > EPOCH_CAP
        ).alias("over_epoch_cap"),
    ).orderBy("source")


_SQL_DATASET_MIXTURE_EPOCHS_AUDIT = f"""
WITH per_src AS (
  SELECT source, sum(len(string_split(text, ' '))) AS tokens
  FROM documents GROUP BY source
), n AS (
  SELECT count(*) AS n_sources,
         sum(tokens) * {MIX_BUDGET_PASSES} AS budget
  FROM per_src
)
SELECT source, CAST(tokens AS BIGINT) AS tokens,
       CAST(1000000 // n_sources AS BIGINT) AS weight_ppm,
       CAST((budget * (1000000 // n_sources)) // 1000000 AS BIGINT)
         AS allocated_tokens,
       round(CAST((budget * (1000000 // n_sources)) // 1000000
                  AS DOUBLE) / tokens, 6) AS epochs,
       CAST((budget * (1000000 // n_sources)) // 1000000 AS DOUBLE)
         / tokens > {EPOCH_CAP} AS over_epoch_cap
FROM per_src CROSS JOIN n
ORDER BY source
"""


def _q_moe_routing_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(F.split("text", " ")).alias("tok")
    ).where(F.length("tok") > 0)
    # deterministic content-hash routing: md5-prefix mod E (the repo's
    # engine-reproducible hash family; xxhash64 is the fast path the
    # dedup tier documents, not reproducible in the oracle)
    expert = (
        F.conv(F.substring(F.md5("tok"), 1, 15), 16, 10).cast("bigint")
        % N_EXPERTS
    ).cast("int")
    loads = toks.select(expert.alias("expert")).groupBy("expert").agg(
        F.count(F.lit(1)).alias("n_tokens")
    )
    tot = loads.agg(
        F.sum("n_tokens").alias("t"),
        F.sum(F.col("n_tokens") * F.col("n_tokens")).alias("s2"),
        F.min("n_tokens").alias("min_load"),
        F.max("n_tokens").alias("max_load"),
    )
    return loads.crossJoin(F.broadcast(tot)).select(
        "expert",
        "n_tokens",
        F.round(F.col("n_tokens").cast("double") / F.col("t"), 6).alias(
            "load_frac"
        ),
        F.round(
            F.lit(N_EXPERTS)
            * F.col("s2").cast("double")
            / (F.col("t").cast("double") * F.col("t").cast("double")),
            6,
        ).alias("balance_loss"),
        F.round(
            F.col("max_load").cast("double") / F.col("min_load"), 6
        ).alias("imbalance_ratio"),
    ).orderBy("expert")


_SQL_MOE_ROUTING_BALANCE = f"""
WITH toks AS (
  SELECT tok FROM (
    SELECT unnest(string_split(text, ' ')) AS tok FROM documents
  ) WHERE length(tok) > 0
), loads AS (
  SELECT CAST(CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT)
              % {N_EXPERTS} AS INT) AS expert,
         count(*) AS n_tokens
  FROM toks GROUP BY 1
), tot AS (
  SELECT sum(n_tokens) AS t, sum(n_tokens * n_tokens) AS s2,
         min(n_tokens) AS min_load, max(n_tokens) AS max_load
  FROM loads
)
SELECT expert, CAST(n_tokens AS BIGINT) AS n_tokens,
       round(CAST(n_tokens AS DOUBLE) / t, 6) AS load_frac,
       round({N_EXPERTS} * CAST(s2 AS DOUBLE) / (CAST(t AS DOUBLE) * t), 6)
         AS balance_loss,
       round(CAST(max_load AS DOUBLE) / min_load, 6) AS imbalance_ratio
FROM loads CROSS JOIN tot
ORDER BY expert
"""


SPECS: dict[str, QuerySpec] = {
    "dataset_mixture_epochs_audit": QuerySpec(
        _q_dataset_mixture_epochs_audit,
        _SQL_DATASET_MIXTURE_EPOCHS_AUDIT,
        "per-source epochs implied by a 4-corpus-pass token budget "
        "under a uniform target mixture, with the >4-epoch "
        "data-constrained repeat flag",
    ),
    "moe_routing_balance": QuerySpec(
        _q_moe_routing_balance,
        _SQL_MOE_ROUTING_BALANCE,
        "hard content-hash MoE routing over 8 experts with the "
        "Switch-Transformer load-balance loss E*sum(f_i^2), per-expert "
        "loads and imbalance ratio",
    ),
}
