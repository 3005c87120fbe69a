"""Pretraining batch assembly: sequence packing, weighted sampling,
leakage-safe splits.

Three operations between "curated corpus" and "training batches":

* **Sequence packing** — pretraining concatenates documents into one
  token stream and cuts fixed context windows; each document therefore
  spans windows [first_window, last_window].  The global token offset is
  an order-defined prefix sum — computed DISTRIBUTED via the two-phase
  scan in ``operators/prefix_sum.py`` (a naive ``Window.orderBy`` with
  no partitions would funnel the corpus through one task).  The DuckDB
  oracle uses the plain global window: the two MUST agree exactly
  (integer addition is associative) — that equality is the whole test.

* **Weighted sampling** — Efraimidis–Spirakis A-Res order sampling:
  key = ln(u)/w with u a DETERMINISTIC per-doc uniform derived from
  md5(doc_id) (reproducible bit-for-bit in DuckDB — no RNG state), w a
  quality weight.  Top-k by key is then a weighted sample without
  replacement, fully re-runnable and audit-stable.  The plan is one
  projection + TakeOrderedAndProject.

* **Leakage-safe split** — train/eval assignment keyed on the CONTENT
  hash, not the doc id: every member of an exact-duplicate group lands
  on the same side, so eval never sees a training twin.  (For near-dup
  safety, feed ``dedup_clusters``' cluster_id through the same hash.)

No reference counterpart (SURVEY.md §7 phase-3 extension surface).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.prefix_sum import global_prefix_sum
from ..sources.tables import load_table
from . import QuerySpec

#: tokens per training context window
_WINDOW = 512
#: weighted-sample size
_SAMPLE_K = 100
#: train share of the content-hash space
_TRAIN_PCT = 80


def sequence_packing(documents: DataFrame, window: int = _WINDOW) -> DataFrame:
    """(doc_id, n_tokens, offset, first_window, last_window) — position
    of every document in the concatenated token stream, windows of
    ``window`` tokens, concatenation order = doc_id."""
    toks = documents.select(
        "doc_id", F.size(F.split(F.col("text"), " ")).alias("n_tokens")
    )
    cum = global_prefix_sum(toks, "doc_id", "n_tokens", out_col="cum_tokens")
    offset = F.col("cum_tokens") - F.col("n_tokens")
    return cum.select(
        "doc_id",
        "n_tokens",
        offset.alias("offset"),
        (offset / window).cast("bigint").alias("first_window"),
        ((F.col("cum_tokens") - 1) / window).cast("bigint").alias("last_window"),
    )


def weighted_sample_topk(documents: DataFrame, k: int = _SAMPLE_K) -> DataFrame:
    """(doc_id, weight, key) — Efraimidis–Spirakis weighted sample
    without replacement, deterministic (md5-derived uniforms)."""
    # u in (0, 1]: 15 md5 hex chars -> bigint in [0, 2^60), shift to 1-based
    h = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10).cast(
        "bigint"
    )
    u = (h + 1).cast("double") / F.lit(float(1 << 60))
    w = (F.col("n_chars") / 100.0).alias("weight")
    keyed = documents.select(
        "doc_id",
        F.round(w, 6).alias("weight"),
        F.round(F.log(u) / w, 6).alias("key"),
    )
    return keyed.orderBy(F.col("key").desc(), F.col("doc_id").asc()).limit(k)


def leakage_safe_split(documents: DataFrame, train_pct: int = _TRAIN_PCT) -> DataFrame:
    """(doc_id, content_bucket, split) — content-hash-keyed train/eval
    assignment; exact duplicates always share a side."""
    bucket = F.pmod(
        F.conv(F.substring(F.md5("text"), 1, 15), 16, 10).cast("bigint"), F.lit(100)
    )
    return documents.select(
        "doc_id",
        bucket.alias("content_bucket"),
        F.when(bucket < train_pct, F.lit("train")).otherwise(F.lit("eval")).alias(
            "split"
        ),
    )


def _q_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sequence_packing(load_table(spark, sf_dir, "documents"))


def _q_weighted_sample_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return weighted_sample_topk(load_table(spark, sf_dir, "documents"))


def _q_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    return leakage_safe_split(load_table(spark, sf_dir, "documents"))


_SQL_SEQUENCE_PACKING = f"""
WITH toks AS (
  SELECT doc_id, len(string_split(text, ' ')) AS n_tokens FROM documents
), cum AS (
  SELECT doc_id, n_tokens,
         sum(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum_tokens
  FROM toks
)
SELECT doc_id, CAST(n_tokens AS INT) AS n_tokens,
       CAST(cum_tokens - n_tokens AS BIGINT) AS offset,
       CAST((cum_tokens - n_tokens) // {_WINDOW} AS BIGINT) AS first_window,
       CAST((cum_tokens - 1) // {_WINDOW} AS BIGINT) AS last_window
FROM cum
"""

_SQL_WEIGHTED_SAMPLE_TOPK = f"""
WITH keyed AS (
  SELECT doc_id,
         round(n_chars / 100.0, 6) AS weight,
         round(ln((CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) + 1)
                  / 1152921504606846976.0)
               / (n_chars / 100.0), 6) AS key
  FROM documents
)
SELECT doc_id, weight, key FROM keyed
ORDER BY key DESC, doc_id ASC LIMIT {_SAMPLE_K}
"""

_SQL_LEAKAGE_SAFE_SPLIT = f"""
SELECT doc_id,
       CAST('0x' || substr(md5(text), 1, 15) AS BIGINT) % 100 AS content_bucket,
       CASE WHEN CAST('0x' || substr(md5(text), 1, 15) AS BIGINT) % 100 < {_TRAIN_PCT}
            THEN 'train' ELSE 'eval' END AS split
FROM documents
"""


SPECS: dict[str, QuerySpec] = {
    "sequence_packing": QuerySpec(
        _q_sequence_packing,
        _SQL_SEQUENCE_PACKING,
        "doc → token-stream offsets + context-window span via the "
        "two-phase distributed prefix sum (oracle = the naive global "
        "window; exact equality is the test)",
    ),
    "weighted_sample_topk": QuerySpec(
        _q_weighted_sample_topk,
        _SQL_WEIGHTED_SAMPLE_TOPK,
        "Efraimidis–Spirakis weighted sample, md5-deterministic uniforms "
        "(audit-stable; one projection + TakeOrderedAndProject)",
    ),
    "leakage_safe_split": QuerySpec(
        _q_leakage_safe_split,
        _SQL_LEAKAGE_SAFE_SPLIT,
        "content-hash train/eval split: exact-dup groups never straddle "
        "the boundary",
    ),
}
