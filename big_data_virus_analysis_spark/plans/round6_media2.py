"""Round-6 multimodal pack 2 — binary-payload manifest, segmentation,
and storage-layout queries (the plumbing a media-heavy training corpus
needs around the opaque ``payload`` column; see
``operators/multimodal.py`` for the payload/metadata model — payloads
here are the deterministic UTF-8 synthetic from
``attach_binary_payload``, so every byte-level quantity has a
closed-form SQL oracle).

* ``payload_chunk_manifest`` — content-addressable chunk table: each
  payload split into fixed 128-byte chunks with per-chunk md5 (first
  8 hex chars).  The manifest a dedup-at-the-blob-layer or a
  resumable-transfer system keys on.  Pure built-ins: ``sequence`` +
  ``explode`` + ``substring`` + ``md5`` (the synthetic payload is
  ASCII, so byte and character offsets coincide and DuckDB's
  string md5 is byte-identical).
* ``audio_segment_windows`` — fixed-rate segmentation: payload bytes
  as 100 Hz samples, 150-sample windows with 75-sample hop (50%
  overlap), emitting (segment index, start/end seconds, sample
  count).  The windowing grid an ASR/audio-embedding stage consumes;
  per-row sequence arithmetic, no shuffle.
* ``media_storage_layout_plan`` — per (width × height) variant: doc
  count, total/avg payload bytes, 128 KiB-target block count and
  padding waste.  The block-packing half of ``compaction_advisor``,
  specialized to blob columns.

100 TB shape: the manifest and segment queries are per-row map work
(explode factor = payload size / chunk size — bounded by the format);
the layout plan is one hash aggregate on the bounded variant frame.
Column pruning keeps the payload scan out of the metadata-only plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.multimodal import attach_binary_payload
from ..sources.tables import load_table
from . import QuerySpec

_CHUNK = 128
_SEG_RATE = 100  # "samples" (bytes) per second
_SEG_LEN = 150  # samples per segment
_SEG_HOP = 75  # samples between segment starts (50% overlap)
_BLOCK = 128 * 1024  # target block size for the layout plan


# --------------------------------------------------------------------------
# payload_chunk_manifest
# --------------------------------------------------------------------------


def _q_payload_chunk_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 50)
    with_payload = attach_binary_payload(docs)
    n_chunks = F.ceil(F.col("meta.n_bytes") / F.lit(_CHUNK)).cast("int")
    exploded = with_payload.select(
        "doc_id",
        "payload",
        F.col("meta.n_bytes").alias("n_bytes"),
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_idx"),
    )
    chunk = F.expr(f"substring(payload, chunk_idx * {_CHUNK} + 1, {_CHUNK})")
    return exploded.select(
        "doc_id",
        "chunk_idx",
        (F.col("chunk_idx") * _CHUNK).alias("offset"),
        F.octet_length(chunk).alias("chunk_len"),
        F.substring(F.md5(chunk), 1, 8).alias("chunk_md5_8"),
    )


_SQL_PAYLOAD_CHUNK_MANIFEST = f"""
WITH exploded AS (
  SELECT doc_id, text,
         unnest(range(CAST(ceil(length(text) / {_CHUNK}.0) AS BIGINT))) AS i
  FROM documents
  WHERE doc_id < 50
)
SELECT doc_id,
       CAST(i AS INT) AS chunk_idx,
       CAST(i * {_CHUNK} AS INT) AS offset,
       CAST(length(substring(text, CAST(i * {_CHUNK} + 1 AS INT), {_CHUNK}))
            AS INT) AS chunk_len,
       substring(md5(substring(text, CAST(i * {_CHUNK} + 1 AS INT), {_CHUNK})),
                 1, 8) AS chunk_md5_8
FROM exploded
"""


# --------------------------------------------------------------------------
# audio_segment_windows
# --------------------------------------------------------------------------


def _q_audio_segment_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 100)
    with_payload = attach_binary_payload(docs)
    # segments whose start is inside the payload; the last one may be short
    n_segs = (
        F.floor((F.col("meta.n_bytes").cast("double") - 1) / F.lit(_SEG_HOP)) + 1
    ).cast("int")
    exploded = with_payload.select(
        "doc_id",
        F.col("meta.n_bytes").alias("n_bytes"),
        F.explode(F.sequence(F.lit(0), n_segs - 1)).alias("seg_idx"),
    )
    start = F.col("seg_idx") * _SEG_HOP
    n_samples = F.least(F.lit(_SEG_LEN), F.col("n_bytes") - start)
    return exploded.select(
        "doc_id",
        "seg_idx",
        F.round(start.cast("double") / _SEG_RATE, 2).alias("start_s"),
        F.round((start + n_samples).cast("double") / _SEG_RATE, 2).alias("end_s"),
        n_samples.cast("int").alias("n_samples"),
    )


_SQL_AUDIO_SEGMENT_WINDOWS = f"""
WITH exploded AS (
  SELECT doc_id, length(text) AS n_bytes,
         unnest(range(CAST(floor((length(text) - 1) / {_SEG_HOP}.0) + 1
                      AS BIGINT))) AS i
  FROM documents
  WHERE doc_id < 100
)
SELECT doc_id,
       CAST(i AS INT) AS seg_idx,
       round(CAST(i * {_SEG_HOP} AS DOUBLE) / {_SEG_RATE}, 2) AS start_s,
       round(CAST(i * {_SEG_HOP}
                  + least({_SEG_LEN}, n_bytes - i * {_SEG_HOP})
                  AS DOUBLE) / {_SEG_RATE}, 2) AS end_s,
       CAST(least({_SEG_LEN}, n_bytes - i * {_SEG_HOP}) AS INT) AS n_samples
FROM exploded
"""


# --------------------------------------------------------------------------
# media_storage_layout_plan
# --------------------------------------------------------------------------


def _q_media_storage_layout_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    with_payload = attach_binary_payload(docs)
    per_variant = (
        with_payload.select(
            F.col("meta.width").alias("width"),
            F.col("meta.height").alias("height"),
            F.col("meta.n_bytes").alias("n_bytes"),
        )
        .groupBy("width", "height")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_bytes").alias("total_bytes"),
        )
    )
    blocks = F.ceil(F.col("total_bytes").cast("double") / _BLOCK).cast("bigint")
    return per_variant.select(
        "width",
        "height",
        "n_docs",
        "total_bytes",
        (F.col("total_bytes").cast("double") / F.col("n_docs")).alias("avg_bytes"),
        blocks.alias("n_blocks"),
        (blocks * _BLOCK - F.col("total_bytes")).alias("padding_waste_bytes"),
    )


_SQL_MEDIA_STORAGE_LAYOUT_PLAN = f"""
WITH per_variant AS (
  SELECT CAST(doc_id % 4 * 160 + 320 AS INT) AS width,
         CAST(doc_id % 3 * 120 + 240 AS INT) AS height,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(length(text)) AS BIGINT) AS total_bytes
  FROM documents
  GROUP BY 1, 2
)
SELECT width, height, n_docs, total_bytes,
       CAST(total_bytes AS DOUBLE) / n_docs AS avg_bytes,
       CAST(ceil(CAST(total_bytes AS DOUBLE) / {_BLOCK}) AS BIGINT) AS n_blocks,
       CAST(ceil(CAST(total_bytes AS DOUBLE) / {_BLOCK}) AS BIGINT) * {_BLOCK}
         - total_bytes AS padding_waste_bytes
FROM per_variant
"""


SPECS: dict[str, QuerySpec] = {
    "payload_chunk_manifest": QuerySpec(
        _q_payload_chunk_manifest,
        _SQL_PAYLOAD_CHUNK_MANIFEST,
        "content-addressable 128-byte chunk manifest with per-chunk "
        "md5 prefixes over the binary payload column",
    ),
    "audio_segment_windows": QuerySpec(
        _q_audio_segment_windows,
        _SQL_AUDIO_SEGMENT_WINDOWS,
        "fixed-rate audio-style segmentation grid (150-sample windows, "
        "75-sample hop) over payload bytes as 100 Hz samples",
    ),
    "media_storage_layout_plan": QuerySpec(
        _q_media_storage_layout_plan,
        _SQL_MEDIA_STORAGE_LAYOUT_PLAN,
        "per media-variant block-packing plan: totals, 128 KiB block "
        "counts and padding waste (metadata-only, payload never read)",
    ),
}
