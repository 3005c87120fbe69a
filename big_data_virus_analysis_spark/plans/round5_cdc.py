"""Round-5 storage-dedup pack: content-defined chunking (CDC).

``cdc_chunk_dedup_stats`` — the Rabin/Gear-style chunking that storage
dedup systems (rsync, LBFS, FastCDC lineage — all public) use to find
shared content between byte streams whose offsets shift: a chunk
boundary falls wherever a rolling hash of the last W bytes hits a
target residue, so an insertion early in a document only perturbs the
chunking locally instead of shifting every fixed-size block.

The relational trick: the classic gear hash h_t = (2·h_{t−1} + b_t)
mod 2^k FORGETS bytes older than k positions (each left-shift pushes a
bit out of the modulus), so it is exactly the windowed polynomial
h_t = Σ_{i=0..k−1} 2^i · b_{t−i} mod 2^k — a FIXED-WIDTH weighted lag
sum, expressible with k lag columns in any engine.  No sequential scan,
no UDF: boundaries, chunk ids (a running boundary count), per-chunk
hashes (ordered string_agg → md5), and corpus-level dedup ratios are
all window/aggregate algebra, identical in Spark and DuckDB.

Payload bytes are the documents' UTF-8 text (the synthetic corpus is
ASCII, so byte == code point — ``operators/multimodal.py``'s stand-in
contract); a real binary column would explode to the same (pos, byte)
frame.

Output per source: chunk count, distinct chunk hashes, duplicated-chunk
fraction (the storage-dedup win), mean chunk length.

Scale notes: the byte explode is the corpus's byte count — linear, one
shuffle by doc_id for the lag windows, one aggregate per chunk, then a
bounded per-source rollup; at 100 TB this is the standard CDC pass
(every byte touched once, boundaries computed locally per 13-byte
window, chunk hash state bounded by chunk size).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..sources.tables import load_table
from . import QuerySpec

_CDC_W = 13  # hash window width (bits of the modulus)
_CDC_MOD = 64  # boundary selectivity: ~1/64 positions → ~64-byte chunks
_CDC_RESIDUE = 7  # target residue (any fixed value; 0 degenerates on runs)


def _q_cdc_chunk_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # empty-text guard: F.sequence(1, 0) is DESCENDING [1, 0] and would
    # inject phantom positions for empty documents (r10 ADVICE class)
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "source", "text")
        .where(F.length("text") > 0)
    )
    pos = F.explode(F.sequence(F.lit(1), F.length("text"))).alias("pos")
    chars = docs.select("doc_id", "source", pos, F.col("text")).select(
        "doc_id",
        "source",
        "pos",
        F.ascii(F.expr("substring(text, pos, 1)")).alias("b"),
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    h = F.lit(0)
    for i in range(_CDC_W):
        h = h + F.lit(2**i) * F.coalesce(F.lag("b", i).over(w), F.lit(0))
    flagged = chars.withColumn(
        "boundary", ((h % (2**_CDC_W)) % _CDC_MOD == _CDC_RESIDUE).cast("int")
    )
    wprev = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    seg = flagged.withColumn(
        "chunk_id", F.coalesce(F.sum("boundary").over(wprev), F.lit(0))
    )
    chunks = seg.groupBy("doc_id", "source", "chunk_id").agg(
        F.md5(
            F.concat_ws(
                "",
                F.transform(
                    F.sort_array(
                        F.collect_list(F.struct(F.col("pos"), F.col("b")))
                    ),
                    lambda s: F.chr(s.getField("b")),
                ),
            )
        ).alias("chunk_hash"),
        F.count(F.lit(1)).alias("chunk_len"),
    )
    return chunks.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.count_distinct("chunk_hash").alias("n_distinct"),
        F.round(
            1.0
            - F.count_distinct("chunk_hash").cast("double")
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("dup_chunk_frac"),
        F.round(F.avg("chunk_len"), 6).alias("mean_chunk_len"),
    )


_LAG_TERMS = " + ".join(
    f"{2**i} * coalesce(lag(b, {i}) OVER (PARTITION BY doc_id ORDER BY pos), 0)"
    for i in range(_CDC_W)
)

_SQL_CDC_CHUNK_DEDUP_STATS = f"""
WITH chars AS (
  SELECT doc_id, source, pos, ascii(substr(text, pos, 1)) AS b
  FROM documents
  CROSS JOIN LATERAL (SELECT unnest(generate_series(1, length(text))) AS pos)
), flagged AS (
  SELECT doc_id, source, pos, b,
         CASE WHEN (({_LAG_TERMS}) % {2**_CDC_W}) % {_CDC_MOD} = {_CDC_RESIDUE}
              THEN 1 ELSE 0 END AS boundary
  FROM chars
), seg AS (
  SELECT doc_id, source, pos, b,
         coalesce(sum(boundary) OVER (PARTITION BY doc_id ORDER BY pos
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS chunk_id
  FROM flagged
), chunks AS (
  SELECT doc_id, source, chunk_id,
         md5(string_agg(chr(b), '' ORDER BY pos)) AS chunk_hash,
         count(*) AS chunk_len
  FROM seg GROUP BY 1, 2, 3
)
SELECT source, count(*) AS n_chunks,
       CAST(count(DISTINCT chunk_hash) AS BIGINT) AS n_distinct,
       round(1.0 - CAST(count(DISTINCT chunk_hash) AS DOUBLE)
                   / CAST(count(*) AS DOUBLE), 6) AS dup_chunk_frac,
       round(avg(chunk_len), 6) AS mean_chunk_len
FROM chunks GROUP BY source
"""


SPECS: dict[str, QuerySpec] = {
    "cdc_chunk_dedup_stats": QuerySpec(
        _q_cdc_chunk_dedup_stats,
        _SQL_CDC_CHUNK_DEDUP_STATS,
        "content-defined chunking dedup stats (gear-hash boundaries as a "
        "13-byte windowed lag sum — no sequential scan, no UDF): "
        "per-source chunk counts, distinct hashes, duplicated fraction",
    ),
}
