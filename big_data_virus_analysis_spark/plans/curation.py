"""Corpus-curation funnel: per-stage retention accounting for the
LLM-training-data pipeline.

One query that audits the whole curation chain — language filter,
length bounds, exact dedup, token floor — emitting one row per stage
with surviving-document counts.  This is the governance artifact every
corpus build publishes ("the 100 TB crawl became 31 TB: here is where
each byte went"), composed entirely from the engine's own primitives
(filters, md5 exact-dedup key, token counting).

Scale shape: each stage count is a partial-aggregated scan branch of
the SAME single corpus pass (Spark computes the union's branches off
one cached/narrow scan; filters are cumulative so later branches nest
inside earlier predicates); the distinct-hash stages hash-aggregate on
the md5 key.  Output is |stages| rows regardless of corpus size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load_table
from . import QuerySpec

#: curation thresholds (fixture-calibrated but ordinary in kind)
_MIN_CHARS, _MAX_CHARS = 100, 400
_MIN_TOKENS = 30


def _q_corpus_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    s1 = docs
    s2 = s1.where(F.col("lang") == "en")
    s3 = s2.where(F.col("n_chars").between(_MIN_CHARS, _MAX_CHARS))
    s4 = s3.select(F.md5("text").alias("h")).distinct()
    s5 = (
        s3.where(F.size(F.split(F.col("text"), " ")) >= _MIN_TOKENS)
        .select(F.md5("text").alias("h"))
        .distinct()
    )

    def stage(no: int, name: str, df: DataFrame) -> DataFrame:
        return df.agg(
            F.lit(no).alias("stage_no"),
            F.lit(name).alias("stage"),
            F.count("*").alias("n_docs"),
        )

    return (
        stage(1, "raw", s1)
        .unionByName(stage(2, "lang_en", s2))
        .unionByName(stage(3, "length_ok", s3))
        .unionByName(stage(4, "dedup_exact", s4))
        .unionByName(stage(5, "token_floor", s5))
        .orderBy("stage_no")
    )


_SQL_CORPUS_CURATION_FUNNEL = """
WITH s2 AS (
  SELECT * FROM documents WHERE lang = 'en'
), s3 AS (
  SELECT * FROM s2 WHERE n_chars BETWEEN 100 AND 400
), s4 AS (
  SELECT DISTINCT md5(text) AS h FROM s3
), s5 AS (
  SELECT DISTINCT md5(text) AS h FROM s3
  WHERE len(string_split(text, ' ')) >= 30
)
SELECT 1 AS stage_no, 'raw' AS stage, count(*) AS n_docs FROM documents
UNION ALL SELECT 2, 'lang_en', count(*) FROM s2
UNION ALL SELECT 3, 'length_ok', count(*) FROM s3
UNION ALL SELECT 4, 'dedup_exact', count(*) FROM s4
UNION ALL SELECT 5, 'token_floor', count(*) FROM s5
ORDER BY stage_no
"""


SPECS: dict[str, QuerySpec] = {
    "corpus_curation_funnel": QuerySpec(
        _q_corpus_curation_funnel,
        _SQL_CORPUS_CURATION_FUNNEL,
        "per-stage retention audit of the curation chain (lang → length → "
        "dedup → token floor)",
    ),
}
