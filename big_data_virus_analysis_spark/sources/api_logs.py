"""Raw API-call-log ingest.

The reference built one RDD *per file* in a driver loop — 1,604 jobs for
1,604 files (reference FeatureSelectionCloud.scala:268-338).  Here the
whole corpus is ONE scan: ``spark.read.text`` over both class
directories with ``input_file_name()`` providing file identity and the
path providing the class label.  At 100 TB this is the difference
between ~3,200 scheduled jobs and a single stage of ~800k tasks.

Line format (reference api_logs/*/LOG_API (N)converted.txt):
  ``"<ApiName> -\r"`` for clean, ``"<ApiName> +\r"`` for virus; the first
  line of each file is a bare ``" -"`` / ``" +"`` marker.  Cleanup strips
  spaces, ``+``, ``-`` and ``\r`` (the reference relied on textFile's
  CRLF handling for the ``\r``; we strip it explicitly — reference
  FeatureSelectionCloud.scala:333-337) and drops empty tokens.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

#: Class-name constants (reference readme.md:51 — 0.0 clean, 1.0 virus).
CLEAN, VIRUS = "clean", "virus"


def read_api_logs(
    spark: SparkSession,
    clean_dir: str,
    virus_dir: str,
) -> DataFrame:
    """One scan over both class directories.

    Returns ``DataFrame(file: string, class: string, raw_line: string)``.
    ``file`` is the basename so that downstream grouping keys are stable
    across filesystems.
    """
    frames = []
    for cls, path in ((CLEAN, clean_dir), (VIRUS, virus_dir)):
        frames.append(
            spark.read.text(path)
            .select(
                F.element_at(F.split(F.input_file_name(), "/"), -1).alias("file"),
                F.lit(cls).alias("class"),
                F.col("value").alias("raw_line"),
            )
        )
    return frames[0].unionByName(frames[1])


def clean_tokens(raw: DataFrame) -> DataFrame:
    """raw lines -> non-empty cleaned API tokens.

    Mirrors the reference's replace(" "/"+"/"-") + non-empty filter
    (FeatureSelectionCloud.scala:333-337) with an explicit ``\\r`` strip.
    Pure built-in expressions — stays inside whole-stage codegen.
    """
    return (
        raw.withColumn("api", F.regexp_replace("raw_line", r"[ +\-\r]", ""))
        .where(F.length("api") > 0)
        .drop("raw_line")
    )


def _doc_cls() -> list[Column]:
    """The document identity of an api-log row: ``doc`` is the
    class-qualified file name (clean/ and virus/ dirs reuse the same
    basenames, LOG_API (N)converted.txt, so the bare name is not an
    identity) and ``cls`` is ``pos`` for virus (label 1.0, reference
    readme.md:51)."""
    return [
        F.concat_ws("/", "class", "file").alias("doc"),
        F.when(F.col("class") == VIRUS, F.lit("pos")).otherwise(F.lit("neg")).alias("cls"),
    ]


def api_log_doc_classes(raw: DataFrame) -> DataFrame:
    """One ``(doc, cls)`` row per scanned file — the IG document totals."""
    return raw.select(*_doc_cls()).distinct()


def api_log_tokens(raw: DataFrame) -> DataFrame:
    """Adapt the api-log corpus to the generic feature-selection shape
    ``(doc, cls, token)`` consumed by ``operators.features``."""
    return clean_tokens(raw).select(*_doc_cls(), F.col("api").alias("token"))


def api_log_byte_tokens(raw: DataFrame, width: int = 14) -> DataFrame:
    """Byte-mode alternate tokenizer: every uppercased ``width``-char
    sliding window of each raw line becomes a token.

    The reference implemented this (createByteFeatures,
    FeatureSelectionCloud.scala:257-321) for hexdump inputs but main()
    never calls it (SURVEY.md §7 hazard 4); it is part of the declared
    capability surface, so it ships as a first-class tokenizer that
    plugs into the same ``(doc, cls, token)`` feature pipeline.
    """
    from ..functions.text import shingles

    return raw.select(
        *_doc_cls(), F.explode(shingles(F.col("raw_line"), width=width)).alias("token")
    ).where(F.length("token") == width)


def api_log_feature_chain(
    spark: SparkSession, clean_dir: str, virus_dir: str
) -> tuple[DataFrame, DataFrame]:
    """The reference FeatureSelectionCloud chain over one corpus: scan →
    tokens → information-gain top-2000 (:376-442) → vocab → per-doc
    vectors (:494-519).

    Returns ``(ranked, vectors)``: ``ranked`` is
    ``info_gain_ranking``'s ``(token, pos_df, neg_df, info_gain, rank)``
    and ``vectors`` is ``doc_vectors``' ``(doc, label, indices)``.  The
    IG totals count every scanned file, token-less ones included, as
    the reference's bucket listing did (FeatureSelectionCloud.scala
    :122-123).  The token frame feeds both the ranking and the vectors,
    so it is tracked-cached.
    """
    from ..operators.caching import tracked_cache
    from ..operators.features import info_gain_ranking
    from ..operators.vectorize import doc_vectors

    raw = read_api_logs(spark, clean_dir, virus_dir)
    toks = api_log_tokens(raw).transform(tracked_cache)
    ranked = info_gain_ranking(toks, k=2000, doc_classes=api_log_doc_classes(raw))
    return ranked, doc_vectors(toks, ranked.select("token", "rank"))


def api_log_libsvm_lines(spark: SparkSession, clean_dir: str, virus_dir: str) -> DataFrame:
    """``(doc, line)`` LIBSVM rows of :func:`api_log_feature_chain` with
    the doc id spelled as on disk: ``input_file_name()`` URL-encodes
    spaces (%20), and the corpus file names contain spaces and nothing
    else that encodes."""
    from ..operators.vectorize import libsvm_text

    _, vectors = api_log_feature_chain(spark, clean_dir, virus_dir)
    return libsvm_text(vectors).select(
        F.replace(F.col("doc"), F.lit("%20"), F.lit(" ")).alias("doc"), "line"
    )
