"""Round-11 compressibility pack: exact LZ78 phrase complexity per
document — the classical parse-based compressibility score an LLM
curation pipeline uses alongside the Gopher rules (templated /
boilerplate text parses into FEW phrases per character; high-entropy
junk parses into many).

* ``lz78_doc_compressibility`` — the LZ78 incremental parse (Ziv &
  Lempel 1978) of each document's first ``LZ_MAX_CHARS`` characters,
  as one per-row array fold: state = (dictionary of emitted phrases,
  current phrase w, phrase count); each character extends w, and the
  first extension NOT yet in the dictionary becomes a new phrase.
  Output per doc: chars parsed, phrase count (incl. the trailing
  partial phrase), and the density ``phrases * 1000 div chars`` — the
  compressibility score in millis (low = repetitive/templated,
  high = incompressible).
* ``lz78_source_quality_rollup`` — the per-source knob table: docs,
  total chars/phrases, pooled density, and the min/max per-doc
  densities with deterministic argmin/argmax doc ids — which source
  ships boilerplate and which ships noise.

The DuckDB twin replays the identical parse as a lockstep RECURSIVE
CTE (one iteration per character position, all documents advancing
together — the ``round10_cache`` Belady precedent), so both engines
walk the same integer trajectory; no float anywhere.

100-TB shape: ONE documents scan; the fold's state is bounded by
``LZ_MAX_CHARS`` (dictionary size ≤ chars parsed, each phrase ≤ the
prefix length), so per-row work is a constant independent of corpus
size; the rollup is a plain hash agg.  The prefix cap is emitted
per-row (``n_chars_used``) — scoring a bounded prefix is the standard
practice for parse-complexity quality signals, and the cap being data
keeps the premise auditable.

Identity properties (tests/test_properties.py): the pure-Python LZ78
parse (a) emits pairwise-DISTINCT phrases whose concatenation plus
the trailing partial reconstructs the input exactly, (b) counts at
most n phrases and at least ceil(sqrt(2n+1)-1) (the length-sum lower
bound), and (c) scores a periodic string strictly below a
same-length, same-alphabet de Bruijn-ish high-entropy string.

No reference counterpart (curation extension alongside
plans/gopher.py); public algorithm only (Ziv-Lempel 1978).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.caching import tracked_cache
from ..sources.tables import fan_out, load_table
from . import QuerySpec

#: parse-complexity prefix cap — bounds the fold state (dictionary
#: size and phrase length) so per-row work is corpus-independent
LZ_MAX_CHARS = 256

_LZ_FOLD = """aggregate(
  sequence(1, CAST(n_chars_used AS INT)),
  named_struct('d', CAST(array() AS ARRAY<STRING>),
               'w', CAST('' AS STRING),
               'np', CAST(0 AS BIGINT)),
  (acc, i) -> IF(
    array_contains(acc.d, concat(acc.w, substring(p, i, 1))),
    named_struct('d', acc.d,
                 'w', concat(acc.w, substring(p, i, 1)),
                 'np', acc.np),
    named_struct('d', concat(acc.d,
                             array(concat(acc.w, substring(p, i, 1)))),
                 'w', CAST('' AS STRING),
                 'np', acc.np + 1)),
  acc -> acc.np + IF(acc.w != '', 1, 0))"""


def _lz78_phrase_count(s: str) -> int:
    """The LZ78 parse of ``_LZ_FOLD``, verbatim: extend the current
    phrase w by each character; the first extension NOT yet in the
    dictionary is emitted and w resets; the trailing partial counts.
    Python strings hash at C speed, so the dictionary probe is O(1)
    where the Catalyst fold's array_contains is an O(|dict|) scan —
    equality with the fold is pinned by tests/test_operators.py::
    test_lz78_batch_parse_equals_fold_expression."""
    d: set[str] = set()
    w = ""
    n = 0
    for ch in s:
        w += ch
        if w not in d:
            d.add(w)
            n += 1
            w = ""
    return n + (1 if w else 0)


def _doc_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r11 optimization (guide §4.2): the _LZ_FOLD struct fold is the
    # SPECIFICATION, but executing it is O(chars x |dict| x phrase_len)
    # string compares per document inside interpreted Catalyst lambdas
    # (~12.8s at sf0.1, exp 0.86 — pure per-row compute).  The batch
    # path ships only (doc_id, source, p, n_chars_used) across the
    # Arrow boundary and runs the identical parse with O(1) hash
    # probes; the fold stays above as the oracle-matched spec.
    import pandas as pd

    # fan_out (guide §2.5): one parquet file → one input split → one
    # Python worker would parse every document; the guard no-ops once
    # the scan has real splits
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    staged = docs.where(F.length("text") > 0).select(
        "doc_id",
        "source",
        F.expr(f"substring(text, 1, {LZ_MAX_CHARS})").alias("p"),
        F.expr(
            f"CAST(least(length(text), {LZ_MAX_CHARS}) AS BIGINT)"
        ).alias("n_chars_used"),
    )

    def _batch(it):
        for pdf in it:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "source": pdf["source"],
                    "n_chars_used": pdf["n_chars_used"],
                    "n_phrases": [
                        _lz78_phrase_count(p) for p in pdf["p"]
                    ],
                }
            )

    return staged.mapInPandas(
        _batch,
        "doc_id bigint, source string, n_chars_used bigint, "
        "n_phrases bigint",
    ).select(
        "doc_id",
        "source",
        "n_chars_used",
        "n_phrases",
        F.expr("n_phrases * 1000 div n_chars_used").alias("density_milli"),
    )


def _q_lz78_doc_compressibility(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return _doc_scores(spark, sf_dir).orderBy("doc_id")


def _q_lz78_source_quality_rollup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    scores = tracked_cache(_doc_scores(spark, sf_dir))
    return (
        scores.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars_used").alias("total_chars"),
            F.sum("n_phrases").alias("total_phrases"),
            # deterministic argmin/argmax: doc_id breaks density ties
            F.min(
                F.struct(
                    F.col("density_milli").alias("dm"),
                    F.col("doc_id").alias("doc"),
                )
            ).alias("mn"),
            F.max(
                F.struct(
                    F.col("density_milli").alias("dm"),
                    (-F.col("doc_id")).alias("negdoc"),
                )
            ).alias("mx"),
        )
        .select(
            "source",
            "n_docs",
            "total_chars",
            "total_phrases",
            F.expr("total_phrases * 1000 div total_chars").alias(
                "pooled_density_milli"
            ),
            F.col("mn.dm").alias("min_density_milli"),
            F.col("mn.doc").alias("min_density_doc"),
            F.col("mx.dm").alias("max_density_milli"),
            (-F.col("mx.negdoc")).cast("bigint").alias("max_density_doc"),
        )
        .orderBy("source")
    )


_SQL_LZ_WALK = f"""
WITH RECURSIVE src AS MATERIALIZED (
  SELECT doc_id, source,
         substr(text, 1, {LZ_MAX_CHARS}) AS p,
         CAST(least(length(text), {LZ_MAX_CHARS}) AS BIGINT)
           AS n_chars_used
  FROM documents WHERE length(text) > 0
), walk AS (
  SELECT doc_id, CAST(0 AS BIGINT) AS i,
         CAST([] AS VARCHAR[]) AS d,
         '' AS w,
         CAST(0 AS BIGINT) AS np
  FROM src
  UNION ALL
  SELECT w.doc_id, w.i + 1,
         CASE WHEN list_contains(w.d, w.w || substr(s.p, CAST(w.i + 1 AS INT), 1))
              THEN w.d
              ELSE list_append(w.d, w.w || substr(s.p, CAST(w.i + 1 AS INT), 1))
         END,
         CASE WHEN list_contains(w.d, w.w || substr(s.p, CAST(w.i + 1 AS INT), 1))
              THEN w.w || substr(s.p, CAST(w.i + 1 AS INT), 1)
              ELSE ''
         END,
         w.np + CASE WHEN list_contains(w.d,
                       w.w || substr(s.p, CAST(w.i + 1 AS INT), 1))
                     THEN 0 ELSE 1 END
  FROM walk w
  JOIN src s ON s.doc_id = w.doc_id AND w.i < s.n_chars_used
), fin AS MATERIALIZED (
  SELECT w.doc_id,
         arg_max(w.np + CASE WHEN w.w != '' THEN 1 ELSE 0 END, w.i)
           AS n_phrases
  FROM walk w GROUP BY w.doc_id
), scores AS MATERIALIZED (
  SELECT s.doc_id, s.source, s.n_chars_used,
         CAST(f.n_phrases AS BIGINT) AS n_phrases,
         CAST(f.n_phrases * 1000 // s.n_chars_used AS BIGINT)
           AS density_milli
  FROM src s JOIN fin f ON f.doc_id = s.doc_id
)
"""

_SQL_LZ_DOCS = _SQL_LZ_WALK + """
SELECT doc_id, source, n_chars_used, n_phrases, density_milli
FROM scores ORDER BY doc_id
"""

_SQL_LZ_ROLLUP = _SQL_LZ_WALK + """
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars_used) AS BIGINT) AS total_chars,
       CAST(sum(n_phrases) AS BIGINT) AS total_phrases,
       CAST(sum(n_phrases) * 1000 // sum(n_chars_used) AS BIGINT)
         AS pooled_density_milli,
       min(density_milli) AS min_density_milli,
       CAST((min(struct_pack(dm := density_milli,
                             doc := doc_id))).doc AS BIGINT)
         AS min_density_doc,
       max(density_milli) AS max_density_milli,
       CAST(-((max(struct_pack(dm := density_milli,
                               negdoc := -doc_id))).negdoc) AS BIGINT)
         AS max_density_doc
FROM scores
GROUP BY source
ORDER BY source
"""


SPECS: dict[str, QuerySpec] = {
    "lz78_doc_compressibility": QuerySpec(
        _q_lz78_doc_compressibility,
        _SQL_LZ_DOCS,
        "exact LZ78 parse complexity per document (bounded-prefix "
        "array fold vs lockstep recursive-CTE replay): phrase count "
        "and density millis — the parse-based quality signal",
    ),
    "lz78_source_quality_rollup": QuerySpec(
        _q_lz78_source_quality_rollup,
        _SQL_LZ_ROLLUP,
        "per-source compressibility knob table: pooled density plus "
        "deterministic min/max density docs — boilerplate vs noise "
        "by source",
    ),
}
