"""Round-8 text pack — character-level corpus statistics.

The token-level siblings (source KL, doc surprisal, TTR/hapax) live in
plans/round6_text4.py; these three work at the CHARACTER unit, which is
what encoding-corruption and generator-fingerprint audits actually key
on (mojibake and template text shift char distributions long before
token distributions move).

* ``char_entropy_topdocs`` — per-document character-level Shannon
  entropy (nats), top 15 most char-diverse docs.  Per-char plogp terms
  are 1e-8-quantized before the cross-char sum (the repo's engine-
  order-independence discipline), top-k via orderBy+limit.
* ``char_kl_by_source`` — add-1-smoothed KL(source ‖ corpus) over the
  corpus character vocabulary grid, per source — the char-level
  provenance fingerprint (same grid + smoothing shape as the token
  ``source_kl`` family).
* ``lognormal_doclen_fit`` — per-source lognormal fit of document
  lengths from exact integer moments of 1e-6-quantized ln(n_chars):
  μ, σ, the implied lognormal mean exp(μ + σ²/2), and its ratio to the
  empirical mean — the "is length long-tailed the way web text is"
  audit that sizes sequence-packing bins.

100 TB shape: the char explode is corpus-linear with an immediate
per-(doc,char) partial agg; the KL grid is |sources| × |char vocab|
(tiny); the length fit never leaves the per-source aggregate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import fan_out, load_table
from . import QuerySpec

_CE_TOPK = 15


def _doc_chars(spark: SparkSession, sf_dir: str) -> DataFrame:
    # empty-text guard: F.sequence(1, 0) is DESCENDING [1, 0] (step -1
    # when start > stop) and would inject two empty "characters" per
    # empty document where the twin's range() yields none (r10 ADVICE)
    # fan_out (r11, guide §2.5): one parquet file = one input split —
    # the per-character explode ran on a single core otherwise
    docs = fan_out(
        load_table(spark, sf_dir, "documents").where(F.length("text") > 0)
    )
    return docs.select(
        "doc_id",
        "source",
        F.explode(F.sequence(F.lit(1), F.length("text"))).alias("i"),
        "text",
    ).select("doc_id", "source", F.substring("text", F.col("i"), 1).alias("ch"))


_SQL_DOC_CHARS = """
  SELECT doc_id, source, substr(text, CAST(i AS INT), 1) AS ch
  FROM documents, UNNEST(range(1, length(text) + 1)) AS u(i)
  WHERE length(text) > 0
"""


def _q_char_entropy_topdocs(spark: SparkSession, sf_dir: str) -> DataFrame:
    chars = _doc_chars(spark, sf_dir)
    counts = chars.groupBy("doc_id", "ch").agg(F.count(F.lit(1)).alias("c"))
    tot = counts.groupBy("doc_id").agg(
        F.sum("c").alias("n"), F.count(F.lit(1)).alias("n_distinct_chars")
    )
    p = F.col("c").cast("double") / F.col("n").cast("double")
    term8 = F.floor(-p * F.log(p) * 1e8 + 0.5).cast("bigint")
    return (
        counts.join(tot, "doc_id")
        .groupBy("doc_id", "n", "n_distinct_chars")
        .agg(F.sum(term8).alias("h8"))
        .select(
            "doc_id",
            F.col("n").alias("n_chars"),
            F.col("n_distinct_chars").cast("int").alias("n_distinct_chars"),
            F.round(F.col("h8").cast("double") / 1e8, 6).alias("char_entropy"),
        )
        .orderBy(F.desc("char_entropy"), F.asc("doc_id"))
        .limit(_CE_TOPK)
    )


_SQL_CHAR_ENTROPY_TOPDOCS = f"""
WITH chars AS ({_SQL_DOC_CHARS}),
counts AS (
  SELECT doc_id, ch, count(*) AS c FROM chars GROUP BY 1, 2
), tot AS (
  SELECT doc_id, sum(c) AS n, count(*) AS n_distinct_chars
  FROM counts GROUP BY 1
), terms AS (
  SELECT c.doc_id, t.n, t.n_distinct_chars,
         CAST(floor(-(CAST(c.c AS DOUBLE) / t.n)
                    * ln(CAST(c.c AS DOUBLE) / t.n) * 1e8 + 0.5) AS BIGINT)
           AS term8
  FROM counts c JOIN tot t USING (doc_id)
)
SELECT doc_id, CAST(n AS BIGINT) AS n_chars,
       CAST(n_distinct_chars AS INT) AS n_distinct_chars,
       round(CAST(sum(term8) AS DOUBLE) / 1e8, 6) AS char_entropy
FROM terms
GROUP BY doc_id, n, n_distinct_chars
ORDER BY char_entropy DESC, doc_id ASC
LIMIT {_CE_TOPK}
"""


def _q_char_kl_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    chars = _doc_chars(spark, sf_dir)
    sc = chars.groupBy("source", "ch").agg(F.count(F.lit(1)).alias("c"))
    corpus = chars.groupBy("ch").agg(F.count(F.lit(1)).alias("cc"))
    vocab = corpus.agg(
        F.count(F.lit(1)).alias("v"), F.sum("cc").alias("nn")
    )
    stot = sc.groupBy("source").agg(F.sum("c").alias("ns"))
    grid = (
        stot.crossJoin(F.broadcast(corpus))
        .join(sc, ["source", "ch"], "left")
        .crossJoin(F.broadcast(vocab))
        .select(
            "source",
            "ns",
            "v",
            (
                (F.coalesce("c", F.lit(0)) + 1).cast("double")
                / (F.col("ns") + F.col("v")).cast("double")
            ).alias("p"),
            (
                (F.col("cc") + 1).cast("double")
                / (F.col("nn") + F.col("v")).cast("double")
            ).alias("q"),
        )
    )
    term8 = F.floor(
        F.col("p") * F.log(F.col("p") / F.col("q")) * 1e8 + 0.5
    ).cast("bigint")
    return (
        grid.groupBy("source")
        .agg(
            F.first("v").alias("v"),
            F.sum(term8).alias("kl8"),
        )
        .select(
            "source",
            F.col("v").cast("int").alias("char_vocab"),
            F.round(F.col("kl8").cast("double") / 1e8, 6).alias("kl_vs_corpus"),
        )
        .orderBy("source")
    )


_SQL_CHAR_KL_BY_SOURCE = f"""
WITH chars AS ({_SQL_DOC_CHARS}),
sc AS (
  SELECT source, ch, count(*) AS c FROM chars GROUP BY 1, 2
), corpus AS (
  SELECT ch, count(*) AS cc FROM chars GROUP BY 1
), vocab AS (
  SELECT count(*) AS v, sum(cc) AS nn FROM corpus
), stot AS (
  SELECT source, sum(c) AS ns FROM sc GROUP BY 1
), grid AS (
  SELECT st.source, st.ns, vb.v,
         (coalesce(s.c, 0) + 1.0) / (st.ns + vb.v) AS p,
         (co.cc + 1.0) / (vb.nn + vb.v) AS q
  FROM stot st
  CROSS JOIN corpus co
  LEFT JOIN sc s ON s.source = st.source AND s.ch = co.ch
  CROSS JOIN vocab vb
), terms AS (
  SELECT source, v,
         CAST(floor(p * ln(p / q) * 1e8 + 0.5) AS BIGINT) AS term8
  FROM grid
)
SELECT source, CAST(v AS INT) AS char_vocab,
       round(CAST(sum(term8) AS DOUBLE) / 1e8, 6) AS kl_vs_corpus
FROM terms
GROUP BY source, v
ORDER BY source
"""


def _q_lognormal_doclen_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "source",
        "n_chars",
        F.floor(F.log(F.col("n_chars").cast("double")) * 1e6 + 0.5)
        .cast("bigint")
        .alias("l6"),
    )
    mom = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("l6").alias("s1"),
        F.sum(
            F.col("l6").cast("decimal(19,0)") * F.col("l6").cast("decimal(19,0)")
        ).alias("s2"),
        F.sum("n_chars").alias("sc"),
    )
    n = F.col("n").cast("double")
    mu = F.col("s1").cast("double") / n / 1e6
    var = F.col("s2").cast("double") / n / 1e12 - mu * mu
    implied = F.exp(mu + var / 2.0)
    emp = F.col("sc").cast("double") / n
    return mom.select(
        "source",
        F.col("n").alias("n_docs"),
        F.round(mu, 6).alias("mu_ln"),
        F.round(F.sqrt(var), 6).alias("sigma_ln"),
        F.round(implied, 6).alias("lognormal_mean"),
        F.round(emp, 6).alias("empirical_mean"),
        F.round(implied / emp, 6).alias("fit_ratio"),
    ).orderBy("source")


_SQL_LOGNORMAL_DOCLEN_FIT = """
WITH d AS (
  SELECT source, n_chars,
         CAST(floor(ln(CAST(n_chars AS DOUBLE)) * 1e6 + 0.5) AS BIGINT) AS l6
  FROM documents
), mom AS (
  SELECT source, count(*) AS n, sum(l6) AS s1,
         sum(CAST(l6 AS HUGEINT) * l6) AS s2, sum(n_chars) AS sc
  FROM d GROUP BY 1
), g AS (
  SELECT source, n,
         CAST(s1 AS DOUBLE) / n / 1e6 AS mu,
         CAST(s2 AS DOUBLE) / n / 1e12
           - (CAST(s1 AS DOUBLE) / n / 1e6) * (CAST(s1 AS DOUBLE) / n / 1e6)
           AS var,
         CAST(sc AS DOUBLE) / n AS emp
  FROM mom
)
SELECT source, CAST(n AS BIGINT) AS n_docs,
       round(mu, 6) AS mu_ln,
       round(sqrt(var), 6) AS sigma_ln,
       round(exp(mu + var / 2.0), 6) AS lognormal_mean,
       round(emp, 6) AS empirical_mean,
       round(exp(mu + var / 2.0) / emp, 6) AS fit_ratio
FROM g
ORDER BY source
"""


SPECS: dict[str, QuerySpec] = {
    "char_entropy_topdocs": QuerySpec(
        _q_char_entropy_topdocs,
        _SQL_CHAR_ENTROPY_TOPDOCS,
        "per-document character-level Shannon entropy (1e-8-quantized "
        "plogp terms), top-15 most char-diverse docs",
    ),
    "char_kl_by_source": QuerySpec(
        _q_char_kl_by_source,
        _SQL_CHAR_KL_BY_SOURCE,
        "add-1-smoothed character-distribution KL(source || corpus) "
        "over the corpus char-vocab grid — the char-level provenance "
        "fingerprint",
    ),
    "lognormal_doclen_fit": QuerySpec(
        _q_lognormal_doclen_fit,
        _SQL_LOGNORMAL_DOCLEN_FIT,
        "per-source lognormal fit of doc lengths from exact quantized "
        "ln moments (mu, sigma, implied-vs-empirical mean ratio)",
    ),
}
