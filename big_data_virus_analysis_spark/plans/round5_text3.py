"""Round-5 corpus-statistics pack III: the corpus-growth and
dispersion laws that size tokenizers, vocabularies, and dedup budgets
— each an exact-oracle relational plan:

* ``heaps_law_curve`` — vocabulary growth V(n) at document-count
  checkpoints over a deterministic (md5) corpus order, computed WITHOUT
  re-scanning any prefix: each token's FIRST-occurrence document rank
  is one aggregate, and V(checkpoint) is then a count over that
  token-level frame.  The committed curve is what you extrapolate with
  Heaps' V(n)=K·n^β to budget vocab size at 100 TB.  Fitting data, not
  the fit, is emitted — the checkpoints are exact integers.
* ``burstiness_top_terms`` — Church/Gale burstiness for the 20
  highest-df terms: variance-to-mean ratio of per-document counts
  (zeros included, closed-form from Σx and Σx² against the corpus doc
  count).  VMR ≈ 1 ⇒ Poisson background term; VMR ≫ 1 ⇒ bursty
  content/boilerplate term — the signal quality filters key on.
* ``event_entropy_rate`` — the conditional entropy H(next|prev) of the
  event-type Markov chain (bits/event), alongside the unconditional
  H(type): how much the past compresses the stream.  Built on the same
  |types|²-bounded transition frame as markov_two_step_dist.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.prefix_sum import global_prefix_sum, global_row_number
from ..sources.tables import load_table
from . import QuerySpec

# --------------------------------------------------------------------------
# heaps_law_curve
# --------------------------------------------------------------------------

_HEAPS_STEP = 50  # checkpoint every 50 docs in md5 order


def _q_heaps_law_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checkpoint math is histogram-shaped on purpose: first-occurrence
    positions are bucketed to their checkpoint, so V(c) and the token
    totals are ONE hash-agg each plus a prefix sum over the (|docs| /
    step)-row bucket frame — never a (checkpoints × vocab) range join
    and never a prefix re-scan."""
    docs = load_table(spark, sf_dir, "documents")
    ranked = global_row_number(
        docs.select("doc_id", "text"),
        [F.asc(F.md5(F.col("doc_id").cast("string"))), F.asc("doc_id")],
        out_col="pos",
    )
    bucket = F.expr(f"((pos + {_HEAPS_STEP - 1}) div {_HEAPS_STEP}) * {_HEAPS_STEP}")
    toks = ranked.select(bucket.alias("checkpoint"), "pos", F.explode(F.split("text", " ")).alias("tok"))
    per_bucket_tok = toks.groupBy("checkpoint").agg(F.count(F.lit(1)).alias("n_tok"))
    first_seen = toks.groupBy("tok").agg(F.min("pos").alias("first_pos"))
    new_vocab = first_seen.select(
        F.expr(
            f"((first_pos + {_HEAPS_STEP - 1}) div {_HEAPS_STEP}) * {_HEAPS_STEP}"
        ).alias("checkpoint")
    ).groupBy("checkpoint").agg(F.count(F.lit(1)).alias("nv"))
    spine = per_bucket_tok.join(new_vocab, "checkpoint", "left").select(
        "checkpoint", "n_tok", F.coalesce("nv", F.lit(0)).alias("nv")
    )
    cum = global_prefix_sum(
        spine,
        order_col="checkpoint",
        value_col=["n_tok", "nv"],
        out_col=["cum_tokens", "vocab"],
    )
    return cum.select("checkpoint", "cum_tokens", "vocab")


_SQL_HEAPS_LAW_CURVE = f"""
WITH ranked AS (
  SELECT doc_id, text,
         row_number() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS pos
  FROM documents
), toks AS (
  SELECT ((pos + {_HEAPS_STEP - 1}) // {_HEAPS_STEP}) * {_HEAPS_STEP} AS checkpoint,
         pos, unnest(string_split(text, ' ')) AS tok
  FROM ranked
), per_bucket_tok AS (
  SELECT checkpoint, count(*) AS n_tok FROM toks GROUP BY checkpoint
), first_seen AS (
  SELECT tok, min(pos) AS first_pos FROM toks GROUP BY tok
), new_vocab AS (
  SELECT ((first_pos + {_HEAPS_STEP - 1}) // {_HEAPS_STEP}) * {_HEAPS_STEP} AS checkpoint,
         count(*) AS nv
  FROM first_seen GROUP BY 1
), spine AS (
  SELECT p.checkpoint, p.n_tok, coalesce(v.nv, 0) AS nv
  FROM per_bucket_tok p LEFT JOIN new_vocab v ON p.checkpoint = v.checkpoint
)
SELECT checkpoint,
       CAST(sum(n_tok) OVER (ORDER BY checkpoint ROWS UNBOUNDED PRECEDING) AS BIGINT)
         AS cum_tokens,
       CAST(sum(nv) OVER (ORDER BY checkpoint ROWS UNBOUNDED PRECEDING) AS BIGINT)
         AS vocab
FROM spine
"""


# --------------------------------------------------------------------------
# burstiness_top_terms
# --------------------------------------------------------------------------

_BURST_TOP = 20


def _q_burstiness_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    per_doc = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("tok", "doc_id")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    term = per_doc.groupBy("tok").agg(
        F.count(F.lit(1)).alias("df"),
        F.sum("c").alias("s1"),
        F.sum(F.col("c") * F.col("c")).alias("s2"),
    )
    # Top-N over the vocabulary-sized term frame via orderBy+limit:
    # Catalyst plans this as TakeOrderedAndProject (per-partition local
    # top-N, then a N-row merge on one reducer) — never a global sort of
    # the whole vocabulary through a single-partition window.
    top = term.orderBy(F.desc("df"), F.asc("tok")).limit(_BURST_TOP)
    # zeros included: mean/var against the full corpus doc count
    out = top.crossJoin(F.broadcast(n_docs))
    mean = F.col("s1").cast("double") / F.col("n_docs")
    var = F.col("s2").cast("double") / F.col("n_docs") - mean * mean
    return out.select(
        "tok",
        "df",
        F.col("s1").alias("total_count"),
        F.round(mean, 6).alias("mean_per_doc"),
        F.round(var / mean, 6).alias("vmr"),
    )


_SQL_BURSTINESS_TOP_TERMS = f"""
WITH per_doc AS (
  SELECT tok, doc_id, count(*) AS c
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
  GROUP BY tok, doc_id
), term AS (
  SELECT tok, count(*) AS df,
         CAST(sum(c) AS BIGINT) AS s1, CAST(sum(c * c) AS BIGINT) AS s2
  FROM per_doc GROUP BY tok
), top AS (
  SELECT * FROM term
  QUALIFY row_number() OVER (ORDER BY df DESC, tok ASC) <= {_BURST_TOP}
), nd AS (
  SELECT count(*) AS n_docs FROM documents
)
SELECT tok, df, s1 AS total_count,
       round(CAST(s1 AS DOUBLE) / n_docs, 6) AS mean_per_doc,
       round((CAST(s2 AS DOUBLE) / n_docs
              - (CAST(s1 AS DOUBLE) / n_docs) * (CAST(s1 AS DOUBLE) / n_docs))
             / (CAST(s1 AS DOUBLE) / n_docs), 6) AS vmr
FROM top CROSS JOIN nd
"""


# --------------------------------------------------------------------------
# event_entropy_rate
# --------------------------------------------------------------------------


def _q_event_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.withColumn("prev_type", F.lag("event_type").over(w))
        .where(F.col("prev_type").isNotNull())
        .groupBy("prev_type", "event_type")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    tot = Window.partitionBy()
    rw = Window.partitionBy("prev_type")
    terms = pairs.select(
        (F.col("c") / F.sum("c").over(tot)).alias("p_joint"),
        (F.col("c") / F.sum("c").over(rw)).alias("p_cond"),
    )
    h_cond = terms.agg(
        F.round(-F.sum(F.col("p_joint") * F.log2("p_cond")), 6).alias(
            "h_next_given_prev"
        )
    )
    h_marg = (
        ev.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("c"))
        .select((F.col("c") / F.sum("c").over(tot)).alias("p"))
        .agg(F.round(-F.sum(F.col("p") * F.log2("p")), 6).alias("h_type"))
    )
    return h_marg.crossJoin(F.broadcast(h_cond)).select(
        "h_type",
        "h_next_given_prev",
        F.round(F.col("h_type") - F.col("h_next_given_prev"), 6).alias(
            "predictive_information"
        ),
    )


_SQL_EVENT_ENTROPY_RATE = """
WITH seq AS (
  SELECT event_type,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev_type
  FROM events
), pairs AS (
  SELECT prev_type, event_type, count(*) AS c
  FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2
), terms AS (
  SELECT c / CAST(sum(c) OVER () AS DOUBLE) AS p_joint,
         c / CAST(sum(c) OVER (PARTITION BY prev_type) AS DOUBLE) AS p_cond
  FROM pairs
), hc AS (
  SELECT round(-sum(p_joint * log2(p_cond)), 6) AS h_next_given_prev FROM terms
), hm AS (
  SELECT round(-sum(p * log2(p)), 6) AS h_type
  FROM (SELECT count(*) / CAST(sum(count(*)) OVER () AS DOUBLE) AS p
        FROM events GROUP BY event_type)
)
SELECT h_type, h_next_given_prev,
       round(h_type - h_next_given_prev, 6) AS predictive_information
FROM hm CROSS JOIN hc
"""


SPECS: dict[str, QuerySpec] = {
    "heaps_law_curve": QuerySpec(
        _q_heaps_law_curve,
        _SQL_HEAPS_LAW_CURVE,
        "Heaps'-law vocabulary growth at md5-order document checkpoints "
        "via first-occurrence ranks (no prefix re-scans)",
    ),
    "burstiness_top_terms": QuerySpec(
        _q_burstiness_top_terms,
        _SQL_BURSTINESS_TOP_TERMS,
        "Church/Gale burstiness (per-doc count VMR, zeros included) for "
        "the 20 highest-df terms — Poisson vs bursty term separation",
    ),
    "event_entropy_rate": QuerySpec(
        _q_event_entropy_rate,
        _SQL_EVENT_ENTROPY_RATE,
        "conditional entropy H(next|prev) of the event-type chain vs "
        "marginal H(type); their gap = predictive information",
    ),
}
