"""Sequence & corpus-statistics pack: Markov transition matrices,
ordered path signatures, class-balance planning, and unigram-surprisal
document scoring.

The sequence-modeling prep tier of a training-data pipeline: turning
event logs into transition statistics and path features, and scoring
documents against corpus-level token statistics (the poor-man's version
of perplexity filtering à la CCNet — a unigram LM whose "model" is just
a broadcast frequency table).

Conventions as in catalog.py.  Scale notes inline; the common thread is
that per-key sequences are assembled with sort_array over collected
structs (deterministic, no cross-partition ordering assumptions) and
corpus statistics travel to the data as broadcast joins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.caching import tracked_cache
from ..sources.tables import load_table
from . import QuerySpec


# --------------------------------------------------------------------------
# Markov transition matrix over event types
# --------------------------------------------------------------------------

def _q_event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of event types: per-user
    time-ordered lag pairs → pair counts → row-normalized
    probabilities.  The lag window shuffles once on user_id (sequences
    stay inside their partition); the pair aggregation reduces to
    |types|² rows, and the row normalization windows over THAT tiny
    frame.  event_id breaks ts ties deterministically."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.withColumn("prev_type", F.lag("event_type").over(w))
        .where(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count("*").alias("n"))
    )
    wrow = Window.partitionBy("prev_type")
    return pairs.select(
        "prev_type",
        "next_type",
        "n",
        F.round(F.col("n") / F.sum("n").over(wrow), 6).alias("p"),
    ).orderBy("prev_type", "next_type")


_SQL_EVENT_TRANSITION_MATRIX = """
WITH pairs AS (
  SELECT prev_type, event_type AS next_type, count(*) AS n
  FROM (
    SELECT user_id, event_type,
           lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
             AS prev_type
    FROM events
  )
  WHERE prev_type IS NOT NULL
  GROUP BY 1, 2
)
SELECT prev_type, next_type, n,
       round(n / CAST(sum(n) OVER (PARTITION BY prev_type) AS DOUBLE), 6) AS p
FROM pairs
ORDER BY prev_type, next_type
"""


# --------------------------------------------------------------------------
# Ordered path signature per user (deterministic collect)
# --------------------------------------------------------------------------

def _q_user_path_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each user's first five event types in time order, serialized as
    a path string — the session-path feature for funnel/sequence
    models.  collect_list is partition-order nondeterministic, so the
    collect gathers (ts, event_id, type) STRUCTS, sort_array orders
    them exactly, and transform projects the types: deterministic on
    any cluster, one aggregation pass."""
    ev = load_table(spark, sf_dir, "events").where(F.col("user_id") < 300)
    touch = F.struct(
        F.unix_micros(F.col("ts")).alias("t"),
        F.col("event_id").alias("e"),
        F.col("event_type").alias("y"),
    )
    seq = F.sort_array(F.collect_list(touch))
    first5 = F.slice(F.transform(seq, lambda s: s.getField("y")), 1, 5)
    return ev.groupBy("user_id").agg(
        F.concat_ws(">", first5).alias("path5"),
        F.size(seq).alias("n_events"),
    )


# DuckDB's list aggregate with ORDER BY gives the exact deterministic
# sequence directly
_SQL_USER_PATH_SIGNATURE = """
SELECT user_id,
       array_to_string(
         (list(event_type ORDER BY ts, event_id))[1:5], '>') AS path5,
       CAST(count(*) AS INT) AS n_events
FROM events
WHERE user_id < 300
GROUP BY user_id
"""


# --------------------------------------------------------------------------
# Class-balance plan (per-class sampling fractions)
# --------------------------------------------------------------------------

def _q_class_balance_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language document counts with the downsampling fraction that
    balances every class to the rarest one — the input to
    `sampleBy(fractions)` for balanced training sets.  One aggregation;
    the global minimum travels via a whole-frame window over the
    |classes|-row aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("lang").agg(F.count("*").alias("n_docs"))
    w = Window.orderBy(F.lit(1))
    return (
        counts.withColumn("min_n", F.min("n_docs").over(w))
        .select(
            "lang",
            "n_docs",
            F.round(F.col("min_n") / F.col("n_docs"), 6).alias("sample_fraction"),
        )
        .orderBy("lang")
    )


_SQL_CLASS_BALANCE_PLAN = """
WITH counts AS (
  SELECT lang, count(*) AS n_docs FROM documents GROUP BY 1
)
SELECT lang, n_docs,
       round(min(n_docs) OVER () / CAST(n_docs AS DOUBLE), 6) AS sample_fraction
FROM counts
ORDER BY lang
"""


# --------------------------------------------------------------------------
# Unigram-surprisal document scoring (corpus-LM quality filter)
# --------------------------------------------------------------------------

def _q_doc_token_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean token surprisal per document under the corpus unigram LM:
    -log2(corpus_freq/total), averaged over the document's tokens —
    the cheap analogue of perplexity filtering (high mean surprisal ⇒
    rare-token gibberish, very low ⇒ boilerplate).  One DAG, no driver
    actions: corpus frequencies aggregate to a vocabulary-sized frame,
    the corpus total is a 1-row aggregate of that frame broadcast back
    onto it (NOT a whole-frame window: the vocabulary keeps growing
    with data — ids, typos — and an unpartitioned window would funnel
    every type through one task), and the scored vocabulary
    broadcast-joins back onto the token explode.  At 100 TB the
    frequency table is vocabulary-sized (≪ corpus), still a
    broadcast."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("tok")
    ).where(F.length("tok") > 0)
    tf = tracked_cache(toks.groupBy("tok").agg(F.count("*").alias("tf")))
    total = tf.agg(F.sum("tf").alias("_tot"))
    freqs = tf.crossJoin(F.broadcast(total)).withColumn(
        "surprisal", -F.log2(F.col("tf") / F.col("_tot"))
    )
    return (
        toks.join(F.broadcast(freqs.select("tok", "surprisal")), "tok")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.round(F.avg("surprisal"), 6).alias("mean_surprisal"),
        )
    )


_SQL_DOC_TOKEN_SURPRISAL = """
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
), nonempty AS (
  SELECT * FROM toks WHERE length(tok) > 0
), freqs AS (
  SELECT tok, count(*) AS tf FROM nonempty GROUP BY 1
), total AS (
  SELECT CAST(count(*) AS DOUBLE) AS total FROM nonempty
)
SELECT doc_id,
       count(*) AS n_tokens,
       round(avg(-log2(tf / total)), 6) AS mean_surprisal
FROM nonempty
JOIN freqs USING (tok)
CROSS JOIN total
GROUP BY doc_id
"""


# --------------------------------------------------------------------------
# Sequence-pattern counts (MATCH_RECOGNIZE via path-string encoding)
# --------------------------------------------------------------------------

def _q_sequence_pattern_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-pattern matching without MATCH_RECOGNIZE: each user's
    time-ordered events encode to a one-char-per-event path string
    (c/e/p/s/v initials are distinct), and pattern occurrences become
    regexp counts — view→purchase adjacencies (`vp`) and view runs of
    ≥3 (`vvv+`).  The encode is one deterministic ordered collect per
    user; the matching is a per-row regexp, embarrassingly parallel.
    This string-encoding trick is the standard distributed stand-in
    for SQL row-pattern matching."""
    ev = load_table(spark, sf_dir, "events").where(F.col("user_id") < 300)
    touch = F.struct(
        F.unix_micros(F.col("ts")).alias("t"),
        F.col("event_id").alias("e"),
        F.substring("event_type", 1, 1).alias("y"),
    )
    seq = F.sort_array(F.collect_list(touch))
    path = F.concat_ws("", F.transform(seq, lambda s: s.getField("y")))
    return (
        ev.groupBy("user_id")
        .agg(path.alias("path"))
        .select(
            "user_id",
            F.length("path").alias("n_events"),
            F.size(F.expr(r"regexp_extract_all(path, 'vp', 0)")).alias(
                "n_view_then_buy"
            ),
            F.size(F.expr(r"regexp_extract_all(path, 'vvv+', 0)")).alias(
                "n_view_runs3"
            ),
        )
    )


_SQL_SEQUENCE_PATTERN_COUNTS = """
WITH paths AS (
  SELECT user_id,
         string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id) AS path
  FROM events
  WHERE user_id < 300
  GROUP BY user_id
)
SELECT user_id,
       CAST(length(path) AS INT) AS n_events,
       CAST(len(regexp_extract_all(path, 'vp')) AS INT) AS n_view_then_buy,
       CAST(len(regexp_extract_all(path, 'vvv+')) AS INT) AS n_view_runs3
FROM paths
"""


# --------------------------------------------------------------------------
# Two-proportion z-test (A/B conversion comparison)
# --------------------------------------------------------------------------

def _q_ab_conversion_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test comparing purchase-conversion between an
    'exposed' cohort (even user_id — standing in for a treatment
    assignment) and control: pooled-variance z statistic in one
    aggregation pass.  The outcome is SCALE-FREE by construction —
    "user's first event is a view" holds ~1/5 of users at every scale
    factor (an any-purchase outcome saturates to 100% as history grows,
    degenerating the test to 0/0).  The whole test is two numbers per
    arm — the canonical experiment readout at any scale."""
    ev = load_table(spark, sf_dir, "events")
    first = F.min(
        F.struct(
            F.unix_micros(F.col("ts")).alias("t"),
            F.col("event_id").alias("e"),
            F.col("event_type").alias("y"),
        )
    )
    per_user = ev.groupBy("user_id").agg(
        (first.getField("y") == "view").cast("int").alias("converted")
    )
    arms = per_user.select(
        (F.col("user_id") % 2 == 0).cast("int").alias("exposed"), "converted"
    ).groupBy("exposed").agg(
        F.count("*").alias("n"), F.sum("converted").alias("conv")
    )
    wide = arms.agg(
        F.sum(F.when(F.col("exposed") == 1, F.col("n"))).alias("n1"),
        F.sum(F.when(F.col("exposed") == 1, F.col("conv"))).alias("c1"),
        F.sum(F.when(F.col("exposed") == 0, F.col("n"))).alias("n0"),
        F.sum(F.when(F.col("exposed") == 0, F.col("conv"))).alias("c0"),
    )
    p1 = F.col("c1") / F.col("n1").cast("double")
    p0 = F.col("c0") / F.col("n0").cast("double")
    pp = (F.col("c1") + F.col("c0")) / (F.col("n1") + F.col("n0")).cast("double")
    se = F.sqrt(pp * (1.0 - pp) * (1.0 / F.col("n1") + 1.0 / F.col("n0")))
    return wide.select(
        "n1",
        "c1",
        "n0",
        "c0",
        F.round(p1, 6).alias("rate_exposed"),
        F.round(p0, 6).alias("rate_control"),
        F.round((p1 - p0) / se, 6).alias("z_stat"),
    )


_SQL_AB_CONVERSION_ZTEST = """
WITH per_user AS (
  SELECT user_id,
         CASE WHEN (min(struct_pack(t := epoch_us(ts), e := event_id,
                                    y := event_type))).y = 'view'
              THEN 1 ELSE 0 END AS converted
  FROM events GROUP BY user_id
), wide AS (
  SELECT CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 END) AS BIGINT) AS n1,
         CAST(sum(CASE WHEN user_id % 2 = 0 THEN converted END) AS BIGINT) AS c1,
         CAST(sum(CASE WHEN user_id % 2 <> 0 THEN 1 END) AS BIGINT) AS n0,
         CAST(sum(CASE WHEN user_id % 2 <> 0 THEN converted END) AS BIGINT) AS c0
  FROM per_user
)
SELECT n1, c1, n0, c0,
       round(c1 / CAST(n1 AS DOUBLE), 6) AS rate_exposed,
       round(c0 / CAST(n0 AS DOUBLE), 6) AS rate_control,
       round((c1 / CAST(n1 AS DOUBLE) - c0 / CAST(n0 AS DOUBLE))
             / sqrt((c1 + c0) / CAST(n1 + n0 AS DOUBLE)
                    * (1.0 - (c1 + c0) / CAST(n1 + n0 AS DOUBLE))
                    * (1.0 / n1 + 1.0 / n0)), 6) AS z_stat
FROM wide
"""


SPECS: dict[str, QuerySpec] = {
    "event_transition_matrix": QuerySpec(
        _q_event_transition_matrix,
        _SQL_EVENT_TRANSITION_MATRIX,
        "first-order Markov transition probabilities over event types",
    ),
    "user_path_signature": QuerySpec(
        _q_user_path_signature,
        _SQL_USER_PATH_SIGNATURE,
        "deterministic ordered path-5 signature via sort_array of structs",
    ),
    "class_balance_plan": QuerySpec(
        _q_class_balance_plan,
        _SQL_CLASS_BALANCE_PLAN,
        "per-class balanced-sampling fractions (sampleBy input)",
    ),
    "doc_token_surprisal": QuerySpec(
        _q_doc_token_surprisal,
        _SQL_DOC_TOKEN_SURPRISAL,
        "unigram-LM mean surprisal quality score (perplexity-filter analogue)",
    ),
    "sequence_pattern_counts": QuerySpec(
        _q_sequence_pattern_counts,
        _SQL_SEQUENCE_PATTERN_COUNTS,
        "MATCH_RECOGNIZE-style row-pattern counts via path-string regexp",
    ),
    "ab_conversion_ztest": QuerySpec(
        _q_ab_conversion_ztest,
        _SQL_AB_CONVERSION_ZTEST,
        "two-proportion z-test experiment readout in one aggregation",
    ),
}
