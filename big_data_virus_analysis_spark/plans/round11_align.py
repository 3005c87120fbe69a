"""Round-11 cross-corpus alignment pack: eval-set contamination with
per-eval-doc best-match provenance (r10 VERDICT directive #6).

The catalog has every similarity/dedup primitive but had no
*cross-corpus* alignment query: given a TRAIN corpus and an EVAL
corpus (here the deterministic ``doc_id < N_EVAL`` split of
``documents``, the plans/contamination.py convention), which eval
documents leak into training, WHICH training document is the best
match for each, and how does the verdict move between two Jaccard
thresholds?  This is the provenance table a decontamination run
actually ships — not just "contaminated: yes/no" but "eval doc 3 is a
0.91-Jaccard copy of train doc 1047, found via 6 shared LSH bands,
out of 4 candidates".

* ``eval_contamination_bestmatch`` — banded MinHash buckets (the
  md5 family of ``operators/dedup.py::minhash_band_keys``, k=32,
  8 bands — byte-identical signatures to ``minhash_lsh_pairs``) keyed
  cross-corpus: train bands join the BROADCAST eval bands (benchmark
  suites are a few MB; the training corpus is never shuffled).  Every
  candidate pair then gets its EXACT trigram Jaccard (the
  ``ngram_jaccard_pairs`` definition, micro-units), and each eval doc
  keeps its best match under the strict total order
  (−jaccard_micro, train_doc).  Eval docs with no candidate emit a
  NULL-provenance row — absence of contamination is data too.
* ``eval_contamination_threshold_rollup`` — the same scored candidate
  set rolled up at BOTH thresholds (strict ``T_HI``, loose ``T_LO``):
  eval docs flagged, train docs implicated, candidate pairs over the
  bar.  Two rows, one per threshold — the knob table a corpus owner
  reads before choosing the cutoff.
* ``eval_lsh_recall_audit`` — the honesty check on the bucketed path:
  ground-truth cross-corpus pairs at ``T_LO`` computed EXACTLY (gram
  join against the broadcast eval side — bounded by the eval corpus,
  so exhaustive truth is affordable precisely where it is needed),
  then measured against the LSH candidate set: true pairs, candidates,
  hits, misses, recall in millis, plus the candidate false-positive
  count.  A recall regression in the banded path reads as data.

100-TB shape: signatures are |docs| × 32 longs (the standard
materialize-signatures design, cached once); the only corpus-sized
shuffles are the gram/signature aggregates.  Every join against the
eval side is an explicit ``F.broadcast`` — candidates, grams, sizes —
so the train corpus streams partition-local end to end.  The
best-match selection is a hash aggregate keyed by eval_doc (struct
min), not a window.

Identity property (tests/test_properties.py): on random two-corpus
universes, a pure-Python replication of band-bucket candidacy +
exact-Jaccard best match equals brute-force best match whenever the
true best pair shares ≥1 band, and the recall audit's miss count
equals the brute-force count of true pairs sharing no band.

No reference counterpart (curation extension alongside
plans/contamination.py); public algorithms only (Broder 1997 MinHash,
Leskovec-Rajaraman-Ullman banding).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.caching import tracked_cache
from ..operators.dedup import minhash_band_keys, word_ngrams
from ..sources.tables import load_table
from . import QuerySpec
from .frames import minhash_sig_ctes

#: eval corpus = doc_id < N_EVAL (plans/contamination.py convention,
#: widened so the best-match table has real spread at sf0.01+)
N_EVAL = 20
#: MinHash geometry — identical to the dedup flagship (k=32, 8 bands)
MH_K = 32
MH_BANDS = 8
#: strict / loose contamination thresholds, Jaccard micro-units
T_HI = 800_000
T_LO = 500_000


def _scored_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(train_doc, eval_doc, n_shared_bands, jaccard_micro): LSH
    candidate pairs with their exact trigram Jaccard.  Cached — the
    bestmatch and rollup queries both fold it."""
    docs = load_table(spark, sf_dir, "documents")
    bands = minhash_band_keys(docs, n=3, k=MH_K, bands=MH_BANDS)
    ev_b = bands.where(F.col("doc_id") < N_EVAL).select(
        F.col("doc_id").alias("eval_doc"), "band", "key"
    )
    tr_b = bands.where(F.col("doc_id") >= N_EVAL).select(
        F.col("doc_id").alias("train_doc"), "band", "key"
    )
    cand = (
        tr_b.join(F.broadcast(ev_b), ["band", "key"])
        .groupBy("train_doc", "eval_doc")
        .agg(F.count(F.lit(1)).alias("n_shared_bands"))
    )
    # r11 optimization (guide §5 caching): dg feeds THREE subtrees
    # (sizes, the eval gram index, the train fan-out) — uncached, the
    # corpus-sized gram build ran once per subtree
    dg = tracked_cache(word_ngrams(docs, 3))  # distinct (doc_id, gram)
    sizes = dg.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    ev_g = dg.where(F.col("doc_id") < N_EVAL).select(
        F.col("doc_id").alias("eval_doc"), "gram"
    )
    tr_g = dg.where(F.col("doc_id") >= N_EVAL).select(
        F.col("doc_id").alias("train_doc"), "gram"
    )
    # exact intersection restricted to the candidate set: candidates
    # fan out by their train grams (bounded per doc), then probe the
    # BROADCAST eval gram index — the train corpus never reshuffles
    inter = (
        cand.join(tr_g, "train_doc")
        .join(F.broadcast(ev_g), ["eval_doc", "gram"])
        .groupBy("train_doc", "eval_doc")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    ev_sz = sizes.where(F.col("doc_id") < N_EVAL).select(
        F.col("doc_id").alias("eval_doc"), F.col("sz").alias("sz_e")
    )
    tr_sz = sizes.where(F.col("doc_id") >= N_EVAL).select(
        F.col("doc_id").alias("train_doc"), F.col("sz").alias("sz_t")
    )
    return (
        cand.join(inter, ["train_doc", "eval_doc"], "left")
        .join(tr_sz, "train_doc")
        .join(F.broadcast(ev_sz), "eval_doc")
        .select(
            "train_doc",
            "eval_doc",
            "n_shared_bands",
            F.expr(
                "CAST(round(coalesce(inter, 0) * 1000000.0"
                " / (sz_t + sz_e - coalesce(inter, 0)), 0) AS BIGINT)"
            ).alias("jaccard_micro"),
        )
    )


def _q_eval_contamination_bestmatch(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    scored = tracked_cache(_scored_candidates(spark, sf_dir))
    best = scored.groupBy("eval_doc").agg(
        # strict total order (−jaccard, train_doc) makes the winner
        # unique; the bands count rides the struct
        F.min(
            F.struct(
                (-F.col("jaccard_micro")).alias("nj"),
                F.col("train_doc").alias("td"),
                F.col("n_shared_bands").alias("nb"),
            )
        ).alias("m"),
        F.count(F.lit(1)).alias("n_candidates"),
    )
    evs = docs.where(F.col("doc_id") < N_EVAL).select(
        F.col("doc_id").alias("eval_doc")
    )
    return (
        evs.join(best, "eval_doc", "left")
        .select(
            "eval_doc",
            F.col("m.td").alias("best_train_doc"),
            (-F.col("m.nj")).cast("bigint").alias("best_jaccard_micro"),
            F.col("m.nb").alias("best_shared_bands"),
            F.coalesce("n_candidates", F.lit(0).cast("bigint")).alias(
                "n_candidates"
            ),
            F.coalesce(
                -F.col("m.nj") >= T_HI, F.lit(False)
            ).alias("flagged_strict"),
            F.coalesce(
                -F.col("m.nj") >= T_LO, F.lit(False)
            ).alias("flagged_loose"),
        )
        .orderBy("eval_doc")
    )


def _q_eval_contamination_threshold_rollup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    scored = tracked_cache(_scored_candidates(spark, sf_dir))
    legs = None
    for tag, t in (("strict", T_HI), ("loose", T_LO)):
        leg = scored.where(F.col("jaccard_micro") >= t).agg(
            F.lit(tag).alias("threshold"),
            F.lit(t).cast("bigint").alias("threshold_micro"),
            F.count_distinct("eval_doc").alias("n_eval_flagged"),
            F.count_distinct("train_doc").alias("n_train_implicated"),
            F.count(F.lit(1)).alias("n_pairs_over"),
        )
        legs = leg if legs is None else legs.unionByName(leg)
    return legs.orderBy("threshold")


def _q_eval_lsh_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    scored = tracked_cache(_scored_candidates(spark, sf_dir))
    # exhaustive cross-corpus truth at T_LO: affordable because the
    # eval side broadcasts (gram index AND sizes) — the train corpus
    # streams once, partition-local.  dg cached (r11): it feeds four
    # subtrees here (truth's two sides + both size frames).
    dg = tracked_cache(word_ngrams(docs, 3))
    sizes = dg.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    ev_g = dg.where(F.col("doc_id") < N_EVAL).select(
        F.col("doc_id").alias("eval_doc"), "gram"
    )
    tr_g = dg.where(F.col("doc_id") >= N_EVAL).select(
        F.col("doc_id").alias("train_doc"), "gram"
    )
    ev_sz = sizes.where(F.col("doc_id") < N_EVAL).select(
        F.col("doc_id").alias("eval_doc"), F.col("sz").alias("sz_e")
    )
    tr_sz = sizes.where(F.col("doc_id") >= N_EVAL).select(
        F.col("doc_id").alias("train_doc"), F.col("sz").alias("sz_t")
    )
    truth = (
        tr_g.join(F.broadcast(ev_g), "gram")
        .groupBy("train_doc", "eval_doc")
        .agg(F.count(F.lit(1)).alias("inter"))
        .join(tr_sz, "train_doc")
        .join(F.broadcast(ev_sz), "eval_doc")
        .where(
            F.expr(
                "CAST(round(inter * 1000000.0 / (sz_t + sz_e - inter), 0)"
                " AS BIGINT)"
            )
            >= T_LO
        )
        .select("train_doc", "eval_doc")
    )
    cand = scored.select(
        "train_doc", "eval_doc", F.lit(1).alias("is_cand"), "jaccard_micro"
    )
    joined = truth.join(cand, ["train_doc", "eval_doc"], "left")
    t_agg = joined.agg(
        F.count(F.lit(1)).alias("n_true_pairs"),
        F.coalesce(
            F.sum(F.coalesce("is_cand", F.lit(0))), F.lit(0)
        ).alias("n_hits"),
    )
    c_agg = scored.agg(
        F.count(F.lit(1)).alias("n_candidates"),
        F.coalesce(
            F.sum(F.when(F.col("jaccard_micro") < T_LO, 1).otherwise(0)),
            F.lit(0),
        ).alias("n_false_positives"),
    )
    return t_agg.crossJoin(F.broadcast(c_agg)).select(
        "n_true_pairs",
        F.col("n_hits").cast("bigint").alias("n_hits"),
        (F.col("n_true_pairs") - F.col("n_hits"))
        .cast("bigint")
        .alias("n_misses"),
        F.expr(
            "CASE WHEN n_true_pairs = 0 THEN NULL"
            " ELSE CAST(n_hits * 1000 div n_true_pairs AS BIGINT) END"
        ).alias("recall_millis"),
        "n_candidates",
        F.col("n_false_positives").cast("bigint").alias("n_false_positives"),
    )


# --------------------------------------------------------------------------
# DuckDB oracle twins — md5 signature family shared with the dedup
# flagship (frames.minhash_sig_ctes), split cross-corpus
# --------------------------------------------------------------------------

_SQL_GRAM_IDS = """
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS tokens FROM documents
), grams AS (
  SELECT doc_id, unnest(list_transform(generate_series(1, len(tokens) - 2),
         i -> array_to_string(list_slice(tokens, i, i + 2), ' '))) AS gram
  FROM toks WHERE len(tokens) >= 3
), dg AS (
  SELECT DISTINCT doc_id, gram FROM grams
), ids AS (
  -- tid = md5-prefix BIGINT (bit-identical to Spark's conv(substring(md5)..));
  -- reduce mod 2^31 before the multiply so the product stays < 2^63
  SELECT doc_id,
         ((CAST(('0x' || substr(md5(gram), 1, 15)) AS BIGINT) % 2147483648)
          * 2654435761) % 2147483648 AS s
  FROM dg
)
"""


def _sql_scored_ctes() -> str:
    """CTEs through ``scored(train_doc, eval_doc, n_shared_bands,
    jaccard_micro)`` — the relational twin of _scored_candidates."""
    return (
        _SQL_GRAM_IDS
        + minhash_sig_ctes(MH_K, MH_K // MH_BANDS)
        + f""", cand AS MATERIALIZED (
  SELECT t.doc_id AS train_doc, e.doc_id AS eval_doc,
         CAST(count(*) AS BIGINT) AS n_shared_bands
  FROM band_keys t
  JOIN band_keys e ON t.band = e.band AND t.key = e.key
  WHERE t.doc_id >= {N_EVAL} AND e.doc_id < {N_EVAL}
  GROUP BY 1, 2
), sizes AS MATERIALIZED (
  SELECT doc_id, count(*) AS sz FROM dg GROUP BY doc_id
), inter AS MATERIALIZED (
  SELECT c.train_doc, c.eval_doc, count(*) AS inter
  FROM cand c
  JOIN dg t ON t.doc_id = c.train_doc
  JOIN dg e ON e.doc_id = c.eval_doc AND e.gram = t.gram
  GROUP BY 1, 2
), scored AS MATERIALIZED (
  SELECT c.train_doc, c.eval_doc, c.n_shared_bands,
         CAST(round(coalesce(i.inter, 0) * 1000000.0
              / (st.sz + se.sz - coalesce(i.inter, 0)), 0) AS BIGINT)
           AS jaccard_micro
  FROM cand c
  LEFT JOIN inter i
    ON i.train_doc = c.train_doc AND i.eval_doc = c.eval_doc
  JOIN sizes st ON st.doc_id = c.train_doc
  JOIN sizes se ON se.doc_id = c.eval_doc
)"""
    )


_SQL_BESTMATCH = (
    _sql_scored_ctes()
    + f"""
, best AS (
  SELECT eval_doc,
         min(struct_pack(nj := -jaccard_micro, td := train_doc,
                         nb := n_shared_bands)) AS m,
         CAST(count(*) AS BIGINT) AS n_candidates
  FROM scored GROUP BY eval_doc
)
SELECT d.doc_id AS eval_doc,
       (b.m).td AS best_train_doc,
       CAST(-(b.m).nj AS BIGINT) AS best_jaccard_micro,
       (b.m).nb AS best_shared_bands,
       coalesce(b.n_candidates, 0) AS n_candidates,
       coalesce(-(b.m).nj >= {T_HI}, false) AS flagged_strict,
       coalesce(-(b.m).nj >= {T_LO}, false) AS flagged_loose
FROM (SELECT doc_id FROM documents WHERE doc_id < {N_EVAL}) d
LEFT JOIN best b ON b.eval_doc = d.doc_id
ORDER BY eval_doc
"""
)

_SQL_ROLLUP = (
    _sql_scored_ctes()
    + f"""
, legs(tag, t) AS (VALUES ('strict', {T_HI}), ('loose', {T_LO}))
SELECT tag AS threshold,
       CAST(t AS BIGINT) AS threshold_micro,
       CAST(count(DISTINCT CASE WHEN jaccard_micro >= t
                                THEN eval_doc END) AS BIGINT)
         AS n_eval_flagged,
       CAST(count(DISTINCT CASE WHEN jaccard_micro >= t
                                THEN train_doc END) AS BIGINT)
         AS n_train_implicated,
       CAST(coalesce(sum(CASE WHEN jaccard_micro >= t THEN 1 END), 0)
            AS BIGINT) AS n_pairs_over
-- LEFT JOIN ON TRUE (not CROSS JOIN): both legs must emit zero rows
-- even when the candidate set is empty, matching Spark's global agg
FROM legs LEFT JOIN scored ON TRUE
GROUP BY tag, t
ORDER BY threshold
"""
)

_SQL_RECALL = (
    _sql_scored_ctes()
    + f"""
, truth AS (
  SELECT t.doc_id AS train_doc, e.doc_id AS eval_doc
  FROM dg t
  JOIN dg e ON e.gram = t.gram
  JOIN (SELECT doc_id, count(*) AS sz FROM dg GROUP BY doc_id) st
    ON st.doc_id = t.doc_id
  JOIN (SELECT doc_id, count(*) AS sz FROM dg GROUP BY doc_id) se
    ON se.doc_id = e.doc_id
  WHERE t.doc_id >= {N_EVAL} AND e.doc_id < {N_EVAL}
  GROUP BY t.doc_id, e.doc_id, st.sz, se.sz
  HAVING CAST(round(count(*) * 1000000.0
              / (st.sz + se.sz - count(*)), 0) AS BIGINT) >= {T_LO}
), t_agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n_true_pairs,
         CAST(coalesce(sum(CASE WHEN s.train_doc IS NOT NULL
                                THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_hits
  FROM truth tr
  LEFT JOIN scored s
    ON s.train_doc = tr.train_doc AND s.eval_doc = tr.eval_doc
), c_agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n_candidates,
         CAST(coalesce(sum(CASE WHEN jaccard_micro < {T_LO}
                                THEN 1 ELSE 0 END), 0) AS BIGINT)
           AS n_false_positives
  FROM scored
)
SELECT n_true_pairs, n_hits,
       n_true_pairs - n_hits AS n_misses,
       CASE WHEN n_true_pairs = 0 THEN NULL
            ELSE CAST(n_hits * 1000 // n_true_pairs AS BIGINT) END
         AS recall_millis,
       n_candidates, n_false_positives
FROM t_agg CROSS JOIN c_agg
"""
)


SPECS: dict[str, QuerySpec] = {
    "eval_contamination_bestmatch": QuerySpec(
        _q_eval_contamination_bestmatch,
        _SQL_BESTMATCH,
        "per-eval-doc contamination provenance: banded-MinHash "
        "cross-corpus candidates (eval side broadcast), exact trigram "
        "Jaccard, unique best match under (-jaccard, train_doc), "
        "two-threshold flags, NULL row when clean",
    ),
    "eval_contamination_threshold_rollup": QuerySpec(
        _q_eval_contamination_threshold_rollup,
        _SQL_ROLLUP,
        "contamination knob table: eval docs flagged / train docs "
        "implicated / pairs over the bar at the strict and loose "
        "thresholds, from one scored candidate set",
    ),
    "eval_lsh_recall_audit": QuerySpec(
        _q_eval_lsh_recall_audit,
        _SQL_RECALL,
        "banded-path honesty check: exhaustive cross-corpus truth at "
        "the loose threshold (affordable: eval side broadcast) vs the "
        "LSH candidate set — recall millis, misses, false positives",
    ),
}
