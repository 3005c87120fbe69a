"""Round-9 planner/statistics-audit pack — two audits in the
zone-map/bloom/partition-pruning family (measure the planner artifact
against ground truth on the same data, in one query):

* ``histogram_selectivity_audit`` — the cardinality-estimation audit
  every cost-based optimizer rests on: build a 32-bin EQUI-WIDTH and a
  32-bin EQUI-DEPTH histogram over order price cents, estimate four
  fixed range predicates from each (uniform-within-bin interpolation),
  and report estimate vs TRUE count.  Estimates are exact integers in
  micro-rows (per-bin contribution = round(overlap_fraction · n_bin ·
  10⁶) — one deterministic division per bin, then integer sums), so
  the audit itself never depends on float summation order.  Expected
  shape: equi-depth wins on the skewed tails, equi-width on mid-range
  predicates — measured, not asserted.
* ``posting_intersection_order_audit`` — the classical IR-planner rule
  that conjunctive queries intersect posting lists RAREST-FIRST: for
  two fixed 3-token AND-queries over the documents token index, report
  the probe cost (|first list| + |first ∩ second|) of the given order
  vs the (df asc, token asc) rarest-first order, with the result count
  (identical by definition — intersection commutes) alongside.  The
  rarest list is chosen FROM THE DATA (window rank over the 3-row
  per-query df frame), not hardcoded, so the audit stays honest at
  every SF.

100 TB shape: one fact scan per histogram (rank via the two-phase
global rank for equi-depth), 32-row bin frames × 4-row predicate
literals for the estimate join; the posting audit aggregates the
inverted index once (distinct (token, doc)), pairwise intersections
ride a per-document self-join over ≤3 matched tokens per doc.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.caching import tracked_cache
from ..operators.prefix_sum import global_row_number
from ..sources.tables import load_table
from . import QuerySpec

_N_BINS = 32
#: fixed range predicates on price CENTS (lo inclusive, hi exclusive)
_PREDS = (
    (1, 100_00, 5_000_00),       # deep low tail
    (2, 5_000_00, 10_000_00),    # low-mid
    (3, 10_000_00, 20_000_00),   # bulk
    (4, 35_000_00, 60_000_00),   # upper tail
)


def _q_histogram_selectivity_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    # r12 (guide §5 — cache only when recompute beats the cache's
    # cost): vals fed four legs through a tracked_cache, but it is ONE
    # pruned bigint column off the orders scan — recomputing it per
    # leg is four column-pruned scans (~0.09 s each at sf0.1), while
    # the cache added a materialization barrier every leg waited on.
    # Uncached: 1.99 -> 1.42 s median at sf0.1 (the r11 edge-builder
    # recompute-the-narrow-frame precedent; at 100 TB each leg reads
    # one compressed column with pushdown instead of a corpus-sized
    # cache write + spill).
    vals = orders.select(
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("v")
    )
    ext = vals.agg(
        F.min("v").alias("vmin"),
        F.max("v").alias("vmax"),
        F.count(F.lit(1)).alias("n"),
    )
    # equi-width bins: b = (v - vmin) * 32 div (vmax - vmin + 1)
    width_bins = (
        vals.crossJoin(F.broadcast(ext))
        .select(
            F.expr(f"(v - vmin) * {_N_BINS} div (vmax - vmin + 1)").alias("b"),
            "v",
        )
        .groupBy("b")
        .agg(
            F.min("v").alias("lo"),
            F.max("v").alias("hi"),
            F.count(F.lit(1)).alias("n_bin"),
        )
    )
    # equi-depth bins: b = (rank - 1) * 32 div n (two-phase global rank)
    ranked = global_row_number(
        vals, order_exprs=[F.asc("v")], out_col="rk", n_col="n"
    )
    depth_bins = (
        ranked.select(
            F.expr(f"(rk - 1) * {_N_BINS} div n").alias("b"), "v"
        )
        .groupBy("b")
        .agg(
            F.min("v").alias("lo"),
            F.max("v").alias("hi"),
            F.count(F.lit(1)).alias("n_bin"),
        )
    )
    preds = spark.createDataFrame(
        list(_PREDS), "pred_id int, p_lo bigint, p_hi bigint"
    )

    def _estimate(bins: DataFrame, out: str) -> DataFrame:
        # closed integer bin [lo, hi] vs half-open predicate [p_lo, p_hi)
        j = bins.crossJoin(F.broadcast(preds))
        overlap = F.greatest(
            F.lit(0),
            F.least(F.col("hi"), F.col("p_hi") - 1)
            - F.greatest(F.col("lo"), F.col("p_lo"))
            + 1,
        )
        contrib = F.round(
            overlap.cast("double")
            / (F.col("hi") - F.col("lo") + 1).cast("double")
            * F.col("n_bin")
            * 1e6
        ).cast("bigint")
        return j.groupBy("pred_id").agg(F.sum(contrib).alias(out))

    est_w = _estimate(width_bins, "est_width_micro")
    est_d = _estimate(depth_bins, "est_depth_micro")
    truth = (
        vals.crossJoin(F.broadcast(preds))
        .where((F.col("v") >= F.col("p_lo")) & (F.col("v") < F.col("p_hi")))
        .groupBy("pred_id")
        .agg(F.count(F.lit(1)).alias("true_n"))
    )
    pd_ = preds.join(truth, "pred_id", "left").join(est_w, "pred_id").join(
        est_d, "pred_id"
    )
    tn = F.coalesce("true_n", F.lit(0)).cast("double")
    return pd_.select(
        "pred_id",
        "p_lo",
        "p_hi",
        F.coalesce("true_n", F.lit(0)).alias("true_n"),
        F.round(F.col("est_width_micro").cast("double") / 1e6, 6).alias(
            "est_width"
        ),
        F.round(F.col("est_depth_micro").cast("double") / 1e6, 6).alias(
            "est_depth"
        ),
        F.round(
            F.abs(F.col("est_width_micro").cast("double") / 1e6 - tn)
            / F.greatest(tn, F.lit(1.0)),
            6,
        ).alias("rel_err_width"),
        F.round(
            F.abs(F.col("est_depth_micro").cast("double") / 1e6 - tn)
            / F.greatest(tn, F.lit(1.0)),
            6,
        ).alias("rel_err_depth"),
    ).orderBy("pred_id")


_SQL_HISTOGRAM_SELECTIVITY_AUDIT = f"""
WITH vals AS MATERIALIZED (
  SELECT CAST(round(o_totalprice * 100, 0) AS BIGINT) AS v FROM orders
), ext AS (
  SELECT min(v) AS vmin, max(v) AS vmax, count(*) AS n FROM vals
), wbins AS MATERIALIZED (
  SELECT (v - vmin) * {_N_BINS} // (vmax - vmin + 1) AS b,
         min(v) AS lo, max(v) AS hi, count(*) AS n_bin
  FROM vals CROSS JOIN ext GROUP BY 1
), dbins AS MATERIALIZED (
  SELECT (rk - 1) * {_N_BINS} // n AS b,
         min(v) AS lo, max(v) AS hi, count(*) AS n_bin
  FROM (SELECT v, row_number() OVER (ORDER BY v) AS rk,
               count(*) OVER () AS n
        FROM vals)
  GROUP BY 1
), preds(pred_id, p_lo, p_hi) AS (
  VALUES {", ".join(f"({i}, {lo}, {hi})" for i, lo, hi in _PREDS)}
), est_w AS (
  SELECT pred_id,
         sum(CAST(round(CAST(greatest(0, least(hi, p_hi - 1)
                                        - greatest(lo, p_lo) + 1) AS DOUBLE)
                        / (hi - lo + 1) * n_bin * 1e6, 0) AS BIGINT))
           AS est_width_micro
  FROM wbins CROSS JOIN preds GROUP BY 1
), est_d AS (
  SELECT pred_id,
         sum(CAST(round(CAST(greatest(0, least(hi, p_hi - 1)
                                        - greatest(lo, p_lo) + 1) AS DOUBLE)
                        / (hi - lo + 1) * n_bin * 1e6, 0) AS BIGINT))
           AS est_depth_micro
  FROM dbins CROSS JOIN preds GROUP BY 1
), truth AS (
  SELECT pred_id, count(*) AS true_n
  FROM vals CROSS JOIN preds
  WHERE v >= p_lo AND v < p_hi
  GROUP BY 1
)
SELECT p.pred_id, p.p_lo, p.p_hi,
       CAST(coalesce(t.true_n, 0) AS BIGINT) AS true_n,
       round(CAST(w.est_width_micro AS DOUBLE) / 1e6, 6) AS est_width,
       round(CAST(d.est_depth_micro AS DOUBLE) / 1e6, 6) AS est_depth,
       round(abs(CAST(w.est_width_micro AS DOUBLE) / 1e6
                 - coalesce(t.true_n, 0))
             / greatest(CAST(coalesce(t.true_n, 0) AS DOUBLE), 1.0), 6)
         AS rel_err_width,
       round(abs(CAST(d.est_depth_micro AS DOUBLE) / 1e6
                 - coalesce(t.true_n, 0))
             / greatest(CAST(coalesce(t.true_n, 0) AS DOUBLE), 1.0), 6)
         AS rel_err_depth
FROM preds p
LEFT JOIN truth t USING (pred_id)
JOIN est_w w USING (pred_id)
JOIN est_d d USING (pred_id)
ORDER BY p.pred_id
"""


#: fixed conjunctive queries (token, given position)
_PQ = (
    (1, "data", 1),
    (1, "join", 2),
    (1, "dup", 3),
    (2, "small", 1),
    (2, "the", 2),
    (2, "key", 3),
)


def _q_posting_intersection_order_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    postings = (
        docs.select(
            "doc_id", F.explode(F.split("text", " ")).alias("tok")
        )
        .where(F.length("tok") > 0)
        .distinct()
    )
    qtok = spark.createDataFrame(
        list(_PQ), "q int, tok string, given_pos int"
    )
    matched = tracked_cache(postings.join(F.broadcast(qtok), "tok"))
    dfs = matched.groupBy("q", "tok", "given_pos").agg(
        F.count(F.lit(1)).alias("df")
    )
    pairs = (
        matched.alias("a")
        .join(
            matched.alias("b"),
            (F.col("a.q") == F.col("b.q"))
            & (F.col("a.doc_id") == F.col("b.doc_id"))
            & (F.col("a.tok") < F.col("b.tok")),
        )
        .groupBy(
            F.col("a.q").alias("q"),
            F.col("a.tok").alias("tok_a"),
            F.col("b.tok").alias("tok_b"),
        )
        .agg(F.count(F.lit(1)).alias("isize"))
    )
    full = (
        matched.groupBy("q", "doc_id")
        .agg(F.count(F.lit(1)).alias("k"))
        .where(F.col("k") == 3)
        .groupBy("q")
        .agg(F.count(F.lit(1)).alias("n_results"))
    )
    ranked = dfs.select(
        "q",
        "tok",
        "given_pos",
        "df",
        F.row_number()
        .over(Window.partitionBy("q").orderBy(F.asc("df"), F.asc("tok")))
        .alias("rare_rank"),
    )

    def _cost(rank_col: str, a_val: int, b_val: int, out: str) -> DataFrame:
        first = ranked.where(F.col(rank_col) == a_val).select(
            "q", F.col("tok").alias("t1"), F.col("df").alias("df1")
        )
        second = ranked.where(F.col(rank_col) == b_val).select(
            "q", F.col("tok").alias("t2")
        )
        return (
            first.join(second, "q")
            .join(
                pairs,
                (pairs["q"] == first["q"])
                & (pairs["tok_a"] == F.least("t1", "t2"))
                & (pairs["tok_b"] == F.greatest("t1", "t2")),
            )
            .select(
                first["q"].alias("q"),
                (F.col("df1") + F.col("isize")).alias(out),
                F.col("t1").alias(out + "_first"),
            )
        )

    cg = _cost("given_pos", 1, 2, "cost_given")
    cr = _cost("rare_rank", 1, 2, "cost_rarest")
    return (
        cg.join(cr, "q")
        .join(F.broadcast(full), "q")
        .select(
            "q",
            F.col("cost_given_first").alias("given_first_token"),
            "cost_given",
            F.col("cost_rarest_first").alias("rarest_first_token"),
            "cost_rarest",
            (F.col("cost_given") - F.col("cost_rarest")).alias(
                "probes_saved"
            ),
            "n_results",
        )
        .orderBy("q")
    )


_SQL_POSTING_INTERSECTION_ORDER_AUDIT = f"""
WITH postings AS MATERIALIZED (
  SELECT DISTINCT doc_id, tok FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
  ) WHERE length(tok) > 0
), qtok(q, tok, given_pos) AS (
  VALUES {", ".join(f"({q}, '{t}', {p})" for q, t, p in _PQ)}
), matched AS MATERIALIZED (
  SELECT p.doc_id, p.tok, q.q, q.given_pos
  FROM postings p JOIN qtok q USING (tok)
), dfs AS (
  SELECT q, tok, given_pos, count(*) AS df FROM matched GROUP BY 1, 2, 3
), pairs AS (
  SELECT a.q, a.tok AS tok_a, b.tok AS tok_b, count(*) AS isize
  FROM matched a JOIN matched b
    ON a.q = b.q AND a.doc_id = b.doc_id AND a.tok < b.tok
  GROUP BY 1, 2, 3
), fullq AS (
  SELECT q, count(*) AS n_results FROM (
    SELECT q, doc_id FROM matched GROUP BY 1, 2 HAVING count(*) = 3
  ) GROUP BY 1
), ranked AS (
  SELECT q, tok, given_pos, df,
         row_number() OVER (PARTITION BY q ORDER BY df ASC, tok ASC)
           AS rare_rank
  FROM dfs
), cg AS (
  SELECT f.q, f.df + p.isize AS cost_given, f.tok AS given_first_token
  FROM (SELECT q, tok, df FROM ranked WHERE given_pos = 1) f
  JOIN (SELECT q, tok FROM ranked WHERE given_pos = 2) s USING (q)
  JOIN pairs p ON p.q = f.q AND p.tok_a = least(f.tok, s.tok)
              AND p.tok_b = greatest(f.tok, s.tok)
), cr AS (
  SELECT f.q, f.df + p.isize AS cost_rarest, f.tok AS rarest_first_token
  FROM (SELECT q, tok, df FROM ranked WHERE rare_rank = 1) f
  JOIN (SELECT q, tok FROM ranked WHERE rare_rank = 2) s USING (q)
  JOIN pairs p ON p.q = f.q AND p.tok_a = least(f.tok, s.tok)
              AND p.tok_b = greatest(f.tok, s.tok)
)
SELECT cg.q, cg.given_first_token, CAST(cg.cost_given AS BIGINT) AS cost_given,
       cr.rarest_first_token, CAST(cr.cost_rarest AS BIGINT) AS cost_rarest,
       CAST(cg.cost_given - cr.cost_rarest AS BIGINT) AS probes_saved,
       CAST(f.n_results AS BIGINT) AS n_results
FROM cg JOIN cr USING (q) JOIN fullq f USING (q)
ORDER BY cg.q
"""


SPECS: dict[str, QuerySpec] = {
    "histogram_selectivity_audit": QuerySpec(
        _q_histogram_selectivity_audit,
        _SQL_HISTOGRAM_SELECTIVITY_AUDIT,
        "equi-width vs equi-depth 32-bin histogram cardinality "
        "estimates against true counts for 4 fixed price ranges "
        "(integer micro-row interpolation, two-phase rank for depth "
        "bins)",
    ),
    "posting_intersection_order_audit": QuerySpec(
        _q_posting_intersection_order_audit,
        _SQL_POSTING_INTERSECTION_ORDER_AUDIT,
        "rarest-first posting-list intersection cost vs given order "
        "for two fixed 3-token AND queries (data-derived df ranking, "
        "identical result counts)",
    ),
}
