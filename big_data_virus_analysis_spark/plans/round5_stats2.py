"""Round-5 statistics pack II: rank tests, robust ANOVA, a fully
deterministic distinct-count sketch, and readability scoring — the
hypothesis-testing layer over curation outputs, all exact-oracle.

* ``mann_whitney_u_test`` — the nonparametric two-sample location test
  (Mann–Whitney U / Wilcoxon rank-sum) comparing order values between
  two market segments, with EXACT tie handling: average ranks are kept
  as ``min_rank + max_rank`` BIGINTs (2× the average — always an
  integer), so every rank sum and the tie-correction term Σ(t³−t) are
  exact integers and the z statistic is the same IEEE expression in
  both engines.  Ranks come from one ``global_prefix_sum`` over the
  distinct-value frame — no global window, no per-row rank shuffle.
* ``brown_forsythe_f`` — the robust (median-based) Levene test for
  equal variances across all five segments: per-group LOWER median via
  a per-segment rank (partitioned window — parallel by group), spreads
  |y − median| kept as exact DECIMALs, F from the exact moment sums.
* ``kmv_distinct_estimate`` — a K-Minimum-Values cardinality sketch
  whose estimate is itself oracle-checkable: hashes are md5-derived
  uniforms (deterministic in both engines), so the k-th minimum and
  the (k−1)/h_k estimate are exact numbers, not engine-RNG.  The
  relative error column audits the sketch against the exact distinct
  count per event type.  (The HLL/approx entries stay as engine
  sketches with error-bound oracles; THIS one is the deterministic
  teaching twin.)
* ``readability_by_lang`` — Flesch–Kincaid grade components from pure
  regexp counts (words, sentence marks, vowel-group syllables) —
  single scan, per-language rollup.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.prefix_sum import global_prefix_sum
from ..sources.tables import load_table
from . import QuerySpec

# --------------------------------------------------------------------------
# mann_whitney_u_test
# --------------------------------------------------------------------------

_MW_SEG_A = "BUILDING"
_MW_SEG_B = "MACHINERY"


def _q_mann_whitney_u_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    src = (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .where(F.col("c_mktsegment").isin(_MW_SEG_A, _MW_SEG_B))
        .select(
            F.col("o_totalprice").alias("y"),
            (F.col("c_mktsegment") == _MW_SEG_A).cast("bigint").alias("in_a"),
        )
    )
    by_val = src.groupBy("y").agg(
        F.count(F.lit(1)).alias("cnt"), F.sum("in_a").alias("cnt_a")
    )
    cum = global_prefix_sum(by_val, order_col="y", value_col="cnt", out_col="cum_cnt")
    # 2x the tied average rank = min_rank + max_rank, an exact BIGINT
    ranked = cum.select(
        "cnt",
        "cnt_a",
        ((F.col("cum_cnt") - F.col("cnt") + 1) + F.col("cum_cnt")).alias("rank2"),
    )
    sums = ranked.agg(
        F.sum("cnt").alias("n"),
        F.sum("cnt_a").alias("n_a"),
        F.sum(F.col("cnt_a") * F.col("rank2")).alias("r2_a"),
        F.sum(
            F.col("cnt") * F.col("cnt") * F.col("cnt") - F.col("cnt")
        ).alias("tie_t"),
    )
    n = F.col("n").cast("double")
    na = F.col("n_a").cast("double")
    nb = (F.col("n") - F.col("n_a")).cast("double")
    u_a = F.col("r2_a").cast("double") / 2 - na * (na + 1) / 2
    sigma2 = na * nb / 12.0 * ((n + 1) - F.col("tie_t").cast("double") / (n * (n - 1)))
    return sums.select(
        F.col("n_a"),
        (F.col("n") - F.col("n_a")).alias("n_b"),
        F.round(u_a, 6).alias("u_a"),
        F.round((u_a - na * nb / 2) / F.sqrt(sigma2), 6).alias("z"),
    )


_SQL_MANN_WHITNEY_U_TEST = f"""
WITH src AS (
  SELECT o_totalprice AS y,
         CASE WHEN c_mktsegment = '{_MW_SEG_A}' THEN 1 ELSE 0 END AS in_a
  FROM orders JOIN customer ON o_custkey = c_custkey
  WHERE c_mktsegment IN ('{_MW_SEG_A}', '{_MW_SEG_B}')
), by_val AS (
  SELECT y, count(*) AS cnt, sum(in_a) AS cnt_a FROM src GROUP BY y
), ranked AS (
  SELECT cnt, cnt_a,
         (sum(cnt) OVER (ORDER BY y ROWS UNBOUNDED PRECEDING) - cnt + 1)
           + sum(cnt) OVER (ORDER BY y ROWS UNBOUNDED PRECEDING) AS rank2
  FROM by_val
), sums AS (
  SELECT CAST(sum(cnt) AS BIGINT) AS n, CAST(sum(cnt_a) AS BIGINT) AS n_a,
         CAST(sum(cnt_a * rank2) AS BIGINT) AS r2_a,
         CAST(sum(cnt * cnt * cnt - cnt) AS BIGINT) AS tie_t
  FROM ranked
)
SELECT n_a, n - n_a AS n_b,
       round(CAST(r2_a AS DOUBLE) / 2
             - CAST(n_a AS DOUBLE) * (CAST(n_a AS DOUBLE) + 1) / 2, 6) AS u_a,
       round((CAST(r2_a AS DOUBLE) / 2
              - CAST(n_a AS DOUBLE) * (CAST(n_a AS DOUBLE) + 1) / 2
              - CAST(n_a AS DOUBLE) * CAST(n - n_a AS DOUBLE) / 2)
             / sqrt(CAST(n_a AS DOUBLE) * CAST(n - n_a AS DOUBLE) / 12.0
                    * ((CAST(n AS DOUBLE) + 1)
                       - CAST(tie_t AS DOUBLE)
                         / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1)))),
             6) AS z
FROM sums
"""


# --------------------------------------------------------------------------
# brown_forsythe_f
# --------------------------------------------------------------------------


def _q_brown_forsythe_f(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    src = orders.join(customer, orders.o_custkey == customer.c_custkey).select(
        F.col("c_mktsegment").alias("seg"),
        F.col("o_totalprice").cast("decimal(12,2)").alias("y"),
        "o_orderkey",
    )
    w = Window.partitionBy("seg").orderBy("y", "o_orderkey")
    cw = Window.partitionBy("seg")
    med = (
        src.withColumn("rn", F.row_number().over(w))
        .withColumn("n_g", F.count(F.lit(1)).over(cw))
        .withColumn(
            "med",
            F.max(
                F.when(F.col("rn") == F.expr("(n_g + 1) div 2"), F.col("y"))
            ).over(cw),
        )
    )
    spread = med.select(
        "seg", F.abs(F.col("y") - F.col("med")).cast("decimal(14,2)").alias("z")
    )
    per_g = spread.groupBy("seg").agg(
        F.count(F.lit(1)).alias("n_g"),
        F.sum("z").cast("double").alias("sz"),
        F.sum(F.col("z") * F.col("z")).cast("double").alias("szz"),
    )
    tot = per_g.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("n_g").alias("n"),
        F.sum("sz").alias("sz_tot"),
        F.sum("szz").alias("szz_tot"),
        F.sum(F.col("sz") * F.col("sz") / F.col("n_g").cast("double")).alias("a"),
    )
    n = F.col("n").cast("double")
    k = F.col("k").cast("double")
    between = F.col("a") - F.col("sz_tot") * F.col("sz_tot") / n
    within = F.col("szz_tot") - F.col("a")
    return tot.select(
        "k",
        "n",
        F.round((between / (k - 1)) / (within / (n - k)), 6).alias("f_stat"),
    )


_SQL_BROWN_FORSYTHE_F = """
WITH src AS (
  SELECT c_mktsegment AS seg, CAST(o_totalprice AS DECIMAL(12,2)) AS y, o_orderkey
  FROM orders JOIN customer ON o_custkey = c_custkey
), med AS (
  SELECT seg, y,
         row_number() OVER (PARTITION BY seg ORDER BY y, o_orderkey) AS rn,
         count(*) OVER (PARTITION BY seg) AS n_g
  FROM src
), with_med AS (
  SELECT seg, y,
         max(CASE WHEN rn = (n_g + 1) // 2 THEN y END)
           OVER (PARTITION BY seg) AS med
  FROM med
), spread AS (
  SELECT seg, CAST(abs(y - med) AS DECIMAL(14,2)) AS z FROM with_med
), per_g AS (
  SELECT seg, count(*) AS n_g,
         CAST(sum(z) AS DOUBLE) AS sz, CAST(sum(z * z) AS DOUBLE) AS szz
  FROM spread GROUP BY seg
), tot AS (
  SELECT count(*) AS k, CAST(sum(n_g) AS BIGINT) AS n,
         sum(sz) AS sz_tot, sum(szz) AS szz_tot,
         sum(sz * sz / CAST(n_g AS DOUBLE)) AS a
  FROM per_g
)
SELECT k, n,
       round(((a - sz_tot * sz_tot / CAST(n AS DOUBLE)) / (CAST(k AS DOUBLE) - 1))
             / ((szz_tot - a) / (CAST(n AS DOUBLE) - CAST(k AS DOUBLE))), 6) AS f_stat
FROM tot
"""


# --------------------------------------------------------------------------
# kmv_distinct_estimate
# --------------------------------------------------------------------------

_KMV_K = 32
_TWO32 = 4294967296.0


def _q_kmv_distinct_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    du = ev.select("event_type", "user_id").distinct()
    h = (
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        .cast("double")
        / _TWO32
    )
    hashed = du.select("event_type", "user_id", h.alias("h01"))
    w = Window.partitionBy("event_type").orderBy("h01", "user_id")
    kth = (
        hashed.withColumn("rn", F.row_number().over(w))
        .withColumn("n_exact", F.count(F.lit(1)).over(Window.partitionBy("event_type")))
        .where(F.col("rn") == _KMV_K)
        .select("event_type", "h01", "n_exact")
    )
    est = F.lit(float(_KMV_K - 1)) / F.col("h01")
    return kth.select(
        "event_type",
        F.col("n_exact").alias("exact_distinct"),
        F.round(est, 6).alias("kmv_estimate"),
        F.round(
            F.abs(est - F.col("n_exact").cast("double"))
            / F.col("n_exact").cast("double"),
            6,
        ).alias("rel_err"),
    )


_SQL_KMV_DISTINCT_ESTIMATE = f"""
WITH du AS (
  SELECT DISTINCT event_type, user_id FROM events
), hashed AS (
  SELECT event_type, user_id,
         CAST(CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8) AS BIGINT)
              AS DOUBLE) / {_TWO32!r} AS h01
  FROM du
), kth AS (
  SELECT event_type, h01,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY h01, user_id) AS rn,
         count(*) OVER (PARTITION BY event_type) AS n_exact
  FROM hashed
)
SELECT event_type, CAST(n_exact AS BIGINT) AS exact_distinct,
       round({float(_KMV_K - 1)!r} / h01, 6) AS kmv_estimate,
       round(abs({float(_KMV_K - 1)!r} / h01 - CAST(n_exact AS DOUBLE))
             / CAST(n_exact AS DOUBLE), 6) AS rel_err
FROM kth WHERE rn = {_KMV_K}
"""


# --------------------------------------------------------------------------
# readability_by_lang
# --------------------------------------------------------------------------


def _q_readability_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    words = F.regexp_count(F.col("text"), F.lit(r"\S+"))
    syll = F.regexp_count(F.col("text"), F.lit(r"[aeiouyAEIOUY]+"))
    sents = F.greatest(F.regexp_count(F.col("text"), F.lit(r"[.!?]+")), F.lit(1))
    fk = (
        F.lit(0.39) * words.cast("double") / sents.cast("double")
        + F.lit(11.8) * syll.cast("double") / words.cast("double")
        - F.lit(15.59)
    )
    scored = docs.select("lang", words.alias("w"), fk.alias("fk"))
    return scored.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg(F.col("w").cast("double")), 6).alias("avg_words"),
        F.round(F.avg("fk"), 6).alias("avg_fk_grade"),
    )


_SQL_READABILITY_BY_LANG = r"""
WITH scored AS (
  SELECT lang,
         len(regexp_extract_all(text, '\S+')) AS w,
         0.39 * CAST(len(regexp_extract_all(text, '\S+')) AS DOUBLE)
           / CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS DOUBLE)
         + 11.8 * CAST(len(regexp_extract_all(text, '[aeiouyAEIOUY]+')) AS DOUBLE)
           / CAST(len(regexp_extract_all(text, '\S+')) AS DOUBLE)
         - 15.59 AS fk
  FROM documents
)
SELECT lang, count(*) AS n_docs,
       round(avg(CAST(w AS DOUBLE)), 6) AS avg_words,
       round(avg(fk), 6) AS avg_fk_grade
FROM scored GROUP BY lang
"""


SPECS: dict[str, QuerySpec] = {
    "mann_whitney_u_test": QuerySpec(
        _q_mann_whitney_u_test,
        _SQL_MANN_WHITNEY_U_TEST,
        "Mann-Whitney U rank-sum test between two segments with exact "
        "integer tie handling (2x-average ranks via global_prefix_sum)",
    ),
    "brown_forsythe_f": QuerySpec(
        _q_brown_forsythe_f,
        _SQL_BROWN_FORSYTHE_F,
        "Brown-Forsythe robust variance-equality F across segments: "
        "per-group lower medians, DECIMAL-exact spread moments",
    ),
    "kmv_distinct_estimate": QuerySpec(
        _q_kmv_distinct_estimate,
        _SQL_KMV_DISTINCT_ESTIMATE,
        "deterministic K-Minimum-Values distinct sketch (md5 uniforms, "
        "k=32): estimate AND its relative error both oracle-exact",
    ),
    "readability_by_lang": QuerySpec(
        _q_readability_by_lang,
        _SQL_READABILITY_BY_LANG,
        "Flesch-Kincaid readability components from regexp counts "
        "(words / sentence marks / vowel-group syllables), per language",
    ),
}
