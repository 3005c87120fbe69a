"""Round-5 pack: the composed dedup pipeline canary, deterministic
stratified sampling, error-bound oracles for the approximate sketches,
and a Python UDTF chunker.

Every entry answers a specific round-4 audit gap:

* ``dedup_pipeline_e2e`` — the PRODUCTION dedup pipeline as one catalog
  entry: ingest → MinHash(k=16) signatures → banded LSH pairs →
  connected components → keep-min survivor selection → per-source
  retention audit.  Exercises the tracked-cache discipline across stage
  boundaries (the signature frame materializes once and feeds both
  band-join sides; the pair graph is checkpointed once and feeds every
  propagation round) and gets the same recursive-CTE transitive-closure
  oracle as the component queries, extended with survivor accounting.
* ``stratified_sample_det`` — proportional per-class downsampling with
  DETERMINISTIC selection: within each stratum docs rank by
  md5(event_id) — an unbiased pseudo-random order every engine computes
  identically — and the first ceil(frac·n) survive.  The exact-oracle
  twin of the seeded ``stratified_sample`` (which stays rows-only:
  engine-RNG sampling decisions are not portable).
* ``*_bounded`` sketch audits — the approximate sketches
  (HyperLogLog++, percentile_approx, HLL rollup, frequent-items) are
  rows-only as raw estimates because the estimate is engine-specific.
  These twins make the sketch's PUBLISHED GUARANTEE the output: each
  emits the exact side (DuckDB-recomputable) plus a boolean that the
  estimate honors its error bound — HLL relative error vs rsd,
  percentile rank error vs 1/accuracy, frequent-items no-false-negative
  containment.  The oracle emits the same exact columns and literal
  TRUE, so a sketch drifting out of bound is a hash mismatch, not an
  unaudited number.
* ``udtf_chunk_windows`` — the overlapping token-window chunker as an
  arrow-optimized Python UDTF in a correlated LATERAL join (Spark 4
  table-function surface), oracle-shared verbatim with the pure-SQL
  ``rag_chunk_windows``.  The relational chunker remains the 100 TB
  path (zero Python); the UDTF form is the extension-surface twin for
  logic that genuinely can't be expressed as array transforms.

Scale notes: the e2e pipeline materializes signatures once (|docs| × k
longs), joins only on band keys, and runs component rounds on the pair
graph (≪ corpus); the bounded audits each add one exact aggregate per
sketch — the audit is the expensive half, which is exactly why the
sketch exists, and why the audit runs at validation scale while the
sketch runs at corpus scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..sources.tables import load_table
from . import QuerySpec
from .frames import minhash_lsh_sql

# --------------------------------------------------------------------------
# dedup_pipeline_e2e
# --------------------------------------------------------------------------

_E2E_K = 16
_E2E_BANDS = 4


def _q_dedup_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest → MinHash(k=16, 4 bands) → LSH pairs → connected
    components → keep-min-doc survivor selection → per-source retention
    report, composed as ONE plan.

    A doc survives iff it has no LSH pair (singleton) or it is its
    cluster's canonical minimum.  Output per source: doc count,
    survivor count, retention fraction, survivor id checksum.
    """
    from ..operators.dedup import dedup_clusters, minhash_lsh_pairs

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, n=3, k=_E2E_K, bands=_E2E_BANDS)
    assign = dedup_clusters(pairs)
    surv = (
        docs.select("source", "doc_id")
        .join(assign, "doc_id", "left")
        .withColumn(
            "s",
            (
                F.col("cluster_id").isNull()
                | (F.col("cluster_id") == F.col("doc_id"))
            ).cast("int"),
        )
    )
    return surv.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("s").alias("n_survivors"),
        F.round(
            F.sum("s").cast("double") / F.count(F.lit(1)).cast("double"), 6
        ).alias("retention_frac"),
        F.sum(F.col("doc_id") * F.col("s")).alias("survivor_id_checksum"),
    )


def _sql_dedup_pipeline_e2e() -> str:
    # the k=16/4-band pair oracle + the recursive transitive closure,
    # extended with survivor accounting
    return (
        "WITH RECURSIVE pairs AS (\n"
        + minhash_lsh_sql(_E2E_K, _E2E_K // _E2E_BANDS)
        + """
), e2e_edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION
  SELECT doc_b AS src, doc_a AS dst FROM pairs
), reach(src, dst) AS (
  SELECT src, dst FROM e2e_edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN e2e_edges e ON r.dst = e.src
), assign AS (
  SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
  FROM reach GROUP BY src
), surv AS (
  SELECT d.source, d.doc_id,
         CASE WHEN a.doc_id IS NULL OR a.cluster_id = d.doc_id
              THEN 1 ELSE 0 END AS s
  FROM documents d LEFT JOIN assign a ON d.doc_id = a.doc_id
)
SELECT source,
       count(*) AS n_docs,
       CAST(sum(s) AS BIGINT) AS n_survivors,
       round(CAST(sum(s) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
         AS retention_frac,
       CAST(sum(doc_id * s) AS BIGINT) AS survivor_id_checksum
FROM surv GROUP BY source
"""
    )


# --------------------------------------------------------------------------
# stratified_sample_det
# --------------------------------------------------------------------------

_STRATA = (("view", 0.1), ("purchase", 0.5), ("error", 1.0))


def _q_stratified_sample_det(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic proportional stratified sample: within each
    stratum, events rank by md5(event_id) (unbiased, engine-portable
    order; event_id tiebreak) and the first ceil(frac·n) survive —
    the exact-oracle twin of the seeded ``stratified_sample``.

    One scan, one window per stratum partition; the fraction table is a
    3-row broadcast.  Output: per-stratum totals, sampled counts, and
    the order-insensitive sampled-id checksum.
    """
    ev = load_table(spark, sf_dir, "events")
    fr = spark.createDataFrame(list(_STRATA), "event_type string, frac double")
    w = Window.partitionBy("event_type").orderBy(
        F.md5(F.col("event_id").cast("string")).asc(), F.col("event_id").asc()
    )
    wn = Window.partitionBy("event_type")
    ranked = (
        ev.select("event_type", "event_id")
        .join(F.broadcast(fr), "event_type")
        .withColumn("rn", F.row_number().over(w))
        .withColumn("n_total", F.count(F.lit(1)).over(wn))
    )
    kept = ranked.where(
        F.col("rn") <= F.ceil(F.col("frac") * F.col("n_total").cast("double"))
    )
    return kept.groupBy("event_type").agg(
        F.max("n_total").alias("n_total"),
        F.count(F.lit(1)).alias("n_sampled"),
        F.sum("event_id").alias("sampled_id_checksum"),
    )


_SQL_STRATIFIED_SAMPLE_DET = """
WITH fr(event_type, frac) AS (VALUES ('view', 0.1), ('purchase', 0.5), ('error', 1.0)),
ranked AS (
  SELECT e.event_type, event_id, frac,
         row_number() OVER (PARTITION BY e.event_type
                            ORDER BY md5(CAST(event_id AS VARCHAR)) ASC,
                                     event_id ASC) AS rn,
         count(*) OVER (PARTITION BY e.event_type) AS n_total
  FROM events e JOIN fr USING (event_type)
)
SELECT event_type,
       CAST(max(n_total) AS BIGINT) AS n_total,
       count(*) AS n_sampled,
       CAST(sum(event_id) AS BIGINT) AS sampled_id_checksum
FROM ranked
WHERE rn <= CAST(ceil(frac * CAST(n_total AS DOUBLE)) AS BIGINT)
GROUP BY event_type
"""


# --------------------------------------------------------------------------
# approx_distinct_users_bounded
# --------------------------------------------------------------------------

#: HLL++ rsd is 2%; the audit allows 4x (σ→4σ) so the boolean pins the
#: guarantee without flaking on an unlucky register configuration.
_HLL_TOL = 0.08


def _q_approx_distinct_users_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ distinct-user estimate audited against its own
    error bound: output is the EXACT side plus the bound check — the
    estimate's validity, not its engine-specific value, is what the
    oracle hash-pins."""
    ev = load_table(spark, sf_dir, "events")
    g = ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("est"),
        F.count_distinct("user_id").alias("exact_users"),
        F.count(F.lit(1)).alias("n_events"),
    )
    return g.select(
        "event_type",
        "exact_users",
        "n_events",
        (
            F.abs(F.col("est") - F.col("exact_users")).cast("double")
            / F.col("exact_users").cast("double")
            <= F.lit(_HLL_TOL)
        ).alias("within_tol"),
    )


_SQL_APPROX_DISTINCT_USERS_BOUNDED = """
SELECT event_type,
       CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
       count(*) AS n_events,
       TRUE AS within_tol
FROM events GROUP BY event_type
"""


# --------------------------------------------------------------------------
# approx_percentile_prices_bounded
# --------------------------------------------------------------------------

_PCT_ACCURACY = 10000


def _q_approx_percentile_prices_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percentile_approx audited against the GK-sketch rank guarantee:
    the returned value's rank must sit within n/accuracy of the target
    rank.  Rank position is measured with <= / < counts over one extra
    conditional-aggregate pass (broadcast of the per-group estimates),
    so ties are handled exactly; the +1 slack absorbs the boundary
    element itself."""
    li = load_table(spark, sf_dir, "lineitem")
    ap = li.groupBy("l_returnflag").agg(
        F.percentile_approx("l_extendedprice", 0.5, _PCT_ACCURACY).alias("ap50"),
        F.percentile_approx("l_extendedprice", 0.95, _PCT_ACCURACY).alias("ap95"),
    )
    j = li.select("l_returnflag", "l_extendedprice").join(
        F.broadcast(ap), "l_returnflag"
    )
    g = j.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((F.col("l_extendedprice") <= F.col("ap50")).cast("long")).alias("le50"),
        F.sum((F.col("l_extendedprice") < F.col("ap50")).cast("long")).alias("lt50"),
        F.sum((F.col("l_extendedprice") <= F.col("ap95")).cast("long")).alias("le95"),
        F.sum((F.col("l_extendedprice") < F.col("ap95")).cast("long")).alias("lt95"),
    )
    err = F.col("n").cast("double") / F.lit(float(_PCT_ACCURACY)) + F.lit(1.0)

    def ok(le, lt, p):
        target = F.col("n").cast("double") * F.lit(p)
        return (F.col(le).cast("double") >= target - err) & (
            F.col(lt).cast("double") <= target + err
        )

    return g.select(
        "l_returnflag",
        "n",
        ok("le50", "lt50", 0.5).alias("p50_ok"),
        ok("le95", "lt95", 0.95).alias("p95_ok"),
    )


_SQL_APPROX_PERCENTILE_PRICES_BOUNDED = """
SELECT l_returnflag, count(*) AS n, TRUE AS p50_ok, TRUE AS p95_ok
FROM lineitem GROUP BY l_returnflag
"""


# --------------------------------------------------------------------------
# hll_distinct_rollup_bounded
# --------------------------------------------------------------------------

#: DataSketches HLL at lgConfigK=12 has rsd ≈ 1.6%; day-grain
#: cardinalities here are small enough that the sketch is near-exact,
#: but the audit bound stays a generous multiple so the boolean tests
#: the GUARANTEE, not this dataset's luck.
_HLL_ROLLUP_TOL = 0.10


def _q_hll_distinct_rollup_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The HLL day→total rollup audited against exact distinct counts
    at BOTH grains — including the merged (union) total, which is the
    property that matters: sketch merge must not degrade the bound.
    Total grain uses bucket_us = -1 (not NULL) so the hash compare is
    null-free."""
    ev = load_table(spark, sf_dir, "events")
    day_sketch = ev.groupBy(
        F.date_trunc("day", F.col("ts")).alias("bucket"), "event_type"
    ).agg(
        F.hll_sketch_agg("user_id").alias("sk"),
        F.count_distinct("user_id").alias("exact_users"),
    )
    day = day_sketch.select(
        F.lit("day").alias("grain"),
        F.unix_micros(F.col("bucket")).alias("bucket_us"),
        "event_type",
        "exact_users",
        F.round(F.hll_sketch_estimate("sk")).cast("bigint").alias("est"),
    )
    exact_total = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("exact_users")
    )
    total = (
        day_sketch.groupBy("event_type")
        .agg(F.hll_union_agg("sk").alias("sk"))
        .join(exact_total, "event_type")
        .select(
            F.lit("total").alias("grain"),
            F.lit(-1).cast("long").alias("bucket_us"),
            "event_type",
            "exact_users",
            F.round(F.hll_sketch_estimate("sk")).cast("bigint").alias("est"),
        )
    )
    return day.unionByName(total).select(
        "grain",
        "bucket_us",
        "event_type",
        "exact_users",
        (
            F.abs(F.col("est") - F.col("exact_users")).cast("double")
            / F.col("exact_users").cast("double")
            <= F.lit(_HLL_ROLLUP_TOL)
        ).alias("within_tol"),
    )


_SQL_HLL_DISTINCT_ROLLUP_BOUNDED = """
SELECT 'day' AS grain, epoch_us(date_trunc('day', ts)) AS bucket_us, event_type,
       CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
       TRUE AS within_tol
FROM events GROUP BY 2, 3
UNION ALL
SELECT 'total' AS grain, CAST(-1 AS BIGINT) AS bucket_us, event_type,
       CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
       TRUE AS within_tol
FROM events GROUP BY 3
"""


# --------------------------------------------------------------------------
# heavy_hitter_users_bounded
# --------------------------------------------------------------------------

#: support = this multiple of the MEAN per-user frequency, so the exact
#: heavy set stays non-trivial (users 25% above average) at every scale
#: factor — a fixed absolute support empties the set as the user count
#: grows, which would make the containment audit vacuous.
_HH_SUPPORT_X_MEAN = 1.25


def _q_heavy_hitter_users_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent-items sketch audited on its one hard guarantee — NO
    FALSE NEGATIVES: every user whose exact frequency exceeds the
    support must appear in the sketch output.  The exact heavy set is
    fully deterministic (both engines compute it); the sketch list is
    engine-specific, so only the containment boolean is emitted.

    Support is 1.25/|users|.  EAGER-BUILD CAVEAT (documented contract):
    ``freqItems`` takes a driver-side Python float, so building this
    plan runs ONE 1-row aggregate job for |users| — the only eager
    action; bounded work at any corpus size (sketch state is
    |users|/1.25 counters, mergeable across partitions).  The exact
    side's threshold stays fully relational: the same 1-row aggregate
    is broadcast back onto the per-user counts, so the lazy part of
    the plan is self-contained."""
    ev = load_table(spark, sf_dir, "events")
    stats = ev.agg(
        F.count_distinct("user_id").alias("u"), F.count(F.lit(1)).alias("n")
    )
    # the one unavoidable eager action: freqItems needs a float support
    n_users = stats.collect()[0]["u"]
    support = _HH_SUPPORT_X_MEAN / float(n_users)
    sketch = ev.stat.freqItems(["user_id"], support=support)
    exact_heavy = (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .crossJoin(F.broadcast(stats))  # relational threshold, 1-row
        .where(
            F.col("n_events").cast("double")
            > F.lit(_HH_SUPPORT_X_MEAN) / F.col("u").cast("double")
            * F.col("n").cast("double")
        )
        .drop("u", "n")
    )
    return exact_heavy.crossJoin(F.broadcast(sketch)).select(
        "user_id",
        "n_events",
        F.array_contains(F.col("user_id_freqItems"), F.col("user_id")).alias(
            "contained"
        ),
    )


_SQL_HEAVY_HITTER_USERS_BOUNDED = f"""
SELECT user_id, count(*) AS n_events, TRUE AS contained
FROM events GROUP BY user_id
HAVING CAST(count(*) AS DOUBLE) >
       ({_HH_SUPPORT_X_MEAN} / (SELECT CAST(count(DISTINCT user_id) AS DOUBLE)
                                FROM events))
       * (SELECT CAST(count(*) AS DOUBLE) FROM events)
"""


# --------------------------------------------------------------------------
# udtf_chunk_windows
# --------------------------------------------------------------------------

_UDTF_CHUNK = 32
_UDTF_STRIDE = 16


def _q_udtf_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The rag_chunk_windows chunker as an arrow-optimized Python UDTF
    in a correlated LATERAL join — Spark 4's table-function extension
    surface, for per-row expansion logic that can't be written as array
    transforms (this one CAN, which is exactly why it shares the
    pure-SQL oracle verbatim: the UDTF must reproduce the relational
    chunker bit-for-bit, md5 included).

    The relational form stays the 100 TB default (zero Python, whole-
    stage codegen); this twin pins the extension surface's plumbing —
    schema, lateral correlation, arrow batch transfer."""
    import hashlib

    from pyspark.sql.functions import udtf

    from ..sources.tables import register_views

    @udtf(
        returnType="chunk_idx int, start_pos int, n_tokens int, chunk_hash string",
        useArrow=True,
    )
    class SplitIntoChunks:
        def eval(self, text: str):  # noqa: ANN001
            toks = [t for t in (text or "").split(" ") if t]
            n = len(toks)
            if n < 1:
                return
            if n <= _UDTF_CHUNK:
                n_chunks = 1
            else:
                n_chunks = -((n - _UDTF_CHUNK) // -_UDTF_STRIDE) + 1
            for i in range(1, n_chunks + 1):
                start = 1 + (i - 1) * _UDTF_STRIDE
                c = toks[start - 1 : start - 1 + _UDTF_CHUNK]
                yield (
                    i,
                    start,
                    len(c),
                    hashlib.md5(" ".join(c).encode("utf-8")).hexdigest(),
                )

    register_views(spark, sf_dir, only=["documents"])
    spark.udtf.register("split_into_chunks", SplitIntoChunks)
    return spark.sql(
        """
        SELECT d.doc_id, c.chunk_idx, c.start_pos, c.n_tokens, c.chunk_hash
        FROM documents d, LATERAL split_into_chunks(d.text) c
        """
    )


def _sql_udtf_chunk_windows() -> str:
    from .rag import _SQL_RAG_CHUNK_WINDOWS

    return _SQL_RAG_CHUNK_WINDOWS


SPECS: dict[str, QuerySpec] = {}


def _build_specs() -> None:
    SPECS.update(
        {
            "dedup_pipeline_e2e": QuerySpec(
                _q_dedup_pipeline_e2e,
                _sql_dedup_pipeline_e2e(),
                "composed production dedup pipeline: minhash k=16 → banded "
                "pairs → connected components → keep-min survivors → "
                "per-source retention report, one plan",
            ),
            "stratified_sample_det": QuerySpec(
                _q_stratified_sample_det,
                _SQL_STRATIFIED_SAMPLE_DET,
                "deterministic proportional stratified sample (md5-rank per "
                "stratum, ceil(frac·n) kept) — exact-oracle twin of the "
                "seeded sampleBy form",
            ),
            "approx_distinct_users_bounded": QuerySpec(
                _q_approx_distinct_users_bounded,
                _SQL_APPROX_DISTINCT_USERS_BOUNDED,
                "HLL++ distinct estimate audited against its rsd bound: "
                "exact side + within_tol boolean are the hash-pinned output",
            ),
            "approx_percentile_prices_bounded": QuerySpec(
                _q_approx_percentile_prices_bounded,
                _SQL_APPROX_PERCENTILE_PRICES_BOUNDED,
                "percentile_approx audited against the n/accuracy rank "
                "guarantee via exact <=/< rank counts",
            ),
            "hll_distinct_rollup_bounded": QuerySpec(
                _q_hll_distinct_rollup_bounded,
                _SQL_HLL_DISTINCT_ROLLUP_BOUNDED,
                "HLL day→total sketch rollup audited vs exact distincts at "
                "both grains (merge must not degrade the bound)",
            ),
            "heavy_hitter_users_bounded": QuerySpec(
                _q_heavy_hitter_users_bounded,
                _SQL_HEAVY_HITTER_USERS_BOUNDED,
                "frequent-items sketch audited on no-false-negatives: every "
                "exact heavy user must be contained in the sketch list "
                "(EAGER BUILD: freqItems needs a driver-side float support, "
                "so compiling this entry runs one 1-row aggregate job)",
            ),
            "udtf_chunk_windows": QuerySpec(
                _q_udtf_chunk_windows,
                _sql_udtf_chunk_windows(),
                "token-window chunker as an arrow-optimized Python UDTF in a "
                "LATERAL join; oracle shared verbatim with rag_chunk_windows",
            ),
        }
    )


_build_specs()
