"""Pipeline-operations pack: the everyday large-scale data-engineering
operators a training-data pipeline needs around the headline analytics —
referential data-quality auditing, keep-latest dedup, time-series gap
filling, distribution moments, contribution analysis, tie-aware top-k,
cross-join matrices, edit-distance near-dup, higher-order array
functions, and set-collection summaries.

Everything here follows the catalog conventions (catalog.py module
docstring): identical aliases both sides, decimal money, rounded
doubles, deterministic ordering keys.  Scale notes live per-query:
the common thread is that each op is ONE declarative plan whose shuffle
keys are the natural partition keys at 100 TB (user_id, nation, brand),
with small sides broadcast and sequences/pairs exploded only after
blocking filters bound their size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.tables import load_table
from . import QuerySpec

_DAY_US = 86_400_000_000  # microseconds per day (tz-free day bucketing)


# --------------------------------------------------------------------------
# Referential data-quality audit (FK violations, one row per check)
# --------------------------------------------------------------------------

def _q_fk_violation_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit: count orphan foreign keys on the
    three fact→dim edges.  Each check is a LEFT ANTI join against the
    (broadcastable) key side, so the fact tables stream through without
    a shuffle; the three scalar counts union into one audit report.

    At 100 TB this is the pattern for pre-ingest contract checks: anti
    joins against broadcast key sets, zero-row expected output turned
    into an always-present scorecard via the union of literal check
    names."""
    orders = load_table(spark, sf_dir, "orders").select("o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    part = load_table(spark, sf_dir, "part").select("p_partkey")
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey")

    def check(name: str, fact: DataFrame, fk, dim: DataFrame, pk) -> DataFrame:
        orphans = fact.join(F.broadcast(dim), fk == pk, "left_anti")
        return orphans.agg(
            F.lit(name).alias("fk_check"), F.count("*").alias("n_orphans")
        )

    return (
        check("orders.o_custkey->customer", orders, F.col("o_custkey"), cust, F.col("c_custkey"))
        .unionByName(
            check("lineitem.l_partkey->part", li, F.col("l_partkey"), part, F.col("p_partkey"))
        )
        .unionByName(
            check("lineitem.l_suppkey->supplier", li, F.col("l_suppkey"), supp, F.col("s_suppkey"))
        )
    )


_SQL_FK_VIOLATION_COUNTS = """
SELECT 'orders.o_custkey->customer' AS fk_check,
       count(*) FILTER (WHERE c_custkey IS NULL) AS n_orphans
FROM orders LEFT JOIN customer ON o_custkey = c_custkey
UNION ALL
SELECT 'lineitem.l_partkey->part',
       count(*) FILTER (WHERE p_partkey IS NULL)
FROM lineitem LEFT JOIN part ON l_partkey = p_partkey
UNION ALL
SELECT 'lineitem.l_suppkey->supplier',
       count(*) FILTER (WHERE s_suppkey IS NULL)
FROM lineitem LEFT JOIN supplier ON l_suppkey = s_suppkey
"""


# --------------------------------------------------------------------------
# Keep-latest dedup (CDC compaction primitive)
# --------------------------------------------------------------------------

def _q_latest_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-latest-record-per-key — the CDC log-compaction primitive.
    One window `row_number() = 1` pass ordered by (ts DESC, event_id
    DESC): a single shuffle on user_id, no self-join against max(ts)
    (which would scan twice and break on ts ties).  event_id is the
    deterministic tiebreak."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "user_id",
            "event_id",
            (F.unix_micros(F.col("ts"))).alias("ts_us"),
            "event_type",
            F.round("value", 4).alias("value"),
        )
    )


_SQL_LATEST_EVENT_PER_USER = """
SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type,
       round(value, 4) AS value
FROM events
QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1
"""


# --------------------------------------------------------------------------
# Time-series gap filling (sequence + explode, zero-filled days)
# --------------------------------------------------------------------------

def _q_gap_fill_daily_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zero-filled per-user daily activity: generate each user's full day
    range with sequence()+explode, left-join the real daily counts,
    coalesce missing days to 0.  Day buckets are integer epoch-days
    (epoch_us div 86.4e9) — timezone-free, so the result is identical
    under any driver session timezone.

    Scale: the generated rows are bounded by (active span in days) per
    user, and the join is co-partitioned on user_id — the sequence
    explode happens AFTER the per-user min/max aggregate, never on the
    raw event stream."""
    ev = (
        load_table(spark, sf_dir, "events")
        .where(F.col("user_id") < 50)
        .select(
            "user_id", (F.unix_micros(F.col("ts")) / _DAY_US).cast("long").alias("day_num")
        )
    )
    daily = ev.groupBy("user_id", "day_num").agg(F.count("*").alias("n_events"))
    spans = ev.groupBy("user_id").agg(
        F.min("day_num").alias("d0"), F.max("day_num").alias("d1")
    )
    days = spans.select(
        "user_id", F.explode(F.sequence("d0", "d1")).alias("day_num")
    )
    return (
        days.join(daily, ["user_id", "day_num"], "left")
        .select(
            "user_id",
            "day_num",
            F.coalesce(F.col("n_events"), F.lit(0)).alias("n_events"),
        )
    )


_SQL_GAP_FILL_DAILY_COUNTS = """
WITH ev AS (
  SELECT user_id, epoch_us(ts) // 86400000000 AS day_num
  FROM events WHERE user_id < 50
), daily AS (
  SELECT user_id, day_num, count(*) AS n_events FROM ev GROUP BY 1, 2
), spans AS (
  SELECT user_id, min(day_num) AS d0, max(day_num) AS d1 FROM ev GROUP BY 1
), days AS (
  SELECT user_id, unnest(generate_series(d0, d1)) AS day_num FROM spans
)
SELECT days.user_id, days.day_num, coalesce(daily.n_events, 0) AS n_events
FROM days LEFT JOIN daily USING (user_id, day_num)
"""


# --------------------------------------------------------------------------
# Distribution moments (skewness/kurtosis from one-pass power sums)
# --------------------------------------------------------------------------

def _q_distribution_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean / stddev / skewness / excess-kurtosis of l_quantity per
    return flag, computed from ONE aggregation pass of raw power sums
    (Σx, Σx², Σx³, Σx⁴).  The moment algebra runs on the aggregated
    row, so both engines see bit-identical inputs (quantities are
    small integers ⇒ power sums are exact in doubles) — unlike relying
    on builtin `skewness`/`kurtosis`, whose population-vs-sample
    corrections differ between engines.  This is also the 100 TB shape:
    partial map-side sums, one reduce, O(groups) final math."""
    li = load_table(spark, sf_dir, "lineitem")
    q = F.col("l_quantity")
    agg = li.groupBy("l_returnflag").agg(
        F.count("*").cast("double").alias("n"),
        F.sum(q).alias("s1"),
        F.sum(q * q).alias("s2"),
        F.sum(q * q * q).alias("s3"),
        F.sum(q * q * q * q).alias("s4"),
    )
    mean = F.col("s1") / F.col("n")
    m2 = F.col("s2") / F.col("n") - mean * mean
    m3 = F.col("s3") / F.col("n") - 3 * mean * F.col("s2") / F.col("n") + 2 * mean**3
    m4 = (
        F.col("s4") / F.col("n")
        - 4 * mean * F.col("s3") / F.col("n")
        + 6 * mean * mean * F.col("s2") / F.col("n")
        - 3 * mean**4
    )
    return agg.select(
        "l_returnflag",
        F.col("n").cast("long").alias("n"),
        F.round(mean, 6).alias("mean_qty"),
        F.round(F.sqrt(m2), 6).alias("stddev_pop"),
        F.round(m3 / F.pow(F.sqrt(m2), F.lit(3.0)), 6).alias("skewness_pop"),
        F.round(m4 / (m2 * m2) - 3.0, 6).alias("kurtosis_excess"),
    ).orderBy("l_returnflag")


_SQL_DISTRIBUTION_MOMENTS = """
WITH sums AS (
  SELECT l_returnflag,
         CAST(count(*) AS DOUBLE) AS n,
         sum(l_quantity) AS s1,
         sum(l_quantity * l_quantity) AS s2,
         sum(l_quantity * l_quantity * l_quantity) AS s3,
         sum(l_quantity * l_quantity * l_quantity * l_quantity) AS s4
  FROM lineitem GROUP BY 1
)
SELECT l_returnflag,
       CAST(n AS BIGINT) AS n,
       round(s1 / n, 6) AS mean_qty,
       round(sqrt(s2 / n - (s1/n) * (s1/n)), 6) AS stddev_pop,
       round((s3 / n - 3 * (s1/n) * s2 / n + 2 * pow(s1/n, 3))
             / pow(sqrt(s2 / n - (s1/n) * (s1/n)), 3), 6) AS skewness_pop,
       round((s4 / n - 4 * (s1/n) * s3 / n + 6 * (s1/n) * (s1/n) * s2 / n
              - 3 * pow(s1/n, 4))
             / pow(s2 / n - (s1/n) * (s1/n), 2) - 3.0, 6) AS kurtosis_excess
FROM sums
ORDER BY l_returnflag
"""


# --------------------------------------------------------------------------
# Contribution analysis (ratio-to-report window over an aggregate)
# --------------------------------------------------------------------------

def _q_revenue_share_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each customer nation's share of total revenue — the
    ratio-to-report pattern: aggregate once on the natural key, then a
    whole-frame window sum turns absolute revenue into shares.  The
    window runs over the ALREADY-AGGREGATED 25-row frame, so the
    single-partition window is trivially cheap even at 100 TB; the
    exact decimal sums make the shares deterministic."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n_key"), F.col("n_name").alias("nation")
    )
    rev = (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))).cast(
        "decimal(18,4)"
    )
    per_nation = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_key"))
        .groupBy("nation")
        .agg(F.sum(rev).alias("rev"))
    )
    w = Window.orderBy(F.lit(1))
    return (
        per_nation.withColumn("total", F.sum("rev").over(w))
        .select(
            "nation",
            F.round(F.col("rev").cast("double"), 4).alias("revenue"),
            F.round((F.col("rev") / F.col("total")).cast("double"), 6).alias("share"),
        )
        .orderBy("nation")
    )


_SQL_REVENUE_SHARE_BY_NATION = """
WITH per_nation AS (
  SELECT n_name AS nation,
         sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS rev
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  GROUP BY 1
)
SELECT nation,
       round(CAST(rev AS DOUBLE), 4) AS revenue,
       round(CAST(rev / sum(rev) OVER () AS DOUBLE), 6) AS share
FROM per_nation
ORDER BY nation
"""


# --------------------------------------------------------------------------
# Tie-aware per-group top-k (rank, not row_number)
# --------------------------------------------------------------------------

def _q_rank_with_ties_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 parts by retail price per brand INCLUDING ties — rank()
    instead of row_number(), so equal prices at the boundary all
    survive.  Complements `topk_parts_per_brand` (row_number exact-k):
    together they cover both top-k semantics.  No tiebreak column is
    needed precisely because ties are kept."""
    part = load_table(spark, sf_dir, "part")
    w = Window.partitionBy("p_brand").orderBy(F.col("p_retailprice").desc())
    return (
        part.withColumn("price_rank", F.rank().over(w))
        .where(F.col("price_rank") <= 3)
        .select("p_brand", "p_partkey", "p_name", "p_retailprice", "price_rank")
    )


_SQL_RANK_WITH_TIES_PARTS = """
SELECT p_brand, p_partkey, p_name, p_retailprice,
       CAST(rank() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC) AS INT)
         AS price_rank
FROM part
QUALIFY price_rank <= 3
"""


# --------------------------------------------------------------------------
# Cross-join matrix (region × region trade-lane scaffold)
# --------------------------------------------------------------------------

def _q_region_pair_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All unordered region pairs with their combined nation counts —
    the deliberate small-cross-join pattern (scaffolding a pair matrix
    from dimensions, then enriching with broadcast aggregates).  The
    cross join is 5×5 and both enrichment joins broadcast; the plan
    never touches a fact table.  At scale the rule stands: cross joins
    are for dimension scaffolds, never facts."""
    region = load_table(spark, sf_dir, "region")
    ncounts = (
        load_table(spark, sf_dir, "nation")
        .groupBy("n_regionkey")
        .agg(F.count("*").alias("n_nations"))
    )
    a = region.select(
        F.col("r_regionkey").alias("key_a"), F.col("r_name").alias("region_a")
    )
    b = region.select(
        F.col("r_regionkey").alias("key_b"), F.col("r_name").alias("region_b")
    )
    ca = ncounts.select(
        F.col("n_regionkey").alias("ck_a"), F.col("n_nations").alias("nations_a")
    )
    cb = ncounts.select(
        F.col("n_regionkey").alias("ck_b"), F.col("n_nations").alias("nations_b")
    )
    return (
        a.crossJoin(b)
        .where(F.col("region_a") < F.col("region_b"))
        .join(F.broadcast(ca), F.col("key_a") == F.col("ck_a"))
        .join(F.broadcast(cb), F.col("key_b") == F.col("ck_b"))
        .select(
            "region_a",
            "region_b",
            (F.col("nations_a") + F.col("nations_b")).alias("n_nations_total"),
        )
        .orderBy("region_a", "region_b")
    )


_SQL_REGION_PAIR_MATRIX = """
WITH ncounts AS (
  SELECT n_regionkey, count(*) AS n_nations FROM nation GROUP BY 1
)
SELECT a.r_name AS region_a, b.r_name AS region_b,
       ca.n_nations + cb.n_nations AS n_nations_total
FROM region a
CROSS JOIN region b
JOIN ncounts ca ON a.r_regionkey = ca.n_regionkey
JOIN ncounts cb ON b.r_regionkey = cb.n_regionkey
WHERE a.r_name < b.r_name
ORDER BY 1, 2
"""


# --------------------------------------------------------------------------
# Edit-distance near-dup (blocked Levenshtein pairs)
# --------------------------------------------------------------------------

def _q_levenshtein_part_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typo-class near-duplicate detection: DISTINCT part names within
    Levenshtein distance 4, BLOCKED on the shared trailing noun so the
    candidate space is (names per noun)² instead of (all names)².
    Blocking-key joins are the scalable fuzzy-matching shape: the
    O(n²) comparison happens only inside each block, and the distinct
    name list is tiny relative to the fact table it describes."""
    names = (
        load_table(spark, sf_dir, "part")
        .select("p_name")
        .distinct()
        .withColumn("noun", F.element_at(F.split(F.col("p_name"), " "), 2))
    )
    a = names.select(F.col("p_name").alias("name_a"), F.col("noun").alias("noun_a"))
    b = names.select(F.col("p_name").alias("name_b"), F.col("noun").alias("noun_b"))
    return (
        a.join(b, (F.col("noun_a") == F.col("noun_b")) & (F.col("name_a") < F.col("name_b")))
        .withColumn("edit_dist", F.levenshtein(F.col("name_a"), F.col("name_b")))
        .where(F.col("edit_dist") <= 4)
        .select("name_a", "name_b", "edit_dist")
    )


_SQL_LEVENSHTEIN_PART_PAIRS = """
WITH names AS (
  SELECT DISTINCT p_name, string_split(p_name, ' ')[2] AS noun FROM part
)
SELECT a.p_name AS name_a, b.p_name AS name_b,
       CAST(levenshtein(a.p_name, b.p_name) AS INT) AS edit_dist
FROM names a JOIN names b ON a.noun = b.noun AND a.p_name < b.p_name
WHERE levenshtein(a.p_name, b.p_name) <= 4
"""


# --------------------------------------------------------------------------
# Higher-order array functions (per-vector norms without UDFs)
# --------------------------------------------------------------------------

def _q_embedding_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-embedding vector statistics — dimension, L2 norm, max and
    mean component — computed entirely with higher-order array
    expressions (aggregate/transform/array_max): JVM-side, codegen'd,
    zero Python.  This is the scalable template for vector-column
    feature engineering; the Pandas-UDF path (similarity_pandas.py)
    exists only where BLAS batch math genuinely wins."""
    emb = load_table(spark, sf_dir, "embeddings").where(F.col("vec_id") < 200)
    xd = "CAST(x AS DOUBLE)"
    return emb.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.round(
            F.sqrt(F.expr(f"aggregate(embedding, 0D, (acc, x) -> acc + {xd} * {xd})")),
            4,
        ).alias("l2_norm"),
        F.round(F.expr("CAST(array_max(embedding) AS DOUBLE)"), 4).alias("max_val"),
        F.round(
            F.expr(f"aggregate(embedding, 0D, (acc, x) -> acc + {xd})")
            / F.size("embedding"),
            4,
        ).alias("mean_val"),
    )


_SQL_EMBEDDING_NORM_STATS = """
SELECT vec_id,
       CAST(len(embedding) AS INT) AS dim,
       round(sqrt(list_sum(list_transform(embedding,
             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 4) AS l2_norm,
       round(CAST(list_max(embedding) AS DOUBLE), 4) AS max_val,
       round(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE)))
             / len(embedding), 4) AS mean_val
FROM embeddings
WHERE vec_id < 200
"""


# --------------------------------------------------------------------------
# Set collection summary (collect_set → sorted, serialized)
# --------------------------------------------------------------------------

def _q_user_event_type_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user distinct event-type profile: collect_set → sort_array →
    concat_ws, plus the set size.  The serialized-sorted-set form is
    the deterministic way to hash-compare collection aggregates across
    engines (array element order out of collect_set is partition-order
    nondeterministic until sorted)."""
    ev = load_table(spark, sf_dir, "events").where(F.col("user_id") < 100)
    return ev.groupBy("user_id").agg(
        F.concat_ws(",", F.sort_array(F.collect_set("event_type"))).alias("types"),
        F.count_distinct("event_type").alias("n_types"),
    )


_SQL_USER_EVENT_TYPE_SETS = """
SELECT user_id,
       array_to_string(list_sort(list(DISTINCT event_type)), ',') AS types,
       count(DISTINCT event_type) AS n_types
FROM events
WHERE user_id < 100
GROUP BY user_id
"""


SPECS: dict[str, QuerySpec] = {
    "fk_violation_counts": QuerySpec(
        _q_fk_violation_counts,
        _SQL_FK_VIOLATION_COUNTS,
        "referential data-quality audit: 3 broadcast anti-join orphan counts",
    ),
    "latest_event_per_user": QuerySpec(
        _q_latest_event_per_user,
        _SQL_LATEST_EVENT_PER_USER,
        "keep-latest-per-key CDC compaction via single row_number window",
    ),
    "gap_fill_daily_counts": QuerySpec(
        _q_gap_fill_daily_counts,
        _SQL_GAP_FILL_DAILY_COUNTS,
        "zero-filled daily series via sequence()+explode, tz-free day buckets",
    ),
    "distribution_moments": QuerySpec(
        _q_distribution_moments,
        _SQL_DISTRIBUTION_MOMENTS,
        "skewness/kurtosis from one-pass power sums (engine-portable moments)",
    ),
    "revenue_share_by_nation": QuerySpec(
        _q_revenue_share_by_nation,
        _SQL_REVENUE_SHARE_BY_NATION,
        "ratio-to-report contribution shares over an aggregated frame",
    ),
    "rank_with_ties_parts": QuerySpec(
        _q_rank_with_ties_parts,
        _SQL_RANK_WITH_TIES_PARTS,
        "tie-inclusive per-group top-k via rank()",
    ),
    "region_pair_matrix": QuerySpec(
        _q_region_pair_matrix,
        _SQL_REGION_PAIR_MATRIX,
        "dimension cross-join scaffold with broadcast enrichment",
    ),
    "levenshtein_part_pairs": QuerySpec(
        _q_levenshtein_part_pairs,
        _SQL_LEVENSHTEIN_PART_PAIRS,
        "blocked edit-distance near-dup pairs on distinct names",
    ),
    "embedding_norm_stats": QuerySpec(
        _q_embedding_norm_stats,
        _SQL_EMBEDDING_NORM_STATS,
        "higher-order array funcs: per-vector dim/L2/max/mean, no UDF",
    ),
    "user_event_type_sets": QuerySpec(
        _q_user_event_type_sets,
        _SQL_USER_EVENT_TYPE_SETS,
        "collect_set → sorted serialized set + distinct count",
    ),
}
