"""Round-9 IR/ops additions: proximity search and the sweep-line
concurrency maximum.

* ``proximity_search_slop`` — two-term proximity search over the
  positional token index: documents where 'data' and 'fast' occur
  within 3 positions of each other IN EITHER ORDER (the sloppy-phrase
  relaxation of ``phrase_search_positional``'s exact adjacency).  The
  per-doc position lists for the two terms are joined with a banded
  |Δpos| ≤ 3 condition — per-doc work is |positions_a|·|positions_b|
  bounded by in-doc term frequency, never cross-doc.  Output per
  matching doc: pair count, closest distance, first closest pair.
* ``peak_concurrency_sessions`` — maximum concurrent sessions and when
  it first happened: gap-sessionize events, sweep the interval
  endpoints (+1 at start, −1 just after end — a session ending at
  instant t still occupies t, so closes take effect at t+1; ties at
  the same instant process closes first), running-sum via the
  two-phase ``global_prefix_sum`` over the total endpoint order, then
  the peak and its first timestamp.  The classic ops capacity metric
  (sweep line), previously absent from the session family.

100 TB shape: proximity work is inverted-index-bounded (two posting
lists joined per doc); the concurrency sweep is 2 rows per session
through one range-partitioned prefix sum — no global window; the peak
scalar is a 1-row broadcast back onto the swept frame.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.caching import tracked_cache
from ..operators.prefix_sum import global_prefix_sum
from ..operators.sessions import sessionize
from ..sources.tables import load_table
from . import QuerySpec

_PROX = ("data", "fast")
_SLOP = 3


def _q_proximity_search_slop(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    index = tracked_cache(
        docs.select(
            "doc_id",
            F.posexplode(F.split("text", " ")).alias("p0", "tok"),
        )
        .where(F.col("tok").isin(*_PROX))
        .select("doc_id", (F.col("p0") + 1).alias("pos"), "tok")
    )
    ta = index.where(F.col("tok") == _PROX[0]).select(
        "doc_id", F.col("pos").alias("pa")
    )
    tb = index.where(F.col("tok") == _PROX[1]).select(
        "doc_id", F.col("pos").alias("pb")
    )
    pairs = ta.join(tb, "doc_id").where(
        F.abs(F.col("pa") - F.col("pb")) <= _SLOP
    )
    return (
        pairs.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.min(F.abs(F.col("pa") - F.col("pb"))).alias("min_dist"),
            F.min(
                F.struct(
                    F.abs(F.col("pa") - F.col("pb")).alias("d"),
                    F.col("pa").alias("pa"),
                    F.col("pb").alias("pb"),
                )
            ).alias("_best"),
        )
        .select(
            "doc_id",
            "n_pairs",
            "min_dist",
            F.col("_best.pa").alias("best_pa"),
            F.col("_best.pb").alias("best_pb"),
        )
        .orderBy("doc_id")
    )


_SQL_PROXIMITY_SEARCH_SLOP = f"""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
), idx AS (
  SELECT doc_id, CAST(i AS INT) AS pos, toks[i] AS tok
  FROM t, UNNEST(range(1, len(toks) + 1)) AS u(i)
  WHERE toks[i] IN ('{_PROX[0]}', '{_PROX[1]}')
), pairs AS (
  SELECT a.doc_id, a.pos AS pa, b.pos AS pb, abs(a.pos - b.pos) AS d
  FROM (SELECT doc_id, pos FROM idx WHERE tok = '{_PROX[0]}') a
  JOIN (SELECT doc_id, pos FROM idx WHERE tok = '{_PROX[1]}') b
    USING (doc_id)
  WHERE abs(a.pos - b.pos) <= {_SLOP}
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(min(d) AS INT) AS min_dist,
       CAST((min(ROW(d, pa, pb)))[2] AS INT) AS best_pa,
       CAST((min(ROW(d, pa, pb)))[3] AS INT) AS best_pb
FROM pairs
GROUP BY doc_id
ORDER BY doc_id
"""


def _q_peak_concurrency_sessions(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    sessions = sessionize(load_table(spark, sf_dir, "events"))
    # +1 at start, −1 at end+1 (closed interval [start, end]); at equal
    # instants closes sort before opens (delta −1 < +1) so a back-to-
    # back session pair never double-counts
    deltas = sessions.select(
        F.col("session_start_us").alias("t"),
        F.lit(1).alias("delta"),
        "user_id",
        "session_id",
    ).unionByName(
        sessions.select(
            (F.col("session_end_us") + 1).alias("t"),
            F.lit(-1).alias("delta"),
            "user_id",
            "session_id",
        )
    )
    swept = global_prefix_sum(
        deltas,
        order_col="t",
        value_col="delta",
        out_col="run",
        order_exprs=[
            F.asc("t"),
            F.asc("delta"),
            F.asc("user_id"),
            F.asc("session_id"),
        ],
    )
    peak = swept.agg(F.max("run").alias("peak_concurrency"))
    first = (
        swept.crossJoin(F.broadcast(peak))
        .where(F.col("run") == F.col("peak_concurrency"))
        .agg(F.min("t").alias("first_peak_us"))
    )
    n = sessions.agg(F.count(F.lit(1)).alias("n_sessions"))
    return (
        peak.crossJoin(F.broadcast(first))
        .crossJoin(F.broadcast(n))
        .select("peak_concurrency", "first_peak_us", "n_sessions")
    )


_SQL_PEAK_CONCURRENCY_SESSIONS = """
WITH x AS (
  SELECT user_id, event_id, epoch_us(ts) AS tus,
         lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
  FROM events
), flagged AS (
  SELECT *, CASE WHEN prev IS NULL OR tus - prev > 1800000000 THEN 1 ELSE 0 END AS new_s
  FROM x
), sess AS (
  SELECT user_id,
         CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY tus, event_id
                               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id,
         tus
  FROM flagged
), sessions AS MATERIALIZED (
  SELECT user_id, session_id, min(tus) AS s, max(tus) AS e
  FROM sess GROUP BY 1, 2
), deltas AS (
  SELECT s AS t, 1 AS delta, user_id, session_id FROM sessions
  UNION ALL
  SELECT e + 1 AS t, -1 AS delta, user_id, session_id FROM sessions
), swept AS MATERIALIZED (
  SELECT t, sum(delta) OVER (ORDER BY t, delta, user_id, session_id) AS run
  FROM deltas
)
SELECT CAST((SELECT max(run) FROM swept) AS BIGINT) AS peak_concurrency,
       CAST((SELECT min(t) FROM swept
             WHERE run = (SELECT max(run) FROM swept)) AS BIGINT)
         AS first_peak_us,
       CAST((SELECT count(*) FROM sessions) AS BIGINT) AS n_sessions
"""


SPECS: dict[str, QuerySpec] = {
    "proximity_search_slop": QuerySpec(
        _q_proximity_search_slop,
        _SQL_PROXIMITY_SEARCH_SLOP,
        "two-term proximity search (|delta pos| <= 3, either order) "
        "over the positional index — the sloppy-phrase relaxation of "
        "phrase_search_positional",
    ),
    "peak_concurrency_sessions": QuerySpec(
        _q_peak_concurrency_sessions,
        _SQL_PEAK_CONCURRENCY_SESSIONS,
        "sweep-line maximum concurrent sessions (+1/-1 endpoint walk "
        "via two-phase prefix sum, closes-before-opens tie rule) with "
        "first peak timestamp",
    ),
}
