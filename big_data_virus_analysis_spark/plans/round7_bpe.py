"""Round-7 BPE exact twin — pins the iterative merge body the
rows-only ``bpe_merge_table`` / ``bpe_token_stats`` entries can't.

``bpe_merge_steps_exact`` unrolls the FIRST TWO rounds of the exact
training loop in ``operators/bpe.py::train_bpe`` (Sennrich 2016) and
oracle-checks everything the rows-only check never could:

* the chosen pair per round (count DESC, left ASC, right ASC tiebreak);
* its weighted pair count;
* the post-merge corpus state: distinct-symbol count and total
  weighted symbol count after applying the greedy left-to-right merge
  fold to every word.

The Spark side IS the production loop body (same ``_word_symbols``
table, same ``_merge_expr`` fold, same top-1 driver exchange —
O(1 row) per round, the driver-appropriate exchange the components /
k-means twins already use).  The DuckDB twin replays both rounds fully
relationally: the merge application is a ``list_reduce`` over
singleton-list symbols (DuckDB's reduce seeds from the first element,
so the accumulator must already be a list), with the round's chosen
pair referenced as outer columns inside the lambda.

This completes the exact-twin policy: every rows-only family in
COVERAGE.md's audit now has its per-iteration body oracle-pinned
(k-means → lloyd_step, grids → fixed_scorer/lr_gd, sketches →
_bounded, sampling → _det, xxhash64 → fast_det, BPE → this).

100 TB shape: identical to train_bpe — one corpus pass builds the
vocabulary-sized word-frequency table; each round is a pair explode +
hash agg over that bounded frame and a 1-row top-1 exchange.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.bpe import _merge_expr, _word_symbols
from ..sources.tables import load_table
from . import QuerySpec

_N_STEPS = 2


def _q_bpe_merge_steps_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    cur = _word_symbols(docs).localCheckpoint(eager=True)
    out_rows = []
    for rank in range(1, _N_STEPS + 1):
        pair_struct = F.transform(
            F.sequence(F.lit(1), F.size("syms") - 1),
            lambda i: F.struct(
                F.element_at(F.col("syms"), i).alias("l"),
                F.element_at(F.col("syms"), i + 1).alias("r"),
            ),
        )
        pairs = (
            cur.where(F.size("syms") >= 2)
            .select("n", F.explode(pair_struct).alias("p"))
            .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
            .agg(F.sum("n").alias("cnt"))
        )
        top = (
            pairs.orderBy(F.desc("cnt"), F.asc("l"), F.asc("r"))
            .limit(1)
            .collect()[0]
        )
        cur = cur.select(
            "word", "n", _merge_expr(top["l"], top["r"]).alias("syms")
        ).localCheckpoint(eager=True)
        stats = cur.agg(
            F.sum(F.col("n") * F.size("syms")).alias("corpus_symbols"),
        ).collect()[0]
        n_distinct = (
            cur.select(F.explode("syms").alias("s"))
            .agg(F.countDistinct("s").alias("d"))
            .collect()[0]["d"]
        )
        out_rows.append(
            (
                rank,
                top["l"],
                top["r"],
                top["l"] + top["r"],
                int(top["cnt"]),
                int(n_distinct),
                int(stats["corpus_symbols"]),
            )
        )
    return spark.createDataFrame(
        out_rows,
        "rank int, left string, right string, merged string, "
        "pair_count bigint, n_distinct_symbols bigint, corpus_symbols bigint",
    )


def _round_sql(prev: str, idx: int) -> str:
    """One unrolled BPE round over symbol table ``prev`` → pair table
    p{idx}, top-1 t{idx}, merged symbol table s{idx}."""
    return f"""
p{idx} AS (
  SELECT syms[i] AS l, syms[i + 1] AS r, sum(n) AS cnt
  FROM {prev}, UNNEST(generate_series(1, len(syms) - 1)) AS u(i)
  WHERE len(syms) >= 2
  GROUP BY 1, 2
), t{idx} AS (
  SELECT l, r, cnt FROM p{idx} ORDER BY cnt DESC, l ASC, r ASC LIMIT 1
), s{idx} AS (
  SELECT s.word, s.n,
         CASE WHEN len(s.syms) < 2 THEN s.syms
              ELSE list_reduce(
                list_transform(s.syms, x -> [x]),
                (acc, x) -> CASE WHEN acc[-1] = t.l AND x[1] = t.r
                                 THEN acc[1:len(acc) - 1] || [t.l || t.r]
                                 ELSE acc || x END)
         END AS syms
  FROM {prev} s CROSS JOIN t{idx} t
), st{idx} AS (
  SELECT {idx} AS rank,
         (SELECT l FROM t{idx}) AS "left",
         (SELECT r FROM t{idx}) AS "right",
         (SELECT l || r FROM t{idx}) AS merged,
         (SELECT CAST(cnt AS BIGINT) FROM t{idx}) AS pair_count,
         (SELECT CAST(count(DISTINCT sym) AS BIGINT)
          FROM (SELECT unnest(syms) AS sym FROM s{idx})) AS n_distinct_symbols,
         (SELECT CAST(sum(n * len(syms)) AS BIGINT) FROM s{idx})
           AS corpus_symbols
)"""


_SQL_BPE_MERGE_STEPS_EXACT = (
    """
WITH words AS (
  SELECT word, count(*) AS n
  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
  WHERE length(word) > 0
  GROUP BY word
), s0 AS (
  SELECT word, n,
         list_transform(generate_series(1, length(word)),
                        i -> word[i:i]) AS syms
  FROM words
),"""
    + _round_sql("s0", 1)
    + ","
    + _round_sql("s1", 2)
    + """
SELECT * FROM st1 UNION ALL SELECT * FROM st2
"""
)


SPECS: dict[str, QuerySpec] = {
    "bpe_merge_steps_exact": QuerySpec(
        _q_bpe_merge_steps_exact,
        _SQL_BPE_MERGE_STEPS_EXACT,
        "first two BPE training rounds oracle-pinned: chosen pair, "
        "weighted count, and post-merge corpus state per round "
        "(exact twin of operators/bpe.py::train_bpe's loop body)",
    ),
}
