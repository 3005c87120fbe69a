"""Round-10 optimal-coding pack: exact Huffman code cost of the
corpus character distribution — the optimal-merge-pattern fold, with
both classical dominance bounds checked in-band.

* ``huffman_code_cost_chars`` — one documents scan explodes to
  characters (the round8_text idiom), collapses to the ≤ ~100-row
  global character-frequency frame, and folds the ascending weight
  list with Huffman's greedy (Huffman 1952): repeatedly merge the two
  smallest weights; the total code cost in bits equals the SUM OF ALL
  MERGE WEIGHTS (the weighted-external-path-length identity), so the
  fold never needs to build the tree.  The accumulator is ONE plain
  LIST(BIGINT) — element 1 carries the running cost, the tail stays
  sorted — which keeps the DuckDB oracle on ``list_reduce``'s safe
  single-expression path (the multi-field struct hazard documented in
  plans/round10_replay.py).  The fold unrolls a fixed
  ``HUF_MAX_SYMBOLS − 1`` steps with a size guard (no-op once one
  weight remains), so the plan is static for any alphabet up to the
  bound; the symbol count is emitted so the bound is auditable.
  Output: alphabet size, total chars, exact Huffman bits, the
  fixed-length-code cost total·⌈log2 n⌉ (the ceil computed in pure
  integers — count of j with 2^j < n — because float log2 of exact
  powers is engine-dependent), and the two dominance certificates
  every optimal code obeys: huffman ≤ fixed-length and
  huffman ≥ total (every symbol costs ≥ 1 bit for n ≥ 2).

100-TB shape: the corpus-sized work is one scan + one char hash
aggregate (map-side partials over a ≤ ~100-key domain); the fold is
constant-size.  Same cost family as ``char_entropy_topdocs``
(corpus-linear floor on the scan, nothing else grows).

Identity properties (tests/test_properties.py): the list fold equals
a heapq reference Huffman on random weight multisets; the cost equals
the minimum over ALL pairwise merge orders on brute-forceable
alphabets (the optimal-merge-pattern theorem, exercised end-to-end);
both emitted bounds hold on every instance.

No reference counterpart (coding-theory extension beside the
entropy/compression family); public algorithms only (Huffman 1952).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import fan_out, load_table
from . import QuerySpec

#: static fold bound: distinct characters never exceed this (emitted
#: n_symbols makes the premise auditable; ASCII text ≤ ~100 symbols)
HUF_MAX_SYMBOLS = 160

#: the merge step: acc = [cost, w1, w2, ...] with the tail sorted
#: ascending; merge the two smallest, keep the tail sorted
_FOLD = f"""aggregate(
  sequence(1, {HUF_MAX_SYMBOLS - 1}),
  array_prepend(array_sort(ws), CAST(0 AS BIGINT)),
  (acc, i) -> IF(size(acc) <= 2, acc,
    array_prepend(
      array_sort(concat(
        slice(acc, 4, size(acc) - 3),
        array(element_at(acc, 2) + element_at(acc, 3)))),
      element_at(acc, 1) + element_at(acc, 2) + element_at(acc, 3))))"""


def _q_huffman_code_cost_chars(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    # fan_out (r11, guide §2.5): one parquet file = one input split —
    # the per-character explode ran on a single core otherwise
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    # guard empty text BEFORE the position explode: F.sequence(1, 0)
    # yields a DESCENDING [1, 0] (step defaults to -1 when start > stop)
    # and would inject two empty-string "characters" per empty document,
    # while the twin's range(1, length+1) yields none (r10 ADVICE #1)
    chars = (
        docs.where(F.length("text") > 0)
        .select(
            F.explode(F.sequence(F.lit(1), F.length("text"))).alias("i"),
            "text",
        )
        .select(F.substring("text", F.col("i"), 1).alias("ch"))
    )
    counts = chars.groupBy("ch").agg(F.count(F.lit(1)).alias("w"))
    one = counts.agg(
        F.expr("collect_list(w)").alias("ws"),
        F.count(F.lit(1)).alias("n_symbols"),
        F.sum("w").alias("total_chars"),
    )
    folded = one.select(
        "n_symbols",
        "total_chars",
        F.expr(f"element_at({_FOLD}, 1)").alias("huffman_bits"),
        # integer ceil(log2 n): count of j in [0,62] with 2^j < n
        F.expr(
            "CAST(size(filter(sequence(0, 62),"
            " j -> shiftleft(CAST(1 AS BIGINT), j) < n_symbols))"
            " AS BIGINT)"
        ).alias("ceil_log2_n"),
    )
    return folded.select(
        F.col("n_symbols").cast("bigint").alias("n_symbols"),
        "total_chars",
        "huffman_bits",
        "ceil_log2_n",
        F.expr("total_chars * ceil_log2_n").alias("fixed_len_bits"),
        F.expr(
            "huffman_bits <= total_chars * ceil_log2_n"
        ).alias("beats_fixed_length"),
        F.expr("huffman_bits >= total_chars").alias("ge_one_bit_floor"),
    )


_SQL_HUFFMAN = f"""
WITH chars AS MATERIALIZED (
  -- WHERE length > 0 mirrors the Spark-side empty-text guard (range()
  -- is already empty for empty text; the filter keeps both engines'
  -- premises literally aligned)
  SELECT substr(text, CAST(i AS INT), 1) AS ch
  FROM documents, UNNEST(range(1, length(text) + 1)) AS u(i)
  WHERE length(text) > 0
), counts AS MATERIALIZED (
  SELECT ch, CAST(count(*) AS BIGINT) AS w FROM chars GROUP BY ch
), one AS MATERIALIZED (
  SELECT list(w) AS ws,
         CAST(count(*) AS BIGINT) AS n_symbols,
         CAST(sum(w) AS BIGINT) AS total_chars
  FROM counts
), folded AS MATERIALIZED (
  SELECT n_symbols, total_chars,
         list_reduce(
           [list_prepend(CAST(0 AS BIGINT), list_sort(ws))]
             || list_transform(range(1, {HUF_MAX_SYMBOLS}), j ->
                  [CAST(0 AS BIGINT)]),
           (acc, x) -> CASE WHEN len(acc) <= 2 THEN acc
             ELSE list_prepend(
               acc[1] + acc[2] + acc[3],
               list_sort(list_append(acc[4 : len(acc)],
                                     acc[2] + acc[3])))
           END)[1] AS huffman_bits,
         CAST(len(list_filter(range(0, 63),
               j -> (CAST(1 AS BIGINT) << j) < n_symbols))
              AS BIGINT) AS ceil_log2_n
  FROM one
)
SELECT n_symbols, total_chars, huffman_bits, ceil_log2_n,
       CAST(total_chars * ceil_log2_n AS BIGINT) AS fixed_len_bits,
       huffman_bits <= total_chars * ceil_log2_n AS beats_fixed_length,
       huffman_bits >= total_chars AS ge_one_bit_floor
FROM folded
"""


SPECS: dict[str, QuerySpec] = {
    "huffman_code_cost_chars": QuerySpec(
        _q_huffman_code_cost_chars,
        _SQL_HUFFMAN,
        "exact Huffman code cost of the corpus character distribution "
        "via the optimal-merge fold (cost = sum of merge weights, one "
        "sorted LIST accumulator); fixed-length and one-bit-floor "
        "dominance certificates in-band",
    ),
}
