"""Round-11 preference-model pack: Bradley-Terry strengths from
pairwise head-to-heads — the model behind preference-data audits
(RLHF reward modeling ranks completions with exactly this likelihood;
here it ranks market segments by daily revenue head-to-heads, the
same arithmetic on public data).

* ``bradley_terry_segment_strength`` — comparisons: for every order
  day and segment pair present that day, the higher daily revenue
  wins (exact cents comparison; ties are no-contests).  The bounded
  5×5 win matrix then fits the Bradley-Terry model by Zermelo's MM
  iteration (Zermelo 1929; Ford 1957; Hunter 2004):
  p_i ← w_i / Σ_{{j≠i}} n_ij/(p_i + p_j), renormalized each sweep —
  run ``BT_SWEEPS`` times in INTEGER MICRO-UNITS (scaled inverse,
  truncating division — both engines walk the identical integer
  trajectory, the round-9 Markov discipline) as one array fold.
  Output per segment: games, wins, the fitted strength in micro
  (Σ = 1e6 up to truncation), the strength rank, and two corpus-wide
  witnesses on every row: the final-sweep maximum strength move
  (convergence as data) and the total-games symmetry check
  Σw_i = total comparisons.

100-TB shape: one orders scan → (day × segment) rollup → per-day
pair join on the DIMENSION-BOUNDED 5-segment frame (≤10 pairs/day)
→ 5×5 aggregate → 1-row fold; sweeps are projections, not jobs.

Identity properties (tests/test_properties.py): the integer MM
replica's float shadow ascends the Bradley-Terry log-likelihood every
sweep on random win matrices; the two-item closed form
p1/p2 = w12/w21 is recovered; a dominant item ranks first; strengths
renormalize to the simplex.

No reference counterpart (preference-model extension alongside
plans/round8_ireval.py); public algorithm only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load_table
from . import QuerySpec

#: MM sweeps (likelihood ascent; convergence witnessed in-band)
BT_SWEEPS = 20
#: strength scale (micro) and inverse scale for the n/(p_i+p_j) terms
_PS = 1_000_000
_INV = 1_000_000_000

# one MM sweep over strengths p (array of 5 micro BIGINTs), closed
# over w (wins array, 1-indexed) and nm (5x5 games matrix flattened
# row-major, 1-indexed): p_i' = w_i * INV div D_i, D_i = sum_j
# n_ij * INV div (p_i + p_j); then renormalize to PS.
_BT_SWEEP = f"""(p, _s) -> transform(array(
    transform(sequence(1, 5), i ->
      CAST(element_at(w, i) * {_INV} DIV
        greatest(CAST(1 AS BIGINT),
          aggregate(sequence(1, 5), CAST(0 AS BIGINT), (d, j) ->
            d + IF(j = i, CAST(0 AS BIGINT),
                   element_at(nm, (i - 1) * 5 + j) * {_INV}
                   DIV (element_at(p, i) + element_at(p, j)))))
        AS BIGINT))),
  praw -> transform(praw, x ->
    x * {_PS} DIV greatest(CAST(1 AS BIGINT),
      aggregate(praw, CAST(0 AS BIGINT), (a, y) -> a + y))))[0]"""

_BT_FOLD = f"""aggregate(
  sequence(1, {BT_SWEEPS}),
  array_repeat(CAST({_PS // 5} AS BIGINT), 5),
  {_BT_SWEEP})"""

# penultimate strengths (one fewer sweep) for the convergence witness
_BT_FOLD_PREV = f"""aggregate(
  sequence(1, {BT_SWEEPS - 1}),
  array_repeat(CAST({_PS // 5} AS BIGINT), 5),
  {_BT_SWEEP})"""


def _q_bradley_terry_segment_strength(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    daily = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy(
            F.col("o_orderdate").cast("date").alias("day"),
            F.col("c_mktsegment").alias("seg"),
        )
        .agg(
            F.sum(
                F.expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)")
            ).alias("cents")
        )
    )
    codes = (
        daily.select("seg")
        .distinct()
        .select(
            "seg",
            F.expr(
                "CAST(dense_rank() OVER (ORDER BY seg) AS INT)"
            ).alias("sc"),
        )
    )
    dd = daily.join(F.broadcast(codes), "seg")
    a = dd.select(
        "day",
        F.col("sc").alias("i"),
        F.col("cents").alias("ci"),
    )
    b = dd.select(
        F.col("day").alias("day2"),
        F.col("sc").alias("j"),
        F.col("cents").alias("cj"),
    )
    games = (
        a.join(
            b,
            (F.col("day") == F.col("day2")) & (F.col("i") < F.col("j")),
        )
        .where(F.col("ci") != F.col("cj"))  # ties = no contest
        .select(
            "i",
            "j",
            F.when(F.col("ci") > F.col("cj"), 1).otherwise(0).alias("wi"),
        )
    )
    # 5x5 matrix + per-item wins, collected to one row FIRST (an
    # aggregate cannot live inside a higher-order lambda), then shaped
    mat = games.groupBy("i", "j").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("wi").alias("w_ij"),
    )
    collected = mat.agg(
        F.expr(
            "collect_list(named_struct('i', i, 'j', j, 'n', n,"
            " 'wij', w_ij))"
        ).alias("gs"),
        F.coalesce(F.sum("n"), F.lit(0).cast("bigint")).alias(
            "total_games"
        ),
    )
    one = collected.select(
        # nm[(i-1)*5+j] = games between i and j (symmetric, 0-filled)
        F.expr(
            """transform(sequence(1, 25), k ->
                 aggregate(gs, CAST(0 AS BIGINT),
                   (acc, g) -> acc +
                     IF((g.i - 1) * 5 + g.j = k
                        OR (g.j - 1) * 5 + g.i = k, g.n,
                        CAST(0 AS BIGINT))))"""
        ).alias("nm"),
        # w[i] = total wins of i (as row winner or column winner)
        F.expr(
            """transform(sequence(1, 5), k ->
                 aggregate(gs, CAST(0 AS BIGINT),
                   (acc, g) -> acc + IF(g.i = k, g.wij,
                                 IF(g.j = k, g.n - g.wij,
                                    CAST(0 AS BIGINT)))))"""
        ).alias("w"),
        "total_games",
    )
    fitted = one.select(
        "nm",
        "w",
        "total_games",
        F.expr(_BT_FOLD).alias("p"),
        F.expr(_BT_FOLD_PREV).alias("pprev"),
    ).select(
        "w",
        "total_games",
        "p",
        F.expr(
            """aggregate(sequence(1, 5), CAST(0 AS BIGINT), (m, i) ->
                 greatest(m, abs(element_at(p, i)
                                 - element_at(pprev, i))))"""
        ).alias("last_sweep_max_move"),
        F.expr(
            "aggregate(w, CAST(0 AS BIGINT), (a, x) -> a + x)"
            " = total_games"
        ).alias("wins_sum_ok"),
        F.expr(
            """transform(sequence(1, 5), i -> named_struct(
                 'sc', i,
                 'strength', element_at(p, i),
                 'wins', element_at(w, i)))"""
        ).alias("rows"),
    )
    exploded = fitted.select(
        "total_games",
        "last_sweep_max_move",
        "wins_sum_ok",
        F.explode("rows").alias("r"),
    ).select(
        F.col("r.sc").alias("sc"),
        F.col("r.strength").alias("strength_micro"),
        F.col("r.wins").alias("wins"),
        "total_games",
        "last_sweep_max_move",
        "wins_sum_ok",
    )
    return (
        exploded.join(F.broadcast(codes), "sc")
        .select(
            F.col("seg").alias("segment"),
            "strength_micro",
            F.expr(
                "CAST(rank() OVER (ORDER BY strength_micro DESC, seg)"
                " AS INT)"
            ).alias("strength_rank"),
            "wins",
            "total_games",
            "last_sweep_max_move",
            "wins_sum_ok",
        )
        .orderBy("segment")
    )


def _sql_bt() -> str:
    sweeps = []
    prev = "p0"
    for t in range(1, BT_SWEEPS + 1):
        sweeps.append(
            f""", praw{t} AS MATERIALIZED (
  SELECT it.i,
         CAST((SELECT w FROM wins ww WHERE ww.i = it.i) * {_INV} //
           greatest(1, (
             SELECT sum(CASE WHEN g.j = it.i THEN 0 ELSE
               g.n * {_INV} //
               ((SELECT p FROM {prev} x WHERE x.i = it.i)
                + (SELECT p FROM {prev} y WHERE y.i = g.j)) END)
             FROM nmat g WHERE g.i = it.i)) AS BIGINT) AS praw
  FROM items it
), p{t} AS MATERIALIZED (
  SELECT i, CAST(praw * {_PS} //
    greatest(1, (SELECT sum(praw) FROM praw{t})) AS BIGINT) AS p
  FROM praw{t}
)"""
        )
        prev = f"p{t}"
    return (
        f"""
WITH daily AS MATERIALIZED (
  SELECT CAST(o.o_orderdate AS DATE) AS day, c.c_mktsegment AS seg,
         CAST(sum(CAST(round(o.o_totalprice * 100, 0) AS BIGINT))
              AS BIGINT) AS cents
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY 1, 2
), codes AS MATERIALIZED (
  SELECT seg, CAST(dense_rank() OVER (ORDER BY seg) AS INT) AS sc
  FROM (SELECT DISTINCT seg FROM daily)
), dd AS MATERIALIZED (
  SELECT d.day, c.sc, d.cents FROM daily d JOIN codes c ON c.seg = d.seg
), games AS MATERIALIZED (
  SELECT a.sc AS i, b.sc AS j,
         CASE WHEN a.cents > b.cents THEN 1 ELSE 0 END AS wi
  FROM dd a JOIN dd b
    ON a.day = b.day AND a.sc < b.sc AND a.cents != b.cents
), mat AS MATERIALIZED (
  SELECT i, j, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(wi) AS BIGINT) AS w_ij
  FROM games GROUP BY i, j
), items AS MATERIALIZED (
  SELECT unnest(range(1, 6)) AS i
), nmat AS MATERIALIZED (
  -- symmetric games matrix over all (i, j) item pairs, zero-filled
  SELECT a.i AS i, b.i AS j,
         CAST(coalesce((SELECT n FROM mat m
                        WHERE (m.i = a.i AND m.j = b.i)
                           OR (m.i = b.i AND m.j = a.i)), 0)
           AS BIGINT) AS n
  FROM items a, items b
), wins AS MATERIALIZED (
  SELECT it.i,
         CAST(coalesce((SELECT sum(CASE WHEN m.i = it.i THEN m.w_ij
                                        ELSE m.n - m.w_ij END)
                        FROM mat m
                        WHERE m.i = it.i OR m.j = it.i), 0)
           AS BIGINT) AS w
  FROM items it
), totals AS MATERIALIZED (
  SELECT CAST(coalesce(sum(n), 0) AS BIGINT) AS total_games FROM mat
), p0 AS MATERIALIZED (
  SELECT i, CAST({_PS // 5} AS BIGINT) AS p FROM items
)"""
        + "".join(sweeps)
        + f"""
SELECT c.seg AS segment,
       (SELECT p FROM p{BT_SWEEPS} x WHERE x.i = c.sc) AS strength_micro,
       CAST(rank() OVER (
         ORDER BY (SELECT p FROM p{BT_SWEEPS} x WHERE x.i = c.sc) DESC,
                  c.seg) AS INT) AS strength_rank,
       (SELECT w FROM wins ww WHERE ww.i = c.sc) AS wins,
       (SELECT total_games FROM totals) AS total_games,
       (SELECT CAST(max(abs(a.p - b.p)) AS BIGINT)
        FROM p{BT_SWEEPS} a JOIN p{BT_SWEEPS - 1} b ON a.i = b.i)
         AS last_sweep_max_move,
       (SELECT sum(w) FROM wins)
         = (SELECT total_games FROM totals) AS wins_sum_ok
FROM codes c
ORDER BY segment
"""
    )


SPECS: dict[str, QuerySpec] = {
    "bradley_terry_segment_strength": QuerySpec(
        _q_bradley_terry_segment_strength,
        _sql_bt(),
        "Bradley-Terry strengths from daily revenue head-to-heads "
        "(Zermelo MM, 20 integer micro-unit sweeps as one fold vs the "
        "oracle's per-sweep CTE replay): fitted strengths, ranks, "
        "convergence and win-symmetry witnesses in-band — the "
        "preference-model fit behind reward-data audits",
    ),
}
