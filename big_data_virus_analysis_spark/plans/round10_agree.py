"""Round-10 inter-rater agreement pack: multi-rater chance-corrected
agreement over the documents table — Fleiss' kappa and Krippendorff's
alpha, both EXACT (integer numerator/denominator emitted beside the
truncated micros, so the oracle hash covers the full rational).

The "raters" are three deterministic quality rules (the repo's
quality-scoring family, plans/text_quality.py, gives them meaning —
here they stand in for independent annotators labeling keep/drop):
r1 length (n_chars ≥ 300), r2 function-word presence (' the ' in the
lowercased text), r3 sentence punctuation ('.' present).  Rules are
pure column predicates, so the rater matrix is ONE documents scan.

* ``fleiss_kappa_rules`` — Fleiss 1971 for m = 3 raters, 2 categories:
  per-item agreement P_i = Σ_j n_ij(n_ij−1) / (m(m−1)), chance
  agreement from the pooled category shares.  Exact integer algebra:
  κ = (P̄−P_e)/(1−P_e) is emitted as
  num = A·(Nm)² − N·m(m−1)·(S₀²+S₁²) over
  den = N·m(m−1)·((Nm)² − S₀² − S₁²), where A = Σ_i Σ_j n_ij(n_ij−1),
  S_j the pooled category counts — the INTERNAL algebra rides
  DECIMAL(38,0)/HUGEINT (S² reaches ~1e20 at the 100 TB point, past
  BIGINT; the round9_absorb widening discipline) while the FINAL
  num/den emission is int64 (r12 driver-parity: wide decimals render
  differently per engine on the driver channel; magnitudes < 1e15 at
  every test SF, and the oracle cast errors loudly on overflow).
  kappa_micros truncates toward zero via
  sign·(|num|·10⁶ div den) — identical in both engines, unlike
  floor-division of negatives.
* ``krippendorff_alpha_rules`` — Krippendorff's alpha for binary
  nominal data, no missing values: α = 1 − D_o/D_e with the
  coincidence-matrix derivation collapsing to
  α = 1 − D·(Nm−1) / ((m−1)·S₀·S₁), D = Σ_i n_i0·n_i1 (per-item
  disagreeing pairs).  Same exact num/den + micros emission; the two
  statistics answer the same question under different chance models,
  and emitting both makes the model choice auditable.

100-TB shape: ONE documents scan → per-item 0/1 sums (pure map) →
one global aggregate (map-side partial) → constant-size rational
algebra.  No joins, no windows.

Identity properties (tests/test_properties.py): the integer formulas
equal a float reference implementation on random rater matrices;
perfect agreement gives κ = α = 1 exactly; a single flipped cell
strictly lowers both; κ and α agree in the large-N limit on balanced
data (checked within a tolerance band).

No reference counterpart (annotation-quality extension for training-
data pipelines); public statistics only (Fleiss 1971, Krippendorff
1970/2004).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load_table
from . import QuerySpec

#: rater count (the three deterministic rules below)
M_RATERS = 3
#: length-rule threshold (chars)
LEN_MIN = 300

_RULES_SPARK = (
    f"CAST(n_chars >= {LEN_MIN} AS BIGINT)",
    "CAST(lower(text) LIKE '% the %' AS BIGINT)",
    "CAST(instr(text, '.') > 0 AS BIGINT)",
)

_RULES_SQL = (
    f"CAST(n_chars >= {LEN_MIN} AS BIGINT)",
    "CAST(lower(text) LIKE '% the %' AS BIGINT)",
    "CAST(CASE WHEN position('.' IN text) > 0 THEN 1 ELSE 0 END AS BIGINT)",
)


def _rater_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(n1, n0) positive/negative rater counts per document."""
    d = load_table(spark, sf_dir, "documents")
    n1 = " + ".join(_RULES_SPARK)
    return d.select(
        F.expr(f"({n1})").alias("n1"),
        F.expr(f"CAST({M_RATERS} AS BIGINT) - ({n1})").alias("n0"),
    )


_SQL_COUNTS = f"""
counts AS MATERIALIZED (
  SELECT ({" + ".join(_RULES_SQL)}) AS n1,
         CAST({M_RATERS} AS BIGINT) - ({" + ".join(_RULES_SQL)}) AS n0
  FROM documents
)"""

#: truncate-toward-zero micros — identical semantics in both engines
#: (plain div/// floor differently on negatives)
_MICROS = (
    "CAST(CASE WHEN num >= 0 THEN (num * 1000000) {d} den"
    " ELSE -((-num * 1000000) {d} den) END AS BIGINT)"
)


def _q_fleiss_kappa_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = M_RATERS
    agg = _rater_counts(spark, sf_dir).agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum("n1").alias("s1"),
        F.sum("n0").alias("s0"),
        F.sum(
            F.expr("n1 * (n1 - 1) + n0 * (n0 - 1)")
        ).alias("a_sum"),
    )
    dec = "CAST({} AS DECIMAL(38,0))"
    return agg.select(
        "n_items",
        "s1",
        "s0",
        F.expr(
            f"""{dec.format('a_sum')} * {dec.format(f'n_items * {m}')}
                * {dec.format(f'n_items * {m}')}
              - {dec.format(f'n_items * {m} * {m - 1}')}
                * ({dec.format('s1')} * {dec.format('s1')}
                   + {dec.format('s0')} * {dec.format('s0')})"""
        ).alias("num"),
        F.expr(
            f"""{dec.format(f'n_items * {m} * {m - 1}')}
              * ({dec.format(f'n_items * {m}')}
                 * {dec.format(f'n_items * {m}')}
                 - {dec.format('s1')} * {dec.format('s1')}
                 - {dec.format('s0')} * {dec.format('s0')})"""
        ).alias("den"),
    ).select(
        "n_items",
        "s1",
        "s0",
        # r12 driver-parity fix (r11 VERDICT #1): the INTERNAL algebra
        # stays DECIMAL(38,0)/HUGEINT (exact at any scale), but the
        # FINAL projection emits int64 — the driver renders a wide
        # decimal differently per engine (Spark Decimal object vs
        # DuckDB float64) and the value hash breaks on type, not value.
        # |num|,|den| < 1e15 at every test SF (measured sf0.001-0.1);
        # the oracle's HUGEINT->BIGINT cast errors loudly on overflow,
        # so a scale excursion past int64 fails the gate instead of
        # silently corrupting.
        F.expr("CAST(num AS BIGINT)").alias("num"),
        F.expr("CAST(den AS BIGINT)").alias("den"),
        F.expr(_MICROS.format(d="div")).alias("kappa_micros"),
    )


_SQL_FLEISS = f"""
WITH {_SQL_COUNTS},
agg AS MATERIALIZED (
  SELECT CAST(count(*) AS BIGINT) AS n_items,
         CAST(sum(n1) AS BIGINT) AS s1,
         CAST(sum(n0) AS BIGINT) AS s0,
         CAST(sum(n1 * (n1 - 1) + n0 * (n0 - 1)) AS BIGINT) AS a_sum
  FROM counts
), frac AS MATERIALIZED (
  SELECT n_items, s1, s0,
         CAST(a_sum AS HUGEINT)
           * CAST(n_items * {M_RATERS} AS HUGEINT)
           * CAST(n_items * {M_RATERS} AS HUGEINT)
         - CAST(n_items * {M_RATERS} * {M_RATERS - 1} AS HUGEINT)
           * (CAST(s1 AS HUGEINT) * CAST(s1 AS HUGEINT)
              + CAST(s0 AS HUGEINT) * CAST(s0 AS HUGEINT)) AS num,
         CAST(n_items * {M_RATERS} * {M_RATERS - 1} AS HUGEINT)
           * (CAST(n_items * {M_RATERS} AS HUGEINT)
              * CAST(n_items * {M_RATERS} AS HUGEINT)
              - CAST(s1 AS HUGEINT) * CAST(s1 AS HUGEINT)
              - CAST(s0 AS HUGEINT) * CAST(s0 AS HUGEINT)) AS den
  FROM agg
)
SELECT n_items, s1, s0,
       -- final emission int64 (driver-parity, r11 VERDICT #1); the
       -- HUGEINT->BIGINT cast is the bound assertion: DuckDB errors
       -- on overflow rather than truncating
       CAST(num AS BIGINT) AS num,
       CAST(den AS BIGINT) AS den,
       {_MICROS.format(d="//")} AS kappa_micros
FROM frac
"""


def _q_krippendorff_alpha_rules(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    m = M_RATERS
    agg = _rater_counts(spark, sf_dir).agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum("n1").alias("s1"),
        F.sum("n0").alias("s0"),
        F.sum(F.expr("n1 * n0")).alias("d_sum"),
    )
    dec = "CAST({} AS DECIMAL(38,0))"
    return agg.select(
        "n_items",
        "s1",
        "s0",
        "d_sum",
        F.expr(
            f"""{dec.format(f'{m - 1}')} * {dec.format('s0')}
                * {dec.format('s1')}
              - {dec.format('d_sum')}
                * {dec.format(f'n_items * {m} - 1')}"""
        ).alias("num"),
        F.expr(
            f"{dec.format(f'{m - 1}')} * {dec.format('s0')}"
            f" * {dec.format('s1')}"
        ).alias("den"),
    ).select(
        "n_items",
        "s1",
        "s0",
        "d_sum",
        # int64 final emission — same driver-parity rationale as the
        # kappa twin above (micros still computed from the exact
        # decimal num/den of the input frame)
        F.expr("CAST(num AS BIGINT)").alias("num"),
        F.expr("CAST(den AS BIGINT)").alias("den"),
        F.expr(_MICROS.format(d="div")).alias("alpha_micros"),
    )


_SQL_ALPHA = f"""
WITH {_SQL_COUNTS},
agg AS MATERIALIZED (
  SELECT CAST(count(*) AS BIGINT) AS n_items,
         CAST(sum(n1) AS BIGINT) AS s1,
         CAST(sum(n0) AS BIGINT) AS s0,
         CAST(sum(n1 * n0) AS BIGINT) AS d_sum
  FROM counts
), frac AS MATERIALIZED (
  SELECT n_items, s1, s0, d_sum,
         CAST({M_RATERS - 1} AS HUGEINT) * CAST(s0 AS HUGEINT)
           * CAST(s1 AS HUGEINT)
         - CAST(d_sum AS HUGEINT)
           * CAST(n_items * {M_RATERS} - 1 AS HUGEINT) AS num,
         CAST({M_RATERS - 1} AS HUGEINT) * CAST(s0 AS HUGEINT)
           * CAST(s1 AS HUGEINT) AS den
  FROM agg
)
SELECT n_items, s1, s0, d_sum,
       -- final emission int64 (driver-parity); overflow errors loudly
       CAST(num AS BIGINT) AS num,
       CAST(den AS BIGINT) AS den,
       {_MICROS.format(d="//")} AS alpha_micros
FROM frac
"""


SPECS: dict[str, QuerySpec] = {
    "fleiss_kappa_rules": QuerySpec(
        _q_fleiss_kappa_rules,
        _SQL_FLEISS,
        "Fleiss' kappa across three deterministic document-quality "
        "raters (length, function word, punctuation): exact integer "
        "num/den plus truncated micros, DECIMAL(38,0) algebra",
    ),
    "krippendorff_alpha_rules": QuerySpec(
        _q_krippendorff_alpha_rules,
        _SQL_ALPHA,
        "Krippendorff's alpha (binary nominal, no missing) over the "
        "same three raters: disagreeing-pair sum D and the exact "
        "1 - D(Nm-1)/((m-1) S0 S1) rational, emitted num/den + micros",
    ),
}
