"""Entropy / information-gain column expressions.

The reference computed these in driver-side Scala closures
(entropy: reference FeatureSelectionCloud.scala:350-353; infoGain:
:364-367; NaN fix: :393-399).  Here they are pure built-in column
expressions — they compile into whole-stage codegen, no UDF.

Log-base note (SURVEY.md §7 hazards): the binary feature-selection
entropy uses **log2** (bits) while the cluster-quality entropy uses the
**natural log** — the reference is internally inconsistent and we
preserve both behaviors deliberately (cluster entropy lives in
operators/entropy_score.py).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _plogp2(p: Column) -> Column:
    """-p*log2(p) with the 0*log(0)=0 convention."""
    return F.when(p > 0, -p * F.log2(p)).otherwise(F.lit(0.0))


def entropy2(x: Column, y: Column) -> Column:
    """Binary entropy H(x/y) in bits — reference FeatureSelectionCloud.scala:350-353.

    The reference does not guard p∈{0,1} or y = 0 and produces NaN,
    later patched by replaceNaN; we compute the guarded value directly
    and use :func:`nan_to_zero` only where reference parity demands it.
    An empty partition (y = 0, e.g. the t − tg term of an API present in
    every document) scores 0.0 instead of dividing by zero, which ANSI
    mode would raise.
    """
    p = x.cast("double") / y.cast("double")
    return F.when(y == 0, F.lit(0.0)).otherwise(_plogp2(p) + _plogp2(F.lit(1.0) - p))


def info_gain(
    p: Column,
    t: Column,
    pg: Column,
    tg: Column,
) -> Column:
    """IG = H(p/t) − (tg/t)·H(pg/tg) − ((t−tg)/t)·H((p−pg)/(t−tg)).

    p  = #positive (virus) documents, t = total documents,
    tg = doc-frequency of the feature overall,
    pg = doc-frequency of the feature among positives.
    Reference FeatureSelectionCloud.scala:364-367, applied at :420-424.
    """
    t_d = t.cast("double")
    tg_d = tg.cast("double")
    return (
        entropy2(p, t)
        - (tg_d / t_d) * entropy2(pg, tg)
        - ((t_d - tg_d) / t_d) * entropy2(p - pg, t - tg)
    )


def nan_to_zero(c: Column) -> Column:
    """NaN → 0.0 (reference replaceNaN, FeatureSelectionCloud.scala:393-399)."""
    return F.nanvl(c, F.lit(0.0))
