"""Query plans: one module per operator pack, each defining ``SPECS``.

The registry that gathers every pack into one catalog is
:mod:`.catalog`; this package file holds only the entry type, so a pack
module defines its ``SPECS`` without loading the registry.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class QuerySpec:
    """One catalog entry: Spark plan + DuckDB oracle + provenance note."""

    spark: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # None → non-SQL-expressible; driver does rows-only check
    doc: str = ""


__all__ = ["QuerySpec"]
