"""LIBSVM source/sink.

The reference wrote LIBSVM text by collecting every vector to the driver
and string-building lines (reference FeatureSelectionCloud.scala:445-489)
and read it back with ``MLUtils.loadLibSVMFile`` (KmeansVirus.scala:75).
Here both directions are distributed DataFrame ops.

Conventions preserved from the reference:
* 1-based feature indices in the text form (``idx:1``), values all 1.0
  (binary presence vectors) — FeatureSelectionCloud.scala:513-517;
* files with zero vocabulary hits are absent from the output
  (FeatureSelectionCloud.scala:482-483).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators.vectorize import libsvm_text
from .sinks import write_report_text


def read_libsvm(spark: SparkSession, path: str, num_features: int | None = None) -> DataFrame:
    """``DataFrame(label: double, features: VectorUDT)`` via the built-in source."""
    reader = spark.read.format("libsvm")
    if num_features is not None:
        reader = reader.option("numFeatures", str(num_features))
    return reader.load(path)


def write_libsvm_text(vectors: DataFrame, path: str, single_file: bool = False) -> None:
    """Distributed text write of ``doc_vectors`` output ``(doc, label,
    indices)`` (``coalesce(1)`` only for small golden files)."""
    write_report_text(libsvm_text(vectors), path, single_file=single_file)
