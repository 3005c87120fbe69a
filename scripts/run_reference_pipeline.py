"""End-to-end reference workload: the three Scala programs + PHP export
as ONE command over the reference's own api_logs corpus.

A user of davisengeler/big-data-virus-analysis runs four things:
  spark-submit FeatureSelectionCloud  -> topFeatures.txt + LIBSVMOutput.txt
  spark-submit KmeansVirus            -> output.txt (cluster;label;json report)
  spark-submit SVMDT                  -> model AUC table
  php exportJSON.php                  -> www/html/data.json
This script produces all four artifacts from the engine's operators:

  python scripts/run_reference_pipeline.py [OUT_DIR] [CLEAN_DIR VIRUS_DIR]

Defaults: OUT_DIR=/tmp/bdva_out; the corpus is the reference's own
api_logs where present, else the generated corpus of the same shape
(sources/api_log_corpus.py::api_log_root).
Artifacts land as topFeatures.txt, LIBSVMOutput.txt, output.txt,
data.json, model_auc.txt — same grammar as the committed goldens
(structural parity pinned in tests/test_reference_parity.py).

Everything stays a DataFrame plan until the final single-file writes
(the artifacts are KB-sized reports; the heavy stages — tokenize, IG,
vectorize, KMeans — run distributed).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from big_data_virus_analysis_spark.ml.pipeline import (  # noqa: E402
    dt_auc_grid,
    kmeans_assign,
    svm_auc_grid,
    to_ml_vectors,
)
from big_data_virus_analysis_spark.operators.report import (  # noqa: E402
    d3_tree,
    report_lines,
    sample_api_structs,
)
from big_data_virus_analysis_spark.operators.vectorize import (  # noqa: E402
    dense_feature_array,
    libsvm_text,
)
from big_data_virus_analysis_spark.session import get_spark  # noqa: E402
from big_data_virus_analysis_spark.sources.api_log_corpus import (  # noqa: E402
    CLASS_DIRS,
    api_log_root,
)
from big_data_virus_analysis_spark.sources.api_logs import api_log_feature_chain  # noqa: E402
from big_data_virus_analysis_spark.sources.sinks import write_report_text  # noqa: E402


def _flatten(path: str) -> None:
    """Replace a single-part Spark text output DIRECTORY with a flat
    file of the same name (reference artifacts are plain files; the
    distributed sink stays directory-shaped for real workloads)."""
    import glob
    import shutil

    parts = glob.glob(os.path.join(path, "part-*"))
    assert len(parts) == 1, f"expected one part file in {path}"
    tmp = path + ".flat"
    shutil.move(parts[0], tmp)
    shutil.rmtree(path)
    shutil.move(tmp, path)


def main() -> None:
    out_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/bdva_out"
    if len(sys.argv) > 3:
        clean_dir, virus_dir = sys.argv[2], sys.argv[3]
    else:
        root = api_log_root()
        clean_dir = os.path.join(root, CLASS_DIRS["clean"])
        virus_dir = os.path.join(root, CLASS_DIRS["virus"])
    os.makedirs(out_dir, exist_ok=True)

    spark = get_spark("bdva-reference-pipeline")
    spark.sparkContext.setLogLevel("ERROR")

    ranked, vectors = api_log_feature_chain(spark, clean_dir, virus_dir)

    # ---- FeatureSelectionCloud: IG ranking -> topFeatures.txt ----------
    ranked = ranked.cache()
    top_features = ranked.orderBy("rank").select(
        F.concat(
            F.lit("("), F.col("token"), F.lit(","),
            F.col("info_gain").cast("string"), F.lit(")"),
        ).alias("line")
    )
    write_report_text(top_features, f"{out_dir}/topFeatures.txt", single_file=True)
    _flatten(f"{out_dir}/topFeatures.txt")
    vocab = ranked.select("token", "rank")
    n_features = ranked.count()

    # ---- FeatureSelectionCloud: vectorize -> LIBSVMOutput.txt ----------
    vectors = vectors.cache()
    write_report_text(
        libsvm_text(vectors).orderBy("doc"),
        f"{out_dir}/LIBSVMOutput.txt",
        single_file=True,
    )
    _flatten(f"{out_dir}/LIBSVMOutput.txt")

    # ---- KmeansVirus: k=10 clustering -> output.txt + data.json --------
    featured = to_ml_vectors(dense_feature_array(vectors, n_features)).cache()
    assigned = kmeans_assign(featured, k=10).select(
        "doc", "cluster", "label", "indices"
    )
    samples = sample_api_structs(assigned, vocab, total_features=n_features).cache()
    write_report_text(
        report_lines(samples).orderBy("doc").select("line"),
        f"{out_dir}/output.txt",
        single_file=True,
    )
    _flatten(f"{out_dir}/output.txt")
    tree_json = d3_tree(samples).collect()[0]["tree_json"]
    with open(f"{out_dir}/data.json", "w") as f:
        f.write(tree_json)

    # ---- SVMDT: model grids -> model_auc.txt ---------------------------
    train, cv = featured.randomSplit([0.6, 0.4], seed=42)
    rows = dt_auc_grid(train.cache(), cv.cache()) + svm_auc_grid(train, cv)
    with open(f"{out_dir}/model_auc.txt", "w") as f:
        for model, param, auc in rows:
            f.write(f"{model};{param};{auc:.6f}\n")

    print(f"wrote topFeatures.txt LIBSVMOutput.txt output.txt data.json "
          f"model_auc.txt to {out_dir} ({n_features} features)")


if __name__ == "__main__":
    main()
