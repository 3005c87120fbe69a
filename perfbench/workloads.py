"""The benchmark's workloads.

Each workload is a class with ``setup`` (inputs staged, untimed),
``run_pass`` (one timed pass) and ``check`` (output checks, untimed).
Every call into the engine goes through ``Layers.call``, which wraps it
in a span named ``<module>.<call>``.  With tracing on, the call's
DataFrame result is also forced at the boundary (cached and counted)
under a span of its own, so that build time and execution time, and
the Spark jobs of each, are recorded per layer.
"""

from __future__ import annotations

import glob
import json
import math
import os
import shutil

from pyspark.ml.classification import DecisionTreeClassifier
from pyspark.ml.functions import vector_to_array
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

import corpus
from spans import Tracer

from big_data_virus_analysis_spark.ml.metrics import exact_auc
from big_data_virus_analysis_spark.ml.pipeline import (
    DEFAULT_SEED,
    dt_auc_grid,
    kmeans_assign,
    svm_auc_grid,
    to_ml_vectors,
)
from big_data_virus_analysis_spark.operators.entropy_score import weighted_average_entropy
from big_data_virus_analysis_spark.operators.features import info_gain_ranking
from big_data_virus_analysis_spark.operators.report import (
    d3_tree,
    report_lines,
    sample_api_structs,
)
from big_data_virus_analysis_spark.operators.vectorize import (
    dense_feature_array,
    doc_vectors,
    libsvm_text,
)
from big_data_virus_analysis_spark.sources.api_logs import api_log_tokens, read_api_logs
from big_data_virus_analysis_spark.sources.sinks import write_report_text


class Layers:
    """Calls into the engine, each under a span."""

    def __init__(self, tracer: Tracer):
        self.tracer = tracer
        self.cached: list[DataFrame] = []
        self.storage_mb = 0.0

    def call(self, name: str, fn, *args, **kwargs):
        with self.tracer.span(f"{name}.build"):
            out = fn(*args, **kwargs)
        if self.tracer.enabled and isinstance(out, DataFrame):
            with self.tracer.span(f"{name}.exec"):
                out = out.cache()
                out.count()
            self.cached.append(out)
        return out

    def note_storage(self) -> None:
        """Record the MB held by cached frames right now."""
        infos = self.tracer.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        self.storage_mb = sum(i.memSize() + i.diskSize() for i in infos) / (1024.0 * 1024.0)

    def release(self) -> None:
        for df in self.cached:
            df.unpersist()
        self.cached.clear()


def _single_part(path: str) -> str:
    parts = glob.glob(os.path.join(path, "part-*"))
    if len(parts) != 1:
        raise ValueError(f"expected one part file in {path}, found {len(parts)}")
    return parts[0]


def _generate(seed: int, scale: dict):
    """The corpus for ``seed``, in the corpus module's default shape
    unless ``scale`` overrides it."""
    return corpus.generate(seed, **{k: scale[k] for k in ("n_clean", "n_virus", "lines")
                                    if k in scale})


def _json_leaves(node) -> int:
    children = node.get("children") if isinstance(node, dict) else None
    if not children:
        return 1
    return sum(_json_leaves(c) for c in children)


class ApiLogJob:
    """The reference FeatureSelectionCloud + KmeansVirus + exportJSON
    chain over a freshly generated corpus per pass."""

    name = "api_log_job"

    def __init__(self, spark, layers: Layers, work: str, seed: int, scale: dict):
        self.spark, self.layers, self.work, self.seed = spark, layers, work, seed
        self.scale = scale
        self.staged: list[tuple[str, str, corpus.Corpus]] = []

    def setup(self, n_passes: int) -> None:
        for i in range(n_passes):
            docs, texts = _generate(self.seed * 1000 + i, self.scale)
            clean_dir, virus_dir = corpus.write(texts, os.path.join(self.work, f"corpus{i}"))
            self.staged.append((clean_dir, virus_dir, docs))

    def run_pass(self, i: int) -> dict:
        clean_dir, virus_dir, _ = self.staged[i]
        out = os.path.join(self.work, f"out{i}")
        L, spark = self.layers.call, self.spark
        raw = L("sources.api_logs.read_api_logs", read_api_logs, spark, clean_dir, virus_dir).cache()
        doc_cls = raw.select(
            F.concat_ws("/", "class", "file").alias("doc"),
            F.when(F.col("class") == "virus", F.lit("pos")).otherwise(F.lit("neg")).alias("cls"),
        ).distinct()
        toks = L("sources.api_logs.api_log_tokens", api_log_tokens, raw)
        ranked = L("operators.features.info_gain_ranking", info_gain_ranking,
                   toks, k=2000, doc_classes=doc_cls).cache()
        vocab_rows = ranked.select("token", "info_gain", "rank").collect()
        vocab = ranked.select("token", "rank")
        n_features = len(vocab_rows)

        vectors = L("operators.vectorize.doc_vectors", doc_vectors, toks, vocab).cache()
        lines = L("operators.vectorize.libsvm_text", libsvm_text, vectors)
        L("sources.sinks.write_report_text", write_report_text,
          lines.orderBy("doc"), f"{out}/LIBSVMOutput.txt", single_file=True)

        dense = L("operators.vectorize.dense_feature_array", dense_feature_array,
                  vectors, n_features)
        featured = to_ml_vectors(dense).cache()
        assigned = L("ml.pipeline.kmeans_assign", kmeans_assign, featured, k=10).select(
            "doc", "cluster", "label", "indices")
        entropy = L("operators.entropy_score.weighted_average_entropy",
                    weighted_average_entropy, assigned, "cluster", "label").first()["score"]
        samples = L("operators.report.sample_api_structs", sample_api_structs,
                    assigned, vocab, total_features=n_features).cache()
        report = L("operators.report.report_lines", report_lines, samples)
        L("sources.sinks.write_report_text", write_report_text,
          report.orderBy("doc").select("line"), f"{out}/output.txt", single_file=True)
        tree = L("operators.report.d3_tree", d3_tree, samples)
        L("sources.sinks.write_report_text", write_report_text,
          tree, f"{out}/data.json", column="tree_json", single_file=True)

        self.layers.note_storage()
        for df in (raw, ranked, vectors, featured, samples):
            df.unpersist()
        self.layers.release()
        return {"vocab": [(r["token"], r["info_gain"], r["rank"]) for r in vocab_rows],
                "entropy": entropy, "out": out}

    def corrupt(self, result: dict) -> None:
        with open(_single_part(f"{result['out']}/output.txt"), "a") as f:
            f.write("0;0.0;[]\n")

    def describe(self, result: dict) -> dict:
        return {"vocab": len(result["vocab"]), "entropy": result["entropy"]}

    def check(self, i: int, result: dict) -> list[str]:
        """Compare the pass's artifacts with the pure-Python reference."""
        _, _, docs = self.staged[i]
        want_vocab = corpus.info_gain_reference(docs)
        want = corpus.expected_outputs(docs)
        errors = []
        got = {t: ig for t, ig, _ in result["vocab"]}
        if set(got) != {t for t, _ in want_vocab}:
            errors.append("vocab tokens differ from the reference")
        elif any(abs(got[t] - ig) > 1e-6 for t, ig in want_vocab):
            errors.append("info gain differs from the reference")
        ranks = sorted(result["vocab"], key=lambda r: r[2])
        if [r[2] for r in ranks] != list(range(1, len(ranks) + 1)) or any(
            (-a[1], a[0]) > (-b[1], b[0]) for a, b in zip(ranks, ranks[1:])
        ):
            errors.append("vocab ranks are not ordered by (info gain desc, token)")
        out = result["out"]
        with open(_single_part(f"{out}/LIBSVMOutput.txt")) as f:
            n_libsvm = sum(1 for _ in f)
        with open(_single_part(f"{out}/output.txt")) as f:
            n_output = sum(1 for _ in f)
        with open(_single_part(f"{out}/data.json")) as f:
            tree = json.load(f)
        # data.json: container -> cluster -> class -> sample -> API leaves
        n_leaves = sum(
            _json_leaves(sample)
            for cluster in tree["children"]
            for cls in cluster["children"]
            for sample in cls["children"]
        )
        for key, got_n in (("libsvm_lines", n_libsvm), ("output_rows", n_output),
                           ("json_leaves", n_leaves), ("vocab", len(result["vocab"]))):
            if got_n != want[key]:
                errors.append(f"{key}: {got_n} != reference {want[key]}")
        if not 0.0 <= result["entropy"] <= math.log(2) + 1e-6:
            errors.append(f"cluster entropy {result['entropy']} outside [0, ln 2]")
        shutil.rmtree(out, ignore_errors=True)
        return errors


def universal_api_ig(spark) -> dict[str, float]:
    """Information gain ``{token: ig}`` over a corpus where one API
    occurs in every document.  Raises while the engine divides by
    t - tg = 0."""
    rows = ", ".join(f"('{d}', '{c}', '{t}')" for d, c, t in corpus.universal_api_docs())
    df = spark.sql(f"SELECT * FROM VALUES {rows} AS docs(doc, cls, token)")
    return {r["token"]: r["info_gain"] for r in info_gain_ranking(df, k=2000).collect()}


def universal_api_ig_reference() -> dict[str, float]:
    """What ``universal_api_ig`` should return: the reference scores the
    universal API with IG 0."""
    docs: dict[str, tuple[str, frozenset[str]]] = {}
    for d, c, t in corpus.universal_api_docs():
        docs[d] = (c, docs.get(d, (c, frozenset()))[1] | {t})
    return dict(corpus.info_gain_reference(corpus.Corpus(docs)))


def _mann_whitney_auc(pairs: list[tuple[float, int]]) -> float:
    """AUC of (score, label) pairs with ties counted one half."""
    pos = sorted(s for s, y in pairs if y == 1)
    neg = sorted(s for s, y in pairs if y == 0)
    wins, j_lt, j_le = 0.0, 0, 0
    for s in pos:
        while j_lt < len(neg) and neg[j_lt] < s:
            j_lt += 1
        j_le = max(j_le, j_lt)
        while j_le < len(neg) and neg[j_le] <= s:
            j_le += 1
        wins += j_lt + (j_le - j_lt) / 2.0
    return wins / (len(pos) * len(neg))


class ModelGrid:
    """The reference SVMDT grid on a seeded 60/40 split of the LIBSVM
    vectors of a generated corpus, written and loaded in setup."""

    name = "model_grid"

    def __init__(self, spark, layers: Layers, work: str, seed: int, scale: dict):
        self.spark, self.layers, self.work, self.seed = spark, layers, work, seed
        self.scale = scale
        self.first: list | None = None

    def setup(self, n_passes: int) -> None:
        docs, _ = _generate(self.seed, self.scale)
        ranked = [t for t, _ in corpus.info_gain_reference(docs)]
        path = os.path.join(self.work, "LIBSVMOutput.txt")
        with open(path, "w") as f:
            f.writelines(corpus.libsvm_lines(docs, ranked))
        # the reference SVMDT's own input: the LIBSVM file, split 60/40
        vectors = (self.spark.read.format("libsvm")
                   .option("numFeatures", str(len(ranked))).load(path))
        train, cv = vectors.randomSplit([0.6, 0.4], seed=self.seed)
        self.train, self.cv = train.cache(), cv.cache()
        self.train.count()
        # one fixed prediction frame for the metric layer on its own: the
        # share of the 10 top-ranked APIs present (feature indices 1-10),
        # so scores tie
        top = F.slice(vector_to_array("features"), 1, 10)
        self.preds = self.cv.select(
            "label", (F.aggregate(top, F.lit(0.0), lambda acc, x: acc + x) / 10.0).alias("score")
        ).cache()
        self.preds.count()

    def run_pass(self, i: int) -> dict:
        L, s = self.layers.call, self.scale
        dt = L("ml.pipeline.dt_auc_grid", dt_auc_grid, self.train, self.cv,
               depths=s["depths"], impurities=s["impurities"])
        svm = L("ml.pipeline.svm_auc_grid", svm_auc_grid, self.train, self.cv, regs=s["regs"])
        auc = L("ml.metrics.exact_auc", exact_auc, self.preds, "score")
        self.layers.note_storage()
        return {"grid": dt + svm, "auc": auc}

    def corrupt(self, result: dict) -> None:
        result["auc"] = 1.0 - result["auc"]
        result["grid"] = [(m, p, 0.5) for m, p, _ in result["grid"]]

    def describe(self, result: dict) -> dict:
        return {"grid": result["grid"], "auc": result["auc"]}

    def _refit_dt_auc(self, impurity: str, depth: int) -> float:
        """AUC of one grid decision tree, refit here and scored with the
        pure-Python Mann-Whitney AUC of its collected predictions."""
        model = DecisionTreeClassifier(impurity=impurity, maxDepth=depth, labelCol="label",
                                       seed=DEFAULT_SEED).fit(self.train)
        rows = model.transform(self.cv).select(
            vector_to_array("rawPrediction")[1].alias("score"), "label").collect()
        return round(_mann_whitney_auc([(round(r["score"], 9), int(r["label"]))
                                        for r in rows]), 6)

    def check(self, i: int, result: dict) -> list[str]:
        errors = []
        s = self.scale
        want_keys = [(f"dt_{imp}", float(d)) for imp in s["impurities"] for d in s["depths"]]
        want_keys += [("svm", float(r)) for r in s["regs"]]
        if [(m, p) for m, p, _ in result["grid"]] != want_keys:
            errors.append(f"grid models {result['grid']} are not {want_keys}")
            return errors
        if self.first is None:
            self.first = result["grid"]
            pairs = [
                (r["score"], int(r["label"]))
                for r in self.preds.select("score", "label").collect()
            ]
            self.want_auc = round(_mann_whitney_auc(pairs), 6)
            self.want_dt = {(f"dt_{imp}", float(d)): self._refit_dt_auc(imp, d)
                            for imp in s["impurities"] for d in s["depths"]}
        elif result["grid"] != self.first:
            errors.append("grid AUCs differ from the first pass")
        if abs(result["auc"] - self.want_auc) > 1e-9:
            errors.append(f"exact_auc {result['auc']} != Mann-Whitney {self.want_auc}")
        for m, p, auc in result["grid"]:
            want = self.want_dt.get((m, p))
            if want is not None and abs(auc - want) > 2e-6:
                errors.append(f"{m} depth {p:g} AUC {auc} != Mann-Whitney {want}"
                              " of the refit tree")
            # trees score by the positive count in their leaf and can rank
            # worse than chance, so only the SVM has a floor
            if m == "svm" and not s["svm_auc_floor"] <= auc <= 1.0:
                errors.append(f"svm AUC {auc} outside [{s['svm_auc_floor']}, 1]")
        return errors


WORKLOADS = {w.name: w for w in (ApiLogJob, ModelGrid)}
