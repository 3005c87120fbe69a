"""Self-tests of the benchmark.

    python3 -m pytest perfbench/tests -q

The smoke tests run every workload end to end at tiny scale (a 26-file
corpus, one pass unless ``--seconds`` buys two), each in a fresh
process, so they take a few minutes.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys
import tempfile

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import corpus  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402
from workloads import _mann_whitney_auc  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9_.-]+")


def _bench_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _run(*args: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=180,
    )


def test_metric_names_match_pattern_and_benchmark_json():
    spec = _bench_json()
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert all(NAME.fullmatch(n) and len(n) <= 64 for n in names)
    assert len(names) == len(set(names))
    assert [m["name"] for m in spec["end_to_end"]] == list(run.END_TO_END)
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.per_layer_units()
    assert sorted(w["name"] for w in spec["workloads"]) == sorted(run.LAYERS)


def test_corpus_has_reference_shape_and_grammar():
    docs, texts = corpus.generate(3)
    assert len(texts["clean"]) == 720 and len(texts["virus"]) == 884
    clean = set().union(*(t for c, t in docs.docs.values() if c == "neg"))
    virus = set().union(*(t for c, t in docs.docs.values() if c == "pos"))
    assert len(clean | virus) == 124 and len(clean & virus) == 68
    lines = [text.split("\r\n") for text in texts["virus"]]
    assert all(ls[0] == " +" for ls in lines)
    assert all(re.fullmatch(r"\w+ \+", ln) for ls in lines for ln in ls[1:] if ln)
    mean = sum(len(ls) - 2 for ls in lines) / len(lines)
    assert 130 <= mean <= 148


def test_corpus_is_seeded():
    assert corpus.generate(5)[1] == corpus.generate(5)[1]
    assert corpus.generate(5)[1] != corpus.generate(6)[1]


def test_reference_scores_universal_api_like_the_reference():
    docs = corpus.Corpus({
        d: (c, frozenset(t for dd, _, t in corpus.universal_api_docs() if dd == d))
        for d, c, _ in corpus.universal_api_docs()
    })
    assert dict(corpus.info_gain_reference(docs)) == {"NtClose": 0.0}


def test_mann_whitney_auc_counts_ties_as_half():
    assert _mann_whitney_auc([(0.9, 1), (0.1, 0)]) == 1.0
    assert _mann_whitney_auc([(0.5, 1), (0.5, 0)]) == 0.5
    assert _mann_whitney_auc([(0.2, 1), (0.8, 0), (0.9, 1), (0.1, 0)]) == 0.75


def test_probe_reports_only_divide_by_zero_as_the_known_defect(monkeypatch):
    def raising(exc):
        def probe(spark):
            raise exc
        return probe

    monkeypatch.setattr(workloads, "universal_api_ig",
                        raising(ArithmeticError("[DIVIDE_BY_ZERO] Division by zero.")))
    defect, err = run.probe_known_defect(None)
    assert "DIVIDE_BY_ZERO" in defect and err is None

    monkeypatch.setattr(workloads, "universal_api_ig", raising(ValueError("bad signature")))
    defect, err = run.probe_known_defect(None)
    assert defect is None and "ValueError: bad signature" in err

    monkeypatch.setattr(workloads, "universal_api_ig", lambda spark: {"NtClose": 0.5})
    defect, err = run.probe_known_defect(None)
    assert defect is None and "reference" in err

    monkeypatch.setattr(workloads, "universal_api_ig", lambda spark: {"NtClose": 0.0})
    assert run.probe_known_defect(None) == (None, None)


def test_refuses_to_run_without_the_engine():
    work = os.path.join(ROOT, ".perfbench_work")
    os.makedirs(work, exist_ok=True)
    bare = tempfile.mkdtemp(prefix="bare-", dir=work)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(BENCH, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        p = _run("--workload", "api_log_job", "--seed", "1", "--seconds", "1", "--trace", "0",
                 cwd=bare)
    finally:
        shutil.rmtree(bare)
    assert p.returncode != 0
    assert '"correct"' not in p.stdout


def _result(p: subprocess.CompletedProcess) -> dict:
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


def _summary(p: subprocess.CompletedProcess) -> dict:
    line = [ln for ln in p.stdout.splitlines() if ln.startswith("perfbench ")][-1]
    return json.loads(line.removeprefix("perfbench "))


@pytest.mark.parametrize("workload", sorted(run.LAYERS))
def test_smoke_run_is_correct(workload):
    r = _result(_run("--workload", workload, "--seed", "2", "--seconds", "1",
                     "--trace", "0", "--scale", "smoke"))
    assert set(r) == {"correct", "attempted", "failed", "metrics"}
    # api_log_job also attempts the known-defect probe
    assert r["correct"] and r["attempted"] == 1 + (workload == "api_log_job")
    assert r["failed"] == 0
    assert set(r["metrics"]) == set(run.END_TO_END)
    assert all(m["value"] > 0 for m in r["metrics"].values())


def test_traced_smoke_run_reports_every_layer_and_counts_a_corrupt_output():
    p = _run("--workload", "api_log_job", "--seed", "2", "--seconds", "1",
             "--trace", "1", "--scale", "smoke", "--corrupt")
    r = _result(p)
    assert not r["correct"] and r["attempted"] == 2 and r["failed"] == 1
    assert set(r["metrics"]) == set(run.per_layer_units())
    m = {k: v["value"] for k, v in r["metrics"].items()}
    for layer in run.LAYERS["api_log_job"]:
        assert m[f"{layer}.build_s"] > 0, layer
    assert m["ml.pipeline.kmeans_assign.jobs"] > 0
    assert m["known_defect.universal_api_ig_failed"] == 1
    summary = _summary(p)
    assert "DIVIDE_BY_ZERO" in summary["known_defect"]
    assert len(summary["errors"]) == 1 and "output_rows" in summary["errors"][0]
    assert summary["error_rate"] == 1.0


def test_corrupt_aucs_are_counted():
    p = _run("--workload", "model_grid", "--seed", "2", "--seconds", "1",
             "--trace", "0", "--scale", "smoke", "--corrupt")
    r = _result(p)
    assert not r["correct"] and r["failed"] == 1
    errors = " ".join(_summary(p)["errors"])
    assert "Mann-Whitney" in errors and "of the refit tree" in errors
    assert "svm AUC 0.5 outside" in errors


def test_two_pass_model_grid_repeats_its_aucs():
    p = _run("--workload", "model_grid", "--seed", "3", "--seconds", "60",
             "--trace", "0", "--scale", "smoke")
    r = _result(p)
    assert r["correct"] and r["attempted"] == 2 and r["failed"] == 0
    first, second = _summary(p)["outputs"]
    assert first == second
