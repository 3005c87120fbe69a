"""Reference-corpus golden tests (SURVEY.md §5.2).

Runs the engine's feature pipeline over the reference's REAL checked-in
corpus (`/root/reference/api_logs/`, read-only) and compares against the
reference's own golden artifacts:

* `topFeatures.txt` — the 68 surviving (feature, info-gain) pairs.  The
  IG values are deterministic (pure arithmetic over doc-frequencies), so
  the comparison is exact-to-tolerance, per feature.
* corpus statistics from BASELINE.md — 720 clean + 884 virus files,
  124 distinct cleaned API tokens.
* LIBSVM grammar invariants (the reference's committed LIBSVMOutput.txt
  came from a 162-sample subset run, and its index assignment was
  partition-order-nondeterministic — SURVEY.md §7 "deterministic feature
  indexing" — so we assert structure, not bytes).

Each golden test reads the real corpus or one of the reference's
committed artifacts, and is skipped, naming the path, where that path is
absent.  The other tests run everywhere, among them the api-log chain on
a corpus the test writes itself and the generated corpus that the
catalog reads in place of the real one.
"""

from __future__ import annotations

import math
import os
import re

import pytest
from pyspark.sql import functions as F

from big_data_virus_analysis_spark.operators.features import info_gain_ranking
from big_data_virus_analysis_spark.operators.vectorize import (
    doc_vectors,
    libsvm_text,
)
from big_data_virus_analysis_spark.sources.api_logs import (
    api_log_feature_chain,
    api_log_libsvm_lines,
    api_log_tokens,
    read_api_logs,
)

REF = "/root/reference"
CLEAN_DIR = f"{REF}/api_logs/clean_LOGS_CONVERTED"
VIRUS_DIR = f"{REF}/api_logs/virus_LOGS_CONVERTED"


def _absent(*paths: str) -> str:
    """A skip reason naming whichever of ``paths`` do not exist, or ''."""
    missing = [p for p in paths if not os.path.exists(p)]
    return f"reference artifact absent: {', '.join(missing)}" if missing else ""


def _needs(*paths: str):
    """Skip the test where any of ``paths`` is absent."""
    reason = _absent(*paths)
    return pytest.mark.skipif(bool(reason), reason=reason)


@pytest.fixture(scope="module")
def raw_logs(spark):
    if reason := _absent(CLEAN_DIR, VIRUS_DIR):
        pytest.skip(reason)
    return read_api_logs(spark, CLEAN_DIR, VIRUS_DIR).cache()


@pytest.fixture(scope="module")
def golden_features() -> dict[str, float]:
    if reason := _absent(f"{REF}/topFeatures.txt"):
        pytest.skip(reason)
    out = {}
    with open(f"{REF}/topFeatures.txt") as f:
        for line in f:
            m = re.match(r"\(([^,]+),([0-9.Ee-]+)\)", line.strip())
            if m:
                out[m.group(1)] = float(m.group(2))
    assert len(out) == 68
    return out


def test_corpus_statistics(raw_logs):
    counts = dict(
        raw_logs.select("file", "class")
        .distinct()
        .groupBy("class")
        .count()
        .collect()
    )
    assert counts == {"clean": 720, "virus": 884}  # readme.md:87


def test_distinct_cleaned_tokens(raw_logs):
    toks = api_log_tokens(raw_logs)
    assert toks.select("token").distinct().count() == 124  # BASELINE.md


# The committed topFeatures.txt is NOT reproducible from the committed
# corpus: its token `Executing:C:\ProgramFiles` does not occur in any
# checked-in log (the logs carry `Executing:C:\Users\leesteele\...`
# paths instead), and no shared token's IG value matches — the golden
# was generated from an earlier corpus snapshot (most likely the
# 162-sample subset that also produced output.txt / LIBSVMOutput.txt,
# both 162 lines).  So golden-vs-engine comparison is *structural*
# (survivor-set containment, grammar), and value regression is guarded
# by a self-golden computed deterministically from the committed corpus.

#: engine output over the committed corpus — deterministic (pure
#: integer doc-frequency arithmetic), so exact equality is asserted
SELF_GOLDEN_TOP10 = [
    ("CreateFile", 516, 192, 0.074592),
    ("CreateToolhelp32Snapshot", 306, 82, 0.055694),
    ("SetProcessDEPPolicy", 197, 29, 0.055459),
    ("WriteProcessMemory", 403, 145, 0.053061),
    ("CreateProcess", 411, 152, 0.052005),
    ("GetProcessDEPPolicy", 449, 181, 0.050391),
    ("AdjustTokenPrivileges", 301, 109, 0.034802),
    ("SystemParametersInfo", 502, 271, 0.026402),
    ("GetSystemDefaultLangID", 142, 33, 0.026295),
    ("GetUserName", 159, 50, 0.020294),
]
N_SURVIVORS = 84  # two-class tokens in the committed corpus (68 in golden's snapshot)


def test_info_gain_structural_parity(raw_logs, golden_features):
    ranked = info_gain_ranking(api_log_tokens(raw_logs), k=2000)
    got = {r["token"]: r["info_gain"] for r in ranked.collect()}
    assert len(got) == N_SURVIVORS
    # every golden survivor that still exists in the committed corpus
    # must survive our inner-join semantics too (66 of 68; the other 2
    # are path-tokens from the golden's drifted corpus)
    missing = set(golden_features) - set(got)
    assert missing == {r"Executing:C:\ProgramFiles", "InternetReadFile"}
    assert all(0.0 <= v <= 1.0 for v in got.values())


def test_info_gain_self_golden(raw_logs):
    ranked = info_gain_ranking(api_log_tokens(raw_logs), k=2000).orderBy("rank")
    top10 = [
        (r["token"], r["pos_df"], r["neg_df"], r["info_gain"])
        for r in ranked.limit(10).collect()
    ]
    assert top10 == SELF_GOLDEN_TOP10


def test_rank_is_deterministic_ig_order(raw_logs):
    ranked = info_gain_ranking(api_log_tokens(raw_logs), k=2000).collect()
    rows = sorted(ranked, key=lambda r: r["rank"])
    igs = [r["info_gain"] for r in rows]
    assert igs == sorted(igs, reverse=True)
    assert [r["rank"] for r in rows] == list(range(1, N_SURVIVORS + 1))


def test_libsvm_grammar_invariants(raw_logs):
    toks = api_log_tokens(raw_logs)
    vocab = info_gain_ranking(toks, k=2000).select("token", "rank")
    lines = libsvm_text(doc_vectors(toks, vocab)).collect()
    n_docs_with_hits = (
        toks.join(vocab.select("token"), "token", "left_semi")
        .select("doc")
        .distinct()
        .count()
    )
    # zero-hit files silently dropped (FeatureSelectionCloud.scala:482-483)
    assert len(lines) == n_docs_with_hits
    pat = re.compile(r"^(0\.0|1\.0)( \d+:1)+$")
    for r in lines:
        assert pat.match(r["line"]), r["line"]
        idxs = [int(p.split(":")[0]) for p in r["line"].split()[1:]]
        assert idxs == sorted(idxs)  # 1-based ascending rank indices
        assert 1 <= idxs[0] and idxs[-1] <= N_SURVIVORS


def test_byte_mode_tokenizer(spark, raw_logs):
    """Byte-mode shingling (createByteFeatures parity): windows are
    uppercased, fixed-width, and plug into the same IG ranking."""
    from big_data_virus_analysis_spark.sources.api_logs import api_log_byte_tokens

    toks = api_log_byte_tokens(raw_logs, width=14)
    sample = toks.limit(200).collect()
    assert sample
    for r in sample:
        assert len(r["token"]) == 14
        assert r["token"] == r["token"].upper()
        assert r["cls"] in ("pos", "neg")
    # a line shorter than the window yields no tokens; spot-check one
    # known API line produces the expected first window
    one = (
        raw_logs.where(F.col("raw_line").startswith("GetProcessDEPPolicy"))
        .limit(1)
        .select("raw_line")
        .first()
    )
    first_window = one["raw_line"][:14].upper()
    got = (
        api_log_byte_tokens(raw_logs.where(F.col("raw_line") == one["raw_line"]), 14)
        .limit(1)
        .first()
    )
    assert got["token"] == first_window


@_needs(f"{REF}/www/html/data.json")
def test_d3_tree_structural_parity_with_golden(spark):
    """The engine's d3_export_tree must reproduce the golden
    `www/html/data.json` STRUCTURE (exportJSON.php:12-45): a 5-layer
    Main Container → "Cluster #i" → {Clean, Virus} → Sample → leaf
    {name, size} tree, 10 clusters, class children in {Clean, Virus}
    order (exportJSON.php:22,31), leaf sizes positive ints.  Values
    differ (different corpus/clustering); the layer grammar must not.
    """
    import json

    from big_data_virus_analysis_spark.plans.catalog import CATALOG

    from conftest import SMOKE_SF_DIR

    golden = json.load(open(f"{REF}/www/html/data.json"))

    def check_tree(tree, n_clusters):
        assert tree["name"] == "Main Container"
        assert len(tree["children"]) == n_clusters
        for cl in tree["children"]:
            assert re.match(r"Cluster #\d+$", cl["name"])
            class_names = [c["name"] for c in cl["children"]]
            # {Clean, Virus} in that order; a class absent from a
            # cluster may be omitted, but never reordered or renamed
            assert class_names == [
                n for n in ("Clean", "Virus") if n in class_names
            ] and class_names, class_names
            for cls in cl["children"]:
                for sample in cls["children"]:
                    assert sample["name"].startswith("Sample")
                    for leaf in sample["children"]:
                        assert set(leaf) == {"name", "size"}
                        assert isinstance(leaf["name"], str) and leaf["name"]
                        assert isinstance(leaf["size"], int) and leaf["size"] > 0

    check_tree(golden, 10)
    row = CATALOG["d3_export_tree"].spark(spark, SMOKE_SF_DIR).collect()
    assert len(row) == 1
    engine = json.loads(row[0]["tree_json"])
    # engine runs k=10 KMeans like the reference; empty clusters may
    # drop out of the tree on the tiny smoke corpus
    n_engine = len(engine["children"])
    assert 1 <= n_engine <= 10
    check_tree(engine, n_engine)


@_needs(f"{REF}/output.txt")
def test_output_txt_golden_invariants():
    """Invariants of the committed reference report golden
    (KmeansVirus.scala:123-136 → output.txt), asserted against the FILE
    so the grammar test can't drift from the artifact: 162 rows, 10
    clusters (ids 0..9), labels ⊆ {0.0, 1.0}, and every JSON payload a
    rank-descending {name,size} list."""
    import json

    lines = open(f"{REF}/output.txt").read().splitlines()
    lines = [ln for ln in lines if ln.strip()]
    assert len(lines) == 162
    clusters, labels = set(), set()
    for ln in lines:
        cluster, label, payload = ln.split(";", 2)
        clusters.add(int(cluster))
        labels.add(label)
        # the golden holds RAW windows paths ("C:\ProgramFiles") — the
        # reference string-built its JSON without escaping; tolerate it
        apis = json.loads(payload.replace("\\", "\\\\"))
        assert apis, "empty API list"
        sizes = [a["size"] for a in apis]
        assert sizes == sorted(sizes, reverse=True), "sizes not rank-descending"
        assert all(isinstance(a["name"], str) and a["name"] for a in apis)
    assert clusters == set(range(10))
    assert labels == {"0.0", "1.0"}


def test_report_lines_grammar_matches_golden_grammar(spark):
    """The engine's report_lines output must parse under the SAME
    grammar as the golden output.txt rows: cluster;label;json with
    rank-descending sizes."""
    import json

    from big_data_virus_analysis_spark.plans.catalog import CATALOG

    from conftest import SMOKE_SF_DIR

    rows = CATALOG["cluster_report_lines"].spark(spark, SMOKE_SF_DIR).collect()
    assert rows
    for r in rows:
        cluster, label, payload = r["line"].split(";", 2)
        assert 0 <= int(cluster) <= 9
        assert label in {"0.0", "1.0"}
        apis = json.loads(payload)
        sizes = [a["size"] for a in apis]
        assert sizes == sorted(sizes, reverse=True)


# the catalog falls back to the generated corpus where the real one is
# absent, and these digests belong to the real corpus
@_needs(CLEAN_DIR, VIRUS_DIR)
def test_reference_pipeline_self_golden(spark):
    """The END-TO-END chain (api_logs → IG rank → vectorize → seeded
    KMeans → report lines → d3 tree) is pinned by committed self-golden
    hashes: any change to tokenizer semantics, IG math, vocab ranking,
    vectorization, the seeded clustering, or the report/tree grammar
    moves one of these digests (KmeansVirus.scala:55-144 +
    exportJSON.php:5-54 end-to-end).  Regenerate by running the chain —
    determinism within an environment is asserted by the double run in
    the catalog smoke; the hash pins the WHOLE artifact, not samples."""
    import hashlib

    from big_data_virus_analysis_spark.operators.report import d3_tree
    from big_data_virus_analysis_spark.plans.catalog import (
        CATALOG,
        reference_pipeline_samples,
    )

    from conftest import SMOKE_SF_DIR

    df = CATALOG["reference_pipeline_report"].spark(spark, SMOKE_SF_DIR)
    rows = df.collect()
    assert df.columns == ["doc", "line"]
    assert len(rows) == 1587  # docs with >=1 vocab hit in the corpus
    lines = sorted(r["line"] for r in rows)
    digest = hashlib.sha256("\n".join(lines).encode()).hexdigest()
    assert digest == (
        "c9d62a3b018d18cdee2fb326e019565a23100b5cd3738ee1e6a5202460c0023c"
    )

    tree = d3_tree(reference_pipeline_samples(spark)).collect()[0]["tree_json"]
    tdigest = hashlib.sha256(tree.encode()).hexdigest()
    assert tdigest == (
        "5896c0dc3cdd86f45a4eaed335676bd1b757cf7f1d5ad86d50128c375187fe79"
    )


# --------------------------------------------------------------------------
# The shared api-log chain on a tiny corpus written by the test itself, so
# it runs without the reference checkout.
# --------------------------------------------------------------------------

#: (class dir, file name) -> API calls, one per line.  The same basename
#: occurs in both classes, names carry spaces, NtClose is in every file
#: that has tokens, and clean-only / virus-only APIs drop out of IG.
_TINY_CORPUS = {
    ("clean", "LOG_API (1)converted.txt"): ["NtClose", "ReadFile", "ReadFile", "RegOpenKey"],
    ("clean", "LOG_API (2)converted.txt"): ["NtClose", "CreateFile", "ReadFile"],
    ("clean", "LOG_API (3)converted.txt"): ["NtClose", "CloseHandle"],
    ("virus", "LOG_API (1)converted.txt"): ["NtClose", "WriteProcessMemory", "CreateFile"],
    ("virus", "LOG_API (2)converted.txt"): ["NtClose", "WriteProcessMemory", "RegOpenKey"],
    ("virus", "LOG_API (4)converted.txt"): ["NtClose", "CreateFile", "VirtualAlloc"],
}


def _h2(x: int, y: int) -> float:
    if y == 0:  # empty partition: the reference's NaN, replaced by 0
        return 0.0
    p = x / y
    return sum(-q * math.log2(q) for q in (p, 1.0 - p) if q > 0)


@pytest.mark.parametrize("with_tokenless_file", [False, True])
def test_api_log_chain_on_written_corpus(spark, tmp_path, with_tokenless_file):
    """api_log_feature_chain over a corpus in the reference grammar
    (bare `` -``/`` +`` marker line, CRLF) against a pure-Python IG and
    LIBSVM rendering, and against the DuckDB oracles of
    ``api_log_info_gain`` / ``api_log_feature_job_e2e`` on the same files.

    Without the token-less file NtClose occurs in every document, so the
    t − tg entropy term is over zero documents and must score 0 instead
    of dividing by zero; with it, the marker-only file still counts in
    the IG totals (the reference counted the bucket listing)."""
    import duckdb

    from big_data_virus_analysis_spark.plans.catalog import API_LOG_ROOT, CATALOG

    corpus = dict(_TINY_CORPUS)
    if with_tokenless_file:
        corpus[("virus", "LOG_API (5)converted.txt")] = []
    marks = {"clean": "-", "virus": "+"}
    for (cls, name), apis in corpus.items():
        d = tmp_path / f"{cls}_LOGS_CONVERTED"
        d.mkdir(exist_ok=True)
        body = "".join(f"{a} {marks[cls]}\r\n" for a in apis)
        (d / name).write_bytes(f" {marks[cls]}\r\n{body}".encode())

    # pure-Python reference: per-file token sets, document frequencies, IG
    docs = {f"{c}/{n}": ("pos" if c == "virus" else "neg", set(a)) for (c, n), a in corpus.items()}
    t = len(docs)
    p = sum(1 for c, _ in docs.values() if c == "pos")
    want_ig = {}
    for tok in {tok for _, toks in docs.values() for tok in toks}:
        pg = sum(1 for c, toks in docs.values() if c == "pos" and tok in toks)
        tg = sum(1 for _, toks in docs.values() if tok in toks)
        if 0 < pg < tg:  # present in both classes
            want_ig[tok] = round(
                _h2(p, t) - tg / t * _h2(pg, tg) - (t - tg) / t * _h2(p - pg, t - tg), 6
            )
    assert all("NtClose" in toks for _, toks in docs.values()) is not with_tokenless_file

    dirs = (str(tmp_path / "clean_LOGS_CONVERTED"), str(tmp_path / "virus_LOGS_CONVERTED"))
    ranked, _ = api_log_feature_chain(spark, *dirs)
    got = sorted(ranked.collect(), key=lambda r: r["rank"])
    assert {r["token"]: r["info_gain"] for r in got} == pytest.approx(want_ig, abs=1e-6)
    assert [r["rank"] for r in got] == list(range(1, len(want_ig) + 1))
    assert [r["token"] for r in got] == [
        r["token"] for r in sorted(got, key=lambda r: (-r["info_gain"], r["token"]))
    ]

    # LIBSVM lines keyed by doc id `class/file name`, spaces and all
    rank = {r["token"]: r["rank"] for r in got}
    want_lines = {}
    for doc, (cls, toks) in docs.items():
        idx = sorted(rank[tok] for tok in toks if tok in rank)
        if idx:
            label = "1.0" if cls == "pos" else "0.0"
            want_lines[doc] = " ".join([label, *(f"{i}:1" for i in idx)])
    rows = api_log_libsvm_lines(spark, *dirs).collect()
    assert {r["doc"]: r["line"] for r in rows} == want_lines
    assert len(rows) == len(want_lines)

    # the DuckDB oracles read the same files, independently of Spark
    def oracle(name):
        sql = CATALOG[name].oracle.replace(API_LOG_ROOT, str(tmp_path))
        return duckdb.sql(sql).fetchall()

    assert sorted(oracle("api_log_info_gain")) == sorted(
        (r["token"], r["pos_df"], r["neg_df"], r["info_gain"], r["rank"]) for r in got
    )
    assert dict(oracle("api_log_feature_job_e2e")) == want_lines


#: sha256 over the generated corpus's files, clean then virus, in file
#: number order; change it only together with ``CORPUS_VERSION``
GENERATED_CORPUS_SHA256 = "dae22447ffc838b024239423f9534dc74ea7fd0645e547d4e3dbc987d127f44c"


def test_generated_corpus_is_fixed_and_reference_shaped(tmp_path):
    """The generated corpus the catalog reads where the real one is
    absent: two writes give byte-identical files, 720 clean and 884
    virus files named as in the reference, each opening with its bare
    class marker, then ``<Api> <mark>`` lines, each ending in exactly one
    CR before its LF (the DuckDB oracles strip one CR, as Spark's line
    reader does).  The catalog's oracle results and the bench's flagship
    entry rest on this text, so its digest is pinned.  The catalog's
    copy is written once, renamed into place with no temp dir left
    beside it, and reused after that."""
    import hashlib

    from big_data_virus_analysis_spark.sources.api_log_corpus import (
        CLASS_DIRS,
        generated_corpus_root,
        write_corpus,
    )

    base, other = tmp_path / "base", tmp_path / "other"
    base.mkdir()
    root = generated_corpus_root(str(base))
    assert os.listdir(base) == [os.path.basename(root)]
    assert generated_corpus_root(str(base)) == root
    write_corpus(str(other))
    digest = hashlib.sha256()
    for cls, mark, n in (("clean", "-", 720), ("virus", "+", 884)):
        a, b = base / os.path.basename(root) / CLASS_DIRS[cls], other / CLASS_DIRS[cls]
        names = [f"LOG_API ({i})converted.txt" for i in range(1, n + 1)]
        assert sorted(os.listdir(a)) == sorted(names) == sorted(os.listdir(b))
        call = re.compile(rf"[A-Za-z0-9]+ {re.escape(mark)}\r")
        for name in names:
            data = (a / name).read_bytes()
            assert data == (b / name).read_bytes()
            digest.update(data)
            marker, *calls, tail = data.decode("ascii").split("\n")
            assert marker == f" {mark}\r" and tail == ""
            # one CR per line, and only as the line's last character
            assert all(call.fullmatch(ln) for ln in calls), name
    assert digest.hexdigest() == GENERATED_CORPUS_SHA256


def test_api_log_root_needs_both_reference_class_dirs(tmp_path, monkeypatch):
    """Every api-log reader resolves its corpus through api_log_root():
    the reference's own corpus only where both class directories exist,
    else the generated one."""
    from big_data_virus_analysis_spark.sources import api_log_corpus as corpus

    ref = tmp_path / "api_logs"
    monkeypatch.setattr(corpus, "REFERENCE_ROOT", str(ref))
    (ref / corpus.CLASS_DIRS["clean"]).mkdir(parents=True)
    assert corpus.api_log_root() == corpus.generated_corpus_root()
    (ref / corpus.CLASS_DIRS["virus"]).mkdir()
    assert corpus.api_log_root() == str(ref)
