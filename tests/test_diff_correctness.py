"""scripts/diff_correctness.py on two small hand-written
``check_correctness.py --json`` records."""

from __future__ import annotations

import json
import os
import subprocess
import sys

SCRIPT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "scripts",
    "diff_correctness.py",
)

H1, H2, H3 = "1" * 64, "2" * 64, "3" * 64

PARENT = {
    "same": {"status": "pass", "spark_hash": H1, "oracle_hash": H1, "spark_schema": "struct<a:int>"},
    "ml_grid": {"status": "rows_only", "spark_hash": H1, "spark_schema": "struct<auc:double>"},
    "missing_ref": {"status": "spark_error", "err": "PATH_NOT_FOUND"},
    "moved": {"status": "pass", "spark_hash": H2, "oracle_hash": H2, "spark_schema": "struct<b:bigint>"},
}


def _run(tmp_path, change: dict) -> subprocess.CompletedProcess:
    paths = []
    for name, rec in (("parent.json", PARENT), ("change.json", change)):
        path = tmp_path / name
        path.write_text(json.dumps(rec))
        paths.append(str(path))
    return subprocess.run(
        [sys.executable, SCRIPT, *paths], capture_output=True, text=True, check=False
    )


def test_diff_flags_oracle_hash_moves_and_lists_rows_only_moves(tmp_path):
    # rows-only hash move: listed, not a failure
    change = {**PARENT, "ml_grid": {**PARENT["ml_grid"], "spark_hash": H3}}
    res = _run(tmp_path, change)
    assert res.returncode == 0, res.stdout
    lines = res.stdout.splitlines()
    assert lines[0] == "ml_grid (rows-only): spark_hash 111111111111 -> 333333333333"
    assert lines[1] == "1 entries differ"
    assert "parent: pass 2, rows_only 1, spark_error 1" in lines
    # oracle-checked entry: a moved hash and a changed schema fail the diff
    change["moved"] = {**PARENT["moved"], "spark_hash": H3, "status": "fail",
                       "spark_schema": "struct<b:int>"}
    res = _run(tmp_path, change)
    assert res.returncode == 1
    assert (
        "moved (oracle-checked): status pass -> fail; spark_hash 222222222222 -> "
        "333333333333; spark_schema struct<b:bigint> -> struct<b:int>"
    ) in res.stdout
    assert "change: fail 1, pass 1, rows_only 1, spark_error 1" in res.stdout
    # an oracle-checked entry missing on one side also fails
    res = _run(tmp_path, {k: v for k, v in PARENT.items() if k != "same"})
    assert res.returncode == 1
    assert "same (oracle-checked): status pass -> -" in res.stdout
