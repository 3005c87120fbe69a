"""Tests for bench.py's reporting.

* ``_compact_line`` (pure Python): the final stdout line must fit under
  the 1,950-char cap and parse, keep the slowest queries when it has to
  trim, count every dropped query in ``n_queries_omitted``, and
  terminate even when no trimmed form fits.
* The stdout contract (one subprocess run on one query at sf0.001): the
  last line is the compact summary, the line before it is the full
  payload, and a ``SPARK_GRAFT_BENCH_ONLY`` run writes nothing into the
  checkout.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import bench  # noqa: E402


# --------------------------------------------------------------------------
# compact-line trim loop
# --------------------------------------------------------------------------


def _payload(timings: dict[str, float], fallback: list[str] | None = None) -> dict:
    """A full payload in the shape ``bench.main`` builds."""
    return {
        "metric": "headline_queries_total",
        "unit": "sec",
        "n_runs": 3,
        "n_groups": 9,
        "queries": dict(timings),
        "scaling_exponent": {},
        "exponent_interval": {},
        "fallback_queries": list(fallback or []),
        "value": round(sum(timings.values()), 3),
        "sf": 0.1,
    }


def _mk_timings(n_queries: int) -> dict[str, float]:
    return {f"query_with_a_rather_long_name_{i:04d}": 1.234 for i in range(n_queries)}


def test_compact_line_fits_normally():
    timings = _mk_timings(60)
    line = bench._compact_line(_payload(timings))
    assert len(line) <= 1950
    parsed = json.loads(line)
    assert parsed["value"] == round(60 * 1.234, 3)
    assert parsed["n_queries"] == 60
    assert 0 < len(parsed["queries"]) < 60
    assert parsed["n_queries_omitted"] == 60 - len(parsed["queries"])


def test_compact_line_terminates_with_huge_fallback_list():
    # 200 fallback names (~6,800 chars) cannot fit under any trim: the
    # loop drops every query, then ships the over-cap line rather than
    # spin, and the fallback list stays whole.
    fallback = [f"fallback_query_name_number_{i:04d}" for i in range(200)]
    line = bench._compact_line(_payload(_mk_timings(10), fallback))
    parsed = json.loads(line)
    assert parsed["fallback_queries"] == fallback
    assert parsed["queries"] == {}
    assert parsed["n_queries_omitted"] == 10


def test_compact_line_terminates_when_irreducible():
    # Even a cap too small for ANY trimmed form must yield a line (the
    # loop stops once the queries map is empty) rather than hang.
    line = bench._compact_line(_payload(_mk_timings(3)), cap=50)
    assert len(line) > 50
    parsed = json.loads(line)
    assert parsed["queries"] == {} and parsed["n_queries_omitted"] == 3


def test_compact_line_keeps_slowest_queries():
    timings = {f"query_with_longer_name_{i:03d}": float(i) for i in range(160)}
    line = bench._compact_line(_payload(timings))
    assert len(line) <= 1950
    parsed = json.loads(line)
    kept = set(parsed["queries"])
    assert kept and len(kept) < 160
    slowest = set(sorted(timings, key=timings.get, reverse=True)[: len(kept)])
    assert kept == slowest
    assert parsed["n_queries_omitted"] == 160 - len(kept)


def test_compact_line_r11_full_run_shape_fits_and_parses():
    """The 101-query map of the committed r11 full run: the line fits,
    parses and carries at least 55 queries, the slowest ones, with
    every drop counted."""
    with open(os.path.join(REPO, "BENCH_FULL_r11.json")) as f:
        r11 = json.load(f)
    timings = r11["queries"]
    assert len(timings) == 101
    payload = _payload(timings)
    payload["scaling_exponent"] = r11["scaling_exponent"]
    payload["exponent_interval"] = r11["exponent_interval"]
    line = bench._compact_line(payload)
    assert len(line) <= 1950
    parsed = json.loads(line)
    kept = parsed["queries"]
    assert len(kept) >= 55, f"queries map too small: {len(kept)}"
    assert parsed["n_queries_omitted"] == 101 - len(kept)
    slowest = sorted(timings, key=timings.get, reverse=True)[: len(kept)]
    assert set(kept) == set(slowest)
    assert parsed["worst_exponent"] == max(r11["scaling_exponent"].values())


# --------------------------------------------------------------------------
# stdout contract, one worker JVM
# --------------------------------------------------------------------------


def _tree_state(root: str) -> dict[str, tuple[int, int]]:
    state = {}
    for d, dirs, files in os.walk(root):
        dirs[:] = [x for x in dirs if x != ".git"]
        for name in files:
            st = os.stat(os.path.join(d, name))
            state[os.path.relpath(os.path.join(d, name), root)] = (st.st_size, st.st_mtime_ns)
    return state


@pytest.mark.skipif(
    not os.path.isdir("/root/testdata/sf0.001"), reason="sf0.001 test data absent"
)
def test_bench_stdout_contract(tmp_path):
    env = dict(
        os.environ,
        SPARK_GRAFT_BENCH_ONLY="scan_filter_project",
        SPARK_GRAFT_SF_DIR="/root/testdata/sf0.001",
        PYTHONDONTWRITEBYTECODE="1",
    )
    before = _tree_state(REPO)
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py")],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=900,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    lines = proc.stdout.strip().splitlines()
    assert len(lines[-1]) <= 1950
    compact = json.loads(lines[-1])
    assert compact["metric"] == "headline_queries_total"
    assert isinstance(compact["value"], (int, float))
    assert "scan_filter_project" in compact["queries"]
    assert compact["fallback_queries"] == []
    full = json.loads(lines[-2])
    assert full["metric"] == "headline_queries_total"
    assert full["queries"].keys() == {"scan_filter_project"}
    assert full["value"] == compact["value"]
    assert set(full["scaling"]["scan_filter_project"]) == {"0.001", "0.01"}
    assert _tree_state(REPO) == before
