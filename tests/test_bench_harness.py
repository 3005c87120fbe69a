"""Pure-Python tests for bench.py's self-reporting machinery.

Round-9 additions (r8 VERDICT directive #1 + r8 ADVICE medium):

* ``_compact_line`` must TERMINATE even when the irreducible fields
  (regressions + fallback_queries after the new double-failure path)
  alone exceed the 1800-char cap — the r8 loop could spin forever and
  print nothing, exactly in the degraded-worker scenario the fields
  were built to report.
* ``_drift_vs_prev_snapshot`` must normalize the prior snapshot's
  fresh-JVM spread by the machine factor (this run's calibration-probe
  median over the snapshot's) so a uniformly slower machine — the r8
  driver ran ~+13% across the board and flagged 7 phantom regressions
  — does not read as code drift, while a genuinely slow query still
  flags.
"""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402


# --------------------------------------------------------------------------
# compact-line trim loop
# --------------------------------------------------------------------------


def _mk_compact(n_queries: int, n_regr: int, n_fallback: int) -> tuple[dict, dict]:
    timings = {f"query_with_a_rather_long_name_{i:04d}": 1.234 for i in range(n_queries)}
    compact = {
        "metric": "headline_queries_total",
        "value": 99.9,
        "regressions": [f"regressed_query_name_number_{i:04d}" for i in range(n_regr)],
        "fallback_queries": [
            f"fallback_query_name_number_{i:04d}" for i in range(n_fallback)
        ],
        "queries": dict(timings),
    }
    return compact, timings


def test_compact_line_fits_normally():
    compact, timings = _mk_compact(60, 0, 0)
    line = bench._compact_line(compact, timings)
    assert len(line) <= 1950
    parsed = json.loads(line)
    assert parsed["value"] == 99.9
    # queries were truncated to the slowest (here: ties, any 60-5k subset)
    assert len(parsed["queries"]) <= 60


def test_compact_line_terminates_with_huge_fallback_list():
    # 200 fallback names is ~6800 chars on its own; before the r9 fix the
    # trim loop never touched fallback_queries and spun forever once
    # queries bottomed out at 1 entry.
    compact, timings = _mk_compact(10, 0, 200)
    line = bench._compact_line(compact, timings)
    parsed = json.loads(line)
    assert parsed["fallback_queries"][-1] == "..."
    assert len(parsed["fallback_queries"]) == 9  # 8 + ellipsis
    assert len(line) <= 1950
    # r12: the queries map survives intact — fallback names trim first
    assert len(parsed["queries"]) == 10


def test_compact_line_terminates_when_irreducible():
    # Even a cap too small for ANY trimmed form must yield a line (the
    # loop breaks when a pass stops shrinking) rather than hang.
    compact, timings = _mk_compact(3, 20, 20)
    line = bench._compact_line(compact, timings, cap=50)
    assert isinstance(line, str) and line  # terminated, shipped something
    json.loads(line)  # still valid JSON


def test_compact_line_keeps_slowest_and_trims_regression_names_first():
    """r11 VERDICT directive #2 (priority INVERTED vs r10): the
    per-query map is the driver's PERF contract — redundant regression
    NAME lists (the flags carry survivors) cap/drop before a single
    query entry does, and whatever query trimming remains keeps the
    SLOWEST entries."""
    timings = {f"query_with_longer_name_{i:03d}": float(i) for i in range(160)}
    regressions = [f"regressed_query_name_number_{i:04d}" for i in range(20)]
    compact = {
        "regressions": list(regressions),
        "fallback_queries": [],
        "queries": dict(timings),
    }
    line = bench._compact_line(compact, timings)
    assert len(line) <= 1950
    parsed = json.loads(line)
    # the 20-name regression list capped (or dropped) BEFORE queries
    assert len(parsed.get("regressions", [])) <= 9
    # the retained queries are the SLOWEST ones, and the drop is counted
    kept = set(parsed["queries"])
    assert kept and len(kept) < 160
    slowest = set(sorted(timings, key=timings.get, reverse=True)[: len(kept)])
    assert kept == slowest
    assert parsed["n_queries_omitted"] == 160 - len(kept)


def test_compact_line_protected_queries_never_drop():
    """Drift-flagged / over-2x-baseline names stay in the queries dict
    regardless of rank (they are the FASTEST here, i.e. first to drop
    without protection).  Long names force real trimming."""
    timings = {
        f"catalog_query_with_long_name_{i:03d}": float(i) for i in range(120)
    }
    protected = {
        "catalog_query_with_long_name_000",
        "catalog_query_with_long_name_001",
        "catalog_query_with_long_name_002",
    }
    compact = {
        "regressions": [],
        "fallback_queries": [],
        "flags": [],
        "queries": dict(timings),
    }
    line = bench._compact_line(compact, timings, protected=protected)
    assert len(line) <= 1950
    parsed = json.loads(line)
    assert parsed["n_queries_omitted"] > 0  # trimming actually happened
    assert protected <= set(parsed["queries"])
    assert "n_protected_omitted" not in parsed  # the last resort never ran


def test_compact_line_counts_protected_queries_it_drops():
    """On a line too long to fit in any trimmed form, the last-resort
    trim drops protected names too, and the line says how many."""
    compact, timings = _mk_compact(3, 20, 20)
    line = bench._compact_line(compact, timings, protected=set(timings), cap=50)
    parsed = json.loads(line)
    assert len(line) > 50  # irreducible: shipped over the cap
    assert parsed["queries"] == {}
    assert parsed["n_protected_omitted"] == 3 == parsed["n_queries_omitted"]


def test_compact_line_collapses_cleared_flags_before_survivors():
    """Full triage fields: cleared flags collapse to [name, "clr"] under
    pressure and flood-drop beyond 4; non-cleared survivors keep full
    detail while the line still fits (then [name, sec], then all but
    10 drop — but only ever AFTER the cleared class is exhausted)."""
    flags = [[f"survivor_flag_name_{i:02d}", 9.1, 3.2, 8.8, 0] for i in range(3)]
    flags += [[f"cleared_flag_name_{i:02d}", 9.1, 3.2, 2.2, 1] for i in range(60)]
    compact = {
        "regressions": [f"survivor_flag_name_{i:02d}" for i in range(3)],
        "fallback_queries": [],
        "flags": [list(f) for f in flags],
        "queries": {},
    }
    line = bench._compact_line(compact, {})
    assert len(line) <= 1950
    parsed = json.loads(line)
    survivors = [f for f in parsed["flags"] if f[0].startswith("survivor")]
    assert len(survivors) == 3  # non-cleared flags survive the flood
    assert all(len(f) == 5 for f in survivors)  # full triage detail kept
    collapsed = [f for f in parsed["flags"] if f[1] == "clr"]
    assert collapsed and parsed["n_flags_collapsed"] == len(collapsed) + parsed.get(
        "n_flags_dropped", 0
    )
    # the flood beyond 4 cleared entries is dropped but stays counted
    assert len(collapsed) == 4 and parsed["n_flags_dropped"] == 56


def test_first_appearance_prefers_oldest_snapshot(tmp_path):
    for rnd, sec in ((7, 2.0), (9, 5.0)):
        (tmp_path / f"BENCH_FULL_r{rnd:02d}.json").write_text(
            json.dumps({"sf": 0.1, "queries": {"qa": sec, f"only_r{rnd}": 1.0}})
        )
    (tmp_path / "BENCH_FULL_r08.json").write_text(
        json.dumps({"sf": 1.0, "queries": {"qa": 0.1}})  # other SF: ignored
    )
    first = bench._first_appearance("0.1", here=str(tmp_path))
    assert first["qa"] == 2.0  # oldest same-SF round wins
    assert first["only_r7"] == 1.0 and first["only_r9"] == 1.0


# --------------------------------------------------------------------------
# machine-calibrated drift check
# --------------------------------------------------------------------------


@pytest.fixture
def snapshot_dir(tmp_path, monkeypatch):
    """Point bench's snapshot discovery at a temp dir with one snapshot."""
    snap = {
        "sf": 0.1,
        "calibration_sec": 0.50,
        "spread": {
            "q_fast": [0.90, 1.00],
            "q_slow": [2.70, 3.00],
        },
    }
    p = tmp_path / "BENCH_FULL_r08.json"
    p.write_text(json.dumps(snap))
    real_dirname = os.path.dirname

    def fake_dirname(path):
        if os.path.abspath(path) == os.path.abspath(bench.__file__):
            return str(tmp_path)
        return real_dirname(path)

    monkeypatch.setattr(bench.os.path, "dirname", fake_dirname)
    return snap


def test_drift_same_machine_flags_real_regression(snapshot_dir):
    regs, factor = bench._drift_vs_prev_snapshot(
        {"q_fast": 1.30, "q_slow": 2.80}, "0.1", 0.50
    )
    assert factor == 1.0
    assert [r["q"] for r in regs] == ["q_fast"]
    assert regs[0]["prev_max"] == 1.00
    assert regs[0]["adj_prev_max"] == 1.00


def test_drift_slower_machine_absorbs_uniform_inflation(snapshot_dir):
    # Machine is 30% slower (calibration 0.65 vs 0.50): a query at
    # +25% is environment, not code — must NOT flag.  The r8 driver
    # scenario.
    regs, factor = bench._drift_vs_prev_snapshot(
        {"q_fast": 1.25, "q_slow": 3.70}, "0.1", 0.65
    )
    assert factor == 1.3
    assert [r["q"] for r in regs] == []


def test_drift_slower_machine_still_flags_outsized_regression(snapshot_dir):
    # +30% machine but the query doubled — flags, with the calibrated
    # threshold recorded.
    regs, factor = bench._drift_vs_prev_snapshot(
        {"q_fast": 2.10}, "0.1", 0.65
    )
    assert [r["q"] for r in regs] == ["q_fast"]
    assert regs[0]["adj_prev_max"] == pytest.approx(1.30)


def test_drift_faster_machine_tightens_threshold(snapshot_dir):
    # Machine 20% faster: a median equal to the old raw max is now a
    # regression in calibrated terms.
    regs, factor = bench._drift_vs_prev_snapshot(
        {"q_fast": 1.00}, "0.1", 0.40
    )
    assert factor == 0.8
    assert [r["q"] for r in regs] == ["q_fast"]


def test_drift_missing_calibration_falls_back_to_raw(snapshot_dir, tmp_path):
    # Old snapshot without calibration_sec → factor 1.0 (raw compare)
    p = tmp_path / "BENCH_FULL_r08.json"
    snap = json.loads(p.read_text())
    del snap["calibration_sec"]
    p.write_text(json.dumps(snap))
    regs, factor = bench._drift_vs_prev_snapshot({"q_fast": 1.05}, "0.1", 0.65)
    assert factor == 1.0
    assert [r["q"] for r in regs] == ["q_fast"]


def test_drift_factor_clamped(snapshot_dir):
    # A corrupt probe can't silence everything: factor clamps to 3.0
    _, factor = bench._drift_vs_prev_snapshot({}, "0.1", 50.0)
    assert factor == 3.0
    _, factor = bench._drift_vs_prev_snapshot({}, "0.1", 0.01)
    assert factor == 0.5


def test_drift_other_sf_is_not_compared(snapshot_dir):
    regs, factor = bench._drift_vs_prev_snapshot({"q_fast": 9.9}, "0.01", 0.5)
    assert regs == [] and factor == 1.0


# --------------------------------------------------------------------------
# r10: per-group calibration + solo-JVM auto-triage (r9 VERDICT dir. #1)
# --------------------------------------------------------------------------


def test_drift_per_group_factor_overrides_run_factor(snapshot_dir):
    """A query whose OWN worker JVM ran hot uses its group's factor:
    run-level calibration 0.50 (factor 1.0) but q_fast's group probe
    came back at 0.75 (group factor 1.5) — a +40% median is group
    contention, not code, and must not flag."""
    regs, factor = bench._drift_vs_prev_snapshot(
        {"q_fast": 1.40, "q_slow": 2.80},
        "0.1",
        0.50,
        {"q_fast": 0.75, "q_slow": 0.50},
    )
    assert factor == 1.0  # run-level factor unchanged
    assert [r["q"] for r in regs] == []


def test_drift_per_group_factor_still_flags_outsized(snapshot_dir):
    """Even under a hot group (factor 1.5) a 2x query flags, and the
    entry records the group factor + prev_cal for the triage stage."""
    regs, _ = bench._drift_vs_prev_snapshot(
        {"q_fast": 2.10}, "0.1", 0.50, {"q_fast": 0.75}
    )
    assert [r["q"] for r in regs] == ["q_fast"]
    assert regs[0]["group_factor"] == 1.5
    assert regs[0]["adj_prev_max"] == pytest.approx(1.50)
    assert regs[0]["prev_cal"] == 0.50


def test_solo_triage_clears_contention_flag(monkeypatch):
    """A flag whose solo fresh-JVM median falls back inside the
    calibrated prior spread is marked cleared_by_triage."""
    def fake_spawn(group, tag, env_extra=None):
        assert group == ["q_fast"]
        assert env_extra == {"SPARK_GRAFT_SCALING": "0"}
        return {"queries": {"q_fast": 0.95}, "calibration_runs": [0.50]}

    monkeypatch.setattr(bench, "_spawn_worker", fake_spawn)
    entries = [
        {"q": "q_fast", "sec": 3.10, "prev_max": 1.00, "prev_cal": 0.50}
    ]
    bench._solo_triage(entries)
    assert entries[0]["triage_sec"] == 0.95
    assert entries[0]["triage_factor"] == 1.0
    assert entries[0]["cleared_by_triage"] is True


def test_solo_triage_keeps_real_regression(monkeypatch):
    """A flag that SURVIVES the solo re-run stays a regression (and the
    solo calibration still normalizes the threshold)."""
    def fake_spawn(group, tag, env_extra=None):
        return {"queries": {"q_fast": 2.60}, "calibration_runs": [0.60]}

    monkeypatch.setattr(bench, "_spawn_worker", fake_spawn)
    entries = [
        {"q": "q_fast", "sec": 3.10, "prev_max": 1.00, "prev_cal": 0.50}
    ]
    bench._solo_triage(entries)
    assert entries[0]["triage_factor"] == 1.2
    assert entries[0]["triage_adj_prev_max"] == pytest.approx(1.20)
    assert entries[0]["cleared_by_triage"] is False


def test_solo_triage_worker_failure_keeps_flag(monkeypatch):
    """A failed triage worker must not silently clear the flag."""
    monkeypatch.setattr(bench, "_spawn_worker", lambda *a, **k: None)
    entries = [{"q": "q_fast", "sec": 3.10, "prev_max": 1.00}]
    bench._solo_triage(entries)
    assert entries[0].get("cleared_by_triage") is not True
    assert entries[0]["triage"] == "worker_failed"


def test_compact_line_r11_full_run_shape_fits_and_parses():
    """Regression for the r11 full run: 98 queries, 28 flags of which
    23 non-cleared — the line must land under the cap (the driver
    keeps only the last 2000 chars; an over-cap line gets its HEAD cut
    and never parses) while keeping flag survivors visible AND a
    substantial queries map (the r11 line shipped queries:{} — the
    exact failure this order inverts)."""
    timings = {f"catalog_query_name_{i:03d}": 1.0 + i / 100 for i in range(98)}
    names = sorted(timings)
    flags = [[names[i], 2.5, 1.9, None, 0] for i in range(23)]
    flags += [[names[23 + i], 2.5, 1.9, 1.1, 1] for i in range(5)]
    compact = {
        "metric": "headline_queries_total",
        "value": 215.5,
        "regressions": [f[0] for f in flags if not f[-1]],
        "flags": [list(f) for f in flags],
        "n_flags": len(flags),
        "fallback_queries": [],
        "over2x_first": {names[50]: [2.0, 0.9]},
        "queries": dict(timings),
    }
    protected = {names[50]} | {f[0] for f in flags}
    line = bench._compact_line(compact, timings, protected=protected)
    assert len(line) <= 1950
    parsed = json.loads(line)
    assert parsed["n_flags"] == 28
    # non-cleared survivors stay visible (collapsed [name, sec] is
    # enough; the flood guard keeps 10)
    surv = [
        f
        for f in parsed["flags"]
        if not (len(f) > 2 and f[-1] == 1) and f[1:] != ["clr"]
    ]
    assert len(surv) == 10
    assert all(isinstance(f[1], float) for f in surv)
    # r12 CONTRACT: the queries map is populated (r11 shipped {}) and
    # every protected name kept its seat
    assert len(parsed["queries"]) >= 30
    assert parsed["n_queries_omitted"] == 98 - len(parsed["queries"])
    assert names[50] in parsed["queries"]


def test_compact_line_r12_queries_map_is_the_protected_core():
    """r11 VERDICT directive #2 end-state: with the r12 headline shape
    (101 realistically-long query names, a 25-flag noisy run) the
    final line still ships a top-N-by-time queries map big enough for
    the driver's PERF comparison — never an empty one — plus every
    flagged name."""
    import random

    rng = random.Random(11)
    timings = {
        f"catalog_query_name_{'x' * rng.randint(0, 10)}_{i:03d}": round(
            rng.uniform(0.2, 8.0), 3
        )
        for i in range(101)
    }
    names = sorted(timings)
    flags = [[names[i], 2.5, 1.9, 2.4, 0] for i in range(20)]
    flags += [[names[20 + i], 2.5, 1.9, 1.1, 1] for i in range(5)]
    compact = {
        "metric": "headline_queries_total",
        "value": 180.0,
        "unit": "sec",
        "sf": 0.1,
        "n_queries": 101,
        "n_runs": 3,
        "jvm_groups": 9,
        "worst_exponent": 0.73,
        "worst_exponent_interval": [0.64, 0.82],
        "regressions": [f[0] for f in flags if not f[-1]],
        "flags": [list(f) for f in flags],
        "n_flags": len(flags),
        "machine_factor": 0.814,
        "calibration_sec": 0.416,
        "fallback_queries": [],
        "over2x_first": {},
        "queries": {q: round(v, 2) for q, v in timings.items()},
    }
    protected = {f[0] for f in flags}
    line = bench._compact_line(compact, timings, protected=protected)
    assert len(line) <= 1950
    parsed = json.loads(line)
    kept = parsed["queries"]
    assert len(kept) >= 30, f"queries map too small: {len(kept)}"
    # every flagged (protected) name kept its seat for PERF comparison
    assert protected <= set(kept)
    # the unprotected survivors are the slowest ones
    unprot = [q for q in timings if q not in protected]
    kept_unprot = [q for q in kept if q not in protected]
    slowest_unprot = sorted(unprot, key=timings.get, reverse=True)[
        : len(kept_unprot)
    ]
    assert set(kept_unprot) == set(slowest_unprot)
    assert parsed["n_queries_omitted"] == 101 - len(kept)
