"""Scan every catalog query's physical plan for unpartitioned Window
nodes whose input is not provably bounded in-plan.

Reports one line per offending (query, window) so the plan-lint
allowlist (tests/test_plan_lint.py::GLOBAL_WINDOW_ALLOWED) can be
curated from evidence rather than memory.  Detection logic lives in
big_data_virus_analysis_spark/plans/plan_lint.py (shared with the
test).

Usage: python scripts/scan_global_windows.py [name ...]
"""

from __future__ import annotations

import os
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)
sys.path.insert(0, os.path.join(_REPO, "tests"))

SMOKE_SF_DIR = "/root/testdata/sf0.001"


def main() -> None:
    from big_data_virus_analysis_spark.plans.catalog import CATALOG
    from big_data_virus_analysis_spark.plans.plan_lint import (
        fmt_plan,
        global_window_findings,
    )
    from big_data_virus_analysis_spark.session import get_spark
    from test_plan_lint import SKIP_SLOW

    spark = get_spark()
    names = sys.argv[1:] or sorted(set(CATALOG) - SKIP_SLOW)
    hits = 0
    for name in names:
        try:
            plan = fmt_plan(CATALOG[name].spark(spark, SMOKE_SF_DIR))
        except Exception as exc:  # compile error is its own finding
            print(f"ERROR {name}: {exc}")
            hits += 1
            continue
        for finding in global_window_findings(plan):
            print(f"GLOBAL-WINDOW {name}: {finding}")
            hits += 1
    print(f"done: {hits} findings over {len(names)} queries")


if __name__ == "__main__":
    main()
