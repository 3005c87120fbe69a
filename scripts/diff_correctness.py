"""Diff two ``check_correctness.py --json`` records entry by entry.

Prints every catalog entry whose ``status``, ``spark_hash``,
``oracle_hash`` or ``spark_schema`` differs between the two records
(an entry present in only one counts as differing), then the number of
entries per status on each side.  Exit code 1 when an oracle-checked
entry (one carrying an ``oracle_hash`` on either side) has a different
``spark_hash`` or ``oracle_hash``; a moved hash of a rows-only entry is
printed but does not fail the diff, since those answers are checked by
invariants, not by an oracle.

Usage: python scripts/diff_correctness.py PARENT.json CHANGE.json
"""

from __future__ import annotations

import json
import sys
from collections import Counter

FIELDS = ("status", "spark_hash", "oracle_hash", "spark_schema")
HASHES = ("spark_hash", "oracle_hash")


def _short(v) -> str:
    if v is None:
        return "-"
    s = str(v)
    return s[:12] if len(s) == 64 else s  # sha256 hex digests


def diff(parent: dict, change: dict) -> tuple[list[str], bool]:
    """Lines naming each differing entry, and whether any oracle-checked
    entry's hashes differ."""
    lines, hash_moved = [], False
    for name in sorted(set(parent) | set(change)):
        a, b = parent.get(name, {}), change.get(name, {})
        moved = [f for f in FIELDS if a.get(f) != b.get(f)]
        if not moved:
            continue
        oracle_checked = "oracle_hash" in a or "oracle_hash" in b
        if oracle_checked and any(f in moved for f in HASHES):
            hash_moved = True
        kind = "oracle-checked" if oracle_checked else "rows-only"
        what = "; ".join(f"{f} {_short(a.get(f))} -> {_short(b.get(f))}" for f in moved)
        lines.append(f"{name} ({kind}): {what}")
    return lines, hash_moved


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__.strip().splitlines()[-1], file=sys.stderr)
        return 2
    records = []
    for path in argv:
        with open(path) as f:
            records.append(json.load(f))
    parent, change = records
    lines, hash_moved = diff(parent, change)
    for ln in lines:
        print(ln)
    print(f"{len(lines)} entries differ")
    for label, rec in zip(("parent", "change"), records):
        counts = Counter(e.get("status", "missing") for e in rec.values())
        print(f"{label}: " + ", ".join(f"{k} {counts[k]}" for k in sorted(counts)))
    if hash_moved:
        print("FAIL: an oracle-checked entry's hashes differ")
    return 1 if hash_moved else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
