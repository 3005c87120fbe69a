"""Local stand-in for the driver's t2 correctness gate.

Runs every ``queries()`` entry at sf0.01 on Spark AND its DuckDB oracle
SQL, then compares row count, column names, an order-insensitive value
hash, AND (round 11, driver parity) the output TYPES of the two final
projections via ``plans/oracle_typecheck.divergences``.  The r10 driver
window proved the value-normalizing hash alone is more permissive than
the driver it stands in for: three queries were value-identical but
emitted DuckDB HUGEINT, which the driver renders differently from
Spark's int64 and fails.  A HARD type divergence (HUGEINT anywhere,
decimal-vs-double, class mismatch) now fails the query here too, even
when normalized values match; soft divergences (int width, decimal
precision — driver-tolerated for 10 rounds) are recorded in the JSON.

Exit code 1 if any oracle-checked query mismatches.  The ``--json``
record keeps, per entry, the Spark and oracle value hashes and the
Spark output schema, so a refactor can be checked for identical
answers and types by diffing two records.

Usage: python scripts/check_correctness.py [name ...]
       python scripts/check_correctness.py --json OUT.json [name ...]
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def _norm_cell(v) -> str:
    if v is None:
        return "NULL"
    if hasattr(v, "item") and type(v).__module__ == "numpy":  # numpy scalar
        v = v.item()
    if isinstance(v, bool):
        return "1" if v else "0"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.6g}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm_cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_norm_cell(v[k])}" for k in sorted(v)) + "}"
    if hasattr(v, "asDict"):  # pyspark Row
        d = v.asDict()
        return "{" + ",".join(f"{k}:{_norm_cell(d[k])}" for k in sorted(d)) + "}"
    if hasattr(v, "isoformat"):
        return v.isoformat(sep=" ").replace("+00:00", "")
    return str(v)


def _hash(rows, cols_sorted_idx) -> str:
    lines = sorted(
        "|".join(_norm_cell(r[i]) for i in cols_sorted_idx) for r in rows
    )
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()


def main() -> None:
    from big_data_virus_analysis_spark.plans.catalog import CATALOG, oracle_sql
    from big_data_virus_analysis_spark.plans.oracle_typecheck import divergences
    from big_data_virus_analysis_spark.session import get_spark

    args = sys.argv[1:]
    json_out = None
    if args and args[0] == "--json":
        json_out = args[1]
        args = args[2:]
    only = set(args)
    results: dict[str, dict] = {}
    spark = get_spark("t2-check")
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )

    osql = oracle_sql()
    failures = []
    for name, spec in sorted(CATALOG.items()):
        if only and name not in only:
            continue
        try:
            sdf = spec.spark(spark, SF_DIR)
            srows = sdf.collect()
            scols = sdf.columns
            # pair generators/graph ops cache signature frames for their
            # self-joins; drop them so a full-catalog run doesn't pin
            # every index in executor storage for the session's lifetime
            spark.catalog.clearCache()
        except Exception as e:  # noqa: BLE001
            failures.append((name, f"spark error: {e}"))
            results[name] = {"status": "spark_error", "err": str(e)[:300]}
            print(f"FAIL {name}: spark error: {e}")
            continue
        sidx = [scols.index(c) for c in sorted(scols)]
        # what a refactor must preserve: values and output types
        spark_facts = {
            "spark_hash": _hash(srows, sidx),
            "spark_schema": sdf.schema.simpleString(),
        }
        if name not in osql:
            results[name] = {
                "status": "rows_only",
                "spark_rows": len(srows),
                **spark_facts,
            }
            print(f"rows-only {name}: {len(srows)} rows")
            continue
        try:
            rel = con.sql(osql[name])
            otypes = list(rel.types)
            otype_cols = list(rel.columns)
            cur = con.execute(osql[name])
            ocols = [d[0] for d in cur.description]
            orows = cur.fetchall()
        except Exception as e:  # noqa: BLE001
            failures.append((name, f"duckdb error: {e}"))
            results[name] = {"status": "duckdb_error", "err": str(e)[:300]}
            print(f"FAIL {name}: duckdb error: {e}")
            continue
        hard_types, soft_types = divergences(sdf.schema, otype_cols, otypes)
        sh = spark_facts["spark_hash"]
        oh = _hash(orows, [ocols.index(c) for c in sorted(ocols)])
        ok = True
        why = None
        if hard_types:
            why = "type divergence: " + "; ".join(hard_types)
        elif sorted(scols) != sorted(ocols):
            why = f"schema: spark={sorted(scols)} oracle={sorted(ocols)}"
        elif len(srows) != len(orows):
            why = f"rows: spark={len(srows)} oracle={len(orows)}"
        elif sh != oh:
            why = "value-hash mismatch"
        if why is not None:
            failures.append((name, why))
            ok = False
        results[name] = {
            "status": "pass" if ok else "fail",
            "spark_rows": len(srows),
            "oracle_rows": len(orows),
            **spark_facts,
            "oracle_hash": oh,
            **({"why": why} if why else {}),
            **({"soft_types": soft_types} if soft_types else {}),
        }
        print(("PASS " if ok else "FAIL ") + f"{name}: {len(srows)} rows")
    print(f"\n{len(failures)} failures")
    for n, why in failures:
        print(f"  {n}: {why}")
    if json_out:
        with open(json_out, "w") as f:
            json.dump(results, f, indent=1, sort_keys=True)
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
