"""Oracle parity for SQL-expressible catalog queries.

Mirrors the driver's CORRECTNESS gate: run the Spark plan and the DuckDB
oracle on the same sf0.01 parquet, compare row count + columns + values
(order-insensitive, exact after the catalog's own rounding).

r12 (r11 VERDICT #5 — the driver's pytest gate timed out at ~86% of a
~1,570-test suite): the DEFAULT run replays the ~100 bench-headline
oracles (the queries the driver times and rotates through its
correctness window most often) instead of all ~570.  The FULL catalog
replay still runs in two places — set ``SPARK_GRAFT_FULL_ORACLE=1``
for the complete parameterization here, and
``scripts/check_correctness.py`` (the LOCALCHECK gate, committed every
round as LOCALCHECK_r{N}.json) always covers all 574 pairs with the
stricter driver-parity type check on top.
"""

from __future__ import annotations

import importlib
import os
import pkgutil
import subprocess
import sys

import pytest

from big_data_virus_analysis_spark import plans
from big_data_virus_analysis_spark.plans import catalog
from big_data_virus_analysis_spark.plans.catalog import CATALOG

from conftest import SF_DIR, assert_frames_match

ORACLE_CASES = sorted(name for name, spec in CATALOG.items() if spec.oracle is not None)

if os.environ.get("SPARK_GRAFT_FULL_ORACLE", "") == "1":
    DEFAULT_CASES = ORACLE_CASES
else:
    from bench import HEADLINE

    DEFAULT_CASES = [n for n in ORACLE_CASES if n in set(HEADLINE)]


@pytest.mark.parametrize("name", DEFAULT_CASES)
def test_oracle_parity(spark, duck, name):
    spec = CATALOG[name]
    spark_df = spec.spark(spark, SF_DIR)
    duck_df = duck.execute(spec.oracle).df()
    assert_frames_match(spark_df, duck_df, name)


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0
    assert df.columns == ["token", "pos_df", "neg_df", "info_gain", "rank"]


def test_every_query_has_catalog_doc():
    for name, spec in CATALOG.items():
        assert spec.doc, f"{name} missing provenance doc"


def test_catalog_md_is_current():
    """CATALOG.md is generated; regenerate (scripts/gen_catalog_md.py)
    whenever a query is added."""
    import os

    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "CATALOG.md")
    with open(path) as f:
        content = f.read()
    missing = [n for n in CATALOG if f"`{n}`" not in content]
    assert not missing, f"regenerate CATALOG.md; missing {missing}"


def test_every_pack_entry_is_registered():
    """The registry discovers its packs: every entry of every plan
    module's ``SPECS`` is in CATALOG as the very same QuerySpec."""
    modules = [
        importlib.import_module(f"{plans.__name__}.{info.name}")
        for info in pkgutil.iter_modules(plans.__path__)
    ]
    packs = [m for m in modules if hasattr(m, "SPECS")]
    assert packs
    for module in packs:
        for name, spec in module.SPECS.items():
            assert CATALOG.get(name) is spec, f"{module.__name__}: {name}"


def test_register_pack_refuses_a_taken_name():
    """A pack that reuses a registered name raises and registers none of
    its entries, so it cannot shadow a verified query."""
    before = list(CATALOG.items())
    taken = before[0][0]
    spec = CATALOG[taken]
    with pytest.raises(ValueError, match=taken):
        catalog._register_pack({"register_pack_probe": spec, taken: spec})
    assert list(CATALOG.items()) == before


def test_plan_modules_do_not_load_the_registry():
    """A plan module defines its SPECS without the registry: in a fresh
    interpreter, importing frames and round7_granger, then every other
    module of plans/ but catalog.py, leaves plans.catalog unloaded."""
    code = """
import importlib, pkgutil, sys
import big_data_virus_analysis_spark.plans as plans
import big_data_virus_analysis_spark.plans.frames
import big_data_virus_analysis_spark.plans.round7_granger
registry = plans.__name__ + ".catalog"
assert registry not in sys.modules, "frames / round7_granger"
for info in pkgutil.iter_modules(plans.__path__):
    if info.name != "catalog":
        importlib.import_module(plans.__name__ + "." + info.name)
        assert registry not in sys.modules, info.name
"""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run(
        [sys.executable, "-c", code], cwd=repo, capture_output=True, text=True
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
