from __future__ import annotations

import os
import sys

import duckdb
import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from big_data_virus_analysis_spark.session import get_spark  # noqa: E402
from big_data_virus_analysis_spark.sources.tables import TABLE_NAMES  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.01")
SMOKE_SF_DIR = "/root/testdata/sf0.001"


def pytest_terminal_summary(terminalreporter):
    """Say which oracle set ``test_catalog_oracle.py`` replayed, so every
    report names what the default run leaves out. Printed in the summary
    because ``-q`` hides the report header."""
    mod = sys.modules.get("test_catalog_oracle")
    if mod is None:  # not collected in this run: nothing to report
        return
    full, run = len(mod.ORACLE_CASES), len(mod.DEFAULT_CASES)
    if run == full:
        line = f"catalog oracle replay: full: {full}"
    else:
        line = (
            f"catalog oracle replay: headline: {run} of {full} "
            "(SPARK_GRAFT_FULL_ORACLE=1 replays all)"
        )
    terminalreporter.write_line(line)


@pytest.fixture(scope="session")
def spark():
    s = get_spark("bdva-tests", cpus=8)
    yield s


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for name in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM '{SF_DIR}/{name}.parquet'"
        )
    yield con
    con.close()


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    """Mirror the driver's order-insensitive compare: sort columns by
    name, canonicalize dtypes, sort rows by all columns."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64").round(9)
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
        elif df[c].dtype == object:
            import decimal

            non_null = df[c].dropna()
            if len(non_null) and all(isinstance(v, decimal.Decimal) for v in non_null):
                df[c] = df[c].astype("float64").round(9)
            else:
                df[c] = df[c].map(lambda v: str(v))
    return df.sort_values(by=list(df.columns), ignore_index=True)


def assert_frames_match(spark_df, duck_df: pd.DataFrame, name: str) -> None:
    sp = normalize(spark_df.toPandas())
    dk = normalize(duck_df)
    assert len(sp) == len(dk), f"{name}: row count {len(sp)} != oracle {len(dk)}"
    assert list(sp.columns) == list(dk.columns), (
        f"{name}: columns {list(sp.columns)} != oracle {list(dk.columns)}"
    )
    pd.testing.assert_frame_equal(sp, dk, check_dtype=False, atol=0, rtol=0, obj=name)
