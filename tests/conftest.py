"""Shared test fixtures: one SparkSession, a DuckDB connection with the
driver tables pre-registered (mirroring the correctness harness), and an
exact frame-comparison helper that emulates the driver's
row-count + schema + order-insensitive value check.
"""

from __future__ import annotations

import os
import sys

import duckdb
import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from flink_project_spark import fixtures as FX
from flink_project_spark.session import get_spark, resolve_driver_memory

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


def pytest_report_header(config):
    # the heap the session fixture's JVM will get, shown before any
    # test runs: an OOM-killed run otherwise shows only connection errors
    return resolve_driver_memory()[1]


def pytest_terminal_summary(terminalreporter):
    # -q hides the header; print the line in the closing summary instead
    if terminalreporter.verbosity < 0:
        terminalreporter.write_line(pytest_report_header(None))


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="fps-tests", cpus=8, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in FX.TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{SF_CORRECT}/{t}.parquet')"
        )
    yield con
    con.close()


def assert_frames_match(spark_df, duck_pdf: pd.DataFrame) -> None:
    """Exact order-insensitive comparison (the driver's contract)."""
    s = spark_df.toPandas()
    d = duck_pdf
    assert sorted(s.columns) == sorted(d.columns), (
        f"columns differ: {sorted(s.columns)} vs {sorted(d.columns)}"
    )
    assert len(s) == len(d), f"row count differs: {len(s)} vs {len(d)}"
    cols = sorted(s.columns)
    s = s[cols].copy()
    d = d[cols].copy()
    for c in cols:
        if str(s[c].dtype) != str(d[c].dtype):
            d[c] = d[c].astype(s[c].dtype)
    s = s.sort_values(cols, kind="mergesort").reset_index(drop=True)
    d = d.sort_values(cols, kind="mergesort").reset_index(drop=True)
    pd.testing.assert_frame_equal(s, d, check_exact=True)
