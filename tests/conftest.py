"""Shared fixtures: one local SparkSession per test session, plus the
DuckDB-oracle comparison harness mirroring the driver's check
(row-count + schema + order-insensitive value comparison)."""

from __future__ import annotations

import math
import os

import duckdb
import numpy as np
import pandas as pd
import pytest

from ocs_duckdb_runner_spark.registry import TABLES, specs
from ocs_duckdb_runner_spark.session import build_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def pytest_addoption(parser):
    parser.addoption(
        "--run-sweep",
        action="store_true",
        default=False,
        help="run the full 182-query oracle sweep (tests/test_full_sweep.py)",
    )
    parser.addoption(
        "--run-hotshingle",
        action="store_true",
        default=False,
        help="run the df-cap-BINDING oracle probe (tests/test_full_sweep.py)",
    )


def pytest_configure(config):
    config.addinivalue_line(
        "markers", "sweep: full driver-style oracle sweep (opt-in, ~10 min)"
    )
    config.addinivalue_line(
        "markers",
        "hotshingle: planted-viral-shingle oracle probe (opt-in, ~2 min)",
    )


@pytest.fixture(scope="session")
def spark():
    s = build_spark(
        app_name="ocs-duckdb-runner-spark-tests",
        shuffle_partitions=8,
        # UI on: tests/test_runner_once.py cross-checks the fan-out's
        # listener-based I/O report against the monitoring REST API
        extra_conf={"spark.ui.enabled": "true"},
    )
    yield s


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        path = f"{SF_DIR}/{t}.parquet"
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    yield con
    con.close()


def _canon_val(v):
    if v is None:
        return "NULL"
    if isinstance(v, (float, np.floating)):
        f = float(v)
        return "NULL" if math.isnan(f) else repr(f)
    if isinstance(v, (bool, np.bool_)):
        return repr(bool(v))
    if isinstance(v, (int, np.integer)):
        return repr(int(v))
    if isinstance(v, pd.Timestamp):
        return "NULL" if pd.isna(v) else v.isoformat()
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(str(_canon_val(x)) for x in v) + "]"
    if isinstance(v, bytes):
        return v.hex()
    try:
        if pd.isna(v):
            return "NULL"
    except (TypeError, ValueError):
        pass
    return repr(v)


def canon_rows(pdf: pd.DataFrame) -> list[tuple]:
    """Driver-style canonical form: columns sorted by name, rows as value
    tuples, sorted — an order-insensitive exact comparison."""
    pdf = pdf[sorted(pdf.columns)]
    rows = [tuple(_canon_val(v) for v in row) for row in pdf.itertuples(index=False)]
    return sorted(rows)


def dtype_kinds(pdf: pd.DataFrame) -> dict[str, str]:
    return {c: pdf[c].dtype.kind for c in sorted(pdf.columns)}


def run_spark_query(spark, name: str, sf_dir: str = SF_DIR) -> pd.DataFrame:
    return specs()[name].fn(spark, sf_dir).toPandas()


def run_oracle(duck, name: str) -> pd.DataFrame:
    sql = specs()[name].oracle
    assert sql is not None, f"{name} has no oracle"
    return duck.execute(sql).fetchdf()


def assert_matches_oracle(spark, duck, name: str, sf_dir: str = SF_DIR) -> None:
    got = run_spark_query(spark, name, sf_dir)
    want = run_oracle(duck, name)
    assert sorted(got.columns) == sorted(want.columns), (
        f"{name}: column mismatch spark={sorted(got.columns)} oracle={sorted(want.columns)}"
    )
    assert len(got) == len(want), f"{name}: row count spark={len(got)} oracle={len(want)}"
    g, w = canon_rows(got), canon_rows(want)
    if g != w:
        diffs = [(a, b) for a, b in zip(g, w) if a != b][:5]
        raise AssertionError(
            f"{name}: value mismatch; first differing (spark, oracle) pairs: {diffs}"
        )
