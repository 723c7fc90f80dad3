"""End-to-end DuckDB-oracle tests — the local twin of the driver's t2
correctness gate (__spark_entry__.py contract): every registered query with
an oracle must match DuckDB exactly (row count + columns + order-insensitive
values) on the same parquet fixtures; oracle-exempt queries must at least
execute and return a stable schema. Every query must also leave the shared
session's cache as it found it (session.scoped_cache)."""

from __future__ import annotations

import pytest

from ocs_duckdb_runner_spark.registry import specs
from tests.conftest import SF_DIR, assert_matches_oracle, run_spark_query

_SPECS = specs()
WITH_ORACLE = sorted(n for n, s in _SPECS.items() if s.oracle is not None)
ROWS_ONLY = sorted(n for n, s in _SPECS.items() if s.oracle is None)


def _assert_cache_empty(spark, name):
    cache = spark._jsparkSession.sharedState().cacheManager()
    assert cache.isEmpty(), f"{name} left cached data in the session"


@pytest.mark.parametrize("name", WITH_ORACLE)
def test_matches_duckdb_oracle(spark, duck, name):
    spark.catalog.clearCache()
    assert_matches_oracle(spark, duck, name, SF_DIR)
    _assert_cache_empty(spark, name)


@pytest.mark.parametrize("name", ROWS_ONLY)
def test_rows_only_runs(spark, name):
    spark.catalog.clearCache()
    pdf = run_spark_query(spark, name, SF_DIR)
    assert pdf.shape[0] >= 0
    assert len(pdf.columns) > 0
    _assert_cache_empty(spark, name)


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert [f.name for f in df.schema.fields] == ["VID", "X", "Y", "Z", "E"]
    assert set(e.oracle_sql()) <= set(e.queries())
