"""session.scoped_conf, session.scoped_cache and session.file_version,
and source guards: conf changes only through scoped_conf, persists only
through scoped_cache, env reads only in session.py, and a reason on every
catch-all."""

from __future__ import annotations

import ast
import re
from pathlib import Path
from unittest import mock

import pytest
from pyspark.sql.classic.dataframe import DataFrame

from ocs_duckdb_runner_spark.registry import get_query
from ocs_duckdb_runner_spark.session import file_version, scoped_cache, scoped_conf
from tests.conftest import SF_DIR

_KEY = "spark.ocs.test.scoped"
_PARTS = "spark.sql.shuffle.partitions"  # explicitly set by the builder


def test_scoped_conf_restores_explicit_prior(spark):
    prior = spark.conf.get(_PARTS)
    with scoped_conf(spark, {_PARTS: "3"}):
        assert spark.conf.get(_PARTS) == "3"
    assert spark.conf.get(_PARTS) == prior


def test_scoped_conf_unsets_key_without_prior(spark):
    assert spark.conf.get(_KEY, None) is None
    with scoped_conf(spark, {_KEY: "x"}):
        assert spark.conf.get(_KEY) == "x"
    assert spark.conf.get(_KEY, None) is None


def test_scoped_conf_restores_when_body_raises(spark):
    prior = spark.conf.get(_PARTS)
    with pytest.raises(RuntimeError):
        with scoped_conf(spark, {_KEY: "x", _PARTS: "3"}):
            raise RuntimeError
    assert (spark.conf.get(_KEY, None), spark.conf.get(_PARTS)) == (None, prior)


def test_scoped_conf_failed_set_raises_before_body(spark):
    """A conf that cannot be set (static) raises before the body, with the
    keys set before it put back."""
    with pytest.raises(Exception, match="static"):
        with scoped_conf(spark, {_KEY: "x", "spark.sql.warehouse.dir": "/x"}):
            pytest.fail("body ran")
    assert spark.conf.get(_KEY, None) is None


def _cache_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_scoped_cache_releases_in_reverse_on_exit(spark):
    spark.catalog.clearCache()
    a, b = spark.range(10), spark.range(20)
    with mock.patch.object(DataFrame, "unpersist", autospec=True) as unp:
        with scoped_cache() as persist:
            assert persist(a) is a and persist(b) is b
            assert a.is_cached and b.is_cached
    assert [id(c.args[0]) for c in unp.call_args_list] == [id(b), id(a)]
    spark.catalog.clearCache()
    with scoped_cache() as persist:
        persist(a).count()
    assert not a.is_cached and _cache_empty(spark)


def test_scoped_cache_releases_when_body_raises_and_after_early_unpersist(spark):
    spark.catalog.clearCache()
    with pytest.raises(RuntimeError):
        with scoped_cache() as persist:
            early = persist(spark.range(5))
            persist(spark.range(7))
            early.unpersist()  # a per-round loop's early release stays valid
            raise RuntimeError
    assert _cache_empty(spark)


# A failure planted before the final localCheckpoint: each query's
# persisted frames must still leave the session's cache.
_PLANTED = [
    ("kmeans_embeddings", "count"),  # the vecs.count() pin
    ("graph_triangle_count", "count"),  # the edges.count() pin
    ("bpe_merge_rounds", "localCheckpoint"),  # round 1's best-pair pin
    ("dedup_minhash", "localCheckpoint"),  # the candidate-pair pin
]


@pytest.mark.parametrize("name,method", _PLANTED)
def test_planted_failure_leaves_no_cached_data(spark, name, method):
    spark.catalog.clearCache()
    planted = RuntimeError(f"planted {method} failure")
    with mock.patch.object(DataFrame, method, side_effect=planted):
        with pytest.raises(RuntimeError, match="planted"):
            get_query(name).fn(spark, SF_DIR)
    assert _cache_empty(spark), f"{name} leaked a cached frame"


def test_file_version_tracks_length_and_raises_on_missing(spark, tmp_path):
    f = tmp_path / "object.bin"
    f.write_bytes(b"x" * 10)
    mtime_ms, length = file_version(spark, str(f))
    assert length == 10 and abs(mtime_ms - f.stat().st_mtime * 1000) < 1000
    f.write_bytes(b"x" * 11)
    assert file_version(spark, str(f))[1] == 11
    with pytest.raises(Exception, match="FileNotFoundException"):
        file_version(spark, str(tmp_path / "missing.parquet"))


# The UTC pins are deliberate session-wide side effects (session.py module
# docstring); every other conf change in the package goes through scoped_conf.
_PKG = Path(__file__).resolve().parent.parent / "ocs_duckdb_runner_spark"
_UTC_PIN = 'spark.conf.set("spark.sql.session.timeZone", "UTC")'
_ALLOWED = {("registry.py", _UTC_PIN), ("streaming/stream_queries.py", _UTC_PIN)}


def test_package_changes_conf_only_through_scoped_conf():
    offenders = [
        f"{rel}:{n}: {line.strip()}"
        for path in sorted(_PKG.rglob("*.py"))
        if (rel := path.relative_to(_PKG).as_posix()) != "session.py"
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if re.search(r"conf\.(set|unset)\(", line)
        and (rel, line.strip()) not in _ALLOWED
    ]
    assert offenders == [], "hand-rolled conf change; use scoped_conf"


# scoped_cache is the one persist; gated_broadcast's adversarial path keeps
# a documented session-lived cache (registry.gated_broadcast docstring).
_PERSIST_OWNERS = {("session.py", "scoped_cache"), ("registry.py", "gated_broadcast")}


def _persist_calls(rel: str, node: ast.AST):
    """(line, method) of each ``.persist(...)``/``.cache()`` call outside
    the owner functions (docstrings and comments do not count)."""
    if isinstance(node, ast.FunctionDef) and (rel, node.name) in _PERSIST_OWNERS:
        return
    if (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr in ("persist", "cache")
    ):
        yield node.lineno, node.func.attr
    for child in ast.iter_child_nodes(node):
        yield from _persist_calls(rel, child)


def test_package_persists_only_through_scoped_cache():
    """Every cached intermediate lives in a scoped_cache, so no query can
    leave cached data in the shared session however it ends."""
    offenders = [
        f"{rel}:{n}: .{attr}()"
        for path in sorted(_PKG.rglob("*.py"))
        if (rel := path.relative_to(_PKG).as_posix())
        for n, attr in _persist_calls(rel, ast.parse(path.read_text()))
    ]
    assert offenders == [], "hand-rolled persist; use session.scoped_cache"


def test_package_reads_env_only_in_session():
    """Environment knobs live in session.py, so a deployment setting has
    one place to be found and documented."""
    offenders = [
        f"{rel}:{n}: {line.strip()}"
        for path in sorted(_PKG.rglob("*.py"))
        if (rel := path.relative_to(_PKG).as_posix()) != "session.py"
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if re.search(r"\bos\.(environ|getenv)\b|\bgetenv\(", line)
    ]
    assert offenders == [], "env knob outside session.py"


def test_every_catch_all_names_its_reason():
    """Every ``except Exception`` in the package says on its own line, in
    a comment, why it catches everything."""
    offenders = [
        f"{path.relative_to(_PKG).as_posix()}:{n}: {line.strip()}"
        for path in sorted(_PKG.rglob("*.py"))
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if re.search(r"\bexcept Exception\b", line)
        and not re.search(r"\bexcept Exception\b[^#]*:\s*#\s*\S", line)
    ]
    assert offenders == [], "catch-all without a reason comment"
