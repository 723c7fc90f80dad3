"""session.scoped_conf and session.file_version, and source guards: conf
changes only through scoped_conf, env reads only in session.py, and a
reason on every catch-all."""

from __future__ import annotations

import re
from pathlib import Path

import pytest

from ocs_duckdb_runner_spark.session import file_version, scoped_conf

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
    keys set before it put back: src_python_datasource_pushdown's fallback."""
    with pytest.raises(Exception, match="static"):
        with scoped_conf(spark, {_KEY: "x", "spark.sql.warehouse.dir": "/x"}):
            pytest.fail("body ran")
    assert spark.conf.get(_KEY, None) is None


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
