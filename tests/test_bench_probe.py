"""bench.py's probe mode and its one query timer: the documented JSON
lines, A/B arms that leave the session's conf as they found it (also when
the timed query raises), a null ratio for a zero median, every benchmark
query name registered, and a source guard keeping noop-sink timing and
``System.gc()`` inside ``bench.time_noop`` and ``bench.warm``."""

from __future__ import annotations

import ast
import json
import sys
from pathlib import Path

import pytest

import bench
from ocs_duckdb_runner_spark.registry import all_queries
from tests.conftest import SF_DIR

_REPO = Path(bench.REPO)
_PARTS = "spark.sql.shuffle.partitions"
_AB = (_PARTS, "3", "5")


def test_probe_prints_one_documented_line_per_query(spark, capsys):
    rows = bench.probe(spark, {"agg_basic": all_queries()["agg_basic"]}, SF_DIR, 2)
    [line] = capsys.readouterr().out.splitlines()
    assert rows == [json.loads(line)]
    assert set(rows[0]) == {"query", "sf", "times", "median"}
    assert rows[0]["query"] == "agg_basic" and rows[0]["sf"] == SF_DIR
    assert len(rows[0]["times"]) == 2 and rows[0]["median"] > 0


def test_ab_arms_alternate_and_restore_the_session(spark, capsys):
    before = spark.conf.get(_PARTS)
    seen = []

    def spy(s, sf_dir):
        seen.append(s.conf.get(_PARTS))
        return s.range(3)

    [row] = bench.probe(spark, {"spy": spy}, SF_DIR, 2, _AB)
    # per arm: the sf0.001 warm-up and the untimed run, then A,B per rep
    assert seen == ["3", "3", "5", "5", "3", "5", "3", "5"]
    assert set(row) == {"query", "conf", "a", "b", "median_a", "median_b", "b_over_a"}
    assert len(row["a"]) == len(row["b"]) == 2
    assert spark.conf.get(_PARTS) == before
    assert spark.sparkContext.getLocalProperty("spark.job.description") is None

    calls = []

    def boom(s, sf_dir):
        calls.append(s.conf.get(_PARTS))
        if len(calls) > 4 and calls[-1] == "5":  # arm B's first timed run
            raise RuntimeError("planted")
        return s.range(3)

    with pytest.raises(RuntimeError, match="planted"):
        bench.probe(spark, {"boom": boom}, SF_DIR, 2, _AB)
    assert spark.conf.get(_PARTS) == before


def test_ab_zero_median_gives_null_ratio(spark, monkeypatch, capsys):
    monkeypatch.setattr(bench, "warm", lambda *a: None)
    monkeypatch.setattr(bench, "time_noop", lambda *a: 0.0)
    [row] = bench.probe(spark, {"q": lambda s, d: s.range(1)}, SF_DIR, 3, _AB)
    assert row["median_a"] == 0.0 and row["b_over_a"] is None


def test_every_benchmark_query_is_registered():
    sys.path.insert(0, str(_REPO / "scripts"))
    from scale_probe import PROBE_QUERIES

    assert len(set(bench.HEADLINE)) == len(bench.HEADLINE)
    assert set(bench.CANARY) | set(bench.KEY_QUERIES) <= set(bench.HEADLINE)
    named = set(bench.HEADLINE) | set(PROBE_QUERIES)
    assert sorted(named - set(all_queries())) == []


_TIMERS = {("bench.py", "time_noop"), ("bench.py", "warm")}


def _timing_calls(rel: str, node: ast.AST):
    """(line, call) of each ``format("noop")`` and ``System.gc()`` outside
    the two timer functions (docstrings and comments do not count)."""
    if isinstance(node, ast.FunctionDef) and (rel, node.name) in _TIMERS:
        return
    if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
        f = node.func
        args = [getattr(a, "value", None) for a in node.args]
        if f.attr == "format" and args == ["noop"]:
            yield node.lineno, 'format("noop")'
        if f.attr == "gc" and getattr(f.value, "attr", None) == "System":
            yield node.lineno, "System.gc()"
    for child in ast.iter_child_nodes(node):
        yield from _timing_calls(rel, child)


def test_noop_timing_only_through_bench_timer():
    """Every noop-sink timing in bench.py and scripts/ is one
    bench.time_noop after bench.warm, so the protocol has one copy."""
    paths = [_REPO / "bench.py", *sorted((_REPO / "scripts").glob("*.py"))]
    offenders = [
        f"{rel}:{n}: {call}"
        for path in paths
        if (rel := path.relative_to(_REPO).as_posix())
        for n, call in _timing_calls(rel, ast.parse(path.read_text()))
    ]
    assert offenders == [], "hand-rolled query timing; use bench.time_noop"
