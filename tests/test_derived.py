"""registry.derived, the one publish-once path for fixture-derived
directories: generation keys and their vacuum, failed and lost builds,
concurrent cold builds on one session, and a source guard that keeps
completion probes, fingerprints and the vacuum inside the helper."""

from __future__ import annotations

import ast
import glob
import os
import shutil
import sys
import threading
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

import pytest

from ocs_duckdb_runner_spark.registry import (
    derived,
    derived_path,
    get_query,
    load_table,
    vacuum_cache_siblings,
)
from tests.conftest import SF_DIR


def test_vacuum_cache_siblings_is_fingerprint_anchored(tmp_path):
    """A tag that PREFIXES another tag (sf0.1 vs sf0.1_alt) must not
    vacuum the longer tag's valid fingerprinted generation — the round-8
    bare-prefix match did, forcing spurious rebuilds."""
    parent = str(tmp_path)
    keep = "sf0.1_aaaaaaaaaaaa"
    victims = ["sf0.1", "sf0.1_bbbbbbbbbbbb"]  # pre-fp layout + stale gen
    survivors = [
        keep,
        "sf0.1_alt_cccccccccccc",  # longer tag's valid generation
        "sf0.1_notafingerprint",  # not 12-hex → not a generation
        "sf0.15_dddddddddddd",  # different tag entirely
    ]
    for name in victims + survivors:
        os.makedirs(os.path.join(parent, name))
    vacuum_cache_siblings(parent, "sf0.1", keep)
    left = set(os.listdir(parent))
    assert left == set(survivors)


def test_bucketed_cache_key_shape_is_vacuumable(tmp_path):
    """The generation dir every derived directory lives in (and whose
    name join_bucketed's tables carry) must be matched by
    vacuum_cache_siblings's generation regex, so a stale generation is
    reclaimed on rebuild — the r9 18-hex bucketed shape never was."""
    sf_dir = "/root/testdata/sf0.001"
    tag = sf_dir.strip("/").replace("/", "_")
    keep = os.path.basename(os.path.dirname(derived_path(sf_dir, "orders_bkt")))
    stale = tag + "_" + "0" * 12  # a superseded generation
    parent = str(tmp_path)
    os.makedirs(os.path.join(parent, keep))
    os.makedirs(os.path.join(parent, stale))
    vacuum_cache_siblings(parent, tag, keep)
    left = set(os.listdir(parent))
    assert left == {keep}


def _write_part(tmp: str, body: str) -> None:
    os.makedirs(tmp)
    with open(f"{tmp}/part-0.parquet", "w") as fh:
        fh.write(body)


def test_failed_build_leaves_nothing_and_next_build_publishes(tmp_path):
    """A build killed after its first part file must leave neither the
    final directory nor its temp copy — a half-written directory would
    read as complete forever — and the next build publishes."""
    sf = str(tmp_path / "fixture")
    os.makedirs(sf)
    out = derived_path(sf, "part")
    gen = os.path.dirname(out)

    def killed(tmp: str) -> None:
        _write_part(tmp, "partial")
        raise RuntimeError("killed mid-build")

    try:
        with pytest.raises(RuntimeError, match="killed mid-build"):
            derived(sf, "part", killed)
        assert not os.path.exists(out)
        assert os.listdir(gen) == []
        assert derived(sf, "part", lambda tmp: _write_part(tmp, "good")) == out
        assert os.listdir(gen) == ["part"]
        assert Path(f"{out}/part-0.parquet").read_text() == "good"
    finally:
        shutil.rmtree(gen, ignore_errors=True)


def test_losing_builder_keeps_the_winners_copy(tmp_path):
    """A builder that finishes after another has published drops its own
    copy: the published directory is never replaced or merged into."""
    sf = str(tmp_path / "fixture")
    os.makedirs(sf)
    out = derived_path(sf, "part")
    gen = os.path.dirname(out)

    def loser(tmp: str) -> None:
        _write_part(tmp, "loser")
        derived(sf, "part", lambda t: _write_part(t, "winner"))

    try:
        assert derived(sf, "part", loser) == out
        assert os.listdir(gen) == ["part"]
        assert Path(f"{out}/part-0.parquet").read_text() == "winner"
    finally:
        shutil.rmtree(gen, ignore_errors=True)


def test_many_cold_builders_publish_one_copy(tmp_path):
    """More builders than cores race one cold directory: every caller
    gets the published path, which holds exactly one builder's complete
    output, and no temp copy survives."""
    sf = str(tmp_path / "fixture")
    os.makedirs(sf)
    out = derived_path(sf, "part")
    gen = os.path.dirname(out)
    n = 16
    barrier = threading.Barrier(n, timeout=60)

    def build(tmp: str) -> None:
        os.makedirs(tmp)
        for i in range(4):
            Path(f"{tmp}/part-{i}").write_text(str(threading.get_ident()))

    def race() -> str:
        barrier.wait()
        return derived(sf, "part", build)

    prev = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(n) as pool:
            futures = [pool.submit(race) for _ in range(n)]
            got = [f.result(timeout=120) for f in futures]
    finally:
        sys.setswitchinterval(prev)
    try:
        assert got == [out] * n
        assert len(os.listdir(out)) == 4
        assert len({p.read_text() for p in Path(out).iterdir()}) == 1
        assert os.listdir(gen) == ["part"]
    finally:
        shutil.rmtree(gen, ignore_errors=True)


def test_concurrent_cold_builds_publish_once(spark, tmp_path):
    """Two threads cold-building the same derived directories on one
    session both return the one published copy: no inflated table (two
    overwrites interleaving into one directory), no FileNotFound from a
    directory deleted under a reader, no temp dir left behind."""
    from ocs_duckdb_runner_spark.runner import split_objects
    from ocs_duckdb_runner_spark.sources.connectors import zorder_dir

    sf = str(tmp_path / "sf")
    shutil.copytree(SF_DIR, sf)
    gen = os.path.dirname(derived_path(sf, "zorder"))
    barrier = threading.Barrier(2, timeout=120)

    def cold_build() -> tuple[str, str]:
        barrier.wait()
        zdir = zorder_dir(spark, sf)
        barrier.wait()
        return zdir, split_objects(spark, sf, 8)

    try:
        with ThreadPoolExecutor(2) as pool:
            futures = [pool.submit(cold_build) for _ in range(2)]
            got = [f.result(timeout=600) for f in futures]
        assert got[0] == got[1]
        zdir, objdir = got[0]
        n_src = load_table(spark, sf, "lineitem").count()
        assert spark.read.parquet(zdir).count() == n_src
        assert spark.read.parquet(objdir).count() == n_src
        assert len(glob.glob(f"{objdir}/*.parquet")) == 8
        assert glob.glob(f"{gen}/*.tmp-*") == []

        def scan(sf_dir: str) -> list:
            return sorted(get_query("sink_zorder_scan").fn(spark, sf_dir).collect())

        assert scan(sf) == scan(SF_DIR)
    finally:
        shutil.rmtree(gen, ignore_errors=True)


_PKG = Path(__file__).resolve().parent.parent / "ocs_duckdb_runner_spark"
_GUARDED = {"fixture_fingerprint", "vacuum_cache_siblings"}
# the helper itself, and the MV's versioned state, which is written by a
# stream epoch rather than derived from the fixtures
_PROBE_OWNERS = {
    ("registry.py", "fixture_fingerprint"),
    ("registry.py", "vacuum_cache_siblings"),
    ("registry.py", "derived_path"),
    ("registry.py", "publish_once"),
    ("registry.py", "derived"),
    ("streaming/stream_queries.py", "_mv_latest_version"),
}


def _probes(rel: str, node: ast.AST):
    """(line, what) for each use of a guarded helper and each ``_SUCCESS``
    string outside the owners (docstrings and comments do not count)."""
    if isinstance(node, ast.FunctionDef) and (rel, node.name) in _PROBE_OWNERS:
        return
    if isinstance(node, ast.Expr) and isinstance(node.value, ast.Constant):
        return
    name = getattr(node, "id", None) or getattr(node, "attr", None)
    if isinstance(node, ast.alias):
        name = node.name
    if name in _GUARDED:
        yield node.lineno, name
    if isinstance(node, ast.Constant) and "_SUCCESS" in str(node.value):
        yield node.lineno, "_SUCCESS"
    for child in ast.iter_child_nodes(node):
        yield from _probes(rel, child)


def test_derived_directories_are_probed_only_by_the_helper():
    """A fixture-derived directory is complete iff it exists, because
    registry.derived publishes it with one rename: no per-site marker,
    key or vacuum may come back."""
    offenders = [
        f"{rel}:{n}: {what}"
        for path in sorted(_PKG.rglob("*.py"))
        if (rel := path.relative_to(_PKG).as_posix())
        for n, what in _probes(rel, ast.parse(path.read_text()))
    ]
    assert offenders == [], "hand-rolled derived-dir probe; use registry.derived"
