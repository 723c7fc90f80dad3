"""The fan-out's I/O accounting lives in an in-JVM SparkListener: it
counts exactly this run's job groups, needs no UI or REST endpoint, and
forgets each run once its sums are taken."""

from __future__ import annotations

import threading
import urllib.request
from unittest import mock

import pytest

from ocs_duckdb_runner_spark import runner
from ocs_duckdb_runner_spark.runner import FanoutRunner
from tests.test_runner import _sources


def test_prefix_related_run_tokens_are_counted_apart(spark):
    """Run token "…-1000001" is a prefix of the groups of run
    "…-10000010" ("…-10000010:3"), as "…-1" is of "…-10": each run must
    count its own groups only, even when the shorter token is harvested
    after the longer one's run has finished. (Sequence numbers this high
    never come from the real counter, so no later run reuses them.)"""
    short, long = 1_000_001, 10_000_010
    assert str(long).startswith(str(short))
    files = _sources(spark)
    solo = FanoutRunner(spark, threads=2).run(files)
    real = runner._settled_group_metrics
    long_done = threading.Event()
    mine = threading.local()
    reps: dict[int, dict] = {}

    def _settle(s, listener, token):
        mine.seq = int(token.rsplit("-", 1)[1])
        if mine.seq == short:
            assert long_done.wait(timeout=120)
        return real(s, listener, token)

    def _run():
        try:
            rep = FanoutRunner(spark, threads=2).run(files)
            reps[mine.seq] = rep
        finally:
            if getattr(mine, "seq", None) == long:
                long_done.set()

    with mock.patch.object(FanoutRunner, "_RUN_SEQ", iter([short, long])), \
            mock.patch.object(runner, "_settled_group_metrics", side_effect=_settle):
        workers = [threading.Thread(target=_run) for _ in range(2)]
        for w in workers:
            w.start()
        for w in workers:
            w.join(timeout=300)
    assert not any(w.is_alive() for w in workers)
    assert sorted(reps) == [short, long]
    for rep in reps.values():
        assert rep["failures"] == 0
        assert rep["read_records"] == solo["read_records"] > 0
        assert rep["read_bytes"] == solo["read_bytes"] > 0
        assert rep["per_file_bytes"] == solo["per_file_bytes"]


def test_harvest_needs_no_ui(spark):
    files = _sources(spark)
    want = FanoutRunner(spark, threads=4).run(files)
    with mock.patch.object(
        urllib.request, "urlopen", side_effect=OSError("no REST endpoint")
    ):
        rep = FanoutRunner(spark, threads=4).run(files)
    assert rep["per_file_bytes"] is not None
    assert rep["per_file_bytes"] == want["per_file_bytes"]
    assert all(b > 0 for b in rep["per_file_bytes"].values())


class _Abort(BaseException):
    """Escapes run()'s per-task isolation, as an interrupt would."""


def _planted_task_failure(held: list, exc: BaseException):
    """Patch _run_one so object 0's job runs, then its task raises exc."""
    real = FanoutRunner._run_one

    def _run_one(self, token, idx, frame):
        hits = real(self, token, idx, frame)
        if idx == 0:
            held.append(runner._io_listener(self.spark).heldState())
            raise exc
        return hits

    return mock.patch.object(FanoutRunner, "_run_one", _run_one)


@pytest.mark.parametrize(
    "case", ["clean", "missing_source", "task_raises", "run_raises"]
)
def test_listener_forgets_every_run(spark, case):
    files = _sources(spark)
    listener = runner._io_listener(spark)
    held: list = []
    if case == "missing_source":
        missing = "/nonexistent/object.parquet"
        rep = FanoutRunner(spark, threads=2).run([*files, missing])
        assert rep["failures"] == 1
    elif case == "task_raises":
        with _planted_task_failure(held, RuntimeError("planted")):
            rep = FanoutRunner(spark, threads=2).run(files)
        assert rep["failures"] == 1
        assert held and held[0] > 0  # the run's stages were being tracked
    elif case == "run_raises":
        with _planted_task_failure(held, _Abort()), pytest.raises(_Abort):
            FanoutRunner(spark, threads=2).run(files)
        assert held and held[0] > 0
    else:
        rep = FanoutRunner(spark, threads=2).run(files)
        assert rep["failures"] == 0
    assert listener.heldState() == 0
