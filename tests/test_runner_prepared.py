"""The fan-out's prepared frames: each object version is planned once and
its one cached DataFrame is executed on every run, counted in the JVM.
Re-executing it must still scan the object every time, so the I/O report
stays a measurement and not a result cache."""

from __future__ import annotations

import ast
import sys
import threading
from unittest import mock

from pyspark.sql.classic.dataframe import DataFrame

from ocs_duckdb_runner_spark import runner
from ocs_duckdb_runner_spark.runner import FanoutRunner
from tests.test_runner import _sources


def _recording_build(built: list):
    """Patch flagship_on_file to append every frame it returns to built."""
    real_build = runner.flagship_on_file

    def _build(s, p):
        df = real_build(s, p)
        built.append(df)  # list.append is atomic: the wave calls this on many threads
        return df

    return mock.patch.object(runner, "flagship_on_file", side_effect=_build)


def _traced_run(spark, files, threads=4):
    """One run, plus the frames it executed and its stages per source."""
    real = runner._settled_group_metrics
    built: list = []
    with _recording_build(built), \
            mock.patch.object(runner, "_settled_group_metrics", wraps=real) as read:
        rep = FanoutRunner(spark, threads=threads).run(files)
    token = read.call_args.args[2]
    tracker = spark.sparkContext.statusTracker()
    stages = [
        sum(
            len(tracker.getJobInfo(j).stageIds)
            for j in tracker.getJobIdsForGroup(f"{token}:{i}")
        )
        for i in range(len(files))
    ]
    return rep, built, stages


def test_repeated_run_rescans_every_object_with_the_same_frames(spark):
    files = _sources(spark)
    first, frames1, _ = _traced_run(spark, files)
    second, frames2, stages = _traced_run(spark, files)
    # the second run executed the very frames the first one planned ...
    assert {id(f) for f in frames2} == {id(f) for f in frames1}
    assert len(frames2) == len(files)
    # ... and still read every object, as much as the first time, in one
    # shuffle-free stage each: no query stage output was reused
    assert set(second["per_file_bytes"]) == set(files)
    assert all(b > 0 for b in second["per_file_bytes"].values())
    assert second["per_file_bytes"] == first["per_file_bytes"]
    assert stages == [1] * len(files)
    assert second["per_file_hits"] == first["per_file_hits"]


def test_silent_run_ships_no_rows_to_python(spark):
    files = _sources(spark)
    want = FanoutRunner(spark, threads=4).run(files)
    with mock.patch.object(
        DataFrame, "collect", side_effect=AssertionError("rows sent to Python")
    ):
        rep = FanoutRunner(spark, threads=4).run(files)
    assert rep["failures"] == 0
    assert rep["hits"] == want["hits"] > 0
    assert rep["per_file_hits"] == want["per_file_hits"]


def test_concurrent_runs_share_frames_and_match_serial(spark):
    files = _sources(spark)
    serial = FanoutRunner(spark, threads=2).run(files)
    built: list = []
    reps: list = [None, None]

    def _run(k):
        reps[k] = FanoutRunner(spark, threads=4).run(files)

    # two runs of four pool threads each, more than the cores, with short
    # interpreter switches so the runs interleave as much as they can
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-4)
    try:
        with _recording_build(built):
            workers = [threading.Thread(target=_run, args=(k,)) for k in (0, 1)]
            for w in workers:
                w.start()
            for w in workers:
                w.join(timeout=300)
    finally:
        sys.setswitchinterval(interval)
    assert not any(w.is_alive() for w in workers)
    # both runs executed the same cached Dataset per object, at once
    assert len(built) == 2 * len(files)
    assert len({id(f) for f in built}) == len(files)
    for rep in reps:
        assert rep["failures"] == 0
        assert rep["per_file_hits"] == serial["per_file_hits"]


def test_print_rows_prints_each_hit_as_one_row(spark, capsys):
    files = _sources(spark)
    silent = FanoutRunner(spark, threads=4).run(files)
    capsys.readouterr()
    rep = FanoutRunner(spark, threads=4, print_rows=True).run(files)
    lines = capsys.readouterr().out.splitlines()
    assert rep["failures"] == 0
    assert len(lines) == rep["hits"] > 0
    rows = [ast.literal_eval(line) for line in lines]
    assert all(isinstance(r, tuple) and len(r) == 5 for r in rows)
    assert rep["per_file_hits"] == silent["per_file_hits"]
