"""The fan-out does each step once: one frame per source per run(), one
take from the I/O listener after the listener-bus barrier, and that take
is already final."""

from __future__ import annotations

import json
import random
import time
import urllib.request
from unittest import mock

from ocs_duckdb_runner_spark import runner
from ocs_duckdb_runner_spark.runner import FanoutRunner
from tests.test_runner import _sources


def test_fanout_builds_each_frame_once(spark):
    files = [*_sources(spark), "/nonexistent/object.parquet"]
    real = runner.flagship_on_file
    with mock.patch.object(runner, "flagship_on_file", wraps=real) as built:
        rep = FanoutRunner(spark, threads=2).run(files)
    assert rep["failures"] == 1  # the bad source still fails exactly once
    assert sorted(c.args[1] for c in built.call_args_list) == sorted(files)


def _rest_group_metrics(spark, groups: set[str]) -> dict[str, tuple[int, int, int]]:
    """The monitoring REST API's view of the given job groups: group →
    (inputBytes, inputRecords, scanTasks) summed over each job's completed
    stages, tasks counted only where the stage read bytes."""
    sc = spark.sparkContext
    base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
    with urllib.request.urlopen(f"{base}/stages?status=complete", timeout=5) as r:
        stages = json.load(r)
    with urllib.request.urlopen(f"{base}/jobs", timeout=5) as r:
        jobs = json.load(r)
    by_stage = {
        s["stageId"]: (
            s["inputBytes"],
            s["inputRecords"],
            s["numCompleteTasks"] if s["inputBytes"] > 0 else 0,
        )
        for s in stages
    }
    out: dict[str, tuple[int, int, int]] = {}
    for j in jobs:
        if j.get("jobGroup") not in groups:
            continue
        b, rec, t = out.get(j["jobGroup"], (0, 0, 0))
        for sid in j["stageIds"]:
            sb, sr, st = by_stage.get(sid, (0, 0, 0))
            b, rec, t = b + sb, rec + sr, t + st
        out[j["jobGroup"]] = (b, rec, t)
    return out


def test_fanout_report_equals_settled_read(spark):
    """Oracle cross-check: the listener's numbers equal the REST API's
    record of the same job groups, read once the store has settled."""
    files = _sources(spark)
    real = runner._settled_group_metrics
    with mock.patch.object(runner, "_settled_group_metrics", wraps=real) as read:
        rep = FanoutRunner(spark, threads=4).run(files)
    (call,) = read.call_args_list  # one read, no poll
    token = call.args[2]
    time.sleep(0.5)
    settled = _rest_group_metrics(spark, {f"{token}:{i}" for i in range(len(files))})
    random.Random(1).shuffle(files)  # run()'s seed-1 source order
    assert rep["per_file_bytes"] == {
        p: settled[f"{token}:{i}"][0] for i, p in enumerate(files)
    }
    assert all(b > 0 for b in rep["per_file_bytes"].values())
    assert rep["read_bytes"] == sum(b for b, _, _ in settled.values())
    assert rep["read_records"] == sum(r for _, r, _ in settled.values())


def test_undrained_bus_reports_null_and_names_cause(capsys):
    """A barrier that times out must give null metrics, never the partial
    sums a still-filling listener holds; the take still runs, so the
    listener forgets the run."""
    spark = mock.MagicMock()
    bus = spark.sparkContext._jsc.sc.return_value.listenerBus.return_value
    bus.waitUntilEmpty.side_effect = RuntimeError("queue not empty after 10000 ms")
    listener = mock.MagicMock()
    listener.take.return_value = "0 100 10 1\n"
    assert runner._settled_group_metrics(spark, listener, "tok") is None
    listener.take.assert_called_once_with("tok")
    assert "queue not empty after 10000 ms" in capsys.readouterr().err
