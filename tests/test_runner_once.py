"""The fan-out does each step once: one frame per source per run(), one
REST read after the listener-bus barrier, and that read is already final."""

from __future__ import annotations

import random
import time
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


def test_fanout_report_equals_settled_read(spark):
    files = _sources(spark)
    real = runner._rest_group_metrics
    with mock.patch.object(runner, "_rest_group_metrics", wraps=real) as read:
        rep = FanoutRunner(spark, threads=4).run(files)
    (call,) = read.call_args_list  # one read, no poll
    token = call.args[1]
    time.sleep(0.5)
    settled = real(spark, token)
    random.Random(1).shuffle(files)  # run()'s seed-1 source order
    assert rep["per_file_bytes"] == {
        p: settled[f"{token}:{i}"][0] for i, p in enumerate(files)
    }
    assert rep["read_bytes"] == sum(b for b, _, _ in settled.values())


def test_undrained_bus_reports_null_and_names_cause(capsys):
    """A barrier that times out must give null metrics, never the partial
    read a still-filling store would return."""
    spark = mock.MagicMock()
    bus = spark.sparkContext._jsc.sc.return_value.listenerBus.return_value
    bus.waitUntilEmpty.side_effect = RuntimeError("queue not empty after 10000 ms")
    with mock.patch.object(runner, "_rest_group_metrics") as read:
        assert runner._settled_group_metrics(spark, "tok") is None
    read.assert_not_called()
    assert "queue not empty after 10000 ms" in capsys.readouterr().err
