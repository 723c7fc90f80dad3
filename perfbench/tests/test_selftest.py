"""Self-tests of the benchmark's arithmetic: the tail-percentile rule,
span self times, time-window attribution of Spark jobs to ops, and the
answer check. No Spark session needed.

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import run  # noqa: E402
from spans import (  # noqa: E402
    Tracer,
    attribute_jobs,
    engine_counts,
    job_spans,
    percentile,
    rest_time,
    self_times,
)


def _span(name, start, end, parent=None, op="op-1"):
    return {"name": name, "op": op, "start": start, "end": end, "parent": parent}


def _stamp(t: float) -> str:
    from datetime import datetime, timezone

    d = datetime.fromtimestamp(t, tz=timezone.utc)
    return d.strftime("%Y-%m-%dT%H:%M:%S.") + f"{d.microsecond // 1000:03d}GMT"


# --- percentile / sample-count rule -------------------------------------

def test_p90_refuses_fewer_than_100_samples():
    with pytest.raises(ValueError, match=r"needs >= 100 samples, have 99"):
        percentile([float(i) for i in range(99)], 0.9)


def test_p90_with_100_samples_is_nearest_rank():
    xs = [float(i) for i in range(1, 101)]
    assert percentile(xs, 0.9) == 90.0
    assert percentile(list(reversed(xs)), 0.9) == 90.0


def test_rule_scales_with_the_percentile():
    percentile([1.0] * 1000, 0.99)
    with pytest.raises(ValueError):
        percentile([1.0] * 999, 0.99)


# --- span self times ------------------------------------------------------

def test_self_times_split_a_nested_tree():
    spans = [
        _span("bench.op", 0.0, 10.0),
        _span("llm.construct", 1.0, 4.0, parent=0),
        _span("llm.collect", 4.0, 9.0, parent=0),
        _span("engine.job", 2.0, 3.0, parent=1),
        _span("engine.job", 5.0, 8.0, parent=2),
    ]
    st = self_times(spans)
    assert st == pytest.approx({"bench": 2.0, "llm": 4.0, "engine": 4.0})
    assert sum(st.values()) == pytest.approx(10.0)


def test_concurrent_children_count_once():
    # a fan-out: three jobs overlapping inside one runner call
    spans = [
        _span("bench.op", 0.0, 10.0),
        _span("runner.run", 1.0, 9.0, parent=0),
        _span("engine.job", 2.0, 5.0, parent=1),
        _span("engine.job", 3.0, 6.0, parent=1),
        _span("engine.job", 7.0, 8.0, parent=1),
    ]
    st = self_times(spans)
    assert st["engine"] == pytest.approx(5.0)  # [2,6] and [7,8]
    assert st["runner"] == pytest.approx(3.0)
    assert st["bench"] == pytest.approx(2.0)


def test_children_are_clipped_to_their_parent():
    # a job stamp that overhangs its caller by a clock tick
    spans = [
        _span("bench.op", 0.0, 4.0),
        _span("runner.run", 1.0, 3.0, parent=0),
        _span("engine.job", 2.0, 3.5, parent=1),
    ]
    st = self_times(spans)
    assert st == pytest.approx({"bench": 2.0, "runner": 1.0, "engine": 1.0})


def test_tracer_records_parentage_and_can_be_switched_off():
    tr = Tracer(True)
    with tr.span("bench.op", "op-0"):
        with tr.span("llm.collect", "op-0"):
            pass
    tr.enabled = False
    with tr.span("bench.op", "op-1"):
        pass
    assert [s["name"] for s in tr.spans] == ["bench.op", "llm.collect"]
    assert tr.spans[1]["parent"] == 0 and tr.spans[0]["parent"] is None
    assert all(s["end"] >= s["start"] for s in tr.spans)


# --- attribution of REST jobs to ops --------------------------------------

def test_rest_time_parses_spark_stamps():
    assert rest_time("1970-01-01T00:00:01.250GMT") == pytest.approx(1.25)


def test_jobs_attributed_by_time_window():
    t = 1_700_000_000.0
    windows = {"op-0": (t, t + 1.0), "op-1": (t + 1.5, t + 2.5)}
    jobs = [
        {"jobId": 1, "submissionTime": _stamp(t - 2.0)},   # a warm-up
        {"jobId": 2, "submissionTime": _stamp(t + 0.1)},
        {"jobId": 3, "submissionTime": _stamp(t + 0.9)},
        {"jobId": 4, "submissionTime": _stamp(t + 1.2)},   # between ops
        {"jobId": 5, "submissionTime": _stamp(t + 2.0)},
        {"jobId": 6},                                      # never submitted
    ]
    got = attribute_jobs(jobs, windows)
    assert [j["jobId"] for j in got["op-0"]] == [2, 3]
    assert [j["jobId"] for j in got["op-1"]] == [5]


def test_job_spans_hang_under_the_innermost_caller():
    t = 1_700_000_000.0
    tree = [
        (7, _span("bench.op", t, t + 3.0)),
        (8, _span("llm.construct", t + 0.1, t + 1.0, parent=7)),
        (9, _span("llm.collect", t + 1.0, t + 2.9, parent=7)),
    ]
    jobs = [
        {"submissionTime": _stamp(t + 0.5), "completionTime": _stamp(t + 0.8)},
        {"submissionTime": _stamp(t + 1.5), "completionTime": _stamp(t + 2.5)},
        {"submissionTime": _stamp(t + 2.0)},  # still running: no span
    ]
    got = job_spans(jobs, "op-0", tree)
    assert [s["parent"] for s in got] == [8, 9]


def test_engine_counts_count_each_stage_once():
    stages = {
        1: {"numCompleteTasks": 4, "executorRunTime": 400, "inputBytes": 10,
            "tasks": {str(i): {"taskMetrics": {"executorRunTime": d}}
                      for i, d in enumerate([100, 100, 100, 300])}},
        2: {"numCompleteTasks": 1, "executorRunTime": 50, "shuffleWriteBytes": 7},
    }
    jobs = [{"stageIds": [1, 2]}, {"stageIds": [2, 3]}]  # 3 was skipped
    c = engine_counts(jobs, stages)
    assert (c["jobs"], c["stages"], c["tasks"]) == (2, 2, 5)
    assert c["task_run_s"] == pytest.approx(0.45)
    assert c["input_bytes"] == 10 and c["shuffle_write_bytes"] == 7
    assert c["task_skew"] == pytest.approx(3.0)


# --- answer check ---------------------------------------------------------

def _record(n: int) -> dict:
    return {
        "ops": [{"id": f"op-{i}", "t0": 10.0 + i, "t1": 10.5 + i}
                for i in range(n)],
        "peak_rss_mb": 100.0,
    }


def test_planted_wrong_expectation_lowers_ok_frac():
    answer = {"rows": 16, "hash": "123"}
    answers, errors = [dict(answer) for _ in range(4)], [None] * 4
    good = run.score(answer, answers, errors)
    planted = run.score({"rows": 16, "hash": "124"},
                        answers, errors)
    assert run.end_to_end(_record(4), 0.0, good)["ok_frac"] == 1.0
    e2e = run.end_to_end(_record(4), 0.0, planted)
    assert e2e["ok_frac"] == 0.0 and e2e["ops_per_s"] == 0.0


def test_exception_and_wrong_hits_count_as_failures():
    want = {"part-0.parquet": 5, "part-1.parquet": 7}
    answers = [dict(want), {"part-0.parquet": 5, "part-1.parquet": 6}, None]
    errors = [None, None, "RuntimeError: boom"]
    ok = run.score(want, answers, errors)
    assert ok == [True, False, False]
    e2e = run.end_to_end(_record(3), 9.0, ok)
    assert e2e["ok_frac"] == pytest.approx(1 / 3)
    assert e2e["setup_s"] == pytest.approx(1.0)
    assert e2e["ops_per_s"] == pytest.approx(1 / 2.5)


def test_metric_names_and_units_match_benchmark_json():
    import json

    bench = json.loads((run.prep.ROOT / "BENCHMARK.json").read_text())
    for section, units in (("end_to_end", run.END_TO_END_UNITS),
                           ("per_layer", run.PER_LAYER_UNITS)):
        declared = {m["name"]: m["unit"] for m in bench[section]}
        assert declared == units, section
    assert {w["name"] for w in bench["workloads"]} <= set(run.WORKLOADS)
