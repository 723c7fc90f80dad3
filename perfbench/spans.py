"""Spans, percentiles and the attribution of Spark's own job records to
ops. Pure functions over plain data, so the self-tests can pin the
arithmetic without a Spark session.

A span is a dict ``{"name", "op", "start", "end", "parent"}``: times are
wall-clock seconds (``time.time()``, the clock Spark stamps jobs with),
``op`` is the op id every span of one op shares, and ``parent`` is the
index of the enclosing span in the tracer's list, or None for a root.
"""

from __future__ import annotations

import math
import time
from contextlib import contextmanager
from datetime import datetime, timezone

# a tail percentile is reported only with this many samples beyond it
MIN_BEYOND = 10


def _rank(n: int, q: float) -> int:
    """1-based nearest rank of the q-quantile among n samples."""
    return max(1, math.ceil(round(q * n, 9)))


def percentile(samples: list[float], q: float) -> float:
    """Nearest-rank q-quantile, refused unless at least MIN_BEYOND samples
    lie beyond it: a tail taken from fewer is close to the maximum and
    flips from run to run. p90 therefore needs 100 samples."""
    n = len(samples)
    if n - _rank(n, q) < MIN_BEYOND:
        need = next(m for m in range(1, 10**7) if m - _rank(m, q) >= MIN_BEYOND)
        raise ValueError(f"p{q * 100:g} needs >= {need} samples, have {n}")
    return sorted(samples)[_rank(n, q) - 1]


class Tracer:
    """Spans kept in memory and handed over once, at the end of the run.
    A disabled tracer records nothing and costs one branch per span."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(
            {"name": name, "op": op, "start": time.time(), "end": None,
             "parent": parent}
        )
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx]["end"] = time.time()


def layer_of(name: str) -> str:
    """Span names are ``<layer>.<call>``: the layer is the prefix."""
    return name.split(".", 1)[0]


def self_times(spans: list[dict]) -> dict[str, float]:
    """Self time per layer: the time during which a span of that layer is
    the innermost one running. For a lone child this is the guide's rule,
    the parent's duration minus what its children cover; concurrent
    children of one layer (jobs of a fan-out) count their union once.
    Children are clipped to their parent, so the self times of one root's
    tree add up exactly to the root's duration."""
    depth: list[int] = []
    lo: list[float] = []
    hi: list[float] = []
    for s in spans:  # parents precede their children in the list
        p = s["parent"]
        depth.append(0 if p is None else depth[p] + 1)
        lo.append(s["start"] if p is None else max(s["start"], lo[p]))
        hi.append(s["end"] if p is None else max(lo[-1], min(s["end"], hi[p])))
    cuts = sorted(set(lo) | set(hi))
    out: dict[str, float] = {}
    for a, b in zip(cuts, cuts[1:]):
        live = [i for i in range(len(spans)) if lo[i] <= a and b <= hi[i]]
        if live:
            inner = max(live, key=lambda i: depth[i])
            layer = layer_of(spans[inner]["name"])
            out[layer] = out.get(layer, 0.0) + (b - a)
    return out


def rest_time(stamp: str) -> float:
    """Spark REST timestamp ('2026-10-17T12:20:38.123GMT') → epoch secs."""
    return (
        datetime.strptime(stamp.removesuffix("GMT"), "%Y-%m-%dT%H:%M:%S.%f")
        .replace(tzinfo=timezone.utc)
        .timestamp()
    )


def attribute_jobs(
    jobs: list[dict], windows: dict[str, tuple[float, float]]
) -> dict[str, list[dict]]:
    """Jobs of each op, by time window. With one client, ops never overlap,
    so a job belongs to the op whose [start, end] holds its submission.
    REST stamps have millisecond resolution, so windows are widened by a
    millisecond on each side; jobs outside every window (warm-ups, the
    harvest itself) are dropped."""
    out: dict[str, list[dict]] = {op: [] for op in windows}
    for j in jobs:
        if "submissionTime" not in j:
            continue
        t = rest_time(j["submissionTime"])
        for op, (lo, hi) in windows.items():
            if lo - 1e-3 <= t <= hi + 1e-3:
                out[op].append(j)
                break
    return out


def job_spans(
    jobs: list[dict], op: str, parents: list[tuple[int, dict]]
) -> list[dict]:
    """Engine spans from Spark's job records: one per job, parented to the
    innermost given span that holds its submission."""
    out = []
    for j in jobs:
        if "completionTime" not in j:
            continue
        a, b = rest_time(j["submissionTime"]), rest_time(j["completionTime"])
        inner = [
            (i, s) for i, s in parents
            if s["start"] - 1e-3 <= a <= s["end"] + 1e-3
        ]
        if not inner:
            continue
        i, s = max(inner, key=lambda p: p[1]["start"])
        out.append({"name": "engine.job", "op": op, "parent": i,
                    "start": a, "end": max(a, b)})
    return out


def engine_counts(jobs: list[dict], stages: dict[int, dict]) -> dict[str, float]:
    """Per-op engine totals from the REST job and stage records. Each
    stage counts once, even when two jobs list it; skipped stages are not
    in ``stages`` (which holds completed stages only)."""
    sids = {sid for j in jobs for sid in j.get("stageIds", []) if sid in stages}
    st = [stages[s] for s in sids]
    skew = 1.0
    for s in st:
        durs = sorted(
            t["taskMetrics"]["executorRunTime"]
            for t in s.get("tasks", {}).values() if t.get("taskMetrics")
        )
        if len(durs) >= 2:
            med = durs[(len(durs) - 1) // 2]
            skew = max(skew, durs[-1] / max(med, 1))
    return {
        "jobs": len(jobs),
        "stages": len(st),
        "tasks": sum(s.get("numCompleteTasks", 0) for s in st),
        "task_run_s": sum(s.get("executorRunTime", 0) for s in st) / 1e3,
        "task_cpu_s": sum(s.get("executorCpuTime", 0) for s in st) / 1e9,
        "gc_s": sum(s.get("jvmGcTime", 0) for s in st) / 1e3,
        "shuffle_write_bytes": sum(s.get("shuffleWriteBytes", 0) for s in st),
        "spill_bytes": sum(
            s.get("memoryBytesSpilled", 0) + s.get("diskBytesSpilled", 0)
            for s in st
        ),
        "input_bytes": sum(s.get("inputBytes", 0) for s in st),
        "task_skew": skew,
    }
