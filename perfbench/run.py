"""The benchmark's command: one workload, one run, one JSON line.

    python3 perfbench/run.py --workload fanout_s3a --seed 1 --seconds 25 --trace 0

Builds the base inputs on first use in a checkout (perfbench/prep.py),
makes the run's input from the seed, computes the expected answers with
DuckDB, then starts perfbench/worker.py as a fresh process and scores
what it returns. ``setup_s`` runs from that process's start to its first
timed op, so input building and the DuckDB expectations sit outside it.

With ``--trace 0`` the last line carries the end-to-end metrics; with
``--trace 1`` the per-layer metrics, read from spans taken around the
calls into each layer and from Spark's own job and stage records. A
summary table (every metric with its unit, and the sample count) goes to
standard output before the last line.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import prep  # noqa: E402
from spans import (  # noqa: E402
    attribute_jobs,
    engine_counts,
    job_spans,
    percentile,
    self_times,
)

WORKLOADS = ("fanout_s3a", "corpus_pipeline", "arrow_dedup")
# a run may take 180 s, or 900 s when it builds the base inputs
BUILD_TIMEOUT_S = 600
WORKER_TIMEOUT_S = 165
# Spark task threads (local[N]) per workload. The fan-out runs on all four
# cores, the runner's own deployment shape. The Arrow dedup op runs on two:
# it is barely slower there (1.07 s against 1.00 s an op), and with two
# busy-loop processes on the same 4-vCPU VM it slowed by 17% instead of
# 52%, because each task also keeps a Python worker busy and at local[4]
# the tasks' JVM threads, their workers and the driver outnumber the cores.
CORES = {"fanout_s3a": 4, "corpus_pipeline": 4, "arrow_dedup": 2}
BUILD_CORES = 4
DRIVER_MEM = "2g"

END_TO_END_UNITS = {
    "setup_s": "s",
    "op_p50_s": "s",
    "ops_per_s": "1/s",
    "ok_frac": "frac",
    "peak_rss_mb": "MB",
}
PER_LAYER_UNITS = {
    "session.build_s": "s",
    "session.warmup_s": "s",
    "runner.query_wall_s": "s",
    "runner.harvest_s": "s",
    "runner.read_bytes_per_op": "B",
    "runner.read_ops_per_op": "count",
    "runner.hits_per_op": "count",
    "sources.head_requests_per_op": "count",
    "sources.ranged_gets_per_op": "count",
    "sources.bytes_served_per_op": "B",
    "llm.construct_s": "s",
    "llm.collect_s": "s",
    "llm.plan_ms": "ms",
    "llm.python_bytes_sent_per_op": "B",
    "engine.jobs_per_op": "count",
    "engine.stages_per_op": "count",
    "engine.tasks_per_op": "count",
    "engine.task_run_s_per_op": "s",
    "engine.task_cpu_s_per_op": "s",
    "engine.core_busy_frac": "frac",
    "engine.gc_s_per_op": "s",
    "engine.task_skew": "ratio",
    "engine.shuffle_write_bytes_per_op": "B",
    "engine.spill_bytes_per_op": "B",
    "engine.input_bytes_per_op": "B",
    "bench.self_s": "s",
    "runner.self_s": "s",
    "llm.self_s": "s",
    "engine.self_s": "s",
    "trace.unattributed_s": "s",
    "trace.op_mean_s": "s",
    "trace.overhead_s": "s",
}


def child_env(work: Path, cores: int) -> dict[str, str]:
    """Environment of every process the benchmark starts: a fixed core
    count and heap, and every scratch directory inside the checkout."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ)
    env.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": str(tmp),
        "TMPDIR": str(tmp),
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYTHONDONTWRITEBYTECODE": "1",
    })
    return env


def _group_gone(proc: subprocess.Popen, wait_s: float) -> bool:
    """Poll until no process of the child's group is left (reaping the
    child itself, whose zombie would keep the group alive)."""
    end = time.monotonic() + wait_s
    while True:
        proc.poll()
        try:
            os.killpg(proc.pid, 0)
        except ProcessLookupError:
            return True
        if time.monotonic() > end:
            return False
        time.sleep(0.05)


def _reap(proc: subprocess.Popen, timeout: float) -> int:
    """Wait for a child started in its own process group, then stop
    whatever is left of the group (the JVM, Python workers, the object
    server) and wait until the group is gone. -1 if the child timed out."""
    try:
        code = proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        code = -1
    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(proc.pid, sig)
        except ProcessLookupError:
            break
        if _group_gone(proc, 10.0):
            break
    proc.wait()
    return code


def _run_child(argv: list[str], env: dict, log: Path, timeout: float) -> tuple[int, float]:
    """Start a child in its own process group; return (exit code, the
    monotonic time it was started at)."""
    with open(log, "w") as fh:
        t = time.monotonic()
        proc = subprocess.Popen(
            argv, env=env, cwd=log.parent, stdout=fh, stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        return _reap(proc, timeout), t


def score(expect, answers: list, errors: list) -> list[bool]:
    """Per-op verdict: no exception, and the answer equals the DuckDB
    expectation (per-object hits for fan-out; row count and canonical
    hash otherwise)."""
    return [err is None and ans == expect for ans, err in zip(answers, errors)]


def end_to_end(rec: dict, t_spawn: float, ok: list[bool]) -> dict[str, float]:
    ops = rec["ops"]
    lat = [o["t1"] - o["t0"] for o in ops]
    wall = ops[-1]["t1"] - ops[0]["t0"]
    return {
        "setup_s": ops[0]["t0"] - t_spawn,
        "op_p50_s": statistics.median(lat),
        "ops_per_s": sum(ok) / wall,
        "ok_frac": sum(ok) / len(ok),
        "peak_rss_mb": rec["peak_rss_mb"],
    }


def _mean(xs: list[float]) -> float:
    return sum(xs) / len(xs) if xs else 0.0


def per_layer(rec: dict, cores: int) -> dict[str, float]:
    """Per-layer metrics of a traced run: means over the traced ops of
    each op's counts and self times, so the self times add up to the mean
    traced op latency; what they leave over is reported as
    trace.unattributed_s. Overhead is traced minus untraced op median."""
    ops = rec["ops"]
    traced = [i for i, o in enumerate(ops) if o["traced"]]
    plain = [i for i, o in enumerate(ops) if not o["traced"]]
    lat = [ops[i]["t1"] - ops[i]["t0"] for i in traced]
    counters = [rec["counters"][i] or {} for i in traced]
    spans = rec["spans"]
    stages = {s["stageId"]: s for s in rec["rest"]["stages"]}
    windows = {ops[i]["id"]: (ops[i]["w0"], ops[i]["w1"]) for i in traced}
    by_op = attribute_jobs(rec["rest"]["jobs"], windows)

    layer_self: dict[str, list[float]] = {}
    eng: dict[str, list[float]] = {}
    busy = []
    for i in traced:
        op_id = ops[i]["id"]
        tree = [(k, s) for k, s in enumerate(spans) if s["op"] == op_id]
        engine = job_spans(by_op[op_id], op_id, tree)
        selfs = self_times(_reindex(tree, engine))
        for layer in ("bench", "runner", "llm", "engine"):
            layer_self.setdefault(layer, []).append(selfs.get(layer, 0.0))
        ec = engine_counts(by_op[op_id], stages)
        for k, v in ec.items():
            eng.setdefault(k, []).append(v)
        busy.append(ec["task_run_s"] / ((ops[i]["t1"] - ops[i]["t0"]) * cores))

    def c(key: str) -> float:
        return _mean([x.get(key) or 0 for x in counters])

    n = len(ops)
    server = rec.get("server", {})
    out = {
        "session.build_s": rec["session_build_s"],
        "session.warmup_s": rec["warmup_s"],
        "runner.query_wall_s": c("query_wall_s"),
        "runner.harvest_s": (
            _mean(lat) - c("query_wall_s") if "query_wall_s" in counters[0]
            else 0.0
        ),
        "runner.read_bytes_per_op": c("read_bytes"),
        "runner.read_ops_per_op": c("read_ops"),
        "runner.hits_per_op": c("hits"),
        "sources.head_requests_per_op": server.get("head_requests", 0) / n,
        "sources.ranged_gets_per_op": server.get("ranged_get_requests", 0) / n,
        "sources.bytes_served_per_op": server.get("bytes_served", 0) / n,
        "llm.construct_s": c("construct_s"),
        "llm.collect_s": c("collect_s"),
        "llm.plan_ms": c("plan_ms"),
        "llm.python_bytes_sent_per_op": c("python_bytes_sent"),
        "engine.jobs_per_op": _mean(eng["jobs"]),
        "engine.stages_per_op": _mean(eng["stages"]),
        "engine.tasks_per_op": _mean(eng["tasks"]),
        "engine.task_run_s_per_op": _mean(eng["task_run_s"]),
        "engine.task_cpu_s_per_op": _mean(eng["task_cpu_s"]),
        "engine.core_busy_frac": _mean(busy),
        "engine.gc_s_per_op": _mean(eng["gc_s"]),
        "engine.task_skew": statistics.median(eng["task_skew"]),
        "engine.shuffle_write_bytes_per_op": _mean(eng["shuffle_write_bytes"]),
        "engine.spill_bytes_per_op": _mean(eng["spill_bytes"]),
        "engine.input_bytes_per_op": _mean(eng["input_bytes"]),
    }
    for layer, xs in layer_self.items():
        out[f"{layer}.self_s"] = _mean(xs)
    out["trace.op_mean_s"] = _mean(lat)
    out["trace.unattributed_s"] = _mean(lat) - sum(
        _mean(xs) for xs in layer_self.values()
    )
    out["trace.overhead_s"] = statistics.median(lat) - statistics.median(
        [ops[i]["t1"] - ops[i]["t0"] for i in plain]
    )
    return out


def _reindex(tree: list[tuple[int, dict]], engine: list[dict]) -> list[dict]:
    """One op's spans as a self-contained list: parents renumbered to
    positions in that list, engine job spans appended."""
    pos = {k: j for j, (k, _) in enumerate(tree)}
    out = [dict(s, parent=pos.get(s["parent"])) for _, s in tree]
    out += [dict(s, parent=pos[s["parent"]]) for s in engine]
    return out


def _summary(workload: str, metrics: dict, units: dict, lat: list[float]) -> None:
    print(f"# {workload}: {len(lat)} timed ops, latencies (s):",
          " ".join(f"{x:.3f}" for x in lat))
    for k, v in metrics.items():
        print(f"  {k:36s} {v:14.6g} {units[k]}")
    try:
        print(f"  {'op_p90_s':36s} {percentile(lat, 0.9):14.6g} s")
    except ValueError as ex:
        print(f"  {'op_p90_s':36s} {'n/a':>14s}   ({ex})")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (prep.ROOT / "ocs_duckdb_runner_spark").is_dir():
        print("error: the program (ocs_duckdb_runner_spark/) is not in "
              "this checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, str(prep.ROOT))
    work = prep.WORK
    if not prep.base_ready():
        code, _ = _run_child([sys.executable, str(HERE / "prep.py"), "build"],
                             child_env(work, BUILD_CORES), work / "build.log",
                             BUILD_TIMEOUT_S)
        if code != 0 or not prep.base_ready():
            print(f"error: base build failed, see {work / 'build.log'}",
                  file=sys.stderr)
            return 1

    run_dir = work / "runs" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    inputs = prep.seed_inputs(args.workload, args.seed, run_dir)
    spec = dict(inputs, workload=args.workload, seconds=args.seconds,
                trace=args.trace, jar=prep.jar_path())
    spec.pop("expect")
    (run_dir / "spec.json").write_text(json.dumps(spec))
    out = run_dir / "record.json"
    code, t_spawn = _run_child(
        [sys.executable, str(HERE / "worker.py"), str(run_dir / "spec.json"),
         str(out)],
        child_env(work, CORES[args.workload]), run_dir / "worker.log",
        WORKER_TIMEOUT_S,
    )
    if code != 0 or not out.exists():
        print(f"error: worker exited {code}, see {run_dir / 'worker.log'}",
              file=sys.stderr)
        return 1
    rec = json.loads(out.read_text())
    errors = [o["err"] for o in rec["ops"]]
    ok = score(inputs["expect"], rec["answers"], errors)
    for o, good in zip(rec["ops"], ok):
        if not good:
            print(f"# {o['id']} wrong: {o['err'] or 'answer differs from DuckDB'}")
    if args.trace:
        metrics, units = per_layer(rec, CORES[args.workload]), PER_LAYER_UNITS
    else:
        metrics, units = end_to_end(rec, t_spawn, ok), END_TO_END_UNITS
    lat = [o["t1"] - o["t0"] for o in rec["ops"]]
    _summary(args.workload, metrics, units, lat)
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({
        "correct": all(ok),
        "attempted": len(ok),
        "failed": len(ok) - sum(ok),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
