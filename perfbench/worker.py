"""One workload, one fresh process: start the object server (fan-out
only), build the session, run a fixed number of warm-up ops, then a
closed loop of timed ops with one client for the given number of seconds.
Writes the raw record (op timings, answers, spans, Spark's job and stage
records, counters, peak RSS) as JSON for run.py to score.

    python3 perfbench/worker.py <spec.json> <out.json>
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
import urllib.request
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parent))
sys.path.insert(0, str(HERE))

from spans import Tracer  # noqa: E402

# warm-up ops inside setup_s: the same count in every run
WARMUPS = {"fanout_s3a": 12, "corpus_pipeline": 10, "arrow_dedup": 8}


def _get_json(url: str):
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.load(r)


def _rss_mb(pid: int | str) -> float:
    """Peak resident set (VmHWM) of a process, in MB."""
    for line in Path(f"/proc/{pid}/status").read_text().splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


class ObjectServer:
    """The loopback object store as a child process (objserver.py)."""

    def __init__(self, root: str) -> None:
        self.proc = subprocess.Popen(
            [sys.executable, str(HERE / "objserver.py"), root],
            stdout=subprocess.PIPE, text=True,
        )
        self.endpoint = f"http://127.0.0.1:{int(self.proc.stdout.readline())}"

    def stats(self) -> dict:
        return _get_json(f"{self.endpoint}/__stats__")

    def stop(self) -> None:
        self.proc.terminate()
        self.proc.wait(timeout=30)
        self.proc.stdout.close()


def _plan_ms(jdf) -> float:
    """Analysis + optimization + planning time of a frame's QueryExecution."""
    phases = jdf.queryExecution().tracker().phases()
    return float(sum(
        phases.get(k).get().durationMs()
        for k in ("analysis", "optimization", "planning")
        if phases.get(k).isDefined()
    ))


def _python_bytes_sent(jdf) -> int:
    """Sum of the 'data sent to Python workers' SQL metric over the
    executed plan, descending through adaptive and query-stage wrappers."""
    total, stack = 0, [jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        metrics = node.metrics()
        if metrics.contains("pythonDataSent"):
            total += int(metrics.apply("pythonDataSent").value())
        kids = node.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))
    return total


def make_op(workload: str, spark, spec: dict, tracer: Tracer):
    """Two callables: ``op(op_id)`` makes the public call and nothing else,
    so the op's clock covers only it; ``finish(raw, traced)`` runs after
    the clock stops and turns the call's result into (answer, counters),
    with the Py4J probes of a traced op."""
    if workload == "fanout_s3a":
        from ocs_duckdb_runner_spark.runner import FanoutRunner

        sources = [f"s3a://ocs/objects/{n}" for n in spec["objects"]]
        threads = int(os.environ["SPARK_GRAFT_CPUS"])

        def op(op_id: str):
            with tracer.span("runner.run", op_id):
                return FanoutRunner(spark, threads=threads).run(sources)

        def finish(rep: dict, traced: bool):
            if rep["failures"]:
                raise RuntimeError(f"{rep['failures']} sources failed")
            answer = {p.rsplit("/", 1)[-1]: h
                      for p, h in rep["per_file_hits"].items()}
            return answer, {
                "query_wall_s": rep["total_query_time_sec"],
                "read_bytes": rep["read_bytes"],
                "read_ops": rep["read_ops"],
                "hits": rep["hits"],
            }

        return op, finish

    from ocs_duckdb_runner_spark.registry import get_query
    from prep import QUERY_OF

    fn, sf_dir = get_query(QUERY_OF[workload]).fn, spec["sf_dir"]

    def op(op_id: str):
        with tracer.span("llm.construct", op_id):
            t0 = time.monotonic()
            df = fn(spark, sf_dir)
            t1 = time.monotonic()
        with tracer.span("llm.collect", op_id):
            rows = df.collect()
            t2 = time.monotonic()
        return df, rows, t1 - t0, t2 - t1

    def finish(raw, traced: bool):
        df, rows, construct_s, collect_s = raw
        counters = {"construct_s": construct_s, "collect_s": collect_s}
        if traced:
            counters["plan_ms"] = _plan_ms(df._jdf)
            counters["python_bytes_sent"] = _python_bytes_sent(df._jdf)
        return (df.columns, rows), counters

    return op, finish


def _answer_digest(workload: str, answer):
    """Fan-out answers are small maps; corpus answers are reduced to the
    repository's canonical (rows, hash) so the record stays small."""
    if workload == "fanout_s3a":
        return answer
    import pandas as pd
    from prep import canon_hash

    cols, rows = answer
    pdf = pd.DataFrame.from_records([tuple(r) for r in rows], columns=cols)
    return {"rows": len(pdf), "hash": str(canon_hash(pdf))}


def main(spec_path: str, out_path: str) -> int:
    spec = json.loads(Path(spec_path).read_text())
    workload, trace = spec["workload"], bool(spec["trace"])
    tracer = Tracer(trace)
    rec: dict = {"workload": workload, "ops": [], "counters": []}
    server = None
    if workload == "fanout_s3a":
        server = ObjectServer(spec["objects_root"])
    try:
        from ocs_duckdb_runner_spark.session import S3Config, build_spark

        # bench.py's session, with the heap committed and touched up front:
        # with a growing heap, peak RSS followed when G1 happened to expand
        # during the cold first op and spread 20% between identical runs
        extra = {
            "spark.scheduler.mode": "FAIR",
            "spark.ui.enabled": "true",
            "spark.driver.extraJavaOptions":
                "-XX:+AlwaysPreTouch -Xms" + os.environ["SPARK_GRAFT_DRIVER_MEM"],
        }
        s3 = None
        if server is not None:
            from ocs_duckdb_runner_spark.sources.loopback_s3 import loopback_conf

            extra.update(loopback_conf(spec["jar"]))
            s3 = S3Config(endpoint=server.endpoint, access_key_id="bench",
                          secret_access_key="bench")
        t = time.monotonic()
        with tracer.span("session.build", "setup"):
            spark = build_spark(app_name=f"perfbench-{workload}", s3=s3,
                                extra_conf=extra)
        rec["session_build_s"] = time.monotonic() - t
        try:
            op, finish = make_op(workload, spark, spec, tracer)
            jvm = spark.sparkContext._jvm
            t = time.monotonic()
            with tracer.span("session.warmup", "setup"):
                for i in range(WARMUPS[workload]):
                    jvm.System.gc()
                    op(f"warmup-{i}")
            rec["warmup_s"] = time.monotonic() - t
            stats0 = server.stats() if server and trace else None
            answers = []
            deadline = time.monotonic() + spec["seconds"]
            i = 0
            while i == 0 or time.monotonic() < deadline:
                op_id = f"op-{i}"
                # traced runs interleave untraced ops: the difference of
                # the two medians is the tracing overhead
                traced = trace and i % 2 == 1
                tracer.enabled = traced
                # bench.py's hygiene: the previous op's garbage, and the
                # cached blocks and shuffle files its GC lets the context
                # cleaner drop, are collected before the clock starts
                jvm.System.gc()
                w0, t0 = time.time(), time.monotonic()
                raw = err = answer = counters = None
                try:
                    with tracer.span("bench.op", op_id):
                        raw = op(op_id)
                except Exception as ex:  # noqa: BLE001 — a failed op is counted, the loop goes on
                    err = f"{type(ex).__name__}: {ex}"
                t1, w1 = time.monotonic(), time.time()
                if err is None:
                    try:
                        answer, counters = finish(raw, traced)
                    except Exception as ex:  # noqa: BLE001 — as above
                        err = f"{type(ex).__name__}: {ex}"
                rec["ops"].append({"id": op_id, "t0": t0, "t1": t1, "w0": w0,
                                   "w1": w1, "traced": traced, "err": err})
                answers.append(answer)
                rec["counters"].append(counters)
                i += 1
            if stats0 is not None:
                s1 = server.stats()
                rec["server"] = {k: s1[k] - stats0[k] for k in s1}
            if trace:
                rec["rest"] = _harvest_rest(spark)
                rec["spans"] = tracer.spans
            rec["answers"] = [
                None if a is None else _answer_digest(workload, a)
                for a in answers
            ]
            jvm_pid = spark.sparkContext._gateway.proc.pid
            rec["peak_rss_mb"] = _rss_mb("self") + _rss_mb(jvm_pid)
        finally:
            spark.stop()
    finally:
        if server is not None:
            server.stop()
    Path(out_path).write_text(json.dumps(rec))
    return 0


def _harvest_rest(spark) -> dict:
    """Spark's job and completed-stage records (with per-task metrics),
    read once after the loop. The status store is fed asynchronously, so
    read until two consecutive job lists agree."""
    base = (f"{spark.sparkContext.uiWebUrl}/api/v1/applications/"
            f"{spark.sparkContext.applicationId}")
    jobs = _get_json(f"{base}/jobs")
    for _ in range(40):
        time.sleep(0.05)
        again = _get_json(f"{base}/jobs")
        if again == jobs and all(j["status"] != "RUNNING" for j in jobs):
            break
        jobs = again
    stages = _get_json(f"{base}/stages?status=complete&details=true")
    return {"jobs": jobs, "stages": stages}


if __name__ == "__main__":
    raise SystemExit(main(*sys.argv[1:3]))
