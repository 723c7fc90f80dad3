"""Inputs and expected answers for the benchmark, built before any clock
starts.

Two layers of input:

* The base tables, built once per checkout under ``.perfbench_work/base``
  by ``python3 perfbench/prep.py build``: a ``lineitem`` (600,000 rows) and
  a ``documents`` table (5,000 rows) with the schemas of the sf0.1
  fixtures, drawn from a fixed generator seed; lineitem split into 8
  parquet objects by the program's own ``runner.split_objects``; the
  loopback s3a jar compiled by ``loopback_s3.ensure_jar``; and the DuckDB
  per-object hit counts of the runner's query template. Every run uses
  the same base, so no run pays for work another run skips.
* The per-seed input, made on every run by :func:`seed_inputs`: the
  fan-out source list in an order drawn from the seed, or the documents
  table with its rows permuted by the seed. The permutation changes the
  file the engine reads but not the answer, so the work per op stays the
  same from seed to seed.
"""

from __future__ import annotations

import json
import random
import sys
from datetime import datetime
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench_work"
BASE = WORK / "base"
# bump when the generator or the base layout changes: a stale base is rebuilt
BASE_VERSION = "1"
BASE_SEED = 42
N_OBJECTS = 8
LINEITEM_ROWS = 600_000
DOC_ROWS = 5_000
ORDERS = 150_000

QUERY_OF = {
    "corpus_pipeline": "pipeline_pretrain_end2end",
    "arrow_dedup": "dedup_substring_spans",
}

_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_LANGS = ["en", "zh", "es", "fr", "de"]
_LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]


def _gen_lineitem(rng):
    import numpy as np
    import pyarrow as pa

    n = LINEITEM_ROWS
    day0 = np.datetime64("1995-01-02", "ms")
    days = rng.integers(0, 2498, n).astype("timedelta64[D]")
    return pa.table(
        {
            "l_orderkey": rng.integers(0, ORDERS, n),
            "l_partkey": rng.integers(0, 20_000, n),
            "l_suppkey": rng.integers(0, 1_000, n),
            "l_linenumber": rng.integers(1, 8, n).astype("int32"),
            "l_quantity": rng.integers(1, 51, n).astype("float64"),
            "l_extendedprice": np.round(rng.uniform(900.0, 105_000.0, n), 2),
            "l_discount": np.round(rng.integers(0, 11, n) / 100.0, 2),
            "l_tax": np.round(rng.integers(0, 9, n) / 100.0, 2),
            "l_returnflag": rng.choice(["A", "N", "R"], n),
            "l_linestatus": rng.choice(["O", "F"], n),
            "l_shipdate": day0 + days,
        }
    )


def _gen_documents(rng):
    """Word-soup documents like the fixture's: 10-99 tokens over a
    30-word vocabulary, 250 near-duplicates (an earlier document plus
    " dup", which is what gives dedup_substring_spans its duplicated
    windows) and 8 exact duplicates."""
    import pyarrow as pa

    texts: list[str] = []
    for i in range(DOC_ROWS):
        if i >= 100 and i % 20 == 7:  # 250 near-duplicates
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i >= 100 and i % 625 == 11:  # 8 exact duplicates
            texts.append(texts[int(rng.integers(0, i))])
        else:
            n = int(rng.integers(10, 100))
            texts.append(" ".join(rng.choice(_VOCAB, n)))
    return pa.table(
        {
            "doc_id": list(range(DOC_ROWS)),
            "text": texts,
            "lang": rng.choice(_LANGS, DOC_ROWS, p=_LANG_P).tolist(),
            "source": [f"src{i % 20}" for i in range(DOC_ROWS)],
            "n_chars": [len(t) for t in texts],
        }
    )


def object_hits(objects: list[Path]) -> dict[str, int]:
    """DuckDB's hit count of the runner's per-object query template on
    each object, keyed by object name. The template is the runner's own
    SQL text with its Spark path literal swapped for DuckDB's reader."""
    import duckdb

    from ocs_duckdb_runner_spark.runner import to_sql

    con = duckdb.connect()
    try:
        out = {}
        for p in objects:
            sql = to_sql(str(p)).replace(
                f"parquet.`{p}`", f"read_parquet('{p}')"
            )
            out[p.name] = len(con.execute(sql).fetchall())
        return out
    finally:
        con.close()


def base_ready() -> bool:
    stamp = BASE / "_READY"
    return stamp.exists() and stamp.read_text() == BASE_VERSION


def build_base() -> None:
    """Build the base tables, objects, jar and per-object hits. Runs in
    its own process (``prep.py build``) because the split needs a Spark
    session, whose JVM must not outlive the build."""
    import shutil

    import numpy as np
    import pyarrow.parquet as pq

    sys.path.insert(0, str(ROOT))
    from ocs_duckdb_runner_spark.runner import split_objects
    from ocs_duckdb_runner_spark.session import build_spark
    from ocs_duckdb_runner_spark.sources import loopback_s3

    shutil.rmtree(BASE, ignore_errors=True)
    tables = BASE / "tables"
    tables.mkdir(parents=True)
    rng = np.random.default_rng(BASE_SEED)
    pq.write_table(_gen_lineitem(rng), tables / "lineitem.parquet")
    pq.write_table(_gen_documents(rng), tables / "documents.parquet")

    # the program's jar builder, pointed inside the checkout
    loopback_s3._BUILD = BASE / "jar"
    loopback_s3.ensure_jar()

    spark = build_spark(app_name="perfbench-prep")
    try:
        split_objects(spark, str(tables), N_OBJECTS, out=str(BASE / "objects"))
    finally:
        spark.stop()
    objects = sorted((BASE / "objects").glob("*.parquet"))
    (BASE / "object_hits.json").write_text(json.dumps(object_hits(objects)))
    (BASE / "_READY").write_text(BASE_VERSION)


def jar_path() -> str:
    return str(BASE / "jar" / "loopback-s3a.jar")


def seed_inputs(workload: str, seed: int, run_dir: Path) -> dict:
    """The run's input and expected answer. For fan-out: the objects in
    seed order and DuckDB's per-object hits. For the corpus workloads: the
    documents permuted by the seed, and the row count and canonical hash
    of the query's registered DuckDB oracle over that file."""
    if workload == "fanout_s3a":
        names = sorted(p.name for p in (BASE / "objects").glob("*.parquet"))
        random.Random(seed).shuffle(names)
        return {
            "objects_root": str(BASE),
            "objects": names,
            "expect": json.loads((BASE / "object_hits.json").read_text()),
        }
    import duckdb
    import numpy as np
    import pyarrow.parquet as pq

    from ocs_duckdb_runner_spark.registry import get_query

    docs = pq.read_table(BASE / "tables" / "documents.parquet")
    perm = np.random.default_rng(seed).permutation(docs.num_rows)
    sf_dir = run_dir / "tables"
    sf_dir.mkdir(parents=True, exist_ok=True)
    pq.write_table(docs.take(perm), sf_dir / "documents.parquet")
    con = duckdb.connect()
    try:
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{sf_dir / 'documents.parquet'}')"
        )
        want = con.execute(get_query(QUERY_OF[workload]).oracle).fetchdf()
    finally:
        con.close()
    return {
        "sf_dir": str(sf_dir),
        "expect": {"rows": len(want), "hash": str(canon_hash(want))},
    }


def canon_hash(pdf) -> int:
    """The repository's order-insensitive result hash (the one its oracle
    check uses), so the benchmark and the correctness suite agree on what
    equal means."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "driver_sim", ROOT / "scripts" / "driver_sim.py"
    )
    mod = sys.modules.get("driver_sim")
    if mod is None:
        mod = importlib.util.module_from_spec(spec)
        sys.modules["driver_sim"] = mod
        spec.loader.exec_module(mod)
    return mod.canon_hash(pdf)


if __name__ == "__main__":
    if sys.argv[1:] != ["build"]:
        raise SystemExit("usage: python3 perfbench/prep.py build")
    t0 = datetime.now()
    build_base()
    print(f"base built in {(datetime.now() - t0).total_seconds():.1f} s")
