"""Round-13 optimization locks: stream-width scale-safety and plan pins
for the operators this round touched."""

from __future__ import annotations

import os

import pytest

from ocs_duckdb_runner_spark.streaming.stream_queries import (
    _STREAM_TARGET_BYTES,
    _stream_shuffle_width,
)

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def test_stream_width_local_path_follows_input_size(spark):
    """Local filesystem path: width = ceil(source_bytes / target),
    clamped to [1, parallelism] — the r12 calibration, now sized through
    the Hadoop FS API."""
    w = _stream_shuffle_width(spark, SF_DIR)
    size = os.path.getsize(f"{SF_DIR}/events.parquet")
    expect = max(
        1,
        min(
            spark.sparkContext.defaultParallelism,
            -(-size // _STREAM_TARGET_BYTES),
        ),
    )
    assert w == expect


def test_stream_width_nonlocal_scheme_fails_wide(spark):
    """VERDICT r12 #2: an sf_dir the driver host cannot stat must fall
    back to session parallelism (fail WIDE), never to width 1 — the old
    os.path branch collapsed every JVM-stateful drain to a single
    partition for any object-store source."""
    w = _stream_shuffle_width(spark, "nosuchfs://bucket/prefix")
    assert w == spark.sparkContext.defaultParallelism


def test_stream_width_missing_local_path_fails_wide(spark):
    """A local path that doesn't exist is equally unknown — same wide
    fallback."""
    w = _stream_shuffle_width(spark, "/no/such/dir")
    assert w == spark.sparkContext.defaultParallelism


# ---- dedup_substring_spans: Arrow-map fingerprint parity (r13) ----

_PARITY_TEXTS = [
    " ".join(f"t{i}" for i in range(40)),              # plain 40 tokens
    " ".join(f"t{i % 5}" for i in range(40)),          # repeated windows
    "a  b " + " ".join(f"x{i}" for i in range(20)),    # double space -> empty token
    " lead " + " ".join(f"y{i}" for i in range(18)),   # leading space
    " ".join(f"z{i}" for i in range(17)) + " ",        # trailing space
    " ".join(f"é→{i}" for i in range(20)),             # multi-byte UTF-8
    " ".join(f"w{i}" for i in range(16)),              # exactly one window
    " ".join(f"v{i}" for i in range(15)),              # one short of a window
    "",                                                # empty text
    None,                                              # NULL text
]


def test_substring_window_fingerprint_parity(spark):
    """The Python byte-slice md5 fingerprint must equal the old JVM
    kernel conv(substr(md5(concat_ws(' ', slice(split(text,' '),i,N))),
    1,15),16,10) per window — including empty tokens from repeated
    spaces, leading/trailing spaces, and multi-byte UTF-8 (the byte-span
    trick relies on ' ' never occurring inside a UTF-8 sequence)."""
    from pyspark.sql import functions as F

    from ocs_duckdb_runner_spark.llm.dedup import (
        _SPAN_N,
        _substring_window_counts,
    )

    rows = [(i, t) for i, t in enumerate(_PARITY_TEXTS)]
    d = spark.createDataFrame(rows, "doc_id long, text string")

    toks = F.split(F.col("text"), " ")
    grams = F.when(
        F.size(toks) >= _SPAN_N,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (_SPAN_N - 1)),
            lambda i: F.conv(
                F.substring(
                    F.md5(F.concat_ws(" ", F.slice(toks, i, _SPAN_N))), 1, 15
                ),
                16,
                10,
            ).cast("long"),
        ),
    ).otherwise(F.array().cast("array<long>"))
    jvm_wd = (
        d.select("doc_id", F.explode(grams).alias("g"))
        .groupBy("doc_id", "g")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    want = {(r.doc_id, r.g, r.c) for r in jvm_wd.collect()}
    got = {
        (r.doc_id, r.g, r.c)
        for r in _substring_window_counts(d).collect()
    }
    assert got == want


def test_substring_spans_plan_is_arrow_map(spark):
    """r13 plan pin: the window-fingerprint kernel is ONE MapInArrow pass
    emitting collapsed (doc_id, g, c); no Generate/explode of the full
    window stream survives, and the only hash exchanges carry the
    collapsed pairs (g for the frequency window, doc_id for the rollup
    and report join)."""
    from tests.test_plans import plan_of

    plan = plan_of(spark, "dedup_substring_spans")
    assert "MapInArrow" in plan or "PythonMapInArrow" in plan
    assert "Generate" not in plan
    for line in plan.splitlines():
        if line.strip().startswith("Arguments:") and "hashpartitioning" in line:
            assert "text" not in line, line


# ---- excludedRules invariant (VERDICT r12 #7) ----


def test_excluded_generate_rule_cannot_lose_scan_pruning(spark):
    """Pins the invariant that makes the session-wide
    InferFiltersFromGenerate exclusion safe (session.py, VERDICT r12 #7):

    1. The ONLY non-atomic column any declared query can scan is
       embeddings.embedding — every other fixture column is atomic, so
       every other explode site necessarily feeds a COMPUTED array
       (split/transform kernels), where the inferred filter duplicates
       the kernel (the r12 pathology) and can never prune the scan.
    2. An IsNotNull predicate on that array column DOES reach
       PushedFilters (verified below) — so exploding the raw scanned
       column WOULD forfeit a real scan prune under the exclusion.
    3. Therefore: no declared query may explode embeddings.embedding
       as scanned. Checked at plan level for every registered query
       whose source both loads embeddings and explodes anything — the
       Generate argument must never be the raw scan attribute.
    If a new array fixture column lands or one of these plans starts
    exploding the scan column, this fails and the exclusion must be
    re-scoped."""
    import inspect

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from tests.test_plans import plan_of

    from ocs_duckdb_runner_spark.registry import TABLES, load_table, specs

    array_cols = []
    for t in TABLES:
        df = load_table(spark, SF_DIR, t)
        for f in df.schema.fields:
            if isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType)):
                array_cols.append((t, f.name))
    assert array_cols == [("embeddings", "embedding")]

    e = load_table(spark, SF_DIR, "embeddings")
    probe = e.filter(F.col("embedding").isNotNull()).select(
        F.explode("embedding")
    )
    plan = probe._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "PushedFilters: [IsNotNull(embedding)]" in plan

    suspects = []
    for name, s in specs().items():
        try:
            src = inspect.getsource(s.fn)
        except OSError:
            continue
        if '"embeddings"' in src and "explode" in src.lower():
            suspects.append(name)
    assert suspects, "source scan broke — no embedding queries found"
    for name in suspects:
        qplan = plan_of(spark, name)
        # covers explode( and posexplode( over the raw scan attribute
        assert "explode(embedding#" not in qplan, name
