"""Central query registry — the single source of truth for the driver
contract (__spark_entry__.py): every operator ships as a named query with a
(spark, sf_dir) -> DataFrame callable and, where SQL-expressible, an
equivalent DuckDB oracle SQL string.

Column-name discipline: the driver's compare sorts columns by name before
hashing values, so every computed column is aliased identically in the Spark
plan and the oracle SQL. Float discipline: cross-engine aggregation order
differs, so float aggregates are either made exact (fixed-point integer
sums) or rounded on both sides (see SURVEY.md §7 risks).
"""

from __future__ import annotations

import os
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ocs_duckdb_runner_spark.session import file_version

QueryFn = Callable[[SparkSession, str], DataFrame]

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None  # None => driver records rows-only check
    tags: tuple[str, ...] = field(default_factory=tuple)
    doc: str = ""


_REGISTRY: dict[str, QuerySpec] = {}


def query(name: str, oracle: str | None = None, tags: tuple[str, ...] = ()):
    """Decorator: register a (spark, sf_dir) -> DataFrame query."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        _REGISTRY[name] = QuerySpec(name, fn, oracle, tuple(tags), fn.__doc__ or "")
        return fn

    return deco


def _load_all() -> None:
    """Import every module that registers queries (idempotent)."""
    import ocs_duckdb_runner_spark.operators.analytics  # noqa: F401
    import ocs_duckdb_runner_spark.operators.changes  # noqa: F401
    import ocs_duckdb_runner_spark.operators.core  # noqa: F401
    import ocs_duckdb_runner_spark.operators.graph  # noqa: F401
    import ocs_duckdb_runner_spark.operators.grouping  # noqa: F401
    import ocs_duckdb_runner_spark.operators.joins  # noqa: F401
    import ocs_duckdb_runner_spark.operators.quality  # noqa: F401
    import ocs_duckdb_runner_spark.operators.sampling  # noqa: F401
    import ocs_duckdb_runner_spark.operators.setops  # noqa: F401
    import ocs_duckdb_runner_spark.operators.subqueries  # noqa: F401
    import ocs_duckdb_runner_spark.operators.tpch_suite  # noqa: F401
    import ocs_duckdb_runner_spark.operators.windows  # noqa: F401
    import ocs_duckdb_runner_spark.functions.complex  # noqa: F401
    import ocs_duckdb_runner_spark.functions.scalar  # noqa: F401
    import ocs_duckdb_runner_spark.llm.curation  # noqa: F401
    import ocs_duckdb_runner_spark.llm.dedup  # noqa: F401
    import ocs_duckdb_runner_spark.llm.embedding  # noqa: F401
    import ocs_duckdb_runner_spark.llm.export  # noqa: F401
    import ocs_duckdb_runner_spark.llm.similarity  # noqa: F401
    import ocs_duckdb_runner_spark.llm.text  # noqa: F401
    import ocs_duckdb_runner_spark.llm.multimodal  # noqa: F401
    import ocs_duckdb_runner_spark.llm.udfs  # noqa: F401
    import ocs_duckdb_runner_spark.events.timeseries  # noqa: F401
    import ocs_duckdb_runner_spark.events.windows  # noqa: F401
    import ocs_duckdb_runner_spark.sources.connectors  # noqa: F401
    import ocs_duckdb_runner_spark.sources.python_datasource  # noqa: F401
    import ocs_duckdb_runner_spark.streaming.stream_queries  # noqa: F401
    import ocs_duckdb_runner_spark.runner  # noqa: F401


def specs() -> dict[str, QuerySpec]:
    """All registered specs, in registration order."""
    _load_all()
    return dict(_REGISTRY)


def get_query(name: str) -> QuerySpec:
    return specs()[name]


def all_queries() -> dict[str, QueryFn]:
    return {n: s.fn for n, s in specs().items()}


def all_oracles() -> dict[str, str]:
    return {n: s.oracle for n, s in specs().items() if s.oracle is not None}


def spread(df: DataFrame) -> DataFrame:
    """Widen a narrow scan to the session's parallelism.

    Small parquet objects arrive as ONE input split, which serializes any
    compute-heavy per-row operator (hashing, shingling, fingerprints) on a
    single core no matter how many the cluster has. For such operators the
    one extra round-robin shuffle of the (small) input is repaid many times
    over. No-op when the scan is already wide — so at 100 TB, where the
    input has thousands of splits, this adds nothing.

    Width signal is len(inputFiles()) — file-listing metadata only. The
    earlier df.rdd.getNumPartitions() forced a full plan→RDD conversion
    on every construction (ADVICE r1); a file count under-estimates width
    for huge multi-split files, but those are exactly the inputs that are
    already wide enough not to need spreading. Leaves that are not files
    (``range``, ``createDataFrame``) list none, so such frames spread."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if len(df.inputFiles()) >= target:
        return df
    return df.repartition(target)


# Row cap for forcing a broadcast of a data-dependent small side (hot
# shingle/gram sets, boilerplate fingerprints). Below it the set is
# driver-materialized and broadcast; above it the join is left un-hinted
# so AQE picks the strategy from measured size. 100k keys × ~40 B ≈ 4 MB
# — far under any executor broadcast budget, and the probe that counts
# them is bounded by the same cap (limit(cap+1)), so driver memory is
# constant even on an adversarial corpus where the "small" side is huge.
HOT_BROADCAST_MAX_ROWS = 100_000


def gated_broadcast(
    small: DataFrame, max_rows: int = HOT_BROADCAST_MAX_ROWS
) -> DataFrame:
    """Size-gate a forced broadcast hint (ADVICE r9: a bare
    ``F.broadcast(hot)`` bypasses autoBroadcastJoinThreshold entirely, so
    an adversarial corpus where the hot set is corpus-sized OOMs the
    driver instead of degrading).

    Probes the frame with ``limit(max_rows+1).collect()`` — the probe IS
    the small-case fetch, the same bounded-collect pattern as the CC
    union-find head probe — and:

    - ≤ max_rows: rebuilds the rows as a driver-local relation and
      broadcasts THAT, so the aggregate feeding ``small`` runs exactly
      once (no recompute when the broadcast materializes) and the join
      probe side never shuffles;
    - > max_rows: returns ``small`` PERSISTED (memory-and-disk) and
      un-hinted — the probe's partial materialization is cached, so the
      degenerate (all-boilerplate) corpus pays the aggregate once rather
      than probe+join (ADVICE r10), and AQE chooses the join strategy
      from runtime size. The cached entry lives for the session — one
      bounded aggregate per adversarial invocation, spilling to disk,
      which at scale is the cheap side of re-running a corpus-sized
      aggregate; callers that loop may ``unpersist()`` the returned
      frame after the join materializes."""
    from pyspark import StorageLevel

    # Persist BEFORE the probe: limit().collect() computes only the
    # partitions the limit touches, but those land in the cache, and on
    # the adversarial path the join's full materialization completes the
    # cache instead of recomputing the probe's work from scratch.
    persisted = small.persist(StorageLevel.MEMORY_AND_DISK)
    rows = persisted.limit(max_rows + 1).collect()
    if len(rows) <= max_rows:
        # gated path: the rows are already driver-local — the cache has
        # nothing left to contribute; release it immediately.
        persisted.unpersist(False)
        from pyspark.sql import functions as F

        local = small.sparkSession.createDataFrame(rows, small.schema)
        return F.broadcast(local)
    return persisted


def release_local_checkpoint(df: DataFrame) -> None:
    """Deterministically release a ``localCheckpoint(eager=True)``
    frame's pinned blocks (ADVICE r10: in an iterative loop each round's
    checkpointed RDD otherwise stays in executor storage until the py4j
    finalizer happens to run, so storage accumulates nondeterministically
    over hundreds of rounds).

    The checkpointed Dataset's analyzed plan is the LogicalRDD holding
    the pinned RDD — unpersist THAT RDD, not ``df.rdd`` (a derived
    conversion whose unpersist is a no-op on the checkpoint blocks;
    measured). Only call this on a frame the loop will never read again:
    a localCheckpoint cannot recompute, so a released frame is dead. A
    frame whose analyzed plan is not a LogicalRDD holds no checkpoint
    blocks and is left alone."""
    plan = df._jdf.queryExecution().analyzed()
    if plan.getClass().getName() == "org.apache.spark.sql.execution.LogicalRDD":
        plan.rdd().unpersist(False)


DERIVED_ROOT = "/tmp/ocs_derived"


def fixture_fingerprint(sf_dir: str) -> str:
    """Cheap content fingerprint of the whole fixture dir — every table's
    file names, sizes and mtimes; no data read — as 12 hex chars. It keys
    every directory :func:`derived` builds: a derived copy keyed by the
    sf_dir path alone goes silently stale the moment a probe rebuilds its
    fixtures in place (the r8 10x finding: stream_incremental_mv's 4-way
    split source predated the events striking and the MV summed a
    100k-row copy against a 1M-row oracle — exactly 10x off, caught only
    because the query is oracle-checked)."""
    import hashlib

    h = hashlib.md5()

    def _add(path: str) -> None:
        # mtime at NANOSECOND precision: a whole-second truncation leaves
        # a same-name same-size rebuild within one second undetected —
        # the exact staleness class this helper exists to close
        if os.path.isdir(path):
            for f in sorted(os.listdir(path)):
                fp = os.path.join(path, f)
                st = os.stat(fp)
                h.update(f"{f}:{st.st_size}:{st.st_mtime_ns};".encode())
        elif os.path.exists(path):
            st = os.stat(path)
            h.update(f"{path}:{st.st_size}:{st.st_mtime_ns};".encode())

    for t in TABLES:
        _add(f"{sf_dir}/{t}.parquet")
    return h.hexdigest()[:12]


def vacuum_cache_siblings(parent: str, tag: str, keep: str) -> None:
    """Remove superseded fingerprint generations of a derived cache:
    every entry under ``parent`` that is the bare ``tag`` (the
    pre-fingerprint layout) or ``tag_<other-fingerprint>``, except
    ``keep``. Without this, every in-place fixture rebuild leaks a full
    derived copy under /tmp forever.

    Sibling matching is anchored to the 12-hex fingerprint suffix, NOT a
    bare prefix: tags can extend each other (``sf0.1`` vs ``sf0.1_alt``),
    and a prefix match would let the shorter tag's vacuum delete the
    longer tag's perfectly valid cache generation, forcing spurious
    rebuilds."""
    import re
    import shutil

    if not os.path.isdir(parent):
        return
    gen = re.compile(re.escape(tag) + r"_[0-9a-f]{12}$")
    for name in os.listdir(parent):
        if name == keep:
            continue
        if name == tag or gen.fullmatch(name):
            shutil.rmtree(os.path.join(parent, name), ignore_errors=True)


def derived_path(sf_dir: str, name: str) -> str:
    """Where :func:`derived` publishes ``name`` for ``sf_dir``:
    ``DERIVED_ROOT/<tag>_<fingerprint>/<name>``, one generation dir per
    fixture content. Pure — no Spark, nothing written — so a caller can
    know the path before the JVM starts (the runner CLI's loopback root)."""
    tag = sf_dir.strip("/").replace("/", "_")
    return f"{DERIVED_ROOT}/{tag}_{fixture_fingerprint(sf_dir)}/{name}"


def publish_once(out: str, build: Callable[[str], None]) -> str:
    """Run ``build`` on a private sibling of ``out`` and publish it with
    one rename, so ``out`` existing means its build completed. A
    concurrent builder that published first wins and this copy is
    dropped; a build that raises leaves nothing behind."""
    import shutil
    import uuid

    if os.path.exists(out):
        return out
    os.makedirs(os.path.dirname(out), exist_ok=True)
    tmp = f"{out}.tmp-{uuid.uuid4().hex}"
    try:
        build(tmp)
        try:
            os.rename(tmp, out)
        except OSError:
            if not os.path.isdir(out):
                raise
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


def derived(sf_dir: str, name: str, build: Callable[[str], None]) -> str:
    """The one way to materialize data derived from the fixtures (format
    round-trips, layouts, split objects and stream sources): returns
    :func:`derived_path`, calling ``build(tmp)`` through
    :func:`publish_once` first if it is missing. A miss also vacuums the
    superseded generations of sf_dir's tag."""
    out = derived_path(sf_dir, name)
    if not os.path.exists(out):
        gen = os.path.basename(os.path.dirname(out))
        vacuum_cache_siblings(DERIVED_ROOT, gen.rsplit("_", 1)[0], gen)
        publish_once(out, build)
    return out


def events_schema(ts_type: T.DataType) -> T.StructType:
    """The events table's schema with ``ts`` typed as ``ts_type``: what a
    reader needs when it cannot infer the schema (a stream source, or a
    timestamp[ns] footer read as raw LongType nanoseconds)."""
    return T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", ts_type),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Path-based parquet scan — the reference's data model is one
    self-describing parquet object per table, no catalog
    (/root/reference/runner.cc:176-180, schema from the parquet footer).

    ``events.ts`` has shipped as parquet timestamp[ns] (older fixtures) and
    timestamp[us] (current ones); this loader must accept both and hand every
    downstream query the same thing: a native session-µs TimestampType under
    UTC semantics — the truncation the oracle applies with
    CAST(ts AS TIMESTAMP). Dispatch is on the type the footer resolves to
    (:func:`events_ts_type`), never on an assumed physical type (the r3
    postmortem: a hard-coded ns assumption broke the moment the fixtures
    moved to µs); :func:`events_ts_to_timestamp` normalizes it. An ns
    footer is read with the explicit :func:`events_schema` typing ts as
    LongType.

    Session side effect (API boundary): the session time zone is pinned to
    UTC — oracle parity is only defined under UTC timestamp semantics
    (DuckDB is UTC-naive), and it must hold even when the caller's session
    was built elsewhere (e.g. the driver's own SparkSession). The
    nanosAsLong legacy flag is never set: only schema INFERENCE needs it,
    and it would change how ANY later ns-timestamp parquet in the same
    session is typed, which is not this function's call to make (ADVICE
    r1). An explicit LongType schema reads the ns values intact.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = f"{sf_dir}/{name}.parquet"
    if name != "events":
        return spark.read.parquet(path)
    ts_type = events_ts_type(spark, path)
    reader = spark.read
    if isinstance(ts_type, T.LongType):
        reader = reader.schema(events_schema(ts_type))
    return events_ts_to_timestamp(reader.parquet(path), ts_type)


# events.ts type per (path, file version): the probe forces an EAGER
# footer read (analysis); queries touching events paid it per call (~the
# r4→r2 event_tumbling bench regression). The type is a property of the
# file bytes, so it is probed once per version of the file.
_EVENTS_TS_TYPE: dict[tuple[str, tuple[int, int]], T.DataType] = {}


def events_ts_type(spark: SparkSession, path: str) -> T.DataType:
    """The Spark type of ``ts`` in the events parquet at ``path``, as its
    footer resolves, probed once per :func:`file_version`. A timestamp[ns]
    footer is LongType: schema inference refuses it with
    PARQUET_TYPE_ILLEGAL, and an explicit LongType schema reads the raw
    nanoseconds. Any other probe failure raises: read as "ns" it would
    turn µs timestamps into 1970 dates, and cache that for the version."""
    from pyspark.errors import AnalysisException

    key = (path, file_version(spark, path))
    ts_type = _EVENTS_TS_TYPE.get(key)
    if ts_type is None:
        try:
            ts_type = spark.read.parquet(path).schema["ts"].dataType
        except AnalysisException as ex:
            if ex.getCondition() != "PARQUET_TYPE_ILLEGAL":
                raise
            ts_type = T.LongType()
        _EVENTS_TS_TYPE[key] = ts_type
    return ts_type


def events_ts_to_timestamp(df: DataFrame, ts_type: T.DataType) -> DataFrame:
    """``df`` with its ``ts`` of type ``ts_type`` as session-µs
    TimestampType: TimestampNTZType is cast (the session TZ is UTC, so the
    wall clock is kept bit-for-bit), LongType nanoseconds truncate to µs
    like the oracle's CAST(ts AS TIMESTAMP), TimestampType passes."""
    from pyspark.sql import functions as F

    if isinstance(ts_type, T.TimestampNTZType):
        return df.withColumn("ts", F.col("ts").cast(T.TimestampType()))
    if isinstance(ts_type, T.LongType):
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    return df
