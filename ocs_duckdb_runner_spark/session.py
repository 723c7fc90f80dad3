"""SparkSession construction + object-store configuration.

Maps the reference's per-connection S3 session setup
(/root/reference/runner.cc:205-217: ``SET s3_endpoint / s3_region /
s3_url_style / s3_use_ssl / s3_access_key_id / s3_secret_access_key``) onto
the s3a Hadoop connector, applied once at session build. Fixtures are local
parquet, so pointing at an object store is a config change, not a code
change.

Local-mode defaults are tuned for correctness-at-small-scale and the same
knobs that matter at 100 TB: AQE on (runtime partition coalescing, skew-join
splitting, broadcast demotion), shuffle partitions sized to cores instead of
the 200 default, UTC session timezone so timestamp semantics match the
DuckDB oracle, and Arrow enabled for any pandas exchange.

API note: registry.load_table also re-pins spark.sql.session.timeZone=UTC
on EVERY call — a deliberate session-wide side effect, because oracle
parity is only defined under UTC timestamp semantics and must hold even on
externally built sessions (the driver's own). Callers that need another
zone must set it after loading, not before.
"""

from __future__ import annotations

import os
from collections.abc import Callable, Iterator, Mapping
from contextlib import contextmanager
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class S3Config:
    """The six knobs the reference sets per DuckDB connection
    (/root/reference/runner.cc:205-217), plus their s3a equivalents."""

    endpoint: str
    access_key_id: str = ""
    secret_access_key: str = ""
    region: str = "us-east-1"
    path_style: bool = True  # s3_url_style='path' (runner.cc:209)
    use_ssl: bool = False  # s3_use_ssl=false — http assumed (README.md:98)

    def hadoop_options(self) -> dict[str, str]:
        return {
            "fs.s3a.endpoint": self.endpoint,
            "fs.s3a.endpoint.region": self.region,
            "fs.s3a.path.style.access": str(self.path_style).lower(),
            "fs.s3a.connection.ssl.enabled": str(self.use_ssl).lower(),
            "fs.s3a.access.key": self.access_key_id,
            "fs.s3a.secret.key": self.secret_access_key,
        }


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


def build_spark(
    app_name: str = "ocs-duckdb-runner-spark",
    shuffle_partitions: int | None = None,
    s3: S3Config | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or get) the SparkSession with scale-aware defaults.

    Parallelism model: the reference runs one single-threaded DuckDB per
    parquet object over a fixed pthread pool (runner.cc:200,264-270). Spark
    inverts this — one task per file split — so the pool size maps to
    executor threads (``local[N]`` here, executor cores on a cluster).
    """
    cpus = default_parallelism()
    # SPARK_GRAFT_MASTER lets the whole harness (driver_sim, pytest,
    # probes) run under a different master without code churn — the
    # round-11 use is local-cluster[N,c,m], which launches REAL executor
    # JVMs so task-result serialization, driver-local broadcast
    # relations, and localCheckpoint block placement cross an actual
    # process boundary (local[32] cannot show any of that).
    env_master = os.environ.get("SPARK_GRAFT_MASTER")
    # Executor python workers must be able to import this package BY
    # REFERENCE (module-level functions — the sink's commit helpers, the
    # legacy stateful bodies — pickle as module+name, unlike the classes
    # built inside _make_*_source factories, which cloudpickle ships by
    # value). Under local[*] the workers inherit the driver's sys.path,
    # which HID this; real executor processes (local-cluster, found in
    # the r11 probe: sink_python_datasource and the applyInPandasWithState
    # path both died on import) do not. Same-host masters get the repo
    # root on the executors' PYTHONPATH; a real multi-host cluster ships
    # a wheel via --py-files instead, which takes precedence harmlessly.
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    exec_pp = os.pathsep.join(
        p for p in (repo_root, os.environ.get("PYTHONPATH")) if p
    )
    builder = (
        SparkSession.builder.appName(app_name)
        .master(env_master or f"local[{cpus}]")
        .config("spark.executorEnv.PYTHONPATH", exec_pp)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.default.parallelism", str(cpus))
        # AQE: runtime coalescing / skew-join splitting / join demotion —
        # the knobs that keep shuffles sane when data is 1000x bigger.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # NOT set: spark.sql.optimizer.canChangeCachedPlanOutputPartitioning.
        # A/B-measured both ways at sf0.1: letting AQE re-partition cached
        # plan output by BYTES trims tiny-frame graph pipelines (~-0.5s on
        # graph_triangle_count) but byte-sizing misjudges compute-dense
        # cached frames — dedup_semantic_cluster's 64-dim vector frame
        # coalesced to ONE partition and serialized its cluster self-join
        # (1.9s -> 7.2s). Tiny persisted frames coalesce explicitly at the
        # operator instead (graph.py).
        # Oracle parity: DuckDB timestamps are UTC-naive.
        .config("spark.sql.session.timeZone", "UTC")
        # Arrow for every Python<->JVM batch exchange (pandas UDFs, toPandas).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Parquet scan: vectorized reader + pushdown are default-on; make the
        # per-file task unit explicit (reference: one engine per file).
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.sql.parquet.filterPushdown", "true")
        # Spark 4.1 Python DataSource filter pushdown (pushFilters): lets
        # a custom Python source prune partitions / skip rows at the
        # source instead of generating everything and filtering in Spark
        # (sources/python_datasource.py implements it). Default-off
        # upstream only for back-compat with pre-4.1 readers.
        .config("spark.sql.python.filterPushdown.enabled", "true")
        # r12 OPTIMIZATION (guide §2.4/§7.2, measured): InferFiltersFromGenerate
        # turns every explode(arr) into Filter(size(arr)>0 AND isnotnull(arr)).
        # When arr is an ALIASED projection of an expensive map-side expression
        # (the shingle/gram HOF kernels: transform+xxhash64 over token arrays),
        # filter pushdown substitutes the WHOLE expression into the filter and
        # pushes it below the spread() exchange — the kernel then runs twice
        # per row, the below-exchange copy on the narrow (often 1-split) scan
        # with split(text) re-inlined per element_at. Measured at sf0.1:
        # corpus_ngram_novelty 5.4s -> 1.3s, corpus_redundancy_curve 5.4s ->
        # 1.5s with the rule excluded; every other affected family neutral or
        # faster (OPTIMIZATION_r12.md). Results are identical by construction:
        # the inferred filter only removes rows whose generator output is
        # empty, which explode drops anyway. Scale-independent: at 100 TB the
        # duplicated kernel is proportionally the same waste.
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
        # Long-lived sessions serving many queries accumulate broadcast and
        # shuffle state that ContextCleaner only releases after a driver
        # GC; with the JVM default (30 min periodic GC) a multi-query
        # session slows ~4x within a minute of mixed workload (measured:
        # 0.5s → 2.1s for the same query after 25 others). Forcing the
        # periodic GC every 30s keeps cleanup continuous — negligible cost,
        # large steady-state win for any session that outlives one query.
        .config("spark.cleaner.periodicGC.interval", "30s")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
    )
    if s3 is not None:
        for k, v in s3.hadoop_options().items():
            builder = builder.config(f"spark.hadoop.{k}", v)
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    if s3 is not None:
        # builder configs are silently ignored when a session already
        # exists — push the object-store options onto the live Hadoop conf
        # too, mirroring the reference's per-connection SETs
        # (runner.cc:205-217)
        hconf = spark.sparkContext._jsc.hadoopConfiguration()
        for k, v in s3.hadoop_options().items():
            hconf.set(k, v)
    spark.sparkContext.setLogLevel("WARN")
    return spark


@contextmanager
def scoped_conf(
    spark: SparkSession, settings: Mapping[str, str]
) -> Iterator[None]:
    """Set runtime confs for a ``with`` body; on exit, even by an
    exception, restore each prior value (unset if it had none) in reverse
    order. A set that fails raises before the body runs, with the keys
    already set put back. The confs are session-global, so two scoped
    regions on one session must not overlap: a concurrent drain or
    fan-out would plan under the other's values or clobber its restore.
    Every caller runs its region synchronously on the calling thread, and
    a stream drain scopes only ``start()``: the stream's shuffle width and
    state store are fixed by the time it returns, so the drain itself
    runs on the session's own values."""
    conf = spark.conf
    prior: list[tuple[str, str | None]] = []
    try:
        for k, v in settings.items():
            old = conf.get(k, None)
            conf.set(k, v)
            prior.append((k, old))
        yield
    finally:
        for k, old in reversed(prior):
            if old is None:
                conf.unset(k)
            else:
                conf.set(k, old)



@contextmanager
def scoped_cache() -> Iterator[Callable[[DataFrame], DataFrame]]:
    """Yield ``persist(df)``: persist ``df`` at the default level, record
    it and return it. On exit, even by an exception, unpersist every
    recorded frame in reverse order, so a query leaves nothing cached in
    the long-lived session however its construction ends. A frame may be
    unpersisted early inside the body (per-round loops do); the exit's
    second unpersist is a no-op. Unlike a stream drain's
    :func:`scoped_conf`, which covers ``start()`` only, the scope must
    cover every read of its frames: a result read after it is
    materialized inside it (``localCheckpoint(eager=True)``)."""
    held: list[DataFrame] = []

    def persist(df: DataFrame) -> DataFrame:
        held.append(df.persist())
        return df

    try:
        yield persist
    finally:
        for df in reversed(held):
            df.unpersist()

def hadoop_fs(spark: SparkSession, path: str):
    """(FileSystem, Path) for any scheme the session can read (file://,
    s3a://, ...); a driver-local os.path probe sees only the local disk."""
    sc = spark.sparkContext
    hpath = sc._jvm.org.apache.hadoop.fs.Path(path)
    return hpath.getFileSystem(sc._jsc.hadoopConfiguration()), hpath


def file_version(spark: SparkSession, path: str) -> tuple[int, int]:
    """(mtime in ms, length) of ``path`` through :func:`hadoop_fs`: the
    version key of every cache built from a file's bytes, one metadata
    call (a HEAD on s3a). It misses only a rewrite that keeps the length
    within the same millisecond. Raises when the path cannot be stat'd."""
    fs, hpath = hadoop_fs(spark, path)
    st = fs.getFileStatus(hpath)
    return st.getModificationTime(), st.getLen()
