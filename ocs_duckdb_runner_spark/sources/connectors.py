"""Source/sink surface beyond parquet (SURVEY.md §2b scans/sources/sinks).

The reference's only source is parquet-over-S3 (runner.cc:176-180) and its
only sinks are stdout text + the stderr stats report (runner.cc:222-223,
343-358); session.py carries the S3 config mapping. This module adds the
format breadth a Spark engine is expected to have — CSV, JSON, ORC — as
ROUND-TRIP queries: write the table out in the format, read it back with an
explicit schema (never inferSchema in production paths), and let the DuckDB
oracle compare the result against the original parquet — i.e. the check is
"the format round-trip loses nothing".

Every written fixture here (format copies, layouts, versioned tables) is
derived data: built once per fixture content through ``registry.derived``
— a private build published with one rename, so a directory that exists
is complete — and reused by every later call.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ocs_duckdb_runner_spark.exactness import fx_sum, sql_fx_sum
from ocs_duckdb_runner_spark.registry import derived, derived_path, load_table, query

_ORDERS_COLS = [
    "o_orderkey",
    "o_custkey",
    "o_orderstatus",
    "o_totalprice",
    "o_orderpriority",
]
_ORDERS_SCHEMA = T.StructType(
    [
        T.StructField("o_orderkey", T.LongType()),
        T.StructField("o_custkey", T.LongType()),
        T.StructField("o_orderstatus", T.StringType()),
        T.StructField("o_totalprice", T.DoubleType()),
        T.StructField("o_orderpriority", T.StringType()),
    ]
)

_ORDERS_ORACLE = """
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority
    FROM orders
"""


def _orders_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "orders").select(*_ORDERS_COLS)


def _parquet_part_dir(spark: SparkSession, sf_dir: str) -> str:
    """The orders projection as Hive-partitioned parquet on o_orderstatus:
    the fact layout shared by sink_partitioned_parquet and
    join_dpp_partitioned."""
    return derived(
        sf_dir,
        "parquet_part",
        lambda tmp: _orders_projection(spark, sf_dir)
        .write.partitionBy("o_orderstatus")
        .parquet(tmp),
    )


@query("src_csv_roundtrip", oracle=_ORDERS_ORACLE, tags=("source", "csv"))
def src_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders → CSV sink → CSV source (explicit schema, header) — the
    oracle compares against the original parquet, so a pass proves the
    CSV writer/reader pair is lossless for these types."""
    out = derived(
        sf_dir,
        "csv",
        lambda tmp: _orders_projection(spark, sf_dir)
        .write.option("header", "true")
        .csv(tmp),
    )
    return spark.read.schema(_ORDERS_SCHEMA).option("header", "true").csv(out)


@query("src_json_roundtrip", oracle=_ORDERS_ORACLE, tags=("source", "json"))
def src_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders → JSON-lines sink → JSON source with explicit schema."""
    out = derived(
        sf_dir, "json", lambda tmp: _orders_projection(spark, sf_dir).write.json(tmp)
    )
    return spark.read.schema(_ORDERS_SCHEMA).json(out)


@query("src_orc_roundtrip", oracle=_ORDERS_ORACLE, tags=("source", "orc"))
def src_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders → ORC sink → ORC source (columnar alternative to parquet;
    schema from the ORC footer, vectorized reader)."""
    out = derived(
        sf_dir, "orc", lambda tmp: _orders_projection(spark, sf_dir).write.orc(tmp)
    )
    return spark.read.orc(out)


@query(
    "sink_partitioned_parquet",
    oracle="""
    SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
           CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_keys
    FROM orders GROUP BY o_orderstatus
    """,
    tags=("sink", "parquet"),
)
def sink_partitioned_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-style partitioned parquet sink (partitionBy o_orderstatus) read
    back with partition pruning available — the layout a 100 TB fact table
    actually ships with; per-partition counts must survive the round trip."""
    back = spark.read.parquet(_parquet_part_dir(spark, sf_dir))
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("o_orderkey").alias("n_keys"),
    )


@query(
    "join_bucketed",
    oracle="""
    SELECT o.o_orderstatus,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS sum_price_c,
           CAST(count(DISTINCT c.c_custkey) AS BIGINT) AS n_customers
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY o.o_orderstatus
    """,
    tags=("join", "bucketed", "sink"),
)
def join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed co-located join: both sides written bucketed+sorted on the
    join key (8 buckets, external tables), then joined WITHOUT any
    exchange — the bucketed scans already satisfy the join's required
    hash distribution, so the sort-merge join starts from the files.
    This is the layout contract for a 100 TB fact table that gets joined
    on the same key repeatedly: pay the shuffle once at write time, never
    at read time (tests/test_plans.py pins the exchange-free plan).
    Results are layout-independent — the oracle is the plain join."""
    names = []
    for table, key in (("orders", "o_custkey"), ("customer", "c_custkey")):
        # bucketBy writes only through saveAsTable, so the session catalog
        # is the completion check here; the table name carries the
        # derived generation, so a fixture rebuilt in place gets new tables
        path = derived_path(sf_dir, f"{table}_bkt")
        gen = os.path.basename(os.path.dirname(path))
        name = re.sub(r"\W", "_", f"{table}_bkt_{gen}")
        if not spark.catalog.tableExists(name):
            (
                load_table(spark, sf_dir, table)
                .write.mode("overwrite")
                .option("path", path)
                .bucketBy(8, key)
                .sortBy(key)
                .saveAsTable(name)
            )
        names.append(name)
    o, c = spark.table(names[0]), spark.table(names[1])
    # hint("merge"): force the sort-merge path so the plan demonstrates the
    # exchange-free bucketed join even though customer would broadcast
    return (
        o.hint("merge")
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
                "sum_price_c"
            ),
            F.countDistinct("c_custkey").alias("n_customers"),
        )
    )


@query(
    "src_schema_evolution",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice,
           CAST(NULL AS VARCHAR) AS o_orderpriority
    FROM orders WHERE o_orderkey % 2 = 0
    UNION ALL
    SELECT o_orderkey, o_custkey, CAST(NULL AS DOUBLE), o_orderpriority
    FROM orders WHERE o_orderkey % 2 = 1
    """,
    tags=("source", "schema-evolution"),
)
def src_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution across parquet batches: an early batch carries
    o_totalprice, a later batch dropped it and added o_orderpriority —
    exactly how long-lived 100 TB datasets actually look. mergeSchema
    unions the footers; rows surface NULL for columns their batch never
    had, which the oracle reproduces with explicit NULL padding. (Merge
    happens at planning from footers only — no data pass.)"""

    def build(tmp: str) -> None:
        o = load_table(spark, sf_dir, "orders")
        (
            o.filter(F.col("o_orderkey") % 2 == 0)
            .select("o_orderkey", "o_custkey", "o_totalprice")
            .write.parquet(f"{tmp}/batch=1")
        )
        (
            o.filter(F.col("o_orderkey") % 2 == 1)
            .select("o_orderkey", "o_custkey", "o_orderpriority")
            .write.parquet(f"{tmp}/batch=2")
        )

    out = derived(sf_dir, "parquet_evolve", build)
    return (
        spark.read.option("mergeSchema", "true")
        .parquet(f"{out}/batch=1", f"{out}/batch=2")
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
    )


def _textlines_dir(spark: SparkSession, sf_dir: str) -> str:
    """documents as ONE sorted plain-text file of "doc_id,lang" lines —
    shared fixture for the text-source and binary-source queries. A single
    sorted file makes the file CONTENT a pure function of the table, so
    even the binary read is oracle-checkable from the shared view."""

    def build(tmp: str) -> None:
        d = load_table(spark, sf_dir, "documents")
        (
            d.select(
                "doc_id",
                F.concat_ws(",", F.col("doc_id").cast("string"), F.col("lang")).alias(
                    "line"
                ),
            )
            .coalesce(1)
            .sortWithinPartitions("doc_id")
            .select("line")
            .write.text(tmp)
        )

    return derived(sf_dir, "textlines", build)


@query(
    "src_text_lines",
    oracle="SELECT doc_id, lang FROM documents",
    tags=("source", "text"),
)
def src_text_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plain-text line source: documents written as "doc_id,lang" lines,
    read back with spark.read.text and parsed with split() — the raw-text
    ingestion path (crawl dumps, log files) every corpus pipeline starts
    from. The oracle compares the parsed frame against the original view:
    a pass proves writer+reader+parse are lossless. At 100 TB this source
    is splittable per file (and within uncompressed files by line), so
    scan parallelism comes for free."""
    out = _textlines_dir(spark, sf_dir)
    lines = spark.read.text(out)
    parts = F.split(F.col("value"), ",")
    return lines.select(
        parts.getItem(0).cast("long").alias("doc_id"),
        parts.getItem(1).alias("lang"),
    )


@query(
    "src_binary_files",
    oracle="""
    WITH c AS (
        SELECT string_agg(CAST(doc_id AS VARCHAR) || ',' || lang || chr(10),
                          '' ORDER BY doc_id) AS body
        FROM documents
    )
    SELECT CAST(1 AS BIGINT) AS n_files,
           CAST(strlen(body) AS BIGINT) AS n_bytes,
           md5(body) AS content_md5
    FROM c
    """,
    tags=("source", "binary", "multimodal"),
)
def src_binary_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-file binary source (spark.read.format("binaryFile")) — the
    ingestion path for opaque media blobs (images/audio/PDFs) that
    llm/multimodal.py then decodes. Reads the single deterministic text
    file of _textlines_dir as bytes and reports (file count, byte length,
    content md5); because the file content is a pure function of the
    documents view, the oracle reconstructs the identical byte stream with
    string_agg and hashes it — i.e. even the BINARY read path is
    value-checked, not just row-counted. binaryFile is non-splittable per
    file by design (whole blob to one task): at 100 TB you parallelize
    across millions of blobs, and per-file tasks are exactly the
    reference's own unit of work (runner.cc:200)."""
    out = _textlines_dir(spark, sf_dir)
    files = spark.read.format("binaryFile").option(
        "pathGlobFilter", "part-*"
    ).load(out)
    return files.agg(
        F.count(F.lit(1)).alias("n_files"),
        F.sum(F.length(F.col("content"))).alias("n_bytes"),
        F.min(F.md5(F.col("content"))).alias("content_md5"),
    )


# ---- Z-order clustered layout: the data-layout fix for the reference's
# ---- multi-dimensional box-filter workload (runner.cc:174-182)

_Z_BITS = 8  # per-dimension quantization bits (3 dims -> 24-bit Z value)
# fixed quantization ranges for the three filter dimensions (TPC-H value
# domains; constants so the layout is deterministic and oracle-independent)
_Z_DIMS = (
    ("l_quantity", 1.0, 51.0),
    ("l_extendedprice", 900.0, 105000.0),
    ("l_discount", 0.0, 0.11),
)
_Z_FILES = 16


def _zvalue() -> F.Column:
    """24-bit Morton (Z-order) key: each dimension quantized to 8 bits over
    its fixed domain, bits interleaved so a range predicate on ANY of the
    three dimensions maps to contiguous-ish Z ranges — which is what turns
    per-file min/max stats into effective pruning for 3-D box filters."""
    cells = []
    for col, lo, hi in _Z_DIMS:
        q = F.floor(
            (F.col(col) - F.lit(lo)) / F.lit(hi - lo) * (1 << _Z_BITS)
        ).cast("int")
        cells.append(F.greatest(F.lit(0), F.least(F.lit((1 << _Z_BITS) - 1), q)))
    z = F.lit(0)
    for bit in range(_Z_BITS):
        for d, cell in enumerate(cells):
            z = z.bitwiseOR(
                F.shiftleft(
                    F.shiftright(cell, bit).bitwiseAND(F.lit(1)),
                    bit * len(cells) + d,
                )
            )
    return z


def zorder_dir(spark: SparkSession, sf_dir: str) -> str:
    """Materialize lineitem re-clustered by the Z key (range-partitioned
    into _Z_FILES files, sorted within each) — done once per sf_dir.
    At 100 TB this is the nightly OPTIMIZE/cluster job; the write is one
    range shuffle and the sort is within-partition."""

    def build(tmp: str) -> None:
        (
            load_table(spark, sf_dir, "lineitem")
            .withColumn("zval", _zvalue())
            .repartitionByRange(_Z_FILES, "zval")
            .sortWithinPartitions("zval")
            .drop("zval")
            .write.parquet(tmp)
        )

    return derived(sf_dir, "zorder", build)


@query(
    "sink_zorder_scan",
    oracle="""
    SELECT l_orderkey AS vid,
           min(l_quantity) AS x, min(l_extendedprice) AS y,
           CAST(count(*) AS BIGINT) AS n
    FROM lineitem
    WHERE l_quantity > 10 AND l_quantity < 20
      AND l_extendedprice > 20000 AND l_extendedprice < 60000
      AND l_discount > 0.02 AND l_discount < 0.08
    GROUP BY l_orderkey
    """,
    tags=("sink", "layout", "zorder"),
)
def sink_zorder_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's 3-D box filter over a Z-ORDER clustered copy of
    lineitem — the layout answer to its workload at 100 TB. A box
    predicate on (quantity, price, discount) hits a random row-major
    layout everywhere (no file prunable); after Morton-key clustering the
    same predicate's matches concentrate in few files, so parquet
    min/max stats skip most of the data before a byte is decoded
    (pruning measured in tests/test_zorder.py; typically ~half the files
    at this scale, and sharper as files multiply). Results must be
    IDENTICAL to the unclustered scan — the oracle runs on the original
    table, so the pass proves layout changes semantics not at all."""
    out = zorder_dir(spark, sf_dir)
    li = spark.read.parquet(out)
    return (
        li.filter(
            (F.col("l_quantity") > 10)
            & (F.col("l_quantity") < 20)
            & (F.col("l_extendedprice") > 20000)
            & (F.col("l_extendedprice") < 60000)
            & (F.col("l_discount") > 0.02)
            & (F.col("l_discount") < 0.08)
        )
        .groupBy(F.col("l_orderkey").alias("vid"))
        .agg(
            F.min("l_quantity").alias("x"),
            F.min("l_extendedprice").alias("y"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@query(
    "join_dpp_partitioned",
    oracle="""
    SELECT o.o_orderstatus, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS sum_price_c
    FROM orders o
    JOIN (SELECT 'F' AS status UNION ALL SELECT 'P') d
      ON o.o_orderstatus = d.status
    GROUP BY o.o_orderstatus
    """,
    tags=("join", "dpp", "partition-pruning"),
)
def join_dpp_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning: a fact table partitioned on the join key
    (the Hive-layout orders sink) joined to a filtered dim — Spark plans a
    DYNAMIC pruning subquery that evaluates the dim side FIRST and prunes
    fact partitions at runtime, so the scan never touches partitions whose
    keys the dim filtered out. At 100 TB (date- or status-partitioned
    facts) this is the difference between scanning 2 of N partitions and
    scanning all N — and it needs no hint, only the partitioned layout +
    equi-join. The plan shape (dynamicpruning#N in the scan's
    PartitionFilters) is pinned in tests/test_plans.py."""
    fact = spark.read.parquet(_parquet_part_dir(spark, sf_dir))
    # the dim must be FILE-based with a real filter predicate: DPP's
    # insertion rule requires a selective predicate on the build side, and
    # a filtered LocalRelation constant-folds away before the
    # PartitionPruning optimizer batch ever sees it
    dim_dir = derived(
        sf_dir,
        "status_dim",
        lambda tmp: spark.createDataFrame(
            [("F", "closed"), ("O", "open"), ("P", "pending")],
            "status string, label string",
        )
        .coalesce(1)
        .write.parquet(tmp),
    )
    dim = spark.read.parquet(dim_dir).filter(F.col("label") != "open")
    return (
        fact.join(dim, fact.o_orderstatus == dim.status)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
                "sum_price_c"
            ),
        )
    )


@query(
    "sink_compaction",
    oracle=f"""
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           {sql_fx_sum('l_quantity')} AS sum_qty_c,
           {sql_fx_sum('l_extendedprice')} AS sum_price_c,
           CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts
    FROM lineitem
    """,
    tags=("sink", "compaction"),
)
def sink_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction — the table-maintenance job every 100 TB
    parquet lake runs continuously (streaming ingest and fine-grained
    partitioning produce KB-scale files; each costs an open + footer parse
    + task schedule, and a million of them DDoSes the driver's listing).
    Stage a deliberately fragmented copy of lineitem (64 shards), compact
    with coalesce() — which merges splits WITHOUT a shuffle, the correct
    plan for compaction since row placement is irrelevant — and return
    exact content proofs (row count, fixed-point sums, distinct keys)
    from the COMPACTED output. The oracle computes the same proofs from
    the original table, so a pass certifies the compaction lost and
    duplicated nothing; the before/after file counts are pinned by
    tests/test_zorder.py::test_compaction_reduces_files."""
    frag = derived(
        sf_dir,
        "frag64",
        lambda tmp: load_table(spark, sf_dir, "lineitem")
        .repartition(64)
        .write.parquet(tmp),
    )
    out = derived(
        sf_dir,
        "compacted",
        lambda tmp: spark.read.parquet(frag).coalesce(4).write.parquet(tmp),
    )
    c = spark.read.parquet(out)
    return c.agg(
        F.count(F.lit(1)).alias("n_rows"),
        fx_sum("l_quantity").alias("sum_qty_c"),
        fx_sum("l_extendedprice").alias("sum_price_c"),
        F.countDistinct("l_partkey").alias("n_parts"),
    )


# ---- versioned snapshots (transaction-log time travel) ----


def _published_parts(tmp: str, base: str, sub: str) -> list[str]:
    """The parquet parts a build wrote under ``tmp/sub``, named where they
    live once ``tmp`` is published as ``base``: a manifest must name
    files that exist after the rename."""
    parts = [f for f in os.listdir(f"{tmp}/{sub}") if f.endswith(".parquet")]
    return sorted(f"{base}/{sub}/{f}" for f in parts)


def _write_manifest(path: str, doc: dict) -> None:
    import json

    with open(path, "w") as fh:
        json.dump(doc, fh)


def _versioned_dir(spark: SparkSession, sf_dir: str) -> str:
    """The versioned orders table: v0 = the open orders as data files,
    v1 = v0's files plus the 'F' orders appended as NEW files, each
    version a JSON manifest under ``_log`` naming its exact file list."""
    base = derived_path(sf_dir, "versioned")

    def build(tmp: str) -> None:
        o = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderstatus", "o_totalprice"
        )
        os.makedirs(f"{tmp}/_log")
        o.filter(F.col("o_orderstatus") == "O").write.parquet(f"{tmp}/data/batch0")
        v0_files = _published_parts(tmp, base, "data/batch0")
        _write_manifest(f"{tmp}/_log/v0.json", {"version": 0, "files": v0_files})
        o.filter(F.col("o_orderstatus") == "F").write.parquet(f"{tmp}/data/batch1")
        v1_files = v0_files + _published_parts(tmp, base, "data/batch1")
        _write_manifest(f"{tmp}/_log/v1.json", {"version": 1, "files": v1_files})

    return derived(sf_dir, "versioned", build)


@query(
    "sink_versioned_snapshot",
    oracle="""
    SELECT 0 AS version, CAST(count(*) AS BIGINT) AS n,
           CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_keys,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS sum_price_c
    FROM orders WHERE o_orderstatus = 'O'
    UNION ALL
    SELECT 1 AS version, CAST(count(*) AS BIGINT) AS n,
           CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_keys,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS sum_price_c
    FROM orders WHERE o_orderstatus IN ('O', 'F')
    """,
    tags=("sink", "versioned", "time-travel"),
)
def sink_versioned_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-versioned table with time travel — the transaction-log
    mechanism at the core of every lakehouse format (Delta/Iceberg),
    built on plain parquet + a JSON manifest per version: v0 writes the
    open orders as data files and records their paths; v1 APPENDS the
    'F' orders as NEW files and records v0's files + the new ones.
    Readers resolve a version's manifest to its exact file list, so
    (a) appends never rewrite existing data, (b) a reader pinned to v0
    is isolated from v1's commit, and (c) time travel is just reading
    an older manifest. At 100 TB this is why table formats win over
    directory listings: the manifest IS the scan's file list — no
    eventually-consistent listing, O(1) commits.

    Both snapshot reads go through the manifests (spark.read.parquet on
    the resolved file lists); the oracle states the equivalent logical
    content per version, so the manifest resolution itself is what is
    being checked."""
    import json as _json

    logd = f"{_versioned_dir(spark, sf_dir)}/_log"

    def snapshot(version: int) -> DataFrame:
        with open(f"{logd}/v{version}.json") as fh:
            manifest = _json.load(fh)
        df = spark.read.parquet(*manifest["files"])
        return df.agg(
            F.lit(version).cast("int").alias("version"),
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("o_orderkey").alias("n_keys"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("sum_price_c"),
        ).select("version", "n", "n_keys", "sum_price_c")

    return snapshot(0).unionAll(snapshot(1))


_MANIFEST_SHARDS = 8


@query(
    "sink_stats_manifest",
    oracle=f"""
    SELECT CAST(o_orderkey % {_MANIFEST_SHARDS} AS BIGINT) AS shard,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(min(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS min_price_c,
           CAST(max(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS max_price_c,
           CAST(min(o_orderkey) AS BIGINT) AS min_key,
           CAST(max(o_orderkey) AS BIGINT) AS max_key
    FROM orders
    GROUP BY 1
    """,
    tags=("sink", "stats", "data-skipping"),
)
def sink_stats_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-skipping stats manifest built from REAL parquet footers: the
    table is written in {_MANIFEST_SHARDS} hash shards (one file each),
    then the manifest rows come from each file's parquet row-group
    METADATA (pyarrow footer statistics — min/max/count), not from
    re-scanning data. This is the zone-map/skipping index every lake
    format maintains (Iceberg manifests, Delta stats, the min/max pruning
    sink_zorder_scan exploits): a scan planner consults these rows to
    skip whole files. The oracle recomputes the same stats relationally —
    footer stats must agree with the data EXACTLY or pruning would be
    wrong.

    Plan: one repartition-by-shard write (the shuffle pays for the
    layout, as any clustering write does); the manifest build touches
    ONLY footers (KB per file at any scale)."""
    import pyarrow.parquet as _pq

    def build(tmp: str) -> None:
        (
            load_table(spark, sf_dir, "orders")
            .select(
                "o_orderkey",
                (F.col("o_orderkey") % _MANIFEST_SHARDS).alias("shard"),
                F.round(F.col("o_totalprice") * 100).cast("long").alias("price_c"),
            )
            .repartition(_MANIFEST_SHARDS, "shard")
            .sortWithinPartitions("o_orderkey")
            .write.partitionBy("shard")
            .parquet(tmp)
        )

    out = derived(sf_dir, "stats_manifest", build)
    import glob as _glob

    rows = []
    for shard_dir in sorted(_glob.glob(f"{out}/shard=*")):
        shard = int(shard_dir.rsplit("=", 1)[1])
        n, mn_p, mx_p, mn_k, mx_k = 0, None, None, None, None
        for f in sorted(_glob.glob(f"{shard_dir}/*.parquet")):
            md = _pq.ParquetFile(f).metadata
            cols = {
                md.schema.column(i).name: i for i in range(md.num_columns)
            }
            for rg in range(md.num_row_groups):
                g = md.row_group(rg)
                n += g.num_rows
                sp = g.column(cols["price_c"]).statistics
                sk = g.column(cols["o_orderkey"]).statistics
                mn_p = sp.min if mn_p is None else min(mn_p, sp.min)
                mx_p = sp.max if mx_p is None else max(mx_p, sp.max)
                mn_k = sk.min if mn_k is None else min(mn_k, sk.min)
                mx_k = sk.max if mx_k is None else max(mx_k, sk.max)
        rows.append((shard, n, mn_p, mx_p, mn_k, mx_k))
    return spark.createDataFrame(
        rows,
        "shard long, n_rows long, min_price_c long, max_price_c long,"
        " min_key long, max_key long",
    )


@query(
    "table_cdf_diff",
    oracle="""
    SELECT o_orderkey, 'insert' AS op,
           o_orderstatus,
           CAST(round(o_totalprice * 100) AS BIGINT) AS price_c
    FROM orders WHERE o_orderstatus = 'F' AND o_orderkey % 20 = 0
    """,
    tags=("sink", "versioned", "cdc"),
)
def table_cdf_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change data feed between snapshots — the lakehouse CDF read
    (Delta's table_changes / Iceberg's incremental scan) on top of
    sink_versioned_snapshot's manifests: the diff of v1 vs v0 is
    computed from the MANIFESTS (files in v1 but not v0 contain exactly
    the appended rows — append-only commits make the file-set diff the
    row-set diff, no data comparison needed), emitted as op-tagged
    change rows. A downstream consumer applies this delta instead of
    re-reading the table — the incremental-consumption contract that
    pairs with mv_incremental_refresh/stream_incremental_mv.

    Plan: manifest set-difference is metadata-only; the change scan
    reads ONLY the new files. The oracle states the expected change set
    relationally (the 'F' batch appended at v1)."""
    import json as _json

    logd = f"{_versioned_dir(spark, sf_dir)}/_log"
    with open(f"{logd}/v0.json") as fh:
        v0 = set(_json.load(fh)["files"])
    with open(f"{logd}/v1.json") as fh:
        v1 = _json.load(fh)["files"]
    new_files = [f for f in v1 if f not in v0]
    changes = spark.read.parquet(*new_files)
    return changes.filter(F.col("o_orderkey") % 20 == 0).select(
        "o_orderkey",
        F.lit("insert").alias("op"),
        "o_orderstatus",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("price_c"),
    )


@query(
    "src_nested_json",
    oracle="""
    SELECT o_orderkey,
           o_orderstatus AS status,
           CAST(round(o_totalprice * 100) AS BIGINT) AS price_c,
           CAST(o_orderkey % 5 AS BIGINT) + 0 AS tag0,
           CAST(o_orderkey % 7 AS BIGINT) * 10 AS tag1
    FROM orders WHERE o_orderkey % 25 = 0
    """,
    tags=("source", "json", "nested"),
)
def src_nested_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NESTED JSON source round-trip: each order serializes to a document
    with a nested struct (`meta{status, price_c}`) and an array field
    (`tags[2]`), lands as JSON lines, and is read back with SCHEMA
    INFERENCE (no schema given to the reader) — the semi-structured
    ingestion path crawl/API data arrives through. The check flattens
    the nested fields back to scalars, so inference fidelity (struct
    nesting, array element types, int widths) is what the oracle
    verifies; fn_json/fn_json_variant cover in-row JSON, this covers
    JSON as a TABLE FORMAT.

    Plan: write once (struct/array construction is codegen), inferred
    read samples the files once, then flattening is pure projection —
    no shuffle anywhere."""

    def build(tmp: str) -> None:
        o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 25 == 0)
        o.select(
            "o_orderkey",
            F.struct(
                F.col("o_orderstatus").alias("status"),
                F.round(F.col("o_totalprice") * 100).cast("long").alias("price_c"),
            ).alias("meta"),
            F.array(
                (F.col("o_orderkey") % 5).cast("long"),
                (F.col("o_orderkey") % 7).cast("long"),
            ).alias("tags"),
        ).write.json(tmp)

    out = derived(sf_dir, "nested_json", build)
    back = spark.read.json(out)  # schema inferred
    return back.select(
        "o_orderkey",
        F.col("meta.status").alias("status"),
        F.col("meta.price_c").cast("long").alias("price_c"),
        (F.element_at("tags", 1) + 0).cast("long").alias("tag0"),
        (F.element_at("tags", 2) * 10).cast("long").alias("tag1"),
    )


@query(
    "sink_vacuum_retention",
    oracle="""
    SELECT 1 AS version,
           CAST(count(*) AS BIGINT) AS n,
           CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_keys,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS sum_price_c,
           CAST(2 AS BIGINT) AS n_files_live,
           CAST(4 AS BIGINT) AS n_files_deleted
    FROM orders WHERE o_orderstatus = 'O'
    """,
    tags=("sink", "versioned", "vacuum"),
)
def sink_vacuum_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VACUUM with retention — the garbage-collection half of the
    transaction-log story sink_versioned_snapshot starts: v0 writes the
    open orders as 4 data files; v1 REWRITES the table (compaction-style,
    2 files) so v0's files become unreferenced-but-present (that is what
    keeps time travel alive); vacuum then deletes every data file the
    retained manifest set (latest only) does not reference. The report
    carries the post-vacuum snapshot's exact content proof PLUS the
    pinned file accounting (2 live, 4 deleted) — the oracle states both,
    so a vacuum that deleted a live file (content drift) or missed an
    orphan (count drift) fails the hash. At 100 TB vacuum is what keeps
    object-store cost linear in LIVE data, and the manifest-difference
    formulation is exactly Delta/Iceberg's: no directory listing, the
    log names every candidate.

    Plan: two bounded writes + one manifest set-difference on the driver
    (file NAMES, never data) + one read of the 2 live files."""
    import glob
    import json as _json

    base = derived_path(sf_dir, "vacuum")

    def build(tmp: str) -> None:
        o = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderstatus", "o_totalprice"
        ).filter(F.col("o_orderstatus") == "O")
        os.makedirs(f"{tmp}/_log")
        o.repartition(4).write.parquet(f"{tmp}/data/b0")
        v0_files = _published_parts(tmp, base, "data/b0")
        _write_manifest(f"{tmp}/_log/v0.json", {"version": 0, "files": v0_files})
        spark.read.parquet(f"{tmp}/data/b0").coalesce(2).write.parquet(f"{tmp}/data/b1")
        v1_files = _published_parts(tmp, base, "data/b1")
        _write_manifest(f"{tmp}/_log/v1.json", {"version": 1, "files": v1_files})
        # vacuum: delete data files not referenced by the retained set
        for p in set(v0_files) - set(v1_files):
            os.remove(p.replace(base, tmp, 1))

    derived(sf_dir, "vacuum", build)
    data, logd = f"{base}/data", f"{base}/_log"
    with open(f"{logd}/v0.json") as fh:
        v0 = _json.load(fh)
    with open(f"{logd}/v1.json") as fh:
        manifest = _json.load(fh)
    # measure the REAL post-vacuum filesystem state, not the report the
    # vacuum step itself wrote (ADVICE r6: pinned literals on both sides
    # made the count columns tautological): live = manifest files still on
    # disk, deleted = manifest-named files vacuum actually removed. The
    # oracle pins 2/4 from the fixture arithmetic, so a vacuum that ate a
    # live file or missed an orphan drifts here and fails the hash.
    on_disk = set(glob.glob(f"{data}/*/*.parquet"))
    referenced = set(v0["files"]) | set(manifest["files"])
    n_live = len(set(manifest["files"]) & on_disk)
    n_deleted = len(referenced - on_disk)
    df = spark.read.parquet(*manifest["files"])
    return df.agg(
        F.lit(1).cast("int").alias("version"),
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("o_orderkey").alias("n_keys"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("sum_price_c"),
        F.lit(n_live).cast("long").alias("n_files_live"),
        F.lit(n_deleted).cast("long").alias("n_files_deleted"),
    ).select(
        "version", "n", "n_keys", "sum_price_c", "n_files_live",
        "n_files_deleted",
    )


_TYPE_CANON_SQL = """
    CASE data_type
        WHEN 'INTEGER' THEN 'int'
        WHEN 'BIGINT' THEN 'bigint'
        WHEN 'VARCHAR' THEN 'string'
        WHEN 'DOUBLE' THEN 'double'
        WHEN 'FLOAT' THEN 'float'
        WHEN 'TIMESTAMP' THEN 'timestamp'
        WHEN 'TIMESTAMP_NS' THEN 'timestamp'
        WHEN 'FLOAT[]' THEN 'array<float>'
        ELSE lower(data_type)
    END
"""


def _catalog_oracle() -> str:
    # ordinal from information_schema.columns.ordinal_position — a defined
    # ordering key; the previous row_number() OVER () on DESCRIBE output
    # had no ordering guarantee (ADVICE r6)
    from ocs_duckdb_runner_spark.registry import TABLES

    names = ", ".join(f"'{t}'" for t in TABLES)
    return f"""
        SELECT table_name, column_name,
               CAST(ordinal_position AS BIGINT) AS ordinal,
               {_TYPE_CANON_SQL} AS data_type
        FROM information_schema.columns
        WHERE table_name IN ({names})
        ORDER BY table_name, ordinal
    """


@query(
    "catalog_describe",
    oracle=_catalog_oracle(),
    tags=("catalog", "metadata"),
)
def catalog_describe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog introspection — one row per (table, column) with ordinal
    and a CANONICAL type name, for every fixture table: the
    SHOW-TABLES/DESCRIBE surface a user points BI tools and schema-drift
    monitors at. The interesting part is the cross-engine type
    canonicalization (Spark `timestamp_ntz`/DuckDB `TIMESTAMP_NS` both
    normalize to `timestamp`, `FLOAT[]` to `array<float>`) — the same
    mapping a migration off the reference needs, stated once and
    oracle-checked.

    Plan: pure metadata — parquet FOOTERS only on the Spark side (one
    schema probe per table through the normalizing loader, no data
    scan), assembled driver-side into a local frame; the oracle runs
    DESCRIBE per registered view."""
    from ocs_duckdb_runner_spark.registry import TABLES, load_table

    rows = []
    for t in TABLES:
        schema = load_table(spark, sf_dir, t).schema
        for i, f in enumerate(schema.fields, start=1):
            dt = f.dataType.simpleString()
            if dt == "timestamp_ntz":
                dt = "timestamp"
            rows.append((t, f.name, i, dt))
    # sorted here, shipped as a one-slice parallelize: a distributed
    # orderBy on a driver-built 50-row frame schedules sample + exchange
    # + sort jobs for nothing (r13, the _pagerank_driver finding)
    rows.sort(key=lambda r: (r[0], r[2]))
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1),
        "table_name string, column_name string, ordinal long,"
        " data_type string",
    )
