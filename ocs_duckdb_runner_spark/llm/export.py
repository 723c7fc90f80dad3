"""Training-data export operators: deterministic sharding and sequence
packing — the last mile of a pretraining pipeline, where a cleaned corpus
becomes fixed-size shard files of fixed-length context windows.

Both operators derive layout from md5 of the row key, never from engine
RNG or physical partitioning, so the export is bit-reproducible on any
cluster at any parallelism (same philosophy as operators/sampling.py).
In production the sharded frame feeds ``df.write.partitionBy("shard")``
(see ``sink_partitioned_parquet``) — these queries compute and verify the
layout itself: shard balance, manifest fingerprints, window fill.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ocs_duckdb_runner_spark.registry import load_table, query
from ocs_duckdb_runner_spark.session import scoped_cache

# 16 shards from the first md5 hex char of the doc key. Uniform by
# construction; at a real export you'd take 3-4 chars (4096-65536 shards)
# so each shard lands near the DFS block size.
_SHARD_SQL = "strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1"


def _shard_col() -> F.Column:
    # Spark's locate(substr, str) is 1-based like DuckDB's strpos(str,
    # substr) with swapped argument order; both return 0 on no-match,
    # which can't happen over md5 hex output.
    return F.expr(
        "cast(locate(substr(md5(cast(doc_id as string)), 1, 1),"
        " '0123456789abcdef') - 1 as int)"
    )


def _h_col() -> F.Column:
    return F.md5(F.col("doc_id").cast("string"))


@query(
    "export_shards",
    oracle=f"""
    WITH d AS (
        SELECT doc_id, n_chars,
               md5(CAST(doc_id AS VARCHAR)) AS h,
               CAST({_SHARD_SQL} AS INT) AS shard
        FROM documents
    )
    SELECT shard,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           md5(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY h))
               AS manifest_fp
    FROM d
    GROUP BY shard
    ORDER BY shard
    """,
    tags=("llm", "export", "shard"),
)
def export_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-sharding for training-data export: every document
    is assigned one of 16 shards by the first md5 hex char of its key, and
    each shard gets a content manifest fingerprint — md5 over its doc_ids
    in hash order. Identical input ⇒ identical shard membership, identical
    within-shard order, identical manifest, on any cluster layout: the
    property that makes a 100 TB export resumable and auditable.

    The aggregation is one shuffle keyed by shard; the manifest needs the
    within-shard order, so the per-shard doc list is collected as
    (h, doc_id) structs, sorted, joined and hashed — at export scale you'd
    instead write ``partitionBy("shard")`` with ``sortWithinPartitions(h)``
    and fingerprint per file; the arithmetic here is that manifest's exact
    definition. Shard balance (n_docs, total_chars) is the skew check an
    export job gates on before burning cluster hours on the write."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "n_chars",
        _h_col().alias("h"),
        _shard_col().alias("shard"),
    )
    manifest = F.md5(
        F.array_join(
            F.transform(
                F.sort_array(
                    F.collect_list(
                        F.struct(
                            F.col("h").alias("h"),
                            F.col("doc_id").cast("string").alias("doc_id"),
                        )
                    )
                ),
                lambda s: s.getField("doc_id"),
            ),
            ",",
        )
    )
    return (
        d.groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            manifest.alias("manifest_fp"),
        )
        .orderBy("shard")
    )


@query(
    "pack_sequences",
    oracle=f"""
    WITH d AS (
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
               md5(CAST(doc_id AS VARCHAR)) AS h,
               CAST({_SHARD_SQL} AS INT) AS shard
        FROM documents
    ), cum AS (
        SELECT shard, n_tok,
               coalesce(sum(n_tok) OVER (PARTITION BY shard ORDER BY h
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS cum_before
        FROM d
    )
    SELECT shard,
           CAST(cum_before // 512 AS BIGINT) AS bin,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS n_tokens
    FROM cum
    GROUP BY shard, cum_before // 512
    ORDER BY shard, bin
    """,
    tags=("llm", "export", "pack"),
)
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for pretraining: concatenate documents in a
    deterministic order and cut every 512 tokens — each document is
    assigned to the context window (bin) where it STARTS. This is the
    concat-and-chunk packing GPT-style pipelines use to waste no context
    length on padding.

    The global concatenation order would serialize on one executor, so
    packing is per-shard (the md5-hash shards of ``export_shards``): each
    shard packs independently under a window partitioned by shard and
    ordered by the doc hash — 16 independent cumulative sums today,
    65536 at export scale, each sized to fit an executor. The cumulative
    sum EXCLUDES the current doc (ROWS ... AND 1 PRECEDING), making the
    bin boundary exact integer arithmetic on both engines; the report is
    (shard, bin) → docs packed + token fill, i.e. the packing efficiency
    audit (windows at ~512 tokens = good, long tails = fragmentation)."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tok"),
        _h_col().alias("h"),
        _shard_col().alias("shard"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = d.select(
        "shard",
        "n_tok",
        F.coalesce(F.sum("n_tok").over(w), F.lit(0)).alias("cum_before"),
    )
    return (
        cum.groupBy(
            "shard", F.floor(F.col("cum_before") / 512).cast("long").alias("bin")
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("n_tokens"),
        )
        .orderBy("shard", "bin")
    )


@query(
    "corpus_mixture",
    oracle="""
    WITH w AS (
        SELECT doc_id, source,
               CASE WHEN CAST(substr(source, 4) AS INT) % 3 = 0 THEN 3
                    WHEN CAST(substr(source, 4) AS INT) % 3 = 1 THEN 2
                    ELSE 1 + CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)),
                                              1, 4) < '8000'
                                  THEN 1 ELSE 0 END END AS n_copies
        FROM documents
    )
    SELECT doc_id, source, CAST(unnest(generate_series(1, n_copies)) AS INT)
               AS copy
    FROM w
    """,
    tags=("llm", "export", "mixture"),
)
def corpus_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus mixture construction — the epoch-weighting step of a
    pretraining data recipe: each source gets an integer-or-fractional
    repeat factor (here: 3×, 2×, or 1.5× by source group), and fractional
    weights are resolved per document by deterministic hash threshold, so
    a 1.5× source repeats exactly its md5-lower half twice. The output is
    the materialized instance list (doc_id, copy) a sequence-packing step
    consumes.

    Map-side only: weight is a CASE over the source column, the repeat is
    explode(sequence(1, w)) — a lateral that amplifies rows without any
    shuffle. At 100 TB the amplification happens AFTER filtering/packing
    decisions, never as a stored copy: this query IS that contract (the
    2.2× instance blow-up exists only in the exploded stream)."""
    d = load_table(spark, sf_dir, "documents")
    src_num = F.substring(F.col("source"), 4, 10).cast("int")
    frac = F.when(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4) < "8000", 1
    ).otherwise(0)
    n_copies = (
        F.when(src_num % 3 == 0, F.lit(3))
        .when(src_num % 3 == 1, F.lit(2))
        .otherwise(F.lit(1) + frac)
    )
    return d.select(
        "doc_id",
        "source",
        F.explode(F.sequence(F.lit(1), n_copies)).alias("copy"),
    )


@query(
    "corpus_lang_cap",
    oracle="""
    WITH scored AS (
        SELECT doc_id, lang,
               CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
                   AS vocab,
               row_number() OVER (
                   PARTITION BY lang
                   ORDER BY len(list_distinct(string_split(text, ' '))) DESC,
                            doc_id) AS rk
        FROM documents
    )
    SELECT doc_id, lang, vocab, CAST(rk AS BIGINT) AS rk
    FROM scored WHERE rk <= 50
    """,
    tags=("llm", "export", "cap"),
)
def corpus_lang_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-balanced corpus capping: keep the top-50 documents per
    language by a quality score (distinct-token vocabulary richness,
    doc_id tie-break) — the step that stops one dominant language from
    swamping a multilingual mix.

    Per-group top-k via row_number ≤ k compiles to WindowGroupLimit: each
    map task keeps a 50-row heap per language before the shuffle, so the
    exchange carries ~k·langs·tasks rows, not the corpus — the same
    bounded-shuffle plan shape pinned for window_topk_per_group. Integer
    score + integer tie-break ⇒ the capped set is unique and engine-
    independent."""
    d = load_table(spark, sf_dir, "documents")
    vocab = F.size(F.array_distinct(F.split(F.col("text"), " "))).cast("long")
    w = Window.partitionBy("lang").orderBy(
        F.col("vocab").desc(), F.col("doc_id")
    )
    return (
        d.select("doc_id", "lang", vocab.alias("vocab"))
        .withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= 50)
    )


@query(
    "incremental_dedup",
    oracle="""
    WITH batch AS (
        SELECT doc_id, md5(text) AS fp FROM documents WHERE doc_id % 10 < 2
    ), corpus AS (
        SELECT DISTINCT md5(text) AS fp FROM documents WHERE doc_id % 10 >= 2
    ), novel AS (
        SELECT b.doc_id, b.fp FROM batch b
        WHERE NOT EXISTS (SELECT 1 FROM corpus c WHERE c.fp = b.fp)
    )
    SELECT doc_id, fp FROM (
        SELECT doc_id, fp,
               row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rk
        FROM novel)
    WHERE rk = 1
    """,
    tags=("llm", "dedup", "incremental"),
)
def incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingest dedup — the steady-state shape of a crawl
    pipeline: a new snapshot batch (doc_id % 10 < 2 plays the increment)
    is deduplicated AGAINST the existing corpus (anti join on content
    fingerprint) and then WITHIN itself (keep lowest doc_id per
    fingerprint). Only fingerprints ever shuffle — 16-byte md5 keys, never
    text — so the increment cost scales with the batch, not the corpus:
    at 100 TB the corpus side is a bucketed/sorted fingerprint index the
    anti join probes, and the within-batch keeper is a WindowGroupLimit
    over the (small) surviving batch."""
    d = load_table(spark, sf_dir, "documents")
    fp = F.md5(F.col("text").cast("binary"))
    batch = d.filter(F.col("doc_id") % 10 < 2).select(
        "doc_id", fp.alias("fp")
    )
    corpus = d.filter(F.col("doc_id") % 10 >= 2).select(fp.alias("fp")).distinct()
    novel = batch.join(corpus, "fp", "left_anti")
    w = Window.partitionBy("fp").orderBy("doc_id")
    return (
        novel.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("doc_id", "fp")
    )


def _pretrain_oracle() -> str:
    from ocs_duckdb_runner_spark.llm.dedup import _SQL_GRAM6

    return f"""
    WITH base AS (
        SELECT doc_id, source, md5(text) AS fp,
               string_split(text, ' ') AS toks,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
               CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
                   AS n_dis
        FROM documents
    ), train AS (
        SELECT * FROM base
        WHERE doc_id % 19 <> 0
          AND n_tok >= 20
          AND (n_tok - n_dis) / n_tok <= 0.92
    ), kept AS (
        SELECT * FROM (
            SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id)
                   AS rk
            FROM train)
        WHERE rk = 1
    ), bench AS (
        SELECT DISTINCT unnest({_SQL_GRAM6}) AS g
        FROM base WHERE doc_id % 19 = 0
    ), kg AS (
        SELECT doc_id, unnest({_SQL_GRAM6}) AS g FROM kept
    ), contaminated AS (
        SELECT DISTINCT kg.doc_id FROM kg JOIN bench b ON b.g = kg.g
    ), clean AS (
        SELECT k.* FROM kept k
        WHERE k.doc_id NOT IN (SELECT doc_id FROM contaminated)
    ), mix AS (
        SELECT doc_id, n_tok,
               CAST({_SHARD_SQL} AS INT) AS shard,
               CASE WHEN CAST(substr(source, 4) AS INT) % 3 = 0 THEN 3
                    WHEN CAST(substr(source, 4) AS INT) % 3 = 1 THEN 2
                    ELSE 1 + CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)),
                                              1, 4) < '8000'
                                  THEN 1 ELSE 0 END END AS n_copies
        FROM clean
    )
    SELECT shard,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_copies) AS BIGINT) AS n_instances,
           CAST(sum(n_tok * n_copies) AS BIGINT) AS n_tokens
    FROM mix
    GROUP BY shard
    ORDER BY shard
    """


@query(
    "pipeline_pretrain_end2end",
    oracle=_pretrain_oracle(),
    tags=("llm", "export", "pipeline"),
)
def pipeline_pretrain_end2end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full corpus-construction pipeline as ONE composed query —
    quality gate → exact dedup → benchmark decontamination → epoch
    mixture → hash-sharded export report. Each stage is the production
    form of an operator proven individually (text_repetition's signals,
    incremental_dedup's fingerprint keeper, decontaminate_ngram's gram
    join, corpus_mixture's weights, export_shards' layout); the
    composition proves they stack without materialization between stages.

    Plan: ONE tokenize scan persisted, then fingerprint keeper (16-byte
    key shuffle), gram anti join (md5 keys, bench side AQE-broadcast),
    map-side mixture weights + shard assignment, final 16-group
    aggregate. Nothing re-reads the corpus; the only wide exchanges carry
    hashes or (shard) keys. The per-shard (docs, instances, tokens)
    report is the artifact a training job consumes as its data card."""
    from ocs_duckdb_runner_spark.registry import spread

    d = load_table(spark, sf_dir, "documents")
    with scoped_cache() as persist:
        base = persist(
            spread(
                d.select(
                    "doc_id",
                    "source",
                    F.md5(F.col("text").cast("binary")).alias("fp"),
                    F.split(F.col("text"), " ").alias("toks"),
                )
            )
            .withColumn("n_tok", F.size("toks").cast("long"))
            .withColumn("n_dis", F.size(F.array_distinct("toks")).cast("long"))
        )
        train = base.filter(
            (F.col("doc_id") % 19 != 0)
            & (F.col("n_tok") >= 20)
            & ((F.col("n_tok") - F.col("n_dis")) / F.col("n_tok") <= 0.92)
        )
        w = Window.partitionBy("fp").orderBy("doc_id")
        kept = persist(
            train.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") == 1)
        )
        from ocs_duckdb_runner_spark.llm.dedup import gram6_hashes

        bench = (
            base.filter(F.col("doc_id") % 19 == 0)
            .select(F.explode(gram6_hashes()).alias("g"))
            .distinct()
        )
        kg = kept.select("doc_id", F.explode(gram6_hashes()).alias("g"))
        contaminated = kg.join(bench, "g").select("doc_id").distinct()
        clean = kept.join(contaminated, "doc_id", "left_anti")
        src_num = F.substring(F.col("source"), 4, 10).cast("int")
        frac = F.when(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4) < "8000", 1
        ).otherwise(0)
        n_copies = (
            F.when(src_num % 3 == 0, F.lit(3))
            .when(src_num % 3 == 1, F.lit(2))
            .otherwise(F.lit(1) + frac)
        )
        out = (
            clean.select(
                "doc_id",
                "n_tok",
                _shard_col().alias("shard"),
                n_copies.alias("n_copies"),
            )
            .groupBy("shard")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum("n_copies").alias("n_instances"),
                F.sum(F.col("n_tok") * F.col("n_copies")).alias("n_tokens"),
            )
            .orderBy("shard")
        )
        return out.localCheckpoint(eager=True)


@query(
    "split_train_eval",
    oracle="""
    WITH assigned AS (
        SELECT doc_id, lang,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
               CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'e666'
                        THEN 'train'
                    WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'f333'
                        THEN 'val'
                    ELSE 'test' END AS split
        FROM documents
    )
    SELECT split,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS n_tokens,
           CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
    FROM assigned
    GROUP BY split
    ORDER BY split
    """,
    tags=("llm", "export", "split"),
)
def split_train_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split (~90/5/5) by md5 hex prefix of
    the document key — the eval-holdout step every training pipeline runs
    before export. Hash assignment (not row_number, not rand()) means a
    document's split is a pure function of its key: stable under
    re-partitioning, re-runs, incremental appends, and engine choice —
    append a new crawl snapshot and no existing document ever migrates
    between splits (migration = eval contamination).

    Map-side assignment + one 3-group aggregate; the report (docs, tokens,
    language coverage per split) is the audit a data card needs. Thresholds
    are hex-string prefixes ('e666' ≈ 0.9, 'f333' ≈ 0.95 of the 16-bit
    space) so both engines compare identically on the md5 text form."""
    d = load_table(spark, sf_dir, "documents")
    h4 = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4)
    split = (
        F.when(h4 < "e666", "train").when(h4 < "f333", "val").otherwise("test")
    )
    return (
        d.select(
            split.alias("split"),
            F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tok"),
            "lang",
        )
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("n_tokens"),
            F.countDistinct("lang").alias("n_langs"),
        )
        .orderBy("split")
    )


# ---- deterministic training-order shuffle ----

SHUFFLE_SHARDS = 8


@query(
    "corpus_shuffle_order",
    oracle=f"""
    WITH keyed AS (
        SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS h
        FROM documents
    )
    SELECT doc_id,
           CAST(CAST(('0x' || substr(h, 1, 2)) AS INTEGER)
                % {SHUFFLE_SHARDS} AS BIGINT) AS shard,
           CAST(row_number() OVER (
             PARTITION BY CAST(('0x' || substr(h, 1, 2)) AS INTEGER)
                          % {SHUFFLE_SHARDS}
             ORDER BY h, doc_id) AS BIGINT) AS pos
    FROM keyed
    """,
    tags=("llm", "export", "shuffle"),
)
def corpus_shuffle_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global training-order shuffle: every document gets a
    (shard, pos) coordinate — shard from its md5 prefix, position from the
    md5 order WITHIN the shard. Reading shards 0..S-1 each in pos order
    yields a fixed pseudorandom permutation of the corpus: reproducible
    across runs/clusters (pure function of doc_id), resumable (a checkpoint
    is a (shard, pos) pair), and append-stable within untouched shards.
    This is how a 100 TB corpus gets 'shuffled' for training without a
    global sort: S independent per-shard sorts (one exchange keyed by
    shard; each reducer sorts only corpus/S), not one N-row total order —
    the same WindowGroupLimit-style decomposition export_shards uses."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    h = F.md5(F.col("doc_id").cast("string"))
    shard = (
        F.conv(F.substring(h, 1, 2), 16, 10).cast("int") % SHUFFLE_SHARDS
    )
    keyed = d.select("doc_id", h.alias("h"), shard.alias("shard"))
    w = Window.partitionBy("shard").orderBy("h", "doc_id")
    return keyed.select(
        "doc_id",
        F.col("shard").cast("long").alias("shard"),
        F.row_number().over(w).cast("long").alias("pos"),
    )


# ---- preference-pair construction (DPO/RLHF dataset shape) ----

DPO_BUCKETS = 20


@query(
    "pipeline_dpo_pairs",
    oracle=f"""
    WITH scored AS (
        SELECT doc_id, source,
               CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))
                    AS BIGINT) % {DPO_BUCKETS} AS bucket,
               CAST(n_chars AS BIGINT) * 1000000
                 + CAST(len(list_distinct(string_split(text, ' ')))
                        AS BIGINT) AS q
        FROM documents WHERE n_chars > 0
    ),
    ranked AS (
        SELECT source, bucket, doc_id, q,
               row_number() OVER (PARTITION BY source, bucket
                                  ORDER BY q DESC, doc_id) AS rhi,
               row_number() OVER (PARTITION BY source, bucket
                                  ORDER BY q ASC, doc_id) AS rlo
        FROM scored
    )
    SELECT hi.source, CAST(hi.bucket AS BIGINT) AS bucket,
           hi.doc_id AS chosen_id, lo.doc_id AS rejected_id,
           CAST(hi.q - lo.q AS BIGINT) AS margin
    FROM (SELECT * FROM ranked WHERE rhi = 1) hi
    JOIN (SELECT * FROM ranked WHERE rlo = 1) lo
      ON hi.source = lo.source AND hi.bucket = lo.bucket
    WHERE hi.doc_id <> lo.doc_id
    """,
    tags=("llm", "export", "preference"),
)
def pipeline_dpo_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Preference-pair construction — the DPO/RLHF dataset shape: within
    each (source, hash-bucket) cohort, pair the highest-quality document
    (chosen) with the lowest (rejected), with the quality margin carried
    for filtering/weighting. The quality score is a deterministic integer
    composite (n_chars-dominant, vocab tiebreak) so ranks and margins are
    oracle-exact; the hash bucket bounds cohort size so pairing stays
    1-vs-1 per cohort rather than quadratic.

    Plan: one (source, bucket) exchange serves BOTH rank directions
    (Spark computes the two windows on the same sort where orders align,
    else re-sorts within the partition — no second shuffle); the hi/lo
    join is cohort-keyed and tiny."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    toks = F.split(F.col("text"), " ")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("long") % DPO_BUCKETS
    )
    q = (
        F.col("n_chars").cast("long") * 1_000_000
        + F.size(F.array_distinct(toks)).cast("long")
    )
    scored = d.select(
        "doc_id", "source", bucket.alias("bucket"), q.alias("q")
    )
    whi = Window.partitionBy("source", "bucket").orderBy(
        F.col("q").desc(), "doc_id"
    )
    wlo = Window.partitionBy("source", "bucket").orderBy(
        F.col("q").asc(), "doc_id"
    )
    ranked = scored.select(
        "source",
        "bucket",
        "doc_id",
        "q",
        F.row_number().over(whi).alias("rhi"),
        F.row_number().over(wlo).alias("rlo"),
    )
    hi = ranked.filter(F.col("rhi") == 1).select(
        "source", "bucket", F.col("doc_id").alias("chosen_id"),
        F.col("q").alias("qhi"),
    )
    lo = ranked.filter(F.col("rlo") == 1).select(
        F.col("source").alias("source2"), F.col("bucket").alias("bucket2"),
        F.col("doc_id").alias("rejected_id"), F.col("q").alias("qlo"),
    )
    return (
        hi.join(
            lo,
            (F.col("source") == F.col("source2"))
            & (F.col("bucket") == F.col("bucket2")),
        )
        .filter(F.col("chosen_id") != F.col("rejected_id"))
        .select(
            "source",
            "bucket",
            "chosen_id",
            "rejected_id",
            (F.col("qhi") - F.col("qlo")).cast("long").alias("margin"),
        )
    )


@query(
    "pipeline_rfm_features",
    oracle="""
    WITH mx AS (SELECT max(CAST(ts AS TIMESTAMP)) AS now FROM events)
    SELECT e.user_id,
           CAST((epoch_us(any_value(mx.now))
                 - epoch_us(max(CAST(e.ts AS TIMESTAMP)))) // 1000000
                AS BIGINT) AS recency_s,
           CAST(count(*) AS BIGINT) AS frequency,
           CAST(sum(CASE WHEN e.event_type = 'purchase'
                         THEN CAST(round(e.value * 100) AS BIGINT)
                         ELSE 0 END) AS BIGINT) AS monetary_c,
           CAST(count(DISTINCT e.event_type) AS BIGINT) AS n_types
    FROM events e CROSS JOIN mx
    GROUP BY e.user_id
    HAVING count(*) >= 5
    """,
    tags=("llm", "pipeline", "features"),
)
def pipeline_rfm_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM feature materialization — the canonical per-entity feature
    snapshot (Recency: seconds since last activity at corpus horizon;
    Frequency: event count; Monetary: exact purchase cents; plus type
    breadth), the table a feature store serves and join_pit_staleness
    trains against. Recency anchors on the corpus max timestamp so the
    snapshot is a pure function of the data (reproducible — no
    wall-clock in the query).

    Plan: the 1-row horizon aggregate broadcasts; features are ONE
    partial-aggregated exchange on user_id; min-activity gate applies
    post-aggregate. At 100 TB this is one fact scan + a key-only
    shuffle — the cheapest possible feature snapshot."""
    e = load_table(spark, sf_dir, "events")
    mx = e.agg(F.max("ts").alias("now"))
    return (
        e.crossJoin(F.broadcast(mx))
        .groupBy("user_id")
        .agg(
            # integer div, not floor(/): see event_downsample_lttb
            F.expr(
                "(unix_micros(max(now)) - unix_micros(max(ts))) div 1000000"
            ).cast("long").alias("recency_s"),
            F.count(F.lit(1)).alias("frequency"),
            F.sum(
                F.when(
                    F.col("event_type") == "purchase",
                    F.round(F.col("value") * 100).cast("long"),
                ).otherwise(F.lit(0))
            ).cast("long").alias("monetary_c"),
            F.countDistinct("event_type").alias("n_types"),
        )
        .filter(F.col("frequency") >= 5)
        .select("user_id", "recency_s", "frequency", "monetary_c", "n_types")
    )


BAL_SHARDS = 8


@query(
    "export_balanced_shards",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        FROM documents
    ),
    ranked AS (
        SELECT doc_id, n_tok,
               row_number() OVER (ORDER BY n_tok DESC, doc_id) AS rk
        FROM toks
    ),
    assigned AS (
        -- serpentine round-robin over the length-sorted order: rank pass
        -- p = (rk-1)//S alternates direction, so each pass pairs the
        -- largest remainder with the smallest-loaded shard
        SELECT doc_id, n_tok,
               CASE WHEN ((rk - 1) // {BAL_SHARDS}) % 2 = 0
                    THEN (rk - 1) % {BAL_SHARDS}
                    ELSE {BAL_SHARDS - 1} - (rk - 1) % {BAL_SHARDS} END
                 AS shard
        FROM ranked
    )
    SELECT CAST(shard AS BIGINT) AS shard,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS tokens
    FROM assigned GROUP BY shard
    """,
    tags=("llm", "export", "sharding"),
)
def export_balanced_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-BALANCED shard packing — export_shards hashes documents to
    shards (uniform in COUNT, lumpy in tokens); training wants shards
    balanced in TOKENS so data-parallel ranks finish together. The
    deterministic serpentine scheme (sort by length desc, snake the
    round-robin direction each pass — the longest-processing-time
    heuristic's static cousin) lands within a pass-width of optimal and
    is a pure function of the data. The report (docs + exact token
    totals per shard) is the balance audit.

    Plan: token counts are map-side; the global length rank is the one
    scale caveat (a total order — at 100 TB you'd rank within
    length-buckets exactly like corpus_shuffle_order shards its sort);
    assignment arithmetic is codegen; totals are a {BAL_SHARDS}-key
    aggregate."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tok"),
    )
    rk = F.row_number().over(Window.orderBy(F.col("n_tok").desc(), "doc_id"))
    ranked = toks.select("doc_id", "n_tok", rk.alias("rk"))
    p = F.expr(f"(rk - 1) div {BAL_SHARDS}")
    pos = (F.col("rk") - 1) % BAL_SHARDS
    shard = F.when(p % 2 == 0, pos).otherwise(F.lit(BAL_SHARDS - 1) - pos)
    return (
        ranked.select("doc_id", "n_tok", shard.cast("long").alias("shard"))
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").cast("long").alias("tokens"),
        )
    )


# ---- deterministic k-fold assignment ----

K_FOLDS = 5


@query(
    "split_kfold",
    oracle=f"""
    WITH assigned AS (
        SELECT CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 2))
                    AS INTEGER) % {K_FOLDS} AS fold,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
               source
        FROM documents
    ),
    per AS (
        SELECT fold,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_tok) AS BIGINT) AS n_tokens,
               CAST(count(DISTINCT source) AS BIGINT) AS n_sources
        FROM assigned GROUP BY fold
    )
    SELECT CAST(fold AS BIGINT) AS fold, n_docs, n_tokens, n_sources,
           CAST(sum(n_docs) OVER () - n_docs AS BIGINT) AS train_docs,
           CAST(sum(n_tokens) OVER () - n_tokens AS BIGINT) AS train_tokens
    FROM per
    ORDER BY fold
    """,
    tags=("llm", "export", "split"),
)
def split_kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic {K_FOLDS}-fold cross-validation assignment by md5
    prefix of the document key — the same hash-not-rand() policy as
    split_train_eval (a doc's fold is a pure function of doc_id: stable
    under re-partitioning, re-runs, appends, and engine choice, so no
    eval-contaminating fold migration). Per fold: its holdout size (docs,
    tokens, source coverage) AND the complementary train-split size —
    the audit row a k-fold sweep's data card needs.

    Plan: map-side fold assignment, one {K_FOLDS}-group aggregate, and
    the train-complement via an unpartitioned window over exactly
    {K_FOLDS} rows (constant — no single-reducer hazard at any corpus
    size). Nothing but (fold, counts) ever crosses the exchange."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    fold = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2),
               16, 10).cast("int") % K_FOLDS
    )
    per = (
        d.select(
            fold.alias("fold"),
            F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tok"),
            "source",
        )
        .groupBy("fold")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("n_tokens"),
            F.countDistinct("source").alias("n_sources"),
        )
    )
    w = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return per.select(
        F.col("fold").cast("long").alias("fold"),
        "n_docs",
        "n_tokens",
        "n_sources",
        (F.sum("n_docs").over(w) - F.col("n_docs")).alias("train_docs"),
        (F.sum("n_tokens").over(w) - F.col("n_tokens")).alias(
            "train_tokens"
        ),
    ).orderBy("fold")


@query(
    "export_fim_spans",
    oracle="""
    WITH base AS (
      SELECT doc_id,
             list_filter(string_split(text, ' '), x -> x <> '') AS toks
      FROM documents),
    sized AS (
      SELECT doc_id, toks, length(toks) AS n,
             1 + CAST(concat('0x', substr(md5(concat(CAST(doc_id AS
                 VARCHAR), '#p')), 1, 8)) AS BIGINT)
                 % (length(toks) // 3) AS c1,
             length(toks) - 1
               - CAST(concat('0x', substr(md5(concat(CAST(doc_id AS
                   VARCHAR), '#s')), 1, 8)) AS BIGINT)
                 % (length(toks) // 3) AS c2
      FROM base WHERE length(toks) >= 6)
    SELECT doc_id,
           CAST(n AS BIGINT) AS n_tokens,
           CAST(c1 AS BIGINT) AS c1,
           CAST(c2 AS BIGINT) AS c2,
           concat('<PRE> ', array_to_string(toks[1:c1], ' '),
                  ' <SUF> ', array_to_string(toks[c2+1:n], ' '),
                  ' <MID> ', array_to_string(toks[c1+1:c2], ' '))
               AS fim_text
    FROM sized
    """,
    tags=("llm", "export", "fim", "training-data"),
)
def export_fim_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fill-in-the-middle training transform (Bavarian et al. 2022,
    "Efficient Training of Language Models to Fill in the Middle"):
    split each document at two deterministic content-keyed cut points
    into (prefix, middle, suffix) and re-emit in PSM order —
    `<PRE> prefix <SUF> suffix <MID> middle` — the span-corruption
    format FIM-capable code/text models are trained on. Cut points are
    doc_id-hash draws bounded to the first/last token third (so middle
    is never empty and spans at least a third of the doc), which is the
    per-doc random split a real pipeline does with an RNG — done here
    with md5 so both engines derive byte-identical output.

    Plan at 100 TB: pure map-side string surgery — tokenize, two hash
    draws, three slices, one concat; no exchange at all, so FIM
    transformation adds zero shuffle to an export pipeline (compose
    with export_shards for the sharded write). Docs under 6 tokens are
    dropped on both sides (cut arithmetic needs three nonempty
    thirds)."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(
            "doc_id",
            F.filter(F.split("text", " "), lambda x: x != "").alias("toks"),
        )
        .filter(F.size("toks") >= 6)
        .selectExpr(
            "doc_id",
            "size(toks) AS n",
            """1 + cast(conv(substring(md5(concat(cast(doc_id as string),
               '#p')), 1, 8), 16, 10) as bigint)
               % (size(toks) div 3) AS c1""",
            """size(toks) - 1
               - cast(conv(substring(md5(concat(cast(doc_id as string),
                 '#s')), 1, 8), 16, 10) as bigint)
               % (size(toks) div 3) AS c2""",
            "toks",
        )
        .selectExpr(
            "doc_id",
            "cast(n as bigint) AS n_tokens",
            "cast(c1 as bigint) AS c1",
            "cast(c2 as bigint) AS c2",
            """concat('<PRE> ',
                      array_join(slice(toks, 1, c1), ' '),
                      ' <SUF> ',
                      array_join(slice(toks, c2 + 1, n - c2), ' '),
                      ' <MID> ',
                      array_join(slice(toks, c1 + 1, c2 - c1), ' '))
               AS fim_text""",
        )
    )
