"""Corpus-curation operators for LLM training-data pipelines (SURVEY.md
§2d EXT): document chunking, boilerplate-segment removal, token-budget
selection, corpus n-gram statistics, and radius (range) similarity search.

These are the steps between raw filtered text and a packed training corpus:
chunk long documents into model-window pieces, strip segments repeated
across many documents (the C4/RefinedWeb boilerplate heuristic), cap each
source at a token budget, and build the n-gram frequency table a tokenizer
trainer consumes.

Scale design: chunking and n-gram explosion are map-side lateral expansions
(Generate — no shuffle); boilerplate detection shuffles (segment-hash)
key-only twice (count distinct docs per segment, then join back); the token
budget is one window over (source) — low-cardinality partitions but each
holds only per-doc token counts, not text. Radius search broadcasts the
constant-size query set and folds map-side, like sim_cosine_topk; the
LSH/IVF variants in llm/similarity.py are the 100 TB pruning path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ocs_duckdb_runner_spark.llm.similarity import (
    _SQL_FP,
    _sql_cosine,
    cosine,
    fp_vec,
)
from ocs_duckdb_runner_spark.registry import load_table, query
from ocs_duckdb_runner_spark.session import scoped_cache

CHUNK_W = 64  # tokens per chunk
CHUNK_S = 48  # chunk stride (overlap = W - S = 16)

SEG_W = 8  # boilerplate segment width (tokens)
BOILER_MIN_DOCS = 3  # segment in >= this many distinct docs => boilerplate

TOKEN_BUDGET = 2000  # per-source greedy selection budget

RANGE_TAU = 0.25  # radius-search cosine threshold
RANGE_QUERY_IDS = (0, 1, 2)


def _tokens():
    return F.split(F.col("text"), " ")


@query(
    "chunk_documents",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, string_split(text, ' ') AS toks,
             len(string_split(text, ' ')) AS n
      FROM documents),
    grid AS (
      SELECT doc_id, toks, n,
             unnest(generate_series(0,
                 (greatest(n - {CHUNK_W}, 0) + {CHUNK_S} - 1) // {CHUNK_S}
             )) AS chunk_idx
      FROM tok)
    SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
           CAST(least(n - chunk_idx * {CHUNK_S}, {CHUNK_W}) AS INT)
             AS n_tokens,
           md5(array_to_string(
               toks[chunk_idx * {CHUNK_S} + 1 :
                    least(n, chunk_idx * {CHUNK_S} + {CHUNK_W})],
               ' ')) AS chunk_fp
    FROM grid
    """,
    tags=("llm", "curation", "chunking"),
)
def chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking — the pretraining/RAG step that
    turns variable-length documents into model-window pieces: {CHUNK_W}
    tokens per chunk, stride {CHUNK_S} (16-token overlap), last chunk
    ragged. Emits (doc_id, chunk_idx, n_tokens, md5 chunk fingerprint);
    the fingerprint stands in for chunk text so the result stays narrow.

    Plan: one Generate (posexplode over a computed start grid) — pure
    map-side amplification, no shuffle at any scale. Chunk token slices
    use the built-in slice(); nothing leaves the JVM."""
    d = load_table(spark, sf_dir, "documents")
    n = F.size(_tokens())
    n_chunks_minus1 = F.floor(
        (F.greatest(n - F.lit(CHUNK_W), F.lit(0)) + F.lit(CHUNK_S - 1))
        / F.lit(CHUNK_S)
    ).cast("int")
    t = d.select(
        "doc_id",
        _tokens().alias("toks"),
        n.alias("n"),
        F.sequence(F.lit(0), n_chunks_minus1).alias("starts"),
    )
    e = t.select(
        "doc_id",
        "toks",
        "n",
        F.explode("starts").alias("chunk_idx"),
    )
    chunk = F.slice(
        F.col("toks"), F.col("chunk_idx") * CHUNK_S + 1, F.lit(CHUNK_W)
    )
    return e.select(
        "doc_id",
        F.col("chunk_idx").cast("int").alias("chunk_idx"),
        F.least(
            F.col("n") - F.col("chunk_idx") * CHUNK_S, F.lit(CHUNK_W)
        ).cast("int").alias("n_tokens"),
        F.md5(F.concat_ws(" ", chunk)).alias("chunk_fp"),
    )


@query(
    "text_boilerplate",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, string_split(text, ' ') AS toks,
             len(string_split(text, ' ')) AS n
      FROM documents),
    seg AS (
      SELECT doc_id,
             md5(array_to_string(
                 toks[i * {SEG_W} + 1 : least(n, i * {SEG_W} + {SEG_W})],
                 ' ')) AS seg_fp,
             CAST(least(n - i * {SEG_W}, {SEG_W}) AS BIGINT) AS seg_len
      FROM tok, unnest(generate_series(0, (n - 1) // {SEG_W})) AS t(i)),
    freq AS (
      SELECT seg_fp, count(DISTINCT doc_id) AS n_docs
      FROM seg GROUP BY seg_fp)
    SELECT s.doc_id,
           CAST(count(*) AS BIGINT) AS n_segments,
           CAST(count(*) FILTER (WHERE f.n_docs >= {BOILER_MIN_DOCS})
                AS BIGINT) AS n_boiler,
           CAST(sum(s.seg_len)
                FILTER (WHERE f.n_docs < {BOILER_MIN_DOCS}) AS BIGINT)
             AS kept_tokens,
           CAST(count(*) FILTER (WHERE f.n_docs >= {BOILER_MIN_DOCS})
                AS DOUBLE) / count(*) AS boiler_frac
    FROM seg s JOIN freq f USING (seg_fp)
    GROUP BY s.doc_id
    """,
    tags=("llm", "curation", "boilerplate"),
)
def text_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document boilerplate detection, C4/RefinedWeb-style: split each
    document into fixed {SEG_W}-token segments, hash them, and mark a
    segment boilerplate when it appears in >= {BOILER_MIN_DOCS} distinct
    documents (headers, footers, navigation chrome repeat verbatim across
    a crawl; body text does not). Per document: segment counts, boilerplate
    fraction, and tokens kept after dropping boilerplate segments.

    Plan: segment explode is map-side; the corpus-frequency aggregate
    shuffles ONLY (seg_fp md5, doc_id) — never text — and the join back
    carries just the FILTERED boiler fingerprint set (left join, hit =
    boilerplate), which is eval-suite-sized, so AQE broadcasts it and a
    viral seg_fp is a broadcast-probe hit instead of a skewed reducer.
    kept_tokens is NULL→0-free because every doc has >=1 segment below
    threshold or the sum is NULL and coalesced by the caller."""
    d = load_table(spark, sf_dir, "documents")
    n = F.size(_tokens())
    t = d.select(
        "doc_id",
        _tokens().alias("toks"),
        n.alias("n"),
        F.sequence(
            F.lit(0), F.floor((n - 1) / F.lit(SEG_W)).cast("int")
        ).alias("idxs"),
    )
    seg = t.select(
        "doc_id",
        F.explode("idxs").alias("i"),
        F.col("toks"),
        F.col("n"),
    ).select(
        "doc_id",
        F.md5(
            F.concat_ws(
                " ", F.slice(F.col("toks"), F.col("i") * SEG_W + 1, SEG_W)
            )
        ).alias("seg_fp"),
        F.least(F.col("n") - F.col("i") * SEG_W, F.lit(SEG_W))
        .cast("long")
        .alias("seg_len"),
    )
    # join back ONLY the boilerplate fingerprints: the set of seg_fps with
    # n_docs >= threshold is tiny relative to the corpus (that is what
    # boilerplate means), so the left join is FORCED broadcast — round 8
    # measured that leaving it to the planner produced a full shuffle
    # join (3 hash exchanges); with the hint the segment frame never
    # shuffles on seg_fp, and a hot seg_fp hits a broadcast probe, never
    # a skewed reducer. The hint is size-gated (gated_broadcast, r10):
    # a corpus where "boilerplate" is most of the text falls back to the
    # un-hinted join and AQE, instead of OOMing on a forced broadcast
    from ocs_duckdb_runner_spark.registry import gated_broadcast

    boiler_fps = (
        seg.groupBy("seg_fp")
        .agg(F.countDistinct("doc_id").alias("n_docs"))
        .filter(F.col("n_docs") >= BOILER_MIN_DOCS)
        .select("seg_fp", F.lit(True).alias("is_boiler"))
    )
    boiler = F.col("is_boiler").isNotNull()
    return (
        seg.join(gated_broadcast(boiler_fps), "seg_fp", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_segments"),
            F.sum(boiler.cast("long")).alias("n_boiler"),
            F.sum(F.when(~boiler, F.col("seg_len"))).alias("kept_tokens"),
            (
                F.sum(boiler.cast("long")).cast("double")
                / F.count(F.lit(1))
            ).alias("boiler_frac"),
        )
    )


@query(
    "corpus_token_budget",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, source,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
      FROM documents),
    cum AS (
      SELECT doc_id, source, n_tok,
             sum(n_tok) OVER (PARTITION BY source
                              ORDER BY n_tok DESC, doc_id
                              ROWS UNBOUNDED PRECEDING) AS cum_tok
      FROM tok)
    SELECT source,
           CAST(count(*) AS BIGINT) AS docs_total,
           CAST(count(*) FILTER (WHERE cum_tok - n_tok < {TOKEN_BUDGET})
                AS BIGINT) AS docs_kept,
           CAST(sum(n_tok) FILTER (WHERE cum_tok - n_tok < {TOKEN_BUDGET})
                AS BIGINT) AS tokens_kept
    FROM cum GROUP BY source
    """,
    tags=("llm", "curation", "mixture"),
)
def corpus_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source greedy token-budget selection — the sampling step that
    caps each source's contribution to a training mixture: order a
    source's documents longest-first (n_tok DESC, doc_id tiebreak), keep
    documents while the budget ({TOKEN_BUDGET} tokens) is not yet
    exhausted when a document starts (cum - own < B, so the budget
    boundary document is kept — deterministic greedy).

    Plan: ONE window + final aggregate over the same (source) hash
    partitioning — Catalyst reuses a single exchange, and the shuffled
    rows are (doc_id, source, n_tok), never text. Source count is
    bounded (mixture configs are small), so partitions are coarse but
    each holds integers only."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id",
        "source",
        F.size(_tokens()).cast("long").alias("n_tok"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy(F.col("n_tok").desc(), F.col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = tok.withColumn("cum_tok", F.sum("n_tok").over(w))
    kept = F.col("cum_tok") - F.col("n_tok") < TOKEN_BUDGET
    return cum.groupBy("source").agg(
        F.count(F.lit(1)).alias("docs_total"),
        F.sum(kept.cast("long")).alias("docs_kept"),
        F.sum(F.when(kept, F.col("n_tok"))).alias("tokens_kept"),
    )


@query(
    "text_ngram_stats",
    oracle="""
    WITH tok AS (
      SELECT lang, string_split(text, ' ') AS toks,
             len(string_split(text, ' ')) AS n
      FROM documents),
    bg AS (
      SELECT lang, toks[CAST(i AS INT)] || ' ' || toks[CAST(i + 1 AS INT)]
               AS bigram
      FROM tok, unnest(generate_series(1, n - 1)) AS t(i)),
    cnt AS (
      SELECT lang, bigram, CAST(count(*) AS BIGINT) AS n
      FROM bg GROUP BY lang, bigram),
    rk AS (
      SELECT lang, bigram, n,
             row_number() OVER (PARTITION BY lang
                                ORDER BY n DESC, bigram) AS rank
      FROM cnt)
    SELECT lang, bigram, n, CAST(rank AS INT) AS rank
    FROM rk WHERE rank <= 5
    """,
    tags=("llm", "curation", "ngram", "tokenizer"),
)
def text_ngram_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram frequency table, top-5 per language — the statistic a
    BPE/unigram tokenizer trainer consumes (merge candidates ranked by
    corpus count; ties broken lexicographically for determinism).

    Plan: bigram construction is a map-side lateral (Generate) over a
    guarded sequence (a 1-token doc yields none — Spark's sequence()
    counts DOWN when start > stop, so the guard is correctness, not
    style); the count aggregates map-side first and shuffles (lang,
    bigram) keys only; the top-5 compiles to WindowGroupLimit, so each
    map task keeps a 5-row heap per language rather than sorting the
    full vocabulary."""
    d = load_table(spark, sf_dir, "documents")
    toks = _tokens()
    n = F.size(toks)
    bg_idx = F.when(n >= 2, F.sequence(F.lit(1), n - 1)).otherwise(
        F.array().cast("array<int>")
    )
    t = d.select("lang", toks.alias("toks"), bg_idx.alias("idxs"))
    bg = t.select(
        "lang",
        F.explode("idxs").alias("i"),
        F.col("toks"),
    ).select(
        "lang",
        F.concat_ws(
            " ",
            F.element_at("toks", F.col("i")),
            F.element_at("toks", F.col("i") + 1),
        ).alias("bigram"),
    )
    cnt = bg.groupBy("lang", "bigram").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("lang").orderBy(F.col("n").desc(), "bigram")
    return (
        cnt.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("lang", "bigram", "n", F.col("rank").cast("int").alias("rank"))
    )


@query(
    "sim_range_search",
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS qid, {_SQL_FP.format(v='embedding')} AS qv
      FROM embeddings WHERE vec_id IN {RANGE_QUERY_IDS}),
    fp AS (
      SELECT vec_id, {_SQL_FP.format(v='embedding')} AS ev
      FROM embeddings)
    SELECT q.qid, fp.vec_id, {_sql_cosine('ev', 'qv')} AS cos_sim
    FROM fp, q
    WHERE fp.vec_id <> q.qid
      AND {_sql_cosine('ev', 'qv')} >= {RANGE_TAU}
    """,
    tags=("llm", "similarity", "range"),
)
def sim_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Radius (range) similarity search: every vector within cosine
    >= {RANGE_TAU} of each query — the retrieval primitive behind
    near-duplicate audit and kNN-graph construction, where top-k is the
    wrong contract (the neighbor count is data-dependent).

    Plan: broadcast the constant-size query set, fold the fixed-point
    cosine map-side, filter — no shuffle at any scale (the exact twin of
    sim_cosine_topk's brute-force contract). The LSH-bucketed pruning in
    sim_ann_lsh_topk is the 100 TB path when the query set grows; the
    fixed-point arithmetic (integer micro-unit dot products) makes the
    >= threshold boundary BIT-identical to the oracle, so membership at
    the radius edge cannot drift."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id").isin(*RANGE_QUERY_IDS)).select(
        F.col("vec_id").alias("qid"),
        fp_vec(F.col("embedding")).alias("qv"),
    )
    fp = e.select("vec_id", fp_vec(F.col("embedding")).alias("ev"))
    sim = cosine(F.col("ev"), F.col("qv"))
    return (
        fp.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("qid"))
        .select("qid", "vec_id", sim.alias("cos_sim"))
        .filter(F.col("cos_sim") >= RANGE_TAU)
    )


@query(
    "corpus_quality_funnel",
    oracle="""
    WITH g AS (
      SELECT doc_id,
             n_chars BETWEEN 100 AND 10000 AS g1,
             len(string_split(text, ' ')) >= 20 AS g2,
             CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
               / len(string_split(text, ' ')) >= 0.3 AS g3
      FROM documents),
    c AS (
      SELECT CAST(count(*) AS BIGINT) AS total,
             CAST(count(*) FILTER (WHERE g1) AS BIGINT) AS s1,
             CAST(count(*) FILTER (WHERE g1 AND g2) AS BIGINT) AS s2,
             CAST(count(*) FILTER (WHERE g1 AND g2 AND g3) AS BIGINT) AS s3
      FROM g)
    SELECT 1 AS stage, 'length_gate' AS gate, s1 AS survivors,
           total - s1 AS dropped FROM c
    UNION ALL
    SELECT 2, 'min_tokens', s2, s1 - s2 FROM c
    UNION ALL
    SELECT 3, 'distinct_ratio', s3, s2 - s3 FROM c
    """,
    tags=("llm", "curation", "quality", "report"),
)
def corpus_quality_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The quality-gate FUNNEL report: how many documents survive each
    cascaded filter stage (length gate → minimum tokens → distinct-token
    ratio) and how many each stage drops — the attrition table every
    curation run logs before committing a filter config. Gates are exact
    integer/ratio tests, so the counts are engine-identical.

    Plan: ONE corpus scan, all gates evaluated map-side as booleans, one
    1-row conditional aggregate, then a 3-row local expansion — at 100 TB
    the funnel costs exactly one pass regardless of stage count (vs the
    naive one-scan-per-stage cascade)."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    g1 = F.col("n_chars").between(100, 10000)
    g2 = F.size(toks) >= 20
    g3 = (
        F.size(F.array_distinct(toks)).cast("double") / F.size(toks) >= 0.3
    )
    c = d.select(
        g1.alias("g1"), (g1 & g2).alias("g12"), (g1 & g2 & g3).alias("g123")
    ).agg(
        F.count(F.lit(1)).alias("total"),
        F.sum(F.col("g1").cast("long")).alias("s1"),
        F.sum(F.col("g12").cast("long")).alias("s2"),
        F.sum(F.col("g123").cast("long")).alias("s3"),
    )
    return c.selectExpr(
        """stack(3,
             1, 'length_gate',    s1, total - s1,
             2, 'min_tokens',     s2, s1 - s2,
             3, 'distinct_ratio', s3, s2 - s3)
           AS (stage, gate, survivors, dropped)"""
    )


@query(
    "filter_quantile_gate",
    oracle="""
    WITH thr AS (
      SELECT CAST(ceil(round(
               quantile_cont(CAST(n_chars AS DOUBLE), 0.9), 6)) AS BIGINT)
             AS p90_gate
      FROM documents)
    SELECT d.doc_id, d.lang, d.source, d.n_chars
    FROM documents d, thr
    WHERE d.n_chars >= thr.p90_gate
    """,
    tags=("llm", "curation", "quantile", "filter"),
)
def filter_quantile_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-quantile gating: keep only documents at or above the corpus
    p90 of a quality signal (here n_chars as the stand-in score) — the
    "top decile" selection pattern, where the threshold is DATA-dependent,
    not a config constant. Exactness: the signal is integral, so the gate
    `n_chars >= p90` is equivalent to the integer gate
    `n_chars >= ceil(p90)`; rounding the interpolated p90 to 6 decimals
    before the ceil absorbs any last-ulp divergence between Spark's
    percentile() and DuckDB's quantile_cont() interpolation when the p90
    lands exactly on an integer boundary (both engines apply the same
    round→ceil→int pipeline, so membership cannot flip).

    Plan: pass 1 reduces the corpus to ONE row (percentile aggregate,
    partial map-side); the 1-row threshold then broadcasts into the gate
    filter (BroadcastNestedLoopJoin over 1 row = a map-side comparison).
    Two scans of the signal column, zero wide shuffles — at 100 TB the
    threshold pass reads one column and ships doubles."""
    d = load_table(spark, sf_dir, "documents")
    thr = d.agg(
        F.ceil(
            F.round(
                F.percentile(F.col("n_chars").cast("double"), F.lit(0.9)), 6
            )
        )
        .cast("long")
        .alias("p90_gate")
    )
    return (
        d.crossJoin(F.broadcast(thr))
        .filter(F.col("n_chars") >= F.col("p90_gate"))
        .select("doc_id", "lang", "source", "n_chars")
    )


@query(
    "corpus_lang_entropy",
    oracle="""
    WITH c AS (
      SELECT source, lang, CAST(count(*) AS BIGINT) AS n
      FROM documents GROUP BY source, lang),
    t AS (
      SELECT source, CAST(sum(n) AS BIGINT) AS tot,
             CAST(count(*) AS BIGINT) AS n_langs
      FROM c GROUP BY source)
    SELECT c.source, t.n_langs, t.tot AS n_docs,
           round(-sum((CAST(c.n AS DOUBLE) / t.tot)
                * ln(CAST(c.n AS DOUBLE) / t.tot)), 12) AS lang_entropy
    FROM c JOIN t USING (source)
    GROUP BY c.source, t.n_langs, t.tot
    """,
    tags=("llm", "curation", "mixture", "entropy"),
)
def corpus_lang_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-mix diagnostics per source: Shannon entropy of the
    language distribution (0 = monolingual, ln(k) = uniform over k) — the
    mixture-health metric a corpus dashboard tracks per ingestion source.
    Probabilities derive from exact integer counts and each (p·ln p) term
    is the same two IEEE ops on identical doubles in both engines — but
    the SUM of those terms is addition-order-dependent at the last ulp,
    and engines aggregate in different orders, so the result is rounded
    to 12 digits on both sides (values are O(1); 12 digits sits far above
    ulp noise — the agg_stats precedent).

    Plan: two key-only hash aggregates (source×lang, then source) and a
    broadcast-sized join of per-source totals — the corpus shuffles
    16-byte keys + counts once."""
    d = load_table(spark, sf_dir, "documents")
    c = d.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("n"))
    t = c.groupBy("source").agg(
        F.sum("n").alias("tot"), F.count(F.lit(1)).alias("n_langs")
    )
    p = F.col("n").cast("double") / F.col("tot")
    return (
        c.join(t, "source")
        .groupBy("source", "n_langs", F.col("tot").alias("n_docs"))
        .agg(F.round(-F.sum(p * F.log(p)), 12).alias("lang_entropy"))
    )


@query(
    "sample_temperature",
    oracle="""
    WITH counts AS (
      SELECT lang, CAST(count(*) AS BIGINT) AS n
      FROM documents GROUP BY lang),
    mn AS (SELECT CAST(min(n) AS BIGINT) AS n_min FROM counts),
    rates AS (
      SELECT lang,
             CAST(round(1e6 * sqrt(CAST(n_min AS DOUBLE) / n)) AS BIGINT)
               AS rate_micro
      FROM counts, mn)
    SELECT d.doc_id, d.lang, r.rate_micro
    FROM documents d JOIN rates r USING (lang)
    WHERE (d.doc_id * 2654435761) % 1000000 < r.rate_micro
    """,
    tags=("llm", "curation", "sampling", "mixture"),
)
def sample_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled language rebalancing (the mT5/XLM-R recipe,
    alpha = 0.5): per-language keep-rate (n_min / n_lang)^(1-alpha) =
    sqrt(n_min/n), so the rarest language keeps 100% and dominant
    languages are down-sampled toward a flatter mixture. Selection is a
    DETERMINISTIC per-document hash gate ((doc_id * Knuth) mod 1e6 <
    rate_micro) — reproducible corpus builds, no RNG state, and exactly
    the same membership in both engines. sqrt is IEEE-correctly-rounded,
    so the micro-unit rate is bit-identical cross-engine.

    Plan: language histogram (key-only shuffle on lang, partial agg), the
    tiny rate table broadcasts back, the gate is map-side — one scan of
    the corpus plus a vocabulary-sized exchange at any scale."""
    d = load_table(spark, sf_dir, "documents")
    counts = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    n_min = counts.agg(F.min("n").alias("n_min"))
    rates = counts.crossJoin(F.broadcast(n_min)).select(
        "lang",
        F.round(1e6 * F.sqrt(F.col("n_min").cast("double") / F.col("n")))
        .cast("long")
        .alias("rate_micro"),
    )
    return (
        d.join(F.broadcast(rates), "lang")
        .filter((F.col("doc_id") * F.lit(2654435761)) % 1000000 < F.col("rate_micro"))
        .select("doc_id", "lang", "rate_micro")
    )


@query(
    "corpus_len_gini",
    oracle="""
    WITH r AS (
        SELECT source, CAST(n_chars AS BIGINT) AS x,
               row_number() OVER (PARTITION BY source
                                  ORDER BY n_chars, doc_id) AS i,
               count(*) OVER (PARTITION BY source) AS n
        FROM documents
    )
    SELECT source,
           CAST(any_value(n) AS BIGINT) AS n_docs,
           CAST(sum(x) AS BIGINT) AS total_chars,
           round(CAST(2 * sum(i * x) AS DOUBLE)
                   / (any_value(n) * sum(x))
                 - CAST(any_value(n) + 1 AS DOUBLE) / any_value(n), 9)
             AS gini
    FROM r GROUP BY source
    """,
    tags=("llm", "curation", "stats"),
)
def corpus_len_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-length Gini coefficient per source — the concentration
    metric for corpus health (G→0: uniform lengths; G→1: a few huge
    docs dominate the token budget, skewing packing and sampling). Uses
    the sorted-rank identity G = 2Σ(i·xᵢ)/(nΣx) − (n+1)/n: ranks and
    both sums are exact integers under a deterministic tie-break, so
    the only float ops are two divisions — oracle-exact.

    Plan: one (source) window exchange for ranks, re-aggregated on the
    same key — a single shuffle; Σ(i·x) partial-aggregates map-side."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    wc = Window.partitionBy("source")
    r = d.select(
        "source",
        F.col("n_chars").cast("long").alias("x"),
        F.row_number().over(w).cast("long").alias("i"),
        F.count(F.lit(1)).over(wc).alias("n"),
    )
    return r.groupBy("source").agg(
        F.max("n").cast("long").alias("n_docs"),
        F.sum("x").cast("long").alias("total_chars"),
        F.round(
            (2 * F.sum(F.col("i") * F.col("x"))).cast("double")
            / (F.max("n") * F.sum("x"))
            - (F.max("n") + 1).cast("double") / F.max("n"),
            9,
        ).alias("gini"),
    )


@query(
    "corpus_source_overlap",
    oracle="""
    WITH st AS (
        SELECT DISTINCT source, unnest(string_split(text, ' ')) AS tok
        FROM documents
    ),
    sz AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM st GROUP BY source),
    inter AS (
        SELECT a.source AS src_a, b.source AS src_b,
               CAST(count(*) AS BIGINT) AS n_common
        FROM st a JOIN st b ON a.tok = b.tok AND a.source < b.source
        GROUP BY 1, 2
    )
    SELECT i.src_a, i.src_b, i.n_common,
           za.n AS vocab_a, zb.n AS vocab_b,
           round(CAST(i.n_common AS DOUBLE)
                 / (za.n + zb.n - i.n_common), 9) AS jaccard
    FROM inter i
    JOIN sz za ON za.source = i.src_a
    JOIN sz zb ON zb.source = i.src_b
    """,
    tags=("llm", "curation", "diversity"),
)
def corpus_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise source-vocabulary overlap matrix (Jaccard of vocab sets)
    — the corpus-diversity diagnostic behind mixture design: sources
    with ≈1 overlap are redundant (down-weight one), ≈0 overlap bring
    novel vocabulary (protect in the mixture). Exact distinct
    (source, token) sets; intersection via a token-keyed self-join
    (inverted-index shape, bounded by vocabulary size, never
    all-doc-pairs); Jaccard one division of exact integers.

    Plan: the distinct set collapses map-side; the self-join and both
    aggregates shuffle on token/source keys only. Source count is small
    by construction, so the output matrix is tiny at any scale."""
    d = load_table(spark, sf_dir, "documents")
    with scoped_cache() as persist:
        st = persist(d.select(
            "source", F.explode(F.split(F.col("text"), " ")).alias("tok")
        ).distinct())
        sz = st.groupBy("source").agg(F.count(F.lit(1)).cast("long").alias("n"))
        a = st.toDF("src_a", "tok")
        b = st.toDF("src_b", "tok2")
        inter = (
            a.join(b, (a.tok == b.tok2) & (a.src_a < b.src_b))
            .groupBy("src_a", "src_b")
            .agg(F.count(F.lit(1)).cast("long").alias("n_common"))
        )
        za = sz.toDF("za_src", "vocab_a")
        zb = sz.toDF("zb_src", "vocab_b")
        out = (
            inter.join(F.broadcast(za), inter.src_a == za.za_src)
            .join(F.broadcast(zb), inter.src_b == zb.zb_src)
            .select(
                "src_a",
                "src_b",
                "n_common",
                "vocab_a",
                "vocab_b",
                F.round(
                    F.col("n_common").cast("double")
                    / (F.col("vocab_a") + F.col("vocab_b") - F.col("n_common")),
                    9,
                ).alias("jaccard"),
            )
        )
        return out.localCheckpoint(eager=True)


_FLAG_TOKENS = ("the", "a", "of", "and", "to")  # stand-in for PII hits


@query(
    "chunk_annotation_propagate",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, string_split(text, ' ') AS toks,
               len(string_split(text, ' ')) AS n
        FROM documents WHERE doc_id % 10 = 0
    ),
    hits AS (
        SELECT doc_id, n, s.i AS p
        FROM tok, unnest(generate_series(1, n)) AS s(i)
        WHERE toks[s.i] IN ({", ".join(f"'{t}'" for t in _FLAG_TOKENS)})
    ),
    spans AS (
        SELECT doc_id, p,
               greatest(0, (p - {CHUNK_W - CHUNK_S + 1}) // {CHUNK_S}) AS lo,
               least((greatest(n - {CHUNK_W}, 0) + {CHUNK_S - 1})
                       // {CHUNK_S},
                     (p - 1) // {CHUNK_S}) AS hi
        FROM hits
    ),
    expanded AS (
        SELECT doc_id, c.c AS chunk_idx
        FROM spans, unnest(generate_series(lo, hi)) AS c(c)
        WHERE hi >= lo
    )
    SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
           CAST(count(*) AS BIGINT) AS n_flagged
    FROM expanded GROUP BY doc_id, chunk_idx
    """,
    tags=("llm", "curation", "annotation"),
)
def chunk_annotation_propagate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Annotation propagation through OVERLAPPING chunking — the step a
    redaction/safety pipeline runs after span detection: a token-level
    flag (stopwords standing in for PII spans) must reach EVERY chunk
    whose 64/48 window covers its position, because overlapping windows
    mean one span lands in up to ⌈W/S⌉ chunks — dropping it from the
    overlap region is how redacted text leaks into training data. The
    chunk range per hit is pure integer interval arithmetic against
    chunk_documents' exact grid (truncating vs flooring division
    reconciled by clamping at 0 — the divergence only occurs below the
    clamp).

    Plan: position explode + range explode are map-side Generates
    (bounded ×⌈W/S⌉ amplification on FLAGGED tokens only); ONE
    (doc, chunk) aggregate. No shuffle of the corpus."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 0)
    toks = F.split(F.col("text"), " ")
    t = d.select("doc_id", toks.alias("toks"), F.size(toks).alias("n"))
    hits = t.select(
        "doc_id",
        "n",
        F.posexplode("toks").alias("p0", "tok"),
    ).filter(F.col("tok").isin(*_FLAG_TOKENS)).select(
        "doc_id", "n", (F.col("p0") + 1).alias("p")
    )
    spans = hits.select(
        "doc_id",
        F.greatest(
            F.lit(0), F.expr(f"(p - {CHUNK_W - CHUNK_S + 1}) div {CHUNK_S}")
        ).alias("lo"),
        F.least(
            F.expr(
                f"(greatest(n - {CHUNK_W}, 0) + {CHUNK_S - 1}) div {CHUNK_S}"
            ),
            F.expr(f"(p - 1) div {CHUNK_S}"),
        ).alias("hi"),
    )
    expanded = spans.filter(F.col("hi") >= F.col("lo")).select(
        "doc_id", F.explode(F.sequence("lo", "hi")).alias("chunk_idx")
    )
    return expanded.groupBy(
        "doc_id", F.col("chunk_idx").cast("int").alias("chunk_idx")
    ).agg(F.count(F.lit(1)).alias("n_flagged"))


@query(
    "corpus_vocab_knee",
    oracle="""
    WITH tok AS (
        SELECT unnest(string_split(text, ' ')) AS t FROM documents
    ),
    counts AS (SELECT t, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY t),
    ranked AS (
        SELECT t, c,
               CAST(row_number() OVER (ORDER BY c DESC, t) AS BIGINT) AS r
        FROM counts
    ),
    ends AS (
        SELECT max(CASE WHEN r = 1 THEN c END) AS c1,
               max(c) FILTER (r = (SELECT max(r) FROM ranked)) AS cn,
               CAST(max(r) AS BIGINT) AS n
        FROM ranked
    ),
    dist AS (
        SELECT ranked.t, ranked.c, ranked.r,
               abs((e.c1 - e.cn) * (ranked.r - 1)
                   + (e.n - 1) * (ranked.c - e.c1)) AS d,
               e.n
        FROM ranked CROSS JOIN ends e
    )
    SELECT r AS knee_rank, t AS knee_token, c AS knee_count,
           CAST(n AS BIGINT) AS vocab_size, CAST(d AS BIGINT) AS chord_dist
    FROM dist
    ORDER BY d DESC, r
    LIMIT 1
    """,
    tags=("llm", "curation", "knee"),
)
def corpus_vocab_knee(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Automatic knee-point detection on the rank-frequency (Zipf) curve
    — the Kneedle-style max-distance-from-chord rule that picks a
    vocabulary cutoff WITHOUT a hand-tuned threshold (where tokenizer
    vocab sizes and stopword-list lengths actually come from): the knee
    is the rank maximizing the distance to the chord from (1, c₁) to
    (n, cₙ), computed as the exact integer cross-product
    |(c₁−cₙ)(r−1) + (n−1)(c_r−c₁)| — fully oracle-exact, ties to the
    lower rank.

    Plan: the word count is the standard vocabulary-keyed shuffle; the
    rank window orders vocab (not corpus) rows; endpoints broadcast as
    a 1-row frame; argmax is a TakeOrderedAndProject. At 100 TB the
    vocab table, not the corpus, bounds every post-count stage."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    counts = (
        d.select(F.explode(F.split(F.col("text"), " ")).alias("t"))
        .groupBy("t")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    ranked = counts.select(
        "t",
        "c",
        F.row_number()
        .over(Window.orderBy(F.col("c").desc(), "t"))
        .cast("long")
        .alias("r"),
    )
    ends = ranked.agg(
        F.max(F.when(F.col("r") == 1, F.col("c"))).alias("c1"),
        F.min_by("c", F.negate(F.col("r"))).alias("cn"),
        F.max("r").alias("n"),
    )
    dist = ranked.crossJoin(F.broadcast(ends)).select(
        "t",
        "c",
        "r",
        "n",
        F.abs(
            (F.col("c1") - F.col("cn")) * (F.col("r") - 1)
            + (F.col("n") - 1) * (F.col("c") - F.col("c1"))
        ).alias("d"),
    )
    return (
        dist.orderBy(F.col("d").desc(), "r")
        .limit(1)
        .select(
            F.col("r").alias("knee_rank"),
            F.col("t").alias("knee_token"),
            F.col("c").alias("knee_count"),
            F.col("n").cast("long").alias("vocab_size"),
            F.col("d").cast("long").alias("chord_dist"),
        )
    )


_HEAPS_CHECKPOINTS = (100, 500, 1000, 2000, 4000)


@query(
    "corpus_heaps_curve",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS t
        FROM documents
    ),
    firsts AS (
        SELECT t, CAST(min(doc_id) AS BIGINT) AS first_doc FROM tok GROUP BY t
    ),
    cp AS (SELECT unnest([{", ".join(str(c) for c in _HEAPS_CHECKPOINTS)}])
                  AS k)
    SELECT CAST(cp.k AS BIGINT) AS n_docs,
           CAST(count(f.t) AS BIGINT) AS vocab_size,
           CAST(sum(CASE WHEN f.first_doc = cp.k - 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS new_at_k
    FROM cp LEFT JOIN firsts f ON f.first_doc < cp.k
    GROUP BY cp.k
    """,
    tags=("llm", "curation", "heaps"),
)
def corpus_heaps_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary growth curve — vocab size after the first k
    documents (doc_id order), at fixed checkpoints: the sub-linear
    V ∝ kᵝ curve that sizes tokenizer vocabularies and predicts how
    much NEW vocabulary more data will buy (the flattening point is
    where scraping more of the same source stops paying). Computed from
    each token's FIRST-occurrence doc — one number per token — so the
    curve costs one aggregate, not k prefix scans.

    Plan: distinct tokens per doc map-side; first-occurrence = one
    vocabulary-keyed min aggregate; the checkpoint join is
    |vocab| × |checkpoints| with broadcast checkpoints. At 100 TB the
    vocab table bounds everything after the scan."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id",
        F.explode(F.array_distinct(F.split(F.col("text"), " "))).alias("t"),
    )
    firsts = tok.groupBy("t").agg(
        F.min("doc_id").cast("long").alias("first_doc")
    )
    cp = spark.createDataFrame(
        [(int(c),) for c in _HEAPS_CHECKPOINTS], "k long"
    )
    return (
        F.broadcast(cp)
        .join(firsts, firsts.first_doc < cp.k, "left")
        .groupBy(F.col("k").alias("n_docs"))
        .agg(
            F.count("t").cast("long").alias("vocab_size"),
            F.sum(
                F.when(F.col("first_doc") == F.col("k") - 1, 1).otherwise(0)
            ).cast("long").alias("new_at_k"),
        )
    )


@query(
    "corpus_js_divergence",
    oracle="""
    WITH tok AS (
        SELECT source, unnest(string_split(text, ' ')) AS t FROM documents
    ),
    sc AS (SELECT source, t, CAST(count(*) AS BIGINT) AS c
           FROM tok GROUP BY source, t),
    stot AS (SELECT source, CAST(sum(c) AS BIGINT) AS n FROM sc GROUP BY source),
    ctot AS (SELECT t, CAST(sum(c) AS BIGINT) AS cc FROM sc GROUP BY t),
    gtot AS (SELECT CAST(sum(c) AS BIGINT) AS g FROM sc),
    terms AS (
        SELECT sc.source,
               -- p = source prob, q = corpus prob, m = (p+q)/2
               CAST(sc.c AS DOUBLE) / stot.n AS p,
               CAST(ctot.cc AS DOUBLE) / gtot.g AS q
        FROM sc
        JOIN stot USING (source)
        JOIN ctot USING (t)
        CROSS JOIN gtot
    ),
    contrib AS (
        SELECT source,
               round(0.5 * p * ln(p / ((p + q) / 2))
                     + 0.5 * q * ln(q / ((p + q) / 2)), 12) AS kl_term
        FROM terms
    )
    SELECT source, round(sum(kl_term), 6) AS jsd_nats
    FROM contrib GROUP BY source
    """,
    tags=("llm", "curation", "divergence"),
)
def corpus_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen–Shannon divergence of each source's unigram distribution
    from the corpus distribution — the lexical distribution-shift
    metric (monitor_embedding_drift's text-side sibling, and the
    mixture-design complement of corpus_source_overlap: overlap counts
    SHARED vocabulary, JSD weighs HOW DIFFERENTLY it is used). Both
    probabilities are ratios of exact integers; each vocabulary term's
    symmetric-KL contribution is a fixed IEEE sequence rounded to a
    12-digit grid before the order-insensitive sum, displayed at 6 —
    the corpus_lang_entropy recipe, hash-exact. (Terms absent from a
    source drop out of its half of the sum — the one-sided JSD over
    observed terms, the standard streaming-friendly form.)

    Plan: (source, token) counts are word-count-shaped; marginals are
    key-only rollups; everything after is vocabulary-bounded."""
    d = load_table(spark, sf_dir, "documents")
    with scoped_cache() as persist:
        sc = persist(
            d.select("source", F.explode(F.split(F.col("text"), " ")).alias("t"))
            .groupBy("source", "t")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        stot = sc.groupBy("source").agg(F.sum("c").cast("long").alias("n"))
        ctot = sc.groupBy("t").agg(F.sum("c").cast("long").alias("cc"))
        gtot = sc.agg(F.sum("c").cast("long").alias("g"))
        p = F.col("c").cast("double") / F.col("n")
        q = F.col("cc").cast("double") / F.col("g")
        m = (p + q) / 2
        kl_term = F.round(
            0.5 * p * F.log(p / m) + 0.5 * q * F.log(q / m), 12
        )
        out = (
            sc.join(stot, "source")
            .join(ctot, "t")
            .crossJoin(F.broadcast(gtot))
            .select("source", kl_term.alias("kl_term"))
            .groupBy("source")
            .agg(F.round(F.sum("kl_term"), 6).alias("jsd_nats"))
        )
        return out.localCheckpoint(eager=True)


@query(
    "nb_lang_confusion",
    oracle="""
    WITH tok AS (
        SELECT doc_id, lang,
               unnest(string_split(lower(text), ' ')) AS tok
        FROM documents
    ),
    tok_f AS (SELECT * FROM tok WHERE tok <> ''),
    train AS (SELECT * FROM tok_f WHERE doc_id % 2 = 0),
    eval AS (SELECT * FROM tok_f WHERE doc_id % 2 = 1),
    vocab AS (SELECT CAST(count(DISTINCT tok) AS BIGINT) AS v FROM train),
    cls AS (
        SELECT t.lang,
               CAST(count(*) AS BIGINT) AS tok_s,
               CAST(count(DISTINCT t.doc_id) AS BIGINT) AS n_docs
        FROM train t GROUP BY 1
    ),
    total AS (SELECT CAST(sum(n_docs) AS BIGINT) AS nd FROM cls),
    cstat AS (
        SELECT c.lang AS cls_lang,
               CAST(round(ln(CAST(c.n_docs AS DOUBLE) / t.nd) * 1000000)
                    AS BIGINT) AS prior_u,
               CAST(round(ln(1.0 / (c.tok_s + v.v)) * 1000000)
                    AS BIGINT) AS default_u,
               c.tok_s
        FROM cls c CROSS JOIN total t CROSS JOIN vocab v
    ),
    lp AS (
        SELECT t.lang AS cls_lang, t.tok,
               CAST(round(ln(CAST(count(*) + 1 AS DOUBLE) / (cs.tok_s + v.v))
                          * 1000000) AS BIGINT) AS lp_u
        FROM train t
        JOIN cstat cs ON cs.cls_lang = t.lang
        CROSS JOIN vocab v
        GROUP BY t.lang, t.tok, cs.tok_s, v.v
    ),
    etok AS (
        SELECT doc_id, lang AS true_lang, tok,
               CAST(count(*) AS BIGINT) AS cnt
        FROM eval GROUP BY 1, 2, 3
    ),
    edocs AS (
        SELECT doc_id, true_lang, CAST(sum(cnt) AS BIGINT) AS n_tok
        FROM etok GROUP BY 1, 2
    ),
    seen AS (
        SELECT e.doc_id, l.cls_lang,
               CAST(sum(e.cnt * (l.lp_u - cs.default_u)) AS BIGINT) AS adj_u
        FROM etok e
        JOIN lp l ON l.tok = e.tok
        JOIN cstat cs ON cs.cls_lang = l.cls_lang
        GROUP BY 1, 2
    ),
    scores AS (
        SELECT d.doc_id, d.true_lang, cs.cls_lang,
               cs.prior_u + d.n_tok * cs.default_u
                 + COALESCE(s.adj_u, 0) AS score_u
        FROM edocs d
        CROSS JOIN cstat cs
        LEFT JOIN seen s ON s.doc_id = d.doc_id
                        AND s.cls_lang = cs.cls_lang
    ),
    pred AS (
        SELECT doc_id, true_lang,
               (min({'neg': -score_u, 'lang': cls_lang})).lang AS pred_lang
        FROM scores GROUP BY doc_id, true_lang
    )
    SELECT true_lang, pred_lang, CAST(count(*) AS BIGINT) AS n_docs
    FROM pred GROUP BY 1, 2
    ORDER BY true_lang, pred_lang
    """,
    tags=("llm", "curation", "classifier", "nb"),
)
def nb_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial naive-Bayes language classifier, trained and evaluated
    in-engine — the distributed form of the fastText-style lang-id model
    a curation pipeline trains on its own corpus: even doc_ids train,
    odd doc_ids evaluate, output is the confusion matrix. Laplace-1
    smoothing over the train vocabulary; unseen tokens score the
    per-class default, folded via score = prior + n·default +
    Σ_seen cnt·(logp − default) so only SEEN (doc, token, class) triples
    ever join.

    Exactness: every log-probability is rounded to integer MICRO-NATS
    (·1e6) the moment it leaves ln() — ln's last-ulp variance across
    libm builds dies at the grid, and all downstream sums/argmax are
    pure integer arithmetic, order-independent at any partition count.
    Argmax ties break to the lexicographically first class.

    Plan at 100 TB: token counts are (class, token)-keyed aggregates
    (vocab-bounded); the class-stat frame is 5 rows (broadcast); the
    scoring join is seen-token inner join + a doc×5 grid crossJoin of a
    broadcast frame — the text column never crosses an exchange."""
    d = load_table(spark, sf_dir, "documents")
    tok_all = d.select(
        "doc_id",
        "lang",
        F.explode(F.split(F.lower(F.col("text")), " ")).alias("tok"),
    ).filter(F.col("tok") != "")
    train = tok_all.filter(F.col("doc_id") % 2 == 0)
    ev = tok_all.filter(F.col("doc_id") % 2 == 1)
    vocab = train.agg(F.countDistinct("tok").cast("long").alias("v"))
    cls = train.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("tok_s"),
        F.countDistinct("doc_id").cast("long").alias("n_docs"),
    )
    total = cls.agg(F.sum("n_docs").cast("long").alias("nd"))
    u = lambda c: F.round(c * 1000000).cast("long")  # noqa: E731
    cstat = (
        cls.crossJoin(F.broadcast(total))
        .crossJoin(F.broadcast(vocab))
        .select(
            F.col("lang").alias("cls_lang"),
            u(F.log(F.col("n_docs").cast("double") / F.col("nd")))
            .alias("prior_u"),
            u(F.log(1.0 / (F.col("tok_s") + F.col("v")))).alias("default_u"),
            "tok_s",
            "v",
        )
    )
    lp = (
        train.groupBy(F.col("lang").alias("cls_lang"), "tok")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .join(F.broadcast(cstat), "cls_lang")
        .select(
            "cls_lang",
            "tok",
            u(
                F.log(
                    (F.col("c") + 1).cast("double")
                    / (F.col("tok_s") + F.col("v"))
                )
            ).alias("lp_u"),
            "default_u",
        )
    )
    etok = ev.groupBy(
        "doc_id", F.col("lang").alias("true_lang"), "tok"
    ).agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    edocs = etok.groupBy("doc_id", "true_lang").agg(
        F.sum("cnt").cast("long").alias("n_tok")
    )
    seen = (
        etok.join(lp, "tok")
        .groupBy("doc_id", "cls_lang")
        .agg(
            F.sum(F.col("cnt") * (F.col("lp_u") - F.col("default_u")))
            .cast("long").alias("adj_u")
        )
    )
    grid = edocs.crossJoin(
        F.broadcast(cstat.select("cls_lang", "prior_u", "default_u"))
    )
    scores = (
        grid.join(seen, ["doc_id", "cls_lang"], "left")
        .select(
            "doc_id",
            "true_lang",
            "cls_lang",
            (
                F.col("prior_u")
                + F.col("n_tok") * F.col("default_u")
                + F.coalesce(F.col("adj_u"), F.lit(0))
            ).alias("score_u"),
        )
    )
    pred = scores.groupBy("doc_id", "true_lang").agg(
        F.min(
            F.struct(
                (-F.col("score_u")).alias("neg"),
                F.col("cls_lang").alias("lang"),
            )
        ).getField("lang").alias("pred_lang")
    )
    return (
        pred.groupBy("true_lang", "pred_lang")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
        .orderBy("true_lang", "pred_lang")
    )


@query(
    "corpus_dataset_card",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
           CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
           CAST(count(*) - count(DISTINCT md5(text)) AS BIGINT)
               AS n_exact_dup_docs,
           CAST(sum(n_chars) AS DOUBLE) / count(*) AS mean_chars
    FROM documents
    """,
    tags=("llm", "curation", "card"),
)
def corpus_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row dataset card — the summary block every published training
    corpus ships (docs, sources, languages, size, token count, exact-dup
    rate): the cheap full-corpus statistics a pipeline computes ONCE per
    snapshot and attaches to the dataset's provenance record. mean_chars
    is an exact integer sum divided once by an exact count, so the double
    is bit-identical cross-engine (the fx_avg argument, exactness.py).

    Plan: a single pass — every statistic is a partial-aggregable measure
    (count / sum / distinct-count), so the corpus is read once and only
    already-reduced partials cross the exchange. The two distinct-counts
    (source, lang) are low-cardinality; the md5 distinct carries 16-byte
    keys. At 100 TB this is one scan + one 1-row aggregate; a production
    variant swaps the exact md5 distinct for the HLL sketch
    (agg_approx_distinct) when ±1% suffices."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.size(F.split(F.col("text"), " "))
    card = d.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("source").alias("n_sources"),
        F.countDistinct("lang").alias("n_langs"),
        F.sum("n_chars").alias("total_chars"),
        F.sum(toks).cast("long").alias("total_tokens"),
        (F.count(F.lit(1)) - F.countDistinct(F.md5("text"))).alias(
            "n_exact_dup_docs"
        ),
    )
    return card.withColumn(
        "mean_chars",
        F.col("total_chars").cast("double") / F.col("n_docs"),
    )


# Rater thresholds for the agreement/calibration evals: rater A passes
# docs with >= KAPPA_MIN_TOKENS whitespace tokens, rater B passes docs
# whose distinct-token ratio is >= 1/2 (integer form: 2*distinct >= n).
KAPPA_MIN_TOKENS = 40


@query(
    "eval_rater_kappa",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
               CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
                   AS n_dst
        FROM documents
    ),
    rated AS (
        SELECT CASE WHEN n_tok >= {KAPPA_MIN_TOKENS} THEN 1 ELSE 0 END AS ra,
               CASE WHEN 2 * n_dst >= n_tok THEN 1 ELSE 0 END AS rb
        FROM toks
    ),
    conf AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(ra * rb) AS BIGINT) AS n11,
               CAST(sum(ra * (1 - rb)) AS BIGINT) AS n10,
               CAST(sum((1 - ra) * rb) AS BIGINT) AS n01,
               CAST(sum((1 - ra) * (1 - rb)) AS BIGINT) AS n00
        FROM rated
    )
    SELECT n, n11, n10, n01, n00,
           round(CAST(n11 + n00 AS DOUBLE) / n, 9) AS p_observed,
           round((CAST(n11 + n10 AS DOUBLE) / n) * (CAST(n11 + n01 AS DOUBLE) / n)
               + (CAST(n01 + n00 AS DOUBLE) / n) * (CAST(n10 + n00 AS DOUBLE) / n),
               9) AS p_expected,
           round((CAST(n11 + n00 AS DOUBLE) / n
                  - ((CAST(n11 + n10 AS DOUBLE) / n) * (CAST(n11 + n01 AS DOUBLE) / n)
                   + (CAST(n01 + n00 AS DOUBLE) / n) * (CAST(n10 + n00 AS DOUBLE) / n)))
                 / (1 - ((CAST(n11 + n10 AS DOUBLE) / n) * (CAST(n11 + n01 AS DOUBLE) / n)
                       + (CAST(n01 + n00 AS DOUBLE) / n) * (CAST(n10 + n00 AS DOUBLE) / n))),
                 9) AS kappa
    FROM conf
    """,
    tags=("llm", "curation", "eval", "agreement"),
)
def eval_rater_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between two quality raters — the inter-annotator
    agreement statistic every labeling pipeline reports before trusting
    its labels (chance-corrected: kappa = (p_o - p_e)/(1 - p_e)). The
    raters here are two deterministic heuristics a curation stack really
    runs — a length gate (>= {KAPPA_MIN_TOKENS} tokens) and a
    lexical-diversity gate (distinct-token ratio >= 1/2) — so the
    statistic measures how much two cheap quality filters actually agree
    beyond chance.

    Exactness: the 2x2 confusion table is four integer sums over
    map-side 0/1 flags (order-independent at any partitioning); p_o,
    p_e, kappa are one identical IEEE expression tree over those exact
    integers, rounded to 9 digits on both engines.

    Plan: ONE document scan -> per-row integer flags -> a single 1-row
    partial-aggregated global aggregate. Text never shuffles; at 100 TB
    this is the map-reduce minimum for any corpus-level statistic."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tok"),
        F.size(F.array_distinct(F.split(F.col("text"), " ")))
        .cast("long")
        .alias("n_dst"),
    )
    rated = toks.select(
        F.when(F.col("n_tok") >= KAPPA_MIN_TOKENS, 1).otherwise(0).alias("ra"),
        F.when(2 * F.col("n_dst") >= F.col("n_tok"), 1).otherwise(0).alias("rb"),
    )
    conf = rated.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("ra") * F.col("rb")).cast("long").alias("n11"),
        F.sum(F.col("ra") * (1 - F.col("rb"))).cast("long").alias("n10"),
        F.sum((1 - F.col("ra")) * F.col("rb")).cast("long").alias("n01"),
        F.sum((1 - F.col("ra")) * (1 - F.col("rb"))).cast("long").alias("n00"),
    )
    n = F.col("n").cast("double")
    po = (F.col("n11") + F.col("n00")).cast("double") / n
    pe = ((F.col("n11") + F.col("n10")).cast("double") / n) * (
        (F.col("n11") + F.col("n01")).cast("double") / n
    ) + ((F.col("n01") + F.col("n00")).cast("double") / n) * (
        (F.col("n10") + F.col("n00")).cast("double") / n
    )
    return conf.select(
        "n",
        "n11",
        "n10",
        "n01",
        "n00",
        F.round(po, 9).alias("p_observed"),
        F.round(pe, 9).alias("p_expected"),
        F.round((po - pe) / (1 - pe), 9).alias("kappa"),
    )


@query(
    "eval_calibration_bins",
    oracle="""
    WITH scored AS (
        SELECT CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
               / CAST(len(string_split(text, ' ')) AS DOUBLE) AS score,
               CASE WHEN text LIKE '%spark%' THEN 1 ELSE 0 END AS label
        FROM documents
    ),
    binned AS (
        SELECT CAST(least(floor(score * 10), 9) AS BIGINT) AS bin,
               label,
               CAST(round(score * 1000000) AS BIGINT) AS score_u
        FROM scored
    ),
    per_bin AS (
        SELECT bin,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(label) AS BIGINT) AS n_pos,
               CAST(sum(score_u) AS BIGINT) AS sum_score_u
        FROM binned GROUP BY bin
    ),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS n_total FROM per_bin)
    SELECT b.bin, b.n, b.n_pos,
           round(CAST(b.n_pos AS DOUBLE) / b.n, 9) AS pos_rate,
           round(CAST(b.sum_score_u AS DOUBLE) / b.n / 1000000, 9) AS mean_score,
           round(abs(CAST(b.n_pos AS DOUBLE) / b.n
                     - CAST(b.sum_score_u AS DOUBLE) / b.n / 1000000)
                 * b.n / t.n_total, 9) AS ece_contrib
    FROM per_bin b, tot t
    ORDER BY b.bin
    """,
    tags=("llm", "curation", "eval", "calibration"),
)
def eval_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram + per-bin ECE contributions for a document
    scorer — the calibration audit run on every learned (or heuristic)
    quality/toxicity scorer before its scores gate data: scores are
    decile-binned, and each bin compares mean score (confidence) against
    the empirical positive rate; expected calibration error is the
    n-weighted sum of the |gap| column (sum(ece_contrib) — left per-bin
    so the output IS the reliability diagram).

    The scorer is the lexical-diversity ratio (distinct/total tokens);
    the proxy label is a content marker ('spark' in text). Both are
    engine-identical per row: the ratio is one IEEE divide of exact
    integers, bin = floor(score*10) on that identical double, and mean
    scores aggregate on the micro-unit integer grid.

    Plan: one document scan -> per-row (bin, label, score_u) -> a 10-key
    hash aggregate + a broadcast 1-row total; text leaves the scan
    pruned away. The same three-column shuffle shape holds at 100 TB —
    calibration is as cheap as a group-by, which is why it should run on
    every scored batch."""
    docs = load_table(spark, sf_dir, "documents")
    n_tok = F.size(F.split(F.col("text"), " ")).cast("double")
    n_dst = F.size(F.array_distinct(F.split(F.col("text"), " "))).cast("double")
    scored = docs.select(
        (n_dst / n_tok).alias("score"),
        F.when(F.col("text").like("%spark%"), 1).otherwise(0).alias("label"),
    )
    binned = scored.select(
        F.least(F.floor(F.col("score") * 10), F.lit(9)).cast("long").alias("bin"),
        "label",
        F.round(F.col("score") * 1000000).cast("long").alias("score_u"),
    )
    per_bin = binned.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("label").cast("long").alias("n_pos"),
        F.sum("score_u").cast("long").alias("sum_score_u"),
    )
    tot = per_bin.agg(F.sum("n").cast("long").alias("n_total"))
    pos_rate = F.col("n_pos").cast("double") / F.col("n")
    mean_score = F.col("sum_score_u").cast("double") / F.col("n") / 1000000
    return (
        per_bin.crossJoin(F.broadcast(tot))
        .select(
            "bin",
            "n",
            "n_pos",
            F.round(pos_rate, 9).alias("pos_rate"),
            F.round(mean_score, 9).alias("mean_score"),
            F.round(
                F.abs(pos_rate - mean_score) * F.col("n") / F.col("n_total"), 9
            ).alias("ece_contrib"),
        )
        .orderBy("bin")
    )


# ---- cross-source syndication / provenance matrix ----

SYN_GRAM_K = 8  # 8-token grams: long enough that sharing implies copying


@query(
    "corpus_syndication_matrix",
    oracle=f"""
    WITH g AS (
        SELECT DISTINCT source, gram FROM (
            SELECT source,
                   unnest(CASE WHEN len(toks) >= {SYN_GRAM_K} THEN
                     list_transform(
                       generate_series(1, len(toks) - {SYN_GRAM_K - 1}),
                       i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                            || ' ' || toks[i+3] || ' ' || toks[i+4] || ' '
                            || toks[i+5] || ' ' || toks[i+6] || ' '
                            || toks[i+7])
                   ELSE [array_to_string(toks, ' ')] END) AS gram
            FROM (SELECT source, string_split(text, ' ') AS toks
                  FROM documents)
        )
    ),
    sz AS (SELECT source, count(*) AS n_grams FROM g GROUP BY source)
    SELECT a.source AS src_a, b.source AS src_b,
           CAST(za.n_grams AS BIGINT) AS n_grams_a,
           CAST(count(*) AS BIGINT) AS n_common,
           round(CAST(count(*) AS DOUBLE) / za.n_grams, 9) AS containment
    FROM g a
    JOIN g b ON a.gram = b.gram AND a.source <> b.source
    JOIN sz za ON za.source = a.source
    GROUP BY a.source, b.source, za.n_grams
    ORDER BY src_a, src_b
    """,
    tags=("llm", "corpus", "provenance", "dedup"),
)
def corpus_syndication_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source syndication matrix — directional {SYN_GRAM_K}-gram
    containment between source pairs: what fraction of source A's
    distinct {SYN_GRAM_K}-token grams also appear in source B. Long
    grams shared across sources mean verbatim copying (wire syndication,
    mirrors, scraped re-posts), so a high containment row says A's
    content is largely redundant given B and the mixture should
    down-weight one of them — the PROVENANCE diagnostic that
    [corpus_source_overlap] (vocabulary Jaccard: topic similarity) and
    [decontaminate_ngram] (eval-vs-train leakage) don't answer. Pairs
    with zero shared grams are omitted (inner join).

    Plan: the distinct (source, gram) set collapses map-side before one
    gram-keyed exchange; the intersection is a gram-keyed self-join
    whose per-gram fan-out is bounded by the SOURCE count (mixtures have
    tens of sources, so ≤ S² rows per gram — linear in corpus grams, no
    df-cap needed, unlike the doc-keyed shingle joins). Engine-side
    grams are 8-byte xxhash64 values, never strings, exactly the
    dedup_ngram_jaccard choice (the oracle compares raw gram strings; a
    cross-gram collision is ~1e-11). Source-size frames broadcast."""
    with scoped_cache() as persist:
        return _syndication_build(spark, sf_dir, persist).localCheckpoint(
            eager=True
        )


def _syndication_build(spark: SparkSession, sf_dir: str, persist) -> DataFrame:
    """Pre-checkpoint syndication plan, its gram set persisted through
    the caller's scope — factored so tests/test_plans.py can pin the
    equi-join + broadcast shape (the registered query localCheckpoints
    its result, which hides the plan)."""
    from ocs_duckdb_runner_spark.llm.dedup import shingle_hashes
    from ocs_duckdb_runner_spark.registry import spread

    d = load_table(spark, sf_dir, "documents")
    # tokenize BELOW an exchange (see _doc_token_frame: collapsed
    # projections re-inline split() into every element_at slot)
    toks = spread(
        d.select("source", F.split(F.col("text"), " ").alias("toks"))
    )
    sg = persist(
        toks.select(
            "source",
            F.explode(shingle_hashes(F.col("toks"), SYN_GRAM_K)).alias(
                "gram"
            ),
        ).distinct()
    )
    sz = sg.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_grams_a")
    )
    a = sg.toDF("src_a", "gram")
    b = sg.toDF("src_b", "gram2")
    inter = (
        a.join(b, (a.gram == b.gram2) & (a.src_a != b.src_b))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_common"))
    )
    za = sz.toDF("za_src", "n_grams_a")
    return (
        inter.join(F.broadcast(za), inter.src_a == za.za_src)
        .select(
            "src_a",
            "src_b",
            "n_grams_a",
            "n_common",
            F.round(
                F.col("n_common").cast("double") / F.col("n_grams_a"), 9
            ).alias("containment"),
        )
        .orderBy("src_a", "src_b")
    )


_DSIR_DIM = 64  # hashed-feature buckets (text_feature_hashing's dim)


@query(
    "quality_dsir_weights",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, lang,
               CAST(concat('0x', substr(md5(t), 1, 8)) AS BIGINT)
                   % {_DSIR_DIM} AS b
        FROM (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS t
              FROM documents)
        WHERE t <> ''),
    cnt AS (
        SELECT b,
               CAST(count(*) AS BIGINT) AS cr,
               CAST(count(*) FILTER (WHERE lang = 'en') AS BIGINT) AS ct
        FROM tok GROUP BY b),
    tot AS (
        SELECT CAST(sum(cr) AS BIGINT) AS nr, CAST(sum(ct) AS BIGINT) AS nt
        FROM cnt),
    model AS (
        SELECT b,
               CAST(round((ln((CAST(ct AS DOUBLE) + 1)
                              / (CAST(nt AS DOUBLE) + {_DSIR_DIM}))
                           - ln((CAST(cr AS DOUBLE) + 1)
                                / (CAST(nr AS DOUBLE) + {_DSIR_DIM})))
                          * 1000000) AS BIGINT) AS lr_fx
        FROM cnt, tot)
    SELECT t.doc_id,
           any_value(t.lang) AS lang,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(m.lr_fx) AS BIGINT) AS dsir_fx,
           CAST(sum(m.lr_fx) > 0 AS BOOLEAN) AS keep
    FROM tok t JOIN model m USING (b)
    GROUP BY t.doc_id
    """,
    tags=("llm", "curation", "dsir", "data-selection"),
)
def quality_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection (Xie et al. 2023, "Data Selection for Language
    Models via Importance Resampling"): score every document by the
    log importance ratio log p_target(doc) / log p_raw(doc) under two
    hashed-unigram bag-of-words models — the method behind
    domain-targeted pretraining mixes. Target distribution = the 'en'
    slice (stand-in for "high-quality domain sample"); raw = the whole
    corpus; features = md5-hashed token buckets (dim {_DSIR_DIM}, the
    text_feature_hashing trick — no vocabulary build, stable across
    shards). Laplace add-one smoothing on both models; keep = positive
    mean per-token log-ratio, i.e. "looks more target than raw".

    Cross-engine exactness: the per-bucket log-ratio is fixed-pointed to
    integer micro-nats (round(ln(..)*1e6) on identical doubles from
    identical integer counts) and the per-doc score stays an INTEGER sum
    of those (dsir_fx, micro-nats) — not a rounded per-token mean,
    because at the 10x probe three docs landed on exact 5e-10 rounding
    ties where the engines' HALF_UP disagree (the text_bigram_lm_kn
    lesson; integer div is no refuge here since dsir_fx goes negative
    and Spark's `div` truncates while DuckDB's `//` floors).

    Plan at 100 TB: bucketing is map-side (token never leaves the map
    stage); BOTH models come from ONE {_DSIR_DIM}-row conditional
    aggregate over the bucketed stream (target = FILTER'd sum inside the
    same pass — no second scan for the target corpus); the scoring join
    broadcasts the {_DSIR_DIM}-row model; scoring itself is one
    doc-keyed integer aggregate. Two passes over tokens total — train
    and score — which is DSIR's intrinsic minimum.

    Row-explosion discipline (r11 verdict Next #6): the naive plan
    explodes one ROW PER TOKEN twice (1.5B rows at the 1000x probe —
    measured GC-bound there, 12.4x wall for 10x data). With only
    {_DSIR_DIM} buckets a doc's bucketed token list collapses to at most
    {_DSIR_DIM} (bucket, count) pairs, so each pass now sorts the
    bucket array INSIDE the doc row (array_sort + boundary filter =
    run-length encoding, all JVM codegen) and explodes one row per
    DISTINCT bucket per doc. Every downstream aggregate weights by the
    run length c — sum over tokens == sum over (bucket, count) pairs,
    so the ORACLE is unchanged and stays exact. A/B at the 1000x strike
    in SCALING.md."""
    d = load_table(spark, sf_dir, "documents")
    # Empty-doc guard on the BASE column, not the kernel alias (r12
    # optimization): `.filter(size(s) > 0)` references the aliased
    # bucket-array kernel, and filter pushdown substitutes the WHOLE
    # tokenize+md5+sort kernel into a Filter below the projection — the
    # plan carried THREE full kernel copies inside Filter conditions on
    # top of the two intrinsic train/score passes. `exists(split(..))`
    # is the same predicate (s has exactly one element per non-empty
    # token), costs one short-circuiting scan of the token array, and
    # leaves the kernel to the projections only.
    bucketed = d.filter(
        F.expr("exists(split(text, ' '), x -> x <> '')")
    ).select(
        "doc_id",
        "lang",
        F.expr(
            f"""array_sort(transform(
                  filter(split(text, ' '), x -> x <> ''),
                  t -> cast(conv(substring(md5(t), 1, 8), 16, 10)
                            as bigint) % {_DSIR_DIM}))"""
        ).alias("s"),
    )
    # run starts -> (bucket, run length) pairs; one exploded row per
    # distinct bucket per doc instead of one per token
    tok = (
        bucketed.select(
            "doc_id",
            "lang",
            "s",
            F.expr(
                """filter(sequence(0, size(s) - 1),
                          i -> i = 0
                               OR element_at(s, i + 1)
                                  <> element_at(s, i))"""
            ).alias("st"),
        )
        .select(
            "doc_id",
            "lang",
            F.explode(
                F.expr(
                    """transform(st, (p, j) -> struct(
                         element_at(s, p + 1) AS b,
                         coalesce(try_element_at(st, j + 2), size(s)) - p
                             AS c))"""
                )
            ).alias("pc"),
        )
        .select(
            "doc_id",
            "lang",
            F.col("pc.b").alias("b"),
            F.col("pc.c").cast("long").alias("c"),
        )
    )
    cnt = tok.groupBy("b").agg(
        F.sum("c").cast("long").alias("cr"),
        F.coalesce(
            F.sum(F.when(F.col("lang") == "en", F.col("c"))), F.lit(0)
        )
        .cast("long")
        .alias("ct"),
    )
    tot = cnt.agg(
        F.sum("cr").cast("long").alias("nr"),
        F.sum("ct").cast("long").alias("nt"),
    )
    model = cnt.crossJoin(F.broadcast(tot)).select(
        "b",
        F.round(
            (
                F.log(
                    (F.col("ct").cast("double") + 1)
                    / (F.col("nt").cast("double") + _DSIR_DIM)
                )
                - F.log(
                    (F.col("cr").cast("double") + 1)
                    / (F.col("nr").cast("double") + _DSIR_DIM)
                )
            )
            * 1000000
        )
        .cast("long")
        .alias("lr_fx"),
    )
    return (
        tok.join(F.broadcast(model), "b")
        .groupBy("doc_id")
        .agg(
            F.any_value("lang").alias("lang"),
            F.sum("c").cast("long").alias("n_tokens"),
            F.sum(F.col("lr_fx") * F.col("c")).cast("long").alias("dsir_fx"),
            (F.sum(F.col("lr_fx") * F.col("c")) > 0).alias("keep"),
        )
    )


@query(
    "text_ccnet_buckets",
    oracle="""
    WITH tok AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w
                 FROM documents),
    cnt AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY w),
    tot AS (SELECT CAST(sum(c) AS BIGINT) AS n_corpus FROM cnt),
    vocab AS (SELECT w, CAST(round(ln(c) * 1000000) AS BIGINT) AS logc_fx
              FROM cnt ORDER BY c DESC, w LIMIT 16),
    per AS (
      SELECT t.doc_id,
             any_value(t.lang) AS lang,
             CAST(count(*) AS BIGINT) AS n_tokens,
             CAST(sum(coalesce(v.logc_fx, 0)) AS BIGINT) AS score_fx,
             round(ln(tot.n_corpus)
                   - CAST(sum(coalesce(v.logc_fx, 0)) AS DOUBLE)
                     / 1000000 / count(*), 9) AS ce
      FROM tok t LEFT JOIN vocab v ON t.w = v.w, tot
      GROUP BY t.doc_id, tot.n_corpus),
    bucketed AS (
      SELECT lang, n_tokens, score_fx,
             ntile(3) OVER (PARTITION BY lang ORDER BY ce, doc_id) AS q
      FROM per)
    SELECT lang,
           CASE q WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                  ELSE 'tail' END AS bucket,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
           CAST(sum(score_fx) AS BIGINT) AS sum_score_fx
    FROM bucketed
    GROUP BY 1, 2
    """,
    tags=("llm", "curation", "ccnet", "lm"),
)
def text_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style head/middle/tail corpus partitioning (Wenzek et al.
    2020): score every document by unigram-LM cross-entropy (the exact
    text_unigram_lm recipe — integer micro-nat token log-counts, top-V
    vocabulary with the OOV count-1 floor, one double fold per doc),
    then split each LANGUAGE into perplexity terciles with ntile(3).
    CCNet keeps 'head' (most fluent third) for pretraining; the output
    is the mixture table a curation pipeline acts on: per (lang,
    bucket) doc and token counts plus the exact integer score mass.

    Determinism: ntile's frame is totally ordered by (ce, doc_id) —
    ce is the same double in both engines (computed from identical
    integer sums), doc_id breaks ties — so bucket assignment is exact,
    not approximately-equal-sized-and-hope.

    Plan at 100 TB: everything up to `per` is text_unigram_lm's plan
    (token-keyed count aggregate, V-row broadcast, doc-keyed integer
    aggregate); the tercile window shuffles ONE ROW PER DOC keyed by
    lang — ~34 bytes/doc, nothing like the token stream — and the
    mixture rollup is a 3·|langs|-row aggregate. Per-lang skew (one
    giant language) is real at 100 TB: the ntile window serializes per
    lang, so the production variant swaps ntile for quantile CUTS from
    approx_percentile per lang (two tiny passes) — documented here,
    exercised exactly via ntile because the oracle needs the exact
    tercile."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id",
        "lang",
        F.explode(F.filter(F.split("text", " "), lambda x: x != "")).alias(
            "w"
        ),
    )
    cnt = tok.groupBy("w").agg(F.count(F.lit(1)).cast("long").alias("c"))
    vocab = (
        cnt.orderBy(F.desc("c"), F.asc("w"))
        .limit(16)
        .select(
            "w", F.round(F.log("c") * 1000000).cast("long").alias("logc_fx")
        )
    )
    total = cnt.agg(F.sum("c").cast("long").alias("n_corpus"))
    per = (
        tok.join(F.broadcast(vocab), "w", "left")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.any_value("lang").alias("lang"),
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum(F.coalesce(F.col("logc_fx"), F.lit(0)))
            .cast("long")
            .alias("score_fx"),
            F.round(
                F.log(F.any_value("n_corpus"))
                - F.sum(F.coalesce(F.col("logc_fx"), F.lit(0))).cast(
                    "double"
                )
                / 1000000
                / F.count(F.lit(1)),
                9,
            ).alias("ce"),
        )
    )
    w = Window.partitionBy("lang").orderBy("ce", "doc_id")
    bucketed = per.select(
        "lang", "n_tokens", "score_fx", F.ntile(3).over(w).alias("q")
    )
    return bucketed.groupBy(
        "lang",
        F.when(F.col("q") == 1, "head")
        .when(F.col("q") == 2, "middle")
        .otherwise("tail")
        .alias("bucket"),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
        F.sum("score_fx").cast("long").alias("sum_score_fx"),
    )


@query(
    "text_contrastive_pairs",
    oracle="""
    WITH base AS (
      SELECT doc_id,
             list_filter(string_split(text, ' '), x -> x <> '') AS toks,
             CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                  AS BIGINT) AS hh
      FROM documents),
    halves AS (
      SELECT doc_id, hh, hh % 16 AS bucket,
             array_to_string(toks[1:length(toks) // 2], ' ') AS anchor,
             array_to_string(toks[length(toks) // 2 + 1:length(toks)], ' ')
                 AS positive
      FROM base WHERE length(toks) >= 4),
    ringed AS (
      SELECT doc_id, bucket, anchor, positive,
             coalesce(lead(doc_id) OVER w, first_value(doc_id) OVER w)
                 AS neg_doc_id,
             coalesce(lead(positive) OVER w, first_value(positive) OVER w)
                 AS negative
      FROM halves
      WINDOW w AS (PARTITION BY bucket ORDER BY hh, doc_id))
    SELECT doc_id, CAST(bucket AS BIGINT) AS bucket,
           anchor, positive, neg_doc_id, negative
    FROM ringed WHERE neg_doc_id <> doc_id
    """,
    tags=("llm", "curation", "contrastive", "training-data"),
)
def text_contrastive_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive training-pair mining (the E5/GTE embedding-training
    data shape): each document's first token half is the ANCHOR, its
    second half the POSITIVE (adjacent spans of one document are
    near-paraphrase-level related — the standard unsupervised positive),
    and the NEGATIVE is the positive of the NEXT document on a
    deterministic hash ring — an in-batch-negative stand-in that both
    engines derive identically. Ring structure: docs land in 16 md5
    buckets, are ordered by (hash, doc_id) within each, and each doc
    takes its successor's positive (the last wraps to the first);
    single-doc buckets self-pair and are dropped on both sides.

    Plan at 100 TB: the halving is map-side; the ring is ONE window
    pass partitioned by bucket — with B buckets sized ~|docs|/B the
    window never serializes (scale B with the corpus; the bucket count
    only changes which negative you draw, not the validity of the
    draw). No join: lead() IS the pairing. Contrast with a naive
    'sample a random other doc' join, which shuffles the corpus
    twice."""
    d = load_table(spark, sf_dir, "documents")
    halves = (
        d.select(
            "doc_id",
            F.filter(F.split("text", " "), lambda x: x != "").alias("toks"),
            F.conv(
                F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8),
                16,
                10,
            )
            .cast("long")
            .alias("hh"),
        )
        .filter(F.size("toks") >= 4)
        .selectExpr(
            "doc_id",
            "hh",
            "hh % 16 AS bucket",
            "array_join(slice(toks, 1, size(toks) div 2), ' ') AS anchor",
            """array_join(slice(toks, size(toks) div 2 + 1,
                                size(toks) - size(toks) div 2), ' ')
               AS positive""",
        )
    )
    w = Window.partitionBy("bucket").orderBy("hh", "doc_id")
    ringed = halves.select(
        "doc_id",
        "bucket",
        "anchor",
        "positive",
        F.coalesce(
            F.lead("doc_id").over(w), F.first("doc_id").over(w)
        ).alias("neg_doc_id"),
        F.coalesce(
            F.lead("positive").over(w), F.first("positive").over(w)
        ).alias("negative"),
    )
    return ringed.filter(F.col("neg_doc_id") != F.col("doc_id")).select(
        "doc_id",
        F.col("bucket").cast("long").alias("bucket"),
        "anchor",
        "positive",
        "neg_doc_id",
        "negative",
    )
