"""Text-analysis operators for LLM training-data pipelines (SURVEY.md §2c
EXT: explode/tokenize, corpus stats, language-ID, quality scoring, token
counting, document fingerprinting).

Everything here is built-in JVM expressions — split/explode for the lateral
shape, higher-order array functions (filter/transform/aggregate) for
per-document token math with NO shuffle and NO Python, md5 for
fingerprints. At 100 TB these are embarrassingly parallel map-side
operators; only the corpus-level aggregations (vocab, per-lang stats)
shuffle, and those shuffle already-reduced partial aggregates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ocs_duckdb_runner_spark.registry import load_table, query, spread
from ocs_duckdb_runner_spark.session import scoped_cache

# Deterministic keyword sets for the n-gram/stopword language-ID heuristic.
# The fixture vocabulary is an engine-word soup; these play the role of the
# per-language frequency tables a real lang-ID model ships with.
_PROFILES = {
    "relational": ("join", "hash", "scan", "filter", "merge", "table"),
    "columnar": ("column", "vector", "batch", "row", "value"),
    "streaming": ("stream", "window", "watermark", "state", "event"),
    "sparkish": ("spark", "shuffle", "partition", "executor", "stage"),
}
_STOPWORDS = ("a", "the", "of", "and", "to", "in", "is", "on")


def _sql_list(words: tuple[str, ...]) -> str:
    return ", ".join(f"'{w}'" for w in words)


def _tokens():
    return F.split(F.col("text"), " ")


def _n_matches(tokens, words: tuple[str, ...]):
    return F.size(F.filter(tokens, lambda t: t.isin(*words)))


@query(
    "explode_tokens",
    oracle="""
    SELECT token, CAST(count(*) AS BIGINT) AS n,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
    FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token
          FROM documents)
    GROUP BY token
    """,
    tags=("llm", "text", "udtf"),
)
def explode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UDTF-shaped lateral: tokenize → explode → corpus token frequencies
    and document frequencies (the DF half of TF-IDF)."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select("doc_id", F.explode(_tokens()).alias("token"))
        .groupBy("token")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
    )


@query(
    "explode_with_position",
    oracle="""
    SELECT doc_id,
           generate_subscripts(toks, 1) - 1 AS pos,
           unnest(toks) AS tok
    FROM (SELECT doc_id, (string_split(text, ' '))[1:8] AS toks
          FROM documents) t
    """,
    tags=("llm", "text", "udtf"),
)
def explode_with_position(spark: SparkSession, sf_dir: str) -> DataFrame:
    """posexplode — the position-preserving generator: (doc_id, pos, tok)
    for the first 8 tokens of every document. Position matters wherever
    order is signal: n-gram construction, positional prompt features,
    sequence labeling. The prefix slice bounds output at 8 rows/doc so
    the operator's cost is corpus-linear with a fixed constant, and the
    slice sits INSIDE the generator input, so pruned columns + the slice
    reach the scan and un-kept tokens are never materialized. Pure
    map-side, no exchange. Oracle: DuckDB's unnest +
    generate_subscripts, 1-based → 0-based to match posexplode."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.posexplode(F.slice(F.split(F.col("text"), " "), 1, 8)).alias(
            "pos", "tok"
        ),
    )


@query(
    "text_stats",
    oracle="""
    WITH tok AS (SELECT lang, doc_id, unnest(string_split(text, ' ')) AS token
                 FROM documents)
    SELECT d.lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(d.n_chars) AS BIGINT) AS total_chars,
           CAST(sum(d.n_chars) AS DOUBLE) / count(*) AS avg_chars,
           (SELECT CAST(count(DISTINCT t.token) AS BIGINT)
            FROM tok t WHERE t.lang = d.lang) AS vocab
    FROM documents d
    GROUP BY d.lang
    """,
    tags=("llm", "text"),
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus stats: doc count, char volume, exact mean doc
    length, vocabulary size (distinct tokens via explode)."""
    d = load_table(spark, sf_dir, "documents")
    base = d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        (F.sum("n_chars").cast("double") / F.count(F.lit(1))).alias("avg_chars"),
    )
    vocab = (
        d.select("lang", F.explode(_tokens()).alias("token"))
        .groupBy("lang")
        .agg(F.countDistinct("token").alias("vocab"))
    )
    return base.join(vocab, "lang")


@query(
    "text_lang_id",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, lang,
             len(list_filter(string_split(text, ' '),
                 t -> t IN ({_sql_list(_PROFILES['relational'])}))) AS s_relational,
             len(list_filter(string_split(text, ' '),
                 t -> t IN ({_sql_list(_PROFILES['columnar'])}))) AS s_columnar,
             len(list_filter(string_split(text, ' '),
                 t -> t IN ({_sql_list(_PROFILES['streaming'])}))) AS s_streaming,
             len(list_filter(string_split(text, ' '),
                 t -> t IN ({_sql_list(_PROFILES['sparkish'])}))) AS s_sparkish
      FROM documents)
    SELECT doc_id, lang,
           CAST(s_relational AS INT) AS s_relational,
           CAST(s_columnar AS INT) AS s_columnar,
           CAST(s_streaming AS INT) AS s_streaming,
           CAST(s_sparkish AS INT) AS s_sparkish,
           CASE
             WHEN s_relational >= s_columnar AND s_relational >= s_streaming
                  AND s_relational >= s_sparkish THEN 'relational'
             WHEN s_columnar >= s_streaming AND s_columnar >= s_sparkish
                  THEN 'columnar'
             WHEN s_streaming >= s_sparkish THEN 'streaming'
             ELSE 'sparkish'
           END AS pred
    FROM scored
    """,
    tags=("llm", "text", "langid"),
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyword-profile language identification: score each document
    against per-class keyword tables (the unigram analog of an n-gram
    lang-ID model) and take a deterministic argmax. Pure map-side
    higher-order functions — no explode, no shuffle."""
    d = load_table(spark, sf_dir, "documents")
    toks = _tokens()
    scored = d.select(
        "doc_id",
        "lang",
        *(
            _n_matches(toks, words).alias(f"s_{name}")
            for name, words in _PROFILES.items()
        ),
    )
    s = {n: F.col(f"s_{n}") for n in _PROFILES}
    pred = (
        F.when(
            (s["relational"] >= s["columnar"])
            & (s["relational"] >= s["streaming"])
            & (s["relational"] >= s["sparkish"]),
            "relational",
        )
        .when(
            (s["columnar"] >= s["streaming"]) & (s["columnar"] >= s["sparkish"]),
            "columnar",
        )
        .when(s["streaming"] >= s["sparkish"], "streaming")
        .otherwise("sparkish")
    )
    return scored.withColumn("pred", pred)


@query(
    "text_quality",
    oracle=f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS tokens,
                      CAST(length(text) AS BIGINT) AS len_chars
               FROM documents)
    SELECT doc_id, len_chars,
           CAST(len(tokens) AS BIGINT) AS n_tokens,
           CAST(len(list_distinct(tokens)) AS BIGINT) AS n_distinct,
           CAST(len(list_distinct(tokens)) AS DOUBLE) / len(tokens) AS ttr,
           CAST(len(list_filter(tokens, t -> t IN ({_sql_list(_STOPWORDS)})))
                AS DOUBLE) / len(tokens) AS stop_ratio,
           CAST(len_chars - len(tokens) + 1 AS DOUBLE) / len(tokens)
             AS avg_token_len,
           (len(tokens) >= 20 AND len(tokens) <= 1000
            AND CAST(len(list_distinct(tokens)) AS DOUBLE) / len(tokens) > 0.2)
             AS keep
    FROM t
    """,
    tags=("llm", "text", "quality"),
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality signals (the Gopher/C4-style filter features):
    length, token count, type-token ratio, stopword ratio, mean token
    length, and a boolean keep-decision. All ratios are exact-integer
    divisions → bit-stable across engines and cluster sizes."""
    d = load_table(spark, sf_dir, "documents")
    toks = _tokens()
    out = d.select(
        "doc_id",
        F.length("text").cast("long").alias("len_chars"),
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_distinct"),
        _n_matches(toks, _STOPWORDS).alias("n_stop"),
    )
    ttr = F.col("n_distinct").cast("double") / F.col("n_tokens")
    return out.select(
        "doc_id",
        "len_chars",
        "n_tokens",
        "n_distinct",
        ttr.alias("ttr"),
        (F.col("n_stop").cast("double") / F.col("n_tokens")).alias("stop_ratio"),
        (
            (F.col("len_chars") - F.col("n_tokens") + 1).cast("double")
            / F.col("n_tokens")
        ).alias("avg_token_len"),
        (
            (F.col("n_tokens") >= 20) & (F.col("n_tokens") <= 1000) & (ttr > 0.2)
        ).alias("keep"),
    )


@query(
    "text_token_count",
    oracle=r"""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS INT) AS ws_tokens,
           CAST(len(regexp_extract_all(text, '[a-zA-Z0-9]+')) AS INT) AS word_tokens,
           CAST(len(regexp_extract_all(text, '[bcdfghjklmnpqrstvwxyz]*[aeiou]+'))
                AS INT) AS bpe_ish_tokens,
           CAST(ceil(CAST(length(text) AS DOUBLE) / 4) AS BIGINT) AS byte_est_tokens
    FROM documents
    """,
    tags=("llm", "text", "tokens"),
)
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting four ways: whitespace split, word-regex, a BPE-ish
    consonant+vowel-cluster regex (subword proxy), and the chars/4
    heuristic. regexp_count is codegen'd — no UDF."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(_tokens()).alias("ws_tokens"),
        F.regexp_count("text", F.lit("[a-zA-Z0-9]+")).alias("word_tokens"),
        F.regexp_count("text", F.lit("[bcdfghjklmnpqrstvwxyz]*[aeiou]+")).alias(
            "bpe_ish_tokens"
        ),
        F.ceil(F.length("text").cast("double") / 4).alias("byte_est_tokens"),
    )


@query(
    "text_fingerprint",
    oracle="""
    SELECT doc_id,
           md5(text) AS fp_exact,
           md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))),
               ' ')) AS fp_bag,
           CAST(length(text) AS BIGINT) AS len_chars
    FROM documents
    """,
    tags=("llm", "text", "fingerprint"),
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprints: exact content hash plus an order-insensitive
    bag-of-words hash (sorted distinct tokens) — the cheap first pass of a
    dedup pipeline: group by fingerprint instead of comparing texts."""
    d = load_table(spark, sf_dir, "documents")
    toks = _tokens()
    return d.select(
        "doc_id",
        F.md5(F.col("text").cast("binary")).alias("fp_exact"),
        F.md5(
            F.concat_ws(" ", F.array_sort(F.array_distinct(toks))).cast("binary")
        ).alias("fp_bag"),
        F.length("text").cast("long").alias("len_chars"),
    )


@query(
    "text_normalize",
    oracle="""
    WITH n AS (
      SELECT doc_id,
             trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
                                 ' +', ' ', 'g')) AS norm
      FROM documents
    )
    SELECT doc_id, md5(norm) AS norm_fp,
           CAST(length(norm) AS BIGINT) AS norm_len,
           substr(norm, 1, 30) AS norm_head
    FROM n
    """,
    tags=("llm", "text", "normalize"),
)
def text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical text normalization — the step before any dedup/fingerprint
    pass: lowercase, strip non-alphanumerics, collapse whitespace, trim.
    Emitting the md5 of the normalized form proves byte-identical
    normalization across engines (the property exact dedup at 100 TB
    depends on: a one-byte drift splits a duplicate cluster). Pure
    map-side, whole-stage-codegen'd, no shuffle."""
    d = load_table(spark, sf_dir, "documents")
    # one-pass run-replacement — byte-identical to the oracle's two-pass
    # strip-then-collapse spelling but 32x faster in java.util.regex
    # (measured at the 1000x probe; see pipeline_dedup_end2end). The
    # oracle keeps the two-pass SQL, so the norm_fp md5 match proves the
    # equivalence byte-for-byte on every fixture.
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9]+", " "))
    return d.select(
        "doc_id",
        F.md5(norm.cast("binary")).alias("norm_fp"),
        F.length(norm).cast("long").alias("norm_len"),
        F.substring(norm, 1, 30).alias("norm_head"),
    )


@query(
    "text_pii_redact",
    oracle="""
    WITH synth AS (
      SELECT doc_id,
             substr(text, 1, 60) || ' contact user' || CAST(doc_id AS VARCHAR)
               || '@example.com or call 555-' ||
               lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS body
      FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(body, '[a-z0-9]+@[a-z0-9.]+')) AS INTEGER)
             AS n_emails,
           CAST(len(regexp_extract_all(body, '[0-9]{3}-[0-9]{4}')) AS INTEGER)
             AS n_phones,
           md5(regexp_replace(regexp_replace(body, '[a-z0-9]+@[a-z0-9.]+',
                                             '<EMAIL>', 'g'),
                              '[0-9]{3}-[0-9]{4}', '<PHONE>', 'g')) AS redacted_fp
    FROM synth
    """,
    tags=("llm", "text", "pii"),
)
def text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction — the scrubbing pass of a training-data
    pipeline: count and mask email/phone patterns. The fixture corpus is a
    clean word soup, so each doc is salted with one synthetic email+phone
    (a deterministic function of doc_id) to give the redactor real work;
    the oracle checks the match counts AND the md5 of the redacted output,
    so both engines must rewrite identical bytes. Patterns stay in the
    RE2 ∩ java.regex portable subset; map-side only."""
    d = load_table(spark, sf_dir, "documents")
    body = F.concat(
        F.substring("text", 1, 60),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or call 555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )
    email, phone = "[a-z0-9]+@[a-z0-9.]+", "[0-9]{3}-[0-9]{4}"
    redacted = F.regexp_replace(
        F.regexp_replace(body, email, "<EMAIL>"), phone, "<PHONE>"
    )
    return d.select(
        "doc_id",
        F.size(F.regexp_extract_all(body, F.lit(email), 0)).alias("n_emails"),
        F.size(F.regexp_extract_all(body, F.lit(phone), 0)).alias("n_phones"),
        F.md5(redacted.cast("binary")).alias("redacted_fp"),
    )


@query(
    "text_tfidf",
    oracle="""
    WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
                 FROM documents),
    tf AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
           FROM tok GROUP BY 1, 2),
    df AS (SELECT token, CAST(count(*) AS BIGINT) AS dfreq FROM tf GROUP BY 1),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.token, tf.tf, df.dfreq,
             round(tf.tf * ln((n.n_docs + 1.0) / (df.dfreq + 1.0)), 6)
               AS tfidf,
             row_number() OVER (
               PARTITION BY tf.doc_id
               ORDER BY tf.tf * ln((n.n_docs + 1.0) / (df.dfreq + 1.0)) DESC,
                        tf.token
             ) AS rn
      FROM tf JOIN df ON df.token = tf.token CROSS JOIN n)
    SELECT doc_id, token, tf, dfreq, tfidf
    FROM scored WHERE rn <= 5
    """,
    tags=("llm", "text", "tfidf"),
)
def text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF keyword extraction: top-5 highest-scoring tokens per document
    (score = tf · ln((N+1)/(df+1)), smoothed). All inputs to the double
    arithmetic are integers, so scores are bit-identical per engine pair;
    token is the rank tie-break. Plan shape for scale: tf is one shuffle on
    (doc_id, token); df re-aggregates the already-tiny tf side; N and the
    df table broadcast back onto tf (df is vocab-sized, not corpus-sized);
    the final top-5 per doc is a WindowGroupLimit, not a global sort."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("token"))
    tf = tok.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    df = tf.groupBy("token").agg(F.count(F.lit(1)).alias("dfreq"))
    n_docs = d.agg(F.count(F.lit(1)).alias("n_docs"))
    score = F.col("tf") * F.log(
        (F.col("n_docs") + F.lit(1.0)) / (F.col("dfreq") + F.lit(1.0))
    )
    w = Window.partitionBy("doc_id").orderBy(score.desc(), F.col("token"))
    return (
        tf.join(F.broadcast(df), "token")
        .crossJoin(F.broadcast(n_docs))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("doc_id", "token", "tf", "dfreq", F.round(score, 6).alias("tfidf"))
    )


@query(
    "text_stopword_removal",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
    SELECT doc_id,
           CAST(len(toks) AS INTEGER) AS n_tokens,
           CAST(len(list_filter(toks, x -> x NOT IN
                ('a','the','of','and','to','in','is','on'))) AS INTEGER)
             AS n_content,
           md5(array_to_string(list_filter(toks, x -> x NOT IN
                ('a','the','of','and','to','in','is','on')), ' ')) AS cleaned_fp
    FROM t
    """,
    tags=("llm", "text", "stopwords"),
)
def text_stopword_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword removal — the token-level cleaning pass before indexing or
    shingling: filter the stopword set out of each document map-side
    (higher-order filter, no explode), emit the content-token count and
    the md5 of the cleaned text so both engines must produce identical
    cleaned bytes in identical order."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    cleaned = F.filter(toks, lambda x: ~x.isin(*_STOPWORDS))
    return d.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.size(cleaned).alias("n_content"),
        F.md5(F.array_join(cleaned, " ").cast("binary")).alias("cleaned_fp"),
    )


@query(
    "text_repetition",
    oracle="""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ), base AS (
        SELECT doc_id,
               CAST(len(toks) AS BIGINT) AS n_tokens,
               CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct
        FROM toks
    ), bg AS (
        SELECT doc_id,
               unnest(list_transform(generate_series(1, len(toks) - 1),
                                     i -> toks[i] || ' ' || toks[i+1])) AS bigram
        FROM toks WHERE len(toks) >= 2
    ), bgc AS (
        SELECT doc_id, bigram, count(*) AS c FROM bg GROUP BY doc_id, bigram
    ), bgs AS (
        SELECT doc_id,
               CAST(max(c) AS BIGINT) AS top_bigram_n,
               CAST(sum(c) AS BIGINT) AS n_bigrams
        FROM bgc GROUP BY doc_id
    )
    SELECT b.doc_id, b.n_tokens,
           (b.n_tokens - b.n_distinct) / b.n_tokens AS dup_token_frac,
           coalesce(s.top_bigram_n, 0) / greatest(coalesce(s.n_bigrams, 0), 1)
               AS top_bigram_frac,
           (b.n_tokens - b.n_distinct) / b.n_tokens > 0.85
               OR coalesce(s.top_bigram_n, 0)
                  / greatest(coalesce(s.n_bigrams, 0), 1) > 0.05
               AS is_repetitive
    FROM base b LEFT JOIN bgs s ON s.doc_id = b.doc_id
    """,
    tags=("llm", "text", "quality"),
)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals per document: duplicate-token
    fraction (1 − distinct/total) and top-bigram fraction (occurrences of the
    most frequent word 2-gram over all 2-grams), plus the composite
    repetitive-document flag a filtering pipeline would gate on.

    Shape: the token stats are pure map-side array math on a persisted
    tokenized projection (split runs once per doc — projection collapse
    would otherwise re-inline it into every lambda slot). The bigram mode
    is the one genuinely distributed piece: explode → count by
    (doc_id, bigram) → max per doc — a word-count-shaped shuffle keyed by
    (doc_id, bigram), the same two-level re-aggregation that scales to any
    corpus since partial aggregation collapses repeats map-side.

    Both fractions are ratios of exact integers (one IEEE division each),
    so values hash-match the DuckDB oracle bit-for-bit.
    """
    docs = load_table(spark, sf_dir, "documents")
    with scoped_cache() as persist:
        toks_df = persist(docs.select(
            "doc_id", F.split(F.col("text"), " ").alias("toks")
        ))
        base = toks_df.select(
            "doc_id",
            F.size("toks").cast("long").alias("n_tokens"),
            F.size(F.array_distinct("toks")).cast("long").alias("n_distinct"),
        )
        bigrams = toks_df.filter(F.size("toks") >= 2).select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(toks) - 1),"
                    " i -> concat(element_at(toks, i), ' ',"
                    "             element_at(toks, i + 1)))"
                )
            ).alias("bigram"),
        )
        bgs = (
            bigrams.groupBy("doc_id", "bigram")
            .agg(F.count(F.lit(1)).alias("c"))
            .groupBy("doc_id")
            .agg(
                F.max("c").alias("top_bigram_n"),
                F.sum("c").alias("n_bigrams"),
            )
        )
        dup_frac = (F.col("n_tokens") - F.col("n_distinct")) / F.col("n_tokens")
        top_frac = F.coalesce(F.col("top_bigram_n"), F.lit(0)) / F.greatest(
            F.coalesce(F.col("n_bigrams"), F.lit(0)), F.lit(1)
        )
        out = (
            base.join(bgs, "doc_id", "left")
            .select(
                "doc_id",
                "n_tokens",
                dup_frac.alias("dup_token_frac"),
                top_frac.alias("top_bigram_frac"),
                ((dup_frac > 0.85) | (top_frac > 0.05)).alias("is_repetitive"),
            )
        )
        return out.localCheckpoint(eager=True)


@query(
    "quality_classifier",
    oracle=f"""
    WITH sig AS (
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS DOUBLE) AS n_tok,
               CAST(len(list_filter(string_split(text, ' '),
                        t -> t IN ({_sql_list(_STOPWORDS)}))) AS DOUBLE)
                   AS n_stop,
               CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                   AS n_dis
        FROM documents
    ), scored AS (
        SELECT doc_id,
               round(1.0 / (1.0 + exp(-(
                   -2.0 + 2.5 * (n_stop / n_tok)
                        + 0.6 * ln(n_tok)
                        - 1.5 * (1.0 - n_dis / n_tok)))), 4) AS score
        FROM sig
    )
    SELECT doc_id, score, score >= 0.5 AS keep
    FROM scored
    """,
    tags=("llm", "text", "quality", "classifier"),
)
def quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-classifier inference as a map-side operator: a fixed
    logistic model over interpretable signals (stopword ratio up-weights
    natural prose, log-length rewards substance, repetition — 1 minus
    type-token ratio — penalizes boilerplate), producing a calibrated
    [0,1] keep-score per document. This is the fastText-style quality
    gate of C4/CCNet-style pipelines with the learned weights replaced by
    fixed ones: the ENGINE work — per-doc feature extraction + linear
    model + sigmoid, fused into one whole-stage-codegen projection with
    zero shuffles and zero Python — is identical, and at 100 TB it runs
    at scan speed. The keep flag thresholds the ROUNDED score so the
    decision boundary is identical on both engines (sigmoid is libm math;
    round(4) absorbs last-ulp drift, see SURVEY.md §7 risks)."""
    toks = _tokens()
    sig = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(toks).cast("double").alias("n_tok"),
        _n_matches(toks, _STOPWORDS).cast("double").alias("n_stop"),
        F.size(F.array_distinct(toks)).cast("double").alias("n_dis"),
    )
    z = (
        F.lit(-2.0)
        + 2.5 * (F.col("n_stop") / F.col("n_tok"))
        + 0.6 * F.log(F.col("n_tok"))
        - 1.5 * (F.lit(1.0) - F.col("n_dis") / F.col("n_tok"))
    )
    scored = sig.select(
        "doc_id",
        F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 4).alias("score"),
    )
    return scored.select(
        "doc_id", "score", (F.col("score") >= 0.5).alias("keep")
    )


@query(
    "text_lm_score",
    oracle="""
    WITH d AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ), bg AS (
        SELECT doc_id, toks[CAST(i AS INT)] AS w1,
               toks[CAST(i AS INT)] || ' ' || toks[CAST(i AS INT) + 1] AS b
        FROM d, unnest(generate_series(1, len(toks) - 1)) AS t(i)
    ), cb AS (
        SELECT b, CAST(count(*) AS BIGINT) AS c_bg FROM bg GROUP BY b
    ), cw AS (
        SELECT w1, CAST(count(*) AS BIGINT) AS c_w1 FROM bg GROUP BY w1
    )
    SELECT bg.doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           CAST(sum(cb.c_bg * 1000000 // cw.c_w1) // count(*) AS BIGINT)
               AS lm_micro_avg
    FROM bg JOIN cb USING (b) JOIN cw USING (w1)
    GROUP BY bg.doc_id
    """,
    tags=("llm", "text", "lm", "quality"),
)
def text_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-model quality scoring, CCNet-style: train a bigram model
    on the corpus itself (one pass), then score every document by its
    average corpus-conditional bigram probability P(w2|w1) =
    c(w1 w2)/c(w1 ·) — fluent text under the corpus distribution scores
    high, out-of-distribution word salad scores low. The real pipeline
    swaps the counts for a pretrained KenLM; the ENGINE work — a
    train-then-score self-join where model "training" is an aggregation —
    is exactly this shape.

    Probabilities stay in exact integer micro-units (c_bg * 1e6 // c_w1,
    floor-averaged) so scores hash-match the oracle with no float
    summation anywhere. Scale shape: bigram extraction is the word-count
    lateral (explode, hash-only shuffles on the bigram and head-word
    keys); both count joins are AQE-broadcastable once aggregated (vocab²
    is sublinear in corpus size), so scoring a 100 TB corpus shuffles
    grams, never documents."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", _tokens().alias("toks"))
    from ocs_duckdb_runner_spark.registry import spread

    with scoped_cache() as persist:
        bg = persist(spread(d).select(
            "doc_id",
            F.explode(
                F.zip_with(
                    F.slice(F.col("toks"), 1, F.size("toks") - 1),
                    F.slice(F.col("toks"), 2, F.size("toks") - 1),
                    lambda a, b: F.struct(a.alias("w1"), F.concat_ws(" ", a, b).alias("b")),
                )
            ).alias("g"),
        ).select("doc_id", "g.w1", "g.b"))
        cb = bg.groupBy("b").agg(F.count(F.lit(1)).alias("c_bg"))
        cw = bg.groupBy("w1").agg(F.count(F.lit(1)).alias("c_w1"))
        out = (
            bg.join(cb, "b")
            .join(cw, "w1")
            .groupBy("doc_id")
            .agg(
                F.count(F.lit(1)).alias("n_bigrams"),
                F.expr(
                    "cast(sum(c_bg * 1000000 div c_w1) div count(*) as bigint)"
                ).alias("lm_micro_avg"),
            )
        )
        return out.localCheckpoint(eager=True)


@query(
    "text_zipf_stats",
    oracle="""
    WITH toks AS (
      SELECT source, unnest(string_split(text, ' ')) AS token
      FROM documents),
    tf AS (
      SELECT source, token, CAST(count(*) AS BIGINT) AS n
      FROM toks GROUP BY source, token)
    SELECT source,
           CAST(sum(n) AS BIGINT) AS n_tokens,
           CAST(count(*) AS BIGINT) AS n_types,
           CAST(count(*) FILTER (n = 1) AS BIGINT) AS n_hapax,
           round(CAST(count(*) AS DOUBLE) / CAST(sum(n) AS BIGINT), 12)
             AS type_token_ratio,
           (max({'n': n, 't': token})).t AS top_token
    FROM tf GROUP BY source
    """,
    tags=("llm", "text", "vocabulary"),
)
def text_zipf_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source vocabulary shape — the Zipf-tail diagnostics used to
    screen corpora before training: token/type counts, hapax legomena
    (once-only types, the long tail that drives vocab growth), type-token
    ratio, and the modal token. A machine-generated or template-heavy
    source shows an abnormally low hapax share and TTR; a natural-language
    source follows Zipf. All counts are integers and the single ratio is
    one rounded double division, so the oracle matches exactly; the modal
    token ties break on the larger token string in BOTH engines
    (max over (n, token) structs, byte-order strings).

    Plan: tokenize+explode is map-side Generate; (source, token)
    frequencies partial-aggregate before one key-only shuffle; the final
    per-source rollup shuffles vocabulary-sized rows, never documents."""
    d = load_table(spark, sf_dir, "documents")
    tf = (
        d.select("source", F.explode(F.split(F.col("text"), " ")).alias("token"))
        .groupBy("source", "token")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return tf.groupBy("source").agg(
        F.sum("n").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_types"),
        F.count(F.when(F.col("n") == 1, 1)).alias("n_hapax"),
        F.round(
            F.count(F.lit(1)).cast("double") / F.sum("n").cast("double"), 12
        ).alias("type_token_ratio"),
        F.max(F.struct(F.col("n"), F.col("token").alias("t")))["t"].alias(
            "top_token"
        ),
    )


BPE_TOP = 20  # merge candidates to emit


@query(
    "bpe_pair_stats",
    oracle=f"""
    WITH toks AS (
      SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
    pairs AS (
      SELECT substr(tok, CAST(i AS INT), 2) AS pair
      FROM toks, unnest(generate_series(1, len(tok) - 1)) AS t(i)
      WHERE len(tok) >= 2)
    SELECT pair, CAST(count(*) AS BIGINT) AS n
    FROM pairs
    GROUP BY pair
    ORDER BY n DESC, pair
    LIMIT {BPE_TOP}
    """,
    tags=("llm", "text", "tokenizer", "bpe"),
)
def bpe_pair_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The first step of BPE tokenizer training: corpus-wide counts of
    adjacent character pairs inside tokens — the statistic that picks the
    next merge rule. (Real BPE iterates merge→recount; the recount is this
    same query over the partially-merged vocab, so the scale shape is
    identical per iteration.) Top-{BPE_TOP} pairs, count-desc with a
    deterministic lexicographic tie-break.

    Plan: tokenize + pair expansion are map-side Generates (zero shuffle);
    the pair count partial-aggregates before one exchange whose key space
    is the character-bigram alphabet (tiny); TakeOrderedAndProject for the
    top-k. At 100 TB the only moving data is (pair, partial-count)."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(F.explode(F.split(F.col("text"), " ")).alias("tok"))
    pairs = toks.filter(F.length("tok") >= 2).select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("tok") - 1),
                lambda i: F.substring(F.col("tok"), i, F.lit(2)),
            )
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "pair")
        .limit(BPE_TOP)
    )


# ---- BM25 lexical retrieval ----

BM25_TERMS = ("join", "vector", "stream")  # fixed query; k1=1.2, b=0.75
BM25_TOPK = 10


def _bm25_oracle() -> str:
    tfs = ", ".join(
        f"CAST(len(list_filter(toks, x -> x = '{t}')) AS BIGINT) AS tf{i}"
        for i, t in enumerate(BM25_TERMS)
    )
    dfs = ", ".join(
        f"CAST(sum(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df{i}"
        for i in range(len(BM25_TERMS))
    )
    score = " + ".join(
        f"(ln(CAST(2 * n + 2 AS DOUBLE) / (2 * df{i} + 1))"
        f" * (CAST(22 * tf{i} * sumdl AS DOUBLE)"
        f"    / (10 * tf{i} * sumdl + 3 * sumdl + 9 * dl * n)))"
        for i in range(len(BM25_TERMS))
    )
    anyhit = " + ".join(f"tf{i}" for i in range(len(BM25_TERMS)))
    return f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
               FROM documents),
    d AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl, {tfs} FROM t),
    s AS (SELECT CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(dl) AS BIGINT) AS sumdl, {dfs}
          FROM d)
    SELECT doc_id, dl, round({score}, 9) AS bm25
    FROM d, s
    WHERE {anyhit} > 0
    ORDER BY bm25 DESC, doc_id
    LIMIT {BM25_TOPK}
    """


@query(
    "text_bm25_topk",
    oracle=_bm25_oracle(),
    tags=("llm", "text", "retrieval"),
)
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 lexical retrieval (k1=1.2, b=0.75) for a fixed 3-term query —
    the keyword half of hybrid search and the standard relevance filter a
    training-data pipeline runs before semantic rerank.

    Exactness across engines: every BM25 input (tf, df, N, dl, Σdl) is an
    exact integer, and the tf component is algebraically cleared of
    fractions — tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl)) with avgdl=Σdl/N
    becomes 22·tf·Σdl / (10·tf·Σdl + 3·Σdl + 9·dl·N), ONE double division
    of two exact integers; idf = ln((2N+2)/(2df+1)) is one division + one
    libm ln of exact integers; the 3 per-term products add in fixed
    syntactic order. So both engines execute the identical IEEE op
    sequence and the top-k boundary is exact (9-digit display rounding).

    Plan: per-doc tf/dl are map-side higher-order filters on the token
    array (no explode, no shuffle); the corpus stats are ONE 1-row
    aggregate broadcast back; scoring is whole-stage-codegen arithmetic;
    TakeOrderedAndProject for the top-k. At 100 TB: one scan + a 1-row
    exchange — embarrassingly parallel."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    per_doc = d.select(
        "doc_id",
        F.size(toks).cast("long").alias("dl"),
        *[
            # closure factory, not a default arg: F.filter treats a 2-arg
            # lambda as (element, index) and would pass the index as t
            F.size(F.filter(toks, (lambda term: lambda x: x == term)(t)))
            .cast("long")
            .alias(f"tf{i}")
            for i, t in enumerate(BM25_TERMS)
        ],
    )
    stats = per_doc.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("dl").cast("long").alias("sumdl"),
        *[
            F.sum((F.col(f"tf{i}") > 0).cast("long")).cast("long").alias(f"df{i}")
            for i in range(len(BM25_TERMS))
        ],
    )
    scored = per_doc.crossJoin(F.broadcast(stats))
    term_score = [
        F.log(
            (2 * F.col("n") + 2).cast("double") / (2 * F.col(f"df{i}") + 1)
        )
        * (
            (22 * F.col(f"tf{i}") * F.col("sumdl")).cast("double")
            / (
                10 * F.col(f"tf{i}") * F.col("sumdl")
                + 3 * F.col("sumdl")
                + 9 * F.col("dl") * F.col("n")
            )
        )
        for i in range(len(BM25_TERMS))
    ]
    total = term_score[0]
    for ts in term_score[1:]:
        total = total + ts
    anyhit = sum(F.col(f"tf{i}") for i in range(len(BM25_TERMS)))
    return (
        scored.filter(anyhit > 0)
        .select("doc_id", "dl", F.round(total, 9).alias("bm25"))
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(BM25_TOPK)
    )


# ---- PMI collocation mining ----

PMI_MIN_SUPPORT = 50
PMI_TOPK = 15


@query(
    "text_pmi_collocations",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    big AS (
        SELECT t[i] AS a, t[i+1] AS b
        FROM toks, unnest(generate_series(1, len(t) - 1)) AS s(i)
        WHERE len(t) >= 2
    ),
    uni AS (
        SELECT a AS tok, CAST(count(*) AS BIGINT) AS n FROM big GROUP BY a
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n_big FROM big),
    pair AS (
        SELECT a, b, CAST(count(*) AS BIGINT) AS n_ab
        FROM big GROUP BY a, b
        HAVING count(*) >= {PMI_MIN_SUPPORT}
    )
    SELECT p.a, p.b, p.n_ab,
           round(ln(CAST(p.n_ab AS DOUBLE) * t.n_big
                    / (ua.n * CAST(ub.n AS DOUBLE))), 9) AS pmi
    FROM pair p
    JOIN uni ua ON ua.tok = p.a
    JOIN uni ub ON ub.tok = p.b
    CROSS JOIN tot t
    ORDER BY pmi DESC, p.a, p.b
    LIMIT {PMI_TOPK}
    """,
    tags=("llm", "text", "collocations"),
)
def text_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PMI collocation mining — pointwise mutual information over
    adjacent token pairs, pmi = ln(n_ab·N / (n_a·n_b)): the statistic
    that separates REAL collocations from chance co-occurrence of two
    individually-frequent tokens (raw bigram counts — bpe_pair_stats,
    text_ngram_stats — rank 'the the' shapes first; PMI demotes them).
    Tokenizer-vocabulary and phrase-mining pipelines both start here.
    Exact integer counts + one ln of an integer ratio ⇒ oracle-exact
    ranking; min-support {PMI_MIN_SUPPORT} kills the unstable low-count
    tail.

    Plan: bigram expansion is a map-side Generate; unigram/bigram
    counts are vocabulary-sized key-only shuffles; the scoring join
    touches only pairs above support. Word-count shapes end to end."""
    d = load_table(spark, sf_dir, "documents")
    t = F.split(F.col("text"), " ")
    big = d.filter(F.size(t) >= 2).select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size(t) - 1),
                lambda i: F.struct(
                    F.element_at(t, i).alias("a"),
                    F.element_at(t, i + 1).alias("b"),
                ),
            )
        ).alias("p")
    ).select("p.a", "p.b")
    with scoped_cache() as persist:
        big = persist(big)
        uni = big.groupBy(F.col("a").alias("tok")).agg(
            F.count(F.lit(1)).alias("n")
        )
        tot = big.agg(F.count(F.lit(1)).alias("n_big"))
        pair = (
            big.groupBy("a", "b")
            .agg(F.count(F.lit(1)).alias("n_ab"))
            .filter(F.col("n_ab") >= PMI_MIN_SUPPORT)
        )
        ua = uni.toDF("ua_tok", "n_a")
        ub = uni.toDF("ub_tok", "n_b")
        out = (
            pair.join(F.broadcast(ua), pair.a == ua.ua_tok)
            .join(F.broadcast(ub), pair.b == ub.ub_tok)
            .crossJoin(F.broadcast(tot))
            .select(
                "a",
                "b",
                "n_ab",
                F.round(
                    F.log(
                        F.col("n_ab").cast("double") * F.col("n_big")
                        / (F.col("n_a") * F.col("n_b").cast("double"))
                    ),
                    9,
                ).alias("pmi"),
            )
            .orderBy(F.col("pmi").desc(), "a", "b")
            .limit(PMI_TOPK)
        )
        return out.localCheckpoint(eager=True)


@query(
    "text_readability",
    oracle="""
    WITH m AS (
        SELECT doc_id,
               CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+'))
                    AS BIGINT) AS words,
               CAST(greatest(1, len(regexp_extract_all(text, '[.!?]')))
                    AS BIGINT) AS sentences,
               CAST(len(regexp_extract_all(lower(text), '[aeiou]+'))
                    AS BIGINT) AS syllables
        FROM documents WHERE doc_id % 10 = 0
    )
    SELECT doc_id, words, sentences, syllables,
           round(206.835
                 - 1.015 * (CAST(words AS DOUBLE) / sentences)
                 - 84.6 * (CAST(syllables AS DOUBLE) / words), 6)
             AS flesch
    FROM m WHERE words > 0
    ORDER BY doc_id
    """,
    tags=("llm", "text", "quality", "readability"),
)
def text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease scoring — the classic readability measure a
    curation pipeline buckets web text by (flesch = 206.835 − 1.015
    ·words/sentence − 84.6·syllables/word). Syllables use the standard
    cheap proxy (vowel-group count — no dictionary in SQL); sentences
    count terminal punctuation with a floor of 1. All three counts are
    exact integers from the same regex class semantics in both engines
    (plain character classes — no engine-specific syntax), so the score
    is two double divisions on identical operands, rounded to a shared
    6-digit grid. doc_id % 10 sample bounds the checked output.

    Plan: pure map-side expressions over the document scan — no
    shuffle, no UDF; the text column never crosses an exchange."""
    d = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 10 == 0
    )
    lower = F.lower(F.col("text"))
    m = d.select(
        "doc_id",
        F.size(F.regexp_extract_all(lower, F.lit("[a-z0-9]+"), 0))
        .cast("long").alias("words"),
        F.greatest(
            F.lit(1),
            F.size(F.regexp_extract_all(F.col("text"), F.lit("[.!?]"), 0)),
        ).cast("long").alias("sentences"),
        F.size(F.regexp_extract_all(lower, F.lit("[aeiou]+"), 0))
        .cast("long").alias("syllables"),
    ).filter(F.col("words") > 0)
    return m.select(
        "doc_id",
        "words",
        "sentences",
        "syllables",
        F.round(
            F.lit(206.835)
            - 1.015 * (F.col("words").cast("double") / F.col("sentences"))
            - 84.6 * (F.col("syllables").cast("double") / F.col("words")),
            6,
        ).alias("flesch"),
    ).orderBy("doc_id")


@query(
    "text_keyword_rake",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, s.i AS pos, ls[s.i] AS w
        FROM (SELECT doc_id, string_split(text, ' ') AS ls FROM documents),
             unnest(generate_series(1, len(ls))) AS s(i)
    ),
    seg AS (
        SELECT doc_id, pos, w,
               w IN ({_sql_list(_STOPWORDS)}) AS is_stop,
               sum(CASE WHEN w IN ({_sql_list(_STOPWORDS)}) THEN 1 ELSE 0 END)
                   OVER (PARTITION BY doc_id ORDER BY pos) AS phrase_id
        FROM tok
    ),
    words AS (
        SELECT doc_id, phrase_id, w FROM seg
        WHERE NOT is_stop AND len(w) > 0
    ),
    plen AS (
        SELECT doc_id, phrase_id, count(*) AS plen
        FROM words GROUP BY doc_id, phrase_id
    ),
    scored AS (
        SELECT w.w AS word,
               CAST(count(*) AS BIGINT) AS freq,
               CAST(sum(p.plen) AS BIGINT) AS degree
        FROM words w JOIN plen p
          ON p.doc_id = w.doc_id AND p.phrase_id = w.phrase_id
        GROUP BY w.w
    )
    SELECT word, freq, degree,
           CAST((degree * 1000000) // freq AS BIGINT) AS score_micro
    FROM scored
    ORDER BY score_micro DESC, word ASC LIMIT 15
    """,
    tags=("llm", "text", "keywords"),
)
def text_keyword_rake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010): candidate phrases are
    maximal stopword-free token runs; each word scores degree/frequency
    where degree sums the lengths of every phrase containing it —
    high-degree words live in long multi-word phrases (domain terms),
    high-frequency-low-degree words are generic fillers. Scores are kept
    on an integer micro grid (degree·1e6 DIV freq) so the cross-engine
    ranking is exact integer arithmetic; top-15 keywords corpus-wide.

    Plan: posexplode lateral (tokens leave the document row ONCE), phrase
    segmentation as a running stopword count over (doc, pos) — one
    doc-keyed sort exchange, the standard sessionize shape — then phrase
    lengths and word scores as two key-only hash aggregates and one
    (doc, phrase) equi-join. The final top-15 compiles to
    TakeOrderedAndProject (O(k) per task). At 100 TB the only exchange
    carrying token text is the per-doc segmentation shuffle; doc_id
    partitioning keeps it even, and the score table is vocabulary-sized."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.posexplode(_tokens()).alias("pos", "w")
    )
    is_stop = F.col("w").isin(*_STOPWORDS)
    seg = tok.withColumn(
        "phrase_id",
        F.sum(is_stop.cast("int")).over(
            Window.partitionBy("doc_id").orderBy("pos")
        ),
    ).withColumn("is_stop", is_stop)
    words = seg.filter(~F.col("is_stop") & (F.length("w") > 0)).select(
        "doc_id", "phrase_id", "w"
    )
    plen = words.groupBy("doc_id", "phrase_id").agg(
        F.count(F.lit(1)).alias("plen")
    )
    scored = (
        words.join(plen, ["doc_id", "phrase_id"])
        .groupBy(F.col("w").alias("word"))
        .agg(
            F.count(F.lit(1)).alias("freq"),
            F.sum("plen").alias("degree"),
        )
    )
    return (
        scored.withColumn(
            "score_micro", F.expr("degree * 1000000 DIV freq")
        )
        .orderBy(F.col("score_micro").desc(), F.col("word").asc())
        .limit(15)
    )


_BPE_MERGE_ROUNDS = 2


def _bpe_merge_oracle() -> str:
    # round template: count weighted adjacent symbol pairs, pick the top
    # merge, apply it to every distinct word's symbol sequence
    rounds = ""
    for r in range(1, _BPE_MERGE_ROUNDS + 1):
        rounds += f""",
    p{r} AS (
        SELECT syms[s.i] AS a, syms[s.i + 1] AS b,
               CAST(sum(cnt) AS BIGINT) AS n
        FROM (SELECT string_split(trim(seq), ' ') AS syms, cnt FROM w{r - 1}),
             unnest(generate_series(1, len(syms) - 1)) AS s(i)
        GROUP BY 1, 2
    ),
    b{r} AS (
        SELECT a, b, n FROM p{r} ORDER BY n DESC, a ASC, b ASC LIMIT 1
    ),
    w{r} AS (
        SELECT replace(w.seq, ' ' || b.a || ' ' || b.b || ' ',
                       ' ' || b.a || b.b || ' ') AS seq, w.cnt
        FROM w{r - 1} w, b{r} b
    ),
    m{r} AS (
        SELECT {r} AS merge_round, b.a AS sym_a, b.b AS sym_b,
               b.n AS pair_count,
               (SELECT CAST(sum(len(string_split(trim(seq), ' ')) * cnt)
                            AS BIGINT)
                FROM w{r}) AS n_symbols_after
        FROM b{r} b
    )"""
    picks = " UNION ALL ".join(
        f"SELECT * FROM m{r}" for r in range(1, _BPE_MERGE_ROUNDS + 1)
    )
    return f"""
    WITH wf AS (
        SELECT tok, CAST(count(*) AS BIGINT) AS cnt
        FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
        WHERE len(tok) > 0 GROUP BY tok
    ),
    w0 AS (
        SELECT ' ' || trim(regexp_replace(tok, '(.)', '\\1 ', 'g')) || ' '
                   AS seq, cnt
        FROM wf
    ){rounds}
    SELECT * FROM ({picks}) ORDER BY merge_round
    """


@query("bpe_merge_rounds", oracle=_bpe_merge_oracle(), tags=("llm", "text", "bpe"))
def bpe_merge_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer TRAINING, two full merge rounds (bpe_pair_stats is
    the count half; this is count → pick merge → APPLY → recount): words
    become space-delimited symbol sequences, each round picks the
    highest-count adjacent symbol pair (ties toward the lexicographically
    smaller pair) and rewrites every sequence with the pair fused. The
    fuse is a left-to-right non-overlapping string replace — exactly
    BPE's greedy application, and both engines' replace() scan the input
    forward without rescanning produced output, so overlapping runs
    ('l l l') fuse identically. Output: one row per round (chosen merge,
    its weighted count, corpus symbol count after application) —
    n_symbols_after is recounted, not derived, because overlapping
    occurrences make merged-count < pair-count.

    Plan — the reason real BPE trainers scale: everything after the
    first aggregate runs on the DISTINCT-WORD frequency table, not the
    corpus. One corpus-sized (word → count) exchange up front, then each
    round is a vocabulary-bounded pair count (map-side weighted partials,
    symbol-pair key space) + a broadcast 1-row merge applied map-side.
    At 100 TB rounds cost vocabulary, not corpus — the corpus is read
    exactly once."""
    d = load_table(spark, sf_dir, "documents")
    wf = (
        d.select(F.explode(_tokens()).alias("tok"))
        .filter(F.length("tok") > 0)
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    with scoped_cache() as persist:
        w = persist(wf.select(
            F.concat(
                F.lit(" "),
                F.trim(F.regexp_replace(F.col("tok"), "(.)", "$1 ")),
                F.lit(" "),
            ).alias("seq"),
            "cnt",
        ))
        out = None
        for r in range(1, _BPE_MERGE_ROUNDS + 1):
            syms = F.split(F.trim(F.col("seq")), " ")
            # size >= 2: Spark's sequence(1, 0) counts DOWN (yields [1, 0]),
            # it is not empty like DuckDB's generate_series — 1-symbol words
            # must not reach the pair expansion
            pairs = (
                w.select(syms.alias("syms"), "cnt")
                .filter(F.size("syms") >= 2)
                .select(
                    F.explode(
                        F.transform(
                            F.sequence(F.lit(1), F.size("syms") - 1),
                            lambda i: F.struct(
                                F.element_at(F.col("syms"), i).alias("a"),
                                F.element_at(F.col("syms"), i + 1).alias("b"),
                            ),
                        )
                    ).alias("p"),
                    "cnt",
                )
                .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
                .agg(F.sum("cnt").alias("n"))
            )
            best = (
                pairs.orderBy(F.col("n").desc(), F.col("a").asc(), F.col("b").asc())
                .limit(1)
                .localCheckpoint(eager=True)
            )
            prev = w
            w = persist(
                prev.crossJoin(F.broadcast(best))
                .select(
                    F.replace(
                        F.col("seq"),
                        F.concat(F.lit(" "), F.col("a"), F.lit(" "), F.col("b"), F.lit(" ")),
                        F.concat(F.lit(" "), F.col("a"), F.col("b"), F.lit(" ")),
                    ).alias("seq"),
                    "cnt",
                )
            )
            n_after = w.agg(
                F.sum(
                    (F.size(F.split(F.trim(F.col("seq")), " ")) * F.col("cnt")).cast(
                        "long"
                    )
                ).alias("n_symbols_after")
            )
            row = (
                best.select(
                    F.lit(r).alias("merge_round"),
                    F.col("a").alias("sym_a"),
                    F.col("b").alias("sym_b"),
                    F.col("n").alias("pair_count"),
                )
                .crossJoin(n_after)
            )
            out = row if out is None else out.unionAll(row)
            prev.unpersist()
        return out.orderBy("merge_round").localCheckpoint(eager=True)


MATTR_W = 25  # MATTR window (tokens per full chunk)


@query(
    "text_mattr",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, string_split(text, ' ') AS toks,
               len(string_split(text, ' ')) AS n
        FROM documents WHERE doc_id % 10 = 0
    ),
    ch AS (
        SELECT doc_id, toks,
               unnest(range(0, n // {MATTR_W})) AS c
        FROM tok WHERE n >= {MATTR_W}
    ),
    d AS (
        SELECT doc_id,
               CAST(len(list_distinct(
                   toks[c * {MATTR_W} + 1 : c * {MATTR_W} + {MATTR_W}]))
                   AS BIGINT) AS dst
        FROM ch
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(sum(dst) AS BIGINT) AS sum_distinct,
           round(CAST(sum(dst) AS DOUBLE) / ({MATTR_W} * count(*)), 9) AS mattr
    FROM d GROUP BY doc_id ORDER BY doc_id
    """,
    tags=("llm", "text", "diversity"),
)
def text_mattr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moving-average type-token ratio (Covington & McFall's MATTR) per
    document — the length-robust lexical-diversity measure: plain TTR
    (text_repetition's distinct ratio) mechanically shrinks with
    document length (Heaps' law, cf corpus_heaps_curve), so corpora are
    compared on the mean TTR of fixed-{MATTR_W}-token windows instead.
    Non-overlapping full windows keep every count an exact integer:
    mattr = sum(distinct per window) / ({MATTR_W} * n_windows).

    Plan: tokenize + posexplode is a map-side lateral (Generate, no
    input shuffle); the only exchange carries (doc_id, window, token)
    keys for the distinct count, then collapses per doc. The %10 gate
    prunes at the SCAN (pushed filter), not after — at 100 TB the
    ungated form is the per-document QA column this feeds."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 0)
    tok = docs.select(
        "doc_id", F.posexplode(F.split(F.col("text"), " ")).alias("pos", "tk")
    )
    ch = tok.select(
        "doc_id", (F.col("pos") / MATTR_W).cast("long").alias("c"), "tk"
    )
    d = (
        ch.groupBy("doc_id", "c")
        .agg(
            F.countDistinct("tk").alias("dst"),
            F.count(F.lit(1)).alias("w_len"),
        )
        .filter(F.col("w_len") == MATTR_W)
    )
    return (
        d.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum("dst").cast("long").alias("sum_distinct"),
            F.round(
                F.sum("dst").cast("double")
                / (MATTR_W * F.count(F.lit(1))),
                9,
            ).alias("mattr"),
        )
        .orderBy("doc_id")
    )


@query(
    "text_tokenizer_fertility",
    oracle=r"""
    WITH t AS (
        SELECT lang,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS words,
               CAST(len(regexp_extract_all(text,
                    '[bcdfghjklmnpqrstvwxyz]*[aeiou]+')) AS BIGINT)
                   AS subwords,
               CAST(length(text) AS BIGINT) AS chars
        FROM documents)
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(words) AS BIGINT) AS n_words,
           CAST(sum(subwords) AS BIGINT) AS n_subwords,
           round(CAST(sum(subwords) AS DOUBLE) / sum(words), 9) AS fertility,
           round(CAST(sum(chars) AS DOUBLE) / sum(subwords), 9)
               AS chars_per_token
    FROM t GROUP BY lang ORDER BY lang
    """,
    tags=("llm", "text", "tokens", "fertility"),
)
def text_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer FERTILITY by language — subword tokens emitted per
    whitespace word, the first number checked when a tokenizer meets a
    new language mix (fertility >> baseline means the language is being
    shredded into characters, inflating sequence length and cost; the
    companion chars-per-token is the budget planner's constant). Uses
    the same BPE-ish syllable regex as text_token_count so the two
    reports share a token definition.

    Plan: per-doc counts are map-side regexp folds (text never crosses
    an exchange); the per-language report is ONE hash aggregate of
    exact integer sums, with the two ratios as single double divisions
    — the agg_* exactness policy applied to tokenizer QA."""
    d = load_table(spark, sf_dir, "documents")
    words = F.size(F.split(F.col("text"), " ")).cast("long")
    subwords = F.size(
        F.expr(
            "regexp_extract_all(text, '[bcdfghjklmnpqrstvwxyz]*[aeiou]+', 0)"
        )
    ).cast("long")
    chars = F.length("text").cast("long")
    t = d.select(
        "lang", words.alias("words"), subwords.alias("subwords"),
        chars.alias("chars"),
    )
    return (
        t.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("words").cast("long").alias("n_words"),
            F.sum("subwords").cast("long").alias("n_subwords"),
            F.round(
                F.sum("subwords").cast("double") / F.sum("words"), 9
            ).alias("fertility"),
            F.round(
                F.sum("chars").cast("double") / F.sum("subwords"), 9
            ).alias("chars_per_token"),
        )
        .orderBy("lang")
    )


_FH_DIM = 64  # feature-hash buckets


@query(
    "text_feature_hashing",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS t
        FROM documents),
    b AS (
        SELECT doc_id,
               CAST(concat('0x', substr(md5(t), 1, 8)) AS BIGINT)
                   % {_FH_DIM} AS bucket,
               CAST(count(*) AS BIGINT) AS c
        FROM tok WHERE t <> '' GROUP BY doc_id, bucket)
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS nnz,
           CAST(sum(c) AS BIGINT) AS n_tokens,
           string_agg(bucket || ':' || c, ' ' ORDER BY bucket)
               AS sparse_vec
    FROM b GROUP BY doc_id
    """,
    tags=("llm", "text", "features", "hashing-trick"),
)
def text_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hashing trick — each document rendered as a {_FH_DIM}-bucket
    sparse count vector (bucket = md5(token) mod dim), the fixed-width,
    vocabulary-free featurization linear classifiers and quality/spam
    gates train on at corpus scale (no vocab build, no OOV problem,
    stable across shards and days because the hash IS the feature id).
    The sparse form is serialized 'bucket:count' in bucket order so the
    vector is one canonical string both engines must reproduce.

    Plan: tokenize map-side, ONE (doc, bucket) hash aggregate with
    map-side combine (the shuffle carries <= {_FH_DIM} rows per doc,
    never tokens), then a per-doc ordered fold — collect_list of
    (bucket, count) structs sorted with array_sort, a deterministic
    integer ordering. Text never crosses an exchange."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("t")
    ).filter(F.col("t") != "")
    bucket = (
        F.conv(F.substring(F.md5(F.col("t")), 1, 8), 16, 10).cast("long")
        % _FH_DIM
    )
    b = tok.select("doc_id", bucket.alias("bucket")).groupBy(
        "doc_id", "bucket"
    ).agg(F.count(F.lit(1)).alias("c"))
    vec = F.array_join(
        F.transform(
            F.array_sort(
                F.collect_list(F.struct("bucket", "c"))
            ),
            lambda s: F.concat_ws(":", s.bucket.cast("string"),
                                  s.c.cast("string")),
        ),
        " ",
    )
    return b.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("nnz"),
        F.sum("c").cast("long").alias("n_tokens"),
        vec.alias("sparse_vec"),
    )


# deliberately innocuous demo lexicon over the fixture vocabulary — the
# plumbing (set-membership scan, per-source risk report, doc flags) is
# what a real safety/blocklist pass reuses with its own term list
_RISK_LEXICON = ("error", "slow", "crash", "fail", "leak")


@query(
    "text_lexicon_risk",
    oracle=f"""
    WITH hits AS (
        SELECT doc_id, source,
               CAST(len(list_intersect(
                    list_distinct(string_split(text, ' ')),
                    [{", ".join(repr(w) for w in _RISK_LEXICON)}]))
                    AS BIGINT) AS n_terms
        FROM documents)
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN n_terms > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_flagged,
           CAST(sum(n_terms) AS BIGINT) AS total_term_hits,
           round(CAST(sum(CASE WHEN n_terms > 0 THEN 1 ELSE 0 END)
                      AS DOUBLE) / count(*), 9) AS flagged_share
    FROM hits GROUP BY source ORDER BY source
    """,
    tags=("llm", "text", "safety", "curation"),
)
def text_lexicon_risk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexicon-based content screening — the blocklist/safety-term pass
    a curation pipeline runs before anything subtler (and keeps running
    after, as the cheap first gate): per source, how many documents
    contain any term from the screening lexicon, plus total term hits
    and the flagged share. The lexicon here is an innocuous demo list;
    the operator IS the set-membership scan + per-source risk report a
    real safety list drops into.

    Plan: distinct-token set intersection is a map-side array op (text
    never crosses an exchange — the text_zipf discipline); the report
    is one source-keyed hash aggregate. Growing the lexicon to
    thousands of terms swaps the array literal for a broadcast join
    against an exploded token frame — same shape as
    decontaminate_ngram."""
    d = load_table(spark, sf_dir, "documents")
    lex = F.array(*[F.lit(w) for w in _RISK_LEXICON])
    n_terms = F.size(
        F.array_intersect(
            F.array_distinct(F.split(F.col("text"), " ")), lex
        )
    ).cast("long")
    hits = d.select("source", n_terms.alias("n_terms"))
    flagged = F.sum(F.when(F.col("n_terms") > 0, 1).otherwise(0))
    return (
        hits.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            flagged.cast("long").alias("n_flagged"),
            F.sum("n_terms").cast("long").alias("total_term_hits"),
            F.round(
                flagged.cast("double") / F.count(F.lit(1)), 9
            ).alias("flagged_share"),
        )
        .orderBy("source")
    )


@query(
    "text_char_ngram_entropy",
    oracle="""
    WITH tri AS (
        SELECT doc_id, substring(text, CAST(i AS INT), 3) AS g
        FROM documents,
             unnest(generate_series(1, length(text) - 2)) AS t(i)
        WHERE length(text) >= 3),
    cnt AS (
        SELECT doc_id, g, CAST(count(*) AS BIGINT) AS c
        FROM tri GROUP BY doc_id, g),
    agg AS (
        SELECT doc_id,
               CAST(sum(c) AS BIGINT) AS n,
               CAST(count(*) AS BIGINT) AS n_distinct,
               CAST(sum(c * CAST(round(ln(c) * 1000000) AS BIGINT))
                    AS BIGINT) AS s_u
        FROM cnt GROUP BY doc_id)
    SELECT doc_id, n AS n_trigrams, n_distinct,
           round(ln(n) - CAST(s_u AS DOUBLE) / n / 1000000, 9)
               AS entropy_nats
    FROM agg
    """,
    tags=("llm", "text", "entropy", "quality"),
)
def text_char_ngram_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-trigram entropy per document — the gibberish/encoding-
    junk detector that works below the word level (mojibake, base64
    blobs, and keyboard mash all have entropy profiles no stopword
    ratio catches): H = ln(n) − Σc·ln(c)/n over the doc's trigram
    counts. Each ln(c) is folded to the integer micro-nat grid (c is a
    small integer, so both engines grid the identical double), making
    the per-doc sum exact integer arithmetic and the final H one
    deterministic double expression — the nb_lang_confusion exactness
    policy applied to a quality score.

    Plan (r12 optimization, guide §4.2): entropy is a PER-DOCUMENT
    statistic, so the whole reduction runs map-side in one Arrow pass —
    a `mapInArrow` batch function counts each doc's trigrams in a local
    Counter and emits (doc_id, n, n_distinct, s_u), ZERO corpus-sized
    shuffle. The previous shape (Generate of ~L trigram rows per doc →
    (doc, gram) hash aggregate → doc re-aggregate) shuffled ~3x the
    corpus bytes twice and spent ~1.3 µs/element in the interpreted
    substr lambda; measured at sf0.1: 3.7 s → 0.75 s warm (5x), output
    bit-identical. At 100 TB the win is the removed shuffles — text
    crosses the JVM→Python boundary once (CPU-local, guide §4.1) instead
    of the network twice.

    Exactness: s_u folds each ln(c) to the integer micro-nat grid via a
    count-indexed table computed ONCE per task with math.log +
    floor(x+0.5) — half-up equals round-half-away for the non-negative
    ln(c), i.e. the same grid F.round(F.log(c)*1e6) produced before;
    Python/JVM/DuckDB all grid identically for integer c.

    CONTRACT (ADVICE r12): the cross-libm grid parity is VERIFIED for
    c ≤ 2,000,000 (tests/test_round12_opt.py::test_entropy_log_grid_parity
    sweeps the full range against the JVM grid). A larger count means one
    document repeating a single trigram >2M times (a 6 MB+ degenerate
    doc); on a platform with a different libm such a count could in
    principle land one micro-nat off at a rounding tie. Extend the test's
    sweep if the corpus contract ever admits such documents. The final
    entropy expression stays in Spark SQL, unchanged."""
    d = load_table(spark, sf_dir, "documents").filter(
        F.length("text") >= 3
    )
    src = spread(d.select("doc_id", "text"))
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("n_trigrams", T.LongType()),
            T.StructField("n_distinct", T.LongType()),
            T.StructField("s_u", T.LongType()),
        ]
    )

    def _per_doc_trigram_stats(batches):
        import math
        from collections import Counter

        import pyarrow as pa

        # round(ln(c)*1e6) per count c, built lazily once per task —
        # ln(c) >= 0 so floor(x+0.5) IS the half-up grid of F.round
        logfx = [0, 0]

        def s_of(cnt):
            s = 0
            for c in cnt.values():
                while c >= len(logfx):
                    logfx.append(
                        math.floor(math.log(len(logfx)) * 1e6 + 0.5)
                    )
                s += c * logfx[c]
            return s

        for b in batches:
            ids = b.column(0).to_pylist()
            texts = b.column(1).to_pylist()
            out_n, out_d, out_s = [], [], []
            for t in texts:
                cnt = Counter(t[i : i + 3] for i in range(len(t) - 2))
                out_n.append(sum(cnt.values()))
                out_d.append(len(cnt))
                out_s.append(s_of(cnt))
            yield pa.record_batch(
                [
                    pa.array(ids, pa.int64()),
                    pa.array(out_n, pa.int64()),
                    pa.array(out_d, pa.int64()),
                    pa.array(out_s, pa.int64()),
                ],
                names=["doc_id", "n_trigrams", "n_distinct", "s_u"],
            )

    agg = src.mapInArrow(_per_doc_trigram_stats, schema)
    return agg.select(
        "doc_id",
        "n_trigrams",
        "n_distinct",
        F.round(
            F.log("n_trigrams")
            - F.col("s_u").cast("double") / F.col("n_trigrams") / 1000000,
            9,
        ).alias("entropy_nats"),
    )


@query(
    "text_unigram_lm",
    oracle="""
    WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
                 FROM documents),
    cnt AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY w),
    tot AS (SELECT CAST(sum(c) AS BIGINT) AS n_corpus FROM cnt),
    vocab AS (SELECT w, CAST(round(ln(c) * 1000000) AS BIGINT) AS logc_fx
              FROM cnt ORDER BY c DESC, w LIMIT 16)
    SELECT t.doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(count(*) FILTER (WHERE v.w IS NULL) AS BIGINT) AS n_oov,
           round(ln(tot.n_corpus)
                 - CAST(sum(coalesce(v.logc_fx, 0)) AS DOUBLE)
                   / 1000000 / count(*), 9) AS cross_entropy
    FROM tok t LEFT JOIN vocab v ON t.w = v.w, tot
    GROUP BY t.doc_id, tot.n_corpus
    """,
    tags=("llm", "text", "quality", "lm"),
)
def text_unigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM quality scoring (the CCNet/KenLM filtering stage's
    cheap in-engine proxy): train a corpus unigram model and score each
    document by its cross-entropy under it — fluent/common text scores
    low, rare-token and OOV-heavy text scores high, and the score feeds
    the same keep/drop or reorder decision a real LM-perplexity filter
    drives. OOV tokens take the count-1 floor, whose log is EXACTLY 0 in
    both engines (no smoothing float drift).

    Exactness: per-token log-counts are fixed-pointed to integer
    micro-nats (round(ln(c)*1e6) — per-row on identical doubles, so
    identical in both engines) and summed as integers, making the
    per-doc fold order-independent; the final fold is one double
    subtraction/division rounded to 9 (the text_entropy_trigram
    pattern, green at 4 scales).

    Plan at 100 TB: the model "training" is ONE word-count-shaped
    token-keyed aggregate (map-side partial handles the Zipf head); the
    top-V vocabulary is a TakeOrderedAndProject of V rows with a
    deterministic (count DESC, token ASC) total order, broadcast to the
    scoring join — the broadcast is bounded at V rows BY CONSTRUCTION
    (contrast llm/dedup.py's hot-set hint, which needs a size gate);
    scoring is a map-side lookup plus ONE doc-keyed integer aggregate.
    Raw text never crosses an exchange. The corpus-size normalizer sums
    the count table, so its exchange is the SAME subtree the vocabulary
    reads — AQE's exchange reuse materializes the token counts once and
    serves both (verified: ReusedExchange in the adaptive plan), keeping
    the raw token stream at the intrinsic two passes: train and score."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(_tokens()).alias("w"))
    cnt = tok.groupBy("w").agg(F.count(F.lit(1)).cast("long").alias("c"))
    vocab = (
        cnt.orderBy(F.desc("c"), F.asc("w"))
        .limit(16)
        .select("w", F.round(F.log("c") * 1000000).cast("long").alias("logc_fx"))
    )
    total = cnt.agg(F.sum("c").cast("long").alias("n_corpus"))
    per = (
        tok.join(F.broadcast(vocab), "w", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.count(F.when(F.col("logc_fx").isNull(), 1))
            .cast("long")
            .alias("n_oov"),
            F.sum(F.coalesce("logc_fx", F.lit(0))).cast("long").alias("s_fx"),
        )
    )
    return per.crossJoin(F.broadcast(total)).select(
        "doc_id",
        "n_tokens",
        "n_oov",
        F.round(
            F.log("n_corpus")
            - F.col("s_fx").cast("double") / 1000000 / F.col("n_tokens"),
            9,
        ).alias("cross_entropy"),
    )


@query(
    "text_bigram_lm_kn",
    oracle="""
    WITH big AS (
        SELECT doc_id,
               unnest([struct_pack(w1 := l[i], w2 := l[i+1])
                       for i in generate_series(1, len(l) - 1)]) AS bg
        FROM (SELECT doc_id, string_split(text, ' ') AS l
              FROM documents WHERE len(string_split(text, ' ')) >= 2)),
    bg AS (SELECT doc_id, bg.w1 AS w1, bg.w2 AS w2 FROM big),
    types AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
              FROM bg GROUP BY w1, w2),
    ctx AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1,
                   CAST(count(*) AS BIGINT) AS nf
            FROM types GROUP BY w1),
    cont AS (SELECT w2, CAST(count(*) AS BIGINT) AS nr
             FROM types GROUP BY w2),
    tt AS (SELECT CAST(count(*) AS BIGINT) AS t_types FROM types),
    model AS (
        SELECT w1, w2,
               CAST(round(ln(
                   (CAST(c12 AS DOUBLE) - 0.75) / CAST(c1 AS DOUBLE)
                   + ((0.75 * CAST(nf AS DOUBLE)) / CAST(c1 AS DOUBLE))
                     * (CAST(nr AS DOUBLE) / CAST(t_types AS DOUBLE))
               ) * 1000000) AS BIGINT) AS logp_fx
        FROM types JOIN ctx USING (w1) JOIN cont USING (w2), tt)
    SELECT b.doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           CAST(sum(m.logp_fx) AS BIGINT) AS logprob_fx,
           CAST((-sum(m.logp_fx)) // count(*) AS BIGINT)
               AS cross_entropy_unats
    FROM bg b JOIN model m USING (w1, w2)
    GROUP BY b.doc_id
    """,
    tags=("llm", "text", "quality", "lm", "kneser-ney"),
)
def text_bigram_lm_kn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser–Ney bigram LM scoring — the canonical n-gram
    smoothing (Kneser & Ney 1995; Chen & Goodman 1999) behind
    KenLM-style perplexity filters: P(w2|w1) = max(c(w1w2)-d, 0)/c(w1)
    + d·N1+(w1·)/c(w1) · P_cont(w2), with the continuation probability
    P_cont(w2) = N1+(·w2)/|bigram types| — the part unigram backoff
    gets wrong ("San Francisco" makes 'Francisco' frequent but NOT
    freely combinable). Discount d = 0.75, every count from the corpus
    itself, so every scored bigram is in-model (no OOV path; contrast
    text_unigram_lm's count-1 floor).

    Cross-engine exactness: all model inputs are integer counts; the
    per-bigram-TYPE probability is computed with an IDENTICAL
    operation order in both engines on those integers
    ((c12-d)/c1 + ((d*nf)/c1)*(nr/T) — IEEE doubles agree bit-for-bit),
    fixed-pointed to micro-nats per type and integer-summed per doc.
    The per-token cross-entropy is reported in INTEGER micro-nats via
    exact integer division — not a rounded double, because a real tie
    surfaced at the fixture: doc 135's mean lands on exactly
    3.4106673125, where Spark's HALF_UP and DuckDB's rounding disagree
    by 1e-9 (positive//positive floors identically in both engines).

    Plan at 100 TB: the bigram stream is built MAP-SIDE from the token
    array (zip_with of two slices — no posexplode + self-join); the
    model is three token-type-keyed aggregates over the TYPE table
    (types ≈ Zipf-bounded, far smaller than the stream) whose joins
    AQE broadcasts when small and shuffles on the (w1,w2) key when not
    — deliberately NOT force-broadcast (the hot-set lesson behind
    registry.gated_broadcast); scoring is one model join + one
    doc-keyed integer aggregate. Two passes over tokens: train, score."""
    with scoped_cache() as persist:
        return _kn_build(spark, sf_dir, persist).localCheckpoint(eager=True)


def _kn_build(spark: SparkSession, sf_dir: str, persist) -> DataFrame:
    """Pre-checkpoint Kneser–Ney plan, its type table persisted through
    the caller's scope (plan tests inspect this form)."""
    d = load_table(spark, sf_dir, "documents")
    toks = _tokens()
    pairs = F.zip_with(
        F.slice(toks, 1, F.size(toks) - 1),
        F.slice(toks, 2, F.size(toks) - 1),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    bg = (
        d.filter(F.size(toks) >= 2)
        .select("doc_id", F.explode(pairs).alias("p"))
        .select("doc_id", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    )
    # persist the TYPE table: three model aggregates (ctx/cont/T) and the
    # model join all read it, and per-branch column pruning makes the
    # subtrees non-identical so AQE exchange reuse can NOT deduplicate
    # them (verified: zero ReusedExchange even with broadcasts disabled;
    # unpersisted, every branch re-tokenizes the corpus). The type table
    # is Zipf-bounded (unique-bigram count, orders of magnitude under
    # the token stream), so caching it is the cheap side at any scale;
    # with the cache the corpus is scanned exactly twice — types build
    # and scoring join — the train/score intrinsic minimum.
    types = persist(
        bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).cast("long").alias("c12"))
    )
    ctx = types.groupBy("w1").agg(
        F.sum("c12").cast("long").alias("c1"),
        F.count(F.lit(1)).cast("long").alias("nf"),
    )
    cont = types.groupBy("w2").agg(F.count(F.lit(1)).cast("long").alias("nr"))
    tt = types.agg(F.count(F.lit(1)).cast("long").alias("t_types"))
    p = (F.col("c12").cast("double") - 0.75) / F.col("c1").cast("double") + (
        (0.75 * F.col("nf").cast("double")) / F.col("c1").cast("double")
    ) * (F.col("nr").cast("double") / F.col("t_types").cast("double"))
    model = (
        types.join(ctx, "w1")
        .join(cont, "w2")
        .crossJoin(F.broadcast(tt))
        .select(
            "w1",
            "w2",
            F.round(F.log(p) * 1000000).cast("long").alias("logp_fx"),
        )
    )
    return (
        bg.join(model, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            F.sum("logp_fx").cast("long").alias("logprob_fx"),
            F.expr("(-sum(logp_fx)) div count(*)")
            .cast("long")
            .alias("cross_entropy_unats"),
        )
    )
