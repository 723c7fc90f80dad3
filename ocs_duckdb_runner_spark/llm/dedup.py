"""Deduplication operators for LLM training-data pipelines (SURVEY.md §2c):
exact, MinHash+LSH banding, SimHash, and n-gram Jaccard near-dup detection.

Scale design (the whole point of these operators): never compare all-pairs.
- exact / fingerprint dedup: one hash-aggregate shuffle on the text hash.
- MinHash-LSH: per-doc signatures are map-side (higher-order functions over
  the shingle array, no explode for the signature); candidate generation is
  an equi-join on (band, band_hash) buckets — O(collisions), not O(n²).
- SimHash: 64-bit fingerprint via bit-vote aggregation; near-dup = equal
  16-bit sub-band + popcount(xor) ≤ k, again an equi-join on sub-bands.
- n-gram Jaccard: inverted-index join on shared shingles (pairs that share
  nothing are never materialized), then exact set arithmetic.

MinHash/SimHash signatures are engine-specific (they depend on the hash
function), so those queries declare no oracle — their semantics are locked
by unit tests with planted near-duplicates (tests/test_dedup.py); Jaccard
and exact dedup are DuckDB-oracle-checked.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ocs_duckdb_runner_spark.registry import (
    load_table,
    query,
    release_local_checkpoint,
    spread,
)
from ocs_duckdb_runner_spark.session import scoped_cache, scoped_conf

# MinHash parameters: 16 hashes = 4 bands × 4 rows → catches Jaccard ≳ 0.7
# candidates with high probability while keeping bucket-join fan-out tiny.
N_HASHES = 16
N_BANDS = 4
ROWS_PER_BAND = N_HASHES // N_BANDS
SHINGLE_K = 3


def shingles(tokens: Column, k: int = SHINGLE_K) -> Column:
    """Distinct k-token shingles via sequence+transform — map-side only.
    Guard: Spark's sequence(1, n) DESCENDS when n < 1, so short docs get
    their whole text as the single shingle."""
    make = F.transform(
        F.sequence(F.lit(1), F.size(tokens) - (k - 1)),
        lambda i: F.concat_ws(" ", *[F.element_at(tokens, i + j) for j in range(k)]),
    )
    return F.array_distinct(
        F.when(F.size(tokens) >= k, make).otherwise(F.array(F.concat_ws(" ", tokens)))
    )


def shingle_hashes(tokens: Column, k: int = SHINGLE_K) -> Column:
    """Distinct k-token shingles as 64-bit hashes — xxhash64 over the k
    token columns directly, no string concatenation. This is the form the
    MinHash path consumes; identity of the shingle string is irrelevant
    there, only set membership, so hashing early saves the concat+distinct
    over strings (~2× on the signature stage)."""
    make = F.transform(
        F.sequence(F.lit(1), F.size(tokens) - (k - 1)),
        lambda i: F.xxhash64(*[F.element_at(tokens, i + j) for j in range(k)]),
    )
    return F.array_distinct(
        F.when(F.size(tokens) >= k, make).otherwise(
            F.array(F.xxhash64(F.concat_ws(" ", tokens)))
        )
    )


def _doc_token_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, toks) with the token array MATERIALIZED by the spread()
    exchange. The barrier matters as much as the parallelism: higher-order
    lambdas sit outside Catalyst's common-subexpression elimination, so a
    collapsed projection re-inlines split(text) into every element_at slot
    of the shingle transform — re-splitting the text per element. Tokenize
    below an exchange and the lambdas read a bound attribute instead."""
    d = load_table(spark, sf_dir, "documents")
    return spread(d.select("doc_id", F.split(F.col("text"), " ").alias("toks")))


def _doc_shingle_hashes(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _doc_token_frame(spark, sf_dir).select(
        "doc_id", shingle_hashes(F.col("toks")).alias("sh")
    )


@query(
    "dedup_exact",
    oracle="""
    SELECT doc_id, lang, source, n_chars FROM (
      SELECT doc_id, lang, source, n_chars,
             row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
      FROM documents) t
    WHERE rn = 1
    """,
    tags=("llm", "dedup"),
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup with a deterministic keeper (lowest doc_id per text) —
    the window formulation of dropDuplicates. At scale, group on
    md5(text) instead of the full text so the shuffle carries 16-byte
    keys, not documents (see dedup_fingerprint)."""
    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("text").orderBy("doc_id")
    return (
        d.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "lang", "source", "n_chars")
    )


@query(
    "dedup_fingerprint",
    oracle="""
    SELECT md5(text) AS fp, CAST(min(doc_id) AS BIGINT) AS keeper,
           CAST(count(*) AS BIGINT) AS n_copies
    FROM documents GROUP BY md5(text)
    """,
    tags=("llm", "dedup"),
)
def dedup_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-group dedup — the 100 TB formulation: shuffle 16-byte md5
    keys + doc ids only; the keeper per content hash is min(doc_id)."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(F.md5(F.col("text").cast("binary")).alias("fp"), "doc_id")
        .groupBy("fp")
        .agg(F.min("doc_id").alias("keeper"), F.count(F.lit(1)).alias("n_copies"))
    )


def minhash_signature(sh: Column, n_hashes: int = N_HASHES) -> Column:
    """n_hashes MinHash values per doc, computed map-side: for seed s,
    min over shingles of xxhash64(seed, shingle). array_min over a
    transform — no explode, no shuffle.

    Deliberately NOT the double-hashing trick (h1 xor rot(h2, i)): Catalyst
    collapses adjacent projections, so a "precomputed" (h1, h2) pair gets
    re-inlined into all n_hashes lambda slots (higher-order lambdas sit
    outside common-subexpression elimination), doubling the hash work and
    allocating a struct per shingle per slot — measured 7.6× slower at
    sf0.1. xxhash64 over a long is a handful of multiplies; n_hashes plain
    evaluations stay in codegen and win."""
    return F.array(
        *[
            F.array_min(F.transform(sh, lambda x, s=s: F.xxhash64(F.lit(s), x)))
            for s in range(n_hashes)
        ]
    )


def minhash_bands(
    sig: Column, n_bands: int = N_BANDS, n_hashes: int = N_HASHES
) -> Column:
    """LSH banding: hash each run of rows-per-band signature values into a
    bucket id; docs agreeing on ANY band become candidates. The band
    geometry is DERIVED from (n_bands, n_hashes) — an earlier revision
    indexed with the module-global ROWS_PER_BAND regardless of n_bands,
    so any non-default banding either read past the signature (ANSI
    array-index error) or silently ignored half the slots. n_bands must
    tile the signature exactly; pass the matching n_hashes when sweeping
    geometry against a non-default minhash_signature."""
    if n_hashes % n_bands:
        raise ValueError(
            f"n_bands={n_bands} must divide the signature length"
            f" n_hashes={n_hashes}"
        )
    rows_per_band = n_hashes // n_bands
    return F.array(
        *[
            F.xxhash64(
                F.lit(b),
                *[
                    F.element_at(sig, b * rows_per_band + r + 1)
                    for r in range(rows_per_band)
                ],
            )
            for b in range(n_bands)
        ]
    )


def minhash_candidates(docs: DataFrame) -> DataFrame:
    """doc_id+shingle-array DataFrame → candidate near-dup pairs via LSH
    band bucket self-join. The join key (band index, band hash) is an
    equi-key: Catalyst plans a shuffle hash join on the buckets, so cost
    scales with bucket collisions (≈ true near-dups), never n²."""
    # materialize the shingle arrays first: the 16 signature slots each
    # re-inline the full `sh` expression otherwise (higher-order lambdas
    # have no CSE), recomputing the shingle pipeline 16× per doc
    with scoped_cache() as persist:
        mat = persist(docs)
        sigs = mat.select(
            "doc_id",
            minhash_bands(minhash_signature(F.col("sh"))).alias("bands"),
        )
        # persist the banded signatures: 4 rows × 3 longs per doc (tiny at
        # any scale) — without it BOTH self-join branches recompute the
        # whole shingle+signature pipeline, which dominates the query
        banded = persist(sigs.select(
            "doc_id", F.posexplode("bands").alias("band", "band_hash")
        ))
        a, b = banded.alias("a"), banded.alias("b")
        return (
            a.join(
                b,
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.band_hash") == F.col("b.band_hash"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .select(
                F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
            )
            .distinct()
            # materialize the (small) pair set, then release the cached
            # bands: a long-lived session sweeping the full registry must
            # not accumulate per-query cache blocks (ADVICE r1) — even
            # when a query FAILS mid-run, hence the scope
            .localCheckpoint(eager=True)
        )


@query("dedup_minhash", oracle=None, tags=("llm", "dedup", "minhash", "didactic"))
def dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DIDACTIC baseline: MinHash-LSH near-dup candidate pairs over ALL
    documents (signature → bands → bucket join). Like dedup_ngram_jaccard,
    the candidate-pair output grows quadratically with exact-duplicate
    multiplicity (every copy collides in every band) — production minhash
    is dedup_minhash_unique, which collapses exact copies first. Hash
    values are engine-specific → rows-only check here; recall/precision
    semantics are locked by tests/test_dedup.py on planted
    near-duplicates."""
    return minhash_candidates(_doc_shingle_hashes(spark, sf_dir))


def simhash_fingerprints(docs: DataFrame, tokens: Column) -> DataFrame:
    """(doc_id, tokens) → (doc_id, fp): 64-bit SimHash — each token's
    xxhash64 votes ±1 per bit position, fingerprint bit b = sign of vote b.

    Shaped for scale: explode tokens, then 64 integer SUM aggregates over
    (doc_id) — partial aggregation collapses each doc's votes map-side, so
    the single shuffle carries one 64-int row per doc, and everything stays
    in whole-stage codegen (an earlier per-token array-fold formulation was
    ~6× slower from per-token array allocation)."""
    tok = docs.select("doc_id", F.explode(tokens).alias("t")).withColumn(
        "h", F.xxhash64("t")
    )
    votes = tok.groupBy("doc_id").agg(
        *[
            F.sum(
                F.shiftright("h", b).bitwiseAND(F.lit(1)).cast("int") * 2 - 1
            ).alias(f"v{b}")
            for b in range(64)
        ]
    )
    fp = F.lit(0).cast("long")
    for b in range(64):
        bit_val = (1 << b) if b < 63 else -(1 << 63)  # bit 63 = sign bit
        fp = fp.bitwiseXOR(
            F.when(F.col(f"v{b}") > 0, F.lit(bit_val).cast("long")).otherwise(
                F.lit(0).cast("long")
            )
        )
    return votes.select("doc_id", fp.alias("fp"))


@query("dedup_simhash", oracle=None, tags=("llm", "dedup", "simhash"))
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: fingerprint per doc, candidates via equal
    16-bit sub-band (pigeonhole: hamming ≤ 3 ⟹ one of four 16-bit quarters
    equal), verified with popcount(xor) ≤ 3. Engine-specific hashes →
    rows-only; semantics unit-tested on planted near-dups."""
    d = spread(load_table(spark, sf_dir, "documents"))
    fps = simhash_fingerprints(d, F.split(F.col("text"), " "))
    quarters = fps.select(
        "doc_id",
        "fp",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(q).alias("q"),
                        F.shiftright("fp", q * 16)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("sub"),
                    )
                    for q in range(4)
                ]
            )
        ).alias("band"),
    ).select("doc_id", "fp", "band.q", "band.sub")
    # persisted for the same reason as the minhash bands: the 64-slot
    # vote-fold fingerprint is expensive; compute it once, not per branch
    with scoped_cache() as persist:
        quarters = persist(quarters)
        a, b = quarters.alias("a"), quarters.alias("b")
        return (
            a.join(
                b,
                (F.col("a.q") == F.col("b.q"))
                & (F.col("a.sub") == F.col("b.sub"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .select(
                F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
                F.bit_count(F.col("a.fp").bitwiseXOR(F.col("b.fp"))).alias(
                    "hamming"
                ),
            )
            .filter(F.col("hamming") <= 3)
            .distinct()
            .localCheckpoint(eager=True)
        )


_SQL_SHINGLES = """
      SELECT doc_id,
             unnest(list_distinct(CASE WHEN len(toks) >= 3 THEN
               list_transform(generate_series(1, len(toks) - 2),
                              i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
             ELSE [array_to_string(toks, ' ')] END)) AS shingle
      FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
"""


# same shingle CTE over the exact-dedup KEEPER universe (one row per
# distinct text, min doc_id) — the source frame for every
# exact-collapse-first (production) near-dup oracle
_SQL_KEEPER_SHINGLES = """
      SELECT doc_id,
             unnest(list_distinct(CASE WHEN len(toks) >= 3 THEN
               list_transform(generate_series(1, len(toks) - 2),
                              i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
             ELSE [array_to_string(toks, ' ')] END)) AS shingle
      FROM (SELECT min(doc_id) AS doc_id, first(string_split(text, ' ')) AS toks
            FROM documents GROUP BY md5(text))
"""


def _jaccard_from_tokens(token_frame: DataFrame) -> DataFrame:
    """(doc_id, toks) → materialized exact-Jaccard pairs. The shingle
    ARRAY frame is what gets persisted: explode() and the df-cap and both
    self-join branches all read the cached arrays, so the expensive
    shingle pipeline runs exactly once per doc."""
    with scoped_cache() as persist:
        arr = persist(token_frame.select(
            "doc_id", shingle_hashes(F.col("toks")).alias("sh")
        ))
        sh = arr.select("doc_id", F.explode("sh").alias("shingle"))
        return _jaccard_pairs_from_sh(sh)  # materialized inside (eager cp)


# Hot-shingle document-frequency cap: a shingle present in d documents
# yields d·(d-1)/2 candidate pairs in any inverted-index join, so ONE
# viral boilerplate line at 100 TB is a quadratic straggler reducer. A
# shingle shared by > SHINGLE_DF_CAP docs carries no near-dup signal
# (it is corpus boilerplate, not document identity), so it is dropped
# from the REPRESENTATION — candidate generation AND the n_sh set-size
# denominators — identically in engine and oracle. Pair work per shingle
# is then bounded by SHINGLE_DF_CAP², independent of corpus size. The
# fixtures' max df is 25 at sf0.1, so capped results equal uncapped at
# test scales; the cap's behavior is locked by the planted-hot-shingle
# unit test (tests/test_dedup.py::test_df_cap_bounds_hot_shingle_pairs).
SHINGLE_DF_CAP = 256


def _capped_shingle_docs(sh: DataFrame, df_cap: int) -> DataFrame:
    """(doc_id, shingle) exploded frame → the same frame restricted to
    shingles with document frequency ≤ df_cap, via a BROADCAST ANTI-JOIN
    against the HOT set (shingles with df > df_cap). An earlier revision
    equi-joined the full per-shingle df table back onto the exploded
    frame and claimed ReuseExchange would collapse the aggregate and the
    probe — it did not (measured round 8: 3 hash exchanges, no
    ReusedExchange node, and the shingle family regressed 2-3×). The df
    aggregate's exchange is unavoidable but map-side-combined (a viral
    shingle reaches the reducer as #partitions partial counts, never as
    its occurrence list — the reason this is a groupBy, not a count
    window); everything AFTER it is now map-side: the hot set is
    df-filtered BEFORE crossing to the driver, and the anti-join is a
    broadcast hash probe, so the corpus-sized frame never shuffles for
    the cap at all.

    Hot-set size: a shingle enters it only by appearing in > df_cap
    docs, so |hot| ≤ occurrences/df_cap, and in any real crawl the df
    distribution is Zipfian — the >256-doc tail is boilerplate lines,
    thousands of rows, far under any broadcast limit. The hint is
    SIZE-GATED (``gated_broadcast``, r10): below HOT_BROADCAST_MAX_ROWS
    the hot set is driver-materialized and broadcast; an adversarial
    all-boilerplate corpus instead gets the un-hinted join and AQE
    chooses the strategy from measured size — graceful degradation
    instead of a forced-broadcast OOM cliff."""
    from ocs_duckdb_runner_spark.registry import gated_broadcast

    hot = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > df_cap)
        .select("shingle")
    )
    return sh.join(gated_broadcast(hot), "shingle", "left_anti")


def _jaccard_pairs_from_sh(
    sh: DataFrame, df_cap: int = SHINGLE_DF_CAP
) -> DataFrame:
    """Exploded (doc_id, shingle-hash) frame → exact Jaccard pairs
    (doc_a, doc_b, shared, jaccard ≥ 0.2) via the df-capped inverted-index
    join: shingles hotter than df_cap never enter candidate generation
    (see SHINGLE_DF_CAP), and only docs sharing ≥1 kept shingle ever
    meet; intersection by count. The per-doc KEPT set sizes come from a
    combiner aggregate joined onto the threshold-BOUNDED pair output —
    per-doc rows (N), not per-occurrence rows (~50N), cross that
    exchange. The capped frame is PERSISTED: the self-join's two
    branches plus the counts aggregate reference it three times, and
    re-running the df-cap join per reference would triple its cost.
    Integer set arithmetic → the jaccard double is bit-identical to the
    DuckDB oracle; the result is materialized (eager checkpoint) before
    the cache is released. Caller persists the shingle-array frame
    feeding ``sh``."""
    with scoped_cache() as persist:
        kept = persist(_capped_shingle_docs(sh, df_cap))
        counts = kept.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
        a, b = kept.alias("a"), kept.alias("b")
        pairs = (
            a.join(
                b,
                (F.col("a.shingle") == F.col("b.shingle"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .groupBy(
                F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
            )
            .agg(F.count(F.lit(1)).alias("shared"))
        )
        jac = F.col("shared").cast("double") / (
            F.col("na") + F.col("nb") - F.col("shared")
        )
        return (
            pairs.join(counts.toDF("doc_a", "na"), "doc_a")
            .join(counts.toDF("doc_b", "nb"), "doc_b")
            .select("doc_a", "doc_b", "shared", jac.alias("jaccard"))
            .filter(F.col("jaccard") >= 0.2)
            .localCheckpoint(eager=True)
        )


def _sql_jaccard_capped(shingle_cte: str, cap: int) -> str:
    """Oracle twin of _jaccard_pairs_from_sh: df-capped shingle universe,
    kept-set counts, inverted-index pair join, jaccard ≥ 0.2."""
    return f"""
    WITH sh0 AS ({shingle_cte}),
    shdf AS (SELECT shingle, count(*) AS df FROM sh0 GROUP BY shingle),
    sh AS (SELECT s.doc_id, s.shingle FROM sh0 s
           JOIN shdf USING (shingle) WHERE shdf.df <= {cap}),
    counts AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(count(*) AS BIGINT) AS shared
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2)
    SELECT p.doc_a, p.doc_b, p.shared,
           CAST(p.shared AS DOUBLE) / (ca.n_sh + cb.n_sh - p.shared) AS jaccard
    FROM pairs p
    JOIN counts ca ON ca.doc_id = p.doc_a
    JOIN counts cb ON cb.doc_id = p.doc_b
    WHERE CAST(p.shared AS DOUBLE) / (ca.n_sh + cb.n_sh - p.shared) >= 0.2
    """


@query(
    "dedup_ngram_jaccard",
    oracle=_sql_jaccard_capped(_SQL_SHINGLES, SHINGLE_DF_CAP),
    tags=("llm", "dedup", "jaccard", "didactic"),
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DIDACTIC baseline: exact 3-gram Jaccard pairs over ALL docs. The
    emitted-pair term is quadratic in per-cluster copy count, so at high
    duplicate multiplicity this form is a scale-killer (SCALING.md: 42 s
    at the 10× probe vs ~6 s collapsed) — production near-dup is
    dedup_ngram_jaccard_unique (exact-collapse first), which
    dedup_clusters routes through. The ≥0.2 threshold bounds the output;
    the shared-shingle join bounds the work."""
    # join key = xxhash64(shingle), not the shingle string: the inverted
    # index shuffles 8-byte longs instead of ~20-byte strings and the join
    # compares integers. Distinct-per-doc is taken BEFORE hashing, so
    # counts equal the oracle's distinct-string counts (a cross-shingle
    # xxhash64 collision is ~1e-11 at corpus scale — engine-internal
    # choice, same results).
    return _jaccard_from_tokens(_doc_token_frame(spark, sf_dir))


CONTAIN_TAU = 0.5  # containment threshold: half of A's shingles appear in B


def _sql_containment_capped(shingle_cte: str, cap: int) -> str:
    """Oracle twin of _containment_from_tokens: df-capped shingle
    universe, kept-set counts, directional pairs, containment ≥ τ."""
    return f"""
    WITH sh0 AS ({shingle_cte}),
    shdf AS (SELECT shingle, count(*) AS df FROM sh0 GROUP BY shingle),
    sh AS (SELECT s.doc_id, s.shingle FROM sh0 s
           JOIN shdf USING (shingle) WHERE shdf.df <= {cap}),
    counts AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(count(*) AS BIGINT) AS shared
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
      GROUP BY 1, 2)
    SELECT p.doc_a, p.doc_b, p.shared,
           CAST(p.shared AS DOUBLE) / ca.n_sh AS containment
    FROM pairs p JOIN counts ca ON ca.doc_id = p.doc_a
    WHERE CAST(p.shared AS DOUBLE) / ca.n_sh >= {CONTAIN_TAU}
    """


def _containment_from_tokens(token_frame: DataFrame) -> DataFrame:
    """(doc_id, toks) → materialized directional containment pairs at
    C ≥ CONTAIN_TAU over the df-capped shingle universe — the engine body
    shared by dedup_containment (all docs) and dedup_containment_unique
    (keepers only)."""
    with scoped_cache() as persist:
        arr = persist(token_frame.select(
            "doc_id", shingle_hashes(F.col("toks")).alias("sh")
        ))
        sh = arr.select("doc_id", F.explode("sh").alias("shingle"))
        kept = persist(_capped_shingle_docs(sh, SHINGLE_DF_CAP))
        counts = kept.groupBy("doc_id").agg(F.count(F.lit(1)).alias("na"))
        a, b = kept.alias("a"), kept.alias("b")
        pairs = (
            a.join(
                b,
                (F.col("a.shingle") == F.col("b.shingle"))
                & (F.col("a.doc_id") != F.col("b.doc_id")),
            )
            .groupBy(
                F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
            )
            .agg(F.count(F.lit(1)).alias("shared"))
        )
        contain = F.col("shared").cast("double") / F.col("na")
        return (
            pairs.join(counts.toDF("doc_a", "na"), "doc_a")
            .select("doc_a", "doc_b", "shared", contain.alias("containment"))
            .filter(F.col("containment") >= CONTAIN_TAU)
            .localCheckpoint(eager=True)
        )


@query(
    "dedup_containment",
    oracle=_sql_containment_capped(_SQL_SHINGLES, SHINGLE_DF_CAP),
    tags=("llm", "dedup", "containment"),
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric near-dup: shingle CONTAINMENT C(A→B) = |A∩B| / |A| —
    the quote/excerpt detector symmetric Jaccard misses (a short doc fully
    embedded in a long one has high containment but low Jaccard, because
    the union denominator is dominated by the long doc). Ordered pairs
    (doc_a contained-in doc_b) at C ≥ 0.5, DIDACTIC all-docs
    form (exact copies contribute quadratic intra-cluster pairs; the
    production path is dedup_containment_unique).

    Plan: the same df-capped inverted-index join as dedup_ngram_jaccard —
    shingles hotter than SHINGLE_DF_CAP never enter candidate generation
    (bounded d² per shingle), only docs sharing ≥1 kept shingle ever
    meet, and the per-doc kept-set sizes come from a combiner aggregate
    joined onto the threshold-bounded output. The ordered (<>) join
    emits each unordered pair in both directions, which is the semantics
    (containment is directional), not blow-up: output is
    threshold-bounded. Shuffles carry 8-byte shingle hashes + longs
    only."""
    return _containment_from_tokens(_doc_token_frame(spark, sf_dir))


@query(
    "dedup_containment_unique",
    oracle=_sql_containment_capped(_SQL_KEEPER_SHINGLES, SHINGLE_DF_CAP),
    tags=("llm", "dedup", "containment", "pipeline"),
)
def dedup_containment_unique(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION containment formulation: exact-dedup first (one
    keeper per distinct text, min doc_id), THEN directional containment
    pairs over unique texts only — completing the exact-collapse-first
    family (dedup_ngram_jaccard_unique / dedup_minhash_unique) for the
    asymmetric quote/excerpt detector. Exact copies contribute zero
    pairs; membership for collapsed copies is recovered through the
    fingerprint map (dedup_fingerprint). Same df-capped inverted index,
    same combiner-aggregate denominators, same oracle discipline as the
    all-docs form."""
    return _containment_from_tokens(_keeper_token_docs(spark, sf_dir))


FUZZY_BLOCK_CHARS = 16  # blocking key part 1: first chars of the text
FUZZY_LEN_BUCKET = 16  # blocking key part 2: length(text) DIV this
FUZZY_MAX_BLOCK = 64  # blocks bigger than this are boilerplate — dropped
FUZZY_PREFIX = 40  # edit distance compared over this prefix
FUZZY_MAX_DIST = 5


@query(
    "dedup_fuzzy_levenshtein",
    oracle=f"""
    WITH n AS (SELECT doc_id,
                      substr(text, 1, {FUZZY_BLOCK_CHARS}) AS pre,
                      length(text) // {FUZZY_LEN_BUCKET} AS lb,
                      substr(text, 1, {FUZZY_PREFIX}) AS head
               FROM documents),
    small AS (
      SELECT n.* FROM n
      JOIN (SELECT pre, lb FROM n GROUP BY pre, lb
            HAVING count(*) <= {FUZZY_MAX_BLOCK}) ok
      USING (pre, lb)),
    probes AS (
      SELECT doc_id, pre, head, unnest([lb - 1, lb, lb + 1]) AS pa
      FROM small)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(levenshtein(a.head, b.head) AS INTEGER) AS edit_dist
    FROM probes a JOIN small b
      ON a.pre = b.pre AND a.pa = b.lb AND a.doc_id < b.doc_id
    WHERE levenshtein(a.head, b.head) <= {FUZZY_MAX_DIST}
    """,
    tags=("llm", "dedup", "fuzzy"),
)
def dedup_fuzzy_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy (edit-distance) near-dup pairs with CAPPED blocking — the
    record-linkage shape hardened for real corpora: docs meet only if
    they share BOTH a prefix block (first 16 chars) and the same-or-
    adjacent length bucket (length DIV 16; each doc probes buckets
    lb−1..lb+1 so true pairs straddling a boundary still meet — edit
    distance ≤ 5 bounds length skew well under one bucket). Blocks
    larger than FUZZY_MAX_BLOCK docs are discarded outright: a prefix
    shared by hundreds of docs is boilerplate (headers, templates), not
    duplication evidence, and it is exactly the case that re-creates
    O(b²) pairs inside plain prefix blocking (ADVICE r1). Per-doc work
    is now ≤ 3 buckets × ≤ 64 candidates — linear by construction.
    Levenshtein runs on a fixed 40-char prefix so per-pair cost is
    bounded. Exact integer distances ⇒ oracle-checked."""
    d = spread(load_table(spark, sf_dir, "documents"))
    n = d.select(
        "doc_id",
        F.substring("text", 1, FUZZY_BLOCK_CHARS).alias("pre"),
        F.floor(F.length("text") / FUZZY_LEN_BUCKET).alias("lb"),
        F.substring("text", 1, FUZZY_PREFIX).alias("head"),
    )
    ok = (
        n.groupBy("pre", "lb")
        .agg(F.count(F.lit(1)).alias("bsz"))
        .filter(F.col("bsz") <= FUZZY_MAX_BLOCK)
        .select("pre", "lb")
    )
    small = n.join(ok, ["pre", "lb"], "semi")
    probes = small.select(
        "doc_id",
        "pre",
        "head",
        F.explode(
            F.array(F.col("lb") - 1, F.col("lb"), F.col("lb") + 1)
        ).alias("pa"),
    )
    a, b = probes.alias("a"), small.alias("b")
    dist = F.levenshtein(F.col("a.head"), F.col("b.head"))
    return (
        a.join(
            b,
            (F.col("a.pre") == F.col("b.pre"))
            & (F.col("a.pa") == F.col("b.lb"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            dist.alias("edit_dist"),
        )
        .filter(F.col("edit_dist") <= FUZZY_MAX_DIST)
    )


# The cluster-connectivity edge set as a reusable oracle CTE body: jp is
# (doc_a, doc_b). Mirrors the engine's production path exactly — df-capped
# jaccard pairs over the KEEPER (unique-text) universe (the cap must count
# df over keepers, not raw docs: copy multiplicity is not shingle
# hotness), plus one keeper→copy edge per exact duplicate from the
# fingerprint map. Closure over these edges equals closure over all-docs
# pairs (an exact copy has jaccard 1.0 with its keeper), with the
# quadratic intra-cluster pair term gone.
_SQL_JACCARD_PAIRS = f"""
    sh0 AS ({_SQL_KEEPER_SHINGLES}),
    shdf AS (SELECT shingle, count(*) AS df FROM sh0 GROUP BY shingle),
    sh AS (SELECT s.doc_id, s.shingle FROM sh0 s
           JOIN shdf USING (shingle) WHERE shdf.df <= {SHINGLE_DF_CAP}),
    counts AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    rawpairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(count(*) AS BIGINT) AS shared
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    jp0 AS (
      SELECT p.doc_a, p.doc_b
      FROM rawpairs p
      JOIN counts ca ON ca.doc_id = p.doc_a
      JOIN counts cb ON cb.doc_id = p.doc_b
      WHERE CAST(p.shared AS DOUBLE) / (ca.n_sh + cb.n_sh - p.shared) >= 0.2),
    fpmap AS (
      SELECT k.keeper, d.doc_id
      FROM documents d
      JOIN (SELECT md5(text) AS fp, min(doc_id) AS keeper
            FROM documents GROUP BY md5(text)) k
        ON md5(d.text) = k.fp
      WHERE d.doc_id <> k.keeper),
    jp AS (SELECT doc_a, doc_b FROM jp0
           UNION ALL
           SELECT keeper AS doc_a, doc_id AS doc_b FROM fpmap)
"""


# Edge sets at or below this row count are resolved with driver-side
# union-find instead of the distributed fix-point loop: 1M (src, dst) long
# pairs is ~16 MB — broadcast-class, the same size regime where Spark
# itself abandons a distributed join for a broadcast. Below it, every
# propagation round costs ~0.6 s of Catalyst re-analysis + codegen compile
# (measured on a 241-edge graph: the round's JOB is microseconds) while
# union-find on the driver is microseconds total.
DRIVER_CC_MAX_EDGES = 1_000_000


def _union_find_labels(pairs: list[tuple[int, int]]) -> dict[int, int]:
    """Driver-side connected components: min-id label per edge-touching
    node. Path-halving union-find, then a second pass re-rooting so every
    node maps to the MINIMUM id in its component (union by arbitrary root
    does not guarantee min-root)."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        r = parent.setdefault(x, x)
        while r != parent[r]:
            parent[r] = parent[parent[r]]
            r = parent[r]
        # path compression for x itself
        while parent[x] != r:
            parent[x], x = r, parent[x]
        return r

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in list(parent)}


def _propagate_min_label(edges_src_dst: DataFrame, width: int) -> DataFrame:
    """Distributed min-label propagation to fixpoint over an (src, dst)
    edge frame (both directions present) — the standard large-scale CC
    formulation; rounds ≤ graph diameter, and near-dup clusters are
    low-diameter. Returns (doc_id, lbl) for every edge-touching node.

    Exchange width is the caller's (sized from the edge count, not the
    session's corpus-sized shuffle partitions). Edges are hash-partitioned
    by src once and stay plan-visible, so the src=doc_id join reuses that
    partitioning every round; the labels side pays one node-sized (not
    corpus-sized) exchange per round. The changed count rides in a cheap
    aggregate over the just-checkpointed frame instead of a separate
    compare-join action.

    LINEAGE IS TRUNCATED EVERY ROUND with an eager localCheckpoint: each
    round's plan references `labels` twice (the neighbor join and the
    merge), so an un-truncated loop DOUBLES the logical plan per round —
    a diameter-20 component built ~2^20 plan nodes and OOM'd the driver
    JVM inside TreeNode.treeString before the old every-25-rounds
    truncation ever fired (measured round 8; same 2^steps hazard as the
    round-6 HITS fix). Post-checkpoint the plan is a constant-size
    LogicalRDD, so rounds cost O(nodes) driver work regardless of
    diameter. AQE is paused inside the loop (and restored): the plan is
    deliberately static, and per-round re-planning would both cost time
    and re-break the edge-side co-partitioning.

    STORAGE IS RELEASED EVERY ROUND (r10): once a round's checkpoint has
    materialized, the previous round's pinned RDD blocks are explicitly
    unpersisted (``release_local_checkpoint``) instead of waiting for
    driver-side GC to collect the py4j reference — live checkpoint
    storage is one labels frame, not O(rounds). Trade-off, documented:
    localCheckpoint is not fault-tolerant, so an executor loss mid-loop
    restarts the query; a cluster deployment wanting mid-loop recovery
    would swap in reliable ``checkpoint()`` against the cluster FS and
    pay a distributed write per round for it."""
    spark = edges_src_dst.sparkSession
    conf = {
        "spark.sql.shuffle.partitions": str(width),
        "spark.sql.adaptive.enabled": "false",
    }
    with scoped_conf(spark, conf), scoped_cache() as persist:
        edges = persist(edges_src_dst.repartition(width, "src"))
        labels = (
            edges.select(F.col("src").alias("doc_id"))
            .distinct()
            .select("doc_id", F.col("doc_id").alias("lbl"))
            .localCheckpoint(eager=True)
        )
        # iterate to CONVERGENCE, not to a fixed round count: an earlier
        # revision capped at 30 rounds and fell through SILENTLY, which
        # on a component of diameter >30 (a chain of incrementally
        # edited versions) would emit unconverged labels — duplicates
        # retained, oracle diverged. A pathological diameter now fails
        # loudly instead.
        rounds = 0
        pinned = labels  # the live checkpoint; freed once superseded
        while True:
            nbr = (
                edges.join(labels, edges.src == labels.doc_id)
                .groupBy(F.col("dst").alias("doc_id"))
                .agg(F.min("lbl").alias("nbr_lbl"))
            )
            # eager localCheckpoint IS the round's materializing action
            # and truncates lineage to a constant-size LogicalRDD (see
            # docstring: the plan otherwise doubles per round). The
            # change-count agg after it reads the pinned RDD — near-free.
            merged = (
                labels.join(nbr, "doc_id", "left")
                .select(
                    "doc_id",
                    F.least(
                        F.col("lbl"), F.coalesce(F.col("nbr_lbl"), F.col("lbl"))
                    ).alias("lbl"),
                    (F.coalesce(F.col("nbr_lbl"), F.col("lbl")) < F.col("lbl"))
                    .cast("long")
                    .alias("chg"),
                )
                .localCheckpoint(eager=True)
            )
            # merged has materialized (eager), so the PREVIOUS round's
            # checkpoint blocks are dead — release them now instead of
            # waiting for driver GC (ADVICE r10: over hundreds of rounds
            # the pinned RDDs otherwise accumulate nondeterministically;
            # storage stays one labels-frame-sized, not O(rounds))
            release_local_checkpoint(pinned)
            pinned = merged
            changed = merged.agg(F.sum("chg")).first()[0]
            labels = merged.select("doc_id", "lbl")
            if not changed:
                break
            rounds += 1
            if rounds >= 500:
                raise RuntimeError(
                    "min-label propagation did not converge in 500 rounds"
                    f" ({changed} labels still moving) — component diameter"
                    " beyond any plausible near-dup cluster; refusing to"
                    " emit unconverged clusters"
                )
        # the final labels frame is already checkpoint-pinned; the
        # caller's corpus-sized joins run at the session's width
        return labels


@query(
    "dedup_clusters",
    oracle=f"""
    WITH RECURSIVE
    {_SQL_JACCARD_PAIRS},
    edges AS (SELECT doc_a AS src, doc_b AS dst FROM jp
              UNION ALL
              SELECT doc_b, doc_a FROM jp),
    reach AS (
      SELECT doc_id, doc_id AS lbl FROM documents
      UNION
      SELECT e.dst AS doc_id, r.lbl
      FROM reach r JOIN edges e ON e.src = r.doc_id
    )
    SELECT doc_id,
           CAST(min(lbl) AS BIGINT) AS cluster,
           (doc_id = min(lbl)) AS is_keeper
    FROM reach
    GROUP BY doc_id
    """,
    tags=("llm", "dedup", "clusters", "iterative"),
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the near-dup graph — the step that turns
    pairwise candidates into dedup DECISIONS: every doc labeled with the
    min doc_id reachable through jaccard≥0.2 edges (its cluster), keeper =
    the cluster representative. A∼B∼C collapses to ONE kept doc even when
    A and C were never directly compared — pair-level dedup alone cannot
    do this.

    The edge set is the PRODUCTION composition: jaccard pairs over unique
    texts only (dedup_ngram_jaccard_unique) plus one doc→keeper edge per
    exact copy from the fingerprint map. Connectivity is provably identical
    to pairs-over-all-docs — an exact copy has jaccard 1.0 with its keeper,
    so every all-docs edge is recovered through keeper edges — but the
    quadratic intra-cluster pair term is gone. The oracle mirrors this
    path CTE-for-CTE (keeper-universe df-capped pairs + fingerprint
    edges, _SQL_JACCARD_PAIRS), so the SHINGLE_DF_CAP semantics stay
    aligned at any duplicate multiplicity.

    Component resolution is SIZE-GATED, the same way Spark itself gates
    broadcast vs shuffled joins: the near-dup edge set is orders of
    magnitude smaller than the corpus, and when it fits the driver
    (≤ DRIVER_CC_MAX_EDGES ≈ 16 MB of id pairs) union-find resolves it in
    one collect of the already-checkpointed pair frame — a distributed
    fix-point loop would pay ~0.6 s of Catalyst re-analysis + codegen per
    round to schedule microsecond jobs. Above the gate (corpus-scale dup
    graphs) the genuinely iterative distributed path
    (:func:`_propagate_min_label`) runs, its exchange width sized from the
    edge count. Either way the per-round/collect payload is the near-dup
    node set, never the corpus, and the final membership for collapsed
    exact copies is recovered through the fingerprint map
    (doc → keeper → cluster), whose scan is shared with keeper
    selection."""
    d = load_table(spark, sf_dir, "documents")
    # ONE fingerprint scan shared by keeper selection and final mapping
    with scoped_cache() as persist:
        fp_map = persist(d.select(
            F.md5(F.col("text").cast("binary")).alias("fp"), "doc_id"
        ))
        keeper_map = fp_map.groupBy("fp").agg(
            F.min("doc_id").alias("keeper")
        )
        keepers = spread(
            d.join(
                keeper_map.select(F.col("keeper").alias("doc_id")),
                "doc_id",
                "semi",
            ).select("doc_id", F.split(F.col("text"), " ").alias("toks"))
        )
        keeper_pairs = _jaccard_from_tokens(keepers).select("doc_a", "doc_b")
        # one cheap action on the checkpointed pair frame decides the path
        # AND (small case) already delivers the edges — no separate
        # count() job
        head = keeper_pairs.limit(DRIVER_CC_MAX_EDGES + 1).collect()
        if len(head) <= DRIVER_CC_MAX_EDGES:
            lbl_map = _union_find_labels([(r[0], r[1]) for r in head])
            labels = F.broadcast(
                spark.createDataFrame(
                    list(lbl_map.items()) or [(None, None)],
                    "doc_id long, lbl long",
                ).filter(F.col("doc_id").isNotNull())
            )
        else:
            n_pairs = keeper_pairs.count()  # cached-RDD scan, not a recompute
            width = max(
                1,
                min(
                    spark.sparkContext.defaultParallelism,
                    1 + n_pairs // 100_000,
                ),
            )
            und = keeper_pairs.toDF("src", "dst")
            edges = und.union(
                und.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
            )
            labels = _propagate_min_label(edges, width)
        # doc → keeper (exact-copy collapse) → propagated cluster label;
        # docs whose keeper never touched an edge keep the keeper's id
        cluster = F.coalesce(F.col("lbl"), F.col("keeper"))
        return (
            fp_map.join(keeper_map, "fp")
            .join(
                labels.withColumnRenamed("doc_id", "keeper"), "keeper", "left"
            )
            .select(
                "doc_id",
                cluster.alias("cluster"),
                (F.col("doc_id") == cluster).alias("is_keeper"),
            )
            .localCheckpoint(eager=True)
        )


@query(
    "pipeline_dedup_end2end",
    oracle="""
    WITH n AS (
      SELECT doc_id, lang, n_chars,
             md5(trim(regexp_replace(regexp_replace(lower(text),
                   '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS fp
      FROM documents),
    keepers AS (SELECT fp, min(doc_id) AS keeper FROM n GROUP BY fp)
    SELECT n.lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT n.fp) AS BIGINT) AS n_unique,
           CAST(sum(CASE WHEN n.doc_id = k.keeper THEN n.n_chars ELSE 0 END)
                AS BIGINT) AS kept_chars,
           round(1.0 - CAST(count(DISTINCT n.fp) AS DOUBLE) / count(*), 6)
             AS dup_ratio
    FROM n JOIN keepers k ON k.fp = n.fp
    GROUP BY n.lang
    """,
    tags=("llm", "dedup", "pipeline"),
)
def pipeline_dedup_end2end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed training-data dedup pipeline in ONE declarative plan:
    normalize (lower/strip/collapse — so case/punct variants collapse) →
    16-byte content fingerprint → deterministic keeper per fingerprint →
    per-language corpus report (docs before/after, surviving chars, dup
    ratio). This is the shape a 100 TB pre-training cleanup actually runs:
    the only wide exchanges carry (fp, doc_id, lang, n_chars) — never
    document text — and every stage is a built-in JVM expression, so the
    whole pipeline is three hash aggregates end to end."""
    d = load_table(spark, sf_dir, "documents")
    # ONE regex pass, not two: replacing every maximal run of
    # non-alphanumerics with a single space is byte-identical to the
    # two-pass form (strip [^a-z0-9 ] then collapse ' +' — any mixed run
    # of punctuation and spaces becomes exactly one space either way,
    # then trim), but java.util.regex pays per-MATCH overhead, and the
    # char-class pass matches every punctuation byte individually while
    # the run form matches once per run: measured 151.8 s → 4.7 s (32x)
    # for normalize+md5 over 5M docs at the 1000x probe. The DuckDB
    # oracle deliberately KEEPS the two-pass spelling, so the hash match
    # is itself the proof of equivalence on every fixture.
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9]+", " "))
    # persist the fingerprinted projection: ~50 B/doc, but it feeds BOTH
    # the keeper aggregate and the join branch — without it the whole
    # normalize+md5 scan (the expensive regex pass) runs once per branch
    with scoped_cache() as persist:
        n = persist(d.select(
            "doc_id", "lang", "n_chars", F.md5(norm.cast("binary")).alias("fp")
        ))
        keepers = n.groupBy("fp").agg(F.min("doc_id").alias("keeper"))
        joined = n.join(keepers, "fp")
        return joined.groupBy("lang").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("fp").alias("n_unique"),
            F.sum(
                F.when(
                    F.col("doc_id") == F.col("keeper"), F.col("n_chars")
                ).otherwise(F.lit(0))
            ).alias("kept_chars"),
            F.round(
                1.0 - F.countDistinct("fp").cast("double") / F.count(F.lit(1)),
                6,
            ).alias("dup_ratio"),
        ).localCheckpoint(eager=True)


def _keeper_token_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The exact-dedup collapse every production near-dup stage runs
    first: one keeper per distinct text (min doc_id) with its token array.

    Shaped so untokenized text shuffles at most once: keeper ids come from
    a (fp, doc_id) aggregate whose exchange carries 24-byte rows, then a
    semi-join on doc_id pulls the keeper docs' text back — AQE broadcasts
    the id set locally; at cluster scale it degrades to a shuffled
    semi-join of ids. The token projection sits below the spread()
    exchange so downstream shingle lambdas read a materialized array
    (see _doc_token_frame on why the barrier is load-bearing)."""
    d = load_table(spark, sf_dir, "documents")
    keeper_ids = (
        d.select(F.md5(F.col("text").cast("binary")).alias("fp"), "doc_id")
        .groupBy("fp")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    return spread(
        d.join(keeper_ids, "doc_id", "semi").select(
            "doc_id", F.split(F.col("text"), " ").alias("toks")
        )
    )


@query(
    "dedup_ngram_jaccard_unique",
    oracle=_sql_jaccard_capped(_SQL_KEEPER_SHINGLES, SHINGLE_DF_CAP),
    tags=("llm", "dedup", "jaccard", "pipeline"),
)
def dedup_ngram_jaccard_unique(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION near-dup formulation: exact-dedup first (collapse to
    one keeper per distinct text, min doc_id), THEN jaccard pairs over
    unique texts only. Exact copies contribute ZERO pairs here — the
    quadratic intra-cluster term that dominates plain dedup_ngram_jaccard
    when duplicate multiplicity grows (SCALING.md: 42s vs ~6s at the 10×
    probe) is gone, and cluster membership for the collapsed copies is
    recovered from the fingerprint map (dedup_fingerprint). Same inverted
    index, same exact arithmetic, same oracle discipline."""
    return _jaccard_from_tokens(_keeper_token_docs(spark, sf_dir))


@query("dedup_minhash_unique", oracle=None, tags=("llm", "dedup", "minhash", "pipeline"))
def dedup_minhash_unique(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidates over UNIQUE texts (exact-dedup-first, like
    dedup_ngram_jaccard_unique): one keeper per distinct text enters the
    signature/banding stage, so exact copies add zero signature work and
    zero candidate pairs. Same engine-specific hashing as dedup_minhash ⇒
    rows-only; semantics carried by the planted-near-dup unit tests plus
    the keeper mapping from dedup_fingerprint."""
    keepers = _keeper_token_docs(spark, sf_dir)
    docs = keepers.select("doc_id", shingle_hashes(F.col("toks")).alias("sh"))
    return minhash_candidates(docs)


# 6-token-gram md5 keys over a `toks` array column — long enough that
# random collisions are negligible on a real vocabulary, so any shared
# gram is genuine duplication. Mirrored by _SQL_GRAM6 for the oracle;
# shared by decontaminate_ngram and pipeline_pretrain_end2end.
_SQL_GRAM6 = """list_distinct(CASE WHEN len(toks) >= 6 THEN
                 list_transform(generate_series(1, len(toks) - 5),
                                i -> md5(array_to_string(toks[i:i+5], ' ')))
               ELSE [md5(array_to_string(toks, ' '))] END)"""


def gram6_hashes() -> Column:
    return F.array_distinct(
        F.when(
            F.size("toks") >= 6,
            F.expr(
                "transform(sequence(1, size(toks) - 5),"
                " i -> md5(cast(concat_ws(' ', slice(toks, i, 6))"
                "              as binary)))"
            ),
        ).otherwise(
            F.array(F.md5(F.concat_ws(" ", F.col("toks")).cast("binary")))
        )
    )


# Same hot-key guard as SHINGLE_DF_CAP, for the 6-gram decontamination
# index: a gram in > GRAM_DF_CAP training docs is corpus boilerplate, not
# benchmark contamination (6 tokens of genuinely contaminated text do not
# recur across thousands of independent documents), and it is the one key
# that would pile a corpus-sized row group on a single join reducer.
# Dropped from the representation (join AND the n_grams denominator),
# identically in the oracle. Fixture max gram df = 4, so capped results
# equal uncapped at test scales.
GRAM_DF_CAP = 256


@query(
    "decontaminate_ngram",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ), grams_arr AS (
        SELECT doc_id, {_SQL_GRAM6} AS gs
        FROM toks
    ), bench AS (
        SELECT DISTINCT unnest(gs) AS gram FROM grams_arr
        WHERE doc_id % 19 = 0
    ), train0 AS (
        SELECT doc_id, unnest(gs) AS gram
        FROM grams_arr WHERE doc_id % 19 <> 0
    ), tdf AS (
        SELECT gram, count(*) AS df FROM train0 GROUP BY gram
    ), train AS (
        SELECT t.doc_id, t.gram FROM train0 t
        JOIN tdf USING (gram) WHERE tdf.df <= {GRAM_DF_CAP}
    ), counts AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams
        FROM train GROUP BY doc_id
    )
    SELECT t.doc_id, c.n_grams,
           CAST(count(*) AS BIGINT) AS n_shared,
           count(*) / c.n_grams AS overlap_frac
    FROM train t
    JOIN bench b ON b.gram = t.gram
    JOIN counts c ON c.doc_id = t.doc_id
    GROUP BY t.doc_id, c.n_grams
    """,
    tags=("llm", "dedup", "decontamination"),
)
def decontaminate_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing any
    6-token n-gram with the held-out benchmark slice (doc_id % 19 == 0
    plays the eval set). The standard pretraining hygiene step — published
    pipelines drop or redact training docs overlapping eval benchmarks on
    long n-grams, where k is chosen so random collisions are negligible
    and only real contamination fires.

    Shape: per-doc DISTINCT 6-gram md5 keys (map-side array math below a
    spread() exchange, one split per doc), then an inverted-index inner
    join of training grams against the DISTINCT benchmark gram set, count
    per doc. Grams hotter than GRAM_DF_CAP training docs are dropped from
    the representation first (join and denominator, mirrored in the
    oracle) — they are boilerplate, not contamination, and they are the
    hot join keys that would straggle a reducer at corpus scale. The shuffle carries 32-hex-char md5 keys, never text; the
    benchmark side is tiny by construction (an eval suite, not a corpus),
    so AQE broadcasts it and the "join" is a map-side hash probe — at
    100 TB this is one pass over the corpus. Pure-Spark deployments would
    swap md5 for xxhash64 (8-byte keys); md5 here keeps the key arithmetic
    expressible in both engines so the oracle checks values exactly.
    """
    tf = _doc_token_frame(spark, sf_dir)
    with scoped_cache() as persist:
        gs = persist(tf.select("doc_id", gram6_hashes().alias("gs")))
        bench = (
            gs.filter(F.col("doc_id") % 19 == 0)
            .select(F.explode("gs").alias("gram"))
            .distinct()
        )
        train0 = gs.filter(F.col("doc_id") % 19 != 0).select(
            "doc_id", F.explode("gs").alias("gram")
        )
        # hot grams (df > cap) are broadcast as a map-side anti-filter —
        # same shape and rationale as _capped_shingle_docs: the df
        # aggregate is the only exchange the cap costs, the corpus frame
        # never shuffles to apply it, and the hint is size-gated
        # (gated_broadcast) so an adversarial all-hot corpus degrades to
        # the AQE-chosen join instead of a forced-broadcast OOM
        from ocs_duckdb_runner_spark.registry import gated_broadcast

        hot = (
            train0.groupBy("gram")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > GRAM_DF_CAP)
            .select("gram")
        )
        # read by both the counts aggregate and the bench join
        train = persist(train0.join(gated_broadcast(hot), "gram", "left_anti"))
        # denominator from a combiner aggregate joined onto the (small,
        # contaminated-docs-only) output — per-doc rows cross the
        # exchange, not per-gram rows; the bench side is eval-suite-sized
        # in production so AQE broadcasts the bench join
        counts = train.groupBy("doc_id").agg(
            F.count(F.lit(1)).cast("long").alias("n_grams")
        )
        return (
            train.join(bench, "gram")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_shared"))
            .join(counts, "doc_id")
            .select(
                "doc_id",
                "n_grams",
                "n_shared",
                (F.col("n_shared") / F.col("n_grams")).alias("overlap_frac"),
            )
            .localCheckpoint(eager=True)
        )


@query(
    "dedup_cluster_stats",
    oracle=f"""
    WITH RECURSIVE
    {_SQL_JACCARD_PAIRS},
    edges AS (SELECT doc_a AS src, doc_b AS dst FROM jp
              UNION ALL
              SELECT doc_b, doc_a FROM jp),
    reach AS (
      SELECT doc_id, doc_id AS lbl FROM documents
      UNION
      SELECT e.dst AS doc_id, r.lbl
      FROM reach r JOIN edges e ON e.src = r.doc_id
    ),
    lab AS (SELECT doc_id, CAST(min(lbl) AS BIGINT) AS cluster
            FROM reach GROUP BY doc_id),
    sizes AS (SELECT cluster, CAST(count(*) AS BIGINT) AS sz
              FROM lab GROUP BY cluster)
    SELECT sz AS cluster_size,
           CAST(count(*) AS BIGINT) AS n_clusters,
           CAST(sum(sz - 1) AS BIGINT) AS docs_removed
    FROM sizes GROUP BY sz
    """,
    tags=("llm", "dedup", "clusters", "report"),
)
def dedup_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup DECISION REPORT: near-dup cluster size histogram — how
    many singleton docs, how many 2-copies, how big the largest cluster,
    and the docs-removed total a curation run will log. Built on the same
    connected-components labels as dedup_clusters (size-gated union-find /
    distributed propagation), then two tiny aggregates over (cluster) and
    (size) keys — the histogram adds nothing corpus-sized to the shuffle.
    """
    labels = dedup_clusters(spark, sf_dir)
    sizes = labels.groupBy("cluster").agg(F.count(F.lit(1)).alias("sz"))
    return (
        sizes.groupBy(F.col("sz").alias("cluster_size"))
        .agg(
            F.count(F.lit(1)).alias("n_clusters"),
            F.sum(F.col("sz") - 1).alias("docs_removed"),
        )
    )


# ---- oracle-EXACT MinHash: md5 slots, estimate vs true Jaccard ----

MHX_H = 8  # hash slots (bands of 1 row => candidate if ANY slot agrees)
MHX_MIN_AGREE = 3  # report pairs with >= 3/8 slots equal


def _mhx_slot_sql(i: int) -> str:
    return (
        f"CAST(('0x' || substr(md5('{i}|' || shingle), 1, 12)) AS BIGINT)"
    )


def _mhx_oracle() -> str:
    hs = ", ".join(f"{_mhx_slot_sql(i)} AS h{i}" for i in range(MHX_H))
    mins = ", ".join(f"min(h{i}) AS s{i}" for i in range(MHX_H))
    slot_case = " ".join(f"WHEN {i} THEN s{i}" for i in range(MHX_H))
    agree = " + ".join(
        f"CASE WHEN a.s{i} = b.s{i} THEN 1 ELSE 0 END" for i in range(MHX_H)
    )
    return f"""
    WITH sh AS ({_SQL_SHINGLES}),
    uniq AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY text),
    hv AS (SELECT sh.doc_id, sh.shingle, {hs}
           FROM sh JOIN uniq ON sh.doc_id = uniq.doc_id),
    sig AS (SELECT doc_id, {mins}, CAST(count(*) AS BIGINT) AS n_sh
            FROM hv GROUP BY doc_id),
    slots AS (SELECT doc_id, t.i,
                     CASE t.i {slot_case} END AS v
              FROM sig, unnest(generate_series(0, {MHX_H - 1})) AS t(i)),
    cand AS (SELECT DISTINCT x.doc_id AS da, y.doc_id AS db
             FROM slots x JOIN slots y
               ON x.i = y.i AND x.v = y.v AND x.doc_id < y.doc_id),
    scored AS (SELECT c.da, c.db, ({agree}) AS n_agree,
                      a.n_sh AS na, b.n_sh AS nb
               FROM cand c
               JOIN sig a ON a.doc_id = c.da
               JOIN sig b ON b.doc_id = c.db),
    inter AS (SELECT c.da, c.db, CAST(count(*) AS BIGINT) AS it
              FROM cand c
              JOIN hv x ON x.doc_id = c.da
              JOIN hv y ON y.doc_id = c.db AND y.shingle = x.shingle
              GROUP BY c.da, c.db)
    SELECT s.da AS doc_a, s.db AS doc_b,
           round(s.n_agree / {MHX_H}.0, 6) AS mh_est,
           round(CAST(coalesce(i.it, 0) AS DOUBLE)
                 / (s.na + s.nb - coalesce(i.it, 0)), 9) AS jaccard
    FROM scored s LEFT JOIN inter i ON i.da = s.da AND i.db = s.db
    WHERE s.n_agree >= {MHX_MIN_AGREE}
    """


@query(
    "dedup_minhash_estimate",
    oracle=_mhx_oracle(),
    tags=("llm", "dedup", "minhash"),
)
def dedup_minhash_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash made oracle-EXACT: md5-derived hash slots (engine-neutral,
    unlike the xxhash64 signatures that force dedup_minhash to a
    rows-only check) let the driver verify the WHOLE estimator — each
    pair reports its signature-agreement estimate (n_equal_slots/8)
    NEXT TO the true shingle Jaccard, the estimator-vs-truth comparison
    a pipeline runs when tuning band/row geometry. Candidates via
    1-row-band LSH (any slot equal) over exact-unique docs, so pair
    count is collision-bounded, never all-pairs.

    Plan: shingles are map-side Generates; signatures are 8 min
    aggregates under ONE (doc_id) exchange; the slot unpivot is 8 rows
    per doc; intersection counts ride the same inverted-index join the
    Jaccard operators use. All md5/integer arithmetic ⇒ estimates AND
    truth hash-match the oracle exactly."""
    d = load_table(spark, sf_dir, "documents")
    uniq = d.groupBy("text").agg(F.min("doc_id").alias("doc_id"))
    toks = F.split(F.col("text"), " ")
    with scoped_cache() as persist:
        sh = persist(uniq.select(
            "doc_id", F.explode(shingles(toks)).alias("shingle")
        ))
        hv = sh.select(
            "doc_id",
            "shingle",
            *[
                F.conv(
                    F.substring(
                        F.md5(F.concat(F.lit(f"{i}|"), F.col("shingle"))), 1, 12
                    ),
                    16,
                    10,
                )
                .cast("long")
                .alias(f"h{i}")
                for i in range(MHX_H)
            ],
        )
        sig = persist(hv.groupBy("doc_id").agg(
            *[F.min(f"h{i}").alias(f"s{i}") for i in range(MHX_H)],
            F.count(F.lit(1)).alias("n_sh"),
        ))
        slots = sig.select(
            "doc_id",
            F.posexplode(F.array(*[F.col(f"s{i}") for i in range(MHX_H)])).alias(
                "i", "v"
            ),
        )
        sx = slots.toDF("da", "i", "v")
        sy = slots.toDF("db", "i2", "v2")
        cand = (
            sx.join(sy, (sx.i == sy.i2) & (sx.v == sy.v2) & (sx.da < sy.db))
            .select("da", "db")
            .distinct()
        )
        a = sig.select(
            F.col("doc_id").alias("da"),
            *[F.col(f"s{i}").alias(f"sa{i}") for i in range(MHX_H)],
            F.col("n_sh").alias("na"),
        )
        b = sig.select(
            F.col("doc_id").alias("db"),
            *[F.col(f"s{i}").alias(f"sb{i}") for i in range(MHX_H)],
            F.col("n_sh").alias("nb"),
        )
        agree = sum(
            F.when(F.col(f"sa{i}") == F.col(f"sb{i}"), 1).otherwise(0)
            for i in range(MHX_H)
        )
        scored = (
            cand.join(a, "da").join(b, "db")
            .select("da", "db", agree.alias("n_agree"), "na", "nb")
            .filter(F.col("n_agree") >= MHX_MIN_AGREE)
        )
        shx = sh.toDF("da", "shingle")
        shy = sh.toDF("db2", "shingle2")
        inter = (
            scored.select("da", "db")
            .join(shx, "da")
            .join(
                shy,
                (F.col("db") == F.col("db2"))
                & (F.col("shingle") == F.col("shingle2")),
            )
            .groupBy("da", "db")
            .agg(F.count(F.lit(1)).alias("it"))
        )
        return (
            scored.join(inter, ["da", "db"], "left")
            .select(
                F.col("da").alias("doc_a"),
                F.col("db").alias("doc_b"),
                F.round(F.col("n_agree") / MHX_H, 6).alias("mh_est"),
                F.round(
                    F.coalesce(F.col("it"), F.lit(0)).cast("double")
                    / (F.col("na") + F.col("nb") - F.coalesce(F.col("it"), F.lit(0))),
                    9,
                ).alias("jaccard"),
            )
            .localCheckpoint(eager=True)
        )


MHX_EVAL_TAU = 0.5


@query(
    "eval_dedup_pr",
    oracle=f"""
    WITH base AS ({_mhx_oracle()})
    SELECT CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(CASE WHEN mh_est >= {MHX_EVAL_TAU}
                          AND jaccard >= {MHX_EVAL_TAU}
                         THEN 1 ELSE 0 END) AS BIGINT) AS tp,
           CAST(sum(CASE WHEN mh_est >= {MHX_EVAL_TAU}
                          AND jaccard < {MHX_EVAL_TAU}
                         THEN 1 ELSE 0 END) AS BIGINT) AS fp,
           CAST(sum(CASE WHEN mh_est < {MHX_EVAL_TAU}
                          AND jaccard >= {MHX_EVAL_TAU}
                         THEN 1 ELSE 0 END) AS BIGINT) AS fn,
           round(CAST(sum(CASE WHEN mh_est >= {MHX_EVAL_TAU}
                               AND jaccard >= {MHX_EVAL_TAU}
                              THEN 1 ELSE 0 END) AS DOUBLE)
                 / nullif(sum(CASE WHEN mh_est >= {MHX_EVAL_TAU}
                              THEN 1 ELSE 0 END), 0), 9) AS precision_,
           round(CAST(sum(CASE WHEN mh_est >= {MHX_EVAL_TAU}
                               AND jaccard >= {MHX_EVAL_TAU}
                              THEN 1 ELSE 0 END) AS DOUBLE)
                 / nullif(sum(CASE WHEN jaccard >= {MHX_EVAL_TAU}
                              THEN 1 ELSE 0 END), 0), 9) AS recall_
    FROM base
    """,
    tags=("llm", "dedup", "evaluation"),
)
def eval_dedup_pr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-estimator operating point: precision/recall of the MinHash
    decision (estimate ≥ τ={MHX_EVAL_TAU}) against true-Jaccard truth,
    over the LSH candidate universe — eval_ann_recall's sibling for the
    dedup stack, and the measurement that justifies a chosen band/row
    geometry before a 100 TB dedup run commits to it. Counts are exact;
    precision/recall are NULL-guarded divisions of exact integers, so
    the evaluation itself is oracle-checked.

    Plan: one aggregate over dedup_minhash_estimate's (already bounded)
    pair output — the eval costs nothing beyond the estimator."""
    base = dedup_minhash_estimate(spark, sf_dir)
    pred = F.col("mh_est") >= MHX_EVAL_TAU
    truth = F.col("jaccard") >= MHX_EVAL_TAU
    tp = F.sum((pred & truth).cast("long"))
    return base.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        tp.cast("long").alias("tp"),
        F.sum((pred & ~truth).cast("long")).cast("long").alias("fp"),
        F.sum((~pred & truth).cast("long")).cast("long").alias("fn"),
        F.round(
            tp.cast("double") / F.nullif(F.sum(pred.cast("long")), F.lit(0)), 9
        ).alias("precision_"),
        F.round(
            tp.cast("double") / F.nullif(F.sum(truth.cast("long")), F.lit(0)), 9
        ).alias("recall_"),
    )


SWEEP_TAUS = (0.25, 0.375, 0.5, 0.625, 0.75)

_SQL_TAUS = ", ".join(str(t) for t in SWEEP_TAUS)


@query(
    "eval_dedup_threshold_sweep",
    oracle=f"""
    WITH base AS ({_mhx_oracle()}),
    taus AS (SELECT unnest([{_SQL_TAUS}]) AS tau)
    SELECT tau,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(CASE WHEN mh_est >= tau AND jaccard >= tau
                         THEN 1 ELSE 0 END) AS BIGINT) AS tp,
           CAST(sum(CASE WHEN mh_est >= tau AND jaccard < tau
                         THEN 1 ELSE 0 END) AS BIGINT) AS fp,
           CAST(sum(CASE WHEN mh_est < tau AND jaccard >= tau
                         THEN 1 ELSE 0 END) AS BIGINT) AS fn,
           round(CAST(sum(CASE WHEN mh_est >= tau AND jaccard >= tau
                          THEN 1 ELSE 0 END) AS DOUBLE)
                 / nullif(sum(CASE WHEN mh_est >= tau THEN 1 ELSE 0 END),
                          0), 9) AS precision_,
           round(CAST(sum(CASE WHEN mh_est >= tau AND jaccard >= tau
                          THEN 1 ELSE 0 END) AS DOUBLE)
                 / nullif(sum(CASE WHEN jaccard >= tau THEN 1 ELSE 0 END),
                          0), 9) AS recall_
    FROM base CROSS JOIN taus
    GROUP BY tau
    ORDER BY tau
    """,
    tags=("llm", "dedup", "evaluation"),
)
def eval_dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """eval_dedup_pr across the whole operating CURVE: one row per
    decision threshold tau in (0.25, 0.375, 0.5, 0.625, 0.75), each with exact tp/fp/fn and
    NULL-guarded precision/recall of the MinHash decision against
    true-Jaccard truth — the tuning table that picks a band/row geometry
    and threshold BEFORE a 100 TB dedup run commits to one (a single
    operating point, eval_dedup_pr, cannot show where the knee is).
    Thresholds are exact binary fractions (eighths) so the >= compares
    sit on exactly-representable doubles in both engines.

    Plan: the candidate-pair frame (already bounded by LSH banding) is
    expanded 5x map-side by a literal-array explode and
    aggregated per tau — one extra constant-fan-out pass over a small
    frame, no new shuffle of anything corpus-sized."""
    base = dedup_minhash_estimate(spark, sf_dir)
    swept = base.select(
        "mh_est",
        "jaccard",
        F.explode(F.array(*[F.lit(t) for t in SWEEP_TAUS])).alias("tau"),
    )
    pred = F.col("mh_est") >= F.col("tau")
    truth = F.col("jaccard") >= F.col("tau")
    tp = F.sum((pred & truth).cast("long"))
    return (
        swept.groupBy("tau")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            tp.cast("long").alias("tp"),
            F.sum((pred & ~truth).cast("long")).cast("long").alias("fp"),
            F.sum((~pred & truth).cast("long")).cast("long").alias("fn"),
            F.round(
                tp.cast("double")
                / F.nullif(F.sum(pred.cast("long")), F.lit(0)),
                9,
            ).alias("precision_"),
            F.round(
                tp.cast("double")
                / F.nullif(F.sum(truth.cast("long")), F.lit(0)),
                9,
            ).alias("recall_"),
        )
        .orderBy("tau")
    )


# --- URL-canonical dedup -----------------------------------------------
# The documents fixture has no URL column, so a raw URL is DERIVED
# deterministically from (source, doc_id) with the exact messiness a web
# crawl exhibits — mixed-case scheme/host, optional www. prefix, tracking
# query strings, trailing slashes — and both engines derive it with the
# same arithmetic, so the canonicalization under test sees identical
# inputs. Collisions are engineered by the path bucket (doc_id % 40).
_SQL_RAW_URL = """
    (CASE WHEN doc_id % 2 = 0 THEN 'https' ELSE 'HTTPS' END) || '://' ||
    (CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END) ||
    source || '.Example.COM' ||
    '/docs/' || CAST(doc_id % 40 AS VARCHAR) ||
    (CASE WHEN doc_id % 7 = 0 THEN '/' ELSE '' END) ||
    (CASE WHEN doc_id % 5 = 0
          THEN '?utm_source=feed&utm_campaign=sync' ELSE '' END)
"""


def _raw_url() -> Column:
    return F.concat(
        F.when(F.col("doc_id") % 2 == 0, F.lit("https")).otherwise(F.lit("HTTPS")),
        F.lit("://"),
        F.when(F.col("doc_id") % 3 == 0, F.lit("WWW.")).otherwise(F.lit("")),
        F.col("source"),
        F.lit(".Example.COM/docs/"),
        (F.col("doc_id") % 40).cast("string"),
        F.when(F.col("doc_id") % 7 == 0, F.lit("/")).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 5 == 0,
            F.lit("?utm_source=feed&utm_campaign=sync"),
        ).otherwise(F.lit("")),
    )


@query(
    "dedup_url_canonical",
    oracle=f"""
    WITH raw AS (
        SELECT doc_id, {_SQL_RAW_URL} AS raw_url FROM documents
    ),
    canon AS (
        SELECT doc_id, raw_url,
               lower(split_part(split_part(raw_url, '?', 1), '://', 1))
               || '://' ||
               regexp_replace(
                   lower(split_part(split_part(raw_url, '?', 1), '://', 2)),
                   '^www\\.', '')
                   AS canon0
        FROM raw
    ),
    final AS (
        SELECT doc_id, raw_url,
               regexp_replace(canon0, '/$', '') AS canonical_url
        FROM canon
    )
    SELECT canonical_url,
           CAST(count(*) AS BIGINT) AS n_variants,
           CAST(count(DISTINCT raw_url) AS BIGINT) AS n_raw_forms,
           CAST(min(doc_id) AS BIGINT) AS keeper_doc_id
    FROM final
    GROUP BY canonical_url
    ORDER BY n_variants DESC, canonical_url ASC LIMIT 20
    """,
    tags=("llm", "dedup", "url"),
)
def dedup_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-canonicalization dedup — the FIRST dedup pass of every web-crawl
    pipeline (cheaper than any content hash because it reads no content):
    lowercase scheme+host, strip the `www.` prefix, drop the tracking
    query string, strip the trailing slash, then collapse documents whose
    canonical URLs collide, electing the smallest doc_id as keeper. The
    whole host+path is lowercased here because the derived paths are
    lowercase by construction; a general crawler lowercases scheme/host
    only (paths are case-significant) — noted so the simplification is
    explicit. Output: top-20 most-collapsed canonical URLs.

    Plan: canonicalization is pure map-side string expressions (JVM,
    whole-stage codegen — no Python, no UDF); the collapse is ONE hash
    aggregate keyed on the canonical URL string. At 100 TB this is the
    same shape as dedup_exact but with a ~60-byte URL key instead of a
    16-byte md5 — still key-only shuffle, and the top-20 compiles to
    TakeOrderedAndProject."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    raw = d.withColumn("raw_url", _raw_url())
    no_q = F.substring_index(F.col("raw_url"), "?", 1)
    scheme = F.lower(F.substring_index(no_q, "://", 1))
    hostpath = F.regexp_replace(
        F.lower(F.substring_index(no_q, "://", -1)), "^www\\.", ""
    )
    canonical = F.regexp_replace(
        F.concat(scheme, F.lit("://"), hostpath), "/$", ""
    )
    return (
        raw.withColumn("canonical_url", canonical)
        .groupBy("canonical_url")
        .agg(
            F.count(F.lit(1)).alias("n_variants"),
            F.countDistinct("raw_url").alias("n_raw_forms"),
            F.min("doc_id").alias("keeper_doc_id"),
        )
        .orderBy(F.col("n_variants").desc(), F.col("canonical_url").asc())
        .limit(20)
    )


@query(
    "dedup_template_detect",
    oracle="""
    WITH masked AS (
        SELECT doc_id, source,
               md5(regexp_replace(text, '[0-9]+', '#', 'g')) AS template_fp
        FROM documents
    ),
    clusters AS (
        SELECT template_fp,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
               CAST(min(doc_id) AS BIGINT) AS exemplar_doc_id
        FROM masked GROUP BY template_fp
    )
    SELECT template_fp, n_docs, n_sources, exemplar_doc_id
    FROM clusters WHERE n_docs >= 2
    ORDER BY n_docs DESC, template_fp ASC LIMIT 20
    """,
    tags=("llm", "dedup", "template"),
)
def dedup_template_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Template detection — the dedup pass BETWEEN exact and near-dup:
    form letters, log lines, and generated pages differ only in numbers
    (ids, dates, amounts), so masking every digit run to '#' and exact-
    hashing the residue collapses whole template families that MinHash
    would keep apart (their shingle sets differ at every number) and
    dedup_exact would keep apart (bytes differ). Reported: top-20
    template clusters with document counts, source spread (a template
    seen from many sources is boilerplate, from one source a form), and
    the smallest doc id as exemplar.

    Plan: identical to dedup_exact's scale shape — masking is a map-side
    JVM regex, the collapse is ONE hash aggregate on the 16-byte
    template fingerprint, top-20 via TakeOrderedAndProject. Document
    text never crosses an exchange. The same pass generalizes by
    widening the mask (hex runs, uuids, emails) — each widening is one
    more map-side regex, zero extra shuffles."""
    d = load_table(spark, sf_dir, "documents")
    masked = d.select(
        "doc_id",
        "source",
        F.md5(F.regexp_replace(F.col("text"), "[0-9]+", "#")).alias(
            "template_fp"
        ),
    )
    return (
        masked.groupBy("template_fp")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("source").alias("n_sources"),
            F.min("doc_id").alias("exemplar_doc_id"),
        )
        .filter(F.col("n_docs") >= 2)
        .orderBy(F.col("n_docs").desc(), F.col("template_fp").asc())
        .limit(20)
    )


@query(
    "corpus_ngram_novelty",
    oracle=f"""
    WITH sh AS ({_SQL_SHINGLES}),
    first AS (
        SELECT shingle, min(doc_id) AS first_doc
        FROM sh GROUP BY shingle
    )
    SELECT sh.doc_id,
           CAST(count(*) AS BIGINT) AS n_shingles,
           CAST(sum(CASE WHEN f.first_doc = sh.doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_novel,
           round(CAST(sum(CASE WHEN f.first_doc = sh.doc_id
                          THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 9)
               AS novelty_ratio
    FROM sh JOIN first f USING (shingle)
    GROUP BY sh.doc_id
    """,
    tags=("llm", "corpus", "novelty", "dedup"),
)
def corpus_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram novelty — the redundancy-growth curve of a
    corpus in ingestion order: a doc's 3-gram shingle is NOVEL if no
    lower-id document contains it, and novelty_ratio is the fraction of
    the doc's distinct shingles it introduces. Curation uses this the
    way Zipf/Heaps curves are used ([corpus_heaps_curve] measures the
    vocabulary analog): a falling novelty curve says new data is
    repeating the corpus and the token budget is better spent elsewhere;
    per-doc scores feed dedup-adjacent filtering of boilerplate-heavy
    tails.

    Plan: NO corpus-sized join, and only ONE corpus-sized pass. (doc,
    shingle) pairs are distinct by construction (array_distinct inside
    shingle_hashes), which buys two structural savings at once: the
    per-doc denominator is just size(sh) — computed MAP-SIDE on the
    per-doc array with zero shuffle and zero explode — and a doc's novel
    count equals the number of shingles whose corpus-wide min doc_id IS
    this doc, computable by RE-AGGREGATING the shingle→min-doc frame by
    its min doc, never joining flags back onto the corpus. So the only
    aggregate touching exploded 50N rows is the per-shingle min
    (map-side combine, AQE-splittable — NOT a min window, which would
    ship every occurrence of a viral shingle to one unsplittable task;
    see _capped_shingle_docs), whose min-doc re-aggregate is
    distinct-shingle-sized. The final equi-join unites two
    doc-count-sized frames. The join-free shape also wins on SKEW: a
    join-back formulation probes the min-doc frame on the shingle key,
    so one viral shingle fans its whole occurrence list through a single
    join task (AQE skew-split territory) — here a viral shingle is one
    more input row to a min() combiner and never a join key at all.
    Shuffle keys are 8-byte xxhash64 shingle hashes, not ~20-byte
    strings (novelty needs only equality; a cross-shingle collision is
    ~1e-11 at corpus scale)."""
    return _novelty_build(spark, sf_dir)


def _novelty_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The novelty plan, shared by corpus_ngram_novelty and the plan pin
    in tests/test_plans.py. Deliberately NOT persisted (a corpus-sized
    .persist() is memory pressure the plan doesn't need at cluster
    scale). Only the NOVEL branch ever explodes: the per-doc denominator
    is size(sh) — the shingle array is array_distinct by construction,
    so its size IS the distinct-shingle count — computed map-side with
    zero shuffle, where an earlier revision re-derived it by exploding
    the corpus a second time and re-aggregating 50N rows back onto
    doc_id. The size() shape removes one of the two corpus-sized
    aggregation passes outright (per-round wall numbers live in
    BENCH_QUERIES.json)."""
    doc_sh = _doc_shingle_hashes(spark, sf_dir)
    per_doc = doc_sh.select(
        "doc_id", F.size("sh").cast("long").alias("n_shingles")
    )
    novel = (
        doc_sh.select("doc_id", F.explode("sh").alias("shingle"))
        .groupBy("shingle")
        .agg(F.min("doc_id").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_novel"))
    )
    out = per_doc.join(novel, "doc_id", "left").select(
        "doc_id",
        "n_shingles",
        F.coalesce(F.col("n_novel"), F.lit(0)).alias("n_novel"),
        F.round(
            F.coalesce(F.col("n_novel"), F.lit(0)).cast("double")
            / F.col("n_shingles"),
            9,
        ).alias("novelty_ratio"),
    )
    return out


# ---- truncated-copy detection ----

# Bucket granularity for prefix-containment candidates: two docs can be a
# truncation pair only if they agree on their first PREFIX_P characters
# (every fixture doc is >= 48 chars, so the contract "a truncated copy
# retains at least the first PREFIX_P characters" covers the whole
# corpus). A viral shared head (site chrome, license header) makes one
# bucket quadratic, so buckets with > PREFIX_BUCKET_CAP docs are dropped
# from candidate generation — the same df-cap policy as SHINGLE_DF_CAP,
# applied to head fingerprints.
PREFIX_P = 40
PREFIX_BUCKET_CAP = 64


def _prefix_truncation_pairs(docs: DataFrame) -> DataFrame:
    """(doc_id, text) frame → directional truncation pairs: (short, long)
    where short.text is a strict prefix of long.text. Factored off the
    query so the planted-pair unit test drives the same code path."""
    b = docs.select(
        "doc_id",
        "text",
        F.length("text").alias("len"),
        F.md5(F.substring("text", 1, PREFIX_P)).alias("pfx"),
    )
    ok = (
        b.groupBy("pfx")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= PREFIX_BUCKET_CAP)
        .select("pfx")
    )
    k = b.join(ok, "pfx")
    s = k.select(
        "pfx",
        F.col("doc_id").alias("short_doc_id"),
        F.col("text").alias("s_text"),
        F.col("len").alias("short_len"),
    )
    l = k.select(
        "pfx",
        F.col("doc_id").alias("long_doc_id"),
        F.col("text").alias("l_text"),
        F.col("len").alias("long_len"),
    )
    return (
        s.join(l, "pfx")
        .filter(
            (F.col("short_len") < F.col("long_len"))
            & (
                F.col("l_text").substr(F.lit(1), F.col("short_len"))
                == F.col("s_text")
            )
        )
        .select(
            "short_doc_id",
            "long_doc_id",
            F.col("short_len").cast("long").alias("short_len"),
            F.col("long_len").cast("long").alias("long_len"),
            F.round(
                F.col("short_len").cast("double") / F.col("long_len"), 9
            ).alias("retained_frac"),
        )
    )


@query(
    "dedup_prefix_truncation",
    oracle=f"""
    WITH b AS (
        SELECT doc_id, text, length(text) AS len,
               md5(substr(text, 1, {PREFIX_P})) AS pfx
        FROM documents
    ),
    ok AS (
        SELECT pfx FROM b GROUP BY pfx
        HAVING count(*) <= {PREFIX_BUCKET_CAP}
    ),
    k AS (SELECT b.* FROM b JOIN ok USING (pfx))
    SELECT s.doc_id AS short_doc_id,
           l.doc_id AS long_doc_id,
           CAST(s.len AS BIGINT) AS short_len,
           CAST(l.len AS BIGINT) AS long_len,
           round(CAST(s.len AS DOUBLE) / l.len, 9) AS retained_frac
    FROM k s JOIN k l USING (pfx)
    WHERE s.len < l.len
      AND substr(l.text, 1, CAST(s.len AS INT)) = s.text
    """,
    tags=("llm", "dedup", "containment"),
)
def dedup_prefix_truncation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truncated-copy detection — the dup class exact dedup and shingle
    near-dup both miss at the margin: a re-crawl cut off mid-document, a
    snippet/preview row, or a length-capped export is byte-identical to
    its source's HEAD, so its text is a strict prefix of the longer
    doc's. Reported directionally (short ⊂ long) with retained_frac =
    short_len / long_len, the signal curation uses to keep the longer
    variant and drop the fragment (cf. dedup_containment, which measures
    shingle-set containment and so tolerates edits; this is the
    exact-prefix fast path — the fixtures carry 25 natural pairs at
    sf0.01).

    Plan: candidates come from ONE equi-join on the md5 of the first
    40 chars — never text-vs-text across the corpus. The bucket
    df-cap (> 64 docs sharing a head = boilerplate, not
    identity) bounds per-bucket pair work exactly like SHINGLE_DF_CAP
    bounds the shingle joins; the df aggregate and the probe share one
    exchange (ReuseExchange). The strict-prefix verify is a map-side
    substr comparison on the surviving candidates only. Text crosses the
    bucket shuffle once per side; at 100 TB the bucket key is 16 bytes
    and every bucket is ≤ 64 rows by construction."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return _prefix_truncation_pairs(d).orderBy(
        "short_doc_id", "long_doc_id"
    )


# ---- redundancy growth curve ----

N_CURVE_BUCKETS = 10


@query(
    "corpus_redundancy_curve",
    oracle=f"""
    WITH sh AS ({_SQL_SHINGLES}),
    n AS (SELECT min(doc_id) AS mn, max(doc_id) AS mx FROM documents),
    first AS (
        SELECT shingle, min(doc_id) AS first_doc FROM sh GROUP BY shingle
    ),
    flagged AS (
        SELECT least({N_CURVE_BUCKETS - 1},
                     (sh.doc_id - n.mn) * {N_CURVE_BUCKETS}
                       // (n.mx - n.mn + 1)) AS bucket,
               sh.doc_id,
               CASE WHEN f.first_doc = sh.doc_id THEN 1 ELSE 0 END AS novel
        FROM sh JOIN first f USING (shingle) CROSS JOIN n
    ),
    per AS (
        SELECT bucket,
               CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
               CAST(count(*) AS BIGINT) AS n_shingles,
               CAST(sum(novel) AS BIGINT) AS n_novel
        FROM flagged GROUP BY bucket
    )
    SELECT bucket, n_docs, n_shingles, n_novel,
           round(CAST(sum(n_novel) OVER w AS DOUBLE)
                 / sum(n_shingles) OVER w, 9) AS cum_novelty_ratio
    FROM per
    WINDOW w AS (ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING
                 AND CURRENT ROW)
    ORDER BY bucket
    """,
    tags=("llm", "corpus", "novelty", "dedup"),
)
def corpus_redundancy_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus redundancy growth curve — corpus_ngram_novelty's per-doc
    novelty flags re-aggregated into 10 ingestion-order
    buckets with a CUMULATIVE novelty ratio: the curve whose knee answers
    "has this source stopped contributing new content?" (Heaps-law
    saturation at the shingle level; [corpus_heaps_curve] is the
    vocabulary analog). A flat cumulative tail says further ingestion
    re-buys existing shingles and the token budget should move elsewhere.

    Plan: the corpus_ngram_novelty shape — NO corpus-sized join, one
    corpus-sized pass. Novel counts re-aggregate the shingle→min-doc
    frame by the min doc's bucket (distinct (doc, shingle) pairs make
    "novel shingles in bucket b" = "shingles whose corpus-wide min doc
    lands in b"); doc and shingle totals need no explode at all —
    size(sh) per doc is a map-side expression over the distinct shingle
    array, so the totals branch aggregates N doc rows, not 50N exploded
    rows. The min-agg is map-side-combined and AQE-splittable (NOT a
    min window — a viral shingle would pin one task). The bucket id is a map-side integer expression
    from doc_id and the broadcast 1-row id-range frame (min/max
    normalization, NOT count-based: ingestion position is measured over
    the observed id RANGE, so sparse or strided id spaces — e.g. the
    scale probe's disjoint key blocks — still spread across all
    10 buckets); the final
    cumulative window runs over exactly 10 rows. Nothing
    after the combiners grows past O(docs)."""
    # only the novel branch explodes: the per-doc denominator is
    # size(sh) map-side — see _novelty_build for the measured win
    doc_sh = _doc_shingle_hashes(spark, sf_dir)
    n = (
        load_table(spark, sf_dir, "documents")
        .agg(F.min("doc_id").alias("mn"), F.max("doc_id").alias("mx"))
    )
    # integer `div`, not double /+floor: a quotient landing on a bucket
    # boundary must floor identically to DuckDB's exact BIGINT `//`
    bucket = F.least(
        F.lit(N_CURVE_BUCKETS - 1).cast("long"),
        F.expr(
            f"(doc_id - mn) * {N_CURVE_BUCKETS} div (mx - mn + 1)"
        ),
    )
    totals = (
        doc_sh.select("doc_id", F.size("sh").cast("long").alias("n_sh"))
        .crossJoin(F.broadcast(n))
        .groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_sh").alias("n_shingles"),
        )
    )
    novel = (
        doc_sh.select("doc_id", F.explode("sh").alias("shingle"))
        .groupBy("shingle")
        .agg(F.min("doc_id").alias("doc_id"))
        .crossJoin(F.broadcast(n))
        .groupBy(bucket.alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n_novel"))
    )
    per = totals.join(novel, "bucket", "left").select(
        "bucket",
        "n_docs",
        "n_shingles",
        F.coalesce(F.col("n_novel"), F.lit(0)).alias("n_novel"),
    )
    w = (
        Window.orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return per.select(
        "bucket",
        "n_docs",
        "n_shingles",
        "n_novel",
        F.round(
            F.sum("n_novel").over(w).cast("double")
            / F.sum("n_shingles").over(w),
            9,
        ).alias("cum_novelty_ratio"),
    ).orderBy("bucket")


_SPAN_N = 16  # tokens per window — Lee et al. use 50; fixture docs avg ~54


def _substring_window_counts(src: DataFrame) -> DataFrame:
    """(doc_id, text) → collapsed (doc_id, g, c) window-fingerprint
    counts in one Arrow map pass (r13; see dedup_substring_spans).

    Fingerprint parity with the JVM/DuckDB form
    conv(substr(md5(concat_ws(' ', slice(split(text,' '), i, N))),1,15),16,10):
    split on the single-space LITERAL keeps empty tokens, so joining any
    contiguous token run with ' ' reproduces the exact original byte
    span — the md5 input for window i is text_utf8[start(i) : end(i+N-1)]
    taken in place. int(hexdigest[:15], 16) < 2^60 fits int64 and equals
    conv's base-16 parse of the same 15 hex chars. Locked per-string by
    tests/test_round13_opt.py::test_substring_window_fingerprint_parity."""
    import pyarrow as pa

    def _win_counts(batches):
        import hashlib
        from collections import Counter

        for b in batches:
            ids = b.column(0).to_pylist()
            texts = b.column(1).to_pylist()
            out_id, out_g, out_c = [], [], []
            for doc_id, t in zip(ids, texts):
                if t is None:
                    continue
                tb = t.encode("utf-8")
                parts = tb.split(b" ")
                n = len(parts)
                if n < _SPAN_N:
                    continue
                starts = []
                pos = 0
                for p in parts:
                    starts.append(pos)
                    pos += len(p) + 1
                end_of = lambda j: starts[j + 1] - 1 if j + 1 < n else len(tb)  # noqa: E731
                cnt = Counter(
                    int(
                        hashlib.md5(
                            tb[starts[i] : end_of(i + _SPAN_N - 1)]
                        ).hexdigest()[:15],
                        16,
                    )
                    for i in range(n - _SPAN_N + 1)
                )
                for g, c in cnt.items():
                    out_id.append(doc_id)
                    out_g.append(g)
                    out_c.append(c)
            yield pa.record_batch(
                [
                    pa.array(out_id, pa.int64()),
                    pa.array(out_g, pa.int64()),
                    pa.array(out_c, pa.int64()),
                ],
                names=["doc_id", "g", "c"],
            )

    return src.mapInArrow(_win_counts, "doc_id long, g long, c long")


@query(
    "dedup_substring_spans",
    oracle=f"""
    WITH tok AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
    win AS (
        SELECT doc_id,
               unnest([CAST(concat('0x',
                           substr(md5(array_to_string(
                               l[i:i+{_SPAN_N - 1}], ' ')), 1, 15)) AS BIGINT)
                       for i in generate_series(
                           1, greatest(len(l) - {_SPAN_N - 1}, 0))]) AS g
        FROM tok),
    wd AS (SELECT doc_id, g, CAST(count(*) AS BIGINT) AS c
           FROM win GROUP BY doc_id, g),
    df AS (SELECT g, count(*) AS nd FROM wd GROUP BY g),
    per AS (
        SELECT doc_id,
               CAST(sum(c) AS BIGINT) AS n_windows,
               CAST(sum(CASE WHEN nd >= 2 THEN c ELSE 0 END) AS BIGINT)
                   AS n_dup_windows
        FROM wd JOIN df USING (g) GROUP BY doc_id)
    SELECT d.doc_id,
           CAST(coalesce(per.n_windows, 0) AS BIGINT) AS n_windows,
           CAST(coalesce(per.n_dup_windows, 0) AS BIGINT) AS n_dup_windows,
           CASE WHEN coalesce(per.n_windows, 0) = 0 THEN 0.0
                ELSE round(CAST(per.n_dup_windows AS DOUBLE)
                           / per.n_windows, 9) END AS dup_window_ratio
    FROM documents d LEFT JOIN per USING (doc_id)
    """,
    tags=("llm", "dedup", "substring", "exact-span"),
)
def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT-SUBSTRING dedup measurement (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better"): every {_SPAN_N}-token
    sliding window is fingerprinted, and a window whose fingerprint
    occurs in >= 2 distinct documents is a duplicated span — the
    passage-level redundancy that document-level MinHash misses (two
    long documents sharing one boilerplate paragraph are NOT near-dups,
    but the paragraph still leaks into training data twice). Output per
    document: window count, duplicated-window count, and the ratio the
    span-removal pass would cut.

    The suffix-array of the original paper is inherently single-machine;
    the Spark-native equivalent is this rolling-window fingerprint
    join — the standard distributed reformulation (windows shuffle as
    60-bit integers, never text). Cross-engine exactness: the
    fingerprint is the SAME md5-prefix hash on both sides, so even a
    collision (~2^-60 per pair) produces identical counts.

    r13 optimization (guide §4.2, the entropy pattern): the window
    fingerprints are computed in ONE mapInArrow pass that emits the
    collapsed (doc_id, g, c) pairs directly — each document is a single
    row, so the within-doc window Counter needs no shuffle at all. The
    Python pass exploits that ' '.join(toks[i:i+{_SPAN_N}]) over
    single-space-split tokens IS a contiguous byte slice of the original
    UTF-8 text: it md5s window byte-ranges in place (no per-window
    string building; hashlib is C-speed). This replaces the r11 JVM
    kernel (transform → md5(concat_ws(slice)) per window → explode →
    (doc_id, g) aggregate), whose HOF machinery ran interpreted per
    element and whose explode shuffled the FULL window stream; measured
    at sf0.1: 2.9 s → 0.7 s, 10x probe 21 s → 3.4 s, hash-identical.
    (The r11 A/B against a hash-each-token-once JVM variant predates
    this — both its arms are JVM HOF shapes this pass replaces.)

    Gram frequency nd is a COUNT window over partitionBy(g) instead of
    the groupBy(g)+self-join of r11 — same value (wd is distinct per
    (doc_id, g)), but one exchange of the collapsed pairs and no
    double-execution of the fingerprint pass (the old join's two
    branches only shared work through exchange reuse; the Arrow map
    output is not an exchange, so a self-join here would run the Python
    pass twice).

    Plan at 100 TB: text crosses the JVM→Python boundary once
    (CPU-local), fingerprints collapse to distinct (doc_id, g) map-side,
    and the only corpus-sized shuffles carry 8-byte collapsed pairs:
    Exchange(g) for the frequency window + Exchange(doc_id) for the
    per-doc rollup — the intrinsic cost of cross-document matching. The
    left join back to documents keeps zero-window short docs in the
    report."""
    d = load_table(spark, sf_dir, "documents")
    wd = _substring_window_counts(spread(d.select("doc_id", "text")))
    wd_nd = wd.withColumn(
        "nd", F.count(F.lit(1)).over(Window.partitionBy("g"))
    )
    per = wd_nd.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n_windows"),
        F.sum(F.when(F.col("nd") >= 2, F.col("c")).otherwise(0))
        .cast("long")
        .alias("n_dup_windows"),
    )
    return d.select("doc_id").join(per, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_windows", F.lit(0)).cast("long").alias("n_windows"),
        F.coalesce("n_dup_windows", F.lit(0))
        .cast("long")
        .alias("n_dup_windows"),
        F.when(F.coalesce("n_windows", F.lit(0)) == 0, F.lit(0.0))
        .otherwise(
            F.round(
                F.col("n_dup_windows").cast("double") / F.col("n_windows"), 9
            )
        )
        .alias("dup_window_ratio"),
    )


@query(
    "corpus_dedup_scaling_curve",
    oracle="""
    WITH doc AS (
      SELECT md5(text) AS fp,
             CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                  AS BIGINT) % 100 AS h
      FROM documents),
    fpmin AS (SELECT fp, min(h) AS mh FROM doc GROUP BY fp),
    th AS (SELECT * FROM (VALUES (25), (50), (75), (100)) v(pct)),
    d1 AS (SELECT pct, CAST(count(*) AS BIGINT) AS n_docs
           FROM doc CROSS JOIN th WHERE h < pct GROUP BY pct),
    d2 AS (SELECT pct, CAST(count(*) AS BIGINT) AS n_distinct
           FROM fpmin CROSS JOIN th WHERE mh < pct GROUP BY pct)
    SELECT CAST(pct AS BIGINT) AS pct, n_docs, n_distinct,
           CAST((n_docs - n_distinct) * 1000000 // n_docs AS BIGINT)
               AS dup_ppm
    FROM d1 JOIN d2 USING (pct) ORDER BY pct
    """,
    tags=("llm", "corpus", "dedup", "scaling-law"),
)
def corpus_dedup_scaling_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-rate scaling curve: exact-dup fraction measured on
    nested deterministic 25/50/75/100% corpus samples — the measurement
    behind "dedup rate grows with corpus size" scaling-law plots
    (Hernandez et al. 2022's data-repetition analysis does exactly this
    sweep): because duplicate PAIRS grow quadratically while docs grow
    linearly, a sub-sampled corpus understates the dedup win, and this
    curve quantifies by how much, per sample fraction.

    The trick that makes it ONE pass instead of four: nested samples
    are doc_id-md5 buckets (h in 0..99; sample f keeps h < f), and a
    fingerprint is PRESENT in sample f iff its MINIMUM bucket over
    member docs is < f — so distinct-fingerprint counts at every
    fraction come from the same fp -> min(h) aggregate, and doc counts
    from the same per-doc bucket column. No re-scan, no per-fraction
    shuffle of the corpus: one fingerprint aggregate (16-byte keys),
    then two 4-row conditional rollups via a broadcast 4-row threshold
    frame. dup_ppm uses integer div on both engines (positive, so
    Spark's trunc == DuckDB's floor).

    At 100 TB this is the cheap pre-flight before a dedup campaign:
    the same scan the pipeline already pays for fingerprinting, plus
    O(distinct fingerprints) keyed state."""
    d = load_table(spark, sf_dir, "documents")
    doc = d.select(
        F.md5("text").alias("fp"),
        (
            F.conv(
                F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8),
                16,
                10,
            ).cast("long")
            % 100
        ).alias("h"),
    )
    fpmin = doc.groupBy("fp").agg(F.min("h").alias("mh"))
    th = spark.createDataFrame([(25,), (50,), (75,), (100,)], "pct int")
    d1 = (
        doc.crossJoin(F.broadcast(th))
        .filter(F.col("h") < F.col("pct"))
        .groupBy("pct")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )
    d2 = (
        fpmin.crossJoin(F.broadcast(th))
        .filter(F.col("mh") < F.col("pct"))
        .groupBy("pct")
        .agg(F.count(F.lit(1)).cast("long").alias("n_distinct"))
    )
    return (
        d1.join(d2, "pct")
        .select(
            F.col("pct").cast("long").alias("pct"),
            "n_docs",
            "n_distinct",
            F.expr("((n_docs - n_distinct) * 1000000) div n_docs")
            .cast("long")
            .alias("dup_ppm"),
        )
        .orderBy("pct")
    )


@query(
    "dedup_cdc_chunks",
    oracle="""
    WITH base AS (
      SELECT doc_id,
             list_filter(string_split(text, ' '), x -> x <> '') AS toks
      FROM documents),
    tok AS (
      SELECT doc_id,
             generate_subscripts(toks, 1) AS pos,
             unnest(toks) AS t
      FROM base),
    flagged AS (
      SELECT doc_id, pos, t,
             CASE WHEN CAST(concat('0x', substr(md5(t), 1, 8)) AS BIGINT)
                       % 8 = 0
                  THEN 1 ELSE 0 END AS f
      FROM tok),
    chunked AS (
      SELECT doc_id, pos, t,
             sum(f) OVER (PARTITION BY doc_id ORDER BY pos
                          ROWS UNBOUNDED PRECEDING) - f AS cid
      FROM flagged),
    chunks AS (
      SELECT doc_id, cid,
             md5(string_agg(t, ' ' ORDER BY pos)) AS ch,
             CAST(count(*) AS BIGINT) AS n_tok
      FROM chunked GROUP BY doc_id, cid),
    bych AS (
      SELECT ch,
             CAST(count(*) AS BIGINT) AS cnt,
             CAST(sum(n_tok) AS BIGINT) AS tok_c
      FROM chunks GROUP BY ch)
    SELECT CAST(sum(cnt) AS BIGINT) AS n_chunks,
           CAST(count(*) AS BIGINT) AS n_distinct,
           CAST(sum(tok_c) AS BIGINT) AS n_tokens,
           CAST((sum(cnt) - count(*)) * 1000000 // sum(cnt) AS BIGINT)
               AS dup_ppm,
           CAST(max(cnt) AS BIGINT) AS max_chunk_copies
    FROM bych
    """,
    tags=("llm", "dedup", "cdc", "chunking"),
)
def dedup_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking dedup (the FastCDC/LBFS idea, token
    granularity): a chunk boundary falls AFTER any token whose hash
    bucket ≡ 0 (mod 8) — a property of the CONTENT, not the position —
    so a shared passage chunks identically in every document that
    contains it, no matter what offset it starts at. That is the whole
    point over fixed-size chunking, where a one-token insertion
    misaligns every later chunk. Chunks are hashed and counted
    corpus-wide; the output is the storage-style dedup report: chunk
    count, distinct chunks, token mass, dup ppm, and the hottest
    chunk's copy count.

    Spark shape: posexplode → boundary flag (md5 bucket, all JVM) →
    chunk id as a per-doc running sum minus the flag (the boundary
    token CLOSES its chunk, cut-after semantics) → per-chunk md5 over
    the pos-ordered token join. TWO real exchanges at any scale: the
    doc_id window shuffle (which the (doc_id, cid) aggregate reuses —
    doc_id partitioning already clusters it, no second shuffle), and
    the 16-byte chunk-hash rollup. The oracle derives the same chunks
    via generate_subscripts + the same running sum.

    vs dedup_substring_spans: spans find EVERY duplicated 8-gram
    (complete, quadratic-prone); CDC finds duplicated content at chunk
    granularity in strictly linear work — the recall/cost trade a
    100 TB pipeline tunes with the boundary modulus."""
    d = load_table(spark, sf_dir, "documents")
    base = d.select(
        "doc_id",
        F.filter(F.split("text", " "), lambda x: x != "").alias("toks"),
    )
    tok = base.select("doc_id", F.posexplode("toks").alias("pos", "t"))
    flagged = tok.select(
        "doc_id",
        "pos",
        "t",
        F.when(
            F.conv(F.substring(F.md5("t"), 1, 8), 16, 10).cast("long") % 8
            == 0,
            1,
        )
        .otherwise(0)
        .alias("f"),
    )
    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    chunked = flagged.select(
        "doc_id", "pos", "t", (F.sum("f").over(w) - F.col("f")).alias("cid")
    )
    chunks = chunked.groupBy("doc_id", "cid").agg(
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "t"))),
                    lambda x: x["t"],
                ),
                " ",
            )
        ).alias("ch"),
        F.count(F.lit(1)).cast("long").alias("n_tok"),
    )
    bych = chunks.groupBy("ch").agg(
        F.count(F.lit(1)).cast("long").alias("cnt"),
        F.sum("n_tok").cast("long").alias("tok_c"),
    )
    return bych.agg(
        F.sum("cnt").cast("long").alias("n_chunks"),
        F.count(F.lit(1)).cast("long").alias("n_distinct"),
        F.sum("tok_c").cast("long").alias("n_tokens"),
        F.expr(
            "((sum(cnt) - count(1)) * 1000000) div sum(cnt)"
        )
        .cast("long")
        .alias("dup_ppm"),
        F.max("cnt").cast("long").alias("max_chunk_copies"),
    )
