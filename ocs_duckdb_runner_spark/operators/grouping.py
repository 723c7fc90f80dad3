"""Extended aggregation surface: DISTINCT aggregates, HAVING,
ROLLUP / CUBE / GROUPING SETS, pivot, and approximate sketches.

All hierarchical-total operators are single declarative plans: Spark
expands rollup/cube into an Expand node feeding ONE hash aggregate, so the
fact table is scanned once regardless of how many grouping levels are
requested — the property that matters at 100 TB (versus N scans + union).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ocs_duckdb_runner_spark.exactness import fx_sum, sql_fx_sum
from ocs_duckdb_runner_spark.registry import load_table, query
from ocs_duckdb_runner_spark.session import scoped_cache


@query(
    "agg_distinct",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders,
           CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts,
           CAST(count(*) AS BIGINT) AS n_rows
    FROM lineitem GROUP BY l_returnflag, l_linestatus
    """,
    tags=("agg",),
)
def agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-key GROUP BY with two COUNT(DISTINCT)s — Spark plans this as
    an Expand + two-phase aggregate (distinct keys partially deduped
    map-side before the shuffle)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.countDistinct("l_orderkey").alias("n_orders"),
        F.countDistinct("l_partkey").alias("n_parts"),
        F.count(F.lit(1)).alias("n_rows"),
    )


@query(
    "agg_having",
    oracle=f"""
    SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders,
           {sql_fx_sum('o_totalprice')} AS sum_price_c
    FROM orders GROUP BY o_custkey
    HAVING count(*) >= 3 AND {sql_fx_sum('o_totalprice')} > 30000000
    """,
    tags=("agg",),
)
def agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-aggregation filter (HAVING) — in DataFrame algebra just a
    filter above the aggregate; Catalyst keeps it above the final agg."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            fx_sum("o_totalprice").alias("sum_price_c"),
        )
        .filter((F.col("n_orders") >= 3) & (F.col("sum_price_c") > 30000000))
    )


@query(
    "agg_rollup",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(count(*) AS BIGINT) AS n_rows, sum(l_quantity) AS sum_qty
    FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    tags=("agg", "rollup"),
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP — hierarchical subtotals (flag×status, flag, grand total) in
    one pass via the Expand operator."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n_rows"), F.sum("l_quantity").alias("sum_qty")
    )


@query(
    "agg_cube",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(count(*) AS BIGINT) AS n_rows, sum(l_quantity) AS sum_qty
    FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
    tags=("agg", "cube"),
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE — all 2^k grouping combinations in one Expand+aggregate pass."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n_rows"), F.sum("l_quantity").alias("sum_qty")
    )


@query(
    "agg_grouping_sets",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(count(*) AS BIGINT) AS n_rows, sum(l_quantity) AS sum_qty
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """,
    tags=("agg", "grouping-sets"),
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS via Spark SQL (the DataFrame API exposes only
    rollup/cube; arbitrary sets are SQL-level — same Expand plan)."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("gs_lineitem")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               count(*) AS n_rows, sum(l_quantity) AS sum_qty
        FROM gs_lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """
    )


@query(
    "agg_pivot",
    oracle="""
    SELECT l_returnflag,
           CAST(sum(CAST(round(l_discount * 100) AS BIGINT))
                  FILTER (WHERE l_linestatus = 'O') AS DOUBLE)
             / count(l_discount) FILTER (WHERE l_linestatus = 'O')
             / CAST(100 AS DOUBLE) AS disc_O,
           CAST(sum(CAST(round(l_discount * 100) AS BIGINT))
                  FILTER (WHERE l_linestatus = 'F') AS DOUBLE)
             / count(l_discount) FILTER (WHERE l_linestatus = 'F')
             / CAST(100 AS DOUBLE) AS disc_F,
           CAST(count(*) FILTER (WHERE l_linestatus = 'O') AS BIGINT) AS n_O,
           CAST(count(*) FILTER (WHERE l_linestatus = 'F') AS BIGINT) AS n_F
    FROM lineitem GROUP BY l_returnflag
    """,
    tags=("agg", "pivot"),
)
def agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (wide aggregation) — expressed as conditional aggregates so
    the oracle (FILTER clauses) matches column-for-column; one pass, no
    per-pivot-value scans."""
    li = load_table(spark, sf_dir, "lineitem")
    is_o = F.col("l_linestatus") == "O"
    is_f = F.col("l_linestatus") == "F"

    def fx_avg_where(cond, digits=2):
        cents = F.when(cond, F.round(F.col("l_discount") * 10**digits).cast("long"))
        return (
            F.sum(cents).cast("double")
            / F.count(F.when(cond, F.col("l_discount")))
            / F.lit(float(10**digits))
        )

    return li.groupBy("l_returnflag").agg(
        fx_avg_where(is_o).alias("disc_O"),
        fx_avg_where(is_f).alias("disc_F"),
        F.count(F.when(is_o, 1)).alias("n_O"),
        F.count(F.when(is_f, 1)).alias("n_F"),
    )


@query(
    "agg_stats",
    oracle="""
    SELECT l_returnflag,
           round(stddev_samp(l_quantity), 4) AS sd_qty,
           round(var_samp(l_quantity), 4) AS var_qty,
           round(corr(l_quantity, l_extendedprice), 4) AS corr_qty_price,
           median(l_quantity) AS med_qty
    FROM lineitem GROUP BY l_returnflag
    """,
    tags=("agg", "stats"),
)
def agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates: stddev/variance/correlation (rounded — the
    one place cross-engine float order is absorbed by rounding, values are
    O(10) so 4 digits is far above the ulp noise) and exact median
    (l_quantity is integral so both engines interpolate identically)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.stddev_samp("l_quantity"), 4).alias("sd_qty"),
        F.round(F.var_samp("l_quantity"), 4).alias("var_qty"),
        F.round(F.corr("l_quantity", "l_extendedprice"), 4).alias("corr_qty_price"),
        F.median("l_quantity").alias("med_qty"),
    )


@query("agg_approx_distinct", oracle=None, tags=("agg", "approx"))
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ approximate count-distinct + approximate quantiles —
    sketch values are engine-specific, so no oracle (driver rows-only
    check); accuracy is asserted in unit tests instead. These sketches are
    THE scale story for cardinality/quantile estimation: fixed-size state,
    mergeable across partitions, no shuffle of raw values."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_orderkey").alias("approx_orders"),
        F.approx_count_distinct("l_partkey").alias("approx_parts"),
        F.percentile_approx("l_extendedprice", 0.5).alias("approx_median_price"),
        F.percentile_approx("l_extendedprice", 0.95).alias("approx_p95_price"),
    )


@query(
    "agg_approx_top_k",
    oracle="""
    SELECT o_orderpriority AS item, CAST(count(*) AS BIGINT) AS cnt
    FROM orders GROUP BY o_orderpriority
    """,
    tags=("agg", "approx", "sketch"),
)
def agg_approx_top_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4.1 approx_top_k heavy-hitters sketch, exploded to
    (item, cnt) rows. Unlike the HLL queries this one DOES carry a full
    value oracle: the sketch tracks up to maxItemsTracked items exactly
    and only approximates past that capacity, so with k (8) and capacity
    (default 10k) both above the column's NDV (5 priorities) the sketch
    IS the exact group-count — the oracle proves it, no rows-only
    exemption needed. The scale story is the sketch's shape: fixed-size
    state, mergeable map-side across partitions, one row of state per
    partition crossing the exchange instead of a per-value shuffle —
    the frequent-items analogue of approx_count_distinct."""
    li = load_table(spark, sf_dir, "orders")
    return (
        li.agg(F.expr("approx_top_k(o_orderpriority, 8)").alias("tk"))
        .select(F.explode("tk").alias("e"))
        .select(
            F.col("e.item").alias("item"),
            F.col("e.count").cast("long").alias("cnt"),
        )
    )


@query(
    "agg_listagg",
    oracle="""
    WITH top5 AS (
      SELECT lang, doc_id
      FROM (SELECT lang, doc_id,
                   row_number() OVER (PARTITION BY lang ORDER BY doc_id)
                     AS rn
            FROM documents) r
      WHERE rn <= 5)
    SELECT lang,
           string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id)
             AS manifest,
           CAST(count(*) AS BIGINT) AS n_listed
    FROM top5
    GROUP BY lang
    """,
    tags=("grouping", "spark4"),
)
def agg_listagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 ``listagg(...) WITHIN GROUP (ORDER BY ...)`` — the ordered
    string-concatenation aggregate (ANSI listagg / Postgres string_agg),
    here building a deterministic per-language manifest of the 5 lowest
    doc_ids: the few-shot-prompt-assembly shape (concatenate k chosen
    snippets per group, in a defined order).

    Scale discipline: a corpus-scale listagg whose group carries millions
    of elements materializes an unbounded string on one reducer — so the
    input is top-k-per-group bounded FIRST (rn <= 5, planned as
    WindowGroupLimit: each partition forwards at most 5 rows per lang
    before the exchange), making every aggregated string ≤ 5 ids however
    large the corpus. The WITHIN GROUP ordering makes the result
    deterministic, which is what lets it carry a value oracle at all
    (an unordered listagg is rows-only by construction)."""
    d = load_table(spark, sf_dir, "documents")
    d.createOrReplaceTempView("agg_la_docs")
    return spark.sql(
        """
        WITH top5 AS (
          SELECT lang, doc_id
          FROM (SELECT lang, doc_id,
                       row_number() OVER (PARTITION BY lang ORDER BY doc_id)
                         AS rn
                FROM agg_la_docs) r
          WHERE rn <= 5)
        SELECT lang,
               listagg(CAST(doc_id AS STRING), ',')
                 WITHIN GROUP (ORDER BY doc_id) AS manifest,
               CAST(count(*) AS BIGINT) AS n_listed
        FROM top5
        GROUP BY lang
        """
    )


@query(
    "agg_argmax",
    oracle="""
    WITH m AS (
      SELECT o_orderstatus,
             max(struct_pack(p := o_totalprice, k := o_orderkey)) AS hi,
             min(struct_pack(p := o_totalprice, k := o_orderkey)) AS lo
      FROM orders GROUP BY o_orderstatus)
    SELECT o_orderstatus,
           hi.p AS max_price, CAST(hi.k AS BIGINT) AS argmax_orderkey,
           lo.p AS min_price, CAST(lo.k AS BIGINT) AS argmin_orderkey
    FROM m
    """,
    tags=("agg", "argmax"),
)
def agg_argmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Argmax/argmin per group (which order carries the extreme price) via
    lexicographic struct min/max — ONE aggregate, no join-back, and
    deterministic under value ties (the orderkey inside the struct is the
    tie-break), which bare max_by/arg_max does not guarantee. The
    struct-extremum trick merges map-side like any min/max — at 100 TB it
    beats the window-rank formulation (no sort, no full-row shuffle)."""
    o = load_table(spark, sf_dir, "orders")
    s = F.struct(F.col("o_totalprice").alias("p"), F.col("o_orderkey").alias("k"))
    agg = o.groupBy("o_orderstatus").agg(
        F.max(s).alias("hi"), F.min(s).alias("lo")
    )
    return agg.select(
        "o_orderstatus",
        F.col("hi.p").alias("max_price"),
        F.col("hi.k").alias("argmax_orderkey"),
        F.col("lo.p").alias("min_price"),
        F.col("lo.k").alias("argmin_orderkey"),
    )


@query(
    "agg_conditional",
    oracle="""
    SELECT o_orderstatus,
           CAST(count_if(o_totalprice > 150000) AS BIGINT) AS n_big,
           CAST(count_if(o_orderpriority = '1-URGENT') AS BIGINT) AS n_urgent,
           bool_and(o_totalprice > 0) AS all_positive,
           bool_or(o_totalprice > 400000) AS any_huge,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                FILTER (WHERE o_orderpriority = '1-URGENT') AS BIGINT)
             AS urgent_price_c
    FROM orders
    GROUP BY o_orderstatus
    """,
    tags=("agg", "conditional"),
)
def agg_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional/boolean aggregates: count_if, bool_and/bool_or (ANY/ALL
    semantics), and a FILTERed fixed-point sum — the one-pass multi-metric
    pattern (N conditional metrics = one scan, not N queries). All merge
    map-side like plain counts."""
    o = load_table(spark, sf_dir, "orders")
    urgent = F.col("o_orderpriority") == "1-URGENT"
    price_c = F.round(F.col("o_totalprice") * 100).cast("long")
    return o.groupBy("o_orderstatus").agg(
        F.count_if(F.col("o_totalprice") > 150000).alias("n_big"),
        F.count_if(urgent).alias("n_urgent"),
        F.bool_and(F.col("o_totalprice") > 0).alias("all_positive"),
        F.bool_or(F.col("o_totalprice") > 400000).alias("any_huge"),
        F.sum(F.when(urgent, price_c)).alias("urgent_price_c"),
    )


HIST_WIDTH = 50_000.0
HIST_BUCKETS = 10


@query(
    "agg_histogram",
    oracle=f"""
    WITH b AS (
      SELECT CAST(least(floor(o_totalprice / {HIST_WIDTH}),
                        {HIST_BUCKETS - 1}) AS INTEGER) AS bucket
      FROM orders)
    SELECT bucket,
           bucket * {HIST_WIDTH} AS lo,
           (bucket + 1) * {HIST_WIDTH} AS hi,
           CAST(count(*) AS BIGINT) AS n
    FROM b GROUP BY bucket
    """,
    tags=("agg", "histogram"),
)
def agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width value histogram (10 × 50k price buckets, top bucket
    open-ended) — the profiling primitive behind data-quality dashboards
    and equi-width binning for feature discretization. Explicit floor
    arithmetic rather than width_bucket so both engines bin identically;
    one partial+final aggregate, shuffle carries ≤ bucket-count rows per
    partition."""
    o = load_table(spark, sf_dir, "orders")
    bucket = F.least(
        F.floor(F.col("o_totalprice") / HIST_WIDTH), F.lit(HIST_BUCKETS - 1)
    ).cast("int")
    return (
        o.select(bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "bucket",
            (F.col("bucket") * HIST_WIDTH).alias("lo"),
            ((F.col("bucket") + 1) * HIST_WIDTH).alias("hi"),
            "n",
        )
    )


@query("agg_bloom_filter", oracle=None, tags=("agg", "sketch", "bloom"))
def agg_bloom_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom filter built from first principles with built-in expressions —
    the pre-join existence sketch that lets a 100 TB fact scan drop
    non-matching rows BEFORE the shuffle. Build: each member key sets k=3
    bit positions (xxhash64 mod M); the filter is a (word, bits) table of
    64-bit words produced by a bit_or aggregate — fixed M/64 rows,
    mergeable, order-independent. Probe: each candidate key joins its 3
    words against the (broadcast) bitmap and passes only if all bits are
    set. Bits depend on the engine hash, so rows-only here; the
    no-false-negative / low-false-positive contract is unit-tested
    (tests/test_sampling_analytics.py)."""
    M = 1 << 20  # 1M bits -> 16k words; ~0.1% fp at 50k members, k=3
    K = 3
    o = load_table(spark, sf_dir, "orders")

    def positions(key: Column) -> Column:
        return F.array(
            *[F.pmod(F.xxhash64(F.lit(i), key), F.lit(M)) for i in range(K)]
        )

    members = o.filter(F.col("o_orderstatus") == "O").select(
        F.explode(positions(F.col("o_orderkey"))).alias("pos")
    )
    bitmap = (
        members.select(
            (F.col("pos") / 64).cast("long").alias("word"),
            F.expr("shiftleft(1L, CAST(pos % 64 AS INT))").alias("bit"),
        )
        .groupBy("word")
        .agg(F.bit_or("bit").alias("bits"))
    )
    probes = o.select(
        "o_orderkey",
        (F.col("o_orderstatus") == "O").alias("actually_present"),
        F.posexplode(positions(F.col("o_orderkey"))).alias("i", "pos"),
    ).select(
        "o_orderkey",
        "actually_present",
        (F.col("pos") / 64).cast("long").alias("word"),
        F.expr("shiftleft(1L, CAST(pos % 64 AS INT))").alias("bit"),
    )
    checked = probes.join(F.broadcast(bitmap), "word", "left").select(
        "o_orderkey",
        "actually_present",
        (F.coalesce(F.col("bits"), F.lit(0)).bitwiseAND(F.col("bit")) != 0).alias(
            "hit"
        ),
    )
    verdict = checked.groupBy("o_orderkey", "actually_present").agg(
        F.bool_and("hit").alias("bloom_says")
    )
    return verdict.groupBy("actually_present", "bloom_says").agg(
        F.count(F.lit(1)).alias("n")
    )


@query(
    "agg_grouping_funcs",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(GROUPING(l_returnflag) AS INTEGER) AS g_flag,
           CAST(GROUPING(l_linestatus) AS INTEGER) AS g_status,
           CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus)
                AS BIGINT) AS gid,
           CAST(count(*) AS BIGINT) AS n
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    tags=("agg", "rollup", "grouping"),
)
def agg_grouping_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """grouping() / grouping_id() over a ROLLUP — the functions that make
    hierarchical results machine-readable: they distinguish a NULL that
    came from the DATA from a NULL that marks a subtotal row, which no
    amount of inspecting the key columns can do. gid doubles as the
    level selector when a downstream consumer wants exactly one rollup
    level from the single-pass result."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.grouping("l_returnflag").cast("int").alias("g_flag"),
            F.grouping("l_linestatus").cast("int").alias("g_status"),
            F.grouping_id().alias("gid"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            "l_returnflag", "l_linestatus", "g_flag", "g_status", "gid", "n"
        )
    )


@query(
    "agg_mode",
    oracle="""
    WITH c AS (
      SELECT l_returnflag, o_orderpriority AS prio,
             CAST(count(*) AS BIGINT) AS n
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      GROUP BY 1, 2),
    rk AS (
      SELECT l_returnflag, prio, n,
             row_number() OVER (PARTITION BY l_returnflag
                                ORDER BY n DESC, prio) AS r
      FROM c)
    SELECT l_returnflag, prio AS mode_priority, n AS mode_n
    FROM rk WHERE r = 1
    """,
    tags=("agg", "mode"),
)
def agg_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic MODE per group: the most frequent order priority per
    return flag, ties broken lexicographically — built as count + window
    rank rather than an engine mode() aggregate, because engines disagree
    on mode's tie semantics (DuckDB picks first-seen, Spark's mode() is
    non-deterministic under ties); the count+rank form is deterministic on
    any engine and any partitioning.

    Plan: join is dim-broadcast-or-AQE; the candidate count is a two-level
    hash aggregate on the tiny (flag, priority) key space; the rank-1 cut
    compiles to WindowGroupLimit — per-map-task 1-row heaps."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    c = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_returnflag", F.col("o_orderpriority").alias("prio"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("l_returnflag").orderBy(F.col("n").desc(), "prio")
    return (
        c.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") == 1)
        .select(
            "l_returnflag",
            F.col("prio").alias("mode_priority"),
            F.col("n").alias("mode_n"),
        )
    )


@query(
    "agg_weighted_median",
    oracle="""
    WITH w AS (
      SELECT l_returnflag,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS price_c,
             CAST(round(l_quantity) AS BIGINT) AS wt
      FROM lineitem),
    cum AS (
      SELECT l_returnflag, price_c, wt,
             sum(wt) OVER (PARTITION BY l_returnflag
                           ORDER BY price_c, wt
                           ROWS UNBOUNDED PRECEDING) AS cw,
             sum(wt) OVER (PARTITION BY l_returnflag) AS tw
      FROM w)
    SELECT l_returnflag, min(price_c) AS wmedian_price_c
    FROM cum WHERE 2 * cw >= tw
    GROUP BY l_returnflag
    """,
    tags=("agg", "median", "weighted"),
)
def agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT weighted median per group (price weighted by quantity): the
    smallest value whose cumulative weight reaches half the total — the
    robust-statistics aggregate no engine ships exactly. Values are
    integer cents and weights integer units, so the boundary condition
    2*cum >= total is pure integer arithmetic — no float comparison can
    flip the chosen element between engines.

    Plan — histogram drill-down, NOT a per-group window cumsum. The naive
    form (cumulative-weight window over every row) puts each group's
    entire row set on ONE task; at 100 TB a group is billions of rows and
    that task never finishes. Instead:

      1. ONE hash aggregate over the fact table onto (group, coarse
         bucket = price_c >> 14) — map-side partial combine, bounded
         output (#groups x ~700 buckets), key-only shuffle.
      2. Window cumsum over that TINY frame to find, per group, the
         bucket where cumulative weight crosses half the total, plus the
         cumulative weight strictly before it.
      3. A second scan drills into ONLY the crossing bucket (broadcast
         3-row join gates it map-side), hash-aggregates (group, price_c)
         within it, and a window over that small slice finds the exact
         crossing price: min price_c with 2*(before + cum_in_bucket) >=
         total.

    Equivalence to the row-level definition: cumulative weight through a
    price equals `before + in-bucket cum through that price`, and the
    crossing price provably lies in the crossing bucket (cum < total/2
    at the end of every earlier bucket). Within-price tie order is
    irrelevant because equal prices aggregate before the window. Both
    windows touch O(#buckets) / O(bucket slice) rows — every full-data
    pass is a partial-aggregated hash agg that scales linearly."""
    _SHIFT = 14  # 163.84-dollar coarse buckets; price_c <= ~11M -> ~700
    li = load_table(spark, sf_dir, "lineitem")
    w = li.select(
        "l_returnflag",
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("price_c"),
        F.round(F.col("l_quantity")).cast("long").alias("wt"),
    )
    coarse = (
        w.groupBy("l_returnflag", F.shiftright("price_c", _SHIFT).alias("b"))
        .agg(F.sum("wt").alias("bw"))
    )
    cum_b = (
        Window.partitionBy("l_returnflag")
        .orderBy("b")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = coarse.select(
        "l_returnflag",
        "b",
        "bw",
        F.sum("bw").over(cum_b).alias("cw"),
        F.sum("bw").over(Window.partitionBy("l_returnflag")).alias("tw"),
    )
    # per group: the first bucket whose cumulative weight reaches tw/2
    tgt = (
        cum.filter(2 * F.col("cw") >= F.col("tw"))
        .groupBy(F.col("l_returnflag").alias("g"))
        .agg(
            F.min("b").alias("tb"),
            F.min_by(F.col("cw") - F.col("bw"), "b").alias("before"),
            F.first("tw").alias("tw"),
        )
    )
    fine = (
        w.join(
            F.broadcast(tgt),
            (w["l_returnflag"] == tgt["g"])
            & (F.shiftright(w["price_c"], _SHIFT) == tgt["tb"]),
        )
        .select("l_returnflag", "price_c", "wt", "before", "tw")
        .groupBy("l_returnflag", "price_c", "before", "tw")
        .agg(F.sum("wt").alias("vw"))
    )
    cum_p = (
        Window.partitionBy("l_returnflag")
        .orderBy("price_c")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    fcum = fine.select(
        "l_returnflag",
        "price_c",
        "before",
        "tw",
        F.sum("vw").over(cum_p).alias("cwf"),
    )
    return (
        fcum.filter(2 * (F.col("before") + F.col("cwf")) >= F.col("tw"))
        .groupBy("l_returnflag")
        .agg(F.min("price_c").alias("wmedian_price_c"))
    )


# Count-min sketch geometry: D independent hash rows x W buckets.
_CMS_D = 3
_CMS_W = 256
_CMS_P = 1_000_000_007
_CMS_A = (982_451_653, 472_882_027, 715_827_883)
_CMS_B = (514_229, 1_299_709, 15_485_863)
_CMS_PROBES = (1, 2, 3)  # part keys whose frequency is estimated


def _cms_bucket_sql(j: int, key: str) -> str:
    # CAST: DuckDB would otherwise multiply INT32×INT32 and overflow
    return (
        f"((CAST({_CMS_A[j]} AS BIGINT) * {key} + {_CMS_B[j]})"
        f" % {_CMS_P}) % {_CMS_W}"
    )


@query(
    "agg_countmin_sketch",
    oracle=f"""
    WITH cells AS MATERIALIZED (
        SELECT j, {" ".join("")}CASE j
            {" ".join(f"WHEN {j} THEN {_cms_bucket_sql(j, 'l_partkey')}" for j in range(_CMS_D))}
        END AS bucket,
               CAST(count(*) AS BIGINT) AS n
        FROM lineitem, unnest(generate_series(0, {_CMS_D - 1})) AS t(j)
        GROUP BY 1, 2
    ),
    probes AS (
        SELECT k, j,
               CASE j
                   {" ".join(f"WHEN {j} THEN {_cms_bucket_sql(j, 'k')}" for j in range(_CMS_D))}
               END AS bucket
        FROM unnest([{", ".join(str(k) for k in _CMS_PROBES)}]) AS p(k),
             unnest(generate_series(0, {_CMS_D - 1})) AS t(j)
    ),
    est AS (
        SELECT p.k, CAST(min(coalesce(c.n, 0)) AS BIGINT) AS est_n
        FROM probes p LEFT JOIN cells c USING (j, bucket)
        GROUP BY p.k
    ),
    truth AS (
        SELECT l_partkey AS k, CAST(count(*) AS BIGINT) AS true_n
        FROM lineitem WHERE l_partkey IN ({", ".join(str(k) for k in _CMS_PROBES)})
        GROUP BY 1
    )
    SELECT e.k AS probe_key, e.est_n, coalesce(t.true_n, 0) AS true_n
    FROM est e LEFT JOIN truth t USING (k)
    """,
    tags=("agg", "sketch", "countmin"),
)
def agg_countmin_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch from first principles, EXACTLY oracle-checked:
    {_CMS_D} universal-hash rows ((a·k + b) mod p mod {_CMS_W}, integer
    arithmetic identical in both engines) × {_CMS_W} buckets of counts —
    the mergeable frequency sketch behind heavy-hitter detection and
    skew pre-detection at 100 TB (the sketch is a {_CMS_D}×{_CMS_W}
    integer table regardless of input size; partial sketches from any
    partitioning merge by cell-wise addition, which the partial/final
    hash aggregate IS). Point estimates = min over rows of the probed
    cell, the classic CM upper bound; output compares estimate vs truth
    for fixed probe keys, so the overestimate-only property is visible
    and hash-checked.

    Plan: one scan, a {_CMS_D}× map-side Generate, partial aggregation
    into ≤{_CMS_D * _CMS_W} cells before one tiny exchange; probes join
    against the broadcast-sized sketch."""
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey")

    def bucket(j: int, key: Column) -> Column:
        return ((F.lit(_CMS_A[j]) * key + F.lit(_CMS_B[j])) % _CMS_P) % _CMS_W

    cells = (
        li.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(j).alias("j"),
                            bucket(j, F.col("l_partkey")).alias("bucket"),
                        )
                        for j in range(_CMS_D)
                    ]
                )
            ).alias("c")
        )
        .select("c.j", "c.bucket")
        .groupBy("j", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # probe cells computed driver-side: D·|probes| constant rows
    probes = spark.createDataFrame(
        [
            (k, j, ((_CMS_A[j] * k + _CMS_B[j]) % _CMS_P) % _CMS_W)
            for k in _CMS_PROBES
            for j in range(_CMS_D)
        ],
        "k long, j int, bucket long",
    )
    est = (
        probes.join(F.broadcast(cells), ["j", "bucket"], "left")
        .groupBy("k")
        .agg(F.min(F.coalesce(F.col("n"), F.lit(0))).alias("est_n"))
    )
    truth = (
        li.filter(F.col("l_partkey").isin(*_CMS_PROBES))
        .groupBy(F.col("l_partkey").alias("k"))
        .agg(F.count(F.lit(1)).alias("true_n"))
    )
    return (
        est.join(truth, "k", "left")
        .select(
            F.col("k").alias("probe_key"),
            "est_n",
            F.coalesce(F.col("true_n"), F.lit(0)).alias("true_n"),
        )
    )


@query("agg_hll_partitioned_merge", oracle=None, tags=("agg", "sketch", "hll"))
def agg_hll_partitioned_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable HLL sketches via the Datasketches aggregates
    (hll_sketch_agg / hll_union_agg) — the property that makes
    approx-distinct work at 100 TB: per-partition sketches (here one per
    (lang, source) slice, standing in for per-executor partials) merge
    into EXACTLY the sketch of the union, so cardinality estimation
    never re-shuffles raw values — only kilobyte sketches move.
    Output per lang: the direct sketch estimate, the merged-partials
    estimate (must equal the direct one — pinned in
    tests/test_sampling_analytics.py), and the exact distinct token
    count for error context. Sketch bytes are engine-specific ⇒
    rows-only driver check, like agg_approx_distinct."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "lang", "source", F.explode(F.split(F.col("text"), " ")).alias("tok")
    )
    # lgK pinned explicitly: the est_direct == est_merged equality test
    # relies on same-lgK partials unioning to bit-identical registers,
    # so the config must not float with library defaults (ADVICE r5)
    lgk = 12
    direct = toks.groupBy("lang").agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("tok", lgk)).alias("est_direct"),
        F.countDistinct("tok").alias("exact_n"),
    )
    partials = toks.groupBy("lang", "source").agg(
        F.hll_sketch_agg("tok", lgk).alias("sk")
    )
    merged = partials.groupBy("lang").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est_merged")
    )
    return (
        direct.join(merged, "lang")
        .select("lang", "est_direct", "est_merged", "exact_n")
        .orderBy("lang")
    )


_SALT_BUCKETS = 16


@query(
    "agg_skew_salted",
    oracle="""
    SELECT l_returnflag,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
             AS revenue_cents,
           CAST(max(l_quantity) AS DOUBLE) AS max_qty
    FROM lineitem GROUP BY l_returnflag
    """,
    tags=("agg", "skew", "salted"),
)
def agg_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase SALTED aggregation — the skew treatment for hot GROUP BY
    keys (the aggregation analog of join_skew_salted): phase 1 groups by
    (key, salt) where salt spreads each key's rows over 16
    reducers, phase 2 re-combines the per-salt partials. l_returnflag has
    only 3 values, so an unsalted final aggregate lands 6M rows on 3
    reducers at sf1 — at 100 TB that's 3 straggler tasks doing all the
    work; salting bounds any reducer at rows/16 per key. count/sum/max
    are algebraic (partials combine losslessly: sum-of-counts,
    sum-of-sums, max-of-maxes), so the result is EXACTLY the plain
    aggregate, which is the oracle. (Spark's own partial aggregation
    usually absorbs this map-side; explicit salting is the pattern for
    when it can't — high-cardinality-payload aggs like collect_list or
    exact distinct.)"""
    li = load_table(spark, sf_dir, "lineitem")
    salt = F.pmod(F.xxhash64("l_orderkey", "l_linenumber"), F.lit(_SALT_BUCKETS))
    p1 = (
        li.withColumn("salt", salt)
        .groupBy("l_returnflag", "salt")
        .agg(
            F.count(F.lit(1)).alias("pn"),
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).alias(
                "psum"
            ),
            F.max("l_quantity").alias("pmax"),
        )
    )
    return p1.groupBy("l_returnflag").agg(
        F.sum("pn").cast("long").alias("n"),
        F.sum("psum").cast("long").alias("revenue_cents"),
        F.max("pmax").cast("double").alias("max_qty"),
    )


@query(
    "agg_distinct_bitmap",
    oracle="""
    SELECT l_returnflag,
           CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts
    FROM lineitem GROUP BY l_returnflag
    """,
    tags=("agg", "bitmap", "distinct"),
)
def agg_distinct_bitmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct counting via bitmap aggregation — the
    roaring-bitmap trick for dense integer key domains: distinct part
    keys per flag = popcount of the bit_or-merged bitmap, computed as
    (word = key/64, bit = 1<<(key%64)) → bit_or per (group, word) →
    Σ popcount. Unlike count(DISTINCT), whose expand-dedup shuffles one
    row PER DISTINCT VALUE OBSERVATION, the bitmap shuffles at most
    (groups × domain/64) fixed-width words regardless of row count, and
    partial bitmaps OR-merge losslessly — the exact-distinct analog of
    agg_hll_partitioned_merge's sketch story, with no error. The oracle
    is plain count(DISTINCT): both must agree exactly."""
    li = load_table(spark, sf_dir, "lineitem")
    words = (
        li.select(
            "l_returnflag",
            (F.col("l_partkey") / 64).cast("long").alias("word"),
            F.expr("shiftleft(1L, CAST(l_partkey % 64 AS INT))").alias("bit"),
        )
        .groupBy("l_returnflag", "word")
        .agg(F.bit_or("bit").alias("bits"))
    )
    return (
        words.select("l_returnflag", F.bit_count("bits").alias("pc"))
        .groupBy("l_returnflag")
        .agg(F.sum("pc").cast("long").alias("n_parts"))
    )


@query(
    "agg_trimmed_mean",
    oracle="""
    WITH r AS (
        SELECT l_returnflag,
               CAST(round(l_extendedprice * 100) AS BIGINT) AS c,
               row_number() OVER (PARTITION BY l_returnflag
                                  ORDER BY l_extendedprice, l_orderkey,
                                           l_linenumber) AS rk,
               count(*) OVER (PARTITION BY l_returnflag) AS n
        FROM lineitem
    )
    SELECT l_returnflag,
           CAST(count(*) AS BIGINT) AS n_kept,
           CAST(sum(c) AS BIGINT) AS sum_kept_c,
           round(CAST(sum(c) AS DOUBLE) / count(*), 6) AS trimmed_mean_c
    FROM r
    WHERE rk > n // 10 AND rk <= n - n // 10
    GROUP BY l_returnflag
    """,
    tags=("agg", "robust-stats"),
)
def agg_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10% trimmed mean per group — the robust location estimate that
    survives fat tails and data bugs (a misplaced 1e9 price moves a mean
    arbitrarily, a trimmed mean not at all): drop the bottom and top
    n/10 rows by price, average the exact integer cents of the rest.

    Plan — histogram drill-down, NOT a per-group rank window. Ranking
    every row (row_number over the group) serializes each group onto one
    task — the same 100 TB wall as the naive weighted median. Instead:

      1. ONE hash aggregate onto (group, coarse bucket = c >> 14):
         per-bucket row count and exact cent sum. Bounded output,
         map-side combine, key-only shuffle.
      2. Cumsum over that tiny frame gives each bucket its global rank
         interval (lo_b, hi_b]. With kept ranks (n/10, n - n/10], a
         bucket is FULLY kept (contribute its whole sum — no row ever
         revisited), fully dropped, or one of <= 2 PARTIAL buckets per
         group where a trim boundary lands.
      3. A second scan drills into only the partial buckets (broadcast
         join gate), hash-aggregates (group, c), and a cumsum over that
         slice assigns each distinct value its rank interval; its kept
         multiplicity is the interval overlap with (lo, hi] — pure
         integer clamp arithmetic.

    Tie-robustness: the row-level definition breaks price ties by
    (orderkey, linenumber), but rows with equal cent value are
    interchangeable for the kept SUM (round() is monotone, so equal-cent
    rows are contiguous in any price order) — the histogram form is
    exactly equal, which the DuckDB row-level oracle verifies. Windows
    touch O(#buckets) and O(slice) rows only; every full-data pass is a
    linear hash agg."""
    _SHIFT = 14
    li = load_table(spark, sf_dir, "lineitem")
    w = li.select(
        "l_returnflag",
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("c"),
    )
    coarse = w.groupBy(
        "l_returnflag", F.shiftright("c", _SHIFT).alias("b")
    ).agg(F.count(F.lit(1)).alias("nb"), F.sum("c").alias("sb"))
    cum_b = (
        Window.partitionBy("l_returnflag")
        .orderBy("b")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wg = Window.partitionBy("l_returnflag")
    cum = coarse.select(
        "l_returnflag",
        "b",
        "nb",
        "sb",
        (F.sum("nb").over(cum_b) - F.col("nb")).alias("start"),
        F.sum("nb").over(cum_b).alias("end"),
        F.sum("nb").over(wg).alias("n"),
    ).select(
        "*",
        F.expr("n div 10").alias("lo"),
        (F.col("n") - F.expr("n div 10")).alias("hi"),
    )
    # kept rows inside this bucket = overlap of (start, end] with (lo, hi]
    kept_b = F.greatest(
        F.lit(0),
        F.least(F.col("end"), F.col("hi"))
        - F.greatest(F.col("start"), F.col("lo")),
    )
    cum = cum.withColumn("kept_b", kept_b)
    full = (
        cum.filter(F.col("kept_b") == F.col("nb"))
        .groupBy("l_returnflag")
        .agg(F.sum("sb").alias("s"), F.sum("nb").alias("k"))
    )
    part = cum.filter(
        (F.col("kept_b") > 0) & (F.col("kept_b") < F.col("nb"))
    ).select(
        F.col("l_returnflag").alias("g"), "b", "start", "lo", "hi"
    )
    fine = (
        w.join(
            F.broadcast(part),
            (w["l_returnflag"] == part["g"])
            & (F.shiftright(w["c"], _SHIFT) == part["b"]),
        )
        .groupBy("l_returnflag", "b", "c", "start", "lo", "hi")
        .agg(F.count(F.lit(1)).alias("m"))
    )
    cum_c = (
        Window.partitionBy("l_returnflag", "b")
        .orderBy("c")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    fcum = fine.select(
        "l_returnflag",
        "c",
        "lo",
        "hi",
        (F.col("start") + F.sum("m").over(cum_c) - F.col("m")).alias("vs"),
        (F.col("start") + F.sum("m").over(cum_c)).alias("ve"),
    )
    kept_v = F.greatest(
        F.lit(0),
        F.least(F.col("ve"), F.col("hi"))
        - F.greatest(F.col("vs"), F.col("lo")),
    )
    part_sum = (
        fcum.withColumn("kv", kept_v)
        .filter(F.col("kv") > 0)
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.col("c") * F.col("kv")).alias("s"),
            F.sum("kv").alias("k"),
        )
    )
    return (
        full.unionByName(part_sum)
        .groupBy("l_returnflag")
        .agg(F.sum("k").alias("n_kept"), F.sum("s").alias("sum_kept_c"))
        .select(
            "l_returnflag",
            "n_kept",
            F.col("sum_kept_c").cast("long").alias("sum_kept_c"),
            F.round(
                F.col("sum_kept_c").cast("double") / F.col("n_kept"), 6
            ).alias("trimmed_mean_c"),
        )
    )


@query(
    "agg_ab_welch_t",
    oracle="""
    WITH m AS (
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(round(value) AS BIGINT)) AS BIGINT) AS s,
               CAST(sum(CAST(round(value) AS BIGINT)
                        * CAST(round(value) AS BIGINT)) AS BIGINT) AS ss
        FROM events WHERE event_type IN ('purchase', 'click')
        GROUP BY event_type
    )
    SELECT a.event_type AS cohort_a, b.event_type AS cohort_b,
           a.n AS n_a, b.n AS n_b,
           round((CAST(a.s AS DOUBLE) / a.n) - (CAST(b.s AS DOUBLE) / b.n), 9)
             AS mean_diff,
           round(((CAST(a.s AS DOUBLE) / a.n) - (CAST(b.s AS DOUBLE) / b.n))
                 / sqrt(
                     (CAST(a.n * a.ss - a.s * a.s AS DOUBLE)
                      / a.n / a.n / (a.n - 1))
                   + (CAST(b.n * b.ss - b.s * b.s AS DOUBLE)
                      / b.n / b.n / (b.n - 1))), 9) AS welch_t
    FROM m a JOIN m b
      ON a.event_type = 'purchase' AND b.event_type = 'click'
    """,
    tags=("agg", "stats", "ab-test"),
)
def agg_ab_welch_t(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's t statistic between two cohorts — the A/B-testing
    primitive (unequal variances, unequal sizes) computed from INTEGER
    moments: n, Σx, Σx² per cohort are exact at any partitioning
    (values rounded to whole units map-side), sample variance is
    (nΣx²−(Σx)²)/(n²(n−1)) — a fixed IEEE op sequence on exact integers
    — and t = Δmean/√(v₁/n₁+v₂/n₂). Same exactness recipe as
    event_trend_regression, so a STATISTICAL TEST hash-matches across
    engines.

    Plan: one partial-aggregated moments pass over the filtered scan;
    the 'join' is two 1-row frames. At 100 TB: one scan, one tiny
    exchange."""
    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "click")
    )
    v = F.round(F.col("value")).cast("long")
    m = e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(v).cast("long").alias("s"),
        F.sum(v * v).cast("long").alias("ss"),
    )
    a = m.filter(F.col("event_type") == "purchase").toDF("cohort_a", "n_a", "s_a", "ss_a")
    b = m.filter(F.col("event_type") == "click").toDF("cohort_b", "n_b", "s_b", "ss_b")
    mean_a = F.col("s_a").cast("double") / F.col("n_a")
    mean_b = F.col("s_b").cast("double") / F.col("n_b")
    var_a = (
        (F.col("n_a") * F.col("ss_a") - F.col("s_a") * F.col("s_a")).cast("double")
        / F.col("n_a") / F.col("n_a") / (F.col("n_a") - 1)
    )
    var_b = (
        (F.col("n_b") * F.col("ss_b") - F.col("s_b") * F.col("s_b")).cast("double")
        / F.col("n_b") / F.col("n_b") / (F.col("n_b") - 1)
    )
    return a.crossJoin(b).select(
        "cohort_a",
        "cohort_b",
        "n_a",
        "n_b",
        F.round(mean_a - mean_b, 9).alias("mean_diff"),
        # var_a/var_b above are already s²/n (the /n is folded into the
        # n²(n−1) denominator), so the t denominator adds them directly
        F.round((mean_a - mean_b) / F.sqrt(var_a + var_b), 9).alias("welch_t"),
    )


@query(
    "agg_chi2_independence",
    oracle="""
    WITH obs AS (
        SELECT event_type AS et,
               CAST(hour(CAST(ts AS TIMESTAMP)) // 6 AS BIGINT) AS slot,
               CAST(count(*) AS BIGINT) AS o
        FROM events GROUP BY 1, 2
    ),
    rt AS (SELECT et, CAST(sum(o) AS BIGINT) AS r FROM obs GROUP BY et),
    ct AS (SELECT slot, CAST(sum(o) AS BIGINT) AS c FROM obs GROUP BY slot),
    n AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM obs),
    cells AS (
        SELECT o.et, o.slot, o.o, rt.r, ct.c, n.n,
               CAST(rt.r AS DOUBLE) * ct.c / n.n AS e
        FROM obs o JOIN rt USING (et) JOIN ct USING (slot) CROSS JOIN n
    )
    SELECT CAST(count(*) AS BIGINT) AS n_cells,
           CAST(any_value(n) AS BIGINT) AS n_events,
           round(sum(round((o - e) * (o - e) / e, 9)), 6) AS chi2
    FROM cells
    """,
    tags=("agg", "stats", "chi2"),
)
def agg_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square test of independence (event type × 6-hour slot) — the
    categorical sibling of agg_ab_welch_t: is activity mix independent of
    time of day? χ² = Σ(O−E)²/E with E = (row total × column total)/N.
    All totals are exact integers; each cell's contribution is a fixed
    IEEE sequence rounded to 9 digits BEFORE the final sum (a 24-term
    sum of rounded values is exact at 6-digit display), so the statistic
    hash-matches across engines.

    Plan: one (type, slot) contingency aggregate — a tiny key space
    partial-aggregated map-side — then broadcast-sized marginal joins.
    One data-sized pass, at any scale."""
    e = load_table(spark, sf_dir, "events")
    obs = e.groupBy(
        F.col("event_type").alias("et"),
        F.expr("hour(ts) div 6").cast("long").alias("slot"),
    ).agg(F.count(F.lit(1)).alias("o"))
    rt = obs.groupBy("et").agg(F.sum("o").cast("long").alias("r"))
    ct = obs.groupBy("slot").agg(F.sum("o").cast("long").alias("c"))
    n = obs.agg(F.sum("o").cast("long").alias("n"))
    cells = (
        obs.join(rt, "et")
        .join(ct, "slot")
        .crossJoin(F.broadcast(n))
        .withColumn("e", F.col("r").cast("double") * F.col("c") / F.col("n"))
    )
    contrib = F.round(
        (F.col("o") - F.col("e")) * (F.col("o") - F.col("e")) / F.col("e"), 9
    )
    return cells.agg(
        F.count(F.lit(1)).alias("n_cells"),
        F.max("n").cast("long").alias("n_events"),
        F.round(F.sum(contrib), 6).alias("chi2"),
    )


@query(
    "agg_benford_test",
    oracle="""
    WITH fd AS (
        SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
                                AS VARCHAR), 1, 1) AS BIGINT) AS d
        FROM orders WHERE o_totalprice > 0
    ),
    obs AS (SELECT d, CAST(count(*) AS BIGINT) AS o FROM fd GROUP BY d),
    n AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM obs)
    SELECT obs.d AS digit, obs.o AS observed,
           round(n.n * log10(1 + 1.0 / obs.d), 6) AS benford_expected,
           round((obs.o - n.n * log10(1 + 1.0 / obs.d))
                 * (obs.o - n.n * log10(1 + 1.0 / obs.d))
                 / (n.n * log10(1 + 1.0 / obs.d)), 9) AS chi2_term
    FROM obs CROSS JOIN n
    ORDER BY digit
    """,
    tags=("agg", "stats", "data-quality"),
)
def agg_benford_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit screening — the forensic data-quality test
    (natural multi-scale amounts follow P(d)=log₁₀(1+1/d); fabricated
    or truncated data doesn't): observed first-digit counts of the
    integer cent amounts vs the Benford expectation, with per-digit χ²
    terms. First digits come from the exact integer's decimal string
    (no float log tricks), expectations are one log10+multiply per
    digit — all hash-exact. TPC-H's uniform synthetic prices should and
    do FAIL Benford, which is exactly what the test is for.

    Plan: a 9-key aggregate partial-collapsed map-side; one data pass,
    constant output, at any scale."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 0)
    d = F.substring(
        F.round(F.col("o_totalprice") * 100).cast("long").cast("string"), 1, 1
    ).cast("long")
    obs = o.select(d.alias("d")).groupBy("d").agg(
        F.count(F.lit(1)).alias("o")
    )
    n = obs.agg(F.sum("o").cast("long").alias("n"))
    exp = F.col("n") * F.log10(1 + 1.0 / F.col("d"))
    return (
        obs.crossJoin(F.broadcast(n))
        .select(
            F.col("d").alias("digit"),
            F.col("o").cast("long").alias("observed"),
            F.round(exp, 6).alias("benford_expected"),
            F.round((F.col("o") - exp) * (F.col("o") - exp) / exp, 9).alias(
                "chi2_term"
            ),
        )
        .orderBy("digit")
    )


@query(
    "agg_theil_index",
    oracle="""
    WITH cust AS (
        SELECT c.c_nationkey AS nationkey, o.o_custkey AS custkey,
               CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS x
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        GROUP BY c.c_nationkey, o.o_custkey
    ),
    tot AS (
        SELECT nationkey, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS s
        FROM cust GROUP BY nationkey
    ),
    terms AS (
        SELECT c.nationkey,
               CAST(round(
                   (CAST(c.x AS DOUBLE) / (CAST(t.s AS DOUBLE) / t.n))
                   * ln(CAST(c.x AS DOUBLE) / (CAST(t.s AS DOUBLE) / t.n))
                   * 1e9) AS BIGINT) AS term_nano
        FROM cust c JOIN tot t ON t.nationkey = c.nationkey
    )
    SELECT t.nationkey, t.n AS n_cust, t.s AS total_c,
           round(CAST(sum(x.term_nano) AS DOUBLE) / t.n / 1e9, 9) AS theil_t
    FROM terms x JOIN tot t ON t.nationkey = x.nationkey
    GROUP BY t.nationkey, t.n, t.s
    ORDER BY t.nationkey
    """,
    tags=("agg", "stats", "inequality"),
)
def agg_theil_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil T inequality index of customer revenue within each nation —
    the decomposable inequality measure (unlike Gini, within-group +
    between-group Theil sum exactly to the total, which is why economic
    and data-balance audits prefer it): T = (1/n) Σ (x/μ)·ln(x/μ).
    Companion to corpus_len_gini on the relational side of the house.

    Exactness: per-customer revenue is an exact cents integer; μ enters
    as the SAME double (exact BIGINT total / count) in both engines, and
    each customer's (x/μ)ln(x/μ) term — an identical IEEE op sequence —
    is rounded to nano-units BEFORE the aggregate, so the sum is an
    order-independent integer sum (the same trick corpus_lang_entropy
    uses to make an entropy hash-stable).

    Plan: orders aggregate per customer (one shuffle on custkey,
    partial-aggregated), broadcast-joined nation totals, then a 25-key
    integer aggregate. Revenue values shuffle once; text/fact payloads
    never do. Same shape at 100 TB."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    cust = (
        o.join(c.select("c_custkey", "c_nationkey"), o.o_custkey == c.c_custkey)
        .groupBy(
            F.col("c_nationkey").alias("nationkey"),
            F.col("o_custkey").alias("custkey"),
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("x")
        )
    )
    tot = cust.groupBy("nationkey").agg(
        F.count(F.lit(1)).alias("n"), F.sum("x").cast("long").alias("s")
    )
    mu = F.col("s").cast("double") / F.col("n")
    ratio = F.col("x").cast("double") / mu
    terms = cust.join(F.broadcast(tot), "nationkey").select(
        "nationkey",
        "n",
        "s",
        F.round(ratio * F.log(ratio) * 1e9).cast("long").alias("term_nano"),
    )
    return (
        terms.groupBy("nationkey", F.col("n").alias("n_cust"), F.col("s").alias("total_c"))
        .agg(
            F.round(
                F.sum("term_nano").cast("double") / F.first("n") / 1e9, 9
            ).alias("theil_t")
        )
        .orderBy("nationkey")
    )


# ---- exact order statistics at scale: shared rank drill-down ----

_OS_SHIFT = 14  # coarse bucket = price_c >> 14 (~164-dollar cells)


def _cents(li: DataFrame) -> DataFrame:
    return li.select(
        "l_returnflag",
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("c"),
    )


def _values_at_ranks(w: DataFrame, targets: DataFrame) -> DataFrame:
    """Exact value at given per-group ranks WITHOUT ranking raw rows.

    `w` is (l_returnflag, c); `targets` is a TINY frame (l_returnflag,
    tag, r) asking for the value of rank r (1-indexed ascending by c)
    in each group. Same machinery as agg_weighted_median's drill-down:
    one coarse-bucket hash aggregate over the data, a window over the
    tiny bucket frame to find each target's crossing bucket, then a
    broadcast-gated fine scan of ONLY the crossing buckets; a value's
    global rank interval is (start + in-bucket-cum - m, start +
    in-bucket-cum], and the requested value is the one whose interval
    contains r. Every full-data pass is a linear hash aggregate; all
    windows touch O(#buckets) / O(slice) rows."""
    coarse = w.groupBy(
        "l_returnflag", F.shiftright("c", _OS_SHIFT).alias("b")
    ).agg(F.count(F.lit(1)).alias("nb"))
    cum_b = (
        Window.partitionBy("l_returnflag")
        .orderBy("b")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = coarse.select(
        "l_returnflag",
        "b",
        (F.sum("nb").over(cum_b) - F.col("nb")).alias("start"),
        F.sum("nb").over(cum_b).alias("end"),
    )
    tgt = targets.toDF("tg", "tag", "r")
    crossing = (
        cum.join(
            F.broadcast(tgt),
            (cum["l_returnflag"] == tgt["tg"])
            & (tgt["r"] > cum["start"])
            & (tgt["r"] <= cum["end"]),
        )
        .select("l_returnflag", "tag", "r", "b", "start")
        # <= targets rows; referenced twice (gate + final pick) — the
        # eager checkpoint stops its lineage re-scanning the fact table
        .localCheckpoint(eager=True)
    )
    gate = crossing.select(
        F.col("l_returnflag").alias("g"), F.col("b").alias("gb"), "start"
    ).distinct()
    fine = (
        w.join(
            F.broadcast(gate),
            (w["l_returnflag"] == gate["g"])
            & (F.shiftright(w["c"], _OS_SHIFT) == gate["gb"]),
        )
        .groupBy("l_returnflag", "gb", "c", "start")
        .agg(F.count(F.lit(1)).alias("m"))
    )
    cum_c = (
        Window.partitionBy("l_returnflag", "gb")
        .orderBy("c")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    fcum = fine.select(
        "l_returnflag",
        "gb",
        "c",
        (F.col("start") + F.sum("m").over(cum_c) - F.col("m")).alias("vs"),
        (F.col("start") + F.sum("m").over(cum_c)).alias("ve"),
    )
    cr = crossing.select(
        F.col("l_returnflag").alias("cg"), "tag", "r", F.col("b").alias("cb")
    )
    return (
        fcum.join(
            F.broadcast(cr),
            (fcum["l_returnflag"] == cr["cg"])
            & (fcum["gb"] == cr["cb"])
            & (cr["r"] > fcum["vs"])
            & (cr["r"] <= fcum["ve"]),
        )
        .select("l_returnflag", "tag", "c")
    )


_SQL_CENTS = (
    "SELECT l_returnflag, CAST(round(l_extendedprice * 100) AS BIGINT) AS c"
    " FROM lineitem"
)
_SQL_RANKED = f"""
    w AS ({_SQL_CENTS}),
    r AS (SELECT l_returnflag, c,
                 row_number() OVER (PARTITION BY l_returnflag ORDER BY c)
                     AS rk,
                 count(*) OVER (PARTITION BY l_returnflag) AS n
          FROM w)
"""


@query(
    "agg_decile_bounds",
    oracle=f"""
    WITH {_SQL_RANKED}
    SELECT l_returnflag, CAST(d.d AS BIGINT) AS decile, c AS decile_value_c
    FROM r, unnest(generate_series(1, 9)) AS d(d)
    WHERE rk = (d.d * n + 9) // 10
    ORDER BY l_returnflag, decile
    """,
    tags=("agg", "order-stats", "quantile"),
)
def agg_decile_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All nine EXACT decile boundaries per group in one plan — the
    equi-depth histogram / SLA-percentile report (p10..p90 at once).
    Boundary d is the value at rank ceil(d*n/10) (pure integer
    arithmetic, cross-engine exact on the cent grid).

    Plan: the multi-target generalization of agg_weighted_median's
    histogram drill-down — ONE coarse-bucket aggregate serves all nine
    targets (their crossing buckets come from one window over the tiny
    bucket frame), and one broadcast-gated fine scan covers the <= 9
    distinct crossing buckets per group. Asking for more quantiles adds
    rows to a 27-row broadcast frame, not passes over the data — the
    property that matters when a 100 TB profiling job wants p1..p99."""
    li = load_table(spark, sf_dir, "lineitem")
    w = _cents(li)
    tot = w.groupBy("l_returnflag").agg(F.count(F.lit(1)).alias("n"))
    deciles = spark.range(1, 10).select(F.col("id").alias("d"))
    targets = tot.crossJoin(F.broadcast(deciles)).select(
        "l_returnflag",
        F.col("d").alias("tag"),
        ((F.col("d") * F.col("n") + 9) / 10).cast("long").alias("r"),
    )
    return (
        _values_at_ranks(w, targets)
        .select(
            "l_returnflag",
            F.col("tag").cast("long").alias("decile"),
            F.col("c").alias("decile_value_c"),
        )
        .orderBy("l_returnflag", "decile")
    )


@query(
    "agg_winsorized_mean",
    oracle=f"""
    WITH {_SQL_RANKED},
    p AS (SELECT l_returnflag,
                 min(CASE WHEN rk = (n + 9) // 10 THEN c END) AS lo_c,
                 min(CASE WHEN rk = (9 * n + 9) // 10 THEN c END) AS hi_c
          FROM r GROUP BY l_returnflag)
    SELECT w.l_returnflag,
           CAST(count(*) AS BIGINT) AS n_rows,
           p.lo_c, p.hi_c,
           round(CAST(sum(GREATEST(p.lo_c, LEAST(p.hi_c, w.c)))
                      AS DOUBLE) / count(*), 6) AS winsorized_mean_c
    FROM w JOIN p USING (l_returnflag)
    GROUP BY w.l_returnflag, p.lo_c, p.hi_c
    """,
    tags=("agg", "robust-stats", "order-stats"),
)
def agg_winsorized_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10% winsorized mean per group — agg_trimmed_mean's sibling that
    CLAMPS the tails to the p10/p90 values instead of dropping them
    (the robust location estimate that keeps n constant). p10/p90 are
    the values at ranks ceil(n/10) / ceil(9n/10).

    Plan: the two boundary values come from the shared rank drill-down
    (no row-level ranking); the winsorized sum is then ONE more linear
    pass — clamp every value against the broadcast 3-row (lo, hi) frame
    and sum exact integers. Two scans + key-only exchanges total,
    nothing quadratic, nothing single-task."""
    li = load_table(spark, sf_dir, "lineitem")
    w = _cents(li)
    tot = w.groupBy("l_returnflag").agg(F.count(F.lit(1)).alias("n"))
    targets = tot.select(
        "l_returnflag", F.lit(1).alias("tag"),
        ((F.col("n") + 9) / 10).cast("long").alias("r"),
    ).unionByName(
        tot.select(
            "l_returnflag", F.lit(9).alias("tag"),
            ((9 * F.col("n") + 9) / 10).cast("long").alias("r"),
        )
    )
    vals = _values_at_ranks(w, targets)
    bounds = vals.groupBy(F.col("l_returnflag").alias("pg")).agg(
        F.min(F.when(F.col("tag") == 1, F.col("c"))).alias("lo_c"),
        F.min(F.when(F.col("tag") == 9, F.col("c"))).alias("hi_c"),
    )
    clamped = w.join(
        F.broadcast(bounds), w["l_returnflag"] == bounds["pg"]
    ).select(
        "l_returnflag",
        "lo_c",
        "hi_c",
        F.greatest("lo_c", F.least("hi_c", F.col("c"))).alias("cc"),
    )
    return clamped.groupBy("l_returnflag", "lo_c", "hi_c").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(
            F.sum("cc").cast("double") / F.count(F.lit(1)), 6
        ).alias("winsorized_mean_c"),
    ).select(
        "l_returnflag", "n_rows", "lo_c", "hi_c", "winsorized_mean_c"
    )


@query(
    "agg_bitwise_flags",
    oracle="""
    WITH f AS (
        SELECT l_returnflag,
               CAST(CASE WHEN l_quantity > 25 THEN 1 ELSE 0 END
                    + CASE WHEN l_discount > 0.05 THEN 2 ELSE 0 END
                    + CASE WHEN l_tax > 0.04 THEN 4 ELSE 0 END
                    + (l_linenumber % 4) * 8 AS BIGINT) AS flags
        FROM lineitem)
    SELECT l_returnflag,
           CAST(bit_and(flags) AS BIGINT) AS flags_all,
           CAST(bit_or(flags) AS BIGINT) AS flags_any,
           CAST(bit_xor(flags) AS BIGINT) AS flags_parity,
           CAST(count(*) AS BIGINT) AS n_rows
    FROM f GROUP BY l_returnflag
    """,
    tags=("agg", "bitwise", "functions"),
)
def agg_bitwise_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise aggregate surface — AND/OR/XOR folds over a derived flag
    bitmap per group: flags_all (invariants that hold for EVERY row),
    flags_any (feature coverage), flags_parity (the xor fold backing
    checksum/parity schemes like table_checksum_compare's register).
    Flag encoding packs three predicates + a 2-bit enum into one long,
    the compact-audit idiom for wide boolean feature sets.

    Plan: the bitmap is one map-side expression; all three bit folds are
    commutative-associative registers in ONE hash aggregate (map-side
    partial combine, key-only exchange) — adding predicates widens no
    row and adds no pass, exactly like table_constraint_audit's
    conditional counts."""
    li = load_table(spark, sf_dir, "lineitem")
    flags = (
        F.when(F.col("l_quantity") > 25, 1).otherwise(0)
        + F.when(F.col("l_discount") > 0.05, 2).otherwise(0)
        + F.when(F.col("l_tax") > 0.04, 4).otherwise(0)
        + (F.col("l_linenumber") % 4) * 8
    ).cast("long")
    return (
        li.select("l_returnflag", flags.alias("flags"))
        .groupBy("l_returnflag")
        .agg(
            F.expr("bit_and(flags)").cast("long").alias("flags_all"),
            F.expr("bit_or(flags)").cast("long").alias("flags_any"),
            F.expr("bit_xor(flags)").cast("long").alias("flags_parity"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


@query("agg_hll_sketch_rollup", oracle=None, tags=("agg", "approx", "sketch", "hll"))
def agg_hll_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable Datasketches-HLL rollup (Spark 3.5+ hll_sketch_agg /
    hll_union_agg / hll_sketch_estimate): per-event-type sketches of
    distinct users, plus an 'ALL' grand-total row whose estimate comes
    from UNIONING the per-group sketches — NOT from re-scanning the
    fact. This is THE 100 TB cardinality pattern: persist one 2^lgK-byte
    sketch per (dimension, day) cell once, then answer any rollup
    (week, month, all-types, all-time) by merging cells — no raw-value
    shuffle ever again, and unlike approx_count_distinct's internal HLL,
    these sketches are STORABLE binary columns compatible with the
    Apache DataSketches ecosystem outside Spark.

    At fixture scale the union re-derives the per-group frame (two
    passes over events); in production the per-group sketch table is the
    materialized artifact and the union is 5 rows — the docstring cost
    is a fixture artifact, the mergeability is the point. Estimates are
    engine-specific sketch values → rows-only driver check; accuracy
    (±5% of exact) and exact union==direct equality are locked in
    tests/test_round10_ops.py."""
    e = load_table(spark, sf_dir, "events")
    per = e.groupBy("event_type").agg(
        F.expr("hll_sketch_agg(user_id, 14)").alias("sk")
    )
    per_type = per.select(
        "event_type",
        F.expr("hll_sketch_estimate(sk)").cast("long").alias("approx_users"),
    )
    rollup = per.agg(
        F.expr("hll_sketch_estimate(hll_union_agg(sk))")
        .cast("long")
        .alias("approx_users")
    ).select(F.lit("ALL").alias("event_type"), "approx_users")
    return per_type.unionByName(rollup)


@query(
    "agg_theta_sketch_setops",
    oracle="""
    WITH v AS (SELECT DISTINCT user_id FROM events
               WHERE event_type = 'view' AND extract(hour FROM ts) < 1),
    p AS (SELECT DISTINCT user_id FROM events
          WHERE event_type = 'purchase' AND extract(hour FROM ts) < 1)
    SELECT
        CAST((SELECT count(*) FROM v) AS BIGINT) AS viewers,
        CAST((SELECT count(*) FROM p) AS BIGINT) AS purchasers,
        CAST((SELECT count(*) FROM (SELECT user_id FROM v
                                    UNION SELECT user_id FROM p)) AS BIGINT)
            AS either_users,
        CAST((SELECT count(*) FROM (SELECT user_id FROM v
                                    INTERSECT SELECT user_id FROM p)) AS BIGINT)
            AS both_users,
        CAST((SELECT count(*) FROM (SELECT user_id FROM v
                                    EXCEPT SELECT user_id FROM p)) AS BIGINT)
            AS view_only_users,
        round(CAST((SELECT count(*) FROM (SELECT user_id FROM v
                                          INTERSECT SELECT user_id FROM p))
                   AS DOUBLE)
              / (SELECT count(*) FROM v), 9) AS view_to_purchase_rate
    """,
    tags=("agg", "approx", "sketch", "theta", "spark4"),
)
def agg_theta_sketch_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-sketch set algebra (Spark 4.1 theta_sketch_agg / theta_union /
    theta_intersection / theta_difference) — the audience-overlap question
    ("how many users BOTH viewed AND purchased?") answered from two
    mergeable sketches instead of a distinct-union/intersect re-scan.
    This is what HLL cannot do: HLL unions but never intersects; theta
    sketches close the set algebra, so persisted per-(dimension, day)
    sketches answer ANY audience boolean combination later without
    touching the fact table again.

    Exactness regime (what makes the full oracle honest): with
    lgNomEntries=20 a theta sketch keeps every distinct hash until it
    holds > 2^20 entries, so theta stays 1.0 and estimates — including
    union/intersection/difference — are EXACT integers. Fixture users
    are 150 (sf0.01) / 1.5k (10x) / 150k (1000x), all far under 2^20, so
    both engines must agree bit-for-bit here; at true 100 TB cardinality
    the same plan degrades gracefully to bounded-RSE estimates (the
    documented trade every Datasketches deployment makes).

    Plan: ONE pass over events builds both sketches as conditional
    aggregates (map-side partial sketch merge — the shuffle carries two
    fixed-size sketch payloads per partition, never user_ids); the set
    algebra is driver-trivial scalar expressions on the single merged
    row. Contrast the oracle's two DISTINCT subqueries + union +
    intersect + except: five fact passes. The audiences are scoped to
    the 00:xx night hour so the sets genuinely differ (the fixture's
    every-user-does-everything shape would otherwise make intersection
    == both inputs and difference == 0, a degenerate check)."""
    e = load_table(spark, sf_dir, "events")
    night = F.hour("ts") < 1
    sk = e.agg(
        F.theta_sketch_agg(
            F.when((F.col("event_type") == "view") & night, F.col("user_id")),
            F.lit(20),
        ).alias("sv"),
        F.theta_sketch_agg(
            F.when(
                (F.col("event_type") == "purchase") & night, F.col("user_id")
            ),
            F.lit(20),
        ).alias("sp"),
    )
    return sk.select(
        F.theta_sketch_estimate("sv").cast("long").alias("viewers"),
        F.theta_sketch_estimate("sp").cast("long").alias("purchasers"),
        # lgMaxK must match the input sketches' 20: theta_union defaults
        # to 12, which would silently DOWNSAMPLE the union to 4096
        # retained hashes and break the exact regime at the 100x spot
        F.theta_sketch_estimate(F.theta_union("sv", "sp", F.lit(20)))
        .cast("long")
        .alias("either_users"),
        F.theta_sketch_estimate(F.theta_intersection("sv", "sp"))
        .cast("long")
        .alias("both_users"),
        F.theta_sketch_estimate(F.theta_difference("sv", "sp"))
        .cast("long")
        .alias("view_only_users"),
        F.round(
            F.theta_sketch_estimate(F.theta_intersection("sv", "sp")).cast(
                "double"
            )
            / F.theta_sketch_estimate("sv"),
            9,
        ).alias("view_to_purchase_rate"),
    )


@query(
    "agg_kll_quantile_rollup",
    oracle=None,
    tags=("agg", "approx", "sketch", "kll", "quantile", "spark4"),
)
def agg_kll_quantile_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable KLL quantile-sketch rollup (Spark 4.1
    kll_sketch_agg_double / kll_sketch_merge_double /
    kll_sketch_get_quantile_double) — agg_hll_sketch_rollup's pattern
    applied to QUANTILES: per-event-type sketches of the value column,
    plus an 'ALL' grand-total row whose p50/p90/p99 come from MERGING
    the per-group sketches, never from re-sorting the fact. At 100 TB
    this is the only tractable shape for percentile dashboards: exact
    percentiles need a full sort per rollup cell; a KLL sketch is a few
    KB per (dimension, day) cell, merges associatively map-side, and
    answers any later rollup with bounded rank error (~1.3% at k=800).

    Rows-only driver check by declared design (KLL compaction is
    randomized, so estimates are engine- and run-specific — same rule as
    agg_hll_sketch_rollup); the semantics are locked in
    tests/test_round11_ops.py instead: n from the sketch is EXACT, each
    estimated quantile must sit between the exact p-5% and p+5% order
    statistics, and merged-ALL must satisfy the same bound vs the
    ungrouped exact quantiles.

    Plan: ONE pass over events builds the per-group sketches (map-side
    partial sketch merge; the exchange carries sketch bytes, not
    values); the ALL row folds the 5 per-group payloads with the binary
    kll_sketch_merge_double (Spark ships merge as a scalar two-sketch
    function, so the rollup is a collect_list of 5 sketch blobs + an
    F.aggregate fold — constant work, never a fact re-scan)."""
    e = load_table(spark, sf_dir, "events")
    qs = F.array(F.lit(0.5), F.lit(0.9), F.lit(0.99))
    per = e.groupBy("event_type").agg(
        F.kll_sketch_agg_double("value", F.lit(800)).alias("sk")
    )

    def unpack(df: DataFrame) -> DataFrame:
        est = F.kll_sketch_get_quantile_double("sk", qs)
        return df.select(
            "event_type",
            F.kll_sketch_get_n_double("sk").cast("long").alias("n_rows"),
            est.getItem(0).alias("p50"),
            est.getItem(1).alias("p90"),
            est.getItem(2).alias("p99"),
        )

    merged = F.aggregate(
        F.slice(F.col("sks"), 2, F.size("sks") - 1),
        F.element_at("sks", 1),
        lambda acc, x: F.kll_sketch_merge_double(acc, x),
    )
    rollup = per.agg(F.collect_list("sk").alias("sks")).select(
        F.lit("ALL").alias("event_type"), merged.alias("sk")
    )
    return unpack(per).unionByName(unpack(rollup)).orderBy("event_type")


@query(
    "agg_regr_family",
    oracle="""
    SELECT l_returnflag,
           CAST(regr_count(l_extendedprice, l_quantity) AS BIGINT) AS n_pairs,
           round(regr_avgx(l_extendedprice, l_quantity), 6) AS avg_x,
           round(regr_avgy(l_extendedprice, l_quantity), 6) AS avg_y,
           round(regr_slope(l_extendedprice, l_quantity), 6) AS slope,
           round(regr_intercept(l_extendedprice, l_quantity), 6) AS intercept,
           round(regr_r2(l_extendedprice, l_quantity), 9) AS r2
    FROM lineitem GROUP BY l_returnflag
    """,
    tags=("agg", "regression", "functions"),
)
def agg_regr_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL-standard linear-regression aggregate family (regr_count /
    regr_avgx / regr_avgy / regr_slope / regr_intercept / regr_r2) as
    BUILT-IN aggregates — the surface a BI tool or dbt model emits
    verbatim. event_trend_regression deliberately rebuilds the slope
    from integer moments for bit-exactness; this query covers the
    opposite contract: the engine's own regr_* implementations must
    agree with another engine's to within float-rounding discipline.

    Rounding: measured cross-engine deltas on this data are ~1e-9
    absolute at sf0.01 AND the 10x probe (single-pass co-moment updates
    in both engines), so 6 dp on the O(1e4)-magnitude stats keeps a
    ~1000x margin; r2 here is O(1e-5), so it rounds at 9 dp where the
    measured delta is <1e-12.

    Plan at 100 TB: all six stats are co-moment aggregates with
    map-side partial combine over the same two columns — one pruned
    scan, one partial+final hash-aggregate pair on a 3-value key,
    nothing else."""
    li = load_table(spark, sf_dir, "lineitem")
    y, x = F.col("l_extendedprice"), F.col("l_quantity")
    return li.groupBy("l_returnflag").agg(
        F.regr_count(y, x).cast("long").alias("n_pairs"),
        F.round(F.regr_avgx(y, x), 6).alias("avg_x"),
        F.round(F.regr_avgy(y, x), 6).alias("avg_y"),
        F.round(F.regr_slope(y, x), 6).alias("slope"),
        F.round(F.regr_intercept(y, x), 6).alias("intercept"),
        F.round(F.regr_r2(y, x), 9).alias("r2"),
    )


@query(
    "agg_bitmap_builtins",
    oracle="""
    SELECT l_returnflag,
           CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts
    FROM lineitem GROUP BY l_returnflag
    UNION ALL
    SELECT 'ALL', CAST(count(DISTINCT l_partkey) AS BIGINT)
    FROM lineitem
    """,
    tags=("agg", "bitmap", "distinct", "builtins"),
)
def agg_bitmap_builtins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The bitmap_* BUILTIN family (Spark 3.5: bitmap_bucket_number /
    bitmap_bit_position / bitmap_construct_agg / bitmap_or_agg /
    bitmap_count) — the engine's own binary-payload exact-distinct
    surface. agg_distinct_bitmap hand-rolls the same trick with 64-bit
    words to SHOW the shuffle algebra; this covers the contract that the
    builtins themselves agree with count(DISTINCT), payload merge
    included: per-flag counts come from bitmap_construct_agg per
    (flag, 32768-bit bucket), and the ALL row OR-merges the per-flag
    bitmaps with bitmap_or_agg BEFORE counting — distinct counts don't
    add across overlapping groups, merged bitmaps do, which is the whole
    reason the payload type exists (partial bitmaps from 1000 executors
    merge losslessly).

    Plan at 100 TB: the bucketed frame is (groups x domain/32768) rows
    of fixed 4 KiB payloads regardless of fact rows — it is PERSISTED
    because the per-flag and ALL branches both consume it (one fact scan
    total, pinned); the result is <=4 rows, eagerly checkpointed so the
    cache releases before return."""
    li = load_table(spark, sf_dir, "lineitem")
    with scoped_cache() as persist:
        b = persist(
            li.groupBy(
                "l_returnflag",
                F.expr("bitmap_bucket_number(l_partkey)").alias("bkt"),
            ).agg(
                F.expr(
                    "bitmap_construct_agg(bitmap_bit_position(l_partkey))"
                ).alias("bm")
            )
        )
        per = b.groupBy("l_returnflag").agg(
            F.sum(F.expr("bitmap_count(bm)")).cast("long").alias("n_parts")
        )
        merged = (
            b.groupBy("bkt")
            .agg(F.expr("bitmap_or_agg(bm)").alias("bm2"))
            .agg(F.sum(F.expr("bitmap_count(bm2)")).cast("long").alias("n_parts"))
            .select(F.lit("ALL").alias("l_returnflag"), "n_parts")
        )
        # scoped (r11 ADVICE): a failed materialization must not leak the
        # persisted bitmap frame into the shared session
        return per.unionByName(merged).localCheckpoint(eager=True)


@query(
    "agg_cuped_adjustment",
    oracle="""
    WITH b AS (
      SELECT (CAST(epoch_us(min(CAST(ts AS TIMESTAMP))) AS BIGINT)
              + CAST(epoch_us(max(CAST(ts AS TIMESTAMP))) AS BIGINT)) // 2
                 AS mid
      FROM events),
    u AS (
      SELECT user_id,
             CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 8))
                  AS BIGINT) % 2 AS variant,
             CAST(COALESCE(sum(CASE WHEN CAST(epoch_us(CAST(ts AS TIMESTAMP))
                                             AS BIGINT) < b.mid
                                    THEN CAST(round(value * 100) AS BIGINT)
                               END), 0) AS BIGINT) AS pre_c,
             CAST(COALESCE(sum(CASE WHEN CAST(epoch_us(CAST(ts AS TIMESTAMP))
                                             AS BIGINT) >= b.mid
                                    THEN CAST(round(value * 100) AS BIGINT)
                               END), 0) AS BIGINT) AS post_c
      FROM events CROSS JOIN b
      GROUP BY 1, 2),
    g AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(pre_c) AS BIGINT) AS sp,
             CAST(sum(post_c) AS BIGINT) AS sq,
             CAST(sum(pre_c * pre_c) AS BIGINT) AS spp,
             CAST(sum(pre_c * post_c) AS BIGINT) AS spq
      FROM u),
    v AS (
      SELECT variant,
             CAST(count(*) AS BIGINT) AS n_users,
             CAST(sum(pre_c) AS BIGINT) AS spv,
             CAST(sum(post_c) AS BIGINT) AS sqv
      FROM u GROUP BY variant)
    SELECT variant, n_users,
           round(CAST(sqv AS DOUBLE) / n_users / 100, 9) AS mean_post,
           round(CAST(sqv AS DOUBLE) / n_users / 100
                 - ((CAST(spq AS DOUBLE)
                     - (CAST(sp AS DOUBLE) / n) * CAST(sq AS DOUBLE))
                    / (CAST(spp AS DOUBLE)
                       - (CAST(sp AS DOUBLE) / n) * CAST(sp AS DOUBLE)))
                   * (CAST(spv AS DOUBLE) / n_users / 100
                      - CAST(sp AS DOUBLE) / n / 100), 9)
               AS adjusted_mean,
           round((CAST(spq AS DOUBLE)
                  - (CAST(sp AS DOUBLE) / n) * CAST(sq AS DOUBLE))
                 / (CAST(spp AS DOUBLE)
                    - (CAST(sp AS DOUBLE) / n) * CAST(sp AS DOUBLE)), 9)
               AS theta
    FROM v CROSS JOIN g
    """,
    tags=("agg", "stats", "ab-test", "cuped"),
)
def agg_cuped_adjustment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance-reduced A/B means (Deng et al. 2013, "Improving the
    Sensitivity of Online Controlled Experiments") — the industry-standard
    experiment readout: each user's PRE-period metric (value cents before
    the time midpoint) is used as a control covariate for their
    POST-period metric; theta = cov(pre, post)/var(pre) pooled over all
    users, and each variant's adjusted mean is
    mean_post − theta·(mean_pre − grand_mean_pre). Variant assignment is
    the deterministic md5 user-hash (the sample_ab_assignment recipe), so
    both engines split users identically.

    Exactness: the same integer-moments discipline as agg_ab_welch_t —
    n, Σpre, Σpost, Σpre², Σpre·post are exact integer cent sums at any
    partitioning; theta and the adjusted means are a FIXED IEEE op
    sequence on doubles cast from those identical integers, rounded to
    9 dp on both engines (same measured-margin class as the regr_*
    family). The cross-moment products go through doubles, not int64
    (n·Σpre·post overflows int64 at the 1000x probe's user count;
    HUGEINT-vs-long would diverge).

    Plan at 100 TB: one scan for the time bounds (min/max only), one
    scan aggregating per-user pre/post (user-keyed shuffle), then two
    single-digit-row aggregates of that 1-row-per-user frame, joined as
    broadcasts. The per-user frame is the only real exchange and it's
    exactly the experiment-analysis minimum."""
    e = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    vc = F.round(F.col("value") * 100).cast("long")
    # integer div on both sides (double /2 could round differently at
    # µs-epoch magnitudes; both operands positive so floor == trunc)
    bounds = e.agg(F.min("ts").alias("mn"), F.max("ts").alias("mx")).select(
        F.expr("(unix_micros(mn) + unix_micros(mx)) div 2")
        .cast("long")
        .alias("mid")
    )
    variant = (
        F.conv(
            F.substring(F.md5(F.col("user_id").cast("string")), 1, 8), 16, 10
        ).cast("long")
        % 2
    ).alias("variant")
    u = (
        e.crossJoin(F.broadcast(bounds))
        .groupBy("user_id", variant)
        .agg(
            F.coalesce(F.sum(F.when(us < F.col("mid"), vc)), F.lit(0))
            .cast("long")
            .alias("pre_c"),
            F.coalesce(F.sum(F.when(us >= F.col("mid"), vc)), F.lit(0))
            .cast("long")
            .alias("post_c"),
        )
    )
    g = u.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("pre_c").cast("long").alias("sp"),
        F.sum("post_c").cast("long").alias("sq"),
        F.sum(F.col("pre_c") * F.col("pre_c")).cast("long").alias("spp"),
        F.sum(F.col("pre_c") * F.col("post_c")).cast("long").alias("spq"),
    )
    v = u.groupBy("variant").agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("pre_c").cast("long").alias("spv"),
        F.sum("post_c").cast("long").alias("sqv"),
    )
    sp_d, sq_d = F.col("sp").cast("double"), F.col("sq").cast("double")
    spp_d, spq_d = F.col("spp").cast("double"), F.col("spq").cast("double")
    mp = sp_d / F.col("n")
    theta = (spq_d - mp * sq_d) / (spp_d - mp * sp_d)
    mean_post = F.col("sqv").cast("double") / F.col("n_users") / F.lit(100)
    mean_pre_v = F.col("spv").cast("double") / F.col("n_users") / F.lit(100)
    grand_pre = sp_d / F.col("n") / F.lit(100)
    return v.crossJoin(F.broadcast(g)).select(
        "variant",
        "n_users",
        F.round(mean_post, 9).alias("mean_post"),
        F.round(mean_post - theta * (mean_pre_v - grand_pre), 9).alias(
            "adjusted_mean"
        ),
        F.round(theta, 9).alias("theta"),
    )


@query(
    "agg_hdr_histogram",
    oracle="""
    WITH v AS (
      SELECT CAST(round(value * 100) AS BIGINT) AS vc
      FROM events WHERE value IS NOT NULL
        AND CAST(round(value * 100) AS BIGINT) > 0),
    bucketed AS (
      SELECT CAST(floor(log2(vc)) AS BIGINT) AS e,
             (vc * 4) // (1::BIGINT << CAST(floor(log2(vc)) AS BIGINT))
               - 4 AS sub,
             vc
      FROM v),
    hist AS (
      SELECT e, CAST(sub AS BIGINT) AS sub,
             CAST(count(*) AS BIGINT) AS n,
             CAST(min(vc) AS BIGINT) AS lo_c,
             CAST(max(vc) AS BIGINT) AS hi_c
      FROM bucketed GROUP BY e, sub)
    SELECT e, sub, n, lo_c, hi_c,
           CAST(sum(n) OVER (ORDER BY e, sub
                             ROWS UNBOUNDED PRECEDING) * 1000000
                // sum(n) OVER () AS BIGINT) AS cum_ppm
    FROM hist
    """,
    tags=("agg", "histogram", "hdr", "monitoring"),
)
def agg_hdr_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HdrHistogram-style log-linear latency histogram (Tene's
    HdrHistogram, the p99-dashboard standard): each positive cent value
    lands in (exponent, sub-bucket) where the exponent is
    floor(log2(v)) and 2 sub-bucket bits split each power-of-two range
    into 4 linear slots — constant relative precision (~12.5%) across
    five orders of magnitude with at most 4·log2(max) buckets, the
    structure that makes percentile merging across hosts exact. Output
    is the full bucket table plus cumulative ppm, from which any
    quantile reads off as the first bucket with cum_ppm >= q.

    Exactness: bucket math is integer once past floor(log2(v)) — and
    log2 of an int is only near an integer boundary at exact powers of
    two, where IEEE log2 is exact in both engines (the nearest
    non-power int is >=1e-6 away in log2 space vs ~1e-16 double error,
    the monitor_psi_drift margin argument). Sub-bucket and cum_ppm use
    shift/div on longs; positive-only, so Spark's trunc == DuckDB's
    floor.

    Plan at 100 TB: one scan, map-side combine into <=64 groups, a
    64-row window. Merging per-host histograms is sum-by-bucket —
    the same algebra the partial aggregate already uses."""
    e = load_table(spark, sf_dir, "events")
    v = e.filter(F.col("value").isNotNull()).select(
        F.round(F.col("value") * 100).cast("long").alias("vc")
    ).filter(F.col("vc") > 0)
    bucketed = v.selectExpr(
        "cast(floor(log2(vc)) as bigint) AS e",
        """(vc * 4) div shiftleft(cast(1 as bigint),
                                  cast(floor(log2(vc)) as int)) - 4
           AS sub""",
        "vc",
    )
    hist = bucketed.groupBy("e", "sub").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.min("vc").cast("long").alias("lo_c"),
        F.max("vc").cast("long").alias("hi_c"),
    )
    wcum = Window.orderBy("e", "sub").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wall = Window.partitionBy()
    return hist.select(
        "e",
        F.col("sub").cast("long").alias("sub"),
        "n",
        "lo_c",
        "hi_c",
        F.sum("n").over(wcum).alias("_cum"),
        F.sum("n").over(wall).alias("_tot"),
    ).selectExpr(
        "e", "sub", "n", "lo_c", "hi_c",
        "cast((_cum * 1000000) div _tot as bigint) AS cum_ppm"
    )


@query(
    "agg_mann_whitney",
    oracle="""
    WITH x AS (
      SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS g,
             CAST(round(value * 100) AS BIGINT) AS vc
      FROM events
      WHERE event_type IN ('purchase', 'click') AND value IS NOT NULL),
    byval AS (
      SELECT vc,
             CAST(count(*) AS BIGINT) AS c,
             CAST(sum(g) AS BIGINT) AS c1
      FROM x GROUP BY vc),
    ranked AS (
      SELECT vc, c, c1,
             CAST(coalesce(sum(c) OVER (ORDER BY vc
                                        ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND 1 PRECEDING), 0) + 1
                  AS BIGINT) AS r
      FROM byval),
    sums AS (
      SELECT CAST(sum(c1) AS BIGINT) AS n1,
             CAST(sum(c - c1) AS BIGINT) AS n2,
             CAST(sum(c1 * (2 * r + c - 1)) AS BIGINT) AS two_r1,
             CAST(sum(c * c * c - c) AS BIGINT) AS tie3
      FROM ranked)
    SELECT n1, n2,
           CAST(two_r1 - n1 * (n1 + 1) AS BIGINT) AS u1_x2,
           round((CAST(two_r1 - n1 * (n1 + 1) AS DOUBLE) / 2
                  - CAST(n1 AS DOUBLE) * n2 / 2)
                 / sqrt((CAST(n1 AS DOUBLE) * n2 / 12)
                        * ((n1 + n2 + 1)
                           - CAST(tie3 AS DOUBLE)
                             / ((n1 + n2) * (CAST(n1 AS DOUBLE) + n2 - 1)))),
                 9) AS z
    FROM sums
    """,
    tags=("agg", "stats", "nonparametric", "ab-test"),
)
def agg_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Whitney U test (Wilcoxon rank-sum) between two cohorts — the
    NONPARAMETRIC sibling of agg_ab_welch_t, the test you reach for when
    metric distributions are heavy-tailed (revenue always is) and the
    t-test's normality lean is suspect. The whole computation stays in
    integers until the final z: group values by DISTINCT cent value
    (ties are first-class), the starting rank r of each value is a
    running count, and the doubled rank-sum of group 1 accumulates
    c1·(2r + c − 1) — exactly twice the average-rank convention — so the
    DOUBLED U (u1_x2) is integer-exact at any partitioning (U itself is
    half-integral under odd tie mass, so the halving stays out of the
    hashed output). The z-score applies the
    standard tie-corrected variance on doubles cast from those
    identical integers, rounded to 9 dp (the agg_ab_welch_t margin
    class).

    Plan at 100 TB: one filtered scan into a per-distinct-value
    aggregate (map-side combine eats the duplicate mass), one tiny
    ordered window over DISTINCT cent values (bounded by the value
    domain, not the row count), one 1-row fold. Contrast a naive
    per-row rank() — which shuffles every row into one ordering — with
    this per-value formulation: ranks of tied blocks are arithmetic,
    not positional."""
    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "click")
        & F.col("value").isNotNull()
    )
    x = e.select(
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("g"),
        F.round(F.col("value") * 100).cast("long").alias("vc"),
    )
    byval = x.groupBy("vc").agg(
        F.count(F.lit(1)).cast("long").alias("c"),
        F.sum("g").cast("long").alias("c1"),
    )
    wrank = Window.orderBy("vc").rowsBetween(
        Window.unboundedPreceding, -1
    )
    ranked = byval.select(
        "vc",
        "c",
        "c1",
        (F.coalesce(F.sum("c").over(wrank), F.lit(0)) + 1)
        .cast("long")
        .alias("r"),
    )
    sums = ranked.agg(
        F.sum("c1").cast("long").alias("n1"),
        F.sum(F.col("c") - F.col("c1")).cast("long").alias("n2"),
        F.sum(F.col("c1") * (2 * F.col("r") + F.col("c") - 1))
        .cast("long")
        .alias("two_r1"),
        F.sum(F.col("c") * F.col("c") * F.col("c") - F.col("c"))
        .cast("long")
        .alias("tie3"),
    )
    n1d = F.col("n1").cast("double")
    n2d = F.col("n2").cast("double")
    u_minus_mu = (
        (F.col("two_r1") - F.col("n1") * (F.col("n1") + 1)).cast("double") / 2
        - n1d * F.col("n2") / 2
    )
    var = (n1d * F.col("n2") / 12) * (
        (F.col("n1") + F.col("n2") + 1)
        - F.col("tie3").cast("double")
        / ((F.col("n1") + F.col("n2")) * (n1d + F.col("n2") - 1))
    )
    return sums.select(
        "n1",
        "n2",
        F.expr("two_r1 - n1 * (n1 + 1)").cast("long").alias("u1_x2"),
        F.round(u_minus_mu / F.sqrt(var), 9).alias("z"),
    )
