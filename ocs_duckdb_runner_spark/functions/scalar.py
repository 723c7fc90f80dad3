"""Scalar function surface (SURVEY.md §2c EXT): string, date/time, math,
conditional, JSON, and array functions.

All of these are built-in ``pyspark.sql.functions`` — JVM-side, inside
whole-stage codegen, no Python in the row path. Oracle discipline: outputs
are scalar-typed (no array-valued result columns), integer-widths matched
with CASTs (DuckDB year()→BIGINT vs Spark →INT etc.), and libm-divergent
functions (ln/exp/pow) rounded on both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ocs_duckdb_runner_spark.registry import load_table, query
from ocs_duckdb_runner_spark.session import scoped_conf


@query(
    "fn_string",
    oracle="""
    SELECT c_custkey,
           upper(c_name) AS name_up,
           lower(c_mktsegment) AS seg_lo,
           substr(c_name, 1, 8) AS name_prefix,
           trim(concat(c_name, ' ')) AS name_trim,
           CAST(length(c_name) AS INT) AS name_len,
           (c_name LIKE '%er#00000001%') AS has_pat,
           regexp_replace(c_name, '[0-9]+', '#') AS name_nonum,
           contains(c_name, '1') AS has_one,
           lpad(CAST(c_custkey AS VARCHAR), 10, '0') AS key_pad,
           split_part(c_name, '#', 1) AS name_head
    FROM customer
    """,
    tags=("function", "string"),
)
def fn_string(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String surface: case, substr, trim, concat, length, LIKE, regexp
    replace, contains, pad, split — all codegen'd JVM expressions."""
    c = load_table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.upper("c_name").alias("name_up"),
        F.lower("c_mktsegment").alias("seg_lo"),
        F.substring("c_name", 1, 8).alias("name_prefix"),
        F.trim(F.concat(F.col("c_name"), F.lit(" "))).alias("name_trim"),
        F.length("c_name").alias("name_len"),
        F.col("c_name").like("%er#00000001%").alias("has_pat"),
        F.regexp_replace("c_name", "[0-9]+", "#").alias("name_nonum"),
        F.contains(F.col("c_name"), F.lit("1")).alias("has_one"),
        F.lpad(F.col("c_custkey").cast("string"), 10, "0").alias("key_pad"),
        F.split_part(F.col("c_name"), F.lit("#"), F.lit(1)).alias("name_head"),
    )


@query(
    "fn_date",
    oracle="""
    SELECT o_orderkey,
           CAST(year(o_orderdate) AS INT) AS yr,
           CAST(month(o_orderdate) AS INT) AS mo,
           CAST(day(o_orderdate) AS INT) AS dy,
           CAST(quarter(o_orderdate) AS INT) AS qtr,
           CAST(dayofweek(o_orderdate) AS INT) + 1 AS dow,
           date_trunc('month', o_orderdate) AS month_start,
           CAST(date_diff('day', TIMESTAMP '2024-01-01 00:00:00', o_orderdate)
                AS INT) AS days_since,
           CAST(o_orderdate + INTERVAL 30 DAY AS TIMESTAMP) AS due_ts,
           strftime(o_orderdate, '%Y-%m-%d') AS iso_day
    FROM orders
    """,
    tags=("function", "date"),
)
def fn_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time surface on o_orderdate: extraction, truncation, diff,
    interval arithmetic, formatting. Width CASTs + the dow convention
    (DuckDB dayofweek: 0=Sunday; Spark: 1=Sunday) are aligned in the
    oracle, not patched in the engine."""
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("yr"),
        F.month("o_orderdate").alias("mo"),
        F.dayofmonth("o_orderdate").alias("dy"),
        F.quarter("o_orderdate").alias("qtr"),
        F.dayofweek("o_orderdate").alias("dow"),
        F.date_trunc("month", "o_orderdate").alias("month_start"),
        F.datediff(
            F.col("o_orderdate").cast("date"), F.lit("2024-01-01").cast("date")
        ).alias("days_since"),
        (F.col("o_orderdate") + F.expr("INTERVAL 30 DAY")).alias("due_ts"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("iso_day"),
    )


@query(
    "fn_math",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           round(l_extendedprice, 1) AS price_r1,
           abs(l_discount - 0.05) AS disc_dev,
           CAST(ceil(l_extendedprice / 1000) AS BIGINT) AS price_kceil,
           CAST(floor(l_quantity / 7) AS BIGINT) AS qty_floor7,
           sqrt(l_extendedprice) AS price_sqrt,
           round(ln(l_extendedprice), 6) AS price_ln,
           round(exp(l_discount), 6) AS disc_exp,
           round(pow(l_quantity, 2), 6) AS qty_sq,
           l_orderkey % 97 AS okey_mod,
           CAST(sign(l_discount - 0.05) AS DOUBLE) AS disc_sign
    FROM lineitem
    """,
    tags=("function", "math"),
)
def fn_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math surface. sqrt is IEEE-correctly-rounded in both engines (exact
    compare); ln/exp/pow go through differing libm implementations so both
    sides round to 6 digits."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round("l_extendedprice", 1).alias("price_r1"),
        F.abs(F.col("l_discount") - 0.05).alias("disc_dev"),
        F.ceil(F.col("l_extendedprice") / 1000).alias("price_kceil"),
        F.floor(F.col("l_quantity") / 7).alias("qty_floor7"),
        F.sqrt("l_extendedprice").alias("price_sqrt"),
        F.round(F.log("l_extendedprice"), 6).alias("price_ln"),
        F.round(F.exp("l_discount"), 6).alias("disc_exp"),
        F.round(F.pow("l_quantity", F.lit(2.0)), 6).alias("qty_sq"),
        (F.col("l_orderkey") % 97).alias("okey_mod"),
        F.signum(F.col("l_discount") - 0.05).alias("disc_sign"),
    )


@query(
    "fn_case_coalesce",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_totalprice > 250000 THEN 'high'
                WHEN o_totalprice > 100000 THEN 'mid'
                ELSE 'low' END AS price_band,
           coalesce(nullif(o_orderstatus, 'O'), 'open') AS status_or_open,
           greatest(o_totalprice, 100000.0) AS price_floor100k,
           least(CAST(o_custkey AS BIGINT), o_orderkey) AS min_key,
           (o_totalprice > 200000 AND o_orderpriority = '1-URGENT') AS hot
    FROM orders
    """,
    tags=("function", "conditional"),
)
def fn_case_coalesce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional surface: CASE WHEN chains, coalesce, nullif,
    greatest/least, boolean expressions as values."""
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.when(F.col("o_totalprice") > 250000, "high")
        .when(F.col("o_totalprice") > 100000, "mid")
        .otherwise("low")
        .alias("price_band"),
        F.coalesce(F.nullif(F.col("o_orderstatus"), F.lit("O")), F.lit("open")).alias(
            "status_or_open"
        ),
        F.greatest(F.col("o_totalprice"), F.lit(100000.0)).alias("price_floor100k"),
        F.least(F.col("o_custkey"), F.col("o_orderkey")).alias("min_key"),
        ((F.col("o_totalprice") > 200000) & (F.col("o_orderpriority") == "1-URGENT"))
        .alias("hot"),
    )


@query(
    "fn_json",
    oracle="""
    SELECT event_id, event_type,
           json_extract_string(props, '$.k') AS k_str,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_num,
           (CAST(json_extract_string(props, '$.k') AS BIGINT) > 50) AS k_high,
           coalesce(json_extract_string(props, '$.missing'), '?') AS missing_or_q
    FROM events
    """,
    tags=("function", "json"),
)
def fn_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-in-string extraction from events.props — get_json_object
    (JsonPath) with string/numeric casts and absent-key NULL semantics."""
    e = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k")
    return e.select(
        "event_id",
        "event_type",
        k.alias("k_str"),
        k.cast("long").alias("k_num"),
        (k.cast("long") > 50).alias("k_high"),
        F.coalesce(F.get_json_object("props", "$.missing"), F.lit("?")).alias(
            "missing_or_q"
        ),
    )


@query(
    "fn_array",
    oracle="""
    SELECT vec_id, label,
           CAST(len(embedding) AS INT) AS dim,
           CAST(embedding[1] AS DOUBLE) AS first_val,
           CAST(embedding[64] AS DOUBLE) AS last_val,
           round(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE))), 4)
             AS vec_sum,
           round(CAST(list_max(embedding) AS DOUBLE), 4) AS vec_max,
           list_contains(embedding, CAST(0.0 AS FLOAT)) AS has_zero
    FROM embeddings
    """,
    tags=("function", "array"),
)
def fn_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array surface over embeddings.embedding (array<float>, dim 64):
    size, element access, higher-order aggregate (F.aggregate — the
    JVM-side fold used again for cosine similarity), max, membership.
    Scalar outputs only (array-valued result columns hash differently
    across engines' pandas bridges)."""
    e = load_table(spark, sf_dir, "embeddings")
    vec_sum = F.aggregate(
        "embedding", F.lit(0.0), lambda acc, x: acc + x.cast("double")
    )
    return e.select(
        "vec_id",
        "label",
        F.size("embedding").alias("dim"),
        F.element_at("embedding", 1).cast("double").alias("first_val"),
        F.element_at("embedding", 64).cast("double").alias("last_val"),
        F.round(vec_sum, 4).alias("vec_sum"),
        F.round(F.array_max("embedding").cast("double"), 4).alias("vec_max"),
        F.array_contains("embedding", F.lit(0.0).cast("float")).alias("has_zero"),
    )


@query(
    "fn_json_variant",
    oracle="""
    SELECT event_id,
           CAST(json_extract(props, '$.k') AS BIGINT) AS k_int,
           CAST(json_extract(props, '$.k') AS DOUBLE) AS k_dbl,
           json_extract_string(props, '$.k') AS k_str,
           CAST(json_extract(props, '$.missing') AS BIGINT) AS miss_int,
           json_type(json(props)) AS top_type
    FROM events
    WHERE event_id % 100 = 0
    """,
    tags=("function", "json", "variant"),
)
def fn_json_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The VariantType semi-structured path (Spark 4): parse_json once
    into a binary variant, then typed variant_get extractions — unlike
    fn_json's per-path get_json_object string re-parses, the variant is
    decoded ONCE per row and every field access is a typed offset lookup,
    which is the whole point at 100 TB (Parquet variant shredding pushes
    the decode into the scan). try_variant_get returns NULL for absent
    paths; schema_of_variant exposes the inferred top-level type.
    DuckDB's json_extract family is the oracle equivalent."""
    e = load_table(spark, sf_dir, "events").filter(F.col("event_id") % 100 == 0)
    v = F.parse_json("props")
    return e.select(
        "event_id",
        F.variant_get(v, "$.k", "bigint").alias("k_int"),
        F.variant_get(v, "$.k", "double").alias("k_dbl"),
        F.variant_get(v, "$.k", "string").alias("k_str"),
        F.try_variant_get(v, "$.missing", "bigint").alias("miss_int"),
        # top-level kind only: Spark spells the full struct schema
        # (OBJECT<k: BIGINT>), DuckDB's json_type just the kind (OBJECT)
        F.regexp_extract(F.schema_of_variant(v), "^[A-Z]+", 0).alias("top_type"),
    )


@query(
    "fn_interval_arith",
    oracle="""
    SELECT o_orderkey,
           CAST(o_orderdate AS TIMESTAMP) + INTERVAL 3 MONTH AS due_month,
           CAST(o_orderdate AS TIMESTAMP) + INTERVAL 45 DAY AS due_45d,
           CAST(date_diff('month', DATE '1995-01-01',
                          CAST(o_orderdate AS TIMESTAMP)) AS BIGINT)
             AS months_since_95,
           CAST(last_day(CAST(o_orderdate AS TIMESTAMP)) AS TIMESTAMP)
             AS month_end
    FROM orders WHERE o_orderkey % 100 = 0
    """,
    tags=("function", "date", "interval"),
)
def fn_interval_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-interval arithmetic — the date surface fn_date leaves
    out: month-interval addition (calendar-aware: Jan 31 + 1 month
    clamps), day-interval addition, whole-month differences, and
    month-end snapping. All calendar logic, no epoch math, so both
    engines must agree on the same civil-calendar rules."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 100 == 0)
    return o.select(
        "o_orderkey",
        F.add_months(F.col("o_orderdate"), 3).cast("timestamp").alias("due_month"),
        F.date_add(F.col("o_orderdate"), 45).cast("timestamp").alias("due_45d"),
        F.floor(
            F.months_between(F.col("o_orderdate"), F.lit("1995-01-01"))
        ).cast("long").alias("months_since_95"),
        F.last_day(F.col("o_orderdate")).cast("timestamp").alias("month_end"),
    )


@query(
    "fn_collation_ci",
    oracle="""
    SELECT lower(c_mktsegment) AS seg_ci,
           CAST(count(*) AS BIGINT) AS n,
           min(c_name) AS first_name
    FROM (SELECT CASE WHEN c_custkey % 3 = 0 THEN lower(c_mktsegment)
                      WHEN c_custkey % 3 = 1 THEN upper(c_mktsegment)
                      ELSE c_mktsegment END AS c_mktsegment,
                 c_name, c_custkey
          FROM customer)
    GROUP BY lower(c_mktsegment)
    """,
    tags=("function", "collation"),
)
def fn_collation_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collation-aware grouping (Spark 4 collations): the segment column is
    deliberately case-mangled, then grouped under the UTF8_LCASE collation
    — equality/grouping ignore case WITHOUT rewriting the data, the way a
    collation (not a lower() scrub) handles it. The emitted group key is
    normalized to lower() so both engines print the same representative;
    the grouping itself runs on the collated value (DuckDB mirrors with a
    lower() group, the portable equivalent)."""
    c = load_table(spark, sf_dir, "customer")
    mangled = (
        F.when(F.col("c_custkey") % 3 == 0, F.lower("c_mktsegment"))
        .when(F.col("c_custkey") % 3 == 1, F.upper("c_mktsegment"))
        .otherwise(F.col("c_mktsegment"))
    )
    d = c.select(mangled.alias("seg"), "c_name")
    return (
        d.groupBy(F.collate(F.col("seg"), "UTF8_LCASE").alias("seg_coll"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("c_name").alias("first_name"),
        )
        .select(
            F.lower(F.col("seg_coll")).cast("string").alias("seg_ci"),
            "n",
            "first_name",
        )
    )


@query(
    "fn_ansi_try_ops",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CASE WHEN l_quantity - l_quantity = 0 THEN NULL
                ELSE l_extendedprice / (l_quantity - l_quantity) END
             AS div_by_zero,
           CAST(CAST(round(l_extendedprice * 100) AS BIGINT) * 10000
                // nullif(CAST(l_quantity AS BIGINT), 0) AS BIGINT)
             AS unit_price_uc,
           TRY_CAST(l_returnflag AS BIGINT) AS flag_as_num,
           TRY_CAST(CAST(l_orderkey AS VARCHAR) AS BIGINT) AS key_roundtrip
    FROM lineitem WHERE l_orderkey % 100 = 0
    """,
    tags=("function", "ansi", "error-handling"),
)
def fn_ansi_try_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI-safe error-handling surface: try_divide (NULL on zero
    divisor, never a runtime error or an Inf that poisons an aggregate),
    nullif-guarded division, and try_cast for lossy casts (non-numeric
    string → NULL, numeric round-trip → value). This is the semantics a
    pipeline wants under ANSI mode — a bad row yields NULL and flows to
    a quarantine filter instead of killing a 100 TB job."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 100 == 0)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.try_divide(
            F.col("l_extendedprice"), F.col("l_quantity") - F.col("l_quantity")
        ).alias("div_by_zero"),
        # exact integer micro-cents, not round(/, 6): a quotient landing
        # exactly on a half (…1875) rounds HALF_UP in Spark vs nearest in
        # DuckDB — integer division sidesteps the tie entirely
        F.expr(
            "CAST(round(l_extendedprice * 100) AS BIGINT) * 10000"
            " div nullif(CAST(l_quantity AS BIGINT), 0)"
        ).alias("unit_price_uc"),
        F.try_to_number(F.col("l_returnflag"), F.lit("999")).cast("long").alias(
            "flag_as_num"
        ),
        F.col("l_orderkey").cast("string").try_cast("long").alias("key_roundtrip"),
    )


@query(
    "fn_sql_pipe_syntax",
    oracle="""
    SELECT l_returnflag,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
               AS revenue_c
    FROM lineitem
    WHERE l_quantity < 25
    GROUP BY l_returnflag
    """,
    tags=("functions", "sql", "pipe"),
)
def fn_sql_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 SQL PIPE syntax (|>) + named-parameter binding — the two
    newest entry points on the SQL surface, exercised together: the
    query streams FROM → WHERE → AGGREGATE → SELECT left-to-right (the
    composable form readers of dplyr/PRQL expect; each |> stage is sugar
    over the same Catalyst operators, so the PLAN is identical to the
    classic form), and the filter threshold arrives as a bound :param
    (spark.sql(..., args=...)) rather than string interpolation — the
    injection-safe pattern for parameterized analytics. The oracle is
    the classic-SQL equivalent, proving the sugar changes nothing about
    the result."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "fn_pipe_lineitem"
    )
    return spark.sql(
        """
        FROM fn_pipe_lineitem
        |> WHERE l_quantity < :qty
        |> AGGREGATE count(*) AS n,
                     sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                         AS revenue_c
           GROUP BY l_returnflag
        |> SELECT l_returnflag, n, revenue_c
        """,
        args={"qty": 25},
    )


@query(
    "fn_recursive_cte",
    oracle="""
    WITH RECURSIVE sp(n) AS (
      SELECT 0
      UNION ALL
      SELECT n + 1 FROM sp WHERE n < 83
    ),
    agg AS (
      SELECT date_trunc('month', o_orderdate) AS m,
             CAST(count(*) AS BIGINT) AS n_orders,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS revenue_c
      FROM orders GROUP BY 1)
    SELECT m.month_start,
           coalesce(a.n_orders, 0) AS n_orders,
           coalesce(a.revenue_c, 0) AS revenue_c
    FROM (SELECT make_timestamp(1995 + n // 12, 1 + n % 12, 1, 0, 0, 0)
                   AS month_start
          FROM sp) m
    LEFT JOIN agg a ON a.m = m.month_start
    """,
    tags=("functions", "sql", "recursive"),
)
def fn_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4.1 recursive CTE (WITH RECURSIVE) driving a calendar-spine
    gap-fill: generate every month of the fixture's order window
    recursively, left-join it onto the PRE-AGGREGATED per-month order
    stats, and report order count + fixed-point revenue INCLUDING the
    empty months a plain GROUP BY would silently drop — the standard
    time-series densify step before charting or forecasting.

    Order matters for scale: aggregate FIRST, join the spine AFTER. The
    first draft joined row-level orders against the spine and let the
    planner choose — at test scale AQE broadcast the (small) fact side,
    but at 100 TB that degenerates to shuffling the whole fact on ~80
    month keys, a worst-case skew join. Aggregating first means the
    fact crosses ONE map-side-combined exchange carrying ≤ #partitions
    × 84 partial rows, and the spine join is an 84×84 triviality. The
    oracle is DuckDB's WITH RECURSIVE — both engines run the same
    fixpoint semantics."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "fn_rc_orders"
    )
    return spark.sql(
        """
        WITH RECURSIVE sp(n) AS (
          SELECT 0
          UNION ALL
          SELECT n + 1 FROM sp WHERE n < 83
        ),
        agg AS (
          SELECT date_trunc('MONTH', o_orderdate) AS m,
                 count(*) AS n_orders,
                 CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                      AS BIGINT) AS revenue_c
          FROM fn_rc_orders GROUP BY 1)
        SELECT m.month_start,
               coalesce(a.n_orders, CAST(0 AS BIGINT)) AS n_orders,
               coalesce(a.revenue_c, CAST(0 AS BIGINT)) AS revenue_c
        FROM (SELECT make_timestamp(1995 + n DIV 12, 1 + n % 12,
                                    1, 0, 0, 0) AS month_start
              FROM sp) m
        LEFT JOIN agg a ON a.m = m.month_start
        """
    )


@query(
    "fn_variant_json",
    oracle="""
    SELECT o_orderkey,
           o_orderkey AS key_v,
           o_totalprice AS price_v,
           o_orderstatus AS status_v,
           o_orderpriority AS tag2_v
    FROM orders
    """,
    tags=("functions", "json", "variant"),
)
def fn_variant_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 VARIANT round trip: serialize order fields to a JSON
    string, parse_json() into the binary VARIANT encoding, then extract
    typed values back out with variant_get path expressions (nested
    object field, array index). The oracle reads the same values
    straight off the columns — so a hash match proves the
    JSON→VARIANT→typed-path loop is lossless, including the
    double-through-shortest-repr property src_json_roundtrip pins for
    the JSONL writer. VARIANT is the 100 TB answer to semi-structured
    columns: shredded binary encoding, no per-row string re-parsing
    after ingest, and path extraction stays JVM-side."""
    o = load_table(spark, sf_dir, "orders")
    j = F.to_json(
        F.struct(
            F.col("o_orderkey").alias("k"),
            F.col("o_totalprice").alias("p"),
            F.struct(F.col("o_orderstatus").alias("s")).alias("meta"),
            F.array(F.col("o_orderstatus"), F.col("o_orderpriority")).alias(
                "tags"
            ),
        )
    )
    return (
        o.select("o_orderkey", F.parse_json(j).alias("v"))
        .selectExpr(
            "o_orderkey",
            "variant_get(v, '$.k', 'bigint') AS key_v",
            "variant_get(v, '$.p', 'double') AS price_v",
            "variant_get(v, '$.meta.s', 'string') AS status_v",
            "variant_get(v, '$.tags[1]', 'string') AS tag2_v",
        )
    )


@query(
    "fn_sql_scripting",
    oracle="""
    WITH cut AS (
      SELECT sum(CAST(round(o_totalprice * 100) AS BIGINT))
               // count(*) AS cut_c
      FROM orders)
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_above,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS rev_c
    FROM orders, cut
    WHERE CAST(round(o_totalprice * 100) AS BIGINT) > cut.cut_c
    GROUP BY o_orderstatus
    """,
    tags=("functions", "sql", "scripting"),
)
def fn_sql_scripting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 SQL scripting (BEGIN…END with DECLARE/SET procedural
    state): stage one — compute a data-driven threshold (the mean order
    price, in exact integer cents so both engines derive the identical
    cut with no float-order drift) into a script variable; stage two —
    the variable parameterizes the aggregate that follows, all inside
    ONE spark.sql() call. This is the migration path for stored-proc
    workloads: the script runs on the driver as control flow, each
    statement is still a full Catalyst plan, so the data path scales
    exactly like the equivalent two queries. The oracle is the same
    logic as a CTE join — proving the procedural sugar changes no
    values."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "fn_script_orders"
    )
    return spark.sql(
        """
        BEGIN
          DECLARE cut_c BIGINT DEFAULT 0;
          SET cut_c = (
            SELECT sum(CAST(round(o_totalprice * 100) AS BIGINT))
                     DIV count(*)
            FROM fn_script_orders);
          SELECT o_orderstatus,
                 count(*) AS n_above,
                 CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                      AS BIGINT) AS rev_c
          FROM fn_script_orders
          WHERE CAST(round(o_totalprice * 100) AS BIGINT) > cut_c
          GROUP BY o_orderstatus;
        END
        """
    )


@query(
    "fn_string_mask",
    oracle="""
    SELECT c_custkey,
           regexp_replace(regexp_replace(regexp_replace(c_name,
               '[A-Z]', 'X', 'g'), '[a-z]', 'x', 'g'), '[0-9]', 'n', 'g')
             AS masked,
           split_part(c_name, '#', 2) AS key_part,
           CAST(len(regexp_extract_all(c_name, '[0-9]+')) AS INTEGER)
             AS n_digit_runs,
           printf('%s|%09d', c_mktsegment, c_custkey) AS seg_tag
    FROM customer
    """,
    tags=("functions", "string", "spark4"),
)
def fn_string_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The data-masking string surface: ``mask()`` (Spark's built-in
    PII-shape anonymizer — uppercase→X, lowercase→x, digit→n, punctuation
    kept), ``split_part`` field extraction, ``regexp_count``, and
    ``format_string`` tagging — the column-level redaction pass a
    training-data pipeline runs before exporting identifier-bearing
    columns. All four are JVM expressions inside one whole-stage-codegen
    projection: zero shuffles, pruned scan. The oracle spells mask() as
    the equivalent three-regex chain, so a hash match proves the
    builtin's character-class semantics exactly; format_string and
    DuckDB's printf share the %-spec dialect for these specifiers."""
    c = load_table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.expr("mask(c_name)").alias("masked"),
        F.expr("split_part(c_name, '#', 2)").alias("key_part"),
        F.expr("regexp_count(c_name, '[0-9]+')").alias("n_digit_runs"),
        F.format_string(
            "%s|%09d", F.col("c_mktsegment"), F.col("c_custkey")
        ).alias("seg_tag"),
    )


@query(
    "fn_time_type",
    oracle="""
    SELECT event_type,
           CAST(min(CAST(ts AS TIME)) AS VARCHAR) AS first_tod,
           CAST(max(CAST(ts AS TIME)) AS VARCHAR) AS last_tod,
           CAST(count(*) FILTER (WHERE CAST(ts AS TIME) >= TIME '09:00:00'
                                   AND CAST(ts AS TIME) <  TIME '17:00:00')
                AS BIGINT) AS business_hours_events,
           CAST(count(*) AS BIGINT) AS n_events
    FROM events
    GROUP BY event_type
    """,
    tags=("functions", "time", "spark41"),
)
def fn_time_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4.1 TIME data type (spark.sql.timeType.enabled): derive the
    time-of-day of each event as a first-class TIME(6) value, compare it
    against TIME literals (the business-hours window), and aggregate
    MIN/MAX in the TIME domain — the wall-clock-profile query class
    (shift coverage, trading-hours gating, daily seasonality) that
    previously needed error-prone seconds-since-midnight arithmetic.

    Spark 4.1 does not yet cast TIMESTAMP_NTZ directly to TIME, so the
    time-of-day is built with to_time(date_format(ts, 'HH:mm:ss.SSSSSS'))
    — still whole-stage-codegen'd, still map-side. The final projection
    casts TIME back to STRING, where both engines trim trailing
    fractional zeros identically ('00:16:06.73809'), making the new type
    value-hashable cross-engine. Scale shape: one map pass + one
    event_type-keyed agg; TIME(6) is an 8-byte physical value, so the
    exchange carries fixed-width keys, never formatted strings."""
    # The TIME type gate is only needed at parse/analysis time (TIME
    # literals and to_time resolution happen inside spark.sql()); restore
    # the prior value immediately so the shared session's planner state
    # isn't mutated for unrelated queries running on the fan-out threads.
    with scoped_conf(spark, {"spark.sql.timeType.enabled": "true"}):
        load_table(spark, sf_dir, "events").createOrReplaceTempView(
            "fn_time_events"
        )
        return spark.sql(
            """
            SELECT event_type,
                   CAST(min(tod) AS STRING) AS first_tod,
                   CAST(max(tod) AS STRING) AS last_tod,
                   count(CASE WHEN tod >= TIME '09:00:00'
                               AND tod <  TIME '17:00:00' THEN 1 END)
                     AS business_hours_events,
                   count(*) AS n_events
            FROM (SELECT event_type,
                         to_time(date_format(ts, 'HH:mm:ss.SSSSSS')) AS tod
                  FROM fn_time_events)
            GROUP BY event_type
            """
        )


@query(
    "fn_exec_immediate",
    oracle="""
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS total_c
    FROM orders
    WHERE o_orderstatus = 'F'
    GROUP BY o_orderpriority
    """,
    tags=("functions", "sql", "spark4"),
)
def fn_exec_immediate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 EXECUTE IMMEDIATE — dynamic SQL with parameter BINDING
    (USING) instead of string interpolation: the query text arrives as a
    string (the pattern behind templated dashboards / stored-procedure
    migrations) and the filter value binds as a positional marker, so
    user input can never splice into the statement. The statement
    compiles to exactly the same Catalyst plan as the static form (the
    oracle), because EXECUTE IMMEDIATE is a parse-time indirection, not
    an interpreter: one pruned scan + one hash aggregate, no penalty for
    going dynamic."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "fn_exec_orders"
    )
    return spark.sql(
        """
        EXECUTE IMMEDIATE
        'SELECT o_orderpriority,
                count(*) AS n_orders,
                sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS total_c
         FROM fn_exec_orders
         WHERE o_orderstatus = ?
         GROUP BY o_orderpriority'
        USING 'F'
        """
    )


@query(
    "fn_identifier_dynamic",
    oracle="""
    SELECT c_mktsegment,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT)
               AS balance_c
    FROM customer
    GROUP BY c_mktsegment
    """,
    tags=("functions", "sql", "spark4"),
)
def fn_identifier_dynamic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IDENTIFIER() clause + session variables (Spark 4): the table AND
    the grouping column are chosen at runtime from DECLAREd variables,
    resolved through IDENTIFIER(...) — the injection-safe alternative to
    f-string SQL for multi-tenant / per-dataset dashboards (an
    identifier can only ever BE an identifier; a value that isn't a
    valid name fails analysis rather than splicing syntax). Resolution
    happens at analysis time, so the executed plan is the ordinary
    static aggregate over the named table — same scan pruning, same
    exchange — as the oracle proves."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView(
        "fn_ident_customer"
    )
    spark.sql("DECLARE OR REPLACE v_ident_tbl STRING DEFAULT 'x'")
    spark.sql("DECLARE OR REPLACE v_ident_col STRING DEFAULT 'x'")
    try:
        spark.sql("SET VAR v_ident_tbl = 'fn_ident_customer'")
        spark.sql("SET VAR v_ident_col = 'c_mktsegment'")
        df = spark.sql(
            """
            SELECT IDENTIFIER(v_ident_col) AS c_mktsegment,
                   count(*) AS n_customers,
                   sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS balance_c
            FROM IDENTIFIER(v_ident_tbl)
            GROUP BY IDENTIFIER(v_ident_col)
            """
        )
        # IDENTIFIER() and variable refs resolve at ANALYSIS time; touch
        # the schema so the plan is fully resolved before the variables
        # are dropped — the returned frame then executes independently of
        # session state (session-hygiene standard set by the r10 timeType
        # fix: no v_ident_* variables remain visible after the query).
        df.schema
        return df
    finally:
        spark.sql("DROP TEMPORARY VARIABLE IF EXISTS v_ident_tbl")
        spark.sql("DROP TEMPORARY VARIABLE IF EXISTS v_ident_col")


@query(
    "fn_sql_sugar",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS total_c
    FROM (SELECT * EXCLUDE (o_orderkey, o_custkey, o_orderdate)
          FROM orders)
    GROUP BY ALL ORDER BY ALL
    """,
    tags=("functions", "sql", "spark4", "sugar"),
)
def fn_sql_sugar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL analyst-ergonomics sugar (Spark 4): GROUP BY ALL (group on
    every non-aggregate select item), ORDER BY ALL, and star-EXCEPT
    projection (SELECT * EXCEPT (cols) — DuckDB spells it EXCLUDE, the
    dialect note this oracle encodes). These shorthands are what ad-hoc
    exploration actually types; an engine claiming migration parity has
    to resolve them identically, not just the longhand.

    Resolution happens entirely in the analyzer — the optimized plan is
    byte-identical to the explicit GROUP BY/ORDER BY/projection, so the
    physical shape is flagship's: pruned scan into one partial+final
    hash aggregate, TakeOrdered on two grouping keys."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "fn_sugar_orders"
    )
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               count(*) AS n_orders,
               sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS total_c
        FROM (SELECT * EXCEPT (o_orderkey, o_custkey, o_orderdate)
              FROM fn_sugar_orders)
        GROUP BY ALL ORDER BY ALL
        """
    )


@query(
    "fn_sql_params",
    oracle="""
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(max(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS max_total_c
    FROM orders
    WHERE o_totalprice >= 150000.0 AND o_orderpriority IN ('1-URGENT', '2-HIGH')
    GROUP BY o_orderstatus
    """,
    tags=("functions", "sql", "spark4", "parameters"),
)
def fn_sql_params(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parameterized SQL (Spark 3.4+ spark.sql(sql, args)) — named
    parameter markers bound server-side, the injection-safe surface
    every application layer should use instead of f-string SQL (and the
    reason EXECUTE IMMEDIATE ... USING in fn_exec_immediate has a
    programmatic twin). Binding happens at parse time, so the optimizer
    sees LITERALS: the predicate folds, pushes to the scan, and prunes
    partitions exactly as if the constants were inlined — parameters
    cost nothing at plan quality (verified: PushedFilters carries the
    bound threshold).

    The oracle inlines the same constants — the equivalence under test
    IS "bound parameter == inlined literal"."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "fn_params_orders"
    )
    return spark.sql(
        """
        SELECT o_orderstatus,
               count(*) AS n_orders,
               max(CAST(round(o_totalprice * 100) AS BIGINT)) AS max_total_c
        FROM fn_params_orders
        WHERE o_totalprice >= :min_total
          AND o_orderpriority IN (:p1, :p2)
        GROUP BY o_orderstatus
        """,
        args={"min_total": 150000.0, "p1": "1-URGENT", "p2": "2-HIGH"},
    )


@query(
    "fn_sql_udf",
    oracle="""
    SELECT l_returnflag,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                         AS BIGINT)) AS BIGINT) AS revenue_c
    FROM lineitem
    WHERE l_quantity >= 25.0
    GROUP BY l_returnflag
    """,
    tags=("functions", "sql", "spark4", "udf"),
)
def fn_sql_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-defined functions (Spark 4 CREATE FUNCTION DDL): a scalar UDF
    (RETURNS BIGINT RETURN expr) and a parameterized table function
    (RETURNS TABLE ... RETURN SELECT) — the catalog surface teams use to
    share business logic without shipping Python. Unlike udf_surface's
    deliberate row-at-a-time slow path, SQL UDFs are pure analyzer
    sugar: the body INLINES into the calling plan, so the scalar UDF
    compiles into the aggregate expression and the table function's
    parameterized predicate folds to a literal that reaches the scan
    (PushedFilters carries l_quantity >= 25.0 — pinned in
    tests/test_plans.py). Zero runtime cost at any scale; the oracle is
    the fully-inlined equivalent, which is exactly the equivalence the
    feature promises.

    Function names are query-prefixed so the 8-thread fan-out runner's
    shared session never sees two queries racing on one catalog name
    (CREATE OR REPLACE of an identical body is idempotent)."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "fn_sqludf_lineitem"
    )
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION fn_sqludf_disc_c(
            p DOUBLE, d DOUBLE)
        RETURNS BIGINT
        RETURN CAST(round(p * (1 - d) * 100) AS BIGINT)
        """
    )
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION fn_sqludf_lines(min_qty DOUBLE)
        RETURNS TABLE (l_returnflag STRING, l_extendedprice DOUBLE,
                       l_discount DOUBLE)
        RETURN SELECT l_returnflag, l_extendedprice, l_discount
               FROM fn_sqludf_lineitem
               WHERE l_quantity >= min_qty
        """
    )
    return spark.sql(
        """
        SELECT l_returnflag,
               count(*) AS n_lines,
               sum(fn_sqludf_disc_c(l_extendedprice, l_discount))
                   AS revenue_c
        FROM fn_sqludf_lines(25.0)
        GROUP BY l_returnflag
        """
    )


@query(
    "fn_lateral_alias",
    oracle="""
    SELECT l_returnflag, size_class,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(sum(net_after_tax_c) AS BIGINT) AS net_after_tax_sum_c
    FROM (
      SELECT l_returnflag,
             CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)
                 - CAST(round(l_extendedprice * l_tax * 100) AS BIGINT)
                 AS net_after_tax_c,
             CASE WHEN CAST(round(l_extendedprice * (1 - l_discount) * 100)
                            AS BIGINT)
                       - CAST(round(l_extendedprice * l_tax * 100) AS BIGINT)
                       > 5000000
                  THEN 'big' ELSE 'small' END AS size_class
      FROM lineitem)
    GROUP BY l_returnflag, size_class
    """,
    tags=("functions", "sql", "sugar", "lateral-alias"),
)
def fn_lateral_alias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL COLUMN ALIASES (Spark 3.4+): a SELECT item referencing a
    sibling alias defined earlier in the SAME select list — net_c feeds
    net_after_tax_c feeds size_class, three derivation steps written
    once each instead of inlined combinatorially (the oracle shows the
    pre-feature expansion: every downstream reference re-states the full
    upstream expression). Resolution is pure analyzer rewrite — the
    optimized plan is identical to the expanded form, so the aggregate
    above the chain keeps flagship's shape: one pruned scan into a
    partial+final hash aggregate."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "fn_lca_lineitem"
    )
    return spark.sql(
        """
        SELECT l_returnflag, size_class,
               count(*) AS n_lines,
               sum(net_after_tax_c) AS net_after_tax_sum_c
        FROM (
          SELECT l_returnflag,
                 CAST(round(l_extendedprice * (1 - l_discount) * 100)
                      AS BIGINT) AS net_c,
                 net_c - CAST(round(l_extendedprice * l_tax * 100) AS BIGINT)
                     AS net_after_tax_c,
                 CASE WHEN net_after_tax_c > 5000000
                      THEN 'big' ELSE 'small' END AS size_class
          FROM fn_lca_lineitem)
        GROUP BY l_returnflag, size_class
        """
    )
