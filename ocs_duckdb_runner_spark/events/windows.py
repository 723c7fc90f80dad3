"""Event-time windowing over the events table (SURVEY.md §2c): tumbling,
sliding, and gap-based session windows — batch semantics, each the exact
twin of the Structured Streaming variant in streaming/stream_queries.py.

Timestamp discipline: events.ts is parquet timestamp[ns]; the loader
truncates to µs (registry.load_table) and every oracle applies the same
CAST(ts AS TIMESTAMP) truncation, so both engines bucket identical µs
values. Value sums use fixed-point cents (exactness.py) so window
aggregates are order-independent.

Scale notes: tumbling/sliding windows are plain hash aggregations on
(window, key) — one shuffle, partial map-side combine; session windows
shuffle once on user_id then merge gaps within each partition. None of
these materialize per-event state on the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ocs_duckdb_runner_spark.exactness import fx_sum, sql_fx_sum
from ocs_duckdb_runner_spark.registry import load_table, query


TUMBLING_ORACLE = f"""
    SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS window_start,
           event_type,
           CAST(count(*) AS BIGINT) AS n,
           {sql_fx_sum('value')} AS sum_value_c
    FROM events
    GROUP BY 1, 2
    """


@query(
    "event_tumbling",
    oracle=TUMBLING_ORACLE,
    tags=("events", "window"),
)
def event_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour windows × event_type: count + exact value sum.
    window('1 hour').start ≡ date_trunc('hour') — asserted by the oracle."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), fx_sum("value").alias("sum_value_c"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n",
            "sum_value_c",
        )
    )


SLIDING_ORACLE = f"""
    WITH e AS (SELECT epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_type, value
               FROM events),
    w AS (SELECT make_timestamp((us // 1800000000) * 1800000000) AS window_start,
                 event_type, value FROM e
          UNION ALL
          SELECT make_timestamp((us // 1800000000) * 1800000000
                                - 1800000000) AS window_start,
                 event_type, value FROM e)
    SELECT window_start, event_type,
           CAST(count(*) AS BIGINT) AS n,
           {sql_fx_sum('value')} AS sum_value_c
    FROM w
    GROUP BY 1, 2
    """


@query(
    "event_sliding",
    oracle=SLIDING_ORACLE,
    tags=("events", "window"),
)
def event_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (1 hour every 30 minutes): each event lands in
    exactly two windows. The oracle reconstructs Spark's epoch-aligned
    window starts with explicit µs bucket arithmetic."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), fx_sum("value").alias("sum_value_c"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n",
            "sum_value_c",
        )
    )


SESSIONIZE_ORACLE = """
    WITH x AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
    marked AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                       OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                          > INTERVAL 10 MINUTE
                  THEN 1 ELSE 0 END AS is_new
      FROM x),
    sessions AS (
      SELECT user_id, ts,
             sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
                               ROWS UNBOUNDED PRECEDING) AS sid
      FROM marked)
    SELECT user_id,
           min(ts) AS session_start,
           max(ts) + INTERVAL 10 MINUTE AS session_end,
           CAST(count(*) AS BIGINT) AS n_events
    FROM sessions
    GROUP BY user_id, sid
    """


@query(
    "event_sessionize",
    oracle=SESSIONIZE_ORACLE,
    tags=("events", "session"),
)
def event_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (10-minute inactivity) per user via Spark's
    native session_window aggregation; the oracle derives identical
    sessions from first principles (lag + gap-flag cumsum), cross-checking
    the operator's semantics, not just its arithmetic. session_window.end
    = last event + gap, matching the oracle's max(ts) + interval."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy("user_id", F.session_window("ts", "10 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


@query(
    "event_rate_per_user",
    oracle="""
    WITH x AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events)
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           min(ts) AS first_ts,
           max(ts) AS last_ts,
           CAST(epoch_us(max(ts)) - epoch_us(min(ts)) AS BIGINT) AS span_us
    FROM x
    GROUP BY user_id
    """,
    tags=("events",),
)
def event_rate_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user activity span: timestamp min/max plus exact µs span —
    the time-series profiling primitive (and a ns→µs truncation probe)."""
    e = load_table(spark, sf_dir, "events")
    span = (
        F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts"))
    ).alias("span_us")
    return e.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
        span,
    )


@query(
    "event_hier_rollup",
    oracle=f"""
    SELECT date_trunc('day', CAST(ts AS TIMESTAMP)) AS day,
           date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour,
           CAST(count(*) AS BIGINT) AS n,
           {sql_fx_sum('value')} AS sum_value_c
    FROM events
    GROUP BY ROLLUP (date_trunc('day', CAST(ts AS TIMESTAMP)),
                     date_trunc('hour', CAST(ts AS TIMESTAMP)))
    """,
    tags=("events", "rollup"),
)
def event_hier_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style hierarchical time rollup: hour→day→grand-total
    aggregates in ONE pass via ROLLUP (Expand + a single hash aggregate),
    the batch form of a continuous aggregate — at 100 TB this materializes
    every rollup level without re-scanning the fact table per level.
    Exact fixed-point value sums make every level order-independent."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.rollup(
            F.date_trunc("day", F.col("ts")).alias("day"),
            F.date_trunc("hour", F.col("ts")).alias("hour"),
        )
        .agg(F.count(F.lit(1)).alias("n"), fx_sum("value").alias("sum_value_c"))
    )


@query(
    "event_session_paths",
    oracle="""
    WITH x AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
                      event_type
               FROM events),
    marked AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR ts - lag(ts) OVER w > INTERVAL 10 MINUTE
                  THEN 1 ELSE 0 END AS is_new
      FROM x WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    sessions AS (
      SELECT user_id, ts, event_id, event_type,
             sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS sid
      FROM marked),
    paths AS (
      SELECT user_id, sid,
             array_to_string(list(event_type ORDER BY ts, event_id), '>')
               AS path
      FROM sessions GROUP BY user_id, sid)
    SELECT path, CAST(count(*) AS BIGINT) AS n_sessions
    FROM paths GROUP BY path
    ORDER BY n_sessions DESC, path LIMIT 20
    """,
    tags=("events", "session", "sequence"),
)
def event_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session trajectory mining: the top-20 most common within-session
    event-type paths (10-minute gap sessions, events ordered by time) —
    the statistic behind funnel discovery and behavioral dataset export.
    Path construction is made deterministic on BOTH engines by sorting
    (ts, event_id, type) structs — never by trusting collect_list's
    arrival order, which depends on partitioning.

    Plan: one (user_id) exchange shared by the lag() flag and the cumsum
    (same window partitioning), a per-(user, session) aggregate that
    sorts small in-session arrays map-side, then a global count on path
    strings with partial aggregation; the top-20 is
    TakeOrderedAndProject."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wc = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    gap_new = (
        F.lag("ts").over(w).isNull()
        | (
            F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
            > 10 * 60 * 1_000_000
        )
    ).cast("long")
    sess = e.select(
        "user_id", "ts", "event_id", "event_type", gap_new.alias("is_new")
    ).withColumn("sid", F.sum("is_new").over(wc))
    paths = (
        sess.groupBy("user_id", "sid")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("ts", "event_id", "event_type"))
            ).alias("evs")
        )
        .select(
            F.concat_ws(
                ">", F.transform("evs", lambda s: s["event_type"])
            ).alias("path")
        )
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
        .orderBy(F.col("n_sessions").desc(), "path")
        .limit(20)
    )


@query(
    "event_recency_features",
    oracle="""
    SELECT event_id, user_id, event_type,
           CAST(epoch_us(CAST(ts AS TIMESTAMP))
                - lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER w AS BIGINT)
             AS us_since_prev,
           CAST(epoch_us(CAST(ts AS TIMESTAMP)) - lag(epoch_us(
                CAST(ts AS TIMESTAMP))) OVER wt AS BIGINT)
             AS us_since_prev_same_type,
           CAST(row_number() OVER w - 1 AS BIGINT) AS n_prior
    FROM events
    WHERE user_id % 20 = 0
    WINDOW w AS (PARTITION BY user_id
                 ORDER BY CAST(ts AS TIMESTAMP), event_id),
           wt AS (PARTITION BY user_id, event_type
                  ORDER BY CAST(ts AS TIMESTAMP), event_id)
    """,
    tags=("events", "window", "features"),
)
def event_recency_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency feature engineering — the lag-based features every
    behavioral model consumes: time since the user's previous event,
    time since their previous event OF THE SAME TYPE, and the running
    prior-event count. Exact integer microsecond gaps, NULL for firsts
    (no sentinel fabrication).

    Plan: two windows over the same user_id-rooted exchange (the
    same-type window sub-partitions it); all O(1)-per-row frame state.
    This is the batch twin of what a feature store materializes
    incrementally — join_pit_staleness consumes exactly such features
    point-in-time."""
    e = load_table(spark, sf_dir, "events").filter(F.col("user_id") % 20 == 0)
    us = F.unix_micros(F.col("ts"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wt = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    return e.select(
        "event_id",
        "user_id",
        "event_type",
        (us - F.lag(us).over(w)).cast("long").alias("us_since_prev"),
        (us - F.lag(us).over(wt)).cast("long").alias("us_since_prev_same_type"),
        (F.row_number().over(w) - 1).cast("long").alias("n_prior"),
    )


_CONC_HALF_WIN_US = 3_600_000_000  # ±1 h activity interval per event


@query(
    "event_concurrency_sweepline",
    oracle=f"""
    WITH iv AS (
        SELECT user_id,
               epoch_us(CAST(ts AS TIMESTAMP)) - {_CONC_HALF_WIN_US} AS s,
               epoch_us(CAST(ts AS TIMESTAMP)) + {_CONC_HALF_WIN_US} AS e
        FROM events
    ),
    pts AS (
        SELECT user_id, s AS t, 1 AS d FROM iv
        UNION ALL
        SELECT user_id, e AS t, -1 AS d FROM iv
    ),
    sweep AS (
        SELECT user_id, t, d,
               sum(d) OVER (PARTITION BY user_id
                            ORDER BY t, d DESC
                            ROWS UNBOUNDED PRECEDING) AS conc
        FROM pts
    )
    SELECT user_id,
           CAST(max(conc) AS BIGINT) AS peak_concurrency,
           CAST(min(t) FILTER (conc = (SELECT max(s2.conc) FROM sweep s2
                                       WHERE s2.user_id = sweep.user_id))
                AS BIGINT) AS peak_at_us
    FROM sweep
    GROUP BY user_id
    HAVING max(conc) >= 2 AND user_id % 10 = 0
    """,
    tags=("events", "sweepline", "intervals"),
)
def event_concurrency_sweepline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak interval concurrency via the SWEEP-LINE pattern — the
    O(n log n) treatment for 'how many activity windows overlap at
    once' (±1 h here) (capacity planning, rate-limit sizing, concurrent-session
    caps) that replaces the quadratic self-join a naive overlap count
    would do: each ±1 h activity interval emits a +1 at its start and
    a −1 at its end, and the per-user running sum over time IS the
    concurrency curve; +1 sorts before −1 at equal timestamps so
    touching intervals count as overlapping. Reported per user: the
    curve's peak and the earliest time it is reached — exact integers
    end-to-end.

    Plan: one Generate (2 points per event), ONE (user_id) window
    exchange for the running sum, one grouped max — shuffled data is
    2 rows per event of 3 ints, at any scale. The self-join-free shape
    is the whole point."""
    e = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    iv = e.select(
        "user_id",
        (us - _CONC_HALF_WIN_US).alias("s"),
        (us + _CONC_HALF_WIN_US).alias("e"),
    )
    pts = iv.select(
        "user_id", F.col("s").alias("t"), F.lit(1).alias("d")
    ).unionAll(
        iv.select("user_id", F.col("e").alias("t"), F.lit(-1).alias("d"))
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("t"), F.col("d").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sweep = pts.select("user_id", "t", F.sum("d").over(w).alias("conc"))
    peak = sweep.groupBy("user_id").agg(
        F.max("conc").cast("long").alias("peak_concurrency")
    )
    at = (
        sweep.join(peak, "user_id")
        .filter(F.col("conc") == F.col("peak_concurrency"))
        .groupBy("user_id")
        .agg(F.min("t").cast("long").alias("peak_at_us"))
    )
    return (
        peak.join(at, "user_id")
        .filter(
            (F.col("peak_concurrency") >= 2) & (F.col("user_id") % 10 == 0)
        )
        .select("user_id", "peak_concurrency", "peak_at_us")
    )


@query(
    "event_activity_streaks",
    oracle="""
    WITH days AS (
        SELECT DISTINCT user_id,
               CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS d
        FROM events
    ),
    isl AS (
        SELECT user_id, d,
               d - CAST(row_number() OVER (PARTITION BY user_id ORDER BY d)
                        AS INTEGER) AS grp
        FROM days
    ),
    streaks AS (
        SELECT user_id, CAST(count(*) AS BIGINT) AS len, min(d) AS streak_start
        FROM isl GROUP BY user_id, grp
    )
    SELECT user_id,
           CAST(max(len) AS BIGINT) AS longest_streak,
           CAST(count(*) AS BIGINT) AS n_streaks,
           strftime(min(streak_start) FILTER (
             len = (SELECT max(s2.len) FROM streaks s2
                    WHERE s2.user_id = streaks.user_id)), '%Y-%m-%d')
             AS best_start
    FROM streaks
    GROUP BY user_id
    HAVING max(len) >= 3 AND user_id % 10 = 0
    """,
    tags=("events", "window", "gaps-islands"),
)
def event_activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-day activity streak per user — the canonical
    GAPS-AND-ISLANDS composition (the engagement metric behind streak
    badges and churn features): distinct active days, then day −
    row_number is CONSTANT within a consecutive run (the island id), so
    one grouped count per island yields streak lengths with no
    self-join and no iteration. Reports longest streak, streak count,
    and the earliest start among the longest.

    Plan: distinct days collapse map-side; islands need ONE (user_id)
    window exchange; everything after aggregates on (user, island) —
    key-only shuffles throughout."""
    e = load_table(spark, sf_dir, "events")
    days = e.select(
        "user_id", F.to_date(F.date_trunc("day", F.col("ts"))).alias("d")
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("d")
    isl = days.select(
        "user_id",
        "d",
        F.date_sub(F.col("d"), F.row_number().over(w)).alias("grp"),
    )
    streaks = isl.groupBy("user_id", "grp").agg(
        F.count(F.lit(1)).alias("len"), F.min("d").alias("streak_start")
    )
    best = streaks.groupBy("user_id").agg(
        F.max("len").cast("long").alias("longest_streak"),
        F.count(F.lit(1)).alias("n_streaks"),
    )
    starts = (
        streaks.join(best, "user_id")
        .filter(F.col("len") == F.col("longest_streak"))
        .groupBy("user_id")
        .agg(F.min("streak_start").alias("best_start"))
    )
    return (
        best.join(starts, "user_id")
        .filter((F.col("longest_streak") >= 3) & (F.col("user_id") % 10 == 0))
        .select(
            "user_id",
            "longest_streak",
            F.col("n_streaks").cast("long").alias("n_streaks"),
            F.date_format("best_start", "yyyy-MM-dd").alias("best_start"),
        )
    )


@query(
    "event_audience_overlap",
    oracle="""
    WITH d AS (SELECT DISTINCT event_type, user_id FROM events),
    sizes AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n
              FROM d GROUP BY event_type)
    SELECT a.event_type AS type_a, b.event_type AS type_b,
           sa.n AS n_a, sb.n AS n_b,
           CAST(count(*) AS BIGINT) AS n_overlap,
           round(CAST(count(*) AS DOUBLE)
                 / (sa.n + sb.n - count(*)), 9) AS jaccard
    FROM d a
    JOIN d b ON a.user_id = b.user_id AND a.event_type < b.event_type
    JOIN sizes sa ON sa.event_type = a.event_type
    JOIN sizes sb ON sb.event_type = b.event_type
    GROUP BY a.event_type, b.event_type, sa.n, sb.n
    ORDER BY type_a, type_b
    """,
    tags=("events", "audience", "overlap"),
)
def event_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience-overlap matrix — for every pair of event types, how many
    users did BOTH (plus Jaccard): the campaign/feature-reach overlap
    report every growth team asks for, and the exact form of the
    audience-intersection problem agg_distinct_bitmap solves with
    bitmaps when type cardinality explodes.

    Plan: ONE distinct over (type, user) — key-only exchange — then a
    self-join ON user_id: each user contributes only their own type
    pairs (<= T²/2 rows per user, T = 5 types), never a cross product;
    the pair aggregate and the broadcast size join are bounded by T².
    At 100 TB the user-keyed equi-join is the standard co-grouping
    shuffle, and nothing wider than (type, type) crosses the final
    exchange."""
    e = load_table(spark, sf_dir, "events")
    d = e.select("event_type", "user_id").distinct()
    sizes = d.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    a = d.toDF("type_a", "user_id")
    b = d.toDF("type_b", "user_id")
    pairs = (
        a.join(b, "user_id")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )
    sa = sizes.toDF("type_a", "n_a")
    sb = sizes.toDF("type_b", "n_b")
    return (
        pairs.join(F.broadcast(sa), "type_a")
        .join(F.broadcast(sb), "type_b")
        .select(
            "type_a",
            "type_b",
            "n_a",
            "n_b",
            "n_overlap",
            F.round(
                F.col("n_overlap").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_overlap")),
                9,
            ).alias("jaccard"),
        )
        .orderBy("type_a", "type_b")
    )


@query(
    "event_dow_hour_heatmap",
    oracle="""
    SELECT CAST(dayofweek(CAST(ts AS TIMESTAMP)) + 1 AS INT) AS dow,
           CAST(hour(CAST(ts AS TIMESTAMP)) AS INT) AS hod,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS sum_value_c
    FROM events
    GROUP BY 1, 2 ORDER BY dow, hod
    """,
    tags=("events", "heatmap", "calendar"),
)
def event_dow_hour_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week × hour-of-day activity heatmap (events, distinct
    users, exact value cents per cell) — the calendar grid behind every
    product-analytics dashboard and the load-shaping input for capacity
    planning. Cross-engine gotcha handled: Spark's dayofweek and
    DuckDB's dayofweek are offset (Sun=1 vs Sun=0), so both sides are
    pinned to the same convention explicitly.

    Plan: ONE hash aggregate onto a ≤ 168-cell key space — partial
    combine collapses everything map-side, the exchange carries at most
    168 rows per partition regardless of input size; the distinct-user
    register is the only state that scales, and the bitmap/HLL swap
    (agg_distinct_bitmap / agg_approx_distinct) is the documented knob
    if user cardinality per cell explodes."""
    e = load_table(spark, sf_dir, "events")
    ts = F.col("ts").cast("timestamp")
    return (
        e.groupBy(
            F.dayofweek(ts).alias("dow"), F.hour(ts).alias("hod")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.sum(F.round(F.col("value") * 100).cast("long"))
            .cast("long")
            .alias("sum_value_c"),
        )
        .orderBy("dow", "hod")
    )


@query(
    "event_match_recognize",
    oracle="""
    WITH x AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
             substr(event_type, 1, 1) AS code
      FROM events),
    seqs AS (
      SELECT user_id,
             string_agg(code, '' ORDER BY ts, event_id) AS seq
      FROM x GROUP BY user_id)
    SELECT user_id,
           CAST(length(seq) AS BIGINT) AS n_events,
           CAST(length(regexp_extract_all(seq, 'vp')) AS BIGINT)
               AS n_direct,
           CAST(length(regexp_extract_all(seq, 'v[ces]*p')) AS BIGINT)
               AS n_funnel
    FROM seqs
    """,
    tags=("events", "pattern", "match-recognize"),
)
def event_match_recognize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE-style row-pattern matching, the SQL:2016 feature
    Spark lacks as a keyword, recovered as compose-of-operators: encode
    each user's event-type history as a character sequence (one char per
    event, ordered by (ts, event_id) — event_id breaks timestamp ties
    deterministically) and count non-overlapping regex occurrences over
    it. Two patterns: `vp` (view immediately followed by purchase) and
    `v[ces]*p` (view, any click/error/signup noise, then purchase — the
    classic conversion funnel with intervening activity). The character
    class excludes both anchors, so maximal matches are unambiguous and
    Java regex (Spark) and RE2 (DuckDB) agree by construction.

    Scale: ONE shuffle on user_id; per-user sequences are bounded by
    per-user activity (the fixtures strike users with the corpus, so
    sequence length is scale-invariant), and the regex scan is linear
    map-side work after the aggregate. This is how row-pattern queries
    should run at 100 TB: never a driver loop, never a cross-row UDF —
    sessionize the pattern alphabet into a string column and let a
    linear matcher do the recognizing."""
    e = load_table(spark, sf_dir, "events")
    seqs = (
        e.select(
            "user_id",
            F.struct(
                F.col("ts"),
                F.col("event_id"),
                F.substring("event_type", 1, 1).alias("code"),
            ).alias("k"),
        )
        .groupBy("user_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list("k")), lambda x: x["code"]
                ),
                "",
            ).alias("seq")
        )
    )
    return seqs.select(
        "user_id",
        F.length("seq").cast("long").alias("n_events"),
        F.regexp_count("seq", F.lit("vp")).cast("long").alias("n_direct"),
        F.regexp_count("seq", F.lit("v[ces]*p"))
        .cast("long")
        .alias("n_funnel"),
    )


@query(
    "event_tumbling_ohlc",
    oracle="""
    WITH x AS (
      SELECT event_type, CAST(ts AS TIMESTAMP) AS ts, event_id,
             CAST(round(value * 100) AS BIGINT) AS vc
      FROM events WHERE value IS NOT NULL)
    SELECT date_trunc('hour', ts) AS bar_start,
           event_type,
           CAST(count(*) AS BIGINT) AS n,
           first(vc ORDER BY ts, event_id) AS open_c,
           CAST(max(vc) AS BIGINT) AS high_c,
           CAST(min(vc) AS BIGINT) AS low_c,
           last(vc ORDER BY ts, event_id) AS close_c
    FROM x
    GROUP BY 1, 2
    """,
    tags=("events", "timeseries", "ohlc"),
)
def event_tumbling_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC candlestick bars (open/high/low/close) per hour per event
    type — the financial-rollup face of tumbling windows, and the
    min_by/max_by ordered-aggregate surface: open/close are the values
    at the first/last (ts, event_id) in the bar (event_id breaks ties,
    so both engines pick the same row), high/low are plain extremes.
    Values ride as exact integer cents; NULL values are filtered
    EXPLICITLY on both sides (the monitor_psi_drift lesson: never leave
    NULL routing to engine-version-dependent aggregate semantics).

    Scale: one hash aggregate on (hour, event_type) with full map-side
    combine — min_by/max_by partials carry a single (value, key) pair
    each, so the exchange is O(groups), same as the plain tumbling
    rollup."""
    e = load_table(spark, sf_dir, "events")
    x = e.filter(F.col("value").isNotNull()).select(
        "event_type",
        "ts",
        "event_id",
        F.round(F.col("value") * 100).cast("long").alias("vc"),
    )
    ord_key = F.struct(F.col("ts"), F.col("event_id"))
    return x.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("bar_start"), "event_type"
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.min_by("vc", ord_key).alias("open_c"),
        F.max("vc").cast("long").alias("high_c"),
        F.min("vc").cast("long").alias("low_c"),
        F.max_by("vc", ord_key).alias("close_c"),
    )
