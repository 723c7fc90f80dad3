"""Watermark + stateful-operator semantics tests: drive a streaming tumbling-window aggregation
through MULTIPLE micro-batches (maxFilesPerTrigger=1) and assert that
late-beyond-watermark data is dropped and only watermark-finalized windows
are emitted in append mode — the behavior the single-batch driver check
cannot exercise."""

from __future__ import annotations

from datetime import datetime

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR


def _write_batch(spark, path, rows, mtime):
    spark.createDataFrame(rows, "event_id long, ts timestamp, value double").coalesce(
        1
    ).write.mode("append").parquet(path)
    # the file source processes files oldest-first by modification time;
    # same-second writes tie-break on random part names, so pin mtimes
    import os

    for f in os.listdir(path):
        if f.endswith(".parquet"):
            full = os.path.join(path, f)
            if os.path.getmtime(full) > mtime:
                os.utime(full, (mtime, mtime))


@pytest.mark.usefixtures("spark")
def test_watermark_drops_late_data(spark, tmp_path):
    src = str(tmp_path / "events_stream")
    t = lambda h, m: datetime(2024, 1, 1, h, m)  # noqa: E731
    # batch 1: two rows in the 10:00 window, one at 12:59 to push the
    # watermark to 12:49 (> 11:00) so the 10:00 window finalizes.
    _write_batch(spark, src, [(1, t(10, 0), 1.0), (2, t(10, 30), 1.0), (3, t(12, 59), 1.0)], mtime=1_000_000)
    # batch 2: spacer — a new watermark only takes effect one batch after
    # it is computed (observed Spark behavior), so give 12:49 a full batch.
    _write_batch(spark, src, [(9, t(13, 30), 1.0)], mtime=2_000_000)
    # batch 3: a LATE row for the long-finalized 10:00 window (must be
    # dropped) and a 15:00 row pushing the watermark past 13:00.
    _write_batch(spark, src, [(4, t(10, 15), 1.0), (5, t(15, 0), 1.0)], mtime=3_000_000)

    stream = (
        spark.readStream.schema("event_id long, ts timestamp, value double")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("ws"), "n")
    )
    q = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName("wm_test")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = {r.ws: r.n for r in spark.table("wm_test").collect()}

    assert out.get(t(10, 0)) == 2  # late row 4 NOT counted
    assert out.get(t(12, 0)) == 1  # finalized once the watermark passed
    assert out.get(t(13, 0)) == 1
    assert t(15, 0) not in out  # still open, never emitted


def test_custom_state_totals_match_batch(spark):
    """The stateful streaming totals must equal the plain batch aggregate
    over the same fixture."""
    from pyspark.sql import functions as F

    from ocs_duckdb_runner_spark.registry import load_table, specs

    got = {
        r.user_id: (r.n_events, r.sum_value_c)
        for r in specs()["stream_custom_state"].fn(spark, SF_DIR).collect()
    }
    want = {
        r.user_id: (r.n, r.c)
        for r in load_table(spark, SF_DIR, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("c"),
        )
        .collect()
    }
    assert got == want


def test_transform_with_state_totals_match_batch(spark):
    """The Spark-4 stateful query (whichever transport the env dispatch
    picks) must equal the plain batch aggregate over the same fixture."""
    from pyspark.sql import functions as F

    from ocs_duckdb_runner_spark.registry import load_table, specs

    got = {
        r.user_id: (r.n_events, r.sum_value_c)
        for r in specs()["stream_transform_with_state"]
        .fn(spark, SF_DIR)
        .collect()
    }
    want = {
        r.user_id: (r.n, r.c)
        for r in load_table(spark, SF_DIR, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("c"),
        )
        .collect()
    }
    assert got == want


class _FakeValueState:
    """In-memory stand-in for a TWS ValueState (exists/get/update)."""

    def __init__(self):
        self._v = None

    def exists(self):
        return self._v is not None

    def get(self):
        return self._v

    def update(self, v):
        self._v = tuple(v)


class _FakeHandle:
    def __init__(self):
        self.state = _FakeValueState()

    def getValueState(self, name, schema, ttl_duration_ms=None):
        return self.state


class _FakeGroupState:
    """In-memory stand-in for the legacy GroupState (property-style
    exists/get, matching applyInPandasWithState's surface)."""

    def __init__(self):
        self._v = None

    @property
    def exists(self):
        return self._v is not None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = tuple(v)


def test_stateful_processor_is_twin_of_legacy_group_state():
    """Multi-batch twin lock: _UserTotalsProcessor (TWS StatefulProcessor)
    and _user_totals_state (legacy applyInPandasWithState body) must emit
    identical per-batch rows and carry identical state across batches —
    the env dispatch in stream_transform_with_state is only honest if the
    two bodies are semantically interchangeable. Driven with fake state
    handles, so it exercises the real processor code without the
    protobuf-backed state server this container lacks."""
    import pandas as pd

    from ocs_duckdb_runner_spark.streaming.stream_queries import (
        _make_user_totals_processor,
        _user_totals_state,
    )

    batches = [
        pd.DataFrame({"value": [1.005, -2.5, None]}),
        pd.DataFrame({"value": [0.004, 7.125]}),
        pd.DataFrame({"value": [-0.005]}),
    ]
    proc = _make_user_totals_processor()
    proc.init(_FakeHandle())
    legacy_state = _FakeGroupState()
    for batch in batches:
        tws_out = list(proc.handleInputRows((42,), iter([batch]), None))
        legacy_out = list(_user_totals_state((42,), iter([batch]), legacy_state))
        assert len(tws_out) == len(legacy_out) == 1
        assert tws_out[0].to_dict("records") == legacy_out[0].to_dict(
            "records"
        )
    proc.close()
    # final totals carried in state agree too
    assert proc._state.get() == legacy_state.get
    # and the rounding is half-away-from-zero, not numpy banker's:
    # 1.005 is 100.4999... in float64 → 100 (both engines agree);
    # -2.5 → -250 (banker's would give -2.48→wrong shape anyway);
    # 7.125 → 712.5 → 713 (banker's would say 712); -0.005 → -0.5 → -1
    n, cents = proc._state.get()
    assert n == 6
    assert cents == 100 - 250 + 0 + 713 - 1


def test_transform_with_state_dispatch_matches_env():
    """The dispatch must track the actual protobuf availability — on
    this container that means the legacy fallback; on a cluster with
    pyspark[connect] extras the same query takes the TWS path."""
    from ocs_duckdb_runner_spark.streaming.stream_queries import (
        transform_with_state_available,
    )

    try:
        import google.protobuf  # noqa: F401

        have = True
    except ImportError:
        have = False
    assert transform_with_state_available() == have


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_stream_tumbling_matches_batch_twin(spark):
    """stream_tumbling_wm ≡ event_tumbling on the same fixture slice —
    the cross-engine oracle checks arithmetic; this locks the stronger
    claim that the streaming plan equals the BATCH twin row-for-row."""
    from ocs_duckdb_runner_spark.registry import get_query

    cols = ["window_start", "event_type", "n", "sum_value_c"]
    got = _rows(get_query("stream_tumbling_wm").fn(spark, SF_DIR), cols)
    want = _rows(get_query("event_tumbling").fn(spark, SF_DIR), cols)
    assert got == want and len(want) > 0


def test_drain_confs_cover_start_only(spark, monkeypatch):
    """A drain's confs are scoped to ``start()``: by
    ``awaitTermination()`` the session reads its own width and state
    store provider again, while the stream keeps the width it started
    with (a stream's shuffle width is fixed once ``start()`` returns)."""
    from pyspark.sql.streaming.query import StreamingQuery

    from ocs_duckdb_runner_spark.registry import get_query
    from ocs_duckdb_runner_spark.streaming.stream_queries import (
        _PROVIDER_CONF,
        _stream_shuffle_width,
    )

    def confs():
        return (
            spark.conf.get("spark.sql.shuffle.partitions"),
            spark.conf.get(_PROVIDER_CONF, None),
        )

    drains = []
    real = StreamingQuery.awaitTermination

    def spy(self, *args, **kwargs):
        on_entry = confs()
        done = real(self, *args, **kwargs)
        drains.append((on_entry, self.lastProgress))
        return done

    monkeypatch.setattr(StreamingQuery, "awaitTermination", spy)
    own = confs()
    get_query("stream_tumbling_wm").fn(spark, SF_DIR)
    [(on_entry, progress)] = drains
    assert on_entry == own
    width = _stream_shuffle_width(spark, SF_DIR)
    assert str(width) != own[0]  # the pin is visible: derived != session
    assert progress.stateOperators[0].numShufflePartitions == width

    drains.clear()
    get_query("stream_tws_rocksdb").fn(spark, SF_DIR)
    assert [on_entry for on_entry, _ in drains] == [own, own]


def test_stream_ns_timestamp_source_matches_batch_and_leaks_no_flag(
    spark, tmp_path
):
    """A planted timestamp[ns] events file (with sub-µs offsets): the
    stream twin equals the batch twin, and neither leaves nanosAsLong
    changed — the stream's explicit LongType schema needs no flag."""
    import numpy as np
    import pandas as pd
    import pyarrow.parquet as pq

    from ocs_duckdb_runner_spark.registry import get_query

    ev = pd.read_parquet(f"{SF_DIR}/events.parquet")
    ev["ts"] = ev["ts"].astype("datetime64[ns]") + pd.to_timedelta(
        np.arange(len(ev)) % 1000, unit="ns"
    )
    ev.to_parquet(tmp_path / "events.parquet", coerce_timestamps=None)
    ts = pq.read_schema(tmp_path / "events.parquet").field("ts").type
    assert str(ts) == "timestamp[ns]"

    key = "spark.sql.legacy.parquet.nanosAsLong"
    before = spark.conf.get(key, None)
    cols = ["window_start", "event_type", "n", "sum_value_c"]
    got = _rows(get_query("stream_tumbling_wm").fn(spark, str(tmp_path)), cols)
    want = _rows(get_query("event_tumbling").fn(spark, str(tmp_path)), cols)
    assert got == want and len(want) > 0
    assert spark.conf.get(key, None) == before


def _events_copy(tmp_path):
    """A µs events file at a path no loader has probed yet."""
    import shutil

    shutil.copy(f"{SF_DIR}/events.parquet", tmp_path / "events.parquet")
    return str(tmp_path)


def _count_parquet_reads(monkeypatch, fail_first=False):
    """Patch DataFrameReader.parquet to record each call; with
    ``fail_first`` the first one raises a transient error."""
    from pyspark.sql.readwriter import DataFrameReader

    real = DataFrameReader.parquet
    calls = []

    def parquet(self, *paths, **options):
        calls.append(paths)
        if fail_first and len(calls) == 1:
            raise RuntimeError("transient")
        return real(self, *paths, **options)

    monkeypatch.setattr(DataFrameReader, "parquet", parquet)
    return calls


def test_events_probe_failure_raises_not_ns(spark, tmp_path, monkeypatch):
    """A transient failure of the ts-type probe on a µs file raises: read
    as an ns footer it would load 1970 timestamps, cached for the file's
    version. Nothing is cached, so the next load reads the real dates."""
    from ocs_duckdb_runner_spark.registry import load_table

    sf_dir = _events_copy(tmp_path)
    _count_parquet_reads(monkeypatch, fail_first=True)
    with pytest.raises(RuntimeError, match="transient"):
        load_table(spark, sf_dir, "events")
    first = load_table(spark, sf_dir, "events").agg(F.min("ts")).first()[0]
    assert first.year == 2024


def test_stream_probe_failure_raises_not_ns(spark, tmp_path, monkeypatch):
    """The stream loader shares the batch probe: the same transient
    failure raises instead of typing a µs source as raw ns longs."""
    from ocs_duckdb_runner_spark.streaming.stream_queries import (
        read_events_stream,
    )

    sf_dir = _events_copy(tmp_path)
    _count_parquet_reads(monkeypatch, fail_first=True)
    with pytest.raises(RuntimeError, match="transient"):
        read_events_stream(spark, sf_dir)


def test_events_ts_type_probes_once_per_file_version(
    spark, tmp_path, monkeypatch
):
    """Two loads of one events file probe its footer once; a rewrite with
    another length is a new version and is probed again."""
    import pyarrow.parquet as pq

    from ocs_duckdb_runner_spark.registry import load_table

    sf_dir = _events_copy(tmp_path)
    calls = _count_parquet_reads(monkeypatch)

    def reads_per_load():
        before = len(calls)
        n = load_table(spark, sf_dir, "events").count()
        return len(calls) - before, n

    reads, n = reads_per_load()
    assert reads == 2  # probe + scan
    assert reads_per_load() == (1, n)  # scan only
    path = f"{sf_dir}/events.parquet"
    pq.write_table(pq.read_table(path).slice(0, n // 2), path)
    assert reads_per_load() == (2, n // 2)


def test_stream_sessionize_matches_batch_twin(spark):
    """stream_sessionize ≡ event_sessionize: session_window under a
    watermark produces the same sessions the batch operator derives."""
    from ocs_duckdb_runner_spark.registry import get_query

    cols = ["user_id", "session_start", "session_end", "n_events"]
    got = _rows(get_query("stream_sessionize").fn(spark, SF_DIR), cols)
    want = _rows(get_query("event_sessionize").fn(spark, SF_DIR), cols)
    assert got == want and len(want) > 0


def test_stream_dedup_matches_batch_twin(spark):
    """stream_dedup_wm ≡ batch dropDuplicates on event_id over the same
    fixture (one row per event_id, identical payload columns)."""
    from ocs_duckdb_runner_spark.registry import get_query, load_table

    cols = ["event_id", "user_id", "event_type", "value"]
    got = _rows(get_query("stream_dedup_wm").fn(spark, SF_DIR), cols)
    want = _rows(
        load_table(spark, SF_DIR, "events")
        .dropDuplicates(["event_id"])
        .select(*cols),
        cols,
    )
    assert got == want and len(want) > 0


def test_stream_static_join_matches_batch_twin(spark):
    """stream_static_join ≡ the same enrichment+aggregate run fully in
    batch (per-tier counts and exact cents sums)."""
    from ocs_duckdb_runner_spark.exactness import fx_sum
    from ocs_duckdb_runner_spark.registry import get_query, load_table

    cols = ["tier", "n", "sum_value_c"]
    got = _rows(get_query("stream_static_join").fn(spark, SF_DIR), cols)
    e = load_table(spark, SF_DIR, "events")
    dim = (
        e.select("user_id")
        .distinct()
        .withColumn("tier", (F.col("user_id") % 3).cast("int"))
    )
    want = _rows(
        e.join(dim, "user_id")
        .groupBy("tier")
        .agg(F.count(F.lit(1)).alias("n"), fx_sum("value").alias("sum_value_c")),
        cols,
    )
    assert got == want and len(want) > 0


def test_stream_foreach_batch_matches_batch_twin(spark):
    """stream_foreach_batch's sink contents ≡ the per-type aggregate in
    batch (single availableNow micro-batch ⇒ one batch_id)."""
    from ocs_duckdb_runner_spark.exactness import fx_sum
    from ocs_duckdb_runner_spark.registry import get_query, load_table

    cols = ["event_type", "n", "sum_value_c"]
    out = get_query("stream_foreach_batch").fn(spark, SF_DIR)
    got = _rows(out, cols)
    want = _rows(
        load_table(spark, SF_DIR, "events")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), fx_sum("value").alias("sum_value_c")),
        cols,
    )
    assert got == want and len(want) > 0
    assert {r.batch_id for r in out.collect()} == {0}


def test_stream_stream_join_matches_batch_twin(spark):
    """The streaming interval join must produce exactly the rows its batch
    twin produces on the same bounded input (stream-batch unification is
    the whole point of Structured Streaming)."""
    from pyspark.sql import functions as F

    from ocs_duckdb_runner_spark.registry import get_query, load_table
    from tests.conftest import SF_DIR

    got = {
        (r.l_user, r.l_ts, r.r_ts, r.purchase_c)
        for r in get_query("stream_stream_join").fn(spark, SF_DIR).collect()
    }
    e = load_table(spark, SF_DIR, "events")
    left = e.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("l_user"),
        F.col("ts").alias("l_ts"),
        F.round(F.col("value") * 100).cast("long").alias("purchase_c"),
    )
    right = e.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("r_user"), F.col("ts").alias("r_ts")
    )
    want = {
        (r.l_user, r.l_ts, r.r_ts, r.purchase_c)
        for r in left.join(
            right,
            (F.col("l_user") == F.col("r_user"))
            & (F.col("r_ts") <= F.col("l_ts"))
            & (F.col("r_ts") >= F.col("l_ts") - F.expr("INTERVAL 1 HOUR")),
        ).collect()
    }
    assert got == want and len(want) > 0


def test_stream_incremental_mv_matches_batch_twin(spark):
    """After the stream drains through multi-batch foreachBatch merges —
    the events table is split into 4 source files and maxFilesPerTrigger=1
    sits on the SOURCE (it is a readStream option; on the sink it is
    silently ignored, ADVICE r5), so availableNow runs 4 micro-batches and
    the state+delta merge executes on every batch after the bootstrap —
    the MV state must equal the one-shot batch aggregate: the IVM
    contract, same as mv_incremental_refresh's oracle."""
    import os

    from ocs_duckdb_runner_spark.exactness import fx_sum
    from ocs_duckdb_runner_spark.registry import get_query, load_table

    cols = ["event_type", "n", "sum_value_c"]
    got = _rows(get_query("stream_incremental_mv").fn(spark, SF_DIR), cols)
    # the multi-batch premise: the split source really has >=2 files
    from ocs_duckdb_runner_spark.registry import derived_path

    src_dir = derived_path(SF_DIR, "events4")
    n_files = sum(1 for f in os.listdir(src_dir) if f.endswith(".parquet"))
    assert n_files >= 2
    want = _rows(
        load_table(spark, SF_DIR, "events")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), fx_sum("value").alias("sum_value_c")),
        cols,
    )
    assert got == want and len(want) > 0


def test_stream_sliding_matches_batch_twin(spark):
    """stream_sliding_wm ≡ event_sliding: overlapping 1h/30min windows
    under a watermark carry the same per-window state the batch
    operator derives (each event in exactly two windows)."""
    from ocs_duckdb_runner_spark.registry import get_query

    cols = ["window_start", "event_type", "n", "sum_value_c"]
    got = _rows(get_query("stream_sliding_wm").fn(spark, SF_DIR), cols)
    want = _rows(get_query("event_sliding").fn(spark, SF_DIR), cols)
    assert got == want and len(want) > 0


def test_stream_source_reads_directory_parquet_layout(spark, tmp_path):
    """events.parquet as a DIRECTORY of part files (the scale-probe
    layout) must stream the same rows as the single-file fixture — the
    r8 finding: a file-name glob filter matched nothing in the directory
    layout and every stream query 'passed' rows-only on ZERO input."""
    from ocs_duckdb_runner_spark.registry import load_table
    from ocs_duckdb_runner_spark.streaming.stream_queries import (
        read_events_stream,
    )

    n_src = load_table(spark, SF_DIR, "events").count()
    probe_dir = tmp_path / "probe_sf"
    probe_dir.mkdir()
    (
        spark.read.parquet(f"{SF_DIR}/events.parquet")
        .repartition(3)
        .write.mode("overwrite")
        .parquet(str(probe_dir / "events.parquet"))
    )
    stream = read_events_stream(spark, str(probe_dir))
    q = (
        stream.writeStream.format("memory")
        .queryName("dir_layout_probe")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.table("dir_layout_probe").count()
    assert got == n_src and got > 0


def _mv_state_rows(spark, state_root):
    from ocs_duckdb_runner_spark.streaming.stream_queries import (
        _mv_latest_version,
    )

    v = _mv_latest_version(state_root)
    return _rows(
        spark.read.parquet(f"{state_root}/v{v}").select(
            "event_type", "n", "sum_value_c"
        ),
        ["event_type", "n", "sum_value_c"],
    )


def _batch_mv_rows(spark):
    from ocs_duckdb_runner_spark.exactness import fx_sum
    from ocs_duckdb_runner_spark.registry import load_table

    return _rows(
        load_table(spark, SF_DIR, "events")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), fx_sum("value").alias("sum_value_c")),
        ["event_type", "n", "sum_value_c"],
    )


def test_stream_mv_replayed_epoch_is_idempotent(spark, tmp_path):
    """The exactly-once contract foreachBatch actually offers is
    at-least-once delivery + idempotent-by-batch_id writes: after a crash
    between a completed merge and the checkpoint commit, the SAME epoch
    is delivered again. Merging every epoch twice must therefore change
    nothing — the versioned state rewrites v{N} with identical content
    instead of double-counting (the hazard a bare read-merge-swap has)."""
    from ocs_duckdb_runner_spark.registry import load_table
    from ocs_duckdb_runner_spark.streaming.stream_queries import (
        _mv_merge_batch,
    )

    events = load_table(spark, SF_DIR, "events")
    half0 = events.filter(F.col("event_id") % 2 == 0)
    half1 = events.filter(F.col("event_id") % 2 == 1)
    state = str(tmp_path / "state")
    _mv_merge_batch(state, half0, 0)
    _mv_merge_batch(state, half0, 0)  # replayed epoch 0
    _mv_merge_batch(state, half1, 1)
    _mv_merge_batch(state, half1, 1)  # replayed epoch 1
    assert _mv_state_rows(spark, state) == _batch_mv_rows(spark)


def test_stream_mv_crash_after_merge_recovers_exactly_once(spark, tmp_path):
    """End-to-end crash recovery: epoch 1's merge COMPLETES, then the
    sink raises before Structured Streaming can commit the epoch — the
    worst-case window, since a restart replays a batch whose effects are
    already in the state. Restarting from the same checkpoint must
    converge to exactly the one-shot batch aggregate (no double-count,
    no lost epochs)."""
    import os

    from ocs_duckdb_runner_spark.registry import load_table
    from ocs_duckdb_runner_spark.streaming.stream_queries import (
        _mv_merge_batch,
    )

    src = str(tmp_path / "src")
    load_table(spark, SF_DIR, "events").repartition(4).write.parquet(src)
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    crash_flag = tmp_path / "crashed"

    def merge(batch_df, batch_id):
        _mv_merge_batch(state, batch_df, batch_id)
        if batch_id == 1 and not crash_flag.exists():
            crash_flag.touch()
            raise RuntimeError("injected crash: merged but not committed")

    def run():
        q = (
            spark.readStream.schema(spark.read.parquet(src).schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
            .writeStream.foreachBatch(merge)
            .trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.awaitTermination()

    n_files = sum(1 for f in os.listdir(src) if f.endswith(".parquet"))
    assert n_files >= 3  # the crash epoch must not be the last one
    with pytest.raises(Exception, match="injected crash"):
        run()
    assert crash_flag.exists()
    run()  # restart: epoch 1 replays (already merged), then 2..N run
    assert _mv_state_rows(spark, state) == _batch_mv_rows(spark)


class _FakeNamedValueState:
    """In-memory TWS ValueState with clear(), recording its TTL."""

    def __init__(self, ttl_ms):
        self._v = None
        self.ttl_ms = ttl_ms

    def exists(self):
        return self._v is not None

    def get(self):
        return self._v

    def update(self, v):
        self._v = tuple(v)

    def clear(self):
        self._v = None


class _FakeTimerHandle:
    """Fake StatefulProcessorHandle with named states + timer registry."""

    def __init__(self):
        self.states = {}
        self.timers = []

    def getValueState(self, name, schema, ttlDurationMs=None):
        self.states[name] = _FakeNamedValueState(ttlDurationMs)
        return self.states[name]

    def registerTimer(self, ts_ms):
        self.timers.append(ts_ms)


class _FakeTimedGroupState:
    """Fake legacy GroupState with event-time timeout surface."""

    def __init__(self):
        self._v = None
        self.hasTimedOut = False
        self.timeout_ts = None
        self.watermark_ms = 0

    @property
    def exists(self):
        return self._v is not None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = tuple(v)

    def setTimeoutTimestamp(self, ts_ms):
        assert ts_ms > self.watermark_ms  # Spark rejects stale timeouts
        self.timeout_ts = ts_ms

    def getCurrentWatermarkMs(self):
        return self.watermark_ms


def test_session_processor_timer_evicts_state_twin_of_legacy():
    """The r10 verdict Next #7 unit lock: drive BOTH session bodies
    (TWS StatefulProcessor with event-time timers + TTL'd activity
    state; legacy EventTimeTimeout body) through the same
    input -> expire -> input schedule and assert (a) identical emissions,
    (b) the expired timer actually DROPS the activity state on both
    sides, (c) the totals survive eviction, (d) a post-eviction arrival
    counts a NEW session — i.e. eviction is semantically invisible, the
    property that makes gap-TTL'd state safe at all."""
    import pandas as pd

    from ocs_duckdb_runner_spark.streaming.stream_queries import (
        _SESSION_GAP_MS,
        _make_user_sessions_processor,
        _user_sessions_state,
    )

    t0 = pd.Timestamp("2024-01-01 00:00:00")
    b1 = pd.DataFrame({"ts": [t0, t0 + pd.Timedelta(minutes=1)]})
    b2 = pd.DataFrame({"ts": [t0 + pd.Timedelta(minutes=40)]})

    proc = _make_user_sessions_processor()
    handle = _FakeTimerHandle()
    proc.init(handle)
    legacy = _FakeTimedGroupState()

    # the activity state carries the gap as its TTL (processing-time belt)
    assert handle.states["last_seen"].ttl_ms == _SESSION_GAP_MS
    assert handle.states["totals"].ttl_ms is None  # the answer never expires

    # batch 1: one session, two events; a timer is registered at
    # last_ms + gap on the TWS side, a timeout timestamp on the legacy
    out1 = list(proc.handleInputRows((7,), iter([b1]), None))
    leg1 = list(_user_sessions_state((7,), iter([b1]), legacy))
    assert out1[0].to_dict("records") == leg1[0].to_dict("records")
    assert out1[0].to_dict("records")[0] == {
        "user_id": 7, "n_sessions": 1, "n_events": 2,
    }
    last_ms = int((t0 + pd.Timedelta(minutes=1)).value // 1_000_000)
    assert handle.timers == [last_ms + _SESSION_GAP_MS]
    assert legacy.timeout_ts == last_ms + _SESSION_GAP_MS

    # watermark passes last_ms + gap: the timer fires
    legacy.watermark_ms = last_ms + _SESSION_GAP_MS + 1
    assert list(proc.handleExpiredTimer((7,), None, None)) == []
    legacy.hasTimedOut = True
    assert list(_user_sessions_state((7,), iter([]), legacy)) == []
    legacy.hasTimedOut = False

    # eviction dropped the activity state but kept the totals
    assert not handle.states["last_seen"].exists()
    assert handle.states["totals"].get() == (1, 2)
    assert legacy.get == (None, 1, 2)

    # batch 2 after eviction: a new session is counted from scratch
    out2 = list(proc.handleInputRows((7,), iter([b2]), None))
    leg2 = list(_user_sessions_state((7,), iter([b2]), legacy))
    assert out2[0].to_dict("records") == leg2[0].to_dict("records")
    assert out2[0].to_dict("records")[0] == {
        "user_id": 7, "n_sessions": 2, "n_events": 3,
    }


def test_session_gap_eviction_live_multibatch(spark, tmp_path):
    """Live multi-batch lock for the legacy path (the one runnable in
    this container): four files drained one per micro-batch so the
    watermark advances BETWEEN batches and user 1's event-time timeout
    fires mid-stream; then the checkpoint's state store is read back
    (statestore data source) to prove the activity half of the state was
    REALLY evicted (last_ms null) while the totals survived — the
    observable that emissions alone can't show, because eviction is
    semantically invisible by design."""
    import os

    import pandas as pd

    from ocs_duckdb_runner_spark.streaming.stream_queries import (
        _user_sessions_state,
    )
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    t0 = pd.Timestamp("2024-01-01 00:00:00")
    files = [
        # u1 burst 1 (2 events) -> timeout armed at t0+1m+gap = t0+11m
        pd.DataFrame({"user_id": [1, 1],
                      "ts": [t0, t0 + pd.Timedelta(minutes=1)]}),
        # u1 burst 2 (gap > 10m): session 2; timer re-armed at t0+40m
        pd.DataFrame({"user_id": [1],
                      "ts": [t0 + pd.Timedelta(minutes=30)]}),
        # u2 advances the watermark to t0+50m > t0+40m ...
        pd.DataFrame({"user_id": [2],
                      "ts": [t0 + pd.Timedelta(minutes=60)]}),
        # ... so u1's timeout fires while THIS batch processes
        pd.DataFrame({"user_id": [2],
                      "ts": [t0 + pd.Timedelta(minutes=120)]}),
    ]
    src = tmp_path / "events_in"
    src.mkdir()
    for i, pdf in enumerate(files):
        p = src / f"f{i}.parquet"
        # µs precision: pandas' default ns-TIMESTAMP parquet can't be
        # read back as Spark TimestampType (the fixture-dtype gotcha)
        pdf.to_parquet(p, coerce_timestamps="us")
        os.utime(p, (1_700_000_000 + i, 1_700_000_000 + i))  # listing order

    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
        ]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
        .withWatermark("ts", "10 minutes")
    )
    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("n_sessions", T.LongType()),
            T.StructField("n_events", T.LongType()),
        ]
    )
    sessions = stream.groupBy("user_id").applyInPandasWithState(
        _user_sessions_state,
        outputStructType=out_schema,
        stateStructType=T.StructType(
            [
                T.StructField("last_ms", T.LongType()),
                T.StructField("n_sessions", T.LongType()),
                T.StructField("n_events", T.LongType()),
            ]
        ),
        outputMode="update",
        timeoutConf="EventTimeTimeout",
    )
    ck = str(tmp_path / "ckpt")
    q = (
        sessions.writeStream.outputMode("update")
        .format("memory")
        .queryName("tws_ttl_live")
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    # last emitted totals per user match the batch gap-count
    rows = spark.sql(
        "SELECT user_id, max_by(n_sessions, n_events) AS s,"
        " max(n_events) AS e FROM tws_ttl_live GROUP BY user_id"
    ).collect()
    got = {r["user_id"]: (r["s"], r["e"]) for r in rows}
    assert got == {1: (2, 3), 2: (2, 2)}

    # the state store proves the eviction: u1's activity half is null
    # (timer fired in the final batch), totals intact; u2 was active in
    # the last batch, so its last_ms is still set
    state = (
        spark.read.format("statestore")
        .load(ck)
        .select(
            F.col("key.user_id").alias("user_id"),
            F.col("value.groupState.last_ms").alias("last_ms"),
            F.col("value.groupState.n_sessions").alias("n_sessions"),
            F.col("value.groupState.n_events").alias("n_events"),
        )
        .collect()
    )
    by_user = {r["user_id"]: r for r in state}
    assert by_user[1]["last_ms"] is None  # EVICTED
    assert by_user[1]["n_sessions"] == 2 and by_user[1]["n_events"] == 3
    assert by_user[2]["last_ms"] is not None  # still within its gap window


def test_stream_observe_metrics_sums_across_batches(spark, tmp_path):
    """stream_observe_metrics' cross-batch total contract: with the
    source split into 3 files and maxFilesPerTrigger=1, availableNow
    runs 3 micro-batches, each progress carries its own observedMetrics
    row, and the SUM of those rows equals the one-shot batch aggregate
    — the associativity the query's oracle relies on."""
    from ocs_duckdb_runner_spark.exactness import fx_sum
    from ocs_duckdb_runner_spark.registry import load_table

    src = str(tmp_path / "events3")
    load_table(spark, SF_DIR, "events").repartition(3).write.mode(
        "overwrite"
    ).parquet(src)
    events = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    observed = events.observe(
        "dq_multi",
        F.count(F.lit(1)).alias("n_rows"),
        fx_sum("value").alias("value_c"),
    )
    q = (
        observed.writeStream.format("noop")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination()
    rows = [
        (p.observedMetrics or {}).get("dq_multi")
        for p in q.recentProgress
    ]
    rows = [r for r in rows if r is not None]
    assert len(rows) >= 2  # the multi-batch premise
    want = (
        load_table(spark, SF_DIR, "events")
        .agg(F.count(F.lit(1)).alias("n"), fx_sum("value").alias("v"))
        .collect()[0]
    )
    assert sum(r["n_rows"] for r in rows) == want["n"]
    assert sum(r["value_c"] for r in rows) == want["v"]


def test_rocksdb_provider_restart_carries_state(spark, tmp_path):
    """The round-11 verdict's Next #4 lock: drive the session-gap
    stateful operator under the RocksDB state store provider with
    changelog checkpointing, STOP the query, and restart a new query
    from the same checkpoint over later events — then prove (1) the
    provider really was RocksDB (``*.changelog`` files exist in the
    state dir — only changelog checkpointing writes those), (2) keyed
    state crossed the restart (the user active in both phases counts
    ONE continuous session when the phase-2 event is within the gap,
    which is only possible if last_ms survived the round-trip), and
    (3) both confs are restored on the session afterwards."""
    import os

    import pandas as pd

    from ocs_duckdb_runner_spark.streaming.stream_queries import (
        _CHANGELOG_CONF,
        _PROVIDER_CONF,
        _ROCKSDB_PROVIDER,
        _session_gap_stateful,
    )
    from ocs_duckdb_runner_spark.session import scoped_conf
    from pyspark.sql import types as T

    t0 = pd.Timestamp("2024-01-01 00:00:00")
    phases = [
        # phase 1: u1 two events 1m apart (1 session), u2 one event
        pd.DataFrame(
            {
                "user_id": [1, 1, 2],
                "ts": [t0, t0 + pd.Timedelta(minutes=1), t0],
            }
        ),
        # phase 2 (after restart): u1 again 5m later — WITHIN the 10m
        # gap, so it extends session 1 iff last_ms survived the restart;
        # u2 31m later — past the gap, a genuine second session
        pd.DataFrame(
            {
                "user_id": [1, 2],
                "ts": [
                    t0 + pd.Timedelta(minutes=6),
                    t0 + pd.Timedelta(minutes=31),
                ],
            }
        ),
    ]
    src = tmp_path / "src"
    src.mkdir()
    ck = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
        ]
    )
    prior_provider = spark.conf.get(_PROVIDER_CONF, None)
    prior_changelog = spark.conf.get(_CHANGELOG_CONF, None)
    with scoped_conf(
        spark, {_PROVIDER_CONF: _ROCKSDB_PROVIDER, _CHANGELOG_CONF: "true"}
    ):
        for i, pdf in enumerate(phases):
            pdf.to_parquet(src / f"f{i}.parquet", coerce_timestamps="us")
            events = (
                spark.readStream.schema(schema)
                .parquet(str(src))
                .withWatermark("ts", "10 minutes")
            )
            q = (
                _session_gap_stateful(events)
                .writeStream.outputMode("update")
                .foreachBatch(
                    lambda b, _id: b.write.mode("append").parquet(out)
                )
                .option("checkpointLocation", ck)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

    changelogs = [
        f
        for _r, _d, files in os.walk(os.path.join(ck, "state"))
        for f in files
        if f.endswith(".changelog")
    ]
    assert changelogs, "RocksDB changelog checkpointing left no files"

    got = {
        r["user_id"]: (r["s"], r["e"])
        for r in spark.read.parquet(out)
        .groupBy("user_id")
        .agg(
            F.max("n_sessions").alias("s"), F.max("n_events").alias("e")
        )
        .collect()
    }
    # u1: ONE session spanning the restart (3 events); u2: two sessions
    assert got == {1: (1, 3), 2: (2, 2)}

    # confs restored on the shared session
    assert spark.conf.get(_PROVIDER_CONF, None) == prior_provider
    assert spark.conf.get(_CHANGELOG_CONF, None) == prior_changelog
