"""Round-10 locks: HLL rollup merge, unigram LM OOV scoring, and stream
scratch hygiene."""

from __future__ import annotations


def test_hll_sketch_rollup_merge_equals_direct_and_is_accurate(spark):
    """agg_hll_sketch_rollup's 'ALL' row is built by MERGING per-group
    sketches; lock (a) the merged estimate equals a direct whole-table
    sketch's estimate exactly (same deterministic algorithm, same lgK —
    mergeability is lossless), and (b) every estimate lands within 5% of
    the exact distinct count (lgK=14 ⇒ ~1.6% RSE; 5% is 3σ headroom)."""
    from pyspark.sql import functions as F

    from ocs_duckdb_runner_spark.registry import load_table
    from ocs_duckdb_runner_spark.operators.grouping import agg_hll_sketch_rollup

    sf_dir = "/root/testdata/sf0.001"
    got = {
        r["event_type"]: r["approx_users"]
        for r in agg_hll_sketch_rollup(spark, sf_dir).collect()
    }
    e = load_table(spark, sf_dir, "events")
    direct_all = e.agg(
        F.expr("hll_sketch_estimate(hll_sketch_agg(user_id, 14))")
        .cast("long")
        .alias("v")
    ).collect()[0]["v"]
    assert got["ALL"] == direct_all, "merged-union estimate must equal direct"
    exact = {
        r["event_type"]: r["v"]
        for r in e.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("v"))
        .collect()
    }
    exact["ALL"] = e.agg(F.countDistinct("user_id").alias("v")).collect()[0]["v"]
    for k, est in got.items():
        assert abs(est - exact[k]) <= max(1, 0.05 * exact[k]), (
            f"{k}: estimate {est} vs exact {exact[k]}"
        )


def test_unigram_lm_oov_scores_worse(spark):
    """Directional lock on text_unigram_lm: a document made entirely of
    OOV tokens must carry a strictly higher cross-entropy than every
    fixture document containing at least one in-vocab token — i.e. the
    score actually orders by model fit (the property the LM filter
    exists for), not just hash-matches."""
    from ocs_duckdb_runner_spark.llm.text import text_unigram_lm

    sf_dir = "/root/testdata/sf0.001"
    rows = text_unigram_lm(spark, sf_dir).collect()
    assert len(rows) > 0
    in_vocab = [r for r in rows if r["n_oov"] < r["n_tokens"]]
    all_oov = [r for r in rows if r["n_oov"] == r["n_tokens"]]
    assert in_vocab, "fixture must contain docs with in-vocab tokens"
    # every all-OOV doc (if any) scores >= the max in-vocab cross-entropy;
    # and the corpus-level ordering is non-degenerate
    ces = {r["cross_entropy"] for r in rows}
    assert len(ces) > 1, "cross-entropy must discriminate documents"
    if all_oov:
        worst_fit = max(r["cross_entropy"] for r in in_vocab)
        for r in all_oov:
            assert r["cross_entropy"] >= worst_fit


def test_stream_scratch_vacuums_stale_siblings(tmp_path):
    """_stream_scratch removes >24h-old sibling scratch dirs (age-only —
    these dirs carry no completion marker) and leaves fresh ones, so
    repeated sweeps can't accumulate uuid dirs under /tmp forever."""
    import os
    import time

    from ocs_duckdb_runner_spark.streaming.stream_queries import _stream_scratch

    parent = tmp_path / "scratch"
    parent.mkdir()
    old = parent / "deadbeef_state_ckpt"
    old.mkdir()
    stale = time.time() - 90000  # ~25h
    os.utime(old, (stale, stale))
    fresh = parent / "cafebabe_mv"
    fresh.mkdir()

    path = _stream_scratch("_x", parent=str(parent))
    assert path.startswith(str(parent)) and path.endswith("_x")
    assert not old.exists(), "stale sibling must be vacuumed"
    assert fresh.exists(), "fresh sibling must survive"
