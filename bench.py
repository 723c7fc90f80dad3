"""Headline benchmark — the driver runs this per-round and records the JSON
line against BASELINE.md.

Reported metric: wall-clock of the reference-equivalent fan-out run (the
fixed per-object query over lineitem split into objects — the same
workload shape the reference timed, /root/reference/runner.cc:334-359) at
$SPARK_GRAFT_SF_DIR (default sf0.1), plus per-query times for the headline
operator set (each executed fully via the noop sink so nothing is skipped
by count-only optimization).

Measurement hygiene (r10): committed per-query numbers in
BENCH_QUERIES.json are fresh-JVM re-times wherever a query is in the
re-time set (10 slowest + >1.3x movers), in-suite otherwise — the r9
round measured the in-suite numbers drifting ±30% with ambient host
load. A fixed canary trio runs at suite start AND end; the headline line
carries band_factor (canary vs the previous committed round) so readers
normalize round-over-round ratios instead of doing forensics.

Usage: python bench.py            → one JSON line on stdout
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

from ocs_duckdb_runner_spark.registry import all_queries  # noqa: E402
from ocs_duckdb_runner_spark.runner import FanoutRunner, split_objects  # noqa: E402
from ocs_duckdb_runner_spark.session import build_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

HEADLINE = [
    "flagship",
    "tpch_q3_toporders",
    "tpch_q5_nation_revenue",
    "tpch_q10_returned",
    "sample_hash_bernoulli",
    "sim_ivf_topk",
    "text_normalize",
    "fn_percentile",
    "agg_basic",
    "agg_distinct",
    "agg_rollup",
    "join_inner",
    "join_multiway",
    "window_rank",
    "window_topk_per_group",
    "sort_multi",
    "topk_limit",
    "fn_math",
    "explode_tokens",
    "text_quality",
    "dedup_fingerprint",
    "dedup_minhash",
    "dedup_minhash_unique",
    "dedup_ngram_jaccard",
    "dedup_ngram_jaccard_unique",
    "dedup_clusters",
    "pipeline_dedup_end2end",
    "sim_cosine_topk",
    "sim_ann_lsh_topk",
    "event_tumbling",
    "event_sessionize",
    "mm_frame_sample",
    "tpch_q6_forecast",
    "tpch_q18_large_orders",
    "text_repetition",
    "decontaminate_ngram",
    "pack_sequences",
    "kmeans_embeddings",
    "embed_quantize",
    "incremental_dedup",
    "merge_upsert",
    "scd2_history",
    "event_interval_join",
    "split_train_eval",
    "quality_classifier",
    "chunk_documents",
    "text_boilerplate",
    "graph_pagerank",
    "graph_triangle_count",
    "mm_audio_stats",
    "pipeline_pretrain_end2end",
    # round-5 additions
    "embed_matryoshka_topk",
    "embed_pq_codes",
    "sample_temperature",
    "text_zipf_stats",
    "udaf_surface",
    "dedup_semantic_cluster",
    "bpe_pair_stats",
    "join_bloom_prefilter",
    "embed_ivfpq_topk",
    "text_bm25_topk",
    "rank_fusion_rrf",
    "graph_common_neighbors",
    "pipeline_rag_index",
    "event_ewma",
    "sample_weighted_k",
    "mv_incremental_refresh",
    "agg_skew_salted",
    "join_pit_staleness",
    "mm_image_resize",
    "dedup_minhash_estimate",
    "eval_ann_recall",
    "event_downsample_lttb",
    "event_trend_regression",
    "assoc_rules_lift",
    "pipeline_rfm_features",
    "agg_distinct_bitmap",
    "sim_knn_graph",
    # round-6 additions: the remaining TPC-H shapes
    "tpch_q2_min_cost_supplier",
    "tpch_q7_volume_shipping",
    "tpch_q9_product_profit",
    "tpch_q11_important_stock",
    "tpch_q12_late_lines_priority",
    "tpch_q14_promo_revenue",
    "tpch_q15_top_supplier",
    "tpch_q16_parts_supplier_cnt",
    "tpch_q19_disjunctive_rev",
    "tpch_q20_excess_suppliers",
    "tpch_q21_waiting_suppliers",
    "event_changepoint_cusum",
    "nb_lang_confusion",
    "text_readability",
    "graph_label_propagation",
    "graph_bfs_distance",
    "text_keyword_rake",
    "dedup_url_canonical",
    "corpus_dataset_card",
    "event_sax_symbolic",
    "agg_corr_matrix",
    "sim_mmr_rerank",
    "bpe_merge_rounds",
    "join_spatial_grid",
    "table_constraint_audit",
    "table_profile_columns",
    "event_attribution_touch",
    "eval_cluster_purity",
    "event_active_users_rolling",
    "embed_norm_outliers",
    "dedup_template_detect",
    "agg_ship_latency_histogram",
    "embed_pca_power_iter",
    # round-6 late additions: the drill-down order stats, the graph
    # iteration fixes, and the new multimodal/dedup surface
    "agg_weighted_median",
    "agg_trimmed_mean",
    "agg_decile_bounds",
    "graph_kcore_peel",
    "graph_hits",
    "mm_image_phash",
    "mm_phash_hamming_pairs",
    "mm_audio_vad_segments",
    "corpus_ngram_novelty",
    "join_asof_nearest",
    "table_checksum_compare",
    # round-8 additions
    "dedup_containment",
    "dedup_containment_unique",
    "dedup_prefix_truncation",
    "corpus_redundancy_curve",
    "corpus_syndication_matrix",
    "split_kfold",
    "eval_dedup_threshold_sweep",
    "table_observe_metrics",
    "udf_arrow_surface",
    "src_python_datasource",
    "sink_python_datasource",
    "sink_stream_python_datasource",
    # round-9 additions
    "fn_recursive_cte",
    "fn_variant_json",
    "agg_approx_top_k",
    "fn_sql_scripting",
    # round-10 additions
    "agg_listagg",
    "window_ignore_nulls",
    "explode_with_position",
    "fn_string_mask",
    "stream_transform_with_state",
    "fn_time_type",
    "agg_hll_sketch_rollup",
    "text_unigram_lm",
    "stream_state_reader",
    # round-11 additions
    "fn_exec_immediate",
    "fn_identifier_dynamic",
    "src_python_datasource_pushdown",
    "stream_tws_session_gap",
    "agg_theta_sketch_setops",
    "agg_kll_quantile_rollup",
    "dedup_substring_spans",
    "quality_dsir_weights",
    "text_bigram_lm_kn",
    "fn_generators",
    "fn_sql_sugar",
    "fn_sql_params",
    "sim_hybrid_bm25_cosine",
    "embed_binary_hamming_topk",
    "fn_sql_udf",
    "agg_regr_family",
    "monitor_psi_drift",
    "stream_observe_metrics",
    "agg_bitmap_builtins",
    "udtf_analyze_surface",
    "fn_lateral_alias",
]

# Fixed canary trio, timed at suite START and END every run (r9 verdict
# Next #1): three plans untouched since r6 whose only mover is the host's
# ambient band. Their ratio against the previous round's committed canary
# is the band_factor recorded in the headline line — any reader can
# divide it out of round-over-round comparisons instead of re-deriving
# the band from forensics.
CANARY = ["flagship", "join_inner", "window_rank"]


def main() -> int:
    spark = build_spark(
        app_name="ocs-duckdb-runner-spark-bench",
        extra_conf={
            "spark.scheduler.mode": "FAIR",
            "spark.ui.enabled": "true",
        },
    )
    qs = all_queries()
    # Warm-up so per-query numbers measure steady state, not JVM spin-up:
    # the first action pays parquet-reader + shuffle-service init, and the
    # first run of each plan pays whole-stage-codegen compilation. Running
    # the flagship + a join at sf0.001 compiles the same generated classes
    # (codegen cache keys on the plan, not the data) for ~0 data cost.
    spark.read.parquet(f"{SF_DIR}/lineitem.parquet").count()
    warm_dir = "/root/testdata/sf0.001"
    if os.path.isdir(warm_dir):
        # every headline plan once at sf0.001: codegen compiles the same
        # generated classes the sf0.1 run will hit, for ~0 data cost
        for wq in HEADLINE:
            qs[wq](spark, warm_dir).write.format("noop").mode("overwrite").save()
        # warm the fan-out path too (per-object SQL plan + I/O listener)
        wobj = split_objects(spark, warm_dir, 8)
        wfiles = sorted(
            f"{wobj}/{f}" for f in os.listdir(wobj) if f.endswith(".parquet")
        )
        FanoutRunner(spark, threads=8).run(wfiles)

    def _timed(session, name: str) -> float:
        # collect JVM garbage OUTSIDE the timed region: each number should
        # characterize the operator in a steady-state session, not the GC
        # debt of whichever query happened to run before it (the session's
        # 30s periodic GC bounds that debt in production; here it would
        # add ±2-3x noise to individual measurements)
        session.sparkContext._jvm.System.gc()
        t0 = time.monotonic()
        qs[name](session, SF_DIR).write.format("noop").mode("overwrite").save()
        return round(time.monotonic() - t0, 3)

    canary_start = {n: _timed(spark, n) for n in CANARY}
    times: dict[str, float] = {}
    for name in HEADLINE:
        times[name] = _timed(spark, name)
    canary_end = {n: _timed(spark, n) for n in CANARY}
    canary_mid = {
        n: round((canary_start[n] + canary_end[n]) / 2, 3) for n in CANARY
    }

    # the reference-equivalent fan-out run (its headline metric)
    objdir = split_objects(spark, SF_DIR, 8)
    files = sorted(
        f"{objdir}/{f}" for f in os.listdir(objdir) if f.endswith(".parquet")
    )
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    runner = FanoutRunner(spark, threads=min(cpus, 8))
    # one untimed warm-up over the SAME files, then the MEDIAN of five
    # recorded runs: the baseline's 0.33 s pays DuckDB spin-up only, not
    # process boot — the fair comparison for a JVM engine is the warm
    # steady state (codegen compiled, FAIR pools registered, OS page
    # cache hot) — and a single sample aliases GC/scheduler jitter of
    # ±0.1 s onto a ~0.35 s measurement (r7→r8 headline drift was
    # exactly that). Hits/bytes are identical across runs; only wall
    # varies.
    runner.run(files)
    # five reps, median: late-round measurements showed the ambient band
    # can move a 3-rep median by 2-3x (post-OOM page-cache eviction,
    # hypervisor neighbors); five samples keeps one bad draw out of the
    # reported number while still reporting a real, single-run wall
    reps = [runner.run(files) for _ in range(5)]
    rep = sorted(reps, key=lambda r: r["total_query_time_sec"])[2]

    # Fresh-session re-time of the 10 slowest queries (r7 verdict Next
    # #6): in-suite numbers alias session pressure — codegen-cache/heap
    # occupancy after ~120 prior plans lands on whichever query runs
    # late, which is how r6/r7 flagged "regressions" in untouched code.
    # A second JVM re-times the tail; since r10 those fresh numbers ARE
    # the primary committed per-query times (r9 verdict Next #1).
    #
    # r8 verdict Next #4: the retime set also includes every query that
    # moved >1.3x against the PREVIOUS round's sidecar (ignoring the
    # sub-0.3s band, where absolute jitter dominates), so drift diagnosis
    # ("is tpch_q9's 1.5x real or session pressure?") no longer depends
    # on a manual fresh-session run next round.
    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    sf_val = float(sf) if sf.replace(".", "").isdigit() else SF_DIR
    movers: list[str] = []
    band_factor = None
    try:
        with open(os.path.join(REPO, "BENCH_QUERIES.json")) as fh:
            prev_doc = json.load(fh)
        # Mover detection must compare like-for-like: since r10 the
        # sidecar's "queries" map mixes fresh-JVM re-times (systematically
        # offset from in-suite by the documented ±30% band), so a query
        # re-timed last round would chronically re-flag as a >1.3x mover.
        # Use the previous doc's in-suite map when present; "queries" is
        # the fallback for pre-r10 sidecars (whose numbers were in-suite).
        prev = prev_doc.get("in_suite") or prev_doc.get("queries", {})
        if prev_doc.get("sf") != sf_val:
            prev = {}  # different fixture scale — ratios meaningless
            prev_doc = {}
        movers = sorted(
            n
            for n, t in times.items()
            if n in prev and t > 0.3 and prev[n] > 0 and t / prev[n] > 1.3
        )
        # band_factor: this run's canary (in-suite) vs the previous
        # round's committed canary — falling back to the previous round's
        # per-query times for the same trio when the canary block doesn't
        # exist yet (the r9→r10 bootstrap; those were in-suite too, so
        # the ratio is like-for-like either way)
        ref = prev_doc.get("canary", {}).get("mid") or {
            n: prev[n] for n in CANARY if n in prev
        }
        ratios = sorted(
            canary_mid[n] / ref[n] for n in CANARY if ref.get(n, 0) > 0
        )
        if ratios:
            band_factor = round(ratios[len(ratios) // 2], 3)
    except (OSError, ValueError):
        pass
    slowest = sorted(times, key=times.get, reverse=True)[:10]
    retime = sorted(set(slowest) | set(movers))
    spark.stop()
    spark_fresh = build_spark(
        app_name="ocs-duckdb-runner-spark-bench-fresh",
        extra_conf={"spark.scheduler.mode": "FAIR"},
    )
    spark_fresh.read.parquet(f"{SF_DIR}/lineitem.parquet").count()
    if os.path.isdir(warm_dir):
        for wq in retime:
            qs[wq](spark_fresh, warm_dir).write.format("noop").mode(
                "overwrite"
            ).save()
    fresh_times: dict[str, float] = {}
    for name in retime:
        fresh_times[name] = _timed(spark_fresh, name)

    # Full per-query map: printed as its OWN stdout line (before the
    # summary) and written to a sidecar file. r5's single line carried 78
    # per-query times, overflowed the driver's 2000-char tail capture, and
    # the round recorded "parsed": null — the headline line must stay small
    # enough to always fit the tail window (r5 verdict, What's wrong #2).
    #
    # PRIMARY numbers (r9 verdict Next #1): fresh-JVM re-times where they
    # exist, in-suite otherwise. The r9 round proved in-suite numbers
    # alias the host's ambient band at ±30% (median 1.4x drift on plans
    # untouched since r6, three same-code samples spreading 198-255 s),
    # so committed per-query comparisons must rest on the fresh-session
    # numbers; the full in-suite map is demoted to its own field.
    primary = dict(times)
    primary.update(fresh_times)
    detail = {
        "kind": "per_query_sec",
        "sf": sf_val,
        "queries": primary,
        "in_suite": times,
        "fresh_session": fresh_times,
        "round_over_round_movers": movers,
        "canary": {
            "start": canary_start,
            "end": canary_end,
            "mid": canary_mid,
            "band_factor_vs_prev": band_factor,
        },
    }
    print(json.dumps(detail))
    # the bare sidecar name is the round-over-round mover baseline at the
    # driver's sf0.1; a run at any other scale (local smoke at sf0.001)
    # writes a suffixed file so it can't clobber that baseline
    sidecar = (
        "BENCH_QUERIES.json"
        if sf_val == 0.1
        else f"BENCH_QUERIES_sf{sf}.json"
    )
    try:
        with open(os.path.join(REPO, sidecar), "w") as fh:
            json.dump(detail, fh, indent=1, sort_keys=True)
    except OSError:
        pass  # read-only checkout — the stdout line above still has it
    # Compact FINAL line — the one the driver parses. The five inline
    # query times keep the declared {"queries": {...}} schema while the
    # full map lives in the sidecar/previous line.
    key_queries = [
        "flagship",
        "join_inner",
        "dedup_minhash",
        "sim_cosine_topk",
        "graph_pagerank",
    ]
    out = {
        "metric": "fanout_wall_sec",
        "value": rep["total_query_time_sec"],
        "unit": "sec",
        "queries": {k: primary[k] for k in key_queries if k in primary},
        "queries_file": sidecar,
        "n_queries": len(times),
        "sf": sf_val,
        "fanout": {
            "sources": rep["sources"],
            "threads": rep["threads"],
            "hits": rep["hits"],
            "read_bytes": rep["read_bytes"],
        },
        "suite_total_sec": round(sum(times.values()), 3),
        # ambient-band normalizer: this run's canary trio vs the previous
        # committed round's — divide round-over-round in-suite ratios by
        # this before reading anything into them
        "band_factor": band_factor,
        "canary_sec": canary_mid,
    }
    line = json.dumps(out)
    assert len(line) < 1500, "headline line must fit the driver tail window"
    print(line)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
