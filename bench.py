"""Headline benchmark, and the one per-query timer every probe uses.

Reported metric: wall-clock of the reference-equivalent fan-out run (the
fixed per-object query over lineitem split into objects — the same
workload shape the reference timed, runner.cc:334-359) at
$SPARK_GRAFT_SF_DIR (default sf0.1), plus per-query times for the headline
operator set. Every query time, here and in scripts/, is one
:func:`time_noop` after :func:`warm`.

Measurement hygiene (r10): committed per-query numbers in
BENCH_QUERIES.json are fresh-JVM re-times wherever a query is in the
re-time set (10 slowest + >1.3x movers), in-suite otherwise — the r9
round measured the in-suite numbers drifting ±30% with ambient host
load. A fixed canary trio runs at suite start AND end; the headline line
carries band_factor (canary vs the previous committed round) so readers
normalize round-over-round ratios instead of doing forensics.

Usage:
    python bench.py                  → headline JSON lines on stdout
    python bench.py QUERY [QUERY ...] [--reps N] [--ab KEY=A,B]
                    [--plans DIR/LABEL]
                                     → probe: one JSON line per query
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
from collections.abc import Iterable

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

from pyspark.sql import SparkSession  # noqa: E402

from ocs_duckdb_runner_spark.registry import QueryFn, all_queries  # noqa: E402
from ocs_duckdb_runner_spark.runner import FanoutRunner, split_objects  # noqa: E402
from ocs_duckdb_runner_spark.session import (  # noqa: E402
    build_spark,
    default_parallelism,
    scoped_conf,
)

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

# The per-query times inlined in the headline line.
KEY_QUERIES = ["flagship", "join_inner", "dedup_minhash", "sim_cosine_topk",
               "graph_pagerank"]


# The codegen warm-up fixture: the sf0.001 sibling of SF_DIR.
WARM_DIR = os.path.join(os.path.dirname(SF_DIR.rstrip("/")), "sf0.001")


def time_noop(spark: SparkSession, fn: QueryFn, sf_dir: str) -> float:
    """Wall seconds, to the ms, of one run of query ``fn`` at ``sf_dir``
    into the noop sink, which executes the whole plan and keeps nothing,
    so no row is skipped by count-only optimization.

    JVM garbage is collected OUTSIDE the clock: each number should
    characterize the operator in a steady-state session, not the GC debt
    of whichever query ran before it (the session's 30 s periodic GC
    bounds that debt in production; here it would add ±2-3x noise). The
    run carries a job description naming the query, cleared after it."""
    sc = spark.sparkContext
    sc._jvm.System.gc()
    sc.setJobDescription(f"bench: {fn.__name__}")
    try:
        t0 = time.monotonic()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        return round(time.monotonic() - t0, 3)
    finally:
        sc.setJobDescription(None)


def warm(spark: SparkSession, fns: Iterable[QueryFn], sf_dir: str) -> None:
    """Pay a session's one-time costs before any clock starts, so times
    measure steady state, not JVM spin-up: the first action's
    parquet-reader and shuffle-service init (a count of sf_dir's
    lineitem; not every probe dir has one), and the whole-stage-codegen
    compile of each plan, run once at WARM_DIR — codegen caches on the
    plan, not the data, so sf0.001 compiles the same classes for ~0
    data cost."""
    lineitem = f"{sf_dir}/lineitem.parquet"
    if os.path.exists(lineitem):
        spark.read.parquet(lineitem).count()
    if os.path.isdir(WARM_DIR):
        for fn in fns:
            fn(spark, WARM_DIR).write.format("noop").mode("overwrite").save()


def _split_files(spark: SparkSession, sf_dir: str) -> list[str]:
    objdir = split_objects(spark, sf_dir, 8)
    return sorted(
        f"{objdir}/{f}" for f in os.listdir(objdir) if f.endswith(".parquet")
    )


def headline() -> int:
    spark = build_spark(
        app_name="ocs-duckdb-runner-spark-bench",
        extra_conf={"spark.scheduler.mode": "FAIR"},
    )
    qs = all_queries()
    warm(spark, [qs[n] for n in HEADLINE], SF_DIR)
    if os.path.isdir(WARM_DIR):
        # warm the fan-out path too (per-object SQL plan + I/O listener)
        FanoutRunner(spark, threads=8).run(_split_files(spark, WARM_DIR))

    canary_start = {n: time_noop(spark, qs[n], SF_DIR) for n in CANARY}
    times = {n: time_noop(spark, qs[n], SF_DIR) for n in HEADLINE}
    canary_end = {n: time_noop(spark, qs[n], SF_DIR) for n in CANARY}
    canary_mid = {
        n: round((canary_start[n] + canary_end[n]) / 2, 3) for n in CANARY
    }

    # the reference-equivalent fan-out run (its headline metric)
    files = _split_files(spark, SF_DIR)
    runner = FanoutRunner(spark, threads=min(default_parallelism(), 8))
    # one untimed warm-up over the SAME files, then the MEDIAN of five
    # recorded runs: the baseline's 0.33 s pays DuckDB spin-up only, not
    # process boot — the fair comparison for a JVM engine is the warm
    # steady state (codegen compiled, FAIR pools registered, OS page
    # cache hot) — and the ambient band can move a 3-rep median by 2-3x;
    # five samples keep one bad draw out of the reported number while
    # still reporting a real, single-run wall. Hits/bytes are identical
    # across runs; only wall varies.
    runner.run(files)
    reps = [runner.run(files) for _ in range(5)]
    rep = sorted(reps, key=lambda r: r["total_query_time_sec"])[2]

    # Fresh-session re-time of the 10 slowest queries plus every query
    # that moved >1.3x against the PREVIOUS round's in-suite sidecar
    # (ignoring the sub-0.3s band, where absolute jitter dominates):
    # in-suite numbers alias session pressure — codegen-cache/heap
    # occupancy after ~120 prior plans lands on whichever query runs
    # late. A second JVM re-times them; those fresh numbers ARE the
    # primary committed per-query times. Movers compare in-suite against
    # in-suite: fresh re-times sit systematically off the in-suite band.
    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    sf_val = float(sf) if sf.replace(".", "").isdigit() else SF_DIR
    try:
        with open(os.path.join(REPO, "BENCH_QUERIES.json")) as fh:
            prev_doc = json.load(fh)
    except (OSError, ValueError):
        prev_doc = {}
    if prev_doc.get("sf") != sf_val:
        prev_doc = {}  # different fixture scale — ratios meaningless
    prev = prev_doc.get("in_suite", {})
    movers = sorted(
        n
        for n, t in times.items()
        if n in prev and t > 0.3 and prev[n] > 0 and t / prev[n] > 1.3
    )
    # band_factor: this run's canary vs the previous round's committed one
    ref = prev_doc.get("canary", {}).get("mid", {})
    ratios = sorted(canary_mid[n] / ref[n] for n in CANARY if ref.get(n, 0) > 0)
    band_factor = round(ratios[len(ratios) // 2], 3) if ratios else None
    slowest = sorted(times, key=times.get, reverse=True)[:10]
    retime = sorted(set(slowest) | set(movers))
    spark.stop()
    spark_fresh = build_spark(
        app_name="ocs-duckdb-runner-spark-bench-fresh",
        extra_conf={"spark.scheduler.mode": "FAIR"},
    )
    warm(spark_fresh, [qs[n] for n in retime], SF_DIR)
    fresh_times = {n: time_noop(spark_fresh, qs[n], SF_DIR) for n in retime}

    # Full per-query map: printed as its OWN stdout line (before the
    # summary) and written to a sidecar file. r5's single line carried 78
    # per-query times, overflowed the driver's 2000-char tail capture, and
    # the round recorded "parsed": null — the headline line must stay small
    # enough to always fit the tail window.
    #
    # PRIMARY numbers: fresh-JVM re-times where they exist, in-suite
    # otherwise. In-suite numbers alias the host's ambient band at ±30%,
    # so committed per-query comparisons rest on the fresh-session
    # numbers; the full in-suite map is its own field.
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
    sidecar = "BENCH_QUERIES.json" if sf_val == 0.1 else f"BENCH_QUERIES_sf{sf}.json"
    try:
        with open(os.path.join(REPO, sidecar), "w") as fh:
            json.dump(detail, fh, indent=1, sort_keys=True)
    except OSError:
        pass  # read-only checkout — the stdout line above still has it
    # Compact FINAL line — the one the driver parses. The KEY_QUERIES
    # times keep the declared {"queries": {...}} schema while the full
    # map lives in the sidecar/previous line.
    out = {
        "metric": "fanout_wall_sec",
        "value": rep["total_query_time_sec"],
        "unit": "sec",
        "queries": {k: primary[k] for k in KEY_QUERIES if k in primary},
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


def probe(
    spark: SparkSession,
    queries: dict[str, QueryFn],
    sf_dir: str,
    reps: int = 5,
    ab: tuple[str, str, str] | None = None,
    plans: str | None = None,
) -> list[dict]:
    """Time each query ``reps`` times at ``sf_dir`` and print one JSON
    line per query, ``{query, sf, times, median}``; return the lines.

    With ``ab=(key, a, b)`` the runtime conf ``key`` is set to ``a`` and
    to ``b`` in alternation within each rep (A, B, A, B, ...), so ambient
    host drift lands on both arms equally, and the line is ``{query,
    conf, a, b, median_a, median_b, b_over_a}``. Each arm's value holds
    only inside :func:`session.scoped_conf`, so an exception cannot leave
    the session under arm B. Before any timed run every (query, arm) is
    warmed at sf0.001 and run once untimed at ``sf_dir``: a cold first
    rep can read several times the steady state. ``plans="DIR/LABEL"``
    writes each query's formatted plan, under the session's own conf, to
    ``plans/DIR/<query>_LABEL.txt``."""
    arms = {"times": {}} if ab is None else {"a": {ab[0]: ab[1]}, "b": {ab[0]: ab[2]}}
    rows = []
    for name, fn in queries.items():
        for settings in arms.values():
            with scoped_conf(spark, settings):
                warm(spark, [fn], sf_dir)
                time_noop(spark, fn, sf_dir)
        if plans:
            plan_dir, _, label = plans.rpartition("/")
            path = os.path.join(REPO, "plans", plan_dir, f"{name}_{label}.txt")
            os.makedirs(os.path.dirname(path), exist_ok=True)
            qe = fn(spark, sf_dir)._jdf.queryExecution()
            with open(path, "w") as fh:
                fh.write(spark._jvm.PythonSQLUtils.explainString(qe, "formatted"))
        times: dict[str, list[float]] = {arm: [] for arm in arms}
        for _ in range(reps):
            for arm, settings in arms.items():
                with scoped_conf(spark, settings):
                    times[arm].append(time_noop(spark, fn, sf_dir))
        med = {arm: round(statistics.median(t), 3) for arm, t in times.items()}
        if ab is None:
            row = {"query": name, "sf": sf_dir, "times": times["times"],
                   "median": med["times"]}
        else:
            ma, mb = med["a"], med["b"]
            row = {"query": name, "conf": ab[0], "a": times["a"], "b": times["b"],
                   "median_a": ma, "median_b": mb,
                   "b_over_a": round(mb / ma, 3) if ma else None}
        print(json.dumps(row), flush=True)
        rows.append(row)
    return rows


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(
        description="Without QUERY: the headline bench. With QUERY: probe "
        "those registered queries at $SPARK_GRAFT_SF_DIR."
    )
    ap.add_argument("queries", nargs="*", metavar="QUERY")
    ap.add_argument("--reps", type=int, default=5, help="timed runs per query and arm")
    ap.add_argument("--ab", metavar="KEY=A,B",
                    help="alternate runtime conf KEY between A and B")
    ap.add_argument("--plans", metavar="DIR/LABEL",
                    help="write plans/DIR/<query>_LABEL.txt")
    args = ap.parse_args(argv)
    if not args.queries:
        if args.ab or args.plans:
            ap.error("--ab and --plans need a QUERY")
        return headline()
    if args.reps < 1:
        ap.error("--reps must be at least 1")
    ab = None
    if args.ab is not None:
        key, _, values = args.ab.partition("=")
        a, comma, b = values.partition(",")
        if not key or not comma:
            ap.error("--ab takes KEY=A,B")
        ab = (key, a, b)
    qs = all_queries()
    unknown = [n for n in args.queries if n not in qs]
    if unknown:
        ap.error(f"unknown query: {', '.join(unknown)}")
    spark = build_spark(app_name="ocs-duckdb-runner-spark-probe")
    probe(spark, {n: qs[n] for n in args.queries}, SF_DIR, args.reps, ab, args.plans)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
