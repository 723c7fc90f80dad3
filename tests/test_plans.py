"""Physical-plan regression tests — the scale contract, not just the
answers: predicates must reach the parquet scan, column pruning must hold,
small dims must broadcast, top-k must not globally sort, per-group top-k
must push the group limit into the window sort. If a refactor silently
degrades one of these, correctness tests stay green but the 100 TB plan is
ruined — these tests pin the plan shape."""

from __future__ import annotations

import re

import pytest

from ocs_duckdb_runner_spark.registry import get_query
from ocs_duckdb_runner_spark.session import scoped_cache
from tests.conftest import SF_DIR


def plan_of(spark, name: str) -> str:
    df = get_query(name).fn(spark, SF_DIR)
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def test_filter_box_pushes_predicates_and_prunes_columns(spark):
    plan = plan_of(spark, "filter_box")
    assert "PushedFilters: [IsNotNull(l_quantity)" in plan
    assert "GreaterThan(l_quantity,10.0)" in plan
    assert "LessThan(l_discount,0.08)" in plan
    # 5 of 11 lineitem columns read
    assert "l_tax" not in plan.split("ReadSchema")[1].splitlines()[0]


def test_flagship_aggregate_is_partial_then_final(spark):
    plan = plan_of(spark, "flagship")
    assert plan.count("HashAggregate") >= 2  # map-side partial + final
    assert "PushedFilters" in plan and "GreaterThan(l_quantity,10.0)" in plan


def test_fanout_object_query_is_one_shuffle_free_stage(spark):
    """The fan-out's per-object query reads through /*+ COALESCE(1) */:
    Scan → Filter → Coalesce 1 → partial + final HashAggregate → Sort with
    no Exchange, one pipeline per object like the reference's DuckDB
    instance (runner.cc:200) — under the session's own AQE and shuffle
    partitions, and one stage per source over a whole fan-out."""
    from unittest import mock

    from ocs_duckdb_runner_spark import runner
    from tests.test_runner import _sources

    files = _sources(spark)
    df = runner.flagship_on_file(spark, files[0])
    df.collect()
    qe = df._jdf.queryExecution()
    final = qe.executedPlan()
    if final.nodeName() == "AdaptiveSparkPlan":
        final = final.executedPlan()
    tree = final.toString()
    assert "Exchange" not in tree, tree
    assert tree.count("Coalesce 1") == 1, tree
    assert tree.count("HashAggregate") >= 2, tree
    formatted = qe.explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    for pred in (
        "GreaterThan(l_quantity,10.0)",
        "LessThan(l_quantity,20.0)",
        "GreaterThan(l_extendedprice,20000.0)",
        "LessThan(l_extendedprice,60000.0)",
        "GreaterThan(l_discount,0.02)",
        "LessThan(l_discount,0.08)",
    ):
        assert pred in formatted.split("PushedFilters: ")[1].splitlines()[0]

    real = runner._settled_group_metrics
    with mock.patch.object(runner, "_settled_group_metrics", wraps=real) as read:
        rep = runner.FanoutRunner(spark, threads=4).run(files)
    assert rep["failures"] == 0
    token = read.call_args.args[2]
    tracker = spark.sparkContext.statusTracker()
    stages = {
        i: sum(
            len(tracker.getJobInfo(j).stageIds)
            for j in tracker.getJobIdsForGroup(f"{token}:{i}")
        )
        for i in range(len(files))
    }
    assert stages == {i: 1 for i in range(len(files))}


def test_broadcast_join_for_dims(spark):
    plan = plan_of(spark, "join_broadcast")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan  # fact side must never shuffle-sort


def test_multiway_star_join_broadcasts(spark):
    plan = plan_of(spark, "join_multiway")
    assert "BroadcastHashJoin" in plan


def test_topk_uses_take_ordered_not_global_sort(spark):
    plan = plan_of(spark, "topk_limit")
    assert "TakeOrderedAndProject" in plan


def test_topk_per_group_pushes_window_group_limit(spark):
    plan = plan_of(spark, "window_topk_per_group")
    assert "WindowGroupLimit" in plan


def test_scan_projection_prunes_readschema(spark):
    plan = plan_of(spark, "scan_projection")
    read_schema_line = plan.split("ReadSchema")[1].splitlines()[0]
    for col in ("l_quantity", "l_discount", "l_shipdate", "l_tax"):
        assert col not in read_schema_line


@pytest.mark.parametrize("name", ["agg_basic", "agg_pricing_summary"])
def test_aggregates_stay_in_wholestage_codegen(spark, name):
    # simple mode marks whole-stage-codegen spans with '*(n)'; AQE only
    # finalizes (and annotates) the plan after execution
    df = get_query(name).fn(spark, SF_DIR)
    df.collect()  # count() would plan a different query; collect runs THIS one
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    )
    assert "isFinalPlan=true" in plan, plan
    assert "*(" in plan, plan


def test_partition_pruning_on_partitioned_sink(spark):
    """A filter on the Hive partition column must become a PartitionFilter
    (pruned at planning), not a data filter."""
    from ocs_duckdb_runner_spark.sources.connectors import _parquet_part_dir

    out = _parquet_part_dir(spark, SF_DIR)
    df = spark.read.parquet(out).filter("o_orderstatus = 'O'")
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    part_line = plan.split("PartitionFilters:")[1].splitlines()[0]
    assert "o_orderstatus" in part_line


def test_bucketed_join_has_no_exchange_before_join(spark):
    """Both sides bucketed on the join key: the sort-merge join must read
    bucket files directly — an Exchange before the join means the bucketing
    contract broke and a 100 TB fact table would re-shuffle on every join."""
    df = get_query("join_bucketed").fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    import re

    assert "SortMergeJoin" in plan
    assert "Bucketed: true" in plan
    # exactly ONE Exchange: the final-aggregate one. A second would sit
    # between the bucketed scans and the join — the broken-contract case.
    exchanges = re.findall(r"\(\d+\) Exchange", plan)
    assert len(exchanges) == 1, plan


def test_sim_cosine_topk_uses_heap_not_global_sort(spark):
    plan = plan_of(spark, "sim_cosine_topk")
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastExchange" in plan  # query vector broadcasts


def test_text_tfidf_pushes_group_limit_and_broadcasts_df(spark):
    plan = plan_of(spark, "text_tfidf")
    assert "WindowGroupLimit" in plan
    assert "BroadcastExchange" in plan  # vocab-sized df table broadcasts


def test_dedup_fingerprint_shuffles_hashes_not_documents(spark):
    # the exchange must carry (fp, doc_id), never the text column
    plan = plan_of(spark, "dedup_fingerprint")
    exchange_args = [
        ln for ln in plan.splitlines() if "Arguments: hashpartitioning" in ln
    ]
    assert exchange_args and all("text" not in ln for ln in exchange_args)


def test_sample_uniform_k_is_heap_based(spark):
    plan = plan_of(spark, "sample_uniform_k")
    assert "TakeOrderedAndProject" in plan


def test_q6_predicates_push_to_scan_no_shuffle(spark):
    plan = plan_of(spark, "tpch_q6_forecast")
    assert "PushedFilters" in plan
    assert "GreaterThanOrEqual(l_discount,0.05)" in plan
    assert "LessThan(l_quantity,24.0)" in plan
    # ungrouped agg: the only exchange is the one-row final merge
    # (count tree-lines "Exchange (n)", not the detail headers)
    assert plan.count("Exchange (") == 1


def test_q8_double_nation_role_broadcasts_all_dims(spark):
    plan = plan_of(spark, "tpch_q8_market_share")
    # nation appears in two roles + region: ≥3 forced broadcast joins.
    # supplier is deliberately UNhinted (it grows with SF); at test scale
    # the size-based planner still broadcasts it, at 100 TB it shuffles.
    assert plan.count("BroadcastHashJoin") >= 3


def test_q17_uses_window_not_self_join(spark):
    plan = plan_of(spark, "tpch_q17_small_qty")
    assert "Window" in plan
    # one lineitem scan only — the correlated-avg is NOT a self-join
    assert plan.count("lineitem.parquet") == 1


def test_q18_semi_join_for_in_subquery(spark):
    plan = plan_of(spark, "tpch_q18_large_orders")
    assert "LeftSemi" in plan
    assert "TakeOrderedAndProject" in plan


def test_q22_anti_join_and_scalar_broadcast(spark):
    plan = plan_of(spark, "tpch_q22_idle_balance")
    assert "LeftAnti" in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_corpus_lang_cap_bounds_shuffle_with_group_limit(spark):
    plan = plan_of(spark, "corpus_lang_cap")
    assert "WindowGroupLimit" in plan  # 50-row heap per lang per map task


def test_corpus_mixture_is_shuffle_free(spark):
    plan = plan_of(spark, "corpus_mixture")
    assert "Generate" in plan  # lateral explode
    assert plan.count("Exchange (") == 0  # pure map-side amplification


def test_incremental_dedup_anti_join_and_keeper_limit(spark):
    plan = plan_of(spark, "incremental_dedup")
    assert "LeftAnti" in plan
    # within-batch keeper: rk=1 filter compiles to a pre-shuffle group limit
    assert "WindowGroupLimit" in plan


def test_text_repetition_single_scan(spark):
    plan = plan_of(spark, "text_repetition")
    # persisted token frame: both agg branches read the cache, not parquet
    assert plan.count("documents.parquet") <= 1


def test_interval_join_is_hash_equi_join_not_nested_loop(spark):
    """The bucketed interval join must give Catalyst an equi-condition:
    a BroadcastNestedLoopJoin here means the range predicate fell through
    to per-row evaluation — the per-user cartesian that dies at scale."""
    plan = plan_of(spark, "event_interval_join")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert ("SortMergeJoin" in plan) or ("BroadcastHashJoin" in plan)


def test_scd2_history_plans_one_exchange_for_both_windows(spark):
    """lag-filter-lead over the same (user_id) partitioning: Catalyst must
    reuse one hash exchange for all three window operators — a second
    exchange means the history build shuffles the log twice."""
    plan = plan_of(spark, "scd2_history")
    assert plan.count("Exchange (") == 1, plan


def test_merge_upsert_single_join(spark):
    plan = plan_of(spark, "merge_upsert")
    assert "FullOuter" in plan
    # snapshot + three derived change branches: one join only
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan)


def test_quality_classifier_is_map_side_only(spark):
    plan = plan_of(spark, "quality_classifier")
    assert plan.count("Exchange (") == 0  # pure projection, scan speed
    assert "BatchEvalPython" not in plan  # no Python in the hot path


def _raw_plan(spark, df) -> str:
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def test_pagerank_edge_aggregation_broadcasts_dims(spark):
    """The 100 TB cost of graph_pagerank is the fact-table edge build.
    customer/supplier carry NO forced broadcast hint (they grow with SF —
    at 100 TB a hint OOMs executors); the size-based planner broadcasts
    them at test scale and key-shuffles beyond. What IS pinned: the
    iteration joins a forced-broadcast score frame (≤25 nation rows,
    constant at any SF) and nothing degenerates to a cartesian. (The
    registered query localCheckpoints its result, which hides the plan —
    inspect the pre-checkpoint builder.)"""
    from ocs_duckdb_runner_spark.operators.graph import _pagerank_build

    with scoped_cache() as persist:
        plan = _raw_plan(spark, _pagerank_build(spark, SF_DIR, persist))
    # ≥1 forced (score frame) + size-chosen dim broadcasts at test SF
    assert plan.count("BroadcastHashJoin") >= 1
    assert "CartesianProduct" not in plan


def test_triangle_count_joins_on_vertex_keys_only(spark):
    """Wedge-close joins must shuffle vertex-id pairs, never wider rows,
    and the orientation must be DEGREE-based (compact-forward): the wedge
    join's spoke-ordering filter compares the carried degree-rank columns
    (dv/dw), which bounds oriented out-degree by O(sqrt(m)) on power-law
    graphs where id-orientation explodes at hubs."""
    from ocs_duckdb_runner_spark.operators.graph import _triangle_build

    with scoped_cache() as persist:
        plan = _raw_plan(spark, _triangle_build(spark, SF_DIR, persist))
    exchange_args = [
        ln for ln in plan.splitlines() if "Arguments: hashpartitioning" in ln
    ]
    assert exchange_args
    for ln in exchange_args:
        assert "l_quantity" not in ln and "text" not in ln
    # degree-rank columns flow through the wedge join (orientation shape)
    assert "dv" in plan and "dw" in plan and "ddst" in plan


def test_common_neighbors_wedge_join_is_capped_and_keyed(spark):
    """graph_common_neighbors must (1) truncate each node's neighbor
    list to CN_DEG_CAP via a row_number window BEFORE the wedge join
    (the N·CAP² bound that replaced the Σd² = 298M-wedge plan — r5
    verdict #5), and (2) close wedges with an equi-join on the
    list-owner key, never a cross product."""
    from ocs_duckdb_runner_spark.operators.graph import _common_neighbors_build

    with scoped_cache() as persist:
        plan = _raw_plan(spark, _common_neighbors_build(spark, SF_DIR, persist))
    assert "CartesianProduct" not in plan
    assert "Window" in plan  # the CAP truncation
    assert "row_number" in plan
    # the wedge join is keyed on the middle (list-owner) vertex
    assert "mid" in plan


def test_tpch_q19_pushes_part_predicates_and_broadcasts(spark):
    """Q19's disjunctive predicate must not defeat the optimizer: the
    part-side brand/size constraints reach the parquet scan as pushed
    filters, part broadcasts, and no cross product appears."""
    plan = plan_of(spark, "tpch_q19_disjunctive_rev")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert any("p_brand" in ln or "p_size" in ln for ln in pushed)


def test_tpch_q21_uses_semi_and_anti_joins(spark):
    """Q21's EXISTS / NOT EXISTS must compile to semi and anti joins on
    the order key — never a row-multiplying inner join + distinct, and
    never a nested-loop cross product."""
    plan = plan_of(spark, "tpch_q21_waiting_suppliers")
    assert "CartesianProduct" not in plan
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan


def test_chunk_documents_is_shuffle_free_lateral(spark):
    """Chunking is pure map-side amplification: one Generate, zero
    exchanges of any kind — at 100 TB it must scale with input splits."""
    plan = plan_of(spark, "chunk_documents")
    assert "Generate" in plan
    assert plan.count("Exchange (") == 0


def test_text_ngram_stats_pushes_group_limit(spark):
    """Top-5-per-lang must compile to WindowGroupLimit (per-map-task
    5-row heaps), never a full vocabulary sort."""
    plan = plan_of(spark, "text_ngram_stats")
    assert "WindowGroupLimit" in plan
    assert "Generate" in plan


def test_corpus_token_budget_reuses_one_exchange(spark):
    """Window over (source) then aggregate on the same key: Catalyst must
    plan exactly one hash exchange, reused by both operators."""
    plan = plan_of(spark, "corpus_token_budget")
    assert plan.count("Exchange (") == 1


def test_sim_range_search_has_no_shuffle(spark):
    """Radius search = broadcast query set + map-side fold: every exchange
    in the plan must be a BroadcastExchange, never a shuffle."""
    plan = plan_of(spark, "sim_range_search")
    assert plan.count("Exchange (") == plan.count("BroadcastExchange (")
    assert plan.count("BroadcastExchange (") >= 1


def test_text_boilerplate_shuffles_keys_not_text(spark):
    """The boilerplate frequency/join path must shuffle segment hashes and
    integers only — the raw text column stays in the map stage."""
    plan = plan_of(spark, "text_boilerplate")
    assert "Generate" in plan
    # the join key is the md5 seg_fp; text never appears past the scan
    ex_sections = plan.split("Exchange")[1:]
    assert all("text#" not in s.split("Input [")[-1].split("]")[0]
               for s in ex_sections if "Input [" in s)


def test_join_range_banded_is_equi_join_not_nested_loop(spark):
    """The banded range join must hand Catalyst a hashable bucket key:
    a BroadcastNestedLoopJoin or cartesian here means the banding failed
    and the plan degenerates to |S|x|C| predicate evaluations at scale."""
    plan = plan_of(spark, "join_range_banded")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert (
        "SortMergeJoin" in plan
        or "BroadcastHashJoin" in plan
        or "ShuffledHashJoin" in plan
    )


def test_join_dpp_inserts_dynamic_pruning_subquery(spark):
    """The partitioned-fact x filtered-dim join must carry a
    dynamicpruningexpression in the scan's PartitionFilters — without it
    the fact scan reads every partition and the layout bought nothing."""
    plan = plan_of(spark, "join_dpp_partitioned")
    assert "dynamicpruning" in plan, plan.split("PartitionFilters")[0][-500:]


def test_matryoshka_topk_is_heap_based_no_shuffle(spark):
    """Prefix-dim retrieval keeps the brute-force plan: broadcast query,
    map-side fold, TakeOrderedAndProject — no sort shuffle of the corpus."""
    plan = plan_of(spark, "embed_matryoshka_topk")
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_pq_codes_broadcasts_codebook(spark):
    """PQ assignment must broadcast the 8-row codebook and aggregate codes
    with a single vec_id exchange — never shuffle (vector, centroid)
    pairs."""
    plan = plan_of(spark, "embed_pq_codes")
    assert "BroadcastExchange" in plan or "BroadcastNestedLoopJoin" in plan
    exchanges = [
        ln for ln in plan.splitlines() if "Arguments: hashpartitioning" in ln
    ]
    assert all("vec_id" in ln for ln in exchanges)


def test_sample_temperature_broadcasts_rate_table(spark):
    """The per-lang rate table must broadcast back to the corpus scan; the
    gate itself is map-side (no shuffle of documents)."""
    plan = plan_of(spark, "sample_temperature")
    assert "BroadcastHashJoin" in plan
    for ln in plan.splitlines():
        if "Arguments: hashpartitioning" in ln:
            assert "text" not in ln  # only lang-keyed count shuffles


def test_text_zipf_stats_shuffles_vocab_not_text(spark):
    """Token frequencies partial-aggregate before the (source, token)
    exchange; no exchange may carry the text column."""
    plan = plan_of(spark, "text_zipf_stats")
    assert "HashAggregate" in plan
    for ln in plan.splitlines():
        if "Arguments: hashpartitioning" in ln:
            assert "text" not in ln


def test_semantic_dedup_joins_on_cluster_key(spark):
    """SemDeDup's pair search must be a cluster-keyed hash join (the
    bucket-bounded candidate space), never a corpus cross product."""
    from ocs_duckdb_runner_spark.llm.similarity import _semantic_build

    with scoped_cache() as persist:
        plan = _raw_plan(spark, _semantic_build(spark, SF_DIR, persist))
    assert "CartesianProduct" not in plan
    assert "BroadcastExchange" in plan  # K centroids broadcast


def test_bpe_pair_stats_is_heap_based(spark):
    """Pair expansion is map-side Generate; top-k must not globally sort."""
    plan = plan_of(spark, "bpe_pair_stats")
    assert "TakeOrderedAndProject" in plan
    assert "Generate" in plan
    for ln in plan.splitlines():
        if "Arguments: hashpartitioning" in ln:
            assert "text" not in ln


def test_bloom_prefilter_probes_are_broadcast_and_semantics_exact(spark):
    # The three word-lookup probes must be broadcast-hash joins (the fact
    # side never shuffles for the Bloom test), and the prefiltered join
    # must return exactly the plain-join result (no false negatives;
    # false positives removed by the real join).
    plan = plan_of(spark, "join_bloom_prefilter")
    assert plan.count("BroadcastHashJoin") >= 3

    from pyspark.sql import functions as F

    from ocs_duckdb_runner_spark.registry import load_table

    got = (
        get_query("join_bloom_prefilter")
        .fn(spark, SF_DIR)
        .orderBy("o_orderpriority")
        .collect()
    )
    o = load_table(spark, SF_DIR, "orders")
    c = load_table(spark, SF_DIR, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    want = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("revenue_cents"),
        )
        .orderBy("o_orderpriority")
        .collect()
    )
    assert [r.asDict() for r in got] == [r.asDict() for r in want]


def test_bm25_and_weighted_sample_heap_topk(spark):
    # retrieval/sampling top-k must be per-partition heaps, never a
    # global sort
    for name in ("text_bm25_topk", "sample_weighted_k", "embed_matryoshka_topk"):
        assert "TakeOrderedAndProject" in plan_of(spark, name), name


def test_event_ewma_single_exchange(spark):
    # one (user_id) window exchange; the trailing-frame fold adds no more
    # (formatted plans print each node twice: tree line + detail header)
    plan = plan_of(spark, "event_ewma")
    assert plan.count("Exchange") <= 2


def test_rag_index_one_data_shuffle(spark):
    # chunk+tokenize are Generates; the only data-sized exchange is the
    # (doc, chunk) signed-count aggregate; the 16-bucket report reuses it
    # (each exchange prints twice in formatted plans: 2 exchanges = 4)
    plan = plan_of(spark, "pipeline_rag_index")
    assert plan.count("Exchange") <= 4
    assert "Generate" in plan


def test_rake_and_url_dedup_heap_topk_no_python(spark):
    # corpus-wide top-k must be per-partition heaps; canonicalization and
    # phrase math must stay JVM-side (no BatchEvalPython/ArrowEvalPython)
    for name in ("text_keyword_rake", "dedup_url_canonical"):
        plan = plan_of(spark, name)
        assert "TakeOrderedAndProject" in plan, name
        assert "EvalPython" not in plan, name


def test_corr_matrix_single_pass_no_join(spark):
    # all 15 moments in ONE scan + ONE partial->final aggregate: any join
    # or extra exchange means the matrix is no longer a single-pass plan
    plan = plan_of(spark, "agg_corr_matrix")
    assert plan.count("HashAggregate") >= 2  # partial + final
    assert "Join" not in plan
    # one 1-row exchange pair (tree + detail lines)
    assert plan.count("Exchange") <= 2


def test_dataset_card_is_one_aggregate(spark):
    plan = plan_of(spark, "corpus_dataset_card")
    assert "Join" not in plan
    assert "EvalPython" not in plan


def test_spatial_grid_is_equi_join_not_cross(spark):
    # candidates must come from the cell-id equi-join (hash join on the
    # 2-int cell key), never a distance cross-join
    plan = plan_of(spark, "join_spatial_grid")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "TakeOrderedAndProject" in plan


def test_constraint_audit_one_scan_for_row_rules(spark):
    # the 8 per-row rules must fold into a single aggregate over one
    # lineitem scan (plus the PK group-by and the key-only anti join) —
    # one scan per rule would multiply the dominant cost at scale
    # 4 scans total (each prints twice: tree line + detail header):
    # lineitem for the fused row rules, lineitem for PK uniqueness,
    # lineitem + orders for the key-only anti join
    plan = plan_of(spark, "table_constraint_audit")
    assert plan.count("Scan parquet") <= 8
    assert "LeftAnti" in plan


def test_profile_columns_no_expand_partial_before_exchange(spark):
    # r7 contract: the scan unpivots map-side (Generate), partial-aggregates
    # per (column, value) BEFORE any exchange, and never uses the Expand
    # node Catalyst emits for multi-countDistinct (the full-table row
    # blow-up the rework removed)
    plan = plan_of(spark, "table_profile_columns")
    assert plan.count("Scan parquet") == 2  # ONE scan (tree + detail line)
    assert "Join" not in plan
    assert "Expand" not in plan
    # detail-section node ids are bottom-up: the partial HashAggregate must
    # sit below (smaller id than) the first Exchange
    ids = {
        m.group(2): int(m.group(1))
        for m in reversed(
            list(re.finditer(r"^\((\d+)\) (\w+)", plan, re.MULTILINE))
        )
    }  # reversed: keep the SMALLEST id per node type
    assert "Generate" in ids and "HashAggregate" in ids and "Exchange" in ids
    assert ids["Generate"] < ids["HashAggregate"] < ids["Exchange"]


def test_pca_power_iter_no_python_no_sortmerge(spark):
    # each iteration must be a broadcast-v corpus pass + a 64-key
    # aggregate: a sort-merge join or a Python eval node means the
    # scan-bound constant-reduce profile is lost
    plan = plan_of(spark, "embed_pca_power_iter")
    assert "SortMergeJoin" not in plan
    assert "EvalPython" not in plan


def test_weighted_median_is_histogram_drilldown(spark):
    # the exact weighted median must NOT rank raw rows: the only Window
    # nodes sit above hash aggregates (coarse bucket frame, fine bucket
    # slice), and the drill-into-the-crossing-bucket join broadcasts the
    # 3-row target frame. A Window directly over the scan is the
    # one-task-per-group plan that dies at 100 TB.
    plan = plan_of(spark, "agg_weighted_median")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    head = plan.split("Window")[0]
    assert "HashAggregate" in head  # aggregate precedes any window


def test_trimmed_mean_is_histogram_drilldown(spark):
    # same contract as the weighted median: no row_number over raw rows
    # (row-level rank = one task per group); windows only above
    # aggregates, partial buckets gated by a broadcast join
    plan = plan_of(spark, "agg_trimmed_mean")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    head = plan.split("Window")[0]
    assert "HashAggregate" in head


def test_decile_bounds_histogram_multi_target(spark):
    # nine rank targets must come from coarse aggregates + broadcast
    # drill joins — never a row_number/rank over raw rows, and the fine
    # scan is gated (bounded scan count: coarse + totals + fine)
    plan = plan_of(spark, "agg_decile_bounds")
    assert "BroadcastHashJoin" in plan
    assert "row_number" not in plan
    assert plan.count("Scan parquet") <= 8


def test_phash_hamming_pairs_band_equi_join(spark):
    # the radius-2 pair search must be a (band, value) equi-join on the
    # hash frame — a cartesian product is the all-pairs plan that dies
    plan = plan_of(spark, "mm_phash_hamming_pairs")
    assert "CartesianProduct" not in plan
    assert "Join" in plan


def test_ngram_novelty_shuffles_shingle_keys(spark):
    # the first-occurrence join must be shingle-keyed (inverted index),
    # and no window may touch raw rows
    plan = plan_of(spark, "corpus_ngram_novelty")
    assert "CartesianProduct" not in plan
    assert "Window" not in plan


def test_audience_overlap_user_cogroup_not_cross(spark):
    plan = plan_of(spark, "event_audience_overlap")
    assert "CartesianProduct" not in plan


def test_reconcile_diff_single_key_join(spark):
    # one full-outer key join + a 1-row conditional-count aggregate
    plan = plan_of(spark, "table_reconcile_diff")
    assert "FullOuter" in plan
    assert plan.count("Scan parquet") <= 4  # orders twice (tree+detail)


def test_asof_nearest_one_key_exchange_two_windows(spark):
    # both direction passes must ride ONE user-keyed exchange; a range
    # join or cartesian here is the blowup the union trick avoids
    plan = plan_of(spark, "join_asof_nearest")
    assert "CartesianProduct" not in plan
    assert plan.count("Window") >= 1


def test_prefix_truncation_equi_join_not_cartesian(spark):
    # candidate generation must be an equi-join on the head fingerprint
    # (never text-vs-text across the corpus), with the strict-prefix
    # substr verify applied as a post-join filter
    plan = plan_of(spark, "dedup_prefix_truncation")
    assert "CartesianProduct" not in plan
    assert "NestedLoop" not in plan
    # both the df-cap aggregate and the pair join key on the pfx hash
    assert "pfx" in plan


def test_novelty_has_no_corpus_join_back(spark):
    """r8 contract: novelty flags come from RE-AGGREGATING the
    shingle->min-doc frame, never joining it back onto the exploded
    corpus — the only joins in the plan unite aggregate OUTPUTS."""
    plan = plan_of(spark, "corpus_ngram_novelty")
    assert "Generate" in plan and "HashAggregate" in plan
    ids = {}
    for m in re.finditer(r"^\((\d+)\) (\w+)", plan, re.MULTILINE):
        ids.setdefault(m.group(2), []).append(int(m.group(1)))
    # formatted-plan ids are bottom-up: every join must sit strictly
    # above (higher id than) the FIRST aggregate consuming the explode
    join_ids = ids.get("SortMergeJoin", []) + ids.get(
        "BroadcastHashJoin", []
    )
    assert join_ids, "expected the final doc-keyed aggregate-output join"
    assert min(join_ids) > min(ids["HashAggregate"])
    assert "CartesianProduct" not in plan


def test_syndication_matrix_broadcasts_sizes(spark):
    """The source-size frame is tiny at any scale and must broadcast;
    the gram self-join must be an equi-join, not a cartesian product.
    (The registered query localCheckpoints; inspect the builder.)"""
    from ocs_duckdb_runner_spark.llm.curation import _syndication_build

    with scoped_cache() as persist:
        plan = _raw_plan(spark, _syndication_build(spark, SF_DIR, persist))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_df_cap_is_broadcast_anti_join(spark):
    """The hot-shingle df-cap must apply as a broadcast anti-join (hot
    set df > cap, map-side probe) — round 8 shipped it as an equi-join
    against the full df table whose claimed ReuseExchange never
    materialized, costing the shingle family a 2-3x regression. Since
    r10 the broadcast is size-gated (gated_broadcast): a small hot set
    is driver-materialized, so the df aggregate runs in the probe job
    and the FINAL plan is pure map-side — broadcast anti-join, zero
    shuffles of the corpus frame, never sort-merge."""
    from pyspark.sql import functions as F

    from ocs_duckdb_runner_spark.llm.dedup import _capped_shingle_docs

    sh = spark.range(200).select(
        (F.col("id") % 50).alias("doc_id"), (F.col("id") % 7).alias("shingle")
    )
    plan = _raw_plan(spark, _capped_shingle_docs(sh, 4))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "SortMergeJoin" not in plan
    # the corpus frame must not shuffle to apply the cap (the df
    # aggregate's exchange lives in the construction-time probe job)
    assert len(re.findall(r"(?<!Broadcast)Exchange \(", plan)) == 0


def test_df_cap_degrades_without_forced_broadcast_when_hot_set_huge(spark):
    """Adversarial all-boilerplate corpus: EVERY shingle crosses the df
    cap. With the r9 forced hint this was a documented OOM cliff; the
    size gate must fall back to the un-hinted join (AQE picks the
    strategy) and still return the correct (empty) capped frame."""
    from pyspark.sql import functions as F

    from ocs_duckdb_runner_spark.registry import gated_broadcast

    # 64 distinct shingles, each in 8 docs > cap 4 → hot set = all 64
    sh = spark.range(512).select(
        (F.col("id") % 128).alias("doc_id"),
        (F.col("id") % 64).alias("shingle"),
    )
    hot = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > 4)
        .select("shingle")
    )
    gated = gated_broadcast(hot, max_rows=16)  # 64 > 16 → un-hinted
    capped = sh.join(gated, "shingle", "left_anti")
    assert capped.count() == 0  # every shingle hot → everything dropped
    plan = _raw_plan(spark, capped)
    # no forced broadcast of the oversized set: the hint is absent, so
    # the join is whatever the planner/AQE picks — pin only that the
    # query completed and the gate returned the non-local frame
    assert "LocalTableScan" not in plan and "Scan ExistingRDD" not in plan


def test_gated_broadcast_small_side_is_local_relation(spark):
    """Below the row cap, gated_broadcast must return a driver-local
    relation with a broadcast hint — the aggregate that produced the
    small side runs exactly once (in the probe) and never again when
    the broadcast materializes."""
    from pyspark.sql import functions as F

    from ocs_duckdb_runner_spark.registry import gated_broadcast

    small = spark.range(10).select(F.col("id").alias("k"))
    gated = gated_broadcast(small, max_rows=100)
    big = spark.range(50)
    plan = _raw_plan(spark, big.join(gated, big.id == gated.k))
    assert "BroadcastHashJoin" in plan
    # driver-local relation (LocalTableScan pre-Arrow, Scan ExistingRDD
    # under Arrow-backed createDataFrame) — NOT the original lineage
    assert "LocalTableScan" in plan or "Scan ExistingRDD" in plan


def test_text_boilerplate_probe_is_broadcast(spark):
    """The boilerplate-fingerprint probe must broadcast: the corpus-sized
    segment frame shuffles only for the per-doc final aggregate, never on
    seg_fp for the join (round-8 regression: the planner chose a full
    shuffle join here)."""
    plan = plan_of(spark, "text_boilerplate")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_recursive_spine_joins_pre_aggregated_months(spark):
    """fn_recursive_cte must aggregate the fact FIRST and join the
    84-row spine onto the tiny per-month aggregate: the first draft
    joined row-level orders against the spine, which at scale shuffles
    the whole fact onto ~80 month keys (worst-case skew). Pin: the
    recursion (UnionLoop) is really in the plan, the spine join is
    broadcast, and no sort-merge join of the fact survives."""
    plan = plan_of(spark, "fn_recursive_cte")
    assert "UnionLoop" in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_listagg_input_is_window_group_limited(spark):
    """agg_listagg must bound its groups BEFORE aggregation: the rn <= 5
    predicate plans as WindowGroupLimit (each map task forwards at most
    5 rows per lang), so the concatenated string can never grow with the
    corpus — the property that makes a corpus-scale listagg safe at all."""
    plan = plan_of(spark, "agg_listagg")
    assert "WindowGroupLimit" in plan


def test_ignore_nulls_gap_fill_is_single_exchange(spark):
    """window_ignore_nulls must evaluate both IGNORE NULLS frames inside
    ONE user_id window sort — not the pre-SQL:2008 self-join workaround,
    which doubles the exchange. One hash exchange on user_id, no joins."""
    import re as _re

    plan = plan_of(spark, "window_ignore_nulls")
    assert "Join" not in plan
    assert len(_re.findall(r"(?<!Broadcast)Exchange \(", plan)) == 1


def test_posexplode_prefix_slice_is_map_side(spark):
    """explode_with_position: generator over a pruned 2-column scan, no
    exchange — the slice bounds the fan-out before materialization."""
    plan = plan_of(spark, "explode_with_position")
    assert "Generate" in plan
    assert "Exchange" not in plan
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan


def test_string_mask_suite_is_pure_projection(spark):
    """fn_string_mask: one codegen'd projection over a pruned scan —
    zero exchanges, zero joins."""
    plan = plan_of(spark, "fn_string_mask")
    assert "Exchange" not in plan and "Join" not in plan
    assert "ReadSchema: struct<c_custkey:bigint,c_name:string,c_mktsegment:string>" in plan


def test_unigram_lm_vocab_is_broadcast_and_take_ordered(spark):
    """text_unigram_lm's 100 TB shape: the top-V vocabulary is a
    TakeOrderedAndProject (V rows, deterministic total order) feeding a
    BroadcastHashJoin — the scoring join must never shuffle the token
    stream — and the only hash exchanges are the two word-count-shaped
    aggregates (token counts, per-doc fold) plus their AQE re-reads;
    raw text never appears as an exchange key."""
    plan = plan_of(spark, "text_unigram_lm")
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan
    # shuffle exchanges only (the "Exchange (" substring also matches
    # BroadcastExchange): token-count agg duplicated across the vocab and
    # normalizer subtrees (AQE reuses one at runtime — verified in the
    # adaptive plan during development) + the per-doc fold; anything more
    # means a NEW corpus-sized shuffle crept in
    shuffles = plan.count("Exchange (") - plan.count("BroadcastExchange (")
    assert 1 <= shuffles <= 4


def test_time_type_profile_is_single_agg(spark):
    """fn_time_type: one map pass (to_time projection) + one
    event_type-keyed aggregate; the scan is pruned to (ts, event_type)."""
    plan = plan_of(spark, "fn_time_type")
    assert plan.count("Exchange (") == 1
    assert "ReadSchema: struct<ts:" in plan and "event_type:string" in plan


def test_theta_setops_single_pass_single_exchange(spark):
    """agg_theta_sketch_setops: both audience sketches come from ONE
    conditional-aggregate pass over events (single exchange carrying
    two fixed-size sketch payloads), scan pruned to the three used
    columns — never one scan per audience like the oracle's subqueries."""
    plan = plan_of(spark, "agg_theta_sketch_setops")
    # tree header + detail section each mention the scan once
    assert plan.count("Scan parquet") == 2
    assert plan.count("Exchange (") == 1
    assert "user_id" in plan and "event_type" in plan


def test_substring_spans_windows_are_array_transform_not_posexplode(spark):
    """dedup_substring_spans: window fingerprints are built map-side in
    ONE pass over each document (r11: a codegen'd array transform; r13:
    the mapInArrow byte-slice pass — see test_round13_opt's pin for the
    Arrow-specific shape) — a per-token posexplode followed by a window
    self-join would shuffle raw tokens. The hash exchanges carry only
    the 60-bit gram hash / doc_id keys, so `text` must never appear in
    a hash exchange's output attributes."""
    plan = plan_of(spark, "dedup_substring_spans")
    shuffles = plan.count("Exchange (") - plan.count("BroadcastExchange (")
    assert shuffles <= 4
    # text survives only between scan and the Generate that hashes it
    for line in plan.splitlines():
        if line.strip().startswith("Arguments:") and "hashpartitioning" in line:
            assert "text" not in line, line


def test_dsir_model_is_single_conditional_aggregate(spark):
    """quality_dsir_weights: target AND raw bucket counts come from ONE
    64-row conditional aggregate (FILTER'd count inside the same pass),
    never a second corpus scan for the target slice; the scoring join
    broadcasts the model."""
    plan = plan_of(spark, "quality_dsir_weights")
    assert "BroadcastHashJoin" in plan
    shuffles = plan.count("Exchange (") - plan.count("BroadcastExchange (")
    assert shuffles <= 4
    # one corpus scan per pass (train, score; x2 for tree+detail
    # mentions) — more means the target count became its own scan
    assert plan.count("Scan parquet") <= 6


def test_kn_bigram_types_table_is_cached(spark):
    """text_bigram_lm_kn: the bigram TYPE table must be persisted — the
    three model aggregates' differing column pruning defeats AQE
    exchange reuse (verified during development: zero ReusedExchange
    even with broadcasts disabled), so without the cache every branch
    re-tokenizes the corpus. (The registered query localCheckpoints its
    result, which hides the plan; inspect the builder.)"""
    from ocs_duckdb_runner_spark.llm.text import _kn_build

    with scoped_cache() as persist:
        plan = _raw_plan(spark, _kn_build(spark, SF_DIR, persist))
    assert "InMemoryTableScan" in plan or "InMemoryRelation" in plan
    assert "CartesianProduct" not in plan


def test_sql_params_bind_as_literals_and_push_down(spark):
    """fn_sql_params: named parameters must reach the scan as folded
    literal predicates — PushedFilters carries the bound threshold, so
    parameterization costs nothing at plan quality."""
    plan = plan_of(spark, "fn_sql_params")
    assert "GreaterThanOrEqual(o_totalprice,150000.0)" in plan
    assert "In(o_orderpriority" in plan


def test_hybrid_fusion_no_corpus_shuffle(spark):
    """sim_hybrid_bm25_cosine: corpus stats, query vector, and min-max
    extremes are 1-row broadcasts; the tf and scored frames are
    persisted (stats/extremes/top-k branches prune different columns,
    defeating AQE exchange reuse — 1.5x warm wall at 100x without the
    caches); the only wide operators are single-row exchanges, the
    doc-keyed embedding join, and the final TakeOrdered heap — never a
    corpus-sized sort or shuffle. Pins the pre-checkpoint plan (the
    public query returns a 15-row eager checkpoint)."""
    from ocs_duckdb_runner_spark.llm.similarity import _hybrid_plan

    with scoped_cache() as persist:
        plan = _raw_plan(spark, _hybrid_plan(spark, SF_DIR, persist))
    assert "TakeOrderedAndProject" in plan
    assert plan.count("BroadcastExchange (") >= 3
    assert "InMemoryTableScan" in plan  # both caches feed the branches
    # the 1-row aggregates are SinglePartition exchanges; with the
    # caches in place NO hash-partitioned corpus exchange may remain
    hash_exchanges = [
        ln for ln in plan.splitlines()
        if "Arguments: hashpartitioning" in ln
    ]
    assert hash_exchanges == []


def test_binary_hamming_is_single_pass_heap(spark):
    """embed_binary_hamming_topk: packing is map-side, the shortlist is a
    TakeOrderedAndProject heap, and no shuffle exchange appears — one
    pass over the vectors."""
    plan = plan_of(spark, "embed_binary_hamming_topk")
    assert plan.count("TakeOrderedAndProject") >= 2  # shortlist + rerank
    shuffles = plan.count("Exchange (") - plan.count("BroadcastExchange (")
    assert shuffles == 0


def test_regr_family_one_pass_builtin_aggregates(spark):
    """agg_regr_family: all six regr_* stats fold into ONE partial+final
    hash-aggregate pair over a 3-column pruned scan — no per-stat
    subplan, no Python."""
    plan = plan_of(spark, "agg_regr_family")
    assert plan.count("Scan parquet  (") == 1
    assert plan.count("HashAggregate (") == 2
    assert "ReadSchema: struct<l_quantity:double,l_extendedprice:double,l_returnflag:string>" in plan
    assert "Python" not in plan


def test_sql_udf_inlines_and_pushes_bound_parameter(spark):
    """fn_sql_udf: the SQL UDF bodies must vanish into the plan — the
    table function's parameterized predicate reaches the scan as a
    folded literal, the scalar UDF becomes aggregate arithmetic, and no
    UDF/Python node survives analysis."""
    plan = plan_of(spark, "fn_sql_udf")
    assert "GreaterThanOrEqual(l_quantity,25.0)" in plan
    assert plan.count("HashAggregate (") == 2
    assert "Python" not in plan and "Invoke" not in plan


def test_psi_drift_single_scan(spark):
    """monitor_psi_drift: totals must come from the 10-row bucket
    aggregate, not a second pass over events — exactly one fact scan,
    and the only exchanges are the bucket agg and the 10-row
    SinglePartition window."""
    plan = plan_of(spark, "monitor_psi_drift")
    assert plan.count("Scan parquet  (") == 1
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_no_generate_inferred_filter_duplicates_shingle_kernel(spark):
    """r12 optimization contract: InferFiltersFromGenerate is excluded in
    build_spark sessions (session.py). With the rule active,
    explode(<aliased shingle array>) acquires an inferred
    size(arr)>0 filter whose pushdown substitutes the WHOLE
    transform+xxhash64 kernel and pushes it below the spread()
    exchange — the kernel then runs twice per row, once on the narrow
    pre-exchange side (measured: corpus_ngram_novelty 5.4s -> 1.3s at
    sf0.1 with the rule off, OPTIMIZATION_r12.md). Contract: no Filter
    node in the plan may carry the shingle kernel."""
    for name in ("corpus_ngram_novelty", "corpus_redundancy_curve"):
        plan = plan_of(spark, name)
        for section in plan.split("\n\n"):
            first = section.split("\n", 1)[0]
            if ") Filter" in first:
                assert "xxhash64" not in section, f"{name}: {first}"
