"""Scale probe: synthesize a COPIES-x fact dataset in /tmp from the sf0.1
fixtures and re-verify + re-time the engine there.

Fact tables (lineitem, orders) are unioned COPIES-x with disjoint order-key
ranges (FK consistency preserved: both sides offset identically; customer/
part/supplier keys untouched so dim joins stay valid). Documents/embeddings
are struck the same way with text kept verbatim per copy, so the dedup
operators see COPIES-x the corpus with COPIES-x the duplicate clusters —
the honest scale-up for near-dup work. The probe answers the round question
"would this still work at 10x / 100x?" with data, not argument:

    python scripts/scale_probe.py                         # 10x build + probe
    python scripts/driver_sim.py /tmp/ocs_scaleprobe/sf1  # full oracle pass
    python scripts/scale_probe.py --copies 100 --json SCALE100.json
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from pyspark.sql import functions as F  # noqa: E402

from bench import time_noop, warm  # noqa: E402
from ocs_duckdb_runner_spark.registry import TABLES  # noqa: E402
from ocs_duckdb_runner_spark.session import build_spark  # noqa: E402

SRC = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
KEY_STRIDE = 100_000_000

PROBE_QUERIES = [
    "flagship",
    "tpch_q3_toporders",
    "tpch_q4_order_priority",
    "tpch_q5_nation_revenue",
    "tpch_q10_returned",
    "sample_hash_bernoulli",
    "agg_pricing_summary",
    "agg_basic",
    "agg_distinct",
    "join_inner",
    "join_multiway",
    "join_part_promo",
    "join_skew_salted",
    "window_rank",
    "window_frame_agg",
    "sort_multi",
    "topk_limit",
    "dedup_fingerprint",
    "dedup_minhash",
    "dedup_ngram_jaccard",
    "text_tfidf",
    "sim_cosine_topk",
    "sim_ann_lsh_topk",
    "pipeline_dedup_end2end",
    # family coverage beyond the original fact-heavy set (r8): events
    # (struck since r8), iterative graph, profiling, curation guards.
    # graph_triangle_count stays out: verbatim striking multiplies
    # co-purchase support by the copy count, exploding the wedge set on
    # ANY engine (see SCALING.md) — not a plan property worth timing.
    "event_sessionize",
    "event_active_users_rolling",
    "event_running_median",
    "graph_pagerank",
    "table_profile_columns",
    "table_profile_columns_approx",
    "corpus_ngram_novelty",
    "text_boilerplate",
    "decontaminate_ngram",
]


def out_dir(copies: int) -> str:
    # sf0.1 * 10 = sf1; * 100 = sf10 (directory names keep that
    # convention). Keyed on the EXACT copy count: an earlier decade-based
    # key (copies // 10) made `--copies 15` silently reuse a `--copies
    # 10` build because build() skips existing table files.
    return f"/tmp/ocs_scaleprobe/sf{copies / 10:g}"


def build(copies: int, tables: list[str] | None = None) -> str:
    """Build the struck fixture dir. ``tables`` restricts which FACT
    tables are struck (default: all five); a scaled table excluded this
    way is OMITTED from the output dir entirely — copying it verbatim
    would mislabel sf0.1 content as the probe scale. Dimensions are
    always copied."""
    out = out_dir(copies)
    spark = build_spark(app_name="scale-probe-build")
    os.makedirs(out, exist_ok=True)
    # keys offset per copy with disjoint ranges; events strike BOTH ids
    # (fresh event rows AND fresh users — timestamps stay, so the month
    # gets copies-x denser, which is the honest scale-up for the
    # sessionization/rollup family: per-user semantics intact, per-user
    # work unchanged, user COUNT is the scaling dimension)
    scaled = {
        "lineitem": ["l_orderkey"],
        "orders": ["o_orderkey"],
        "documents": ["doc_id"],
        "embeddings": ["vec_id"],
        "events": ["event_id", "user_id"],
    }
    omitted = set()
    if tables is not None:
        unknown = set(tables) - set(scaled)
        if unknown or not tables:
            raise SystemExit(
                f"--tables must name fact tables from {sorted(scaled)}; "
                f"got {tables!r}"
                + (f" (unknown: {sorted(unknown)})" if unknown else "")
            )
        omitted = set(scaled) - set(tables)
        scaled = {t: k for t, k in scaled.items() if t in tables}
    # write width scales with the copy count so file sizes stay O(sf0.1
    # partition) and every downstream scan starts from many splits
    n_files = max(16, min(256, copies * 2))
    for t, keys in scaled.items():
        dst = f"{out}/{t}.parquet"
        if os.path.exists(dst):
            continue
        # strike via a broadcast copy-number cross-join, not an N-way
        # unionAll: at --copies 1000 a thousand-branch union is a plan
        # the analyzer chews minutes on, while one join is one operator
        # whatever the copy count (rows identical either way: every key
        # offset by copy * KEY_STRIDE). Repartition the SMALL source
        # BEFORE the join — shuffling the struck output would move
        # copies x the data (tens of GB at 1000x) for no reason.
        df = spark.read.parquet(f"{SRC}/{t}.parquet").repartition(n_files)
        copies_df = spark.range(copies).select(
            F.col("id").alias("__copy")
        )
        u = df.crossJoin(F.broadcast(copies_df))
        for key in keys:
            u = u.withColumn(
                key, F.col(key) + F.col("__copy") * F.lit(KEY_STRIDE)
            )
        u = u.drop("__copy")
        u.write.mode("overwrite").parquet(dst)
        print(f"built {t}: {spark.read.parquet(dst).count():,} rows")
    for t in TABLES:
        if t in scaled or t in omitted:
            continue
        dst = f"{out}/{t}.parquet"
        if not os.path.exists(dst):
            shutil.copyfile(f"{SRC}/{t}.parquet", dst)
    spark.stop()
    return out


def probe(
    copies: int, json_path: str | None, names: list[str] | None = None
) -> None:
    """Time the headline queries at the scaled size. ``names=None`` runs
    the full PROBE_QUERIES set; an explicitly empty list runs nothing
    (build-only). The JSON artifact is rewritten after EVERY query so a
    crash mid-probe (e.g. a query touching a table the --tables build
    omitted) keeps everything already measured."""
    from ocs_duckdb_runner_spark.registry import all_queries

    out = out_dir(copies)
    spark = build_spark(app_name="scale-probe-run")
    qs = all_queries()
    names = PROBE_QUERIES if names is None else names
    warm(spark, [qs[n] for n in names], out)
    timings: dict[str, float] = {}

    def _flush() -> None:
        if json_path:
            with open(json_path, "w") as fh:
                json.dump(
                    {"copies": copies, "base_sf": "0.1", "dir": out,
                     # attribution note (r9 verdict Next #2): these walls
                     # are ENGINE-only — noop sink, no DuckDB oracle in
                     # the timed region (oracle checks live in the
                     # driver_sim artifacts, which split spark_secs /
                     # oracle_secs)
                     "timing": "spark_only_noop_sink",
                     "queries": timings},
                    fh, indent=1, sort_keys=True,
                )

    for name in names:
        timings[name] = time_noop(spark, qs[name], out)
        print(f"{name}: {timings[name]:.3f}s", flush=True)
        _flush()
    _flush()
    if json_path:
        print(f"wrote {json_path}")


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("--copies", type=int, default=10)
    ap.add_argument("--json", default=None)
    ap.add_argument(
        "--queries",
        nargs="*",
        default=None,
        help="probe only these queries (default: the full PROBE_QUERIES set)",
    )
    ap.add_argument(
        "--tables",
        nargs="*",
        default=None,
        help="strike only these fact tables (others omitted from the dir)",
    )
    args = ap.parse_args()
    build(args.copies, args.tables)
    probe(args.copies, args.json, args.queries)
