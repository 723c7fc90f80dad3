"""Z-order layout evidence: the clustered copy must let parquet min/max
statistics prune files under the reference's 3-D box predicate, and the
clustered scan must return byte-identical results (pinned by the oracle
test; here we pin the PRUNING, which the oracle can't see)."""

from __future__ import annotations

import glob

import pyarrow.parquet as pq

from ocs_duckdb_runner_spark.sources.connectors import _Z_DIMS, zorder_dir
from tests.conftest import SF_DIR

# the reference box predicate (runner.cc:174-182 shape)
_BOX = {
    "l_quantity": (10.0, 20.0),
    "l_extendedprice": (20000.0, 60000.0),
    "l_discount": (0.02, 0.08),
}


def _file_overlaps_box(path: str) -> bool:
    md = pq.read_metadata(path)
    schema = md.schema.to_arrow_schema()
    idx = {schema.field(i).name: i for i in range(len(schema.names))}
    for col, (lo, hi) in _BOX.items():
        col_min = min(
            md.row_group(g).column(idx[col]).statistics.min
            for g in range(md.num_row_groups)
        )
        col_max = max(
            md.row_group(g).column(idx[col]).statistics.max
            for g in range(md.num_row_groups)
        )
        if col_max <= lo or col_min >= hi:
            return False  # stats alone exclude this file
    return True


def test_zorder_layout_prunes_files_under_box_predicate(spark):
    out = zorder_dir(spark, SF_DIR)
    files = sorted(glob.glob(f"{out}/part-*.parquet"))
    assert len(files) >= 8  # the range partitioning produced real spread
    overlapping = sum(_file_overlaps_box(f) for f in files)
    # the point of the layout: a meaningful fraction of files is skippable
    # from footer stats alone. Unclustered lineitem has every file
    # overlapping (uniform value spread); require at least 25% pruned.
    assert overlapping <= len(files) * 0.75, (
        f"{overlapping}/{len(files)} files overlap the box — "
        "Z-clustering produced no stats-prunable layout"
    )


def test_zorder_files_have_narrow_dimension_spans(spark):
    """Per-file value spans must be narrower than the full domain on at
    least one dimension for most files — the signature of interleaved-bit
    clustering vs a random layout (where every file spans ~everything)."""
    out = zorder_dir(spark, SF_DIR)
    files = sorted(glob.glob(f"{out}/part-*.parquet"))
    domains = {c: (lo, hi) for c, lo, hi in _Z_DIMS}
    narrow = 0
    for f in files:
        md = pq.read_metadata(f)
        schema = md.schema.to_arrow_schema()
        idx = {schema.field(i).name: i for i in range(len(schema.names))}
        for col, (lo, hi) in domains.items():
            s = md.row_group(0).column(idx[col]).statistics
            span = (s.max - s.min) / (hi - lo)
            if span < 0.6:
                narrow += 1
                break
    assert narrow >= len(files) // 2, f"only {narrow}/{len(files)} files narrow"


def test_compaction_reduces_files(spark):
    """sink_compaction's physical contract: 64 staged shards compact to
    <= 4 files (content equality is the driver-checked half)."""
    import os

    from ocs_duckdb_runner_spark.registry import derived_path, get_query
    from tests.conftest import SF_DIR

    get_query("sink_compaction").fn(spark, SF_DIR).collect()
    count_parquet = lambda d: sum(  # noqa: E731
        1 for f in os.listdir(d) if f.endswith(".parquet")
    )
    assert count_parquet(derived_path(SF_DIR, "frag64")) == 64
    assert count_parquet(derived_path(SF_DIR, "compacted")) <= 4


def test_versioned_snapshot_isolation(spark):
    """v0's manifest must keep resolving to the SAME content after v1's
    append commit (snapshot isolation), and v1 = v0 + the appended batch."""
    import json

    from ocs_duckdb_runner_spark.registry import derived_path, get_query

    out = {
        r.version: r
        for r in get_query("sink_versioned_snapshot").fn(spark, SF_DIR).collect()
    }
    logd = f"{derived_path(SF_DIR, 'versioned')}/_log"
    v0 = json.load(open(f"{logd}/v0.json"))
    v1 = json.load(open(f"{logd}/v1.json"))
    assert set(v0["files"]) < set(v1["files"])  # append-only: strict subset
    # re-resolve v0 AFTER v1 exists: content identical to the first read
    again = spark.read.parquet(*v0["files"])
    assert again.count() == out[0].n
    assert out[1].n > out[0].n
