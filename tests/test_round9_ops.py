"""Round-9 locks: sink-scratch hygiene (no Spark session needed — pure
filesystem semantics)."""

from __future__ import annotations

import os
import time


def test_vacuum_stale_sink_runs_keeps_fresh_dirs(tmp_path):
    """The sink-scratch vacuum removes prior COMMITTED runs' dirs but
    never a fresh (possibly concurrent) run's."""
    from ocs_duckdb_runner_spark.sources.python_datasource import (
        _vacuum_stale_sink_runs,
    )

    parent = str(tmp_path)
    old = os.path.join(parent, "deadbeef")
    fresh = os.path.join(parent, "cafebabe")
    os.makedirs(old)
    os.makedirs(fresh)
    with open(os.path.join(old, "_manifest.json"), "w") as fh:
        fh.write("[]")
    past = time.time() - 7200
    os.utime(old, (past, past))
    _vacuum_stale_sink_runs(parent)
    assert not os.path.exists(old)
    assert os.path.exists(fresh)


def test_vacuum_stale_sink_runs_requires_completion_marker(tmp_path):
    """ADVICE r10: age alone must not delete — a >1h run dir WITHOUT a
    published manifest may be a live writer whose parts land in
    subpaths (dir mtime stale while in use). Marker-less dirs go only
    past the 24h crash fallback."""
    from ocs_duckdb_runner_spark.sources.python_datasource import (
        _vacuum_stale_sink_runs,
    )

    parent = str(tmp_path)
    live = os.path.join(parent, "aaaa1111")  # >1h, mid-write, no manifest
    crashed = os.path.join(parent, "bbbb2222")  # >24h, never committed
    os.makedirs(live)
    os.makedirs(crashed)
    t1 = time.time() - 7200
    t2 = time.time() - 90000
    os.utime(live, (t1, t1))
    os.utime(crashed, (t2, t2))
    _vacuum_stale_sink_runs(parent)
    assert os.path.exists(live)
    assert not os.path.exists(crashed)


def test_vacuum_stale_sink_runs_ckpt_lifetime_tied_to_sibling(tmp_path):
    """A streaming checkpoint dir's writes land in offsets/ and commits/
    subdirs, so its OWN mtime goes stale while the stream is live — it
    must never be judged by it: removed with its sibling run dir, or as
    an orphan once the sibling is gone."""
    from ocs_duckdb_runner_spark.sources.python_datasource import (
        _vacuum_stale_sink_runs,
    )

    parent = str(tmp_path)
    past = time.time() - 7200
    # live stream: fresh run dir (per-epoch manifests keep it fresh),
    # stale-looking ckpt — ckpt must survive
    run = os.path.join(parent, "stream_live")
    ck = run + "_ckpt"
    os.makedirs(run)
    os.makedirs(os.path.join(ck, "offsets"))
    with open(os.path.join(run, "_manifest-0.json"), "w") as fh:
        fh.write("[]")
    os.utime(ck, (past, past))
    # finished old stream: old committed run dir + ckpt — both must go
    done = os.path.join(parent, "stream_done")
    done_ck = done + "_ckpt"
    os.makedirs(done)
    os.makedirs(done_ck)
    with open(os.path.join(done, "_manifest-0.json"), "w") as fh:
        fh.write("[]")
    os.utime(done, (past, past))
    # orphan ckpt (sibling vacuumed in a prior pass): its own mtime is
    # NOT a liveness signal (writes land in subdirs), so it gets the 24h
    # crash cutoff, not the 1h one (ADVICE r10) — a 2h-old orphan
    # SURVIVES, a >24h one goes
    orphan = os.path.join(parent, "stream_gone_ckpt")
    os.makedirs(orphan)
    os.utime(orphan, (past, past))
    old_orphan = os.path.join(parent, "stream_long_gone_ckpt")
    os.makedirs(old_orphan)
    ancient = time.time() - 90000  # > 24h
    os.utime(old_orphan, (ancient, ancient))
    _vacuum_stale_sink_runs(parent)
    assert os.path.exists(run) and os.path.exists(ck)
    assert not os.path.exists(done) and not os.path.exists(done_ck)
    assert os.path.exists(orphan)  # young orphan kept (24h tier)
    assert not os.path.exists(old_orphan)
