"""Simulate the driver's verify pass against __spark_entry__.py:
smoke entry() at sf0.001, then run every queries() entry at the given sf
and compare to oracle_sql() via DuckDB (row-count + sorted-column +
order-insensitive value equality). Usage:
    python scripts/driver_sim.py [sf_dir] [query ...]
    python scripts/driver_sim.py --json OUT.json [sf_dir] [query ...]

Comparison is HASH-BASED: each row canonicalizes to a string (sorted
columns, engine-neutral value forms) and the md5s of all rows sum mod
2^128 — order-insensitive, O(n) with no global sort and no materialized
tuple list, so 6M-row outputs compare in seconds (the r4 sort-stringify
canonicalization cost minutes per query at the 10x probe and gated the
full sweep there). On mismatch with small outputs the old sorted-diff
path re-runs for a readable sample.

Didactic-oracle cap: the all-pairs `dedup_ngram_jaccard`/
`dedup_containment` queries emit output quadratic in duplicate
multiplicity BY DESIGN (SCALING.md documents why production routes
through the `_unique` variants). At the 10x probe their DuckDB oracles
thrash (>100 GB). For corpora above _CAP_THRESHOLD docs, BOTH engines
run those two queries over the same deterministically capped documents
table (doc_id-hash sample materialized next to the probe fixtures), so
the check stays an honest same-input comparison while staying bounded.

`graph_triangle_count` gets the same treatment on LINEITEM, for a
different reason: the probe synthesizes 10x data by striking the fact
table verbatim under disjoint order keys, which multiplies every
co-purchase pair's support by the copy count — duplicated facts are the
same data counted twice, not more data — so the support>=2 association
cut stops filtering and the wedge join explodes quadratically ON BOTH
ENGINES (measured: >50 GB spill, unbounded runtime). The cap restores
the first copy (l_orderkey < the probe's key stride), i.e. the query's
natural-data behavior at probe scale, which SCALING.md measures directly.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import re
import sys
import time
from pathlib import Path

import duckdb
import numpy as np
import pandas as pd

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

import __spark_entry__ as entrymod  # noqa: E402
from bench import time_noop  # noqa: E402
from ocs_duckdb_runner_spark.registry import TABLES, derived  # noqa: E402
from ocs_duckdb_runner_spark.session import build_spark  # noqa: E402

# queries whose OUTPUT is quadratic in duplicate multiplicity by design
_CAPPED_QUERIES = {
    "dedup_ngram_jaccard",
    "dedup_containment",
    "graph_triangle_count",
    # pair LIST output is quadratic in clone multiplicity, and the probe
    # strikes every text into ~copies identical docs: at 100x (4,992
    # unique texts x ~100 copies) the cluster-edge list is ~50M pairs and
    # the DuckDB oracle's union-find over it OOMs the host (measured:
    # 129 GB RSS before the kill) — same phenomenon, same honest
    # capped-same-input remedy as the jaccard pair queries
    "dedup_clusters",
}
_CAP_THRESHOLD = 20_000  # docs; sf0.1 has 5k — cap only kicks in at probes
# auto-retime gate (--retime-ref): fresh-JVM re-time when the in-sweep
# wall exceeds BOTH the absolute floor and FACTOR x the committed value
_RETIME_ABS_SECS = 10.0
_RETIME_FACTOR = 3.0
_CAP_MOD = 7  # keep doc_id % 7 == 0 → ~1/7 of the corpus
_CAP_KEY_STRIDE = 100_000_000  # scale_probe.KEY_STRIDE: first-copy cut


def canon_val(v):
    if v is None:
        return "NULL"
    if isinstance(v, (float, np.floating)):
        f = float(v)
        return "NULL" if math.isnan(f) else repr(f)
    if isinstance(v, (bool, np.bool_)):
        return repr(bool(v))
    if isinstance(v, (int, np.integer)):
        return repr(int(v))
    if isinstance(v, pd.Timestamp):
        return "NULL" if pd.isna(v) else v.isoformat()
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(str(canon_val(x)) for x in v) + "]"
    if isinstance(v, bytes):
        return v.hex()
    try:
        if pd.isna(v):
            return "NULL"
    except (TypeError, ValueError):
        pass
    return repr(v)


def canon_hash(pdf: pd.DataFrame) -> int:
    """Order-insensitive 128-bit content hash: md5 per canonical row,
    summed mod 2^128. Equal multisets of rows ⟺ equal (hash, len) with
    md5-collision probability; no sort, no row-tuple materialization."""
    pdf = pdf[sorted(pdf.columns)]
    cols = [pdf[c].map(canon_val) for c in pdf.columns]
    joined = cols[0].astype(str) if cols else pd.Series([], dtype=str)
    if len(cols) > 1:
        joined = joined.str.cat([c.astype(str) for c in cols[1:]], sep="\x1f")
    total = 0
    for s in joined:
        h = int.from_bytes(hashlib.md5(s.encode()).digest(), "big")
        total = (total + h) % (1 << 128)
    return total


def canon(pdf: pd.DataFrame) -> list[tuple]:
    """Sorted canonical rows — the readable-diff slow path."""
    pdf = pdf[sorted(pdf.columns)]
    return sorted(
        tuple(canon_val(v) for v in row) for row in pdf.itertuples(index=False)
    )


def _doc_count(sf_dir: str) -> int:
    p = Path(f"{sf_dir}/documents.parquet")
    if not p.exists():
        return 0
    glob = f"{p}/*.parquet" if p.is_dir() else str(p)
    return duckdb.sql(f"SELECT count(*) FROM read_parquet('{glob}')").fetchone()[0]


def _build_capped_dir(sf_dir: str) -> str:
    """Materialize a deterministically sampled documents table (plus the
    other tables untouched, via symlink) for the quadratic didactic
    queries — same bytes for both engines. Derived through
    registry.derived, so it is keyed by the fixtures' content and a
    directory that exists is complete."""
    caps = {
        "documents": f"doc_id % {_CAP_MOD} = 0",
        "lineitem": f"l_orderkey < {_CAP_KEY_STRIDE}",
    }

    def build(out: str) -> None:
        os.makedirs(out)
        for t in TABLES:
            src = Path(f"{sf_dir}/{t}.parquet").absolute()
            if not src.exists():
                continue  # --tables probe builds omit unscaled fact tables
            if t not in caps:
                os.symlink(src, f"{out}/{t}.parquet")
                continue
            glob = f"{src}/*.parquet" if src.is_dir() else str(src)
            duckdb.sql(
                f"COPY (SELECT * FROM read_parquet('{glob}') "
                f"WHERE {caps[t]}) TO '{out}/{t}.parquet' (FORMAT PARQUET)"
            )

    return derived(sf_dir, "capped", build)


def _register_views(duck, sf_dir: str) -> None:
    for t in TABLES:
        p = Path(f"{sf_dir}/{t}.parquet")
        if p.is_dir():  # directory-parquet (e.g. scale-probe output)
            duck.execute(
                f"CREATE OR REPLACE VIEW {t} AS "
                f"SELECT * FROM read_parquet('{p}/*.parquet')"
            )
        elif p.exists():
            duck.execute(
                f"CREATE OR REPLACE VIEW {t} AS "
                f"SELECT * FROM read_parquet('{p}')"
            )


def auto_retime_ref(json_out: str) -> str | None:
    """Discover the prior-round artifact to use as the auto-retime ref.

    r11 verdict Next #1: the r11 10x sweep shipped with the
    stall-resistance flag unarmed and 11 walls needed a follow-up RETIMES
    artifact. Arm it permanently: a round-numbered artifact name
    (``FAMILY_r{N}.json``) auto-discovers the highest prior-round artifact
    of the same family in the same directory, so the sweep self-heals
    without the caller remembering ``--retime-ref``. Returns None for the
    first-ever artifact of a family or a non-round-numbered name.
    """
    m = re.match(r"(.+_r)(\d+)(\.json)$", os.path.basename(json_out))
    if not m:
        return None
    fam, rnd, ext = m.group(1), int(m.group(2)), m.group(3)
    d = os.path.dirname(json_out) or "."
    try:
        names = os.listdir(d)
    except OSError:
        return None
    prior = sorted(
        (int(mm.group(1)), f)
        for f in names
        if (mm := re.match(re.escape(fam) + r"(\d+)" + re.escape(ext) + "$",
                           f))
        and int(mm.group(1)) < rnd
    )
    return os.path.join(d, prior[-1][1]) if prior else None


def main() -> int:
    argv = sys.argv[1:]
    json_out = None
    retime_ref = None
    time_only = False
    while argv and argv[0].startswith("--"):
        if argv[0] == "--json":
            json_out = argv[1]
            argv = argv[2:]
        elif argv[0] == "--retime-ref":
            # prior round's committed artifact for this fixture dir; any
            # query whose wall exceeds 3x its committed value gets ONE
            # fresh-JVM re-time before the artifact is written (r10: a
            # ~90s transient host stall inflated 8 alphabetically
            # consecutive rows and needed a manual audit — the sweep now
            # self-heals the way bench.py already does)
            retime_ref = argv[1]
            argv = argv[2:]
        elif argv[0] == "--time-only":
            # internal mode used by the auto-retime subprocess: run the
            # named queries, time construct+execute+toPandas, skip the
            # smoke pass and the oracle entirely
            time_only = True
            argv = argv[1:]
        else:
            raise SystemExit(f"unknown flag {argv[0]}")
    if retime_ref is None and json_out and not time_only:
        retime_ref = auto_retime_ref(json_out)
        if retime_ref:
            print(f"RETIME-REF auto-armed: {retime_ref}")
        elif re.match(r".+_r\d+\.json$", os.path.basename(json_out)):
            print("RETIME-REF: no prior artifact of this family found — "
                  "first of its kind, proceeding un-reffed")
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])
    spark = build_spark(app_name="driver-sim")

    if not time_only:
        t0 = time.monotonic()
        smoke = entrymod.entry(spark)
        rows = smoke.collect()
        print(f"SMOKE entry(): {len(rows)} rows,"
              f" schema={smoke.schema.simpleString()}"
              f" ({time.monotonic() - t0:.1f}s)")
        assert len(rows) > 0
    else:
        # warm the fresh JVM before timing (bench.py's fresh-retime
        # convention): codegen/scan setup otherwise lands on the first
        # timed query and overstates it by several seconds
        li = Path(f"{sf_dir}/lineitem.parquet")
        warm = li if li.exists() else Path(f"{sf_dir}/documents.parquet")
        if warm.exists():
            spark.read.parquet(str(warm)).count()

    def _fresh_con(view_dir: str):
        # bounded memory + disk spill: a runaway oracle degrades to slow,
        # not to a 100 GB RAM thrash (the r4 10x-sweep failure mode)
        c = duckdb.connect()
        c.execute("SET memory_limit='24GB'")
        c.execute("SET temp_directory='/tmp/ocs_duckdb_spill'")
        c.execute("SET max_temp_directory_size='40GB'")
        _register_views(c, view_dir)
        return c

    duck = _fresh_con(sf_dir)

    cap_dir = None
    if _doc_count(sf_dir) > _CAP_THRESHOLD:
        cap_dir = _build_capped_dir(sf_dir)
        duck_cap = _fresh_con(cap_dir)
        print(f"CAPPED corpus for {sorted(_CAPPED_QUERIES)} -> {cap_dir}")

    # an oracle heavy enough to fill its buffer pool / spill leaves tens
    # of GB resident in THIS process and poisons every later query's
    # spark_secs via page-cache/swap pressure (r10 find: embed_pq_codes's
    # 449 s oracle at the 100x probe inflated the NEXT queries' engine
    # walls 10-20x — text_repetition read 142 s contaminated vs 14 s
    # clean). Recycle the connection after any heavy oracle so engine
    # attribution stays honest.
    _ORACLE_RECYCLE_SECS = 60.0

    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    n_pass = n_fail = 0
    report: dict[str, dict] = {}
    for name, fn in sorted(qs.items()):
        if only and name not in only:
            continue
        rec = {"rows_match": None, "schema_match": None, "hash_match": None,
               "spark_rows": None, "oracle_rows": None, "err": None}
        report[name] = rec
        q_dir, q_duck = sf_dir, duck
        if cap_dir and name in _CAPPED_QUERIES:
            q_dir, q_duck = cap_dir, duck_cap
        t0 = time.monotonic()
        try:
            got = fn(spark, q_dir).toPandas()
        except Exception as ex:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {ex}")
            rec["err"] = f"spark: {ex}"
            n_fail += 1
            continue
        dt = time.monotonic() - t0
        rec["spark_rows"] = len(got)
        # spark_secs is the ENGINE-only wall (construct + execute +
        # toPandas); the DuckDB oracle is timed separately below
        # (oracle_secs) so probe artifacts attribute scaling behavior to
        # the engine, not to engine+oracle combined (r9 verdict Next #2:
        # the 1000x pipeline number was unattributable from "secs" alone).
        # "secs" stays as an alias for older tooling reading the field.
        rec["secs"] = rec["spark_secs"] = round(dt, 2)
        # Engine-vs-rig attribution for FULL-RESULT queries (r10 verdict
        # Next #1): spark_secs folds in the harness's toPandas of the
        # whole result, so a map-heavy query returning millions of rows
        # reads 10x its engine wall (fn_math: 41 s recorded vs 4.5 s
        # noop-sink at 10x). When the result is big enough that the
        # Arrow collect could dominate (>=100k rows and >=5 s wall), a
        # second warm run to the noop sink records the engine-only wall
        # as engine_secs; collect_secs is the residual. Streaming/sink
        # queries are excluded — re-running them replays side effects.
        if (
            dt >= 5.0
            and len(got) >= 100_000
            and not name.startswith(("stream_", "sink_", "src_"))
        ):
            try:
                rec["engine_secs"] = time_noop(spark, fn, q_dir)
                rec["collect_secs"] = round(
                    max(0.0, dt - rec["engine_secs"]), 2
                )
            except Exception:  # noqa: BLE001 — attribution is best-effort
                pass
        if time_only:
            print(f"TIME  {name}: {len(got)} rows ({dt:.1f}s)")
            n_pass += 1
            continue
        if name not in oracles:
            # a rows-only query with EMPTY output is a fail, not a pass:
            # every rows-only query in the registry is non-empty on every
            # fixture by construction, and "0 rows" is exactly how the r8
            # streaming-source layout bug hid behind the rows-only gate
            # (the glob filter matched nothing → zero input → 'pass')
            if len(got) == 0:
                print(f"FAIL  {name}: rows-only query returned 0 rows")
                rec["err"] = "rows_only_empty"
                n_fail += 1
                continue
            print(f"ROWS  {name}: {len(got)} rows ({dt:.1f}s) [no oracle]")
            rec["err"] = "no_oracle"
            n_pass += 1
            continue
        oracle_err = None
        ot = time.monotonic()
        try:
            want = q_duck.execute(oracles[name]).fetchdf()
        except Exception as ex:  # noqa: BLE001
            oracle_err = ex
        finally:
            # Recycle on BOTH the success and the error path: an oracle
            # that runs long and then errors (OOM/temp-space — the
            # likeliest buffer-pool-filling case) would otherwise skip
            # the recycle and contaminate subsequent queries' spark_secs
            # — the exact attribution problem the recycle targets.
            rec["oracle_secs"] = round(time.monotonic() - ot, 2)
            if rec["oracle_secs"] > _ORACLE_RECYCLE_SECS:
                # drop the inflated buffer pool before the next query's
                # engine timing (see _ORACLE_RECYCLE_SECS note above)
                try:
                    q_duck.close()
                except Exception:  # noqa: BLE001
                    pass
                if cap_dir and name in _CAPPED_QUERIES:
                    duck_cap = q_duck = _fresh_con(cap_dir)
                else:
                    duck = q_duck = _fresh_con(sf_dir)
                rec["oracle_recycled"] = True
        if oracle_err is not None:
            print(f"FAIL  {name}: oracle error: {oracle_err}")
            rec["err"] = f"oracle: {oracle_err}"
            n_fail += 1
            continue
        rec["oracle_rows"] = len(want)
        rec["rows_match"] = len(got) == len(want)
        rec["schema_match"] = sorted(got.columns) == sorted(want.columns)
        if not rec["schema_match"]:
            print(f"FAIL  {name}: columns spark={sorted(got.columns)}"
                  f" oracle={sorted(want.columns)}")
            rec["hash_match"] = False
            n_fail += 1
        elif not rec["rows_match"]:
            print(f"FAIL  {name}: rows spark={len(got)} oracle={len(want)}")
            rec["hash_match"] = False
            n_fail += 1
        else:
            ht = time.monotonic()
            rec["hash_match"] = canon_hash(got) == canon_hash(want)
            rec["secs_hash"] = round(time.monotonic() - ht, 2)
            if rec["hash_match"]:
                print(f"OK    {name}: {len(got)} rows match oracle ({dt:.1f}s)")
                n_pass += 1
            else:
                diff = ""
                if len(got) <= 100_000:
                    g, w = canon(got), canon(want)
                    diff = [(a, b) for a, b in zip(g, w) if a != b][:3]
                print(f"FAIL  {name}: value mismatch {diff}")
                n_fail += 1
    # Stall-resistant sweeps (r10 verdict Next #6): any query whose wall
    # exceeded 3x its committed prior-round value (and 10 s absolute — the
    # ratio is meaningless in the jitter band) gets ONE re-time in a fresh
    # JVM before the artifact is written. The fresh number becomes the
    # primary spark_secs (same convention as bench.py's fresh re-times);
    # the in-sweep wall is preserved as spark_secs_insweep and the row is
    # tagged auto_retimed so the reader can see the instrument fired.
    if retime_ref and not time_only:
        import subprocess
        import tempfile

        try:
            with open(retime_ref) as fh:
                ref = {
                    k: v.get("spark_secs") or v.get("secs")
                    for k, v in json.load(fh).items()
                    if isinstance(v, dict)
                }
        except (OSError, ValueError):
            ref = {}
        flagged = sorted(
            n
            for n, rec in report.items()
            if rec.get("spark_secs") and ref.get(n)
            and rec["spark_secs"] > _RETIME_ABS_SECS
            and rec["spark_secs"] > _RETIME_FACTOR * ref[n]
        )
        for n in flagged:
            with tempfile.NamedTemporaryFile(suffix=".json") as tf:
                try:
                    subprocess.run(
                        [sys.executable, __file__, "--time-only",
                         "--json", tf.name, sf_dir, n],
                        check=True, timeout=1800,
                        stdout=subprocess.DEVNULL,
                        stderr=subprocess.DEVNULL,
                    )
                    fresh = json.load(open(tf.name))[n]["spark_secs"]
                except Exception as ex:  # noqa: BLE001
                    print(f"RETIME {n}: fresh-JVM re-time failed: {ex}")
                    continue
            rec = report[n]
            rec["auto_retimed"] = True
            rec["spark_secs_insweep"] = rec["spark_secs"]
            rec["secs"] = rec["spark_secs"] = fresh
            print(f"RETIME {n}: in-sweep {rec['spark_secs_insweep']}s ->"
                  f" fresh {fresh}s (committed ref {ref[n]}s)")

    print(f"== {n_pass} pass, {n_fail} fail ==")
    if json_out:
        Path(json_out).write_text(json.dumps(report, indent=2) + "\n")
        print(f"wrote {json_out}")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
