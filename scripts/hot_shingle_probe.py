"""Hot-shingle probe fixture: prove SHINGLE_DF_CAP/GRAM_DF_CAP preserve
answers UNDER ORACLE CHECK when they actually fire.

The synthetic fixtures' max shingle df is ~25, so every committed sweep
exercised the cap's code path but never its filtering behavior — the
only lock was the planted-hot-shingle unit test (r8 verdict, Missing #3).
This script builds a fixture variant where HALF the documents carry the
same appended boilerplate sentence (df ~= n_docs/2 >> 256, the exact
"viral line" the cap exists for), then runs the standard driver_sim
oracle comparison over the shingle/gram family there. Both engines share
the cap (the oracle SQL bakes in `df <= CAP`), so the comparison is
well-defined — and it now covers a corpus where the cap BINDS.

Usage:
    python scripts/hot_shingle_probe.py [base_sf_dir] [--json OUT.json]

Builds the variant through registry.derived (under
/tmp/ocs_derived/<base-tag>_<fingerprint>/hotshingle/, like every other
derived fixture: a private build published with one rename), verifies the
planted df actually exceeds the cap, and execs driver_sim on the probe
queries.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
from pathlib import Path

import duckdb

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from ocs_duckdb_runner_spark.registry import TABLES, derived  # noqa: E402

VIRAL = (
    "subscribe to our newsletter for daily updates and exclusive offers today"
)

# the shingle/gram-family queries whose semantics the caps touch; all
# carry the cap in BOTH engines
QUERIES = [
    "dedup_ngram_jaccard",
    "dedup_ngram_jaccard_unique",
    "dedup_containment",
    "dedup_containment_unique",
    "decontaminate_ngram",
    "text_boilerplate",
    "dedup_clusters",
    "corpus_ngram_novelty",
]


def build(base: str) -> str:
    def write(out: str) -> None:
        os.makedirs(out)
        for t in TABLES:
            if t != "documents":
                shutil.copy(os.path.join(base, f"{t}.parquet"), out)
        duckdb.connect().execute(
            f"""
            COPY (
              SELECT doc_id,
                     CASE WHEN doc_id % 2 = 0 THEN text || ' ' || '{VIRAL}'
                          ELSE text END AS text,
                     lang, source,
                     CAST(len(CASE WHEN doc_id % 2 = 0
                                   THEN text || ' ' || '{VIRAL}'
                                   ELSE text END) AS BIGINT) AS n_chars
              FROM read_parquet('{base}/documents.parquet')
            ) TO '{out}/documents.parquet' (FORMAT PARQUET)
            """
        )

    return derived(base, "hotshingle", write)


def assert_cap_binds(out: str, cap: int) -> int:
    """The probe is meaningless unless the planted shingle's df exceeds
    the cap — fail loudly if the fixture didn't do its job."""
    con = duckdb.connect()
    max_df = con.execute(
        f"""
        WITH sh AS (
          SELECT doc_id,
                 unnest(list_distinct(list_transform(
                   generate_series(1, len(toks) - 2),
                   i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                 ))) AS shingle
          FROM (SELECT doc_id, string_split(text, ' ') AS toks
                FROM read_parquet('{out}/documents.parquet')))
        SELECT max(df) FROM (
          SELECT count(*) AS df FROM sh GROUP BY shingle)
        """
    ).fetchone()[0]
    assert max_df > cap, f"planted shingle df {max_df} does not exceed cap {cap}"
    return max_df


def main() -> int:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    base = args[0] if args else "/root/testdata/sf0.1"
    json_out = None
    if "--json" in sys.argv:
        json_out = sys.argv[sys.argv.index("--json") + 1]

    from ocs_duckdb_runner_spark.llm.dedup import SHINGLE_DF_CAP

    out = build(base)
    max_df = assert_cap_binds(out, SHINGLE_DF_CAP)
    print(f"probe fixture {out}: max shingle df {max_df} > cap {SHINGLE_DF_CAP}")
    cmd = [sys.executable, str(REPO / "scripts" / "driver_sim.py")]
    if json_out:
        cmd += ["--json", json_out]
    cmd += [out, *QUERIES]
    return subprocess.call(cmd)


if __name__ == "__main__":
    raise SystemExit(main())
