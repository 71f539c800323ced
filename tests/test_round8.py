"""Round-8 fixture-invariant pins (Spark-free: pure DuckDB checks).

The incremental-delta triage synthesizes re-crawled doc ids by adding
``_RECRAWL_OFFSET`` and then classifies rows as new via
``doc_id >= _RECRAWL_OFFSET`` — a real doc id at or above the offset
would be silently reclassified on BOTH sides (parity would still hold
while the semantics drifted, ADVICE r8). Pin the invariant against
every shipped scale factor.
"""

from __future__ import annotations

import glob
import os

import duckdb

from dns_log_transformer_spark.queries.dedup import _RECRAWL_OFFSET

TESTDATA = "/root/testdata"


def test_recrawl_offset_clears_fixture_ids():
    sf_dirs = sorted(glob.glob(os.path.join(TESTDATA, "sf*")))
    assert sf_dirs, "no testdata sf directories found"
    checked = 0
    for d in sf_dirs:
        path = os.path.join(d, "documents.parquet")
        if not os.path.exists(path):
            continue
        (max_id,) = duckdb.sql(
            f"SELECT max(doc_id) FROM '{path}'"
        ).fetchone()
        assert max_id < _RECRAWL_OFFSET, (
            f"{path}: max doc_id {max_id} >= _RECRAWL_OFFSET "
            f"{_RECRAWL_OFFSET} — the is_new predicate in "
            "dedup_incremental_delta would misclassify real docs"
        )
        checked += 1
    # the pin must not pass vacuously if the fixture layout changes
    assert checked > 0, "no documents.parquet found under any sf dir"


def test_delta_oracle_retarget_is_single_mention():
    # registration already runs _delta_oracle() at import; re-run the
    # guard explicitly so a failure names the invariant, not an import
    from dns_log_transformer_spark.queries.oracle_sql import _MH_PAIRS_CTES

    assert _MH_PAIRS_CTES.count("FROM documents") == 1
