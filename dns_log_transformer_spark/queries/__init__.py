"""The batch analytics query surface.

Each query is registered as ``name -> Query(fn, oracle)`` where ``fn``
is ``(SparkSession, sf_dir) -> DataFrame`` and ``oracle`` is the ANSI-SQL
equivalent DuckDB runs on the same parquet tables (None for ops SQL can't
express — the driver then records a weaker rows-only check).

Column-name discipline: every computed column is aliased identically in
the DataFrame code and the oracle SQL — the correctness harness sorts
columns by name before hashing values.
"""

from dns_log_transformer_spark.queries.registry import ALL_QUERIES, Query, register

# importing the modules populates the registry
from dns_log_transformer_spark.queries import tpch  # noqa: E402,F401
from dns_log_transformer_spark.queries import relational  # noqa: E402,F401
from dns_log_transformer_spark.queries import dns_pipeline  # noqa: E402,F401
from dns_log_transformer_spark.queries import text  # noqa: E402,F401
from dns_log_transformer_spark.queries import dedup  # noqa: E402,F401
from dns_log_transformer_spark.queries import similarity  # noqa: E402,F401
from dns_log_transformer_spark.queries import corpus  # noqa: E402,F401
from dns_log_transformer_spark.queries import multimodal  # noqa: E402,F401

# The external correctness harness checks the first 50 registered
# queries in iteration order. Since round 7 that window is DERIVED, not
# hand-curated: dns_log_transformer_spark/ledger.py packs it from the
# checked-in CORRECTNESS_r0*.json files — never-attested queries first
# (a new operator must get its driver row in its birth round), then
# stalest-green first (the queries closest to the 3-round freshness
# floor). Hand-curated windows went red at every round boundary: the
# moment the driver committed a new correctness file the freshness
# floor moved and the displaced cohort became stale outside the window
# (round 6's single red test, ADVICE r6 finding 3). Deriving at import
# time means the window re-rotates itself the instant a correctness
# file lands, so tests/test_ledger.py stays green by construction while
# the registry fits the 200-query capacity ceiling the packer asserts.
#
# Everything outside the window is still re-attested against DuckDB at
# sf0.01 every pytest session by tests/test_oracle_parity.py.


def _reorder() -> None:
    from dns_log_transformer_spark.ledger import current_source_hashes, pack_window

    # source hashes make attestation freshness content-keyed: a query
    # whose code/oracle changed since its last green driver row packs
    # first, as if never attested (VERDICT r10 #2 — 9 of 12 r10-merged
    # homes kept pre-merge green rows and missed re-attestation)
    window = pack_window(
        list(ALL_QUERIES), source_hashes=current_source_hashes(ALL_QUERIES)
    )
    if len(window) != 50:  # not assert: the driver contract must survive -O
        raise RuntimeError(f"driver window must be exactly 50, got {len(window)}")
    ordered = {n: ALL_QUERIES[n] for n in window}
    ordered.update({n: q for n, q in ALL_QUERIES.items() if n not in ordered})
    ALL_QUERIES.clear()
    ALL_QUERIES.update(ordered)


_reorder()

__all__ = ["ALL_QUERIES", "Query", "register"]
