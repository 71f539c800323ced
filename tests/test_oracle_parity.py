"""Oracle parity: every registered query vs its DuckDB oracle.

Mirrors the driver's t2 gate (row count + schema + order-insensitive
values) at sf0.01, but stricter in failure reporting: on mismatch it
prints the first differing rows. Queries without an oracle get a
rows-run smoke check.
"""

from __future__ import annotations

import math

import duckdb
import pandas as pd
import pytest

import __spark_entry__ as entry_mod
from dns_log_transformer_spark import plans
from dns_log_transformer_spark.broadcast_allowlist import BROADCAST_ALLOWLIST
from dns_log_transformer_spark.session import TABLES
from tests.conftest import SF_ORACLE

# Queries whose BroadcastNestedLoopJoin is documented scale-bounded —
# the broadcast side is a constant-size workload, scalar, or dimension,
# never corpus-proportional (see each query's docstring):
BNLJ_DOCUMENTED = {
    "corpus_source_overlap",  # #sources x 64-long digest pair compare
    "emb_neardup_pairs",  # exact all-pairs baseline, by contract
    "q11_important_parts",  # 1-row scalar-subquery threshold broadcast
    "q15_top_supplier",  # 1-row max(total_revenue) scalar broadcast
    "q22_idle_balances",  # 1-row avg-balance scalar broadcast
    "q_recursive_months",  # generated month dimension (tens of rows)
    "q_key_skew_report",  # 1-row (n_rows, n_keys) stats scalar broadcast
    "q_snapshot_drift",  # 1-row snapshot-totals scalar broadcast
    "q_join_size_estimate",  # 1-row est_total scalar broadcast
    "q_decayed_popularity",  # 1-row max-timestamp scalar broadcast
    "q_rfm_segments",  # 1-row reference-date scalar broadcast
    "q_triangle_suppliers",  # 1-row count scalars for the ratio report
    "sim_int8_topk",  # broadcast query workload scan, by contract
    "sim_int8_rerank",  # stage 1 is the same broadcast-queries scan
    "sim_pq_adc_topk",  # broadcast per-query LUTs, by contract
    "emb_knn_label",  # composes the broadcast-queries baseline below
    "sim_topk_bruteforce",  # exact broadcast-queries baseline
    "text_bm25_topk",  # broadcast query-term constants
    "text_hybrid_rrf",  # composes the bm25 retriever above
    "corpus_prune_curve",  # 10-row threshold dim + 1-row totals scalar
    "q_concurrent_intervals",  # year-dimension triangular prefix (tens of rows)
    "q_skyline_pareto",  # <=50-point size-domain triangular frontier
    "text_pmi_collocations",  # 1-row total-bigram-count scalar broadcast
    "dedup_blocking_audit",  # crossJoins of four 1-row metric aggregates
    "dedup_blocking_tradeoff",  # 4-row settings dim x 1-row metric aggs
    "emb_matryoshka_probe",  # broadcast query workload scan, by contract
    "sim_matryoshka_rerank",  # stage 1 is the same broadcast-queries scan
    "sim_matryoshka_tradeoff",  # same broadcast-queries measurement scan
    "sim_ivf_tradeoff",  # truth pass = the same broadcast-queries scan
    #                      + 1-row n_queries/n_corpus count scalars
}

# The single measured row-at-a-time Python exception: the sentence-split
# UDTF's pickled path beats Arrow 0.28s vs 0.70s at sf0.1 (per-value
# conversion overhead on small-row 1->N fan-out; see operators/text.py).
ROW_PYTHON_DOCUMENTED = {"text_sentences"}


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{SF_ORACLE}/{t}.parquet')"
        )
    return con


def driver_canon(df: pd.DataFrame, name: str) -> None:
    """Twin of the external harness's canonicalizer: sort-by-all-columns
    on the RAW frame, no astype(str) pre-pass. Crashes with 'unhashable
    type: list' when a query exposes array-typed output columns — which
    ``normalize`` below masks by stringifying first. Every registered
    query must survive this (round-4 lesson: text_hashed_embedding and
    emb_pq_codes errored at the driver while green locally)."""
    out = df.reindex(sorted(df.columns), axis=1)
    try:
        out.sort_values(by=list(out.columns), ignore_index=True)
    except TypeError as e:
        raise AssertionError(
            f"{name}: output does not sort under the driver's raw "
            f"canonicalizer ({e}); project array/struct columns to a "
            f"sortable scalar (e.g. array_join) on both query and oracle"
        ) from e


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    out = df.reindex(sorted(df.columns), axis=1)
    for c in out.columns:
        if pd.api.types.is_datetime64_any_dtype(out[c]):
            out[c] = out[c].astype("datetime64[us]").astype(str)
        elif out[c].dtype == object:
            out[c] = out[c].astype(str)
        elif pd.api.types.is_float_dtype(out[c]):
            out[c] = out[c].astype("float64")
        elif pd.api.types.is_integer_dtype(out[c]):
            out[c] = out[c].astype("int64")
    return out.sort_values(by=list(out.columns), ignore_index=True)


def assert_frames_match(spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame, name: str):
    assert len(spark_pdf) == len(duck_pdf), (
        f"{name}: row count {len(spark_pdf)} (spark) != {len(duck_pdf)} (duckdb)"
    )
    s, d = normalize(spark_pdf), normalize(duck_pdf)
    assert list(s.columns) == list(d.columns), (
        f"{name}: columns {list(s.columns)} != {list(d.columns)}"
    )
    for c in s.columns:
        if pd.api.types.is_float_dtype(s[c]):
            sa, da = s[c].to_numpy(), d[c].to_numpy()
            both_nan = [
                (isinstance(x, float) and math.isnan(x))
                and (isinstance(y, float) and math.isnan(y))
                for x, y in zip(sa, da)
            ]
            mism = [
                i
                for i, (x, y) in enumerate(zip(sa, da))
                if not both_nan[i] and x != y
            ]
        else:
            mism = [i for i, ok in enumerate(s[c].eq(d[c])) if not ok]
        assert not mism, (
            f"{name}: column {c} differs at {len(mism)} rows; first: "
            f"spark={s.iloc[mism[0]].to_dict()} duck={d.iloc[mism[0]].to_dict()}"
        )


ALL = sorted(entry_mod.queries())
ORACLES = entry_mod.oracle_sql()


@pytest.mark.parametrize("name", ALL)
def test_query_parity(spark, duck, name):
    from dns_log_transformer_spark.operators.caching import release_all

    sdf = entry_mod.queries()[name](spark, SF_ORACLE)
    try:
        spark_pdf = sdf.toPandas()
    finally:
        # 97 queries share one session: drop operator-internal caches so
        # the suite doesn't accumulate session-lifetime storage
        release_all()
    driver_canon(spark_pdf, name)
    # registry-wide scale lint: every query's physical plan holds the
    # PLANS.md invariants (no cartesian, no row-at-a-time Python, BNLJ
    # only where documented, SinglePartition only into global aggs)
    violations = plans.scale_lint(
        sdf,
        allow_bnlj=name in BNLJ_DOCUMENTED,
        allow_row_python=name in ROW_PYTHON_DOCUMENTED,
    )
    assert not violations, f"{name}: scale lint: {violations}"
    # codegen compile lint (VERDICT r11 #1): the silent interpreted
    # fallback (Janino 64 KB / hugeMethodLimit) fails LOUDLY here for
    # every registered query — post-execution the plan is AQE-final and
    # successful compiles are codegen-cache hits, so this is ~free
    cg = plans.codegen_lint(sdf)
    assert not cg, f"{name}: codegen lint: {cg}"
    # optimized-plan-size lint (VERDICT r12 #1): the rule-11 optimizer
    # blowup class (plain explode substituting an unrolled walk into one
    # scan predicate — 41 MB plan / driver OOM) fails LOUDLY here; the
    # optimized plan is already computed on an executed frame, so this
    # is a toString + length check
    ps = plans.plan_size_lint(sdf)
    assert not ps, f"{name}: plan size lint: {ps}"
    # static-broadcast audit lint (VERDICT r13 #1): every statically
    # planned broadcast join must carry a checked-in
    # bounded-by-construction rationale — the rule-12 class (corpus-
    # sized build side off an undershooting estimate) fails HERE at the
    # gate fixture instead of only in a hand-run x100 sweep
    bc = plans.broadcast_lint(sdf, BROADCAST_ALLOWLIST.get(name, {}))
    assert not bc, f"{name}: broadcast lint: {bc}"
    if name not in ORACLES:
        # rows-only contract: runs and yields a stable schema
        assert spark_pdf is not None
        return
    duck_pdf = duck.execute(ORACLES[name]).df()
    driver_canon(duck_pdf, name)
    assert_frames_match(spark_pdf, duck_pdf, name)


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() > 0
    assert {"line", "kind", "line_no"}.issubset(set(df.columns))
