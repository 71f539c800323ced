"""Operator-library edge cases: empty inputs, degenerate parameters.

At 100 TB an 'empty' input is routine (a partition predicate that
matches nothing, a first-run benchmark set) — operators must return
empty/identity results, never throw."""

from __future__ import annotations

from pyspark.sql import functions as F

from dns_log_transformer_spark.operators import corpus, dedup, similarity
from dns_log_transformer_spark.operators.profile import profile_columns
from dns_log_transformer_spark.session import read_table
from tests.conftest import SF_SMOKE


def _empty_docs(spark):
    return spark.createDataFrame([], "doc_id long, text string")


def test_dedup_ops_on_empty_input(spark):
    empty = _empty_docs(spark)
    assert dedup.ngram_jaccard_pairs(empty).count() == 0
    assert dedup.minhash_lsh_pairs(empty).count() == 0
    assert dedup.simhash_pairs(empty).count() == 0
    assert dedup.exact_dup_groups(empty).count() == 0
    assert dedup.containment_pairs(empty).count() == 0


def test_rake_on_empty_input(spark):
    from dns_log_transformer_spark.operators.text import rake_keyphrases

    assert rake_keyphrases(_empty_docs(spark)).count() == 0


def test_kmeans_more_cells_than_rows(spark):
    emb = read_table(spark, SF_SMOKE, "embeddings").limit(5)
    out = similarity.kmeans_assign(emb, k=8, n_iter=1)
    rows = out.collect()
    assert len(rows) == 5
    # codebook truncates to the 5 available seeds; cells stay in range
    assert all(0 <= r["cell"] < 5 for r in rows)


def test_profile_on_empty_table(spark):
    empty = spark.createDataFrame([], "a long, b string")
    rows = {r["col_name"]: r for r in profile_columns(empty, ["a", "b"]).collect()}
    assert set(rows) == {"a", "b"}
    for r in rows.values():
        assert r["n_distinct"] == 0 and r["min_str"] is None and r["max_str"] is None


def test_decontaminate_empty_benchmark(spark):
    docs = read_table(spark, SF_SMOKE, "documents")
    empty = _empty_docs(spark)
    out = corpus.decontaminate(docs, empty)
    assert out.count() == docs.count()
    assert out.filter(F.col("is_contaminated")).count() == 0


def test_round3_ops_on_degenerate_docs(spark):
    """Round-3 operators must not throw on empty/whitespace/one-token
    docs, and their outputs must stay consistent (ANSI mode: no silent
    element_at/division surprises)."""
    from dns_log_transformer_spark.operators import text as t

    df = spark.createDataFrame(
        [(0, ""), (1, "   "), (2, "one"), (3, "two tokens"), (4, None)],
        "doc_id long, text string",
    )
    # span_dedup: only docs with >= 1 token produce spans
    spans = {r["doc_id"]: r for r in corpus.span_dedup(df, span_tokens=4).collect()}
    assert set(spans) == {2, 3}
    assert spans[2]["n_spans"] == 1 and spans[2]["kept_text"] == "one"
    # dsir: needs >= 2 tokens for a bigram
    w = corpus.dsir_weights(df, target_filter=F.lit(True)).collect()
    assert {r["doc_id"] for r in w} == {3}
    # quality classifier: empty/null docs have no tokens -> absent
    qc = {r["doc_id"] for r in t.quality_classifier(df).collect()}
    assert qc == {2, 3}
    # hashed embedding: present only for docs with tokens; 64-dim always
    he = {r["doc_id"]: r["embedding"] for r in t.hashed_embedding(df).collect()}
    assert set(he) == {2, 3} and all(len(v) == 64 for v in he.values())
    # bm25 on a corpus with zero term hits: empty result, no throw
    assert t.bm25_topk(df, terms=("absent",), k=5).count() == 0


def test_temperature_sample_single_source_and_tiny_total(spark):
    """One source, total smaller than the corpus: quota floors at >= 1
    and the sample is a deterministic subset."""
    df = spark.createDataFrame(
        [(i, f"d{i}", "only") for i in range(20)],
        "doc_id long, text string, source string",
    )
    out = corpus.temperature_sample(df, total=5, source_col="source").collect()
    assert 1 <= len(out) <= 5
    again = corpus.temperature_sample(df, total=5, source_col="source").collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


def test_simhash_bucket_cap_excludes_mega_cluster(spark):
    """SIMHASH_BUCKET_CAP semantics (round-7 guard): an exact-dup
    mega-cluster occupies every one of its 4 byte bands past the cap,
    so its pairs drop out of the banded join (near-exact-dup territory
    routed to content-hash dedup per the docstring) — while a distinct
    pair living in under-cap buckets is still found."""
    boiler = [(i, "the same boilerplate text repeated everywhere") for i in range(12)]
    # byte-identical under-cap pair (hamming 0 BY CONSTRUCTION — a
    # near-dup pair sitting exactly at the <=3 boundary would make this
    # test fail misleadingly on any tokenizer/hash tweak), with a token
    # set disjoint from the cluster so its band keys differ
    other = [
        (100, "zebra quagga okapi gnu impala oryx"),
        (101, "zebra quagga okapi gnu impala oryx"),
    ]
    docs = spark.createDataFrame(boiler + other, "doc_id long, text string")
    capped = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.simhash_pairs(docs, bucket_cap=5).collect()
    }
    # the 12-doc cluster exceeds cap=5 in all its bands -> none of its
    # 66 pairs survive; the under-cap pair must
    assert (100, 101) in capped
    assert not any(a < 100 and b < 100 for a, b in capped)
    # with the cap above occupancy the exact pigeonhole set returns
    uncapped = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.simhash_pairs(docs, bucket_cap=100).collect()
    }
    assert {(a, b) for a, b in uncapped if a < 100 and b < 100} == {
        (a, b) for a in range(12) for b in range(12) if a < b
    }
    assert (100, 101) in uncapped


def test_simhash_cap_binding_matches_oracle(spark):
    """Spark-vs-DuckDB agreement UNDER A BINDING CAP: the attested
    default never binds at parity scale, so an off-by-one or
    partitioning mistake in either side's cap semantics would otherwise
    surface only as a future attestation break. Same synthetic corpus,
    cap=5 on both engines, exact pair-set equality."""
    import duckdb
    import pandas as pd

    from dns_log_transformer_spark.queries.dedup import _simhash_pairs_oracle

    rows = [(i, "the same boilerplate text repeated everywhere") for i in range(12)]
    rows += [
        (100, "zebra quagga okapi gnu impala oryx"),
        (101, "zebra quagga okapi gnu impala oryx"),
        (200, "completely different singleton content here"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in dedup.simhash_pairs(docs, bucket_cap=5).collect()
    }
    con = duckdb.connect()
    con.register(
        "documents", pd.DataFrame(rows, columns=["doc_id", "text"])
    )
    want = {
        (int(a), int(b), int(h))
        for a, b, h in con.execute(_simhash_pairs_oracle(5)).fetchall()
    }
    assert got == want
    assert (100, 101, 0) in got  # the under-cap pair survives both sides
    assert not any(a < 100 for a, _b, _h in got)  # the cluster is excluded


def test_ab_ztest_degenerate_pool_yields_null_z(spark):
    """At sf0.001 every user converts (pooled variance 0): the
    z-statistic is undefined and must come back NULL — not an ANSI
    divide-by-zero that kills the job (found by the all-queries
    smallest-fixture sweep, round 9)."""
    import __spark_entry__ as entry_mod
    from tests.conftest import SF_SMOKE

    rows = entry_mod.queries()["q_ab_test_ztest"](spark, SF_SMOKE).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["c_a"] == r["n_a"] and r["c_b"] == r["n_b"], (
        "fixture no longer degenerate — update this pin"
    )
    assert r["z_stat"] is None
