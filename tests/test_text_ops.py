"""Text-operator unit tests (beyond the oracle-parity mirror)."""

from __future__ import annotations

from dns_log_transformer_spark.operators import text


def test_sentences_basic(spark):
    df = spark.createDataFrame(
        [(1, "First. Second sentence.  Third"), (2, None), (3, "...")],
        "doc_id int, text string",
    )
    rows = {(r.doc_id, r.sent_no, r.sentence) for r in text.sentences(df).collect()}
    assert rows == {(1, 0, "First"), (1, 1, "Second sentence"), (1, 2, "Third")}


def test_sentences_concurrent_calls_do_not_clobber(spark):
    """Round-1 bug: a fixed temp-view name (`_sentences_in`) meant a second
    call re-bound the view before the first plan executed, so the first
    call returned the second call's data. Build BOTH plans before
    collecting EITHER — each must see its own input."""
    df_a = spark.createDataFrame([(1, "alpha. beta")], "doc_id int, text string")
    df_b = spark.createDataFrame([(9, "gamma")], "doc_id int, text string")
    plan_a = text.sentences(df_a)
    plan_b = text.sentences(df_b)  # would have clobbered plan_a's view
    got_a = {(r.doc_id, r.sentence) for r in plan_a.collect()}
    got_b = {(r.doc_id, r.sentence) for r in plan_b.collect()}
    assert got_a == {(1, "alpha"), (1, "beta")}
    assert got_b == {(9, "gamma")}


def test_sentences_custom_columns(spark):
    df = spark.createDataFrame([("d1", "x. y")], "k string, body string")
    rows = text.sentences(df, id_col="k", text_col="body").collect()
    assert {(r.k, r.sent_no, r.sentence) for r in rows} == {("d1", 0, "x"), ("d1", 1, "y")}


def test_connected_components_raises_on_non_convergence(spark):
    """A label-propagation chain needs ~diameter rounds; exhausting
    max_iter must raise, not return split components as if correct."""
    import pytest

    from dns_log_transformer_spark.operators import dedup

    chain = spark.createDataFrame(
        [(i + 1, i) for i in range(1, 9)], ["doc_a", "doc_b"]
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup.connected_components(chain, max_iter=2)
    ok = dedup.connected_components(chain, max_iter=20)
    comps = {r["component"] for r in ok.collect()}
    assert comps == {1}


def test_quality_classifier_margins_are_exact(spark):
    """Margins must be exact integer sums of per-token weights; same doc
    -> same margin; score = margin / n_tokens."""
    from dns_log_transformer_spark.operators import text as t

    df = spark.createDataFrame(
        [(0, "alpha beta gamma"), (1, "alpha beta gamma"), (2, "alpha")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in t.quality_classifier(df).collect()}
    assert out[0]["margin"] == out[1]["margin"]
    assert out[0]["n_tokens"] == 3 and out[2]["n_tokens"] == 1
    assert out[0]["score"] == round(out[0]["margin"] / 3, 4)
    # the weight model is a pure function of the tokens: rerun matches
    again = {r["doc_id"]: r["margin"] for r in t.quality_classifier(df).collect()}
    assert again == {d: r["margin"] for d, r in out.items()}


def test_bm25_ranks_term_dense_docs_first(spark):
    """A doc saturated with the query terms must outrank one with a
    single hit; docs with no hits are absent."""
    from dns_log_transformer_spark.operators import text as t

    df = spark.createDataFrame(
        [
            (0, "spark join window spark join window spark"),
            (1, "spark filler filler filler filler filler"),
            (2, "nothing relevant here at all"),
        ],
        "doc_id long, text string",
    )
    rows = t.bm25_topk(df, terms=("spark", "join", "window"), k=10).collect()
    ids = [r["doc_id"] for r in rows]
    assert ids[0] == 0 and 1 in ids and 2 not in ids
    assert rows[0]["score"] > rows[1]["score"] > 0


def test_hashed_embedding_feeds_ann(spark):
    """The hashed embedding output plugs into the ANN family at the
    (id, embedding) interface: docs sharing tokens land near each other,
    and the LSH top-k runs end-to-end on text-derived vectors."""
    from dns_log_transformer_spark.operators import similarity
    from dns_log_transformer_spark.operators import text as t
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [
            (0, "spark window join agg filter scan"),
            (1, "spark window join agg filter scan"),      # exact twin of 0
            (2, "completely different words entirely here now"),
        ],
        "doc_id long, text string",
    )
    emb = t.hashed_embedding(df).select(
        F.col("doc_id").alias("vec_id"),
        F.col("embedding").cast("array<double>").alias("embedding"),
    )
    out = similarity.brute_force_topk(emb, emb.filter("vec_id = 0"), k=2)
    ranked = [r["vec_id"] for r in out.orderBy("rnk").collect()]
    assert ranked[0] == 1  # the twin is the nearest neighbor


def test_fingerprint_keeps_zero_token_docs(spark, monkeypatch):
    """The merged text_fingerprint must FINGERPRINT every document —
    a zero-token doc (empty/whitespace text) has no simhash row, but
    the left join keeps its md5 fingerprint with a NULL simhash
    (code-review r10: an inner join silently dropped those docs on
    both engines, so oracle parity could never catch it — and an
    exact-dup pass that loses blank docs never collapses them)."""
    from dns_log_transformer_spark.queries import text as text_queries

    df = spark.createDataFrame(
        [(1, "real words here"), (2, "   "), (3, "")],
        "doc_id long, text string",
    )
    monkeypatch.setattr(text_queries, "table", lambda _s, _sf, name: df)
    rows = {
        r["doc_id"]: (r["fingerprint"] is not None, r["simhash"])
        for r in text_queries.text_fingerprint(spark, "unused").collect()
    }
    assert set(rows) == {1, 2, 3}, f"docs dropped: {sorted(rows)}"
    assert rows[1][0] and rows[1][1] is not None
    assert rows[2][0] and rows[2][1] is None
    assert rows[3][0] and rows[3][1] is None
    # the two blank docs share a fingerprint? No — '' vs '   ' both
    # normalize to '' so they MUST collapse to the same exact-dup key
    fps = {
        r["doc_id"]: r["fingerprint"]
        for r in text_queries.text_fingerprint(spark, "unused").collect()
    }
    assert fps[2] == fps[3], "normalized-empty docs must share a fingerprint"


def test_containment_catches_engulfed_doc_jaccard_misses(spark):
    """The asymmetric regime the fixture corpus never produces (its
    dups are near-identical, so every containment pair there is also
    high-Jaccard): a small doc embedded VERBATIM inside one ~5x its
    size must surface with containment 1.0 while its Jaccard sits far
    below the 0.6 dedup_ngram_jaccard threshold — and the contained_doc
    column must name the engulfed (smaller) side."""
    from dns_log_transformer_spark.operators import dedup

    quote = "alpha bravo charlie delta echo foxtrot golf hotel india"
    host = (
        "zulu yankee xray whiskey victor uniform tango sierra "
        + quote
        + " romeo quebec papa oscar november mike lima kilo juliett "
        "aaa bbb ccc ddd eee fff ggg hhh iii jjj kkk lll mmm nnn "
        "ooo ppp qqq rrr sss ttt uuu vvv www one two three four five"
    )
    df = spark.createDataFrame(
        [(1, quote), (2, host), (3, "totally unrelated words here only")],
        "doc_id long, text string",
    )
    got = {
        (r["doc_a"], r["doc_b"]): (
            r["containment"], r["jaccard"], r["contained_doc"]
        )
        for r in dedup.containment_pairs(df, threshold=0.8).collect()
    }
    assert set(got) == {(1, 2)}
    cont, jac, contained = got[(1, 2)]
    assert cont == 1.0
    assert jac < 0.6  # the Jaccard detector would have MISSED this pair
    assert contained == 1


def test_rake_scores_are_exact_on_known_corpus(spark):
    """RAKE arithmetic pinned end-to-end on a hand-computed corpus:
    phrases split at stopwords, word score = (1000 * degree) div freq
    over corpus-wide candidate occurrences (degree counts the host
    phrase's length per occurrence), phrase score = integer sum of
    member word scores. freq: quick=3 brown=2 fox=2 lazy=1 dog=1;
    degree: quick=7 brown=6 fox=6 lazy=2 dog=2."""
    from dns_log_transformer_spark.operators.text import rake_keyphrases

    df = spark.createDataFrame(
        [
            (1, "the quick brown fox and lazy dog"),
            (2, "quick brown fox is quick"),
            (3, "the and of"),  # all stopwords: no candidate phrases
            (4, None),
            (5, "   "),
        ],
        "doc_id long, text string",
    )
    got = {
        (r["doc_id"], r["rk"]): (r["phrase"], r["n_words"], r["score_milli"])
        for r in rake_keyphrases(df).collect()
    }
    assert got == {
        (1, 1): ("quick brown fox", 3, 2333 + 3000 + 3000),
        (1, 2): ("lazy dog", 2, 2000 + 2000),
        (2, 1): ("quick brown fox", 3, 8333),
        (2, 2): ("quick", 1, 2333),
    }
