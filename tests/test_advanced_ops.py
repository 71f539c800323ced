"""Unit coverage for the round-5 advanced operators (CDC/SCD2, triangle
counting, int8 quantization, CIDR enrichment) — semantics on constructed
inputs plus plan-shape assertions for the scale claims their docstrings
make. Oracle parity at sf0.01 is covered by test_oracle_parity."""

from __future__ import annotations

from pyspark.sql import functions as F

from dns_log_transformer_spark import plans
from dns_log_transformer_spark.operators import cdc, graph, similarity
from dns_log_transformer_spark.queries import ALL_QUERIES


def test_upsert_latest_semantics(spark):
    changes = spark.createDataFrame(
        [
            # key 1: base then reprice -> latest upsert wins
            (1, "a", 0, "U"),
            (1, "b", 1, "U"),
            # key 2: base then delete -> gone (late delete beats upsert)
            (2, "c", 0, "U"),
            (2, "c", 5, "D"),
            # key 3: delete then LATER re-insert -> present
            (3, "d", 1, "D"),
            (3, "e", 2, "U"),
            # key 4: base only
            (4, "f", 0, "U"),
        ],
        "k long, payload string, version int, op string",
    )
    rows = {
        r["k"]: (r["payload"], r["version"])
        for r in cdc.upsert_latest(changes, ["k"]).collect()
    }
    assert rows == {1: ("b", 1), 3: ("e", 2), 4: ("f", 0)}


def test_upsert_latest_no_window_no_join(spark):
    changes = spark.createDataFrame(
        [(1, "a", 0, "U")], "k long, payload string, version int, op string"
    )
    plan = plans.physical_plan(cdc.upsert_latest(changes, ["k"]))
    assert "Window" not in plan, "merge must be an aggregation, not a window sort"
    assert "Join" not in plan, "merge must not join back on the max version"


def test_scd2_intervals_semantics(spark):
    obs = spark.createDataFrame(
        [
            # user 1: a a b a -> three intervals
            (1, "a", 10, 1),
            (1, "a", 20, 2),
            (1, "b", 30, 3),
            (1, "a", 40, 4),
            # user 2: single observation -> one open interval
            (2, "x", 5, 5),
        ],
        "user_id long, attr string, ts_sec long, event_id long",
    )
    out = cdc.scd2_intervals(
        obs,
        key_col="user_id",
        attr_col="attr",
        ts_col=F.col("ts_sec"),
        tiebreak_col="event_id",
    ).collect()
    got = {
        (r["user_id"], r["valid_from"]): (r["attr"], r["valid_to"], r["is_current"])
        for r in out
    }
    assert got == {
        (1, 10): ("a", 30, False),
        (1, 30): ("b", 40, False),
        (1, 40): ("a", None, True),
        (2, 5): ("x", None, True),
    }
    # exactly one current interval per key
    per_key = {}
    for r in out:
        per_key[r["user_id"]] = per_key.get(r["user_id"], 0) + int(r["is_current"])
    assert all(v == 1 for v in per_key.values())


def test_triangle_count_known_graphs(spark):
    # triangle (1,2,3) plus pendant edge (3,4): 1 triangle
    tri_plus_tail = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (3, 4)], "a long, b long"
    )
    r = graph.triangle_count(tri_plus_tail).collect()[0]
    assert (r["n_nodes"], r["n_edges"], r["n_triangles"]) == (4, 4, 1)
    # complete K4: C(4,3) = 4 triangles
    k4 = spark.createDataFrame(
        [(i, j) for i in range(1, 5) for j in range(i + 1, 5)], "a long, b long"
    )
    r = graph.triangle_count(k4).collect()[0]
    assert (r["n_nodes"], r["n_edges"], r["n_triangles"]) == (4, 6, 4)
    # star graph (hub 0): many wedges at the hub if unoriented, 0 triangles
    star = spark.createDataFrame([(0, i) for i in range(1, 8)], "a long, b long")
    r = graph.triangle_count(star).collect()[0]
    assert (r["n_nodes"], r["n_edges"], r["n_triangles"]) == (8, 7, 0)


def test_int8_quantization_bounds_and_exactness(spark):
    emb = spark.createDataFrame(
        [
            (1, [0.0, -1.0, 2.0]),
            (2, [1.0, 0.0, 2.0]),
            (3, [0.5, 1.0, 2.0]),
        ],
        "vec_id long, embedding array<double>",
    )
    mns, mxs = similarity.int8_bounds(emb)
    assert mns == [0.0, -1.0, 2.0] and mxs == [1.0, 1.0, 2.0]
    codes = {
        r["vec_id"]: r["code"]
        for r in similarity.int8_encode(emb, mns, mxs).collect()
    }
    # per-dim min -> -127, max -> +127; midpoint rounds half-up;
    # constant dim (mn == mx) -> code -127 on BOTH engines
    assert codes[1] == [-127, -127, -127]
    assert codes[2] == [127, 0, -127]
    assert codes[3] == [0, 127, -127]


def test_int8_topk_matches_python_oracle(spark):
    from dns_log_transformer_spark.session import read_table
    from tests.conftest import SF_SMOKE

    emb = read_table(spark, SF_SMOKE, "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    got = {
        (r["query_id"], r["rnk"]): (r["vec_id"], r["dot_q"])
        for r in similarity.int8_topk(emb, queries, k=3).collect()
    }
    # recompute quantization + integer top-k in plain python
    mns, mxs = similarity.int8_bounds(emb)
    vecs = {r["vec_id"]: r["embedding"] for r in emb.collect()}

    def code(v):
        out = []
        for x, mn, mx in zip(v, mns, mxs):
            if mx == mn:
                out.append(-127)
            else:
                import math

                out.append(
                    int(math.floor((float(x) - mn) * 254.0 / (mx - mn) + 0.5))
                    - 127
                )
        return out

    coded = {i: code(v) for i, v in vecs.items()}
    for qid in [i for i in vecs if i % 100 == 0]:
        scored = sorted(
            (
                (-sum(a * b for a, b in zip(coded[i], coded[qid])), i)
                for i in vecs
                if i != qid
            ),
        )[:3]
        for rnk, (neg, i) in enumerate(scored, 1):
            assert got[(qid, rnk)] == (i, -neg), (qid, rnk)


def test_cidr_enrich_broadcasts_and_ewma_single_sort(spark):
    from tests.conftest import SF_SMOKE as sf
    plan = plans.physical_plan(ALL_QUERIES["q_cidr_enrich"].fn(spark, sf))
    assert "BroadcastHashJoin" in plan, "CIDR dim must broadcast-equi-join"
    assert "NestedLoop" not in plan, "aligned blocks must not theta-join"
    plan = plans.physical_plan(ALL_QUERIES["q_ewma_anomaly"].fn(spark, sf))
    # all 8 LAG columns must share ONE window sort (one numbered Window
    # node in the formatted plan's detail section)
    assert plan.count(") Window") == 1


def test_trigram_familiarity_reference_docs_are_fully_known(spark):
    from tests.conftest import SF_SMOKE

    out = {
        r["doc_id"]: (r["n_tri"], r["n_known"], r["familiarity"])
        for r in ALL_QUERIES["text_trigram_familiarity"]
        .fn(spark, SF_SMOKE)
        .collect()
    }
    assert out, "fixture should yield scored documents"
    for doc_id, (n_tri, n_known, fam) in out.items():
        assert 0 <= n_known <= n_tri
        assert 0.0 <= fam <= 1.0
        if doc_id % 19 == 0:
            # reference docs define the vocabulary -> fully familiar
            assert (n_known, fam) == (n_tri, 1.0), doc_id


def test_snapshot_diff_statuses_partition_the_union(spark):
    from tests.conftest import SF_SMOKE

    rows = {
        r["status"]: r["n_docs"]
        for r in ALL_QUERIES["corpus_snapshot_diff"].fn(spark, SF_SMOKE).collect()
    }
    assert set(rows) == {"added", "removed", "changed", "unchanged"}
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    ids = [r["doc_id"] for r in docs.select("doc_id").collect()]
    in_a = {i for i in ids if i % 29 != 0}
    in_b = {i for i in ids if i % 31 != 0}
    assert rows["added"] == len(in_b - in_a)
    assert rows["removed"] == len(in_a - in_b)
    assert rows["changed"] == len({i for i in in_a & in_b if i % 7 == 0})
    assert sum(rows.values()) == len(in_a | in_b)


def test_keep_best_picks_highest_quality_per_cluster(spark):
    from tests.conftest import SF_SMOKE
    from dns_log_transformer_spark.operators import dedup, text as text_ops
    from dns_log_transformer_spark.session import read_table

    docs = read_table(spark, SF_SMOKE, "documents")
    comp = {
        r["doc_id"]: r["component"]
        for r in dedup.connected_components(
            dedup.minhash_lsh_pairs(docs, threshold=0.5)
        ).collect()
    }
    quality = {
        r["doc_id"]: r["quality_score"]
        for r in text_ops.with_quality_score(docs)
        .select("doc_id", "quality_score")
        .collect()
    }
    out = ALL_QUERIES["dedup_keep_best"].fn(spark, SF_SMOKE).collect()
    assert len(out) == len(quality)
    clusters = {}
    for doc_id, c in comp.items():
        clusters.setdefault(c, []).append(doc_id)
    for r in out:
        c = comp.get(r["doc_id"], r["doc_id"])
        members = clusters.get(c, [r["doc_id"]])
        # expected: max quality, min doc_id tiebreak (4-decimal scores)
        expected = min(
            members, key=lambda d: (-round(quality[d] * 10000), d)
        )
        assert r["best_id"] == expected, (r, members)
        assert r["is_kept"] == (r["doc_id"] == expected)


def test_phash_locality_and_pair_detection(spark):
    from dns_log_transformer_spark.operators import multimodal

    base = "the quick brown fox jumps over the lazy dog " * 8
    edited = base[:50] + "X" + base[51:]  # same length, one char
    other = "completely different content about spark plans " * 8
    df = spark.createDataFrame(
        [(1, base), (2, edited), (3, other)], "doc_id long, text string"
    )
    hashes = {
        r["doc_id"]: (r["b0"], r["b1"], r["b2"], r["b3"])
        for r in multimodal.phash64(df).collect()
    }
    ham = lambda a, b: sum(bin(x ^ y).count("1") for x, y in zip(a, b))
    assert ham(hashes[1], hashes[2]) <= 3, "near-identical payloads must hash close"
    assert ham(hashes[1], hashes[3]) > 3, "unrelated payloads must hash apart"
    pairs = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in multimodal.phash_pairs(df, max_hamming=3).collect()
    }
    assert set(pairs) == {(1, 2)}
    # identical payloads are Hamming 0
    dup = spark.createDataFrame(
        [(1, base), (2, base)], "doc_id long, text string"
    )
    out = multimodal.phash_pairs(dup, max_hamming=3).collect()
    assert [(r["doc_a"], r["doc_b"], r["hamming"]) for r in out] == [(1, 2, 0)]


def test_phash_pairs_query_non_vacuous(spark):
    from tests.conftest import SF_SMOKE

    rows = ALL_QUERIES["mm_phash_pairs"].fn(spark, SF_SMOKE).collect()
    assert len(rows) > 0, "planted re-encodes must be detected"
    assert all(r["hamming"] <= 3 for r in rows)
    # every detected pair involving a plant links it to its original
    for r in rows:
        if r["doc_b"] >= 10000000:
            assert r["doc_b"] - 10000000 >= 0


def test_salted_queries_plan_shapes(spark):
    from tests.conftest import SF_SMOKE

    # salted agg: two aggregation exchanges, the first keyed on (key, salt)
    plan = plans.physical_plan(ALL_QUERIES["q_salted_skew_agg"].fn(spark, SF_SMOKE))
    assert "_salt" in plan
    # salted join: no broadcast of the replicated dim — the point is the
    # broadcast-infeasible case; the join must carry the salt key
    plan = plans.physical_plan(
        ALL_QUERIES["q_salted_join_enrich"].fn(spark, SF_SMOKE)
    )
    assert "_salt" in plan


def test_expectations_single_scan_and_transitions_bound(spark):
    from tests.conftest import SF_SMOKE

    df = ALL_QUERIES["corpus_expectations"].fn(spark, SF_SMOKE)
    rows = {r["expectation"]: (r["violations"], r["passed"]) for r in df.collect()}
    assert set(rows) == {
        "text_not_null",
        "doc_id_unique",
        "n_chars_consistent",
        "lang_in_domain",
        "text_not_empty",
    }
    for v, passed in rows.values():
        assert passed == (v == 0)
    # uniqueness must really hold on the fixture
    assert rows["doc_id_unique"] == (0, True)
    # one scan: a single parquet FileScan of documents in the plan
    plan = plans.physical_plan(df)
    assert plan.count("documents.parquet") <= 2  # tree + detail section

    tr = ALL_QUERIES["q_event_transitions"].fn(spark, SF_SMOKE).collect()
    types = {"view", "click", "purchase", "signup", "error"}
    assert all(r["from_type"] in types and r["to_type"] in types for r in tr)
    assert len(tr) <= len(types) ** 2
    # total transitions = total events - number of users (each user's
    # last event has no successor)
    ev = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
    n_events = ev.count()
    n_users = ev.select("user_id").distinct().count()
    assert sum(r["n"] for r in tr) == n_events - n_users


# ---------------------------------------------------------------------------
# Property-based: the round-5 operators vs pure-python references
# ---------------------------------------------------------------------------
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_change = st.tuples(
    st.integers(0, 6),          # key
    st.integers(0, 9),          # payload token
    st.sampled_from(["U", "D"]),
)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(st.lists(_change, min_size=1, max_size=24))
def test_upsert_latest_matches_dict_reference(spark, changes):
    # versions = arrival order (unique per key via global index)
    rows = [
        (k, f"p{p}", i, op) for i, (k, p, op) in enumerate(changes)
    ]
    df = spark.createDataFrame(
        rows, "k long, payload string, version int, op string"
    )
    got = {
        r["k"]: (r["payload"], r["version"])
        for r in cdc.upsert_latest(df, ["k"]).collect()
    }
    ref = {}
    for k, payload, version, op in rows:
        ref[k] = (payload, version, op)  # later version always wins
    expected = {
        k: (p, v) for k, (p, v, op) in ref.items() if op != "D"
    }
    assert got == expected


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.tuples(
            st.integers(0, 3),           # key — narrow: force collisions
            st.integers(0, 2),           # version — narrow: force ties
            st.integers(0, 9),           # payload token
            st.sampled_from(["U", "D"]),
        ),
        min_size=1,
        max_size=20,
    )
)
def test_upsert_latest_colliding_versions_deterministic(spark, changes):
    """Version ties resolved via tiebreak_cols are TOTAL: the result
    matches a dict reference ordering by (version, op, payload) — ASCII
    string comparison, identical in Spark struct order and Python."""
    rows = [(k, f"p{p}", v, op) for k, v, p, op in changes]
    df = spark.createDataFrame(
        rows, "k long, payload string, version int, op string"
    )
    got = {
        r["k"]: (r["payload"], r["version"], r["op"])
        for r in cdc.upsert_latest(
            df, ["k"], tiebreak_cols=["op", "payload"]
        ).collect()
    }
    best = {}
    for k, payload, version, op in rows:
        cand = (version, op, payload)
        if k not in best or cand > best[k]:
            best[k] = cand
    expected = {
        k: (p, v, op) for k, (v, op, p) in best.items() if op != "D"
    }
    assert got == expected


def test_upsert_latest_strict_raises_on_version_ties(spark):
    import pytest

    dup = spark.createDataFrame(
        [(1, "a", 0, "U"), (1, "b", 0, "U"), (2, "c", 1, "U")],
        "k long, payload string, version int, op string",
    )
    with pytest.raises(ValueError, match="duplicate \\(key, version\\)"):
        cdc.upsert_latest(dup, ["k"], strict=True)
    clean = spark.createDataFrame(
        [(1, "a", 0, "U"), (1, "b", 1, "U"), (2, "c", 1, "U")],
        "k long, payload string, version int, op string",
    )
    rows = {
        r["k"]: r["payload"]
        for r in cdc.upsert_latest(clean, ["k"], strict=True).collect()
    }
    assert rows == {1: "b", 2: "c"}


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.tuples(st.integers(0, 9), st.integers(0, 9)),
        min_size=0,
        max_size=25,
        unique=True,
    )
)
def test_triangle_count_matches_bruteforce(spark, raw):
    edges = sorted({(min(a, b), max(a, b)) for a, b in raw if a != b})
    if not edges:
        return
    df = spark.createDataFrame(edges, "a long, b long")
    r = graph.triangle_count(df).collect()[0]
    es = set(edges)
    nodes = sorted({x for e in edges for x in e})
    expected = sum(
        1
        for i, x in enumerate(nodes)
        for y in nodes[i + 1 :]
        for z in nodes
        if z > y
        and (x, y) in es
        and (x, z) in es
        and (y, z) in es
    )
    assert r["n_triangles"] == expected
    assert r["n_edges"] == len(edges) and r["n_nodes"] == len(nodes)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.tuples(st.integers(1, 3), st.sampled_from("abc"), st.integers(0, 50)),
        min_size=1,
        max_size=30,
    )
)
def test_scd2_intervals_match_python_reference(spark, obs):
    rows = [(u, a, t, i) for i, (u, a, t) in enumerate(obs)]
    df = spark.createDataFrame(
        rows, "user_id long, attr string, ts_sec long, event_id long"
    )
    keyfn = lambda r: (r[0], r[1], r[2], -1 if r[3] is None else r[3])
    got = sorted(
        (
            (r["user_id"], r["valid_from"], r["attr"], r["valid_to"], r["is_current"])
            for r in cdc.scd2_intervals(
                df,
                key_col="user_id",
                attr_col="attr",
                ts_col=F.col("ts_sec"),
                tiebreak_col="event_id",
            ).collect()
        ),
        key=keyfn,
    )
    expected = []
    by_user = {}
    for u, a, t, i in sorted(rows, key=lambda r: (r[0], r[2], r[3])):
        by_user.setdefault(u, []).append((a, t))
    for u, seq in by_user.items():
        changes = [
            (a, t) for j, (a, t) in enumerate(seq) if j == 0 or seq[j - 1][0] != a
        ]
        for j, (a, t) in enumerate(changes):
            nxt = changes[j + 1][1] if j + 1 < len(changes) else None
            expected.append((u, t, a, nxt, nxt is None))
    # multiset compare: equal timestamps can yield same-key intervals
    assert got == sorted(expected, key=keyfn)


def test_guard_errors_are_descriptive(spark):
    import pytest

    from dns_log_transformer_spark.operators import corpus, multimodal

    # grouped_rank: null group key -> clear build-time contract error
    df = spark.createDataFrame(
        [(1, None, 5), (2, "a", 3)], "doc_id long, source string, score long"
    )
    with pytest.raises(ValueError, match="contains NULL"):
        corpus.grouped_rank(df, "source", ["score", "doc_id"])
    # phash_pairs: thresholds beyond the 4-band pigeonhole are rejected
    blobs = spark.createDataFrame([(1, "abc")], "doc_id long, text string")
    with pytest.raises(ValueError, match="max_hamming"):
        multimodal.phash_pairs(blobs, max_hamming=4)


def test_observed_write_counts_rejected_rows(spark):
    """df.observe metrics ride the landing action and see PRE-filter
    rows: the gate drops two of four docs, yet rows_seen counts all
    four — no second scan (the plan carries one CollectMetrics node
    below the filter)."""
    from pyspark.sql import functions as F

    from dns_log_transformer_spark import plans
    from dns_log_transformer_spark.operators import profile

    df = spark.createDataFrame(
        [(1, "x" * 10), (2, None), (3, "y" * 3), (4, "z" * 10)],
        "doc_id long, text string",
    )
    keep = F.col("text").isNotNull() & (F.length("text") >= 10)
    out = profile.observed_write(
        df,
        keep,
        {
            "rows_seen": F.count(F.lit(1)).cast("long"),
            "rows_kept": F.sum(keep.cast("long")).cast("long"),
        },
    )
    got = {r["metric"]: r["value"] for r in out.collect()}
    assert got == {"rows_seen": 4, "rows_kept": 2}
    # the observe node is part of the pipeline plan, not a second job
    from pyspark.sql import Observation

    observed = df.observe(
        Observation(), F.count(F.lit(1)).alias("n")
    ).filter(keep)
    assert "CollectMetrics" in plans.physical_plan(observed, "simple")


def test_sliding_distinct_ignores_null_users(spark, monkeypatch):
    """Review-fix pin (r9, carried through the r10 consolidation into
    the merged q_sliding_distinct): a NULL user_id forms its own dedup
    group but must not count in the distinct — COUNT(DISTINCT) and the
    HLL both ignore NULLs — while n_events must still count the
    NULL-user rows (the oracle's COUNT(*)). Latent on the shipped
    fixtures (no NULL users), so feed a crafted frame through the
    REGISTERED query itself (table() monkeypatched) — an inline
    re-implementation of the aggregation would keep passing if the
    production expression regressed."""
    import datetime

    from dns_log_transformer_spark.queries import relational

    base = datetime.datetime(2024, 1, 1, 0, 20)
    rows = [(1, base, 10), (2, base, 11), (3, base, None), (4, base, 10)]
    ev = spark.createDataFrame(rows, "event_id long, ts timestamp, user_id long")
    monkeypatch.setattr(relational, "table", lambda _s, _sf, name: ev)
    out = relational.q_sliding_distinct(spark, "unused").collect()
    counts = {r["n_users_exact"] for r in out}
    assert counts == {2}, f"NULL user leaked into the distinct count: {counts}"
    events = {r["n_events"] for r in out}
    assert events == {4}, f"NULL-user rows dropped from n_events: {events}"
    assert all(r["hll_ok"] for r in out)
