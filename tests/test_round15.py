"""Round-15 operator tests: IVF probe-depth tradeoff (sim_ivf_tradeoff),
file-backed .warc.gz reads (corpus_warcgz_files)."""

from __future__ import annotations

from pyspark.sql import functions as F

from dns_log_transformer_spark import plans
from dns_log_transformer_spark.operators import similarity


def _tiny_corpus(spark):
    """20 vectors, ids 0..19 -> auto_n_cells floors at 10 cells of 2
    vectors each (seed assignment id % 10). Values vary so cosines and
    probe rankings are non-degenerate."""
    rows = [
        (i, [float((i * 7 + d * 3) % 11 - 5) for d in range(8)])
        for i in range(20)
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_ivf_tradeoff_full_probe_is_the_bruteforce_diagonal(spark):
    """Exactness pin end-to-end: at n_probe = n_cells every cell is
    probed, so recall must be exactly 1000 milli (every true neighbor's
    cell is reached) and the scan fraction exactly 1000 milli
    (n_scanned = n_queries * corpus size, the query's own row
    included) — the brute-force diagonal the tradeoff curve exists to
    beat. Any off-by-one in probe ranks, cell sizes, or the milli
    arithmetic breaks one of the two 1000s."""
    from dns_log_transformer_spark.operators.caching import release_all

    emb = _tiny_corpus(spark)
    queries = emb.filter(F.col("vec_id") < 3)
    try:
        out = similarity.ivf_tradeoff(emb, queries, k=2, n_probes=(1, 10))
        rows = {r.n_probe: r for r in out.collect()}
        assert sorted(rows) == [1, 10]
        assert all(r.n_queries == 3 for r in rows.values())
        full = rows[10]
        assert full.n_hit == 3 * 2 and full.recall_milli == 1000
        assert full.n_scanned == 3 * 20 and full.scanned_milli == 1000
        one = rows[1]
        # at n_probe=1 each query probes exactly its own assignment
        # cell (the rank-1 probe and the corpus assignment are the same
        # argmax over the same codebook), so its own row is always
        # scanned — and never the whole corpus (cells are nearest-
        # centroid, NOT uniform id%n buckets, so sizes vary)
        assert 3 <= one.n_scanned < full.n_scanned
        assert one.n_hit <= full.n_hit and one.recall_milli <= 1000
    finally:
        release_all()


def test_ivf_tradeoff_monotone_on_fixture(spark):
    """On the real fixture workload (the registered query at sf0.001):
    recall AND scan cost are both non-decreasing in n_probe — here this
    IS a theorem, not just a fixture property (deeper probing only adds
    cells: the reachable candidate set and the rows read both grow
    monotonically), so a violation is an implementation bug."""
    import __spark_entry__ as em
    from dns_log_transformer_spark.operators.caching import release_all

    try:
        out = em.queries()["sim_ivf_tradeoff"](
            spark, "/root/testdata/sf0.001"
        ).collect()
        byp = {r.n_probe: r for r in out}
        assert sorted(byp) == [1, 2, 4, 8]
        for lo, hi in [(1, 2), (2, 4), (4, 8)]:
            assert byp[lo].recall_milli <= byp[hi].recall_milli, (lo, hi)
            assert byp[lo].n_scanned <= byp[hi].n_scanned, (lo, hi)
        assert byp[8].n_scanned > byp[1].n_scanned  # non-vacuous sweep
    finally:
        release_all()


def test_ivf_tradeoff_single_pass_plan(spark):
    """Plan contract: ONE tagged pass — the corpus cell assignment and
    the query probe ranking are each persisted and read via the cache
    by their two consumers (assignment: cell sizes + truth-pair cell
    lookup; probes: reachability tag + scan cost), so no per-setting
    assignment or ranking re-runs; plan under the size lint; every
    static broadcast adjudicated in the checked-in allowlist."""
    from dns_log_transformer_spark.broadcast_allowlist import BROADCAST_ALLOWLIST
    from dns_log_transformer_spark.operators.caching import release_all

    emb = _tiny_corpus(spark)
    queries = emb.filter(F.col("vec_id") < 3)
    try:
        df = similarity.ivf_tradeoff(emb, queries, k=2, n_probes=(1, 2, 4, 8))
        plan = plans.physical_plan(df, "simple")
        assert plan.count("InMemoryTableScan") >= 4, plan
        assert plans.plan_size_lint(df) == []
        assert plans.broadcast_lint(
            df, BROADCAST_ALLOWLIST.get("sim_ivf_tradeoff", {})
        ) == []
    finally:
        release_all()


def test_warcgz_files_plan_binaryfile_scan_no_shuffle(spark, tmp_path):
    """File-backed WARC plan contract (VERDICT r14 #3): the scan is the
    binaryFile source reading real .warc.gz files from disk, the parse
    path is scan -> ONE Arrow stage -> codegen walk with ZERO shuffles
    and no row-Python — extending the r14 blob-column pin one layer
    down to disk. Also pins filename round-tripping and staging
    idempotence (second stage call is a no-op behind the marker)."""
    import gzip
    import os

    from dns_log_transformer_spark.sources import warc

    blobs = spark.createDataFrame(
        [(7, gzip.compress(b"x", 9, mtime=0))], "blob_id long, blob binary"
    )
    d = str(tmp_path / "seg")
    warc.stage_warc_gz_files(blobs, d)
    mtime = os.path.getmtime(os.path.join(d, "blob-7.warc.gz"))
    warc.stage_warc_gz_files(blobs, d)  # marker short-circuits
    assert os.path.getmtime(os.path.join(d, "blob-7.warc.gz")) == mtime

    df = warc.parse_warc_http(
        warc.parse_warc_gz(warc.read_warc_gz_files(spark, d)),
        blob_col="rec_bytes",
        max_records=1,
    )
    plan = plans.physical_plan(df, "simple")
    assert "binaryFile" in plan, plan
    assert plan.count("MapInArrow") == 1, plan
    assert "Exchange" not in plan, plan
    assert "BatchEvalPython" not in plan, plan
    rows = df.collect()
    assert [r.blob_id for r in rows] == [7]  # filename round-trip


def test_keep_body_roundtrips_multibyte_text(spark):
    """parse_warc_http(keep_body=True) must return the EXACT payload
    text: bytes walked as ISO-8859-1 octets, re-encoded 1:1, decoded as
    UTF-8 — multi-byte characters (2/3/4-byte sequences) survive only
    if every step is byte-faithful. This is the capstone's load-bearing
    edge: every gate downstream reads body_text, never the parquet."""
    from dns_log_transformer_spark.sources import warc

    text = "naïve café — §é€\U0001f600 znaków"
    docs = spark.createDataFrame([(1, text)], "doc_id long, text string")
    out = warc.parse_warc_http(
        warc.parse_warc_gz(
            warc.pack_warc_gz_blobs(docs, per_blob=2, body_suffix="")
        ),
        blob_col="rec_bytes",
        max_records=1,
        keep_body=True,
    ).filter(F.col("warc_type") == "response")
    rows = out.collect()
    assert len(rows) == 1
    assert rows[0].ok and rows[0].member_ok
    assert rows[0].body_text == text
    # keep_body=False prunes the column entirely (schema contract)
    out2 = warc.parse_warc_http(
        warc.parse_warc_gz(
            warc.pack_warc_gz_blobs(docs, per_blob=2, body_suffix="")
        ),
        blob_col="rec_bytes",
        max_records=1,
    )
    assert "body_text" not in out2.columns


def test_warcgz_to_shards_funnel_invariants(spark):
    """Capstone funnel accounting pins at sf0.001 (value parity is the
    oracle's job; these are the INVARIANTS any fixture must satisfy):
    each gate stage is a subset of the previous (docs and tokens
    nonincreasing), the archive stage accounts for EVERY non-null
    document (the .warc.gz round-trip drops nothing), every stage is
    non-empty, and the packed row conserves the decontaminated token
    total while using the minimum feasible sequence count's order of
    magnitude (>= ceil(tokens/budget) per construction)."""
    import math

    from dns_log_transformer_spark.queries.corpus import (
        _PACK_BUDGET,
        corpus_warcgz_to_shards,
    )

    sf = "/root/testdata/sf0.001"
    rows = {r.stage: r for r in corpus_warcgz_to_shards(spark, sf).collect()}
    order = [
        "archive_text",
        "lang",
        "quality",
        "repetition",
        "dedup_exact",
        "dedup_near",
        "decontaminated",
    ]
    assert set(rows) == set(order) | {"packed"}
    n_docs_in = (
        spark.read.parquet(f"{sf}/documents.parquet")
        .filter(F.col("text").isNotNull())
        .count()
    )
    assert rows["archive_text"].n_docs == n_docs_in
    for prev, cur in zip(order, order[1:]):
        assert rows[cur].n_docs <= rows[prev].n_docs, (prev, cur)
        assert rows[cur].n_tokens <= rows[prev].n_tokens, (prev, cur)
        assert rows[cur].n_docs > 0, cur
    dec = rows["decontaminated"]
    packed = rows["packed"]
    assert packed.n_tokens == dec.n_tokens  # packing loses no tokens
    assert packed.n_docs >= math.ceil(dec.n_tokens / _PACK_BUDGET)
    assert packed.n_docs <= dec.n_docs  # sequences hold >= 1 doc each


def test_write_packed_shards_roundtrip_and_atomic_publish(spark, tmp_path):
    """The funnel's last step made real: pack_sequences assignments ->
    parquet shard files on disk. Pins: every sequence concatenates its
    member texts in id order with the separator and conserves the token
    sum; every input doc lands in exactly one sequence; no sequence
    exceeds the budget unless it is a single oversized doc; publish is
    atomic (staging gone, re-publish swaps cleanly, a leftover .old
    from a crashed publish is refused, never guessed around)."""
    import os

    import pytest

    from dns_log_transformer_spark.operators import corpus

    docs = spark.createDataFrame(
        [(i, f"doc-{i} " + "x " * (i % 7)) for i in range(40)],
        "doc_id long, text string",
    )
    toks = docs.select(
        "doc_id", F.size(F.split("text", " ")).cast("long").alias("n_tokens")
    )
    budget, n_shards = 10, 4
    asg = corpus.pack_sequences(toks, budget=budget, n_shards=n_shards)
    out = str(tmp_path / "shards")
    stats = corpus.write_packed_shards(docs, asg, out, sep="\n\n")
    assert not os.path.exists(out + ".staging")
    assert stats["n_docs"] == 40
    assert stats["n_shards"] == n_shards

    back = spark.read.parquet(out).collect()
    assert len(back) == stats["n_sequences"]
    tok_by_id = {r.doc_id: r.n_tokens for r in toks.collect()}
    text_by_id = {r.doc_id: r.text for r in docs.collect()}
    seen = []
    for r in back:
        ids = list(r.doc_ids)
        assert ids == sorted(ids)
        assert all(i % n_shards == r.shard for i in ids)
        assert r.n_tokens == sum(tok_by_id[i] for i in ids)
        assert r.text == "\n\n".join(text_by_id[i] for i in ids)
        assert r.n_tokens <= budget or len(ids) == 1  # oversized-doc bin
        seen.extend(ids)
    assert sorted(seen) == list(range(40))  # every doc in exactly one seq

    # re-publish swaps atomically; a crashed publish's .old is refused
    stats2 = corpus.write_packed_shards(docs, asg, out, sep="\n\n")
    assert stats2 == stats
    os.rename(out, out + ".old")
    with pytest.raises(FileExistsError):
        corpus.write_packed_shards(docs, asg, out, sep="\n\n")


def test_warcgz_stream_feeds_corpus_monitor(spark, tmp_path):
    """The streaming capstone seam: .warc.gz segments LANDING in a
    directory stream through the gz-member split + byte walk
    (warc_gz_docs_stream — all stateless, no watermark/state store)
    into the crawl-time triage monitor, and after EVERY micro-batch
    read_scorecard equals the batch corpus.source_scorecard of all
    docs whose segments have landed so far. Source attribution rides a
    stream-static join (the crawl-manifest shape). Exactly-once per
    segment comes from the file-source checkpoint."""
    from dns_log_transformer_spark.operators import corpus
    from dns_log_transformer_spark.sources import warc
    from dns_log_transformer_spark.streaming import (
        corpus_monitor_sink,
        read_scorecard,
    )

    full = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text", "source")
        .filter(F.col("text").isNotNull())
    )
    bench = full.filter(F.col("doc_id") % 97 == 0)
    manifest = full.select("doc_id", "source")

    # stage ALL segments once (stage_warc_gz_files is all-or-nothing),
    # then land them into the watched dir a couple at a time
    staged = str(tmp_path / "staged")
    landing = tmp_path / "landing"
    landing.mkdir()
    warc.stage_warc_gz_files(
        warc.pack_warc_gz_blobs(full, per_blob=100, body_suffix=""),
        staged,
    )
    import os
    import shutil

    seg_names = sorted(
        (e for e in os.listdir(staged) if e.endswith(".warc.gz")),
        key=lambda e: int(e.split("-")[1].split(".")[0]),
    )
    assert len(seg_names) >= 4  # enough files for multiple batches

    docs_stream = warc.warc_gz_docs_stream(spark, str(landing)).join(
        F.broadcast(manifest), "doc_id"
    )
    table = str(tmp_path / "monitor")
    q = corpus_monitor_sink(docs_stream, bench, table, str(tmp_path / "ck"))

    def got():
        df = read_scorecard(spark, table)
        return set() if df is None else {tuple(r) for r in df.collect()}

    try:
        landed: list[str] = []
        for i in range(0, len(seg_names), 2):
            chunk = seg_names[i : i + 2]
            for name in chunk:
                shutil.copy2(os.path.join(staged, name), landing / name)
            q.processAllAvailable()
            landed.extend(chunk)
            blob_ids = [int(n.split("-")[1].split(".")[0]) for n in landed]
            so_far = full.filter(
                (F.col("doc_id") / 100).cast("long").isin(blob_ids)
            )
            want = {
                tuple(r)
                for r in corpus.source_scorecard(so_far, bench).collect()
            }
            assert got() == want, f"diverged after landing {chunk}"
    finally:
        q.stop()
    final = got()
    assert final and any(r[2] > 0 or r[3] > 0 or r[4] > 0 for r in final), (
        "no contamination/dup signal in the fixture — vacuous test"
    )
