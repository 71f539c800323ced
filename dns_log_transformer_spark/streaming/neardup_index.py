"""Streaming near-dup index maintenance: ``foreachBatch`` incremental
MinHash-LSH deduplication of a document stream against everything
ingested so far — the production crawl-dedup shape (dedupe each new
crawl batch against the accumulated corpus WITHOUT rescanning it), the
text twin of the vector-index sink (streaming/vector_index.py).

Three materializations under ``table_path``:

- ``buckets/`` — the LSH band-bucket index, partitioned on ``_bb``
  (hash bucket of the (band, key) pair): one row per (doc, band) with
  the doc's band key. A new batch's candidate lookup reads ONLY the
  ``_bb`` partitions its own band keys hash into.
- ``shingles/`` — the verification store, partitioned on ``_kb`` (hash
  bucket of doc id): each doc's distinct shingle set, read back ONLY
  for the partner ids of surviving candidate pairs (their ``_kb``
  buckets), never the whole corpus.
- ``pairs/`` — append-only output: (doc_a, doc_b, jaccard) with
  jaccard >= threshold, doc_a < doc_b, emitted exactly once — in the
  micro-batch where the LATER of the two docs arrives.

Per micro-batch the cost is O(batch + matching bucket partitions +
candidate partners): shingling/signatures ride the batch scan, the
candidate equi-join touches the batch's ``_bb`` partitions of the
index, and verification re-joins shingles for surviving candidates
only. Nothing is ever O(corpus); the index tables are append-only
(documents are immutable — there is no re-embed/move case here, which
is why this sink needs no directory/tombstone machinery; replayed doc
ids are dropped against the shingle store so pairs never re-emit).

Correctness contract (pinned in test_streaming): streaming the corpus
in any batch split yields pairs/ EXACTLY equal to the one-shot batch
``dedup.minhash_lsh_pairs`` of the full corpus at the same parameters
— same bucketing, same exact-Jaccard verification, same rounding.
Hot buckets are bounded here too (ADVICE r7): each micro-batch drops
any (band, key) bucket whose ACCUMULATED occupancy (index + batch)
exceeds ``bucket_cap`` before the candidate join, so the per-bucket
fan-out never passes cap^2 — the same guard as the batch path's
``dedup.LSH_BUCKET_CAP``. Residual divergence from the one-shot: the
batch path excludes an over-cap bucket's pairs RETROACTIVELY (final
occupancy), while this sink keeps pairs emitted while the bucket was
still under the cap — append-only pairs/ cannot retract. ``read_pairs``
therefore matches the one-shot exactly only for corpora whose buckets
never cross the cap (the fixture's max is 18 vs cap 100; the crossing
case is pinned separately — no NEW pairs once over cap), while
``read_pairs_reconciled`` restores the retroactive semantics at READ
time by re-checking every pair against final bucket occupancy — the
read side of the store closes the divergence without retraction
machinery (pinned on a planted cap-crossing corpus in test_streaming).

The three tables are one manifest store, committed once per batch
(``streaming.sinks``), so a crash never leaves a batch half-appended.
Sizing: ``n_buckets`` bounds the partition fan-out — size it
so a typical batch touches a small fraction (thousands at 100 TB;
the default 16 is fixture-scaled). The residual drift from parquet
file accumulation inside touched partitions is reset offline by
``streaming.compact.compact_store`` (measured on the winnow twin:
4759 -> 48 files, probe 14.2 -> 1.8 s — PLANS.md r11).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from dns_log_transformer_spark.operators import dedup
from dns_log_transformer_spark.operators.corpus import hash_bucket
from dns_log_transformer_spark.streaming.sinks import (
    N_BUCKETS_DEFAULT,
    Store,
    drop_seen_ids,
    read_table,
    require_local_path,
    touched_buckets,
    with_bucket,
)


def read_pairs(spark: SparkSession, table_path: str) -> DataFrame | None:
    """All near-dup pairs emitted so far: (doc_a, doc_b, jaccard).
    None if nothing has been written yet."""
    return read_table(spark, os.path.join(table_path, "pairs"))


def read_pairs_reconciled(
    spark: SparkSession,
    table_path: str,
    bucket_cap: int = dedup.LSH_BUCKET_CAP,
    id_col: str = "doc_id",
) -> DataFrame | None:
    """``read_pairs`` with the one-shot batch path's RETROACTIVE cap
    semantics restored at read time: a pair whose every shared
    (band, key) bucket ended up over ``bucket_cap`` (final occupancy,
    from the accumulated buckets/ store) is dropped — exactly the pairs
    the batch ``dedup.minhash_lsh_pairs`` would never have generated.
    This closes the append-only divergence on cap-crossing corpora
    (pairs emitted while a bucket was still under the cap) WITHOUT
    retraction machinery: pairs/ stays append-only, the report-side
    read filters.

    Cost: pairs x bands probe against the under-cap index — O(corpus
    band rows) for the occupancy count, O(|pairs| x bands) for the
    probe; a report-time path (the streaming corpus monitor's
    read_scorecard), never per-batch."""
    from dns_log_transformer_spark.operators.caching import persist_tracked

    pairs = read_pairs(spark, table_path)
    if pairs is None:
        return None
    buckets = read_table(spark, os.path.join(table_path, "buckets"))
    if buckets is None:
        return pairs
    # persisted: both probe sides (ka, kb) and the heavy-key aggregate
    # consume this frame (PLANS.md rule 4).
    kept = persist_tracked(
        dedup.drop_heavy_buckets(buckets.drop("_bb"), bucket_cap)
    )
    ka = kept.select(F.col(id_col).alias("doc_a"), "band", "key")
    kb = kept.select(F.col(id_col).alias("doc_b"), "band", "key")
    # survives iff the two docs still share >= 1 under-cap bucket — the
    # batch path's "a pair is found if ANY shared band stays under the
    # cap" rule, evaluated against final occupancy
    return (
        pairs.join(ka, "doc_a")
        .join(kb, ["doc_b", "band", "key"], "left_semi")
        .select("doc_a", "doc_b", "jaccard")
        .distinct()
    )


def neardup_index_sink(
    docs: DataFrame,
    table_path: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    num_hashes: int = dedup.NUM_HASHES,
    num_bands: int = dedup.NUM_BANDS,
    n_buckets: int = N_BUCKETS_DEFAULT,
    bucket_cap: int = dedup.LSH_BUCKET_CAP,
    compact_max_files: int | None = None,
) -> StreamingQuery:
    """Start the incremental near-dup detection: ``docs`` is a streaming
    DataFrame of (id, text) document rows; each micro-batch is checked
    against the accumulated index and folded into it. Returns the
    StreamingQuery.

    ``compact_max_files`` (optional) turns on SELF-compaction: after a
    batch's writes land, sub-tables whose worst partition crossed the
    threshold are rewritten to one file per partition
    (streaming/compact.py maybe_compact — its advertised home: the end
    of the foreachBatch callback, where the writer is quiesced by
    construction because foreachBatch serializes batches). None (the
    default) keeps compaction a purely external ops concern."""
    require_local_path(table_path)

    def merge_batch(batch_df: DataFrame, epoch_id: int) -> None:  # noqa: ARG001
        neardup_merge_batch(
            batch_df,
            table_path,
            id_col=id_col,
            text_col=text_col,
            n=n,
            threshold=threshold,
            num_hashes=num_hashes,
            num_bands=num_bands,
            n_buckets=n_buckets,
            bucket_cap=bucket_cap,
            compact_max_files=compact_max_files,
        )

    return (
        docs.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def neardup_merge_batch(
    batch_df: DataFrame,
    table_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    num_hashes: int = dedup.NUM_HASHES,
    num_bands: int = dedup.NUM_BANDS,
    n_buckets: int = N_BUCKETS_DEFAULT,
    bucket_cap: int = dedup.LSH_BUCKET_CAP,
    compact_max_files: int | None = None,
) -> None:
    """One micro-batch of the near-dup index, public so backfills can
    drive batches directly — the mv_sink.merge_epoch convention.
    ``compact_max_files``: see :func:`neardup_index_sink`."""
    require_local_path(table_path)
    if batch_df.isEmpty():
        return
    store = Store(table_path)
    stage_neardup_batch(
        batch_df, store, "", id_col, text_col, n, threshold,
        num_hashes, num_bands, n_buckets, bucket_cap,
    )
    store.commit()
    # optional self-compaction (VERDICT r12 #4), a commit of its own
    # after the batch's; threshold crossings are rare by construction
    # (~every max_files batches per touched bucket), so the steady-state
    # per-batch cost is one manifest read.
    if compact_max_files is not None:
        from dns_log_transformer_spark.streaming.compact import maybe_compact

        maybe_compact(batch_df.sparkSession, table_path, max_files=compact_max_files)


def stage_neardup_batch(
    batch_df: DataFrame,
    store: Store,
    prefix: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    num_hashes: int = dedup.NUM_HASHES,
    num_bands: int = dedup.NUM_BANDS,
    n_buckets: int = N_BUCKETS_DEFAULT,
    bucket_cap: int = dedup.LSH_BUCKET_CAP,
) -> None:
    """Write one batch into ``store``'s near-dup tables under ``prefix``
    ("" for a store of its own; the corpus monitor's is ``neardup``),
    uncommitted, so the caller commits them with its own tables."""
    spark = batch_df.sparkSession
    buckets_t, shingles_t, pairs_t = (
        os.path.join(prefix, t) for t in ("buckets", "shingles", "pairs")
    )

    # 1. shingle the batch (docs with no shingles can never pair);
    #    within-batch id replays collapse to one row
    sh_b = with_bucket(
        dedup.with_shingles(batch_df, id_col, text_col, n)
        .filter(F.col("n_shingles") > 0)
        .dropDuplicates([id_col]),
        id_col,
        n_buckets,
    ).localCheckpoint()

    # 2. drop ids already indexed (cross-batch replay)
    sh_b = drop_seen_ids(sh_b, store, shingles_t, id_col)
    if sh_b.isEmpty():
        return

    # 3. band buckets for the batch (the attested signature recipe)
    bk_b = (
        dedup.lsh_band_rows(sh_b, id_col, num_hashes, num_bands)
        .withColumn(
            "_bb",
            (
                hash_bucket(F.concat_ws(":", "band", "key"), seed=1)
                % n_buckets
            ).cast("int"),
        )
        .localCheckpoint()
    )

    # 4. candidates: batch band keys vs (touched index buckets +
    #    the batch itself); each unordered pair once, batch-side driven
    old_bk = store.read(spark, buckets_t, touched_buckets(bk_b, "_bb"))
    all_bk = bk_b if old_bk is None else bk_b.unionByName(old_bk)
    # per-batch hot-bucket bound (ADVICE r7): a bucket whose ACCUMULATED
    # occupancy (index + this batch) exceeds bucket_cap contributes no
    # candidates this batch — bounding the fan-out of the equi-join at
    # cap^2 per bucket, exactly the skew the batch-side LSH_BUCKET_CAP
    # guards. The count is exact: every row of a (band, key) bucket
    # hashes to the same _bb partition, and the batch touches it. Pairs
    # emitted in earlier batches while the bucket was still under the
    # cap are kept (pairs/ is append-only; retraction is out of scope),
    # which is the one residual divergence from the one-shot batch path
    # documented in the module docstring.
    heavy = dedup.heavy_bucket_keys(all_bk, bucket_cap)
    bk_probe = bk_b.join(F.broadcast(heavy), ["band", "key"], "left_anti")
    all_bk = all_bk.join(F.broadcast(heavy), ["band", "key"], "left_anti")
    cand = (
        bk_probe.select("band", "key", F.col(id_col).alias("_n"))
        .join(
            all_bk.select("band", "key", F.col(id_col).alias("_o")),
            ["band", "key"],
        )
        .filter(F.col("_n") != F.col("_o"))
        .select(
            F.least("_n", "_o").alias("doc_a"),
            F.greatest("_n", "_o").alias("doc_b"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
        .localCheckpoint()
    )

    # 5. verify exact Jaccard on candidates only; partner shingles
    #    come from the batch plus ONLY the partners' _kb buckets
    partners = with_bucket(
        cand.select(F.col("doc_a").alias(id_col))
        .unionByName(cand.select(F.col("doc_b").alias(id_col)))
        .distinct(),
        id_col,
        n_buckets,
    )
    all_sh = sh_b.select(id_col, "shingles")
    old_sh = store.read(spark, shingles_t, touched_buckets(partners))
    if old_sh is not None:
        all_sh = all_sh.unionByName(
            old_sh.join(F.broadcast(partners.select(id_col)), id_col, "left_semi")
            .select(id_col, "shingles")
        )
    verify = cand.join(
        all_sh.select(
            F.col(id_col).alias("doc_a"), F.col("shingles").alias("sh_a")
        ),
        "doc_a",
    ).join(
        all_sh.select(
            F.col(id_col).alias("doc_b"), F.col("shingles").alias("sh_b")
        ),
        "doc_b",
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    jac = inter.cast("double") / union.cast("double")
    out = (
        verify.withColumn("jaccard", F.round(jac, 4))
        .filter(jac >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )

    # 6. emit + fold the batch into the index (append-only: docs are
    #    immutable and replays were dropped in step 2)
    store.append(out, pairs_t)
    store.append(bk_b, buckets_t, "_bb")
    store.append(sh_b.select(id_col, "shingles", "_kb"), shingles_t, "_kb")
