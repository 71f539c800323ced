"""Streaming per-source corpus triage monitor: the crawl-time twin of
``corpus.source_scorecard`` (the registered, DuckDB-attested batch
query). Each micro-batch of documents folds into two stores; the
report derives ON READ, so the retroactive flags (a doc becomes an
exact/near duplicate only when its twin arrives LATER) need no
maintained counter table and no retraction machinery:

- ``flags/`` — one row per doc: (doc_id, source, fingerprint
  coalesced to '', is_contaminated), partitioned on ``_kb`` (hash
  bucket of doc id). Append-only; replayed ids drop against the
  touched buckets. Contamination is EXACT against the FIXED benchmark
  the sink was built with (the realistic shape: the eval set is known
  up front), computed per batch through the Bloom pre-filter with the
  bitset and the exact shingle set built ONCE at sink creation — the
  per-batch cost is the capped suspect-verify join, never a benchmark
  rebuild.
- ``neardup/`` — the full near-dup index, maintained by handing each
  batch to ``neardup_index.stage_neardup_batch`` (the attested
  crawl-dedup machinery; its ``pairs/`` store is what the report
  reads).

``read_scorecard`` joins the stores into per-doc flag rows — the
exact-dup flag is a report-time count window over the fingerprint
column, near-dup membership comes from the accumulated pairs — and
aggregates them through ``corpus.scorecard_from_flags``, the IDENTICAL
expression layer the batch query uses. Report cost is O(corpus): it is
the triage report, not a per-batch path.

Correctness contract (pinned in test_streaming): after EVERY batch,
``read_scorecard`` equals ``corpus.source_scorecard`` of all docs
ingested so far against the same fixed benchmark — splits and replays
included, cap-crossing corpora included: the near-dup membership comes
from ``neardup_index.read_pairs_reconciled``, which re-checks every
accumulated pair against FINAL bucket occupancy at read time, so a
bucket that crossed the occupancy cap mid-stream has its early pairs
dropped from the report exactly as the batch path drops them
retroactively (r8 watch-item closed; pairs/ itself stays append-only
— the reconciliation is read-side, no retraction machinery).

Both stores are ONE manifest store, committed once per batch
(``streaming.sinks``): a crash leaves the flags and the near-dup index
on the same previous batch. Sizing: ``n_buckets`` as in
neardup_index.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from dns_log_transformer_spark.streaming.neardup_index import (
    read_pairs_reconciled,
    stage_neardup_batch,
)
from dns_log_transformer_spark.streaming.sinks import (
    N_BUCKETS_DEFAULT,
    Store,
    drop_seen_ids,
    read_table,
    require_local_path,
    with_bucket,
)


def read_scorecard(
    spark: SparkSession,
    table_path: str,
    bucket_cap: int | None = None,
    id_col: str = "doc_id",
) -> DataFrame | None:
    """The per-source triage report over everything ingested so far —
    same columns and values as the batch ``corpus.source_scorecard``.
    None before any batch has landed. ``bucket_cap`` must match the
    sink's (defaults to the shared ``dedup.LSH_BUCKET_CAP``): near-dup
    membership is read through ``read_pairs_reconciled`` so pairs from
    buckets that crossed the cap mid-stream are dropped exactly as the
    batch path drops them retroactively. ``id_col`` must also match the
    sink's — the flags/ and neardup buckets/ stores carry the caller's
    id column name, so a monitor started with a custom id needs the
    same name here (ADVICE r9: previously hardcoded to doc_id, which
    broke the reconciled read's dropDuplicates on custom-id stores)."""
    from dns_log_transformer_spark.operators.corpus import (
        scorecard_from_flags,
    )
    from dns_log_transformer_spark.operators.dedup import LSH_BUCKET_CAP

    flags = read_table(spark, os.path.join(table_path, "flags"))
    if flags is None:
        return None
    flags = flags.drop("_kb")
    wfp = Window.partitionBy("fingerprint")
    flagged = flags.withColumn("is_exdup", F.count("*").over(wfp) >= 2)
    pairs = read_pairs_reconciled(
        spark,
        os.path.join(table_path, "neardup"),
        bucket_cap=LSH_BUCKET_CAP if bucket_cap is None else bucket_cap,
        id_col=id_col,
    )
    if pairs is None:
        flagged = flagged.withColumn("is_near", F.lit(None).cast("boolean"))
    else:
        near = (
            pairs.select(F.col("doc_a").alias(id_col))
            .unionByName(pairs.select(F.col("doc_b").alias(id_col)))
            .distinct()
            .withColumn("is_near", F.lit(True))
        )
        flagged = flagged.join(near, id_col, "left")
    return scorecard_from_flags(
        flagged.select("source", "is_contaminated", "is_exdup", "is_near")
    )


def corpus_monitor_sink(
    docs: DataFrame,
    benchmark: DataFrame,
    table_path: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
    n: int = 8,
    k: int | None = None,
    m_bits: int | None = None,
    threshold: float = 0.5,
    n_buckets: int = N_BUCKETS_DEFAULT,
    bucket_cap: int | None = None,
    compact_max_files: int | None = None,
) -> StreamingQuery:
    """Start the crawl-time triage monitor. ``docs`` is a streaming
    DataFrame of (id, text, source) rows; ``benchmark`` is the FIXED
    held-out eval set (a batch DataFrame). ``bucket_cap`` defaults to
    the shared ``dedup.LSH_BUCKET_CAP``; pass the same value to
    ``read_scorecard``. Returns the StreamingQuery.

    ``compact_max_files`` (optional) turns on SELF-compaction of the
    tables that accumulate files per batch — the append-only flags
    (one file set per batch per touched bucket: the r14 drift sweep
    measured it growing linearly, worst partition 20 files after 20
    batches) and the embedded near-dup index's. It runs at the end of
    the batch callback as a commit of its own, so a crash in it leaves
    the batch committed."""
    from dns_log_transformer_spark.operators.caching import persist_tracked
    from dns_log_transformer_spark.operators.corpus import decontaminate_against
    from dns_log_transformer_spark.operators.dedup import (
        LSH_BUCKET_CAP,
        with_shingles,
    )

    cap = LSH_BUCKET_CAP if bucket_cap is None else bucket_cap
    from dns_log_transformer_spark.operators.sketches import (
        BLOOM_BITS,
        BLOOM_K,
        bloom_bits_collect,
    )

    require_local_path(table_path)
    k = BLOOM_K if k is None else k
    m_bits = BLOOM_BITS if m_bits is None else m_bits

    # the benchmark is fixed, so its Bloom bitset and exact shingle set
    # build ONCE here; every batch pays only the probe + the
    # suspect-only exact verify (the bloom_verified_decontaminate
    # two-stage shape with the stage-0 work amortized to sink creation)
    bench_sh = persist_tracked(
        with_shingles(benchmark, id_col, text_col, n)
        .select(F.explode("shingles").alias("shingle"))
        .distinct()
    )
    words = bloom_bits_collect(bench_sh, "shingle", k, m_bits)

    def merge_batch(batch_df: DataFrame, epoch_id: int) -> None:  # noqa: ARG001
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        store = Store(table_path)
        from dns_log_transformer_spark.operators.text import with_fingerprint

        batch_docs = with_bucket(
            batch_df.dropDuplicates([id_col]).localCheckpoint(), id_col, n_buckets
        )
        # replay-drop against the flags store's touched buckets
        batch_docs = drop_seen_ids(batch_docs, store, "flags", id_col)
        if batch_docs.isEmpty():
            return

        # exact contamination: join-free bitset probe over the batch,
        # then the exact broadcast-set verify for suspects only
        probed = decontaminate_against(
            batch_docs, words, n, id_col, text_col, k, m_bits
        )
        suspects = probed.filter(F.col("maybe_contaminated")).select(id_col)
        verified = (
            with_shingles(
                batch_docs.join(F.broadcast(suspects), id_col, "left_semi"),
                id_col,
                text_col,
                n,
            )
            .select(F.col(id_col), F.explode_outer("shingles").alias("shingle"))
            .join(bench_sh, "shingle", "left_semi")
            .select(id_col)
            .distinct()
            .withColumn("_hit", F.lit(True))
        )
        flags = (
            batch_docs.join(verified, id_col, "left")
            .select(
                id_col,
                F.col(source_col).alias("source"),
                "_kb",
                F.coalesce(F.col("_hit"), F.lit(False)).alias("is_contaminated"),
            )
            .join(
                with_fingerprint(batch_docs, text_col=text_col).select(
                    id_col,
                    F.coalesce("fingerprint", F.lit("")).alias("fingerprint"),
                ),
                id_col,
            )
            .select(id_col, "source", "fingerprint", "is_contaminated", "_kb")
        )
        stage_neardup_batch(
            batch_df,
            store,
            "neardup",
            id_col=id_col,
            text_col=text_col,
            threshold=threshold,
            n_buckets=n_buckets,
            bucket_cap=cap,
        )
        store.append(flags, "flags", "_kb")
        store.commit()
        if compact_max_files is not None:
            from dns_log_transformer_spark.streaming.compact import maybe_compact

            maybe_compact(spark, table_path, max_files=compact_max_files)

    return (
        docs.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
