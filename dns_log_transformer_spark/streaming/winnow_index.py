"""Streaming winnow-anchor span-dedup index: ``foreachBatch``
incremental detection of variable-length repeated spans (boilerplate)
in a document stream against everything ingested so far — the
round-6 winnowing themes composed into the crawl-time shape of
streaming/neardup_index.py, with one structural difference: span
output is NOT monotone. A doc's spans GROW retroactively when a later
doc shares its anchors, so ``spans/`` is a maintained table (touched
partitions rewritten per batch, the vector_index recipe), not an
append-only log like the near-dup ``pairs/``.

Three materializations under ``table_path``:

- ``anchors/`` — every doc's winnowing anchors (doc, pos, fp),
  partitioned on ``_kb`` (hash bucket of doc id). Append-only;
  replayed doc ids are dropped against the touched ``_kb`` buckets.
- ``fpagg/`` — one row per distinct anchor fp with the (min, max) doc
  id ever seen holding it, partitioned on ``_fb`` (hash bucket of
  fp). ``mn != mx`` IS the shared-anchor predicate — exactly the
  one-shot operator's min/max aggregation (corpus.winnow_span_dedup
  step 2), maintained incrementally: min/max are mergeable AND
  idempotent, so replays re-merge harmlessly. Touched ``_fb``
  partitions only.
- ``spans/`` — the current span table (doc, span_start, span_len,
  n_anchors), partitioned on ``_kb``. Per batch, only AFFECTED docs
  are recomputed: batch docs holding a now-shared fp, plus the prior
  SOLE holder of each fp the batch just made shared (fpagg had
  mn == mx for it, so that one doc id is already in hand — no
  posting list needed). Affected docs' full anchor sets come from
  the batch plus their ``_kb`` anchor buckets; their spans are
  re-derived with the same ``merge_anchor_spans`` gaps-and-islands
  code path the batch operator uses, and the touched ``_kb`` span
  partitions are rewritten keep+new.

Per micro-batch the cost is O(batch anchors + touched buckets +
affected docs' anchors); nothing is ever O(corpus). Driver state is
bounded: touched-bucket id lists (<= n_buckets ints) and the
broadcast affected-doc id list (<= batch docs + batch-distinct fps).

Correctness contract (pinned in test_streaming): after EVERY batch,
``read_spans`` equals the one-shot ``corpus.winnow_span_dedup`` of all
docs ingested so far at the same (k, w, min_anchors) — the
mid-stream equality is the point: retroactive span growth on OLD docs
must land in the same batch that made their anchors shared.

The three tables are one manifest store, committed once per batch
(``streaming.sinks``): every read of a batch sees the previous commit,
and a crash leaves readers there for the replay to start from. Sizing:
``n_buckets`` bounds the partition fan-out of all three tables — size it
so a typical batch touches a small fraction (thousands at 100 TB; the
default 16 is fixture-scaled, same note as the near-dup sink). The only
per-batch cost that grows with store age is parquet FILE accumulation
inside touched partitions (measured: an identical 500-doc probe drifted
9.4 -> 14.2 s over ~11 batches to a 50k-doc index, and a 4x-bucket
control made it slower still — files, not rows);
``streaming.compact.compact_store`` resets it offline (4759 -> 48 files,
probe back to ~1.8 s, spans row-identical — PLANS.md r11).
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from dns_log_transformer_spark.operators.corpus import (
    hash_bucket,
    merge_anchor_spans,
)
from dns_log_transformer_spark.streaming.sinks import (
    N_BUCKETS_DEFAULT,
    Store,
    drop_seen_ids,
    read_table,
    require_local_path,
    touched_buckets,
)


def read_spans(spark: SparkSession, table_path: str) -> DataFrame | None:
    """The current span table: (doc_id, span_start, span_len,
    n_anchors) for every doc with a shared span. None before any
    batch has produced spans."""
    spans = read_table(spark, os.path.join(table_path, "spans"))
    return None if spans is None else spans.drop("_kb")


def winnow_index_sink(
    docs: DataFrame,
    table_path: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    w: int = 4,
    min_anchors: int = 2,
    n_buckets: int = N_BUCKETS_DEFAULT,
    compact_max_files: int | None = None,
) -> StreamingQuery:
    """Start incremental span-dedup maintenance: ``docs`` is a
    streaming DataFrame of (id, text) rows; each micro-batch's anchors
    are folded into the index and every doc whose shared-anchor set
    changed has its spans recomputed. Returns the StreamingQuery.

    ``compact_max_files`` (optional) turns on SELF-compaction at the
    end of each batch — see neardup_index.neardup_index_sink; same
    trigger, same quiesced-by-construction safety."""
    require_local_path(table_path)

    def merge_batch(batch_df: DataFrame, epoch_id: int) -> None:  # noqa: ARG001
        merge_docs_batch(
            batch_df,
            table_path,
            id_col=id_col,
            text_col=text_col,
            k=k,
            w=w,
            min_anchors=min_anchors,
            n_buckets=n_buckets,
            compact_max_files=compact_max_files,
        )

    return (
        docs.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def merge_docs_batch(
    batch_df: DataFrame,
    table_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    w: int = 4,
    min_anchors: int = 2,
    n_buckets: int = N_BUCKETS_DEFAULT,
    compact_max_files: int | None = None,
) -> None:
    """One micro-batch of the winnow index, public so tests and
    backfills can drive batches directly (the mv_sink.merge_epoch
    convention)."""
    require_local_path(table_path)

    def kb(col: Column) -> Column:
        return (hash_bucket(col, seed=0) % n_buckets).cast("int")

    def fb(col: Column) -> Column:
        return (hash_bucket(col, seed=2) % n_buckets).cast("int")

    if batch_df.isEmpty():
        return
    spark = batch_df.sparkSession
    store = Store(table_path)
    from dns_log_transformer_spark.operators.text import (
        winnow_anchors_arrow,
    )

    # 1. anchors for the batch (within-batch id replays collapse),
    #    then drop ids already indexed (cross-batch replay) against
    #    ONLY the anchor-store buckets the batch ids hash to
    batch_docs = batch_df.dropDuplicates([id_col])
    anch_b = (
        winnow_anchors_arrow(
            batch_docs, id_col=id_col, text_col=text_col, k=k, w=w
        )
        .withColumn("_kb", kb(F.col(id_col)))
        .localCheckpoint()
    )
    anch_b = drop_seen_ids(anch_b, store, "anchors", id_col)
    if anch_b.isEmpty():
        return

    # 2. merge the per-fp (min, max) doc aggregate into the touched _fb
    #    buckets, read fully (their non-batch rows must survive the
    #    rewrite) — idempotent, so a replayed batch re-merges to the
    #    same values
    bfp = (
        anch_b.groupBy("fp")
        .agg(F.min(id_col).alias("mn"), F.max(id_col).alias("mx"))
        .withColumn("_fb", fb(F.col("fp")))
    )
    touched_fb = touched_buckets(bfp, "_fb")
    old_t = store.read(spark, "fpagg", touched_fb)
    all_fp = bfp if old_t is None else old_t.unionByName(bfp)
    merged_part = (
        all_fp.groupBy("_fb", "fp")
        .agg(F.min("mn").alias("mn"), F.max("mx").alias("mx"))
        .localCheckpoint()
    )

    # 3. affected docs: batch docs holding a NOW-shared fp, plus
    #    the prior sole holder (old mn == mx) of each fp the batch
    #    just made shared
    shared_now = merged_part.filter(F.col("mn") != F.col("mx")).select("fp")
    aff = (
        anch_b.join(shared_now, "fp", "left_semi")
        .select(id_col)
        .distinct()
    )
    if old_t is not None:
        prior_sole = (
            old_t.filter(F.col("mn") == F.col("mx"))
            .join(shared_now, "fp", "left_semi")
            .select(F.col("mn").alias(id_col))
            .distinct()
        )
        aff = aff.unionByName(prior_sole).distinct()
    aff = aff.localCheckpoint()

    if not aff.isEmpty():
        # 4. recompute spans for the affected docs only: their full
        #    anchor sets (batch + their _kb store buckets) filtered
        #    to fps shared under the MERGED aggregate, overlaid on the
        #    committed aggregate for fps in untouched buckets;
        #    re-derived with the exact batch-operator islands code
        aff_kb = touched_buckets(aff.select(kb(F.col(id_col)).alias("_kb")))
        aff_anch = anch_b.join(F.broadcast(aff), id_col, "left_semi").select(
            id_col, "pos", "fp"
        )
        old_anch = store.read(spark, "anchors", aff_kb)
        if old_anch is not None:
            aff_anch = aff_anch.unionByName(
                old_anch.join(F.broadcast(aff), id_col, "left_semi").select(
                    id_col, "pos", "fp"
                )
            )
        need_fb = touched_buckets(
            aff_anch.select(fb(F.col("fp")).alias("_fb")), "_fb"
        )
        shared_fps = shared_now
        untouched = store.read(
            spark, "fpagg", [b for b in need_fb if b not in touched_fb]
        )
        if untouched is not None:
            shared_fps = shared_fps.unionByName(
                untouched.filter(F.col("mn") != F.col("mx")).select("fp")
            )
        sa = aff_anch.join(shared_fps, "fp", "left_semi")
        new_spans = merge_anchor_spans(
            sa, id_col=id_col, k=k, min_anchors=min_anchors
        ).withColumn("_kb", kb(F.col(id_col)))
        keep = store.read(spark, "spans", aff_kb)
        if keep is not None:
            new_spans = keep.join(F.broadcast(aff), id_col, "left_anti").unionByName(
                new_spans
            )
        store.replace(new_spans, "spans", "_kb", aff_kb)

    # 5. one commit for the three tables
    store.replace(merged_part, "fpagg", "_fb")
    store.append(anch_b, "anchors", "_kb")
    store.commit()

    # 6. optional self-compaction (VERDICT r12 #4), a commit of its own
    #    after the batch's; a manifest read when no threshold is crossed
    if compact_max_files is not None:
        from dns_log_transformer_spark.streaming.compact import maybe_compact

        maybe_compact(spark, table_path, max_files=compact_max_files)
