"""Epoch-fenced incremental materialized-view maintenance: a
``foreachBatch`` sink that keeps a keyed aggregate table (the
materialized view SUM/COUNT a dashboard reads) current against a
stream of fact rows — with EXACTLY-ONCE aggregate semantics under
epoch replays.

Why fencing matters: ``foreachBatch`` is at-least-once — after a crash
the last epoch REPLAYS, and counting aggregates are NOT idempotent. So
this sink makes the WRITE idempotent instead of the merge: each
epoch's partial aggregate lands in its own ``_epoch=N`` dir — a replay
of epoch N overwrites ``_epoch=N`` with identical content, never
touching any other epoch.
The read side merges partials across epochs (SUM of SUMs, SUM of
COUNTs — the map-side-combine algebra at the storage layer).

Scale design:
- per-batch write cost is O(batch's distinct keys) — only the new
  epoch partition is written; the table is never read back during
  maintenance (contrast cdc_sink, which must read touched buckets);
- the read-side merge grows with the number of epochs, so
  ``compact_mv`` periodically folds the epoch partials into a base —
  after which reads cost O(keys). The fold is ``sinks.fold_epoch``,
  the same fenced fold the sketch and Bloom sinks use: the ``_FENCE``
  json names the highest folded epoch and the ``_base_e<N>`` dir
  holding the fold, and one ``os.replace`` of it is the commit.
  ``read_mv`` reads the base the fence names plus only partials ABOVE
  the fence, and ``merge_epoch`` drops any epoch at or below the fence
  as a no-op — so a crash at ANY point leaves a consistent view
  (before the fence replace: the old view plus invisible garbage;
  after: the new view, with leftover folded partials invisible until
  swept), and running compaction WHILE the sink is live is safe: a new
  epoch landing mid-compaction is above the pinned fence, is never
  folded, never deleted, and stays visible as a partial.

Aggregates kept: per-key row count and exact integer sum (cents
discipline) — extend by adding more algebraic aggregates (min/max/
sumsq) to the same partial-merge pattern.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from dns_log_transformer_spark.streaming.sinks import (
    fold_epoch,
    read_base,
    read_fence,
    require_local_path,
)


def _merge_aggs() -> list[Column]:
    """SUM of COUNTs and SUM of SUMs: how partials and the base merge."""
    return [
        F.sum("n_rows").cast("long").alias("n_rows"),
        F.sum("sum_val").cast("long").alias("sum_val"),
    ]


def merge_epoch(
    batch_df: DataFrame,
    epoch_id: int,
    table_path: str,
    key_col: str,
    value_col: str,
) -> None:
    """Land one epoch's partial aggregate idempotently: the partial for
    ``_epoch=N`` is a pure function of the batch, written over exactly
    that dir — replaying the epoch rewrites identical content — and
    epochs at or below the compaction fence are dropped (their rows
    already live in the folded base). Public so tests (and backfills)
    can drive epochs directly."""
    require_local_path(table_path)
    if int(epoch_id) <= read_fence(table_path)[0]:
        return  # already folded into the base; a replay must no-op
    if batch_df.isEmpty():
        return
    partial = batch_df.groupBy(F.col(key_col).alias("key")).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(F.col(value_col).cast("decimal(38,0)")).cast("long").alias("sum_val"),
    )
    partial.write.mode("overwrite").parquet(
        os.path.join(table_path, f"_epoch={int(epoch_id)}")
    )


def _epochs(table_path: str) -> list[int]:
    """The epoch partials on disk, folded or not."""
    if not os.path.isdir(table_path):
        return []
    return [
        int(e.split("=", 1)[1])
        for e in os.listdir(table_path)
        if e.startswith("_epoch=")
    ]


def _partials(
    spark: SparkSession, table_path: str, keep: Column
) -> DataFrame | None:
    """The epoch partials ``keep`` selects, as (key, n_rows, sum_val)."""
    if not _epochs(table_path):
        return None
    return (
        spark.read.parquet(table_path)
        .filter(keep)
        .select("key", "n_rows", "sum_val")
    )


def read_mv(spark: SparkSession, table_path: str) -> DataFrame | None:
    """The merged view: (key, n_rows, sum_val) across the fenced base
    plus unfolded epoch partials (SUM of SUMs — the storage-layer
    map-side combine). Partials at or below the fence already live in
    the base, so a crashed compaction's leftovers are never counted.
    None before any epoch has committed."""
    fence, base = read_base(spark, table_path)
    parts = [
        p
        for p in (base, _partials(spark, table_path, F.col("_epoch") > fence))
        if p is not None
    ]
    if not parts:
        return None
    df = parts[0] if len(parts) == 1 else parts[0].unionByName(parts[1])
    return df.groupBy("key").agg(*_merge_aggs())


def compact_mv(spark: SparkSession, table_path: str) -> None:
    """Fold the epoch partials above the fence into the base so read
    cost stops growing with epoch count, then sweep the partials the
    fence covers. The epoch list is pinned from one directory listing:
    an epoch the sink lands after it is above the new fence and is
    neither folded nor touched, so compaction is safe while the sink is
    live. The fold (``sinks.fold_epoch``) is crash-consistent at every
    step, and a crashed sweep leaves only dead bytes read_mv ignores."""
    require_local_path(table_path)
    fence = read_fence(table_path)[0]
    to_fold = [e for e in _epochs(table_path) if e > fence]
    if to_fold:
        fold_epoch(
            _partials(spark, table_path, F.col("_epoch").isin(to_fold)),
            max(to_fold),
            table_path,
            ["key"],
            _merge_aggs(),
        )
        fence = max(to_fold)
    for e in _epochs(table_path):
        if e <= fence:
            partial = os.path.join(table_path, f"_epoch={e}")
            shutil.rmtree(partial, ignore_errors=True)


def mv_sink(
    facts: DataFrame,
    table_path: str,
    checkpoint_dir: str,
    key_col: str,
    value_col: str,
    compact_max_epochs: int | None = None,
) -> StreamingQuery:
    """Start incremental view maintenance over a streaming DataFrame of
    fact rows. Returns the StreamingQuery.

    ``compact_max_epochs`` (optional) turns on SELF-folding: the epoch
    log grows one ``_epoch=N`` partition per batch by design (the r14
    drift sweep: total files 1 per batch, worst partition flat), and
    read cost grows with unfolded epochs — when more than
    ``compact_max_epochs`` partials sit above the fence, the batch
    callback runs :func:`compact_mv` (crash-consistent at every step;
    safe while the sink is live) right after its own epoch lands, the
    same end-of-callback home as the index sinks' ``compact_max_files``
    trigger."""
    require_local_path(table_path)

    def _merge(batch_df: DataFrame, epoch_id: int) -> None:
        merge_epoch(batch_df, epoch_id, table_path, key_col, value_col)
        if compact_max_epochs is not None:
            fence = read_fence(table_path)[0]
            unfolded = sum(1 for e in _epochs(table_path) if e > fence)
            if unfolded > compact_max_epochs:
                compact_mv(batch_df.sparkSession, table_path)

    return (
        facts.writeStream.foreachBatch(_merge)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
