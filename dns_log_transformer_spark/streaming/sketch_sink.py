"""Streaming sketch-table maintenance: ``foreachBatch`` incremental
upkeep of FIXED-SIZE mergeable summaries — the streaming-native state
shape (linear sketches merge associatively, so per-batch update cost
and table size are O(sketch), independent of how much data has ever
flowed through).

Two fenced tables under ``table_path`` (``sinks.fold_epoch``), each
bounded by the sketch size:

- ``cms/`` — the count-min counter grid over the token stream
  (depth x width rows, integer counts): new batch's partial grid adds
  cell-wise into the stored grid. CMS is linear, so the streamed grid
  is pinned EXACTLY equal (every cell) to the one-shot batch grid of
  the full feed under any batch split.
- ``sources/`` — per-source HyperLogLog sketches of distinct doc ids
  (``hll_sketch_agg`` binaries merged with ``hll_union``): register
  merge is max-based (associative + commutative), so the streamed
  estimate equals the one-shot batch estimate exactly.

Each micro-batch folds into each table under its epoch id. Counts are
not idempotent, so the fence is what keeps a replayed batch from
counting twice: a table whose fence covers the epoch skips it.

Contrast with the other foreachBatch sinks (cdc/vector/near-dup
index): those maintain O(corpus) tables and spend their design on
touched-partition pruning; sketches need none of it — the fold reads
and writes O(grid). At 100 TB the grid is still depth x width rows.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from dns_log_transformer_spark.operators.sketches import (
    CMS_DEPTH,
    CMS_WIDTH,
    cms_counters,
)
from dns_log_transformer_spark.streaming.sinks import (
    fold_epoch,
    read_base,
    require_local_path,
)


def read_cms(spark: SparkSession, table_path: str) -> DataFrame | None:
    """The accumulated counter grid: (j, h, c). None before any batch."""
    return read_base(spark, os.path.join(table_path, "cms"))[1]


def read_source_sketches(
    spark: SparkSession, table_path: str
) -> DataFrame | None:
    """Per-source distinct-doc estimates: (source, est_docs) from the
    accumulated HLL sketches. None before any batch."""
    sketches = read_base(spark, os.path.join(table_path, "sources"))[1]
    if sketches is None:
        return None
    return sketches.select(
        "source",
        F.hll_sketch_estimate("sk").cast("long").alias("est_docs"),
    )


def sketch_table_sink(
    docs: DataFrame,
    table_path: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
) -> StreamingQuery:
    """Start the incremental sketch upkeep over a streaming DataFrame of
    (id, text, source) document rows. Returns the StreamingQuery."""
    require_local_path(table_path)
    cms_path = os.path.join(table_path, "cms")
    src_path = os.path.join(table_path, "sources")

    def merge_batch(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        fold_epoch(
            cms_counters(batch_df, text_col, depth, width),
            epoch_id,
            cms_path,
            ["j", "h"],
            [F.sum("c").alias("c")],
        )
        fold_epoch(
            batch_df.groupBy(source_col).agg(F.hll_sketch_agg(id_col).alias("sk")),
            epoch_id,
            src_path,
            [source_col],
            [F.hll_union_agg("sk").alias("sk")],
        )

    return (
        docs.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
