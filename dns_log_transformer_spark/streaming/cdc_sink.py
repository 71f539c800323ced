"""Streaming CDC upsert sink: ``foreachBatch`` MERGE into a
bucket-partitioned parquet "latest" table.

The shape a streaming change feed needs downstream of Kafka/Firehose:
every micro-batch of (key, version, op, payload) changes folds into a
materialized latest-wins table (operators/cdc.py semantics), so readers
always see one live row per key. This is the one streaming surface the
engine had not yet exercised — ``foreachBatch`` (arbitrary batch logic
per epoch) as opposed to foreach writers, file sinks, and the stateful
APIs.

Scale design — the merge must NOT rewrite the whole table per batch:

- the table is hash-bucket partitioned on the key
  (``_kb = md5-bucket(key) % n_buckets`` — the same deterministic
  bucketing the split/sample family uses);
- each batch computes the distinct buckets its keys touch, reads ONLY
  those buckets back, merges them with the batch, and writes ONLY
  those buckets' new content. A batch touching k keys costs
  O(k/n_buckets of the table), not O(table).
- tombstones are STORED (``keep_tombstones=True``): an incremental
  table that drops a delete forgets it, and a lower-versioned upsert
  replayed later would resurrect the key. ``read_latest`` filters them.

The table is a manifest store and each batch one commit
(``streaming.sinks``): a crash leaves readers on the previous batch,
and the replay merges latest-wins to the same table. The merge itself
is ``sinks.merge_touched_buckets``, shared with the vector-index sink.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from dns_log_transformer_spark.streaming.sinks import (
    N_BUCKETS_DEFAULT,
    Store,
    merge_touched_buckets,
    read_table,
    require_local_path,
    with_bucket,
)


def read_latest(
    spark: SparkSession,
    table_path: str,
    op_col: str = "op",
    delete_op: str = "D",
) -> DataFrame | None:
    """The live view: stored rows minus tombstones (and the internal
    bucket column). None if nothing has been written yet."""
    stored = read_table(spark, table_path)
    if stored is None:
        return None
    return stored.filter(F.col(op_col) != delete_op).drop("_kb")


def upsert_sink(
    changes: DataFrame,
    table_path: str,
    checkpoint_dir: str,
    key_col: str,
    version_col: str = "version",
    op_col: str = "op",
    delete_op: str = "D",
    n_buckets: int = N_BUCKETS_DEFAULT,
) -> StreamingQuery:
    """Start the streaming MERGE: ``changes`` is a streaming DataFrame
    of change rows; each micro-batch folds into the bucket-partitioned
    latest table at ``table_path``. Returns the StreamingQuery."""
    require_local_path(table_path)

    def merge_batch(batch_df: DataFrame, epoch_id: int) -> None:  # noqa: ARG001
        if batch_df.isEmpty():
            return
        store = Store(table_path)
        batch = with_bucket(batch_df, key_col, n_buckets)
        merged, _stored = merge_touched_buckets(
            batch, store, "", key_col, version_col, op_col, delete_op
        )
        store.replace(merged, "", "_kb")
        store.commit()

    return (
        changes.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
