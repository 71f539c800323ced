"""Streaming vector-index maintenance: ``foreachBatch`` incremental IVF
assignment of a change feed into a cell-partitioned code table — the
CDC-for-ANN composition (delta-dedup's incremental shape applied to the
IVF index): new/changed embeddings assign against a FIXED broadcast
codebook and fold into the index; deleted vectors tombstone out.

Two materializations under ``table_path``:

- ``directory/`` — hash-bucket partitioned on ``_kb(vec_id)`` (the
  cdc_sink recipe): the latest change per key INCLUDING tombstones and
  the key's current cell. The directory answers "which cell does key k
  live in now?" — without it, an update that moves a vector between
  cells could not clear the old cell without scanning the whole index.
- ``cells/`` — partitioned on ``cell``: the live vectors, the layout an
  IVF query scans (probed cells only). A materialized view of the
  directory's live rows.

Per micro-batch, both rewrites touch only the buckets the batch's keys
live in: directory buckets by key hash, cells = old cells of changed
keys ∪ newly assigned cells. A batch of k changes costs O(k/n of each
table), never O(index). Both tables are one manifest store, committed
once per batch (``streaming.sinks``): a crash leaves readers on the
previous batch's directory AND cells, and the replay's latest-wins merge
with its total (version, op) order converges. A cell left with no
vector drops out of the manifest.

Codebook retraining is an offline batch concern by design (the
FAISS/Milvus split): this sink maintains assignments against the
codebook it was started with.

Batch twin: queries/similarity.py ``sim_ivf_delta_index`` (DuckDB-oracle
attested); test_streaming pins the streaming result hash-equal to the
one-shot batch merge+assign of the same feed.
"""

from __future__ import annotations

import os

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from dns_log_transformer_spark.operators import similarity
from dns_log_transformer_spark.streaming.sinks import (
    N_BUCKETS_DEFAULT,
    Store,
    merge_touched_buckets,
    read_table,
    require_local_path,
    with_bucket,
)


def read_index(
    spark: SparkSession, table_path: str
) -> DataFrame | None:
    """The live index: (vec_id, version, embedding, cell), cell-
    partitioned so an IVF query's probed-cell read prunes to its
    partitions. None if nothing has been written yet."""
    return read_table(spark, os.path.join(table_path, "cells"))


def ivf_index_sink(
    changes: DataFrame,
    codebook: tuple[np.ndarray, np.ndarray],
    table_path: str,
    checkpoint_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    version_col: str = "version",
    op_col: str = "op",
    delete_op: str = "D",
    n_buckets: int = N_BUCKETS_DEFAULT,
) -> StreamingQuery:
    """Start the incremental index maintenance: ``changes`` is a
    streaming DataFrame of (id, version, op, embedding) change rows;
    each micro-batch folds into the directory + cell table at
    ``table_path``. Returns the StreamingQuery."""
    require_local_path(table_path)

    def merge_batch(batch_df: DataFrame, epoch_id: int) -> None:  # noqa: ARG001
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        store = Store(table_path)
        # 1. assign cells: upserts from their (new) embedding via the
        #    broadcast codebook; deletes carry no placement (cell null)
        #    and MUST NOT reach the assignment UDF — a delete row is not
        #    required to carry an embedding, and a null vector inside
        #    the Arrow batch would crash the assigner
        ups = batch_df.filter(F.col(op_col) != delete_op)
        dels = batch_df.filter(F.col(op_col) == delete_op).withColumn(
            "cell", F.lit(None).cast("int")
        )
        assigned = similarity.ivf_assign(
            ups, codebook, id_col=id_col, vec_col=vec_col
        ).withColumn("cell", F.col("cell").cast("int")).unionByName(dels)
        batch = with_bucket(assigned, id_col, n_buckets).localCheckpoint()
        keys = batch.select(id_col).distinct()

        # 2. directory merge (cdc_sink shape: touched buckets only)
        merged, old_dir = merge_touched_buckets(
            batch, store, "directory", id_col, version_col, op_col, delete_op
        )
        # checkpointed: read by the touched-cell collect, the cells
        # rewrite and the directory write
        merged = merged.localCheckpoint()

        # 3. the cells to rewrite: wherever a batch key lived
        #    before (its directory cell) plus wherever it lands now —
        #    driver state is bounded by the batch's distinct cells
        winners = merged.join(F.broadcast(keys), id_col, "left_semi")
        new_cells = winners.filter(F.col("cell").isNotNull()).select("cell")
        if old_dir is not None:
            old_cells = (
                old_dir.join(F.broadcast(keys), id_col, "left_semi")
                .filter(F.col("cell").isNotNull())
                .select("cell")
            )
            new_cells = new_cells.unionByName(old_cells)
        touched_cells = [r["cell"] for r in new_cells.distinct().collect()]

        # 4. rewrite touched cells: previous residents minus the
        #    batch's keys, plus the batch keys' live winners
        live = winners.filter(F.col(op_col) != delete_op).select(
            id_col, version_col, vec_col, "cell"
        )
        keep = store.read(spark, "cells", touched_cells)
        if keep is not None:
            live = keep.join(F.broadcast(keys), id_col, "left_anti").unionByName(live)
        store.replace(merged, "directory", "_kb")
        store.replace(live, "cells", "cell", touched_cells)
        store.commit()

    return (
        changes.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
