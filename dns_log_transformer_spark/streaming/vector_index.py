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

Per micro-batch, both rewrites touch only the partitions the batch's
keys live in (dynamic partition overwrite): directory buckets by key
hash, cell partitions = old cells of changed keys ∪ newly assigned
cells. A batch of k changes costs O(k/n of each table), never O(index).

Same honesty caveats as cdc_sink (which this module composes): parquet
dynamic overwrite is not atomic across partitions — epoch replays
converge because the merge is latest-wins with a total (version, op)
ordering; a transactional table format is the production wrapper.
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

from dns_log_transformer_spark.operators import cdc, similarity
from dns_log_transformer_spark.streaming.cdc_sink import (
    N_BUCKETS_DEFAULT,
    _has_partitions,
    _require_local_path,
    _with_bucket,
)


def read_index(
    spark: SparkSession, table_path: str
) -> DataFrame | None:
    """The live index: (vec_id, version, embedding, cell), cell-
    partitioned so an IVF query's probed-cell read prunes to its
    partitions. None if nothing has been written yet."""
    _require_local_path(table_path)
    cells = os.path.join(table_path, "cells")
    if not _has_partitions(cells, "cell="):
        return None
    return spark.read.parquet(cells)


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
    _require_local_path(table_path)
    dir_path = os.path.join(table_path, "directory")
    cells_path = os.path.join(table_path, "cells")

    def merge_batch(batch_df: DataFrame, epoch_id: int) -> None:  # noqa: ARG001
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
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
        batch = _with_bucket(assigned, id_col, n_buckets).localCheckpoint()
        keys = batch.select(id_col).distinct()
        touched_kb = [r["_kb"] for r in batch.select("_kb").distinct().collect()]

        # 2. directory merge (cdc_sink shape: touched buckets only)
        old_dir = None
        if _has_partitions(dir_path, "_kb="):
            old_dir = spark.read.parquet(dir_path).filter(
                F.col("_kb").isin(touched_kb)
            )
        alld = batch if old_dir is None else old_dir.unionByName(batch)
        merged = cdc.upsert_latest(
            alld,
            [id_col, "_kb"],
            version_col,
            op_col,
            delete_op,
            keep_tombstones=True,
            tiebreak_cols=[op_col],
        ).localCheckpoint()

        # 3. the cell partitions to rewrite: wherever a batch key lived
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

        # 4. rewrite touched cell partitions: previous residents minus
        #    the batch's keys, plus the batch keys' live winners
        live = winners.filter(F.col(op_col) != delete_op).select(
            id_col, version_col, vec_col, "cell"
        )
        if touched_cells and _has_partitions(cells_path, "cell="):
            keep = (
                spark.read.parquet(cells_path)
                .filter(F.col("cell").isin(touched_cells))
                .join(F.broadcast(keys), id_col, "left_anti")
            )
            live = keep.unionByName(live)
        live = live.localCheckpoint()
        merged.write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).partitionBy("_kb").parquet(dir_path)
        live.write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).partitionBy("cell").parquet(cells_path)
        # 5. a touched cell that ended EMPTY never appears in `live`,
        #    and dynamic overwrite only replaces partitions present in
        #    the written data — the old files would survive and deleted
        #    or moved vectors would stay visible. Remove those partition
        #    directories explicitly (local-path contract; bounded by the
        #    batch's touched-cell count).
        import shutil

        still_live = {
            r["cell"] for r in live.select("cell").distinct().collect()
        }
        for cell in touched_cells:
            if cell not in still_live:
                shutil.rmtree(
                    os.path.join(cells_path, f"cell={cell}"),
                    ignore_errors=True,
                )

    return (
        changes.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
