"""Per-micro-batch writers for the DNS pipeline's three outputs.

``streaming.pipeline`` runs one ``foreachBatch`` query; each micro-batch
calls these on static DataFrames:

- ``send_syslog`` emits one UDP syslog datagram per formatted line, as the
  reference does for a hard-coded collector (app/app.py:17-32,253), from
  ONE socket per partition — the sink-side batching the reference lacks
  (SURVEY.md §4 "Batching at sink"). A datagram the kernel refuses (over
  65,507 bytes, or ENOBUFS) is skipped and counted, like the reference's
  SysLogHandler drops one record and goes on (app/app.py:22-23,253). UDP
  is fire-and-forget, and a replayed batch sends its lines again: syslog
  delivery is at-least-once from the pipeline and at-most-once past the
  network.
- ``write_batch_files`` writes flat parquet files whose names are fixed by
  the batch id. A replayed batch replaces its own files instead of adding
  copies, so the archive and quarantine are exactly-once without the file
  sink's ``_spark_metadata`` log, and stay readable as ``<dir>/*.parquet``.

The other ``foreachBatch`` sinks share the helpers below:

- ``fold_epoch`` is the one way an aggregate table (the CMS grid, the
  per-source HLL sketches, the Bloom words, the materialized view's
  base) changes. The table's rows live in an underscore-prefixed
  ``_base_e<N>`` dir, which Spark's parquet reader skips, and the
  ``_FENCE`` json names that dir and the highest epoch folded into it.
  Epoch N merges its rows into the base the fence names, writes a fresh
  ``_base_e<N>`` and commits with one ``os.replace`` of the fence. An
  epoch the fence already covers is a no-op, so a replayed micro-batch
  is counted once. A crash before the replace leaves readers on the old
  base; the replay rewrites the same ``_base_e<N>`` and commits. The
  fold never writes the dir it reads, so it needs no
  ``localCheckpoint``.
- ``merge_touched_buckets`` is the latest-wins merge of a batch into
  the ``_kb`` hash buckets it touches (the CDC and vector-index sinks),
  and ``drop_seen_ids`` the replay-drop of ids an append-only store
  already holds (the near-dup, winnow and corpus-monitor sinks).
"""

from __future__ import annotations

import json
import os
import shutil
import socket
from typing import Iterator

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from dns_log_transformer_spark.operators import cdc
from dns_log_transformer_spark.operators.corpus import hash_bucket

#: RFC3164 facility*8 + severity: daemon(3)*8 + info(6) = 30 — the
#: priority SysLogHandler(facility=LOG_DAEMON).info() sends
#: (app/app.py:21-22).
SYSLOG_PRI_DAEMON_INFO = 30


def send_syslog(lines: DataFrame, host: str, port: int) -> int:
    """Send each row's ``line`` as one syslog datagram to ``host:port``.

    Runs as one Spark job; each partition opens one socket. Returns the
    number of datagrams skipped because ``sendto`` failed.
    """
    import pyarrow as pa

    addr = (host, port)

    def send(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        skipped = 0
        with socket.socket(socket.AF_INET, socket.SOCK_DGRAM) as sock:
            for batch in batches:
                for line in batch.column(0).to_pylist():
                    datagram = f"<{SYSLOG_PRI_DAEMON_INFO}>{line}"
                    try:
                        sock.sendto(datagram.encode("utf-8", errors="replace"), addr)
                    except OSError:
                        skipped += 1
        yield pa.RecordBatch.from_pydict({"skipped": [skipped]})

    counts = lines.select("line").mapInArrow(send, "skipped long").collect()
    return sum(r.skipped for r in counts)


def write_batch_files(df: DataFrame, path: str, batch_id: int) -> None:
    """Write ``df`` as ``<path>/part-<batch_id>-<k>.parquet``, replacing
    the files an earlier attempt of the same batch left there.

    Spark writes into the ``_``-prefixed staging dir ``_stage-<batch_id>``
    (which readers skip); then this batch's old files are deleted and the
    staged ones renamed into place. A crash at any point leaves files the
    replay of the batch deletes or overwrites. ``path`` is driver-local.
    """
    stage = os.path.join(path, f"_stage-{batch_id}")
    df.write.mode("overwrite").parquet(stage)
    prefix = f"part-{batch_id}-"
    for name in os.listdir(path):
        if name.startswith(prefix):
            os.remove(os.path.join(path, name))
    staged = sorted(n for n in os.listdir(stage) if n.endswith(".parquet"))
    for k, name in enumerate(staged):
        os.rename(os.path.join(stage, name), os.path.join(path, f"{prefix}{k}.parquet"))
    shutil.rmtree(stage)


def require_local_path(table_path: str) -> None:
    """Table discovery uses os.path/os.listdir, which only sees the
    driver-local filesystem: an hdfs:// or s3:// path would silently
    look like "no table yet" and the first batch would OVERWRITE
    instead of merging. Enforce the documented local-path contract
    (a production deployment swaps these sinks for a transactional
    table format anyway). A 'file://' URI is rejected too: Spark would
    accept it but every os.path discovery check on the URI STRING
    returns False — the exact silent-overwrite failure this guard
    exists to prevent. Pass the bare path instead."""
    if "://" in table_path:
        scheme = table_path.split("://", 1)[0]
        raise ValueError(
            "sink tables are driver-local-filesystem only and must be "
            f"passed as bare paths (got scheme {scheme!r}; even "
            "'file://' breaks the os.path-based table discovery); use "
            "Delta/Iceberg/Hudi for remote object-store tables"
        )


def has_partitions(path: str, prefix: str) -> bool:
    """Does this local parquet table directory have <prefix>= partition
    subdirectories? The shared discovery probe for every sink that
    maintains a partitioned table (cdc/vector/near-dup/mv)."""
    return os.path.isdir(path) and any(
        e.startswith(prefix) for e in os.listdir(path)
    )


def with_bucket(df: DataFrame, key_col: str, n_buckets: int) -> DataFrame:
    """``df`` plus its ``_kb`` hash bucket of ``key_col``."""
    return df.withColumn(
        "_kb", (hash_bucket(F.col(key_col), seed=0) % n_buckets).cast("int")
    )


def touched_buckets(df: DataFrame, col: str = "_kb") -> list[int]:
    """The distinct bucket ids ``df`` carries (driver state bounded by
    the bucket count)."""
    return [r[col] for r in df.select(col).distinct().collect()]


def merge_touched_buckets(
    batch: DataFrame,
    table_path: str,
    key_col: str,
    version_col: str,
    op_col: str,
    delete_op: str,
) -> tuple[DataFrame, DataFrame | None]:
    """Latest-wins merge of a ``_kb``-carrying batch into the buckets
    of the table at ``table_path`` it touches. Returns ``(merged,
    stored)``: ``merged`` is the touched buckets' new content,
    materialized because the caller overwrites the partitions its plan
    reads; ``stored`` is the touched buckets' old rows as a lazy read
    (None before the first write), for a caller that needs the batch
    keys' previous state. Read ``stored`` before overwriting.

    Tombstones are kept: an incremental table that drops a delete
    forgets it, and a lower-versioned upsert replayed later would
    resurrect the key. The op string breaks (key, version) ties ('U'
    beats 'D'), so an epoch replay holding a same-version upsert and
    delete converges to the same table either way."""
    stored = None
    if has_partitions(table_path, "_kb="):
        # partition pruning: only the touched buckets are read back
        stored = batch.sparkSession.read.parquet(table_path).filter(
            F.col("_kb").isin(touched_buckets(batch))
        )
    merged = cdc.upsert_latest(
        batch if stored is None else stored.unionByName(batch),
        [key_col, "_kb"],
        version_col,
        op_col,
        delete_op,
        keep_tombstones=True,
        tiebreak_cols=[op_col],
    ).localCheckpoint()
    return merged, stored


def overwrite_partitions(df: DataFrame, table_path: str, col: str) -> None:
    """Replace exactly the ``col`` partitions ``df`` holds. Dynamic
    overwrite is scoped to this write: a session-wide conf flip would
    turn every later partitioned overwrite on the shared session into a
    partition-matching one."""
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(col)
        .parquet(table_path)
    )


def drop_seen_ids(batch: DataFrame, store_path: str, id_col: str) -> DataFrame:
    """The replay-drop of an append-only store: ``batch`` (carrying
    ``_kb``) minus the ids the store already holds, read from ONLY the
    ``_kb`` buckets the batch touches. Materialized, so the callers'
    later writes to the store cannot change it."""
    if not has_partitions(store_path, "_kb="):
        return batch
    seen = (
        batch.sparkSession.read.parquet(store_path)
        .filter(F.col("_kb").isin(touched_buckets(batch)))
        .select(id_col)
        .distinct()
    )
    return batch.join(F.broadcast(seen), id_col, "left_anti").localCheckpoint()


#: The fenced table's commit record: {"folded_thru": N, "base": dir}.
FENCE = "_FENCE"


def read_fence(table_path: str) -> tuple[int, str | None]:
    """(highest epoch folded, base dir the fence names); (-1, None)
    before the first fold."""
    try:
        with open(os.path.join(table_path, FENCE)) as f:
            info = json.load(f)
    except FileNotFoundError:
        return -1, None
    return int(info["folded_thru"]), info["base"]


def read_base(
    spark: SparkSession, table_path: str
) -> tuple[int, DataFrame | None]:
    """A fenced table's committed state: the fence's epoch and the base
    it names (None before the first fold), from one read of the fence
    so the two always agree."""
    require_local_path(table_path)
    fence, base = read_fence(table_path)
    if base is None:
        return fence, None
    return fence, spark.read.parquet(os.path.join(table_path, base))


def _commit_fence(table_path: str, epoch: int, base: str) -> None:
    tmp = os.path.join(table_path, FENCE + ".tmp")
    with open(tmp, "w") as f:
        json.dump({"folded_thru": epoch, "base": base}, f)
    os.replace(tmp, os.path.join(table_path, FENCE))


def fold_epoch(
    rows: DataFrame,
    epoch: int,
    table_path: str,
    keys: list[str],
    merge: list[Column],
) -> None:
    """Fold epoch ``epoch``'s ``rows`` into the fenced table at
    ``table_path``: group the rows plus the current base by ``keys``
    with the table's ``merge`` aggregates, write ``_base_e<epoch>``,
    commit by replacing the fence, then remove the old base. A no-op
    when the fence already covers ``epoch``, so a replay counts once;
    a crash at any step leaves readers on the old or the new base,
    never a partial one (module docstring)."""
    require_local_path(table_path)
    fence, base = read_fence(table_path)
    if epoch <= fence:
        return
    if base is not None:
        rows = rows.unionByName(
            rows.sparkSession.read.parquet(os.path.join(table_path, base))
        )
    new_base = f"_base_e{epoch}"
    rows.groupBy(*keys).agg(*merge).write.mode("overwrite").parquet(
        os.path.join(table_path, new_base)
    )
    _commit_fence(table_path, epoch, new_base)
    for entry in os.listdir(table_path):
        if entry.startswith("_base_") and entry != new_base:
            shutil.rmtree(os.path.join(table_path, entry), ignore_errors=True)
