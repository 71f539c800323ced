"""Per-micro-batch writers for the DNS pipeline's outputs.

``streaming.pipeline`` runs one ``foreachBatch`` query; each micro-batch
hands ``emit_dns_batch`` one row set (a row per BIND9 line of a valid
record, a row per invalid record) and it runs as ONE Spark job: a
``mapInArrow`` pass over each partition does all of the batch's sink
work, then the driver commits.

- syslog: one UDP datagram per line, as the reference does for a
  hard-coded collector (app/app.py:17-32,253), from ONE socket per
  partition — the sink-side batching the reference lacks (SURVEY.md §4
  "Batching at sink"). A datagram the kernel refuses (over 65,507
  bytes, or ENOBUFS) is skipped and counted, like the reference's
  SysLogHandler drops one record and goes on (app/app.py:22-23,253).
  ``send_syslog`` is the same pass with syslog alone.
- archive (the lines) and quarantine (the invalid records): each
  partition streams its rows into one parquet file per output in the
  batch's ``_stage-<batch_id>`` dir (which readers skip). The driver
  then replaces the batch's earlier ``part-<batch_id>-<k>.parquet``
  files with the staged ones, so a replayed batch replaces its own
  files instead of adding copies, and the outputs stay readable as
  ``<dir>/*.parquet`` without the file sink's ``_spark_metadata`` log.
- ``emit_dns_batch`` records the highest committed batch id in a
  ``_FENCE`` json in the query's checkpoint dir after the renames; a
  batch the fence covers is a no-op, so replaying a committed batch
  sends and writes nothing. A crash between the first send and the
  fence replays the batch: syslog is at-least-once for that window,
  and at-most-once past the network.

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

import contextlib
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


def _schemas() -> dict[str, "pa.Schema"]:
    """The archive's and the quarantine's parquet columns."""
    import pyarrow as pa

    return {
        "archive": pa.schema(
            [
                ("requestId", pa.string()),
                ("record_idx", pa.int32()),
                ("line_no", pa.int32()),
                ("kind", pa.string()),
                ("line", pa.string()),
            ]
        ),
        "quarantine": pa.schema(
            [
                ("requestId", pa.string()),
                ("record_idx", pa.int32()),
                ("data", pa.string()),
                ("reject_reason", pa.string()),
            ]
        ),
    }


def _partition_pass(addr: tuple[str, int] | None, stages: dict[str, str]):
    """The ``mapInArrow`` function of one batch. A row with a ``line`` is
    an archive row and, when ``addr`` is set, a datagram; a row without
    one is a quarantine row. Each output in ``stages`` (``archive`` or
    ``quarantine`` -> stage dir) gets one parquet file per partition,
    opened on its first row, fed per Arrow batch and renamed from a
    temp name to ``part-<partition>.parquet`` when the partition ends,
    so a retried task replaces its earlier attempt's file. Yields one
    row of counts. Refers to no function of this package, so the Python
    workers need not import it."""
    import pyarrow as pa

    schemas = _schemas()

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        import pyarrow.compute as pc
        import pyarrow.parquet as pq
        from pyspark import TaskContext

        ctx = TaskContext.get()
        name = f"part-{ctx.partitionId():05d}.parquet"
        tmp = f"{name}.{ctx.attemptNumber()}.tmp"
        writers: dict[str, pq.ParquetWriter] = {}
        n = {"archive": 0, "quarantine": 0}
        skipped = 0
        with contextlib.ExitStack() as stack:
            sock = None
            if addr is not None:
                sock = stack.enter_context(socket.socket(socket.AF_INET, socket.SOCK_DGRAM))
            for batch in batches:
                has_line = pc.is_valid(batch.column("line"))
                parts = {"archive": batch.filter(has_line)}
                if sock is not None:
                    for line in parts["archive"].column("line").to_pylist():
                        datagram = f"<{SYSLOG_PRI_DAEMON_INFO}>{line}"
                        try:
                            sock.sendto(datagram.encode("utf-8", errors="replace"), addr)
                        except OSError:
                            skipped += 1
                if not stages:
                    continue
                parts["quarantine"] = batch.filter(pc.invert(has_line))
                for out, stage in stages.items():
                    rows = parts[out]
                    if rows.num_rows == 0:
                        continue
                    if out not in writers:
                        writers[out] = pq.ParquetWriter(os.path.join(stage, tmp), schemas[out])
                        stack.callback(writers[out].close)
                    writers[out].write_batch(rows.select(schemas[out].names).cast(schemas[out]))
                    n[out] += rows.num_rows
        for out in writers:
            os.replace(os.path.join(stages[out], tmp), os.path.join(stages[out], name))
        yield pa.RecordBatch.from_pydict(
            {"archive": [n["archive"]], "quarantine": [n["quarantine"]], "skipped": [skipped]}
        )

    return run


def _run_pass(rows: DataFrame, addr: tuple[str, int] | None, stages: dict[str, str]) -> dict[str, int]:
    counts = rows.mapInArrow(
        _partition_pass(addr, stages), "archive long, quarantine long, skipped long"
    ).collect()
    return {k: sum(r[k] for r in counts) for k in ("archive", "quarantine", "skipped")}


def send_syslog(lines: DataFrame, host: str, port: int) -> int:
    """Send each row's ``line`` as one syslog datagram to ``host:port``.

    Runs as one Spark job; each partition opens one socket. Returns the
    number of datagrams skipped because ``sendto`` failed.
    """
    return _run_pass(lines.select("line"), (host, port), {})["skipped"]


def emit_dns_batch(
    rows: DataFrame,
    batch_id: int,
    addr: tuple[str, int] | None,
    dirs: dict[str, str],
    fence_dir: str,
) -> int:
    """One micro-batch's sink work in one Spark job (module docstring):
    send the lines to ``addr`` (None: no syslog) and replace the batch's
    files in ``dirs`` (``archive`` and ``quarantine`` -> dir; empty: no
    files). ``rows`` carries ``line`` (NULL on quarantine rows) and the
    columns of both outputs. A batch with no rows for an output still
    leaves one schema-only file. The ``_FENCE`` in ``fence_dir`` records
    the batch last; a batch it already covers is a no-op. Returns the
    number of datagrams skipped."""
    import pyarrow.parquet as pq

    if batch_id <= read_fence(fence_dir)[0]:
        return 0
    stages = {out: os.path.join(path, f"_stage-{batch_id}") for out, path in dirs.items()}
    for stage in stages.values():
        shutil.rmtree(stage, ignore_errors=True)
        os.makedirs(stage)
    counts = _run_pass(rows, addr, stages)
    for out, path in dirs.items():
        if counts[out] == 0:
            empty = _schemas()[out].empty_table()
            pq.write_table(empty, os.path.join(stages[out], "part-00000.parquet"))
        _commit_stage(path, stages[out], batch_id)
    os.makedirs(fence_dir, exist_ok=True)
    _commit_fence(fence_dir, batch_id, None)
    return counts["skipped"]


def _commit_stage(path: str, stage: str, batch_id: int) -> None:
    """Replace ``<path>/part-<batch_id>-*.parquet`` with the staged
    files. A crash at any point leaves files the replay of the batch
    deletes or overwrites."""
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


#: The fenced table's commit record: {"folded_thru": N, "base": dir}
#: (base null for the DNS pipeline's fence, which names no table).
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


def _commit_fence(table_path: str, epoch: int, base: str | None) -> None:
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
