"""The one commit protocol of every streaming store, and the DNS
pipeline's per-micro-batch writers.

**Manifest.** A store is a directory whose ``_FENCE`` json is the last
commit::

    {"epoch": N, "tables": {table: {bucket: [data dir, ...]}}}

``table`` is a path under the root ("" for the root itself), ``bucket``
a hive-style ``<col>=<value>`` dir of it ("" for an unbucketed table)
and each data dir a ``v<N>`` (a fold table: ``_base_e<N>``) dir inside
``<root>/<table>/<bucket>``. A table is exactly the files in the dirs its
entry names. Readers (``read_table``, ``Store.read``) read those dirs
and nothing else: a plain parquet read of a store dir would also see
dead and uncommitted ones. The bucket column comes back from the
``<col>=<value>`` path, and a read of chosen buckets lists only theirs.

**Commit.** A batch (``Store``) reads the last commit and writes into
dirs named by the next epoch, which no manifest names yet:

- a keyed bucket (the CDC table, the vector directory and cells, the
  winnow spans and fpagg) gets its whole new content in one new dir,
  which replaces the bucket's list (``Store.replace``); a bucket left
  with no row drops out of the manifest;
- an append table (near-dup buckets, shingles and pairs, winnow anchors,
  monitor flags) gets the batch's rows in one new dir per bucket, added
  to the bucket's list (``Store.append``).

One ``os.replace`` of the manifest (``_commit_fence``) then commits
every table of the store at once, and a sweep removes the data dirs the
manifest no longer names. A crash before the replace leaves readers on
the old state and the new dirs unread; the batch's replay starts from
that state and rewrites them. A crash after it leaves dead dirs that the
next sweep removes. A reader that listed a dir before a commit whose
sweep removes it fails on the missing file instead of mixing two
states; its next read sees the new commit. Compaction
(``streaming.compact``) is a commit of the same kind. A store has one
writer at a time: its sink's batch callback, which Spark runs one batch
after another.

**Replay.** A replayed batch converges without an epoch id: a keyed
table merges latest-wins, so merging the same changes again gives the
same content, and an append table drops the ids it already holds
(``drop_seen_ids``), the same rule that drops a record the source
redelivers.

**Epoch fences** are the one-table case of the format. ``fold_epoch``
is the one way an aggregate table (the CMS grid, the per-source HLL
sketches, the Bloom words, the materialized view's base) changes: epoch
N merges its rows into the base the manifest names, writes a fresh
``_base_e<N>`` and commits with the manifest's epoch set to N. Counts
are not idempotent, so the epoch is the fence: an epoch at or below it
is a no-op and a replayed micro-batch is counted once. ``emit_dns_batch``
keeps the highest committed batch id the same way, in a manifest that
names no table.

**DNS pipeline.** ``streaming.pipeline`` runs one ``foreachBatch``
query; each micro-batch hands ``emit_dns_batch`` one row set (a row per
BIND9 line of a valid record, a row per invalid record) and it runs as
ONE Spark job: a ``mapInArrow`` pass over each partition does all of the
batch's sink work, then the driver commits.

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
- the fence in the query's checkpoint dir is committed after the
  renames; a batch it covers sends and writes nothing. A crash between
  the first send and the commit replays the batch: syslog is
  at-least-once for that window, and at-most-once past the network.
"""

from __future__ import annotations

import contextlib
import json
import os
import re
import shutil
import socket
from typing import Iterator

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from dns_log_transformer_spark.operators import cdc
from dns_log_transformer_spark.operators.corpus import hash_bucket

#: Hash buckets per keyed or append table, fixture-scaled: size it so a
#: typical batch touches a small fraction of them.
N_BUCKETS_DEFAULT = 16


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
    _commit_fence(fence_dir, batch_id, {})
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


#: The store's manifest (module docstring).
FENCE = "_FENCE"

#: The dirs a commit names, and the stage a bucketed write lands in
#: before its buckets move into place; the sweep removes the unnamed ones.
_DATA_DIR = re.compile(r"v\d+|_base_e\d+|_stage")


def read_manifest(root: str) -> dict:
    """The last commit of the store at ``root``: epoch -1 and no tables
    before the first."""
    try:
        with open(os.path.join(root, FENCE)) as f:
            return json.load(f)
    except FileNotFoundError:
        return {"epoch": -1, "tables": {}}


def _commit_fence(root: str, epoch: int, tables: dict) -> None:
    """THE commit of every store: one replace of its manifest."""
    tmp = os.path.join(root, FENCE + ".tmp")
    with open(tmp, "w") as f:
        json.dump({"epoch": epoch, "tables": tables}, f)
    os.replace(tmp, os.path.join(root, FENCE))


def _sweep(root: str, tables: dict) -> None:
    """Remove the data dirs of ``root``'s tables that ``tables`` does not
    name, and the bucket dirs that leaves empty."""
    for table, buckets in tables.items():
        path = os.path.join(root, table)
        for bucket in [""] + [e for e in _listdir(path) if "=" in e]:
            bucket_dir = os.path.join(path, bucket)
            for entry in _listdir(bucket_dir):
                if _DATA_DIR.fullmatch(entry) and entry not in buckets.get(bucket, []):
                    shutil.rmtree(os.path.join(bucket_dir, entry), ignore_errors=True)
            if bucket and not os.listdir(bucket_dir):
                os.rmdir(bucket_dir)


def _listdir(path: str) -> list[str]:
    return os.listdir(path) if os.path.isdir(path) else []


def _read(
    spark: SparkSession,
    root: str,
    tables: dict,
    table: str,
    buckets: list | None,
) -> DataFrame | None:
    """``table``'s rows in the dirs ``tables`` names, only ``buckets``'
    (bucket values) when given; None when that is no dir."""
    wanted = None if buckets is None else {str(b) for b in buckets}
    paths = [
        os.path.join(root, table, key, d)
        for key, dirs in sorted(tables.get(table, {}).items())
        if wanted is None or key.split("=", 1)[-1] in wanted
        for d in dirs
    ]
    if not paths:
        return None
    return spark.read.option("basePath", os.path.join(root, table)).parquet(*paths)


def locate(path: str) -> tuple[str, str]:
    """(store root, table) of ``path``: the nearest dir at or above it
    holding a manifest, and ``path`` relative to it ("" for the root).
    A table of an embedded store, such as the corpus monitor's
    ``neardup/``, so resolves to the enclosing store's manifest. With
    no manifest anywhere above, ``path`` itself with no table."""
    root, table = os.path.abspath(path), ""
    while not os.path.exists(os.path.join(root, FENCE)):
        parent = os.path.dirname(root)
        if parent == root:
            return path, ""
        root, table = parent, os.path.join(os.path.basename(root), table)
    return root, table.rstrip("/")


def read_table(
    spark: SparkSession, path: str, buckets: list | None = None
) -> DataFrame | None:
    """The committed rows of the table at ``path`` (``locate``), only
    ``buckets``' when given. None before the first commit holding
    any."""
    require_local_path(path)
    root, table = locate(path)
    return _read(spark, root, read_manifest(root)["tables"], table, buckets)


class Store:
    """One batch's writes to the store at ``root`` (module docstring):
    ``read`` sees the last commit, ``append`` and ``replace`` write into
    ``v<epoch>`` dirs, and ``commit`` makes them live at once."""

    def __init__(self, root: str):
        require_local_path(root)
        self.root = root
        manifest = read_manifest(root)
        self.epoch = manifest["epoch"] + 1
        self.committed = manifest["tables"]
        self.tables = json.loads(json.dumps(self.committed))

    def read(
        self, spark: SparkSession, table: str, buckets: list | None = None
    ) -> DataFrame | None:
        """``table`` as last committed, only ``buckets``' when given."""
        return _read(spark, self.root, self.committed, table, buckets)

    def _write(self, df: DataFrame, table: str, col: str | None) -> list[str]:
        """Write ``df`` into this epoch's dir of each ``col`` bucket it
        holds (of the table itself when ``col`` is None); the written
        bucket keys. A dir left by a crashed attempt is replaced."""
        name = f"v{self.epoch}"
        path = os.path.join(self.root, table)
        if col is None:
            df.write.mode("overwrite").parquet(os.path.join(path, name))
            return [""]
        stage = os.path.join(path, "_stage")
        df.write.mode("overwrite").partitionBy(col).parquet(stage)
        keys = sorted(e for e in os.listdir(stage) if e.startswith(f"{col}="))
        for key in keys:
            target = os.path.join(path, key, name)
            shutil.rmtree(target, ignore_errors=True)
            os.makedirs(os.path.dirname(target), exist_ok=True)
            os.rename(os.path.join(stage, key), target)
        shutil.rmtree(stage)
        return keys

    def append(self, df: DataFrame, table: str, col: str | None = None) -> None:
        """Add ``df``'s rows to ``table``: a new dir per bucket."""
        entries = self.tables.setdefault(table, {})
        for key in self._write(df, table, col):
            entries.setdefault(key, []).append(f"v{self.epoch}")

    def replace(
        self, df: DataFrame, table: str, col: str | None = None, buckets: list = ()
    ) -> None:
        """``df`` is the whole new content of the buckets it holds and of
        ``buckets`` (bucket values): each gets its new dir alone, or
        drops out of the manifest when ``df`` holds no row of it."""
        entries = self.tables.setdefault(table, {})
        for b in buckets:
            entries.pop(f"{col}={b}", None)
        for key in self._write(df, table, col):
            entries[key] = [f"v{self.epoch}"]

    def commit(self) -> None:
        os.makedirs(self.root, exist_ok=True)
        _commit_fence(self.root, self.epoch, self.tables)
        _sweep(self.root, self.tables)


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
    store: Store,
    table: str,
    key_col: str,
    version_col: str,
    op_col: str,
    delete_op: str,
) -> tuple[DataFrame, DataFrame | None]:
    """Latest-wins merge of a ``_kb``-carrying batch into the buckets
    of ``store``'s ``table`` it touches. Returns ``(merged, stored)``:
    ``merged`` is the touched buckets' new content; ``stored`` is their
    committed rows (None before the first commit), for a caller that
    needs the batch keys' previous state.

    Tombstones are kept: an incremental table that drops a delete
    forgets it, and a lower-versioned upsert replayed later would
    resurrect the key. The op string breaks (key, version) ties ('U'
    beats 'D'), so an epoch replay holding a same-version upsert and
    delete converges to the same table either way."""
    stored = store.read(batch.sparkSession, table, touched_buckets(batch))
    merged = cdc.upsert_latest(
        batch if stored is None else stored.unionByName(batch),
        [key_col, "_kb"],
        version_col,
        op_col,
        delete_op,
        keep_tombstones=True,
        tiebreak_cols=[op_col],
    )
    return merged, stored


def drop_seen_ids(
    batch: DataFrame, store: Store, table: str, id_col: str
) -> DataFrame:
    """``batch`` (carrying ``_kb``) minus the ids ``store``'s append
    table ``table`` already holds, read from ONLY the ``_kb`` buckets the
    batch touches: the rule that drops a redelivered record, and what
    makes a replayed batch converge."""
    seen = store.read(batch.sparkSession, table, touched_buckets(batch))
    if seen is None:
        return batch
    # checkpointed: every caller reads the result several times (the
    # emptiness check, the frames derived from it, its own append)
    return batch.join(
        F.broadcast(seen.select(id_col).distinct()), id_col, "left_anti"
    ).localCheckpoint()


def read_fence(table_path: str) -> tuple[int, str | None]:
    """(epoch, base dir) of a one-table store (a fold table, or the DNS
    pipeline's fence, which names no table); (-1, None) before the
    first commit."""
    manifest = read_manifest(table_path)
    base = manifest["tables"].get("", {}).get("", [None])[0]
    return manifest["epoch"], base


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
    commit, then sweep the old base. A no-op when the fence already
    covers ``epoch``, so a replay counts once. The fold never writes the
    dir it reads, so it needs no ``localCheckpoint``."""
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
    tables = {"": {"": [new_base]}}
    _commit_fence(table_path, epoch, tables)
    _sweep(table_path, tables)
