"""Offline small-file compaction for the hash-bucketed parquet stores
the foreachBatch sinks maintain (cdc/vector/near-dup/winnow directory,
shingle, anchor, span, pair tables).

Why it exists, with numbers: every micro-batch appends or rewrites
files inside the partitions it touches, so a long-lived store
accumulates one-file-per-batch per touched partition. The r11
two-decade winnow curve (PLANS.md, "Sink two-decade curves")
measured exactly this as the sinks' only per-batch growth term: an
identical 500-doc probe drifted 9.44 -> 14.21 s as the index grew
0.5k -> 50k docs across ~11 batches, and a control rebuild with 4x
the partitions (4x the files, same rows) made the probe SLOWER —
file/stage overhead, not row volume. Compaction rewrites each
partition to one file, resetting that term; per-batch cost then
tracks batch size again.

Contract: **run with the sink quiesced.** The commit is two directory
renames (old store -> .old, compacted -> store), not a transaction — a
concurrent merge_batch could land an epoch between them and be lost,
and a concurrent reader can see the store briefly missing. This is the
same honesty caveat every sink in this package documents: parquet
directory swaps are not atomic; a transactional table format (Iceberg/
Delta) is the production wrapper that removes the quiesce requirement.
A crash between the renames leaves `<store>.old` intact next to a
complete compacted store — recovery is one rename, and the function
refuses to run while a leftover `.old` exists rather than guessing.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from dns_log_transformer_spark.streaming.sinks import require_local_path


def _partition_col(table_path: str) -> str | None:
    """The single hive-style partition column of a local parquet dir
    (None when the dir is missing, empty, or unpartitioned)."""
    if not os.path.isdir(table_path):
        return None
    cols = {
        e.split("=", 1)[0]
        for e in os.listdir(table_path)
        if "=" in e and os.path.isdir(os.path.join(table_path, e))
    }
    if len(cols) != 1:
        return None
    return cols.pop()


def compact_partitioned_table(spark: SparkSession, table_path: str) -> int:
    """Rewrite every partition of a hash-bucketed store to ONE file.
    Returns the number of partitions compacted (0 = nothing to do).
    Quiesce the sink first — see the module docstring for the crash
    window and recovery."""
    require_local_path(table_path)
    col = _partition_col(table_path)
    if col is None:
        return 0
    old = table_path.rstrip("/") + ".old"
    if os.path.exists(old):
        # explicit raise, not assert: an assert is compiled out under
        # `python -O`, silently re-running compaction next to a crashed
        # one — the exact guessing this guard exists to refuse (ADVICE r11)
        raise FileExistsError(
            f"leftover {old} from a crashed compaction — recover it "
            "(rename back or delete) before compacting again"
        )
    tmp = table_path.rstrip("/") + ".compact"
    shutil.rmtree(tmp, ignore_errors=True)
    df = spark.read.parquet(table_path)
    # repartition BY the partition column: each value lands in exactly
    # one task, and partitionBy splits per value within the task -> one
    # file per partition directory
    (
        df.repartition(F.col(col))
        .write.mode("overwrite")
        .partitionBy(col)
        .parquet(tmp)
    )
    n = sum(1 for e in os.listdir(tmp) if e.startswith(f"{col}="))
    # carry over every non-partition entry the store also keeps (the mv
    # sink's _FENCE json and _base_eN fold dirs live NEXT to its
    # _epoch= partials; Spark's read ignores underscore entries, so the
    # rewrite above does not contain them and a bare swap would drop
    # them). COPY into tmp BEFORE the swap (ADVICE r11): the old
    # rename-out-of-live order opened a window where a crash left the
    # LIVE store fence-less with no `.old` marker — outside both the
    # one-rename recovery story and the leftover-.old refusal guard.
    # With copy-then-swap, every crash point keeps a complete store: a
    # crash mid-copy leaves the live store untouched (rerun compacts
    # afresh; tmp is cleared on entry), and a crash between the renames
    # leaves `.old` complete — recovery stays one rename.
    for e in os.listdir(table_path):
        if e.startswith(f"{col}=") or e == "_SUCCESS" or e.endswith(".crc"):
            continue
        src = os.path.join(table_path, e)
        dst = os.path.join(tmp, e)
        if os.path.isdir(src):
            shutil.copytree(src, dst)
        else:
            shutil.copy2(src, dst)
    os.rename(table_path, old)
    os.rename(tmp, table_path)  # crash between these: recover from .old
    shutil.rmtree(old, ignore_errors=True)
    # drop the session's cached file listings for the swapped path: a
    # later read served from the shared FileStatusCache would list the
    # pre-compaction files and fail with FILE_NOT_EXIST (surfaced by
    # the r14 monitor flags trigger, whose store is re-read every batch)
    spark.catalog.refreshByPath(table_path)
    return n


def max_files_per_partition(table_path: str) -> int:
    """The worst partition's data-file count in one partitioned table
    (0 when missing/unpartitioned). Pure listdir arithmetic — the
    trigger check must stay cheap enough to run every batch."""
    col = _partition_col(table_path)
    if col is None:
        return 0
    worst = 0
    for e in os.listdir(table_path):
        part = os.path.join(table_path, e)
        if not (e.startswith(f"{col}=") and os.path.isdir(part)):
            continue
        n = sum(
            1
            for f in os.listdir(part)
            if f.endswith(".parquet") or f.endswith(".snappy.parquet")
        )
        worst = max(worst, n)
    return worst


def compaction_due(table_path: str, max_files: int = 16) -> list[str]:
    """Sub-tables (relative path; '.' = the root itself) whose worst
    partition accumulated MORE than ``max_files`` data files — the
    trigger predicate of :func:`maybe_compact`, exposed separately so
    an ops runbook can monitor drift without compacting."""
    if _partition_col(table_path) is not None:
        return ["."] if max_files_per_partition(table_path) > max_files else []
    out = []
    for e in sorted(os.listdir(table_path)) if os.path.isdir(table_path) else []:
        sub = os.path.join(table_path, e)
        if os.path.isdir(sub) and max_files_per_partition(sub) > max_files:
            out.append(e)
    return out


def maybe_compact(
    spark: SparkSession, table_path: str, max_files: int = 16
) -> dict[str, int]:
    """The compaction TRIGGER policy (VERDICT r11 #3): compact exactly
    the sub-tables whose per-partition file count crossed ``max_files``;
    a cheap listdir no-op otherwise. Returns {sub-table: partitions
    compacted} ({} = nothing was due).

    Why a file-count threshold: the r11 two-decade curves proved file
    ACCUMULATION is these sinks' only per-batch growth term (an
    identical winnow probe drifted 9.44 -> 14.21 s as ~11 batches
    accumulated ~25 files/partition; compacting back to 1 file/
    partition returned it to 1.83 s), so the drift is bounded by
    max_files directly: steady-state probe cost ~ the 1-file cost
    times a small constant, and compaction amortizes to one rewrite
    every ~max_files batches per touched partition.

    WHERE to call it — the safety contract is the caller's:
    - end of the sink's ``foreachBatch`` callback (after its merge
      lands): safe from the writer side — foreachBatch serializes
      batches, so the sink is quiesced by construction between its own
      batches. Concurrent READERS still see the store briefly missing
      during the swap (module docstring); hold live readers off or
      accept a retry, exactly as for offline compaction.
    - or an ops cadence: monitor :func:`compaction_due` and run
      :func:`compact_store` at a quiesce window; max_files then acts
      as the probe-drift SLO knob.
    """
    due = compaction_due(table_path, max_files)
    if not due:
        return {}
    out: dict[str, int] = {}
    for rel in due:
        sub = table_path if rel == "." else os.path.join(table_path, rel)
        out[rel] = compact_partitioned_table(spark, sub)
    return out


def compact_store(spark: SparkSession, table_path: str) -> dict[str, int]:
    """Compact every partitioned sub-table under a sink's store root
    (e.g. the winnow sink's anchors/ + fpagg/ + spans/, or the near-dup
    sink's shingle/band/pair tables), plus the root itself when it is
    directly partitioned (cdc/vector stores). Returns
    {relative path: partitions compacted}."""
    require_local_path(table_path)
    out: dict[str, int] = {}
    if _partition_col(table_path) is not None:
        out["."] = compact_partitioned_table(spark, table_path)
        return out
    for e in sorted(os.listdir(table_path)) if os.path.isdir(table_path) else []:
        sub = os.path.join(table_path, e)
        if os.path.isdir(sub) and _partition_col(sub) is not None:
            out[e] = compact_partitioned_table(spark, sub)
    return out
