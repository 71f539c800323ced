"""Small-file compaction for the manifest stores the foreachBatch sinks
keep (cdc, vector, near-dup, winnow, corpus monitor).

Why it exists, with numbers: every micro-batch appends or rewrites
files inside the buckets it touches, so a long-lived store accumulates
one-file-per-batch per touched bucket. The r11 two-decade winnow curve
(PLANS.md, "Sink two-decade curves") measured exactly this as the
sinks' only per-batch growth term: an identical 500-doc probe drifted
9.44 -> 14.21 s as the index grew 0.5k -> 50k docs across ~11 batches,
and a control rebuild with 4x the partitions (4x the files, same rows)
made the probe SLOWER — file/stage overhead, not row volume.
Compaction rewrites each bucket to one file, resetting that term;
per-batch cost then tracks batch size again.

Compaction is a commit like a batch's (``streaming.sinks``): it reads
each bucket from the dirs the manifest names, writes the bucket's rows
as one file into a new ``v<N>`` dir, and one replace of the manifest
makes every new dir live; the sweep then removes the old ones. A crash
at any point leaves readers on the old dirs. Like a batch it must be
the store's only writer: run it from the sink's batch callback (the
sinks' ``compact_max_files``) or with the sink stopped. Fold tables
(``_base_e<N>``) are left alone: every fold rewrites them whole, and
their epoch is a fence.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from dns_log_transformer_spark.streaming.sinks import (
    Store,
    locate,
    read_manifest,
    require_local_path,
)


def _tables(table_path: str) -> tuple[str, dict[str, str], dict]:
    """(store root, {name relative to ``table_path`` ('.' = itself):
    table}, the committed manifest's tables) for the compactable tables
    at or under ``table_path``."""
    root, prefix = locate(table_path)
    tables = read_manifest(root)["tables"]
    names = {}
    for table, buckets in tables.items():
        if prefix and table != prefix and not table.startswith(prefix + "/"):
            continue
        dirs = [d for ds in buckets.values() for d in ds]
        if dirs and not any(d.startswith("_base_e") for d in dirs):
            names[table[len(prefix) :].lstrip("/") or "."] = table
    return root, names, tables


def _worst(root: str, table: str, buckets: dict) -> int:
    """The data-file count of ``table``'s fullest bucket."""
    return max(
        sum(
            f.endswith(".parquet")
            for d in dirs
            for f in os.listdir(os.path.join(root, table, bucket, d))
        )
        for bucket, dirs in buckets.items()
    )


def max_files_per_partition(table_path: str) -> int:
    """The worst bucket's data-file count over the tables at or under
    ``table_path`` (0 with none). A manifest read and listdirs — cheap
    enough for the trigger check to run every batch."""
    root, names, tables = _tables(table_path)
    return max((_worst(root, t, tables[t]) for t in names.values()), default=0)


def compaction_due(table_path: str, max_files: int = 16) -> list[str]:
    """Tables (relative path; '.' = ``table_path`` itself) whose worst
    bucket accumulated MORE than ``max_files`` data files — the trigger
    predicate of :func:`maybe_compact`, exposed separately so an ops
    runbook can monitor drift without compacting."""
    root, names, tables = _tables(table_path)
    return sorted(
        rel for rel, t in names.items() if _worst(root, t, tables[t]) > max_files
    )


def _compact(spark: SparkSession, table_path: str, rels: list[str]) -> dict[str, int]:
    """Rewrite every bucket of the ``rels`` tables to one file, in one
    commit. Returns {table: buckets written}."""
    if not rels:
        return {}
    root, names, _ = _tables(table_path)
    store = Store(root)
    out = {}
    for rel in rels:
        table = names[rel]
        buckets = store.committed[table]
        df = store.read(spark, table)
        col = next(iter(buckets)).split("=", 1)[0] or None
        if col is None:
            store.replace(df.coalesce(1), table)
        else:
            values = [b.split("=", 1)[1] for b in buckets]
            # repartition BY the bucket column: each bucket lands in one
            # task, so its new dir holds one file
            store.replace(df.repartition(F.col(col)), table, col, values)
        out[rel] = len(store.tables[table])
    store.commit()
    return out


def maybe_compact(
    spark: SparkSession, table_path: str, max_files: int = 16
) -> dict[str, int]:
    """The compaction TRIGGER policy (VERDICT r11 #3): compact exactly
    the tables whose per-bucket file count crossed ``max_files``; a
    manifest read otherwise. Returns {table: buckets compacted} ({} =
    nothing was due).

    Why a file-count threshold: the r11 two-decade curves proved file
    ACCUMULATION is these sinks' only per-batch growth term (an
    identical winnow probe drifted 9.44 -> 14.21 s as ~11 batches
    accumulated ~25 files/partition; compacting back to 1 file/
    partition returned it to 1.83 s), so the drift is bounded by
    max_files directly: steady-state probe cost ~ the 1-file cost
    times a small constant, and compaction amortizes to one rewrite
    every ~max_files batches per touched bucket.

    WHERE to call it: the end of the sink's ``foreachBatch`` callback
    (after its commit), where the sink is the store's only writer by
    construction; or an ops cadence that monitors
    :func:`compaction_due` and runs :func:`compact_store` with the sink
    stopped."""
    return _compact(spark, table_path, compaction_due(table_path, max_files))


def compact_store(spark: SparkSession, table_path: str) -> dict[str, int]:
    """Compact every table of a sink's store (e.g. the winnow sink's
    anchors/ + fpagg/ + spans/, or the near-dup sink's band, shingle and
    pair tables; '.' for a store that is one table, like cdc's).
    Returns {relative path: buckets compacted}."""
    require_local_path(table_path)
    return _compact(spark, table_path, sorted(_tables(table_path)[1]))
