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
"""

from __future__ import annotations

import os
import shutil
import socket
from typing import Iterator

from pyspark.sql import DataFrame

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
