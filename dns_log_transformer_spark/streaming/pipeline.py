"""The reference's full data path as one Structured Streaming query.

Reference lifecycle (app/app.py:60-263): HTTP envelope -> jsonschema
validate -> per-record base64/JSON decode -> structural validate -> BIND9
format (1 -> 1+N explode) -> syslog UDP emit, with invalid data logged and
dropped.

Streaming rebuild: landing-dir text stream -> one ``foreachBatch`` query
(``dns_pipeline``, one checkpoint). Each micro-batch is parsed and decoded
ONCE by the same batch transforms (transforms/ is pure DataFrame ->
DataFrame, so batch tests pin semantics and the stream reuses them
verbatim); the decoded batch is persisted, split into valid lines and
quarantine, and written to three outputs (streaming/sinks.py):

- archive and quarantine: flat parquet files named by batch id —
  exactly-once, since a replayed batch replaces its own files;
- syslog: one datagram per line — at-least-once, since a replayed batch
  sends its lines again.

The replayable file source plus those idempotent writes give what
checkpointing promises; the reference is at-most-once
(ack-before-processing, app/app.py:96-102).
"""

from __future__ import annotations

import logging
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from dns_log_transformer_spark.streaming.sinks import (
    require_local_path,
    send_syslog,
    write_batch_files,
)
from dns_log_transformer_spark.streaming.source import read_firehose_stream
from dns_log_transformer_spark.transforms import (
    decode_records,
    explode_records,
    parse_envelope,
    split_valid_invalid,
    to_bind9_lines,
    with_client_hex,
)

logger = logging.getLogger(__name__)


def _decode(raw: DataFrame) -> DataFrame:
    return decode_records(explode_records(parse_envelope(raw)))


def _split_and_format(decoded: DataFrame, deterministic_ids: bool) -> tuple[DataFrame, DataFrame]:
    valid, quarantine = split_valid_invalid(decoded)
    seed = "record_idx" if deterministic_ids else None
    lines = to_bind9_lines(with_client_hex(valid, seed_col=seed), keep=["requestId", "record_idx"])
    return lines, quarantine.select("requestId", "record_idx", "data", "reject_reason")


def build_streaming_lines(
    raw: DataFrame, deterministic_ids: bool = False
) -> tuple[DataFrame, DataFrame]:
    """raw envelopes (column ``value``) -> (bind9 lines, quarantine rows:
    requestId, record_idx, data, reject_reason).

    The composition every micro-batch of ``start_pipeline`` runs, usable
    on a batch or a streaming DataFrame (stateless narrow ops only).
    """
    return _split_and_format(_decode(raw), deterministic_ids)


def batch_writer(
    work_dir: str, syslog_host: str | None, syslog_port: int, archive: bool, deterministic_ids: bool
):
    """The ``foreachBatch`` function of ``start_pipeline``: (batch of raw
    envelopes, batch id) -> archive, quarantine and syslog outputs."""
    archive_dir = os.path.join(work_dir, "archive")
    quarantine_dir = os.path.join(work_dir, "quarantine")
    if archive:
        require_local_path(work_dir)

    def write_batch(batch: DataFrame, batch_id: int) -> None:
        # the archive write and the syslog send each evaluate ``lines``;
        # over the persisted decode both read the same partitions in the
        # same order, so rand()-drawn client ids agree between them
        decoded = _decode(batch).persist()
        try:
            lines, quarantine = _split_and_format(decoded, deterministic_ids)
            if archive:
                write_batch_files(lines, archive_dir, batch_id)
                write_batch_files(quarantine, quarantine_dir, batch_id)
            if syslog_host is not None:
                skipped = send_syslog(lines, syslog_host, syslog_port)
                if skipped:
                    logger.warning("batch %d: %d syslog datagrams not sent", batch_id, skipped)
        finally:
            decoded.unpersist()

    return write_batch


def start_pipeline(
    spark: SparkSession,
    landing_dir: str,
    work_dir: str,
    syslog_host: str | None = None,
    syslog_port: int = 514,
    archive: bool = True,
    available_now: bool = False,
    deterministic_ids: bool = False,
) -> list[StreamingQuery]:
    """Start the ``dns_pipeline`` query: landing dir -> transforms ->
    syslog (when ``syslog_host`` is set) and, when ``archive``, the
    parquet archive and quarantine.

    work_dir gets checkpoints/pipeline, archive/ and quarantine/.
    available_now=True drains everything currently in the landing dir
    then stops (tests, backfill). Returns the one query in a list.
    """
    writer = (
        read_firehose_stream(spark, landing_dir)
        .writeStream.foreachBatch(
            batch_writer(work_dir, syslog_host, syslog_port, archive, deterministic_ids)
        )
        .option("checkpointLocation", os.path.join(work_dir, "checkpoints", "pipeline"))
        .queryName("dns_pipeline")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return [writer.start()]
