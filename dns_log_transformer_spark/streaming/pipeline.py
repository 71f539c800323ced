"""The reference's full data path as one Structured Streaming query.

Reference lifecycle (app/app.py:60-263): HTTP envelope -> jsonschema
validate -> per-record base64/JSON decode -> structural validate -> BIND9
format (1 -> 1+N explode) -> syslog UDP emit, with invalid data logged and
dropped.

Streaming rebuild: landing-dir text stream -> one ``foreachBatch`` query
(``dns_pipeline``, one checkpoint). Each micro-batch runs the batch
transforms (transforms/ is pure DataFrame -> DataFrame, so batch tests
pin semantics and the stream reuses them verbatim) into one row set: a
row per BIND9 line of each valid record, a row per invalid record with
its payload and ``reject_reason``. One Spark job then evaluates it once
and does all the sink work in one pass per partition
(``sinks.emit_dns_batch``):

- syslog: one datagram per line;
- archive and quarantine: flat parquet files named by batch id, staged
  and renamed into place, so a replayed batch replaces its own files.

A fence in the checkpoint dir makes a batch already committed a no-op,
so only a batch that crashed mid-send is sent twice. Since every output
reads the same single evaluation, the archive and syslog carry the same
``rand()`` client ids. The replayable file source plus those idempotent
writes give what checkpointing promises; the reference is at-most-once
(ack-before-processing, app/app.py:96-102).
"""

from __future__ import annotations

import contextlib
import logging
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from dns_log_transformer_spark.schemas import QUERY_TS_FORMAT
from dns_log_transformer_spark.streaming.sinks import FENCE, emit_dns_batch, require_local_path
from dns_log_transformer_spark.streaming.source import read_firehose_stream
from dns_log_transformer_spark.transforms import (
    bind9_lines,
    decode_records,
    explode_records,
    line_kind,
    parse_envelope,
    reject_reason,
    with_client_hex,
    with_validity,
)

logger = logging.getLogger(__name__)


def _batch_rows(raw: DataFrame, deterministic_ids: bool) -> DataFrame:
    """raw envelopes -> requestId, record_idx, data, reject_reason,
    line_no, line, kind: one row per BIND9 line of a valid record
    (``data`` and ``reject_reason`` NULL), one row per invalid record
    (``line_no``, ``line`` NULL)."""
    marked = with_validity(decode_records(explode_records(parse_envelope(raw))))
    seed = "record_idx" if deterministic_ids else None
    flat = with_client_hex(marked.select("*", "dns.*"), seed_col=seed)
    valid = F.col("_valid")
    # strict to_timestamp would raise on the invalid rows' timestamps
    ts = F.try_to_timestamp(F.col("query_timestamp"), F.lit(QUERY_TS_FORMAT))
    return flat.select(
        "requestId",
        "record_idx",
        F.when(~valid, F.col("data")).alias("data"),
        F.when(~valid, reject_reason(F.col("dns"), F.col("decoded"))).alias("reject_reason"),
        F.posexplode_outer(F.when(valid, bind9_lines(ts))).alias("line_no", "line"),
    ).withColumn("kind", line_kind(F.col("line_no")))


def build_streaming_lines(
    raw: DataFrame, deterministic_ids: bool = False
) -> tuple[DataFrame, DataFrame]:
    """raw envelopes (column ``value``) -> (bind9 lines: requestId,
    record_idx, line_no, kind, line; quarantine rows: requestId,
    record_idx, data, reject_reason).

    The two halves of the row set every micro-batch of
    ``start_pipeline`` sinks, usable on a batch or a streaming DataFrame
    (stateless narrow ops only).
    """
    rows = _batch_rows(raw, deterministic_ids)
    has_line = F.col("line").isNotNull()
    lines = rows.filter(has_line).select("requestId", "record_idx", "line_no", "kind", "line")
    quarantine = rows.filter(~has_line).select("requestId", "record_idx", "data", "reject_reason")
    return lines, quarantine


def _checkpoint_dir(work_dir: str) -> str:
    return os.path.join(work_dir, "checkpoints", "pipeline")


def batch_writer(
    work_dir: str, syslog_host: str | None, syslog_port: int, archive: bool, deterministic_ids: bool
):
    """The ``foreachBatch`` function of ``start_pipeline``: (batch of raw
    envelopes, batch id) -> syslog, archive and quarantine outputs, in
    one Spark job."""
    addr = None if syslog_host is None else (syslog_host, syslog_port)
    dirs = {}
    if archive:
        require_local_path(work_dir)
        dirs = {out: os.path.join(work_dir, out) for out in ("archive", "quarantine")}

    def write_batch(batch: DataFrame, batch_id: int) -> None:
        if addr is None and not dirs:
            return
        skipped = emit_dns_batch(
            _batch_rows(batch, deterministic_ids),
            batch_id,
            addr,
            dirs,
            _checkpoint_dir(work_dir),
        )
        if skipped:
            logger.warning("batch %d: %d syslog datagrams not sent", batch_id, skipped)

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
    checkpoint = _checkpoint_dir(work_dir)
    if not os.path.isdir(os.path.join(checkpoint, "offsets")):
        # no batch ever ran from this checkpoint: a fence found here
        # (left by a direct batch_writer call) would skip batch 0
        with contextlib.suppress(FileNotFoundError):
            os.remove(os.path.join(checkpoint, FENCE))
    writer = (
        read_firehose_stream(spark, landing_dir)
        .writeStream.foreachBatch(
            batch_writer(work_dir, syslog_host, syslog_port, archive, deterministic_ids)
        )
        .option("checkpointLocation", checkpoint)
        .queryName("dns_pipeline")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return [writer.start()]
