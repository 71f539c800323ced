"""Streaming semantics tests (SURVEY.md §5.4).

End-to-end: landing-dir files -> streaming pipeline -> parquet archive +
quarantine + live UDP syslog collector; results must match the batch
transforms on the same payloads (one code path, two execution modes).

Windowed state: watermark late-drop, session windows, and
dropDuplicatesWithinWatermark, each driven with explicit micro-batch
boundaries (write file -> processAllAvailable) so watermark advancement
is deterministic.
"""

from __future__ import annotations

import json
import os
import socket
import threading
import time

import pytest
from pyspark.sql import functions as F

from dns_log_transformer_spark.streaming import (
    build_streaming_lines,
    dedup_within_watermark,
    read_events_stream,
    session_stats,
    start_pipeline,
    tumbling_counts,
)
from tests.test_transforms import envelope_json, expected_bind9_lines, make_record


class UdpCollector:
    """Background UDP listener standing in for the syslog collector
    (reference target: hard-coded 172.31.1.18:514, app/app.py:22)."""

    def __init__(self):
        self.sock = socket.socket(socket.AF_INET, socket.SOCK_DGRAM)
        self.sock.bind(("127.0.0.1", 0))
        self.sock.settimeout(0.5)
        self.port = self.sock.getsockname()[1]
        self.datagrams: list[bytes] = []
        self._stop = threading.Event()
        self.thread = threading.Thread(target=self._run, daemon=True)
        self.thread.start()

    def _run(self):
        while not self._stop.is_set():
            try:
                data, _ = self.sock.recvfrom(65536)
                self.datagrams.append(data)
            except socket.timeout:
                continue

    def stop(self):
        self._stop.set()
        self.thread.join()
        self.sock.close()


def test_pipeline_end_to_end(spark, tmp_path):
    landing = tmp_path / "landing"
    landing.mkdir()
    work = str(tmp_path / "work")

    good = make_record()
    bad_ts = make_record(query_timestamp="not-a-timestamp")
    (landing / "b1.json").write_text(envelope_json([good], request_id="req-1") + "\n")
    (landing / "b2.json").write_text(
        envelope_json([bad_ts], request_id="req-2") + "\n"
    )

    collector = UdpCollector()
    try:
        queries = start_pipeline(
            spark,
            str(landing),
            work,
            syslog_host="127.0.0.1",
            syslog_port=collector.port,
            available_now=True,
            deterministic_ids=True,
        )
        for q in queries:
            q.awaitTermination(timeout=120)
    finally:
        collector.stop()

    archived = spark.read.parquet(os.path.join(work, "archive"))
    rows = archived.orderBy("line_no").collect()
    # deterministic_ids: client hex derives from record_idx (= 0)
    assert [r["line"] for r in rows] == expected_bind9_lines(good, "@0x000000000000")

    quarantined = spark.read.parquet(os.path.join(work, "quarantine")).collect()
    assert len(quarantined) == 1
    assert quarantined[0]["requestId"] == "req-2"
    assert quarantined[0]["reject_reason"] == "bad_query_timestamp"

    # syslog sink: one datagram per line, RFC3164 PRI daemon.info
    payloads = sorted(d.decode() for d in collector.datagrams)
    assert len(payloads) == 2
    assert all(p.startswith("<30>") for p in payloads)
    assert {p[4:] for p in payloads} == {r["line"] for r in rows}

    # the archive is flat files: DuckDB and other readers glob them
    import duckdb

    con = duckdb.connect()
    try:
        flat = con.execute(
            f"SELECT line FROM read_parquet('{work}/archive/*.parquet') ORDER BY line_no"
        ).fetchall()
    finally:
        con.close()
    assert [r[0] for r in flat] == [r["line"] for r in rows]


def test_pipeline_batch_replay_writes_once(spark, tmp_path):
    """A batch replayed after a crash between its writes and the checkpoint
    commit replaces its own archive and quarantine files rather than
    adding copies, leaves no staging dir, and keeps other batches' files."""
    from dns_log_transformer_spark.streaming.pipeline import batch_writer

    work = str(tmp_path / "work")
    archive, quarantine = os.path.join(work, "archive"), os.path.join(work, "quarantine")
    bad = make_record(query_timestamp="bad")
    raw = spark.createDataFrame(
        [(envelope_json([make_record(), bad], request_id="r0"),)], ["value"]
    )
    write = batch_writer(work, None, 514, archive=True, deterministic_ids=True)
    write(raw, 0)
    write(raw, 0)
    later = spark.createDataFrame(
        [(envelope_json([make_record()], request_id="r1"),)], ["value"]
    )
    write(later, 1)

    lines = spark.read.parquet(archive).collect()
    assert sorted((r["requestId"], r["record_idx"], r["line_no"]) for r in lines) == [
        ("r0", 0, 0),
        ("r0", 0, 1),
        ("r1", 0, 0),
        ("r1", 0, 1),
    ]
    rejects = spark.read.parquet(quarantine).collect()
    assert [(r["requestId"], r["record_idx"], r["reject_reason"]) for r in rejects] == [
        ("r0", 1, "bad_query_timestamp")
    ]
    for d in (archive, quarantine):
        assert not [n for n in os.listdir(d) if n.startswith("_")]


def test_syslog_skips_oversize_datagram(spark, tmp_path, caplog):
    """A line too long for one UDP datagram is skipped and counted; the
    other lines still arrive, the pipeline query does not fail and the
    batch logs the skip count."""
    import logging

    from dns_log_transformer_spark.streaming.sinks import send_syslog

    caplog.set_level(
        logging.WARNING, logger="dns_log_transformer_spark.streaming.pipeline"
    )

    landing = tmp_path / "landing"
    landing.mkdir()
    work = str(tmp_path / "work")
    huge = make_record(query_name="a" * 70_000 + ".")
    normal = make_record(query_name="ok.example.com.")
    (landing / "b1.json").write_text(
        envelope_json([huge, normal], request_id="req-big") + "\n"
    )
    want = ["<30>" + ln for ln in expected_bind9_lines(normal, "@0x000000000001")]

    collector = UdpCollector()
    try:
        raw = spark.read.text(str(landing))
        lines, _ = build_streaming_lines(raw, deterministic_ids=True)
        # query line and reply line both carry the oversize name
        assert send_syslog(lines, "127.0.0.1", collector.port) == 2
        (q,) = start_pipeline(
            spark,
            str(landing),
            work,
            syslog_host="127.0.0.1",
            syslog_port=collector.port,
            available_now=True,
            deterministic_ids=True,
        )
        assert q.awaitTermination(timeout=120)
        assert q.exception() is None
        deadline = time.monotonic() + 10
        while len(collector.datagrams) < 2 * len(want) and time.monotonic() < deadline:
            time.sleep(0.1)
    finally:
        collector.stop()

    # once from the direct send, once from the pipeline
    assert sorted(d.decode() for d in collector.datagrams) == sorted(want * 2)
    assert spark.read.parquet(os.path.join(work, "archive")).count() == 4
    assert "batch 0: 2 syslog datagrams not sent" in caplog.text


ARCHIVE_DTYPES = [
    ("requestId", "string"),
    ("record_idx", "int"),
    ("line_no", "int"),
    ("kind", "string"),
    ("line", "string"),
]
QUARANTINE_DTYPES = [
    ("requestId", "string"),
    ("record_idx", "int"),
    ("data", "string"),
    ("reject_reason", "string"),
]


def _wait_for(collector: UdpCollector, n: int, timeout: float = 10) -> None:
    deadline = time.monotonic() + timeout
    while len(collector.datagrams) < n and time.monotonic() < deadline:
        time.sleep(0.05)
    time.sleep(0.2)  # let stragglers, if any, arrive too


def _mixed_batch(spark, request_id: str = "r0"):
    """One envelope: two valid records (2 and 3 lines) and one poisoned."""
    recs = [
        make_record(query_name="a.example.com."),
        make_record(
            query_name="b.example.com.",
            answers=[{"Rdata": "1.2.3.4", "Type": "A"}, {"Rdata": "5.6.7.8", "Type": "A"}],
        ),
        make_record(query_timestamp="bad"),
    ]
    return spark.createDataFrame([(envelope_json(recs, request_id=request_id),)], ["value"])


def test_pipeline_batch_is_one_spark_job(spark, tmp_path):
    """A micro-batch with syslog, archive and quarantine runs one Spark
    job, and archive and syslog carry the same rand() client ids."""
    from dns_log_transformer_spark.streaming.pipeline import batch_writer

    work = str(tmp_path / "work")
    sc = spark.sparkContext
    collector = UdpCollector()
    try:
        write = batch_writer(work, "127.0.0.1", collector.port, archive=True, deterministic_ids=False)
        raw = _mixed_batch(spark)
        group = f"one-job-{os.getpid()}"
        sc.setJobGroup(group, "dns batch")
        try:
            write(raw, 0)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
        _wait_for(collector, 5)
    finally:
        collector.stop()
    archived = spark.read.parquet(os.path.join(work, "archive")).collect()
    assert len(archived) == 5
    assert sorted(d.decode()[4:] for d in collector.datagrams) == sorted(r["line"] for r in archived)


def test_pipeline_output_schemas(spark, tmp_path):
    """Archive and quarantine keep their column names and types; a clean
    batch still leaves one readable schema-only quarantine file."""
    from dns_log_transformer_spark.streaming.pipeline import batch_writer

    work = str(tmp_path / "work")
    archive, quarantine = os.path.join(work, "archive"), os.path.join(work, "quarantine")
    write = batch_writer(work, None, 514, archive=True, deterministic_ids=True)
    write(_mixed_batch(spark), 0)
    assert spark.read.parquet(archive).dtypes == ARCHIVE_DTYPES
    rejects = spark.read.parquet(quarantine)
    assert rejects.dtypes == QUARANTINE_DTYPES
    assert [(r["record_idx"], r["reject_reason"]) for r in rejects.collect()] == [
        (2, "bad_query_timestamp")
    ]

    clean = spark.createDataFrame([(envelope_json([make_record()], request_id="r1"),)], ["value"])
    write(clean, 1)
    assert sorted(os.listdir(quarantine)) == ["part-0-0.parquet", "part-1-0.parquet"]
    only = spark.read.parquet(os.path.join(quarantine, "part-1-0.parquet"))
    assert only.dtypes == QUARANTINE_DTYPES
    assert only.count() == 0


def test_pipeline_archive_only_and_syslog_only(spark, tmp_path):
    """syslog_host=None sends nothing; archive=False writes no files."""
    from dns_log_transformer_spark.streaming.pipeline import batch_writer

    collector = UdpCollector()
    try:
        archive_only = str(tmp_path / "archive_only")
        batch_writer(archive_only, None, collector.port, archive=True, deterministic_ids=True)(
            _mixed_batch(spark), 0
        )
        assert spark.read.parquet(os.path.join(archive_only, "archive")).count() == 5
        _wait_for(collector, 1, timeout=1)
        assert collector.datagrams == []

        syslog_only = str(tmp_path / "syslog_only")
        batch_writer(syslog_only, "127.0.0.1", collector.port, archive=False, deterministic_ids=True)(
            _mixed_batch(spark), 0
        )
        _wait_for(collector, 5)
    finally:
        collector.stop()
    assert len(collector.datagrams) == 5
    for name in ("archive", "quarantine"):
        assert not os.path.exists(os.path.join(syslog_only, name))


def test_pipeline_replayed_batch_is_a_noop(spark, tmp_path):
    """A batch the sink already committed sends no datagram again and
    rewrites no file. The fence lives in the query's checkpoint dir, so
    deleting the checkpoint resets it and batch 0 runs again."""
    import shutil

    from dns_log_transformer_spark.streaming.pipeline import batch_writer

    work = str(tmp_path / "work")
    archive = os.path.join(work, "archive")
    collector = UdpCollector()
    try:
        write = batch_writer(work, "127.0.0.1", collector.port, archive=True, deterministic_ids=True)
        raw = _mixed_batch(spark)
        write(raw, 0)
        _wait_for(collector, 5)
        assert len(collector.datagrams) == 5
        stamps = {n: os.stat(os.path.join(archive, n)).st_mtime_ns for n in os.listdir(archive)}

        write(raw, 0)
        _wait_for(collector, 6, timeout=1)
        assert len(collector.datagrams) == 5
        assert {n: os.stat(os.path.join(archive, n)).st_mtime_ns for n in os.listdir(archive)} == stamps

        shutil.rmtree(os.path.join(work, "checkpoints"))
        write(raw, 0)
        _wait_for(collector, 10)
    finally:
        collector.stop()
    assert len(collector.datagrams) == 10
    assert spark.read.parquet(archive).count() == 5


def test_pipeline_start_drops_fence_of_a_checkpoint_without_batches(spark, tmp_path):
    """A fence left by a direct batch_writer call in a checkpoint dir
    Spark never ran a batch from does not make the query skip batch 0."""
    from dns_log_transformer_spark.streaming.pipeline import batch_writer

    landing = tmp_path / "landing"
    landing.mkdir()
    work = str(tmp_path / "work")
    batch_writer(work, None, 514, archive=True, deterministic_ids=True)(_mixed_batch(spark, "direct"), 0)
    (landing / "b1.json").write_text(envelope_json([make_record()], request_id="streamed") + "\n")
    (q,) = start_pipeline(spark, str(landing), work, available_now=True, deterministic_ids=True)
    assert q.awaitTermination(timeout=120)
    got = {r["requestId"] for r in spark.read.parquet(os.path.join(work, "archive")).collect()}
    assert got == {"streamed"}


def _write_events(path, name, rows):
    with open(os.path.join(path, name), "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


def _ev(event_id, ts, user_id=1, event_type="click", value=1.0):
    return {
        "event_id": event_id,
        "ts": ts,
        "user_id": user_id,
        "event_type": event_type,
        "value": value,
        "props": "{}",
    }


def _start_memory(df, name, mode="append"):
    return (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .start()
    )


def test_tumbling_window_and_late_drop(spark, tmp_path):
    src = tmp_path / "events"
    src.mkdir()
    stream = read_events_stream(spark, str(src))
    agg = tumbling_counts(stream, window_len="5 minutes", watermark="10 minutes")
    q = _start_memory(agg, "tumbling_test")
    try:
        _write_events(
            src,
            "f1.json",
            [
                _ev(1, "2024-01-01T00:01:00Z"),
                _ev(2, "2024-01-01T00:02:00Z"),
                _ev(3, "2024-01-01T00:07:00Z"),
            ],
        )
        q.processAllAvailable()  # watermark -> 00:07 - 10m (negative: nothing closes)

        # advance event time far enough to close both earlier windows...
        _write_events(src, "f2.json", [_ev(4, "2024-01-01T01:00:00Z")])
        q.processAllAvailable()  # watermark -> 00:50

        # ...then prove a row older than the watermark is dropped
        _write_events(src, "f3.json", [_ev(5, "2024-01-01T00:03:00Z")])
        q.processAllAvailable()
        _write_events(src, "f4.json", [_ev(6, "2024-01-01T02:00:00Z")])
        q.processAllAvailable()  # flush: emits the 01:00 window, not the late row
    finally:
        q.stop()

    out = {
        (str(r["window_start"]), r["n_events"])
        for r in spark.sql("SELECT * FROM tumbling_test").collect()
    }
    assert ("2024-01-01 00:00:00", 2) in out
    assert ("2024-01-01 00:05:00", 1) in out
    assert ("2024-01-01 01:00:00", 1) in out
    # the late event_id=5 (00:03, behind the 00:50 watermark) must NOT
    # have re-opened the 00:00 window
    assert len([w for w, _ in out if w == "2024-01-01 00:00:00"]) == 1


def test_sliding_window_counts(spark, tmp_path):
    """streaming/windows.py sliding_counts in its STREAMING habitat —
    each event lands in window_len/slide = 2 windows and late rows drop
    at the watermark. (Code-review r10: the r10 consolidation retired
    q_sliding_native, this operator's only exercise — the merged batch
    query aggregates directly, so the streaming operator needs its own
    pin.)"""
    from dns_log_transformer_spark.streaming.windows import sliding_counts

    src = tmp_path / "events"
    src.mkdir()
    stream = read_events_stream(spark, str(src))
    agg = sliding_counts(
        stream, window_len="10 minutes", slide="5 minutes",
        watermark="10 minutes",
    )
    q = _start_memory(agg, "sliding_test")
    try:
        _write_events(
            src,
            "f1.json",
            [
                _ev(1, "2024-01-01T00:01:00Z"),
                _ev(2, "2024-01-01T00:06:00Z"),
            ],
        )
        q.processAllAvailable()
        # close every open window, then prove a late row is dropped
        _write_events(src, "f2.json", [_ev(3, "2024-01-01T01:00:00Z")])
        q.processAllAvailable()
        _write_events(src, "f3.json", [_ev(4, "2024-01-01T00:02:00Z")])
        q.processAllAvailable()
        _write_events(src, "f4.json", [_ev(5, "2024-01-01T02:00:00Z")])
        q.processAllAvailable()
    finally:
        q.stop()

    out = {
        (str(r["window_start"]), r["n_events"])
        for r in spark.sql("SELECT * FROM sliding_test").collect()
    }
    # event 1 (00:01) -> windows [23:55, 00:05) and [00:00, 00:10);
    # event 2 (00:06) -> [00:00, 00:10) and [00:05, 00:15); the late
    # event 4 (00:02, behind the 00:50 watermark) must not re-open
    # [00:00, 00:10)
    assert ("2023-12-31 23:55:00", 1) in out
    assert ("2024-01-01 00:00:00", 2) in out
    assert ("2024-01-01 00:05:00", 1) in out
    assert len([w for w, _ in out if w == "2024-01-01 00:00:00"]) == 1


def test_session_window(spark, tmp_path):
    src = tmp_path / "events"
    src.mkdir()
    stream = read_events_stream(spark, str(src))
    agg = session_stats(stream, gap="30 minutes", watermark="30 minutes")
    q = _start_memory(agg, "session_test")
    try:
        _write_events(
            src,
            "f1.json",
            [
                # user 1: two events 10 min apart -> one session
                _ev(1, "2024-01-01T00:00:00Z", user_id=1),
                _ev(2, "2024-01-01T00:10:00Z", user_id=1),
                # user 1 again after a 2 h gap -> second session
                _ev(3, "2024-01-01T02:00:00Z", user_id=1),
            ],
        )
        q.processAllAvailable()
        _write_events(src, "f2.json", [_ev(4, "2024-01-01T06:00:00Z", user_id=9)])
        q.processAllAvailable()  # watermark 05:30 closes both sessions
    finally:
        q.stop()

    rows = spark.sql(
        "SELECT * FROM session_test WHERE user_id = 1 ORDER BY session_start"
    ).collect()
    assert [(str(r["session_start"]), r["n_events"]) for r in rows] == [
        ("2024-01-01 00:00:00", 2),
        ("2024-01-01 02:00:00", 1),
    ]
    # session end = last event + gap
    assert str(rows[0]["session_end"]) == "2024-01-01 00:40:00"


def test_dedup_within_watermark(spark, tmp_path):
    src = tmp_path / "events"
    src.mkdir()
    stream = read_events_stream(spark, str(src))
    deduped = dedup_within_watermark(stream, ["event_id"], watermark="10 minutes")
    q = _start_memory(deduped.select("event_id", "ts"), "dedup_test")
    try:
        _write_events(
            src,
            "f1.json",
            [_ev(1, "2024-01-01T00:00:00Z"), _ev(1, "2024-01-01T00:00:30Z")],
        )
        q.processAllAvailable()
        # redelivery of event_id=1 within the watermark -> dropped
        _write_events(src, "f2.json", [_ev(1, "2024-01-01T00:05:00Z"), _ev(2, "2024-01-01T00:06:00Z")])
        q.processAllAvailable()
    finally:
        q.stop()

    ids = [r["event_id"] for r in spark.sql("SELECT * FROM dedup_test").collect()]
    assert sorted(ids) == [1, 2]


def test_stream_stream_interval_join(spark, tmp_path):
    """Two live streams joined on user_id within an event-time interval;
    watermarks bound the buffered state."""
    from dns_log_transformer_spark.streaming.windows import interval_join_streams

    src_a = tmp_path / "clicks"
    src_b = tmp_path / "buys"
    src_a.mkdir()
    src_b.mkdir()
    clicks = read_events_stream(spark, str(src_a))
    buys = read_events_stream(spark, str(src_b))
    joined = interval_join_streams(
        clicks, buys, on="user_id", upper="10 minutes"
    ).select(
        F.col("l.event_id").alias("click_id"), F.col("r.event_id").alias("buy_id")
    )
    q = _start_memory(joined, "ssjoin_test")
    try:
        _write_events(
            src_a,
            "c1.json",
            [
                _ev(1, "2024-01-01T00:00:00Z", user_id=1, event_type="click"),
                _ev(2, "2024-01-01T01:00:00Z", user_id=2, event_type="click"),
            ],
        )
        _write_events(
            src_b,
            "b1.json",
            [
                _ev(100, "2024-01-01T00:05:00Z", user_id=1, event_type="purchase"),
                # outside the 10-min upper bound for click 2 (01:00 -> 02:00)
                _ev(200, "2024-01-01T02:00:00Z", user_id=2, event_type="purchase"),
            ],
        )
        q.processAllAvailable()
    finally:
        q.stop()
    got = {(r["click_id"], r["buy_id"]) for r in spark.sql("SELECT * FROM ssjoin_test").collect()}
    assert got == {(1, 100)}


def test_rate_source_events_shape(spark):
    """The synthetic rate-source events stream yields the events schema
    (load-testing entry point, no external dependency)."""
    from dns_log_transformer_spark.streaming.source import rate_events_stream

    stream = rate_events_stream(spark, rows_per_second=500)
    q = _start_memory(stream, "rate_test")
    try:
        q.processAllAvailable()
        import time as _t

        deadline = _t.time() + 30
        while _t.time() < deadline:
            q.processAllAvailable()
            if spark.sql("SELECT COUNT(*) n FROM rate_test").collect()[0]["n"] > 0:
                break
            _t.sleep(0.5)
    finally:
        q.stop()
    rows = spark.sql("SELECT * FROM rate_test").collect()
    assert len(rows) > 0
    r = rows[0]
    assert set(r.asDict()) == {"event_id", "ts", "user_id", "event_type", "value", "props"}
    assert r["event_type"] in {"click", "view", "purchase", "signup", "error"}


def test_checkpoint_restart_no_reprocess(spark, tmp_path):
    """Restarting from the checkpoint neither loses nor reprocesses
    batches: file1 is archived exactly once even though the second run
    sees it in the landing dir (the exactly-once upgrade over the
    reference's ack-before-processing loss window, app/app.py:96-102)."""
    landing = tmp_path / "landing"
    landing.mkdir()
    work = str(tmp_path / "work")

    rec1 = make_record(query_name="first.example.com.")
    (landing / "b1.json").write_text(envelope_json([rec1], request_id="r1") + "\n")
    for q in start_pipeline(
        spark, str(landing), work, available_now=True, deterministic_ids=True
    ):
        q.awaitTermination(timeout=120)

    rec2 = make_record(query_name="second.example.com.")
    (landing / "b2.json").write_text(envelope_json([rec2], request_id="r2") + "\n")
    for q in start_pipeline(
        spark, str(landing), work, available_now=True, deterministic_ids=True
    ):
        q.awaitTermination(timeout=120)

    rows = spark.read.parquet(os.path.join(work, "archive")).collect()
    by_req = {}
    for r in rows:
        by_req.setdefault(r["requestId"], []).append(r["line"])
    # 2 lines (query+reply) per record, each exactly once
    assert sorted(by_req) == ["r1", "r2"]
    assert len(by_req["r1"]) == 2 and len(by_req["r2"]) == 2
    assert any("first.example.com." in ln for ln in by_req["r1"])
    assert any("second.example.com." in ln for ln in by_req["r2"])


def test_stateful_running_totals(spark, tmp_path):
    from dns_log_transformer_spark.streaming import running_user_totals

    src = tmp_path / "events"
    src.mkdir()
    stream = read_events_stream(spark, str(src))
    totals = running_user_totals(stream)
    q = _start_memory(totals, "stateful_test", mode="update")
    try:
        _write_events(
            src,
            "f1.json",
            [
                _ev(1, "2024-01-01T00:00:00Z", user_id=1, value=10.0),
                _ev(2, "2024-01-01T00:01:00Z", user_id=1, value=5.0),
                _ev(3, "2024-01-01T00:02:00Z", user_id=2, value=1.0),
            ],
        )
        q.processAllAvailable()
        # second batch: state must carry user 1's totals forward
        _write_events(src, "f2.json", [_ev(4, "2024-01-01T00:10:00Z", user_id=1, value=2.5)])
        q.processAllAvailable()
    finally:
        q.stop()

    rows = spark.sql(
        "SELECT * FROM stateful_test ORDER BY user_id, n_events"
    ).collect()
    # update mode appends each emission to the memory sink: user 1 at
    # (2, 15.0) then (3, 17.5); user 2 once at (1, 1.0)
    got = [(r["user_id"], r["n_events"], r["total_value"]) for r in rows]
    assert (1, 2, 15.0) in got
    assert (1, 3, 17.5) in got
    assert (2, 1, 1.0) in got


def test_streaming_batch_same_code_path(spark):
    """build_streaming_lines is the literal batch composition: running it
    on a batch DataFrame must reproduce the golden transform output."""
    raw = spark.createDataFrame(
        [(envelope_json([make_record()]),)], ["value"]
    )
    lines, quarantine = build_streaming_lines(raw, deterministic_ids=True)
    rows = lines.orderBy("line_no").collect()
    assert [r["line"] for r in rows] == expected_bind9_lines(
        make_record(), "@0x000000000000"
    )
    assert quarantine.count() == 0


def test_transform_with_state_eviction():
    """transformWithStateInPandas (Spark 4 stateful API): per-user totals
    carry across batches; an idle processing-time timer then fires and
    emits the final row with evicted=true, clearing the state; a later
    event restarts the totals from zero.

    Runs in a SUBPROCESS with its own JVM (tests/tws_driver.py) because
    two context-level confs must differ from the shared session:
    ``spark.python.use.daemon=false`` (daemon-forked workers crash
    talking to the TWS state server here — socket reset, no traceback)
    and reduced cores/memory so the second JVM doesn't contend.

    Environment gate: the TWS state protocol serializes Python<->JVM
    state messages as protobuf (pyspark/sql/streaming/proto/
    StateMessage_pb2). conftest vendors the Google Cloud SDK's
    pure-Python protobuf 6.32 where no wheel is installed; skip only if
    neither a real install nor the SDK runtime is available."""
    import subprocess
    import sys

    import pytest

    pytest.importorskip(
        "google.protobuf",
        reason="transformWithStateInPandas requires a protobuf runtime "
        "(none installed, and the SDK fallback is absent)",
    )

    env = dict(
        os.environ,
        SPARK_GRAFT_CPUS="4",
        SPARK_GRAFT_DRIVER_MEM="2g",
    )
    here = os.path.dirname(os.path.abspath(__file__))
    out = subprocess.run(
        [sys.executable, os.path.join(here, "tws_driver.py")],
        env=env,
        capture_output=True,
        text=True,
        # headroom for the load-derived idle timeout (tws_driver caps it
        # at 90 s; eviction poll deadline = idle + 90 s)
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-4000:]
    assert out.stdout.strip().splitlines()[-1] == "PASS", out.stdout[-2000:]


def test_progress_listener_and_health(spark, tmp_path):
    """ProgressCapture sees every completed batch; query_health reports
    liveness + latest batch metrics (the reference's /health upgraded
    with actual throughput visibility)."""
    from dns_log_transformer_spark.streaming.health import (
        ProgressCapture,
        query_health,
    )

    listener = ProgressCapture()
    spark.streams.addListener(listener)
    try:
        q = (
            spark.readStream.format("rate")
            .option("rowsPerSecond", 100)
            .load()
            .writeStream.format("memory")
            .queryName("health_probe_sink")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .start()
        )
        try:
            import time

            deadline = time.time() + 30
            while time.time() < deadline and not listener.batches:
                time.sleep(0.5)
            health = query_health(q)
            assert health["active"] is True
        finally:
            q.stop()
        assert listener.batches, "listener saw no batch progress"
        b = listener.batches[-1]
        assert b["name"] == "health_probe_sink" and b["batch_id"] >= 0
    finally:
        spark.streams.removeListener(listener)


def test_corpus_ingest_funnel(spark, tmp_path):
    """Streaming corpus ingest: quality gate + cross-micro-batch content
    dedup, and batch/stream parity of the shared transform code.

    Batch 1 lands two good docs + one junk doc; batch 2 lands a
    reformatted duplicate of a batch-1 doc (extra whitespace — the
    normalized content hash must still match) and one new doc. Expected
    output: the three distinct good docs exactly once."""
    import json as _json

    from dns_log_transformer_spark.streaming import corpus_ingest

    landing = tmp_path / "landing"
    landing.mkdir()
    good1 = "the quick brown fox jumps over the lazy dog and runs away fast"
    good2 = "a data pipeline should score filter and deduplicate documents"
    junk = "#$%^ 123 !!!"
    batch1 = [
        {"doc_id": 1, "text": good1, "source": "a", "ts": "2024-01-01T00:00:01"},
        {"doc_id": 2, "text": good2, "source": "a", "ts": "2024-01-01T00:00:02"},
        {"doc_id": 3, "text": junk, "source": "b", "ts": "2024-01-01T00:00:03"},
    ]
    batch2 = [
        # same content as doc 1 modulo whitespace -> must dedup
        {"doc_id": 4, "text": "  " + good1.replace(" ", "  "), "source": "b",
         "ts": "2024-01-01T00:01:00"},
        {"doc_id": 5, "text": good2 + " with a genuinely new suffix here",
         "source": "b", "ts": "2024-01-01T00:01:30"},
    ]
    import os as _os
    import time as _time

    now = _time.time()
    for i, batch in enumerate([batch1, batch2]):
        p = landing / f"delta_{i}.jsonl"
        p.write_text("\n".join(_json.dumps(r) for r in batch))
        # the file source orders same-trigger files by mtime; pin distinct
        # mtimes so delta_0 is always the first micro-batch
        _os.utime(p, (now - 100 + i, now - 100 + i))

    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    q = corpus_ingest.start_corpus_ingest(spark, str(landing), out, ckpt)
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    rows = spark.read.parquet(out).collect()
    assert sorted(r["doc_id"] for r in rows) == [1, 2, 5]
    by_id = {r["doc_id"]: r for r in rows}
    assert all(r["quality_score"] >= 0.3 for r in rows)
    assert by_id[1]["lang_pred"] == "en"

    # batch twin: same funnel code on a batch read (watermark is a no-op
    # in batch mode; batch dedup keeps the lowest-id representative via
    # groupBy-min so the comparison is deterministic)
    batch_df = spark.read.schema(corpus_ingest.CORPUS_DELTA_DDL).json(
        str(landing)
    )
    from pyspark.sql import functions as F
    from dns_log_transformer_spark.operators.text import (
        normalized,
        with_lang_id,
        with_quality_score,
    )

    scored = with_lang_id(with_quality_score(batch_df))
    gated = scored.filter(F.col("quality_score") >= 0.3).withColumn(
        "content_md5", F.md5(normalized(F.col("text")))
    )
    keep = gated.groupBy("content_md5").agg(F.min("doc_id").alias("doc_id"))
    batch_ids = sorted(r["doc_id"] for r in keep.collect())
    assert batch_ids == sorted(r["doc_id"] for r in rows)


def test_corpus_ingest_restart_resumes(spark, tmp_path):
    """Two lives over one checkpoint: the restarted funnel must process
    only the delta that landed while it was down — no reprocessing of
    batch-1 files (which would duplicate parquet output rows)."""
    import json as _json

    from dns_log_transformer_spark.streaming import corpus_ingest

    landing = tmp_path / "landing"
    landing.mkdir()
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    good = "the quick brown fox jumps over the lazy dog and runs away fast"

    def land(i, doc_id, text):
        (landing / f"delta_{i}.jsonl").write_text(
            _json.dumps(
                {"doc_id": doc_id, "text": text, "source": "a",
                 "ts": f"2024-01-01T00:0{i}:00"}
            )
        )

    land(0, 1, good)
    q = corpus_ingest.start_corpus_ingest(spark, str(landing), out, ckpt)
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    land(1, 2, good + " but this one is genuinely different")
    q = corpus_ingest.start_corpus_ingest(spark, str(landing), out, ckpt)
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    rows = spark.read.parquet(out).collect()
    assert sorted(r["doc_id"] for r in rows) == [1, 2]


def test_stream_static_broadcast_enrichment(spark, tmp_path):
    """Stream-static join — the standard streaming enrichment pattern:
    each micro-batch joins against a (broadcast-size) static dimension;
    the static side is re-resolvable per batch, needs no watermark, and
    unmatched stream rows route with a left join instead of dropping.
    Also exercises a user_id-keyed dim built from a DataFrame, the shape
    a slowly-changing lookup table takes at scale (broadcast under AQE
    when it fits, shuffle join when it doesn't)."""
    src = tmp_path / "events"
    src.mkdir()
    dim = spark.createDataFrame(
        [(1, "gold"), (2, "silver")], "user_id bigint, tier string"
    )
    stream = read_events_stream(spark, str(src))
    enriched = stream.join(F.broadcast(dim), "user_id", "left").select(
        "event_id", "user_id", F.coalesce("tier", F.lit("unknown")).alias("tier")
    )
    q = _start_memory(enriched, "enrich_test")
    try:
        _write_events(
            src,
            "f1.json",
            [
                _ev(1, "2024-01-01T00:01:00Z", user_id=1),
                _ev(2, "2024-01-01T00:02:00Z", user_id=2),
                _ev(3, "2024-01-01T00:03:00Z", user_id=99),
            ],
        )
        q.processAllAvailable()
    finally:
        q.stop()
    out = {
        r["event_id"]: r["tier"]
        for r in spark.sql("SELECT * FROM enrich_test").collect()
    }
    assert out == {1: "gold", 2: "silver", 3: "unknown"}


def test_stateful_funnel_exact_under_out_of_order(spark, tmp_path):
    """Streaming twin of q_event_funnel: per-user stage advances across
    micro-batches, and a LATE-arriving early view retroactively unlocks
    a click that already sat in state — the exactness a scalar
    (t1,t2,t3) state cannot provide. Final stages must equal the batch
    chase over the union of all events."""
    from dns_log_transformer_spark.streaming import funnel_stages

    src = tmp_path / "events"
    src.mkdir()
    stream = read_events_stream(spark, str(src))
    q = _start_memory(funnel_stages(stream), "funnel_state_test", mode="update")
    try:
        # batch 1: user 1 clicks + purchases but has NO view yet -> stage 0;
        # user 2 views -> stage 1
        _write_events(
            src,
            "f1.json",
            [
                _ev(1, "2024-01-01T00:10:00Z", user_id=1, event_type="click"),
                _ev(2, "2024-01-01T00:20:00Z", user_id=1, event_type="purchase"),
                _ev(3, "2024-01-01T00:01:00Z", user_id=2, event_type="view"),
            ],
        )
        q.processAllAvailable()
        mid = {
            r["user_id"]: r["stage"]
            for r in spark.sql("SELECT * FROM funnel_state_test").collect()
        }
        assert mid == {1: 0, 2: 1}

        # batch 2: user 1's view arrives LATE with an EARLIER timestamp —
        # the stored click+purchase must now complete the funnel
        _write_events(
            src,
            "f2.json",
            [_ev(4, "2024-01-01T00:05:00Z", user_id=1, event_type="view")],
        )
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.sql(
        "SELECT * FROM funnel_state_test WHERE user_id = 1 ORDER BY stage DESC"
    ).collect()
    assert rows[0]["stage"] == 3
    # the chase is strict: view(00:05) < click(00:10) < purchase(00:20)
    assert rows[0]["t1_us"] < rows[0]["t2_us"] < rows[0]["t3_us"]


def test_stateful_funnel_ignores_null_timestamps(spark, tmp_path):
    """A record with an unparseable/null ts must not poison the chase:
    pandas NaT converts to the -2^63 sentinel, which would become a
    fake 'earliest view' unlocking every stored click. The batch twin's
    F.min/collect_list skip null ts; the stream must match."""
    from dns_log_transformer_spark.streaming import funnel_stages

    src = tmp_path / "events"
    src.mkdir()
    q = _start_memory(
        funnel_stages(read_events_stream(spark, str(src))),
        "funnel_nat_test",
        mode="update",
    )
    try:
        bad = _ev(1, None, user_id=1, event_type="view")
        bad["ts"] = "not-a-timestamp"  # parses to null under the schema
        _write_events(
            src,
            "f1.json",
            [bad, _ev(2, "2024-01-01T00:10:00Z", user_id=1, event_type="click")],
        )
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.sql("SELECT * FROM funnel_nat_test").collect()
    assert len(rows) == 1
    # no valid view -> stage 0, and no sentinel t1
    assert rows[0]["stage"] == 0 and rows[0]["t1_us"] is None


def test_streaming_upsert_sink_merges_batches(spark, tmp_path):
    """foreachBatch CDC MERGE: three micro-batches fold into the
    bucket-partitioned latest table; the stored-tombstone contract means
    a STALE upsert replayed after a delete cannot resurrect the key; the
    final live view equals the batch-mode upsert of the full feed."""
    import json as _json

    from dns_log_transformer_spark.operators import cdc
    from dns_log_transformer_spark.streaming import read_latest, upsert_sink

    src = tmp_path / "changes"
    src.mkdir()
    table = str(tmp_path / "latest")
    schema = "k long, payload string, version int, op string"
    stream = spark.readStream.schema(schema).json(str(src))
    q = upsert_sink(
        stream, table, str(tmp_path / "ck"), key_col="k"
    )

    def write(name, rows):
        with open(src / name, "w") as f:
            for r in rows:
                f.write(_json.dumps(r) + "\n")

    all_rows = []

    def feed(name, rows):
        all_rows.extend(rows)
        write(name, rows)
        q.processAllAvailable()

    try:
        feed(
            "b1.json",
            [
                {"k": i, "payload": f"base{i}", "version": 0, "op": "U"}
                for i in (1, 2, 3, 4)
            ],
        )
        assert {
            r["k"] for r in read_latest(spark, table).collect()
        } == {1, 2, 3, 4}
        feed(
            "b2.json",
            [
                {"k": 2, "payload": "", "version": 10, "op": "D"},
                {"k": 3, "payload": "repriced", "version": 11, "op": "U"},
            ],
        )
        got = {
            r["k"]: r["payload"] for r in read_latest(spark, table).collect()
        }
        assert got == {1: "base1", 3: "repriced", 4: "base4"}
        # LATE ARRIVAL: a stale (lower-version) upsert for the deleted
        # key replays in a later batch — the stored tombstone must win
        feed(
            "b3.json",
            [
                {"k": 2, "payload": "stale", "version": 5, "op": "U"},
                {"k": 5, "payload": "new5", "version": 12, "op": "U"},
            ],
        )
        got = {
            r["k"]: (r["payload"], r["version"])
            for r in read_latest(spark, table).collect()
        }
        assert got == {
            1: ("base1", 0),
            3: ("repriced", 11),
            4: ("base4", 0),
            5: ("new5", 12),
        }, "tombstone must beat the stale replayed upsert"
        # equivalence with the one-shot batch merge of the whole feed
        batch = cdc.upsert_latest(
            spark.createDataFrame(
                [(r["k"], r["payload"], r["version"], r["op"]) for r in all_rows],
                schema,
            ),
            ["k"],
        )
        expected = {
            r["k"]: (r["payload"], r["version"]) for r in batch.collect()
        }
        assert got == expected
        # the table is genuinely bucket-partitioned (pruned reads/writes)
        import os as _os

        assert any(
            e.startswith("_kb=") for e in _os.listdir(table)
        ), "latest table must be hash-bucket partitioned"
    finally:
        q.stop()


def test_upsert_sink_leaves_session_conf_alone(spark, tmp_path):
    """The merge scopes partitionOverwriteMode to the writer (an
    .option on the DataFrameWriter) — a session-wide conf.set inside
    foreachBatch would silently flip every later partitioned
    mode('overwrite') on the shared session to partition-matching."""
    import json as _json

    from dns_log_transformer_spark.streaming import upsert_sink

    before = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    src = tmp_path / "changes"
    src.mkdir()
    with open(src / "b1.json", "w") as f:
        for i in (1, 2):
            f.write(
                _json.dumps(
                    {"k": i, "payload": f"p{i}", "version": 0, "op": "U"}
                )
                + "\n"
            )
    stream = spark.readStream.schema(
        "k long, payload string, version int, op string"
    ).json(str(src))
    q = upsert_sink(
        stream, str(tmp_path / "latest"), str(tmp_path / "ck"), key_col="k"
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert (
        spark.conf.get("spark.sql.sources.partitionOverwriteMode") == before
    ), "merge_batch leaked partitionOverwriteMode into the session"
    # ...and the scoped dynamic overwrite actually merged (both keys live)
    from dns_log_transformer_spark.streaming import read_latest

    assert {
        r["k"] for r in read_latest(spark, str(tmp_path / "latest")).collect()
    } == {1, 2}


def test_cdc_sink_rejects_remote_table_paths(spark, tmp_path):
    """Table discovery is os.path-based (driver-local only); a remote
    scheme must fail loudly instead of silently overwriting."""
    import pytest

    from dns_log_transformer_spark.streaming import read_latest, upsert_sink

    with pytest.raises(ValueError, match="driver-local"):
        read_latest(spark, "s3://bucket/latest")
    stream = spark.readStream.schema("k long, version int, op string").json(
        str(tmp_path)
    )
    with pytest.raises(ValueError, match="driver-local"):
        upsert_sink(
            stream, "hdfs:///tables/latest", str(tmp_path / "ck"), key_col="k"
        )


def test_ivf_index_sink_matches_batch_build(spark, tmp_path):
    """Streaming vector-index maintenance (round-6 stretch): three
    micro-batches of embedding changes (inserts -> re-embeds that MOVE
    cells -> deletes + a stale late replay) fold into the
    cell-partitioned index; the final index hash-equals the one-shot
    batch merge+assign of the full feed, and a cell partition no batch
    touches is never rewritten."""
    import json as _json
    import os as _os

    import numpy as np

    from dns_log_transformer_spark.operators import cdc, similarity
    from dns_log_transformer_spark.streaming import ivf_index_sink, read_index

    rng = np.random.default_rng(11)
    base = [
        (int(i), [float(x) for x in rng.normal(0.0, 1.0, 8)])
        for i in range(40)
    ]
    base_df = spark.createDataFrame(
        base, "vec_id long, embedding array<double>"
    )
    codebook = similarity.pq_codebook(base_df, n_cells=4)

    src = tmp_path / "changes"
    src.mkdir()
    table = str(tmp_path / "index")
    schema = "vec_id long, version int, op string, embedding array<double>"
    stream = spark.readStream.schema(schema).json(str(src))
    q = ivf_index_sink(stream, codebook, table, str(tmp_path / "ck"))

    def feed(name, rows):
        with open(src / name, "w") as f:
            for r in rows:
                f.write(_json.dumps(r) + "\n")
        q.processAllAvailable()

    all_rows = []

    def change(vid, version, op, emb):
        r = {"vec_id": vid, "version": version, "op": op, "embedding": emb}
        all_rows.append(r)
        return r

    try:
        feed(
            "b1.json",
            [change(i, 0, "U", v) for i, v in base],
        )
        idx1 = {
            r["vec_id"]: r["cell"] for r in read_index(spark, table).collect()
        }
        assert len(idx1) == 40
        # pick a cell no later batch touches, snapshot its files
        later_keys = {i for i, _ in base if i % 7 == 0 or i % 13 == 0}
        # batch-2 re-embeds move keys INTO new cells too; compute them
        moved_to = {
            r["cell"]
            for r in similarity.ivf_assign(
                spark.createDataFrame(
                    [
                        (i, [-x for x in v])
                        for i, v in base
                        if i % 7 == 0
                    ],
                    "vec_id long, embedding array<double>",
                ),
                codebook,
            ).collect()
        }
        touched_later = {idx1[k] for k in later_keys} | moved_to
        untouched = [c for c in set(idx1.values()) if c not in touched_later]
        if untouched:
            cdir = _os.path.join(table, "cells", f"cell={untouched[0]}")
            before = sorted(_os.listdir(cdir))
        feed(
            "b2.json",
            [
                change(i, 1, "U", [-x for x in v])
                for i, v in base
                if i % 7 == 0
            ],
        )
        feed(
            "b3.json",
            [change(i, 2, "D", v) for i, v in base if i % 13 == 0]
            # stale late replay for a deleted key: tombstone must win
            + [change(0, 1, "U", base[0][1])],
        )
        if untouched:
            after = sorted(_os.listdir(cdir))
            assert after == before, (
                f"cell={untouched[0]} was rewritten by a batch that "
                "touched no key in it"
            )
        got = {
            (r["vec_id"], r["cell"], r["version"])
            for r in read_index(spark, table).collect()
        }
        # one-shot batch twin: latest-wins merge of the whole feed, then
        # fixed-codebook assignment (sim_ivf_delta_index's recipe)
        feed_df = spark.createDataFrame(
            [
                (r["vec_id"], r["version"], r["op"], r["embedding"])
                for r in all_rows
            ],
            schema,
        )
        latest = cdc.upsert_latest(
            feed_df, ["vec_id"], "version", "op", "D", tiebreak_cols=["op"]
        )
        expected = {
            (r["vec_id"], r["cell"], r["version"])
            for r in similarity.ivf_assign(latest, codebook).collect()
        }
        assert got == expected
        # the deleted keys are gone, the moved keys moved
        assert not any(k % 13 == 0 for k, _, _ in got)
        for k, c, ver in got:
            if k % 7 == 0:
                # re-embedded as the negation: argmax(dot) becomes
                # argmin of the original scores, so the cell must move
                assert ver == 1 and c != idx1[k]
    finally:
        q.stop()


def test_neardup_index_sink_matches_batch_lsh(spark, tmp_path):
    """Streaming MinHash-LSH near-dup maintenance (the crawl-dedup
    shape): documents stream in three micro-batches — including a
    cross-batch replay of an already-indexed id — and the accumulated
    pairs/ output must EXACTLY equal the one-shot batch
    dedup.minhash_lsh_pairs of the full corpus at the same parameters.
    A shingle-store bucket no later batch touches is never rewritten
    (partition-pruned reads AND append-only writes pinned)."""
    import json as _json
    import os as _os

    from dns_log_transformer_spark.operators import dedup
    from dns_log_transformer_spark.streaming import (
        neardup_index_sink,
        read_pairs,
    )

    # fixture docs: the sf0.001 corpus is heavily near-duplicated, so
    # real pairs exist across (and within) batches
    docs = [
        (r["doc_id"], r["text"])
        for r in spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet"
        )
        .select("doc_id", "text")
        .collect()
    ]
    assert len(docs) >= 30
    b1, b2, b3 = docs[0::3], docs[1::3], docs[2::3]
    # cross-batch replay: b3 re-delivers two b1 docs (at-least-once
    # sources do this); the sink must not re-emit their pairs
    b3 = b3 + b1[:2]

    src = tmp_path / "docs"
    src.mkdir()
    table = str(tmp_path / "ndindex")
    stream = spark.readStream.schema("doc_id long, text string").json(str(src))
    q = neardup_index_sink(stream, table, str(tmp_path / "ck"))

    def feed(name, rows):
        with open(src / name, "w") as f:
            for did, text in rows:
                f.write(_json.dumps({"doc_id": did, "text": text}) + "\n")
        q.processAllAvailable()

    try:
        feed("b1.json", b1)
        feed("b2.json", b2)
        # snapshot a shingle bucket none of b3's NEW ids hash into
        sh_dir = _os.path.join(table, "shingles")
        from dns_log_transformer_spark.operators.corpus import hash_bucket
        from pyspark.sql import functions as F

        new_ids = spark.createDataFrame(
            [(d,) for d, _ in docs[2::3]], "doc_id long"
        )
        new_kb = {
            r["_kb"]
            for r in new_ids.select(
                (hash_bucket(F.col("doc_id"), seed=0) % 16).alias("_kb")
            ).collect()
        }
        existing_kb = [
            e for e in _os.listdir(sh_dir) if e.startswith("_kb=")
        ]
        untouched = [
            e for e in existing_kb if int(e.split("=")[1]) not in new_kb
        ]
        before = (
            sorted(_os.listdir(_os.path.join(sh_dir, untouched[0])))
            if untouched
            else None
        )
        feed("b3.json", b3)
        if untouched:
            after = sorted(_os.listdir(_os.path.join(sh_dir, untouched[0])))
            assert after == before, (
                f"shingle bucket {untouched[0]} rewritten by a batch "
                "with no new id in it"
            )
        got = {
            (r["doc_a"], r["doc_b"], r["jaccard"])
            for r in read_pairs(spark, table).collect()
        }
        full = spark.createDataFrame(docs, "doc_id long, text string")
        want = {
            (r["doc_a"], r["doc_b"], r["jaccard"])
            for r in dedup.minhash_lsh_pairs(full).collect()
        }
        assert len(want) > 0, "fixture produced no near-dup pairs"
        assert got == want
        # exactly-once emission: no pair appears twice in pairs/
        pdf = read_pairs(spark, table).groupBy("doc_a", "doc_b").count()
        assert pdf.filter(F.col("count") > 1).count() == 0
    finally:
        q.stop()


def test_neardup_index_bounds_hot_buckets(spark, tmp_path):
    """ADVICE r7: the streaming candidate join is bounded by the same
    occupancy cap as the batch path. A bucket whose ACCUMULATED
    occupancy (index + batch) crosses ``bucket_cap`` contributes NO new
    candidates from that batch on — while pairs emitted before the
    crossing stay (append-only, the documented residual divergence
    from the one-shot's retroactive drop). Docs with identical text
    share every band key, so they all land in the same buckets."""
    from dns_log_transformer_spark.operators import dedup
    from dns_log_transformer_spark.streaming.neardup_index import (
        neardup_merge_batch,
        read_pairs,
    )

    table = str(tmp_path / "capidx")
    hot = "the quick brown fox jumps over the lazy dog again and again"
    cold_a = "completely different cold text about spark shuffles here"
    cold_b = "completely different cold text about spark shuffles there"

    def merge(rows):
        neardup_merge_batch(
            spark.createDataFrame(rows, "doc_id long, text string"),
            table,
            bucket_cap=3,
        )

    # batch 1: 3 identical docs — occupancy 3 == cap, under the bound
    merge([(1, hot), (2, hot), (3, hot)])
    p1 = {
        (r["doc_a"], r["doc_b"]) for r in read_pairs(spark, table).collect()
    }
    assert p1 == {(1, 2), (1, 3), (2, 3)}
    # batch 2: 3 more identical docs push accumulated occupancy to 6 > 3
    # — the hot bucket is excluded, so NO new hot pairs; the under-cap
    # cold pair in the same batch still verifies normally
    merge([(4, hot), (5, hot), (6, hot), (7, cold_a), (8, cold_b)])
    p2 = {
        (r["doc_a"], r["doc_b"]) for r in read_pairs(spark, table).collect()
    }
    assert p2 - p1 <= {(7, 8)}, (
        "hot-bucket pairs emitted after the bucket crossed the cap: "
        f"{sorted(p2 - p1)}"
    )
    assert (7, 8) in p2, "under-cap pair suppressed by the hot-bucket bound"
    # the one-shot batch path at the same cap drops the hot bucket
    # RETROACTIVELY — zero hot pairs — which is exactly the documented
    # divergence the early streaming pairs represent
    full = spark.createDataFrame(
        [(i, hot) for i in range(1, 7)] + [(7, cold_a), (8, cold_b)],
        "doc_id long, text string",
    )
    batch_pairs = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.minhash_lsh_pairs(full, bucket_cap=3).collect()
    }
    assert not any(a <= 6 and b <= 6 for a, b in batch_pairs)


def test_sketch_table_sink_matches_batch_sketches(spark, tmp_path):
    """Streaming sketch-table upkeep: CMS is linear and HLL register
    merge is max-based, so under ANY batch split the streamed grid must
    equal the one-shot batch grid CELL-FOR-CELL and the per-source HLL
    estimates must equal the batch estimates exactly — the mergeable-
    summary property that makes sketches the streaming-native state."""
    import json as _json

    from pyspark.sql import functions as F

    from dns_log_transformer_spark.operators.sketches import cms_counters
    from dns_log_transformer_spark.streaming import (
        read_cms,
        read_source_sketches,
        sketch_table_sink,
    )

    docs = [
        (r["doc_id"], r["text"], r["source"])
        for r in spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet"
        )
        .select("doc_id", "text", "source")
        .collect()
    ]
    src = tmp_path / "docs"
    src.mkdir()
    table = str(tmp_path / "sketches")
    stream = spark.readStream.schema(
        "doc_id long, text string, source string"
    ).json(str(src))
    q = sketch_table_sink(stream, table, str(tmp_path / "ck"))

    try:
        for i, chunk in enumerate([docs[0::3], docs[1::3], docs[2::3]]):
            with open(src / f"b{i}.json", "w") as f:
                for d, t, s in chunk:
                    f.write(
                        _json.dumps(
                            {"doc_id": d, "text": t, "source": s}
                        )
                        + "\n"
                    )
            q.processAllAvailable()
    finally:
        q.stop()

    full = spark.createDataFrame(
        docs, "doc_id long, text string, source string"
    )
    got_grid = {
        (r["j"], r["h"]): r["c"] for r in read_cms(spark, table).collect()
    }
    want_grid = {
        (r["j"], r["h"]): r["c"] for r in cms_counters(full).collect()
    }
    assert len(want_grid) > 0
    assert got_grid == want_grid

    got_src = {
        r["source"]: r["est_docs"]
        for r in read_source_sketches(spark, table).collect()
    }
    want_src = {
        r["source"]: r["est_docs"]
        for r in full.groupBy("source")
        .agg(
            F.hll_sketch_estimate(F.hll_sketch_agg("doc_id"))
            .cast("long")
            .alias("est_docs")
        )
        .collect()
    }
    assert got_src == want_src


def test_bloom_filter_sink_matches_batch_and_is_replay_proof(spark, tmp_path):
    """Streaming Bloom upkeep: bit-OR is associative, commutative AND
    idempotent, so under any batch split — including a REPLAYED chunk
    (the at-least-once case that would corrupt a counting sketch) —
    the accumulated bitset must equal the one-shot batch bitset, and a
    corpus decontaminated against the stored words must equal the
    batch bloom_decontaminate output row-for-row."""
    import json as _json

    from dns_log_transformer_spark.operators import corpus
    from dns_log_transformer_spark.operators.dedup import with_shingles
    from dns_log_transformer_spark.operators.sketches import bloom_word_rows
    from dns_log_transformer_spark.streaming import (
        bloom_filter_sink,
        bloom_words_list,
        read_bloom_words,
    )

    docs = [
        (r["doc_id"], r["text"])
        for r in spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet"
        )
        .select("doc_id", "text")
        .collect()
    ]
    bench_docs, corpus_docs = docs[:40], docs[40:120]
    src = tmp_path / "bench"
    src.mkdir()
    table = str(tmp_path / "bloomtab")
    stream = spark.readStream.schema("doc_id long, text string").json(str(src))
    q = bloom_filter_sink(stream, table, str(tmp_path / "ck"))

    try:
        # three splits, then REPLAY the middle chunk as a fourth batch
        chunks = [bench_docs[0::3], bench_docs[1::3], bench_docs[2::3],
                  bench_docs[1::3]]
        for i, chunk in enumerate(chunks):
            with open(src / f"b{i}.json", "w") as f:
                for d, t in chunk:
                    f.write(_json.dumps({"doc_id": d, "text": t}) + "\n")
            q.processAllAvailable()
    finally:
        q.stop()

    bench_full = spark.createDataFrame(bench_docs, "doc_id long, text string")
    want_rows = bloom_word_rows(
        with_shingles(bench_full, "doc_id", "text", 8)
        .select(F.explode("shingles").alias("shingle"))
        .distinct(),
        "shingle",
    )
    got = {r["word"]: r["bits"] for r in read_bloom_words(spark, table).collect()}
    want = {r["word"]: r["bits"] for r in want_rows.collect()}
    assert len(want) > 0
    assert got == want

    corpus_full = spark.createDataFrame(corpus_docs, "doc_id long, text string")
    words = bloom_words_list(spark, table)
    got_decon = {
        r["doc_id"]: (r["n_maybe_hits"], r["maybe_contaminated"])
        for r in corpus.decontaminate_against(corpus_full, words).collect()
    }
    want_decon = {
        r["doc_id"]: (r["n_maybe_hits"], r["maybe_contaminated"])
        for r in corpus.bloom_decontaminate(corpus_full, bench_full).collect()
    }
    assert got_decon == want_decon
    # the streamed benchmark must contaminate its own members: probe a
    # benchmark doc's text against the stored filter -> all-hit
    self_probe = corpus.decontaminate_against(
        spark.createDataFrame(bench_docs[:5], "doc_id long, text string"), words
    ).collect()
    assert all(
        r["maybe_contaminated"] for r in self_probe if r["n_shingles"] > 0
    )


def test_mv_sink_exactly_once_under_replay_and_compaction(spark, tmp_path):
    """Epoch-fenced view maintenance: counting aggregates are NOT
    idempotent, so the sink fences each epoch into its own partition —
    a REPLAYED epoch overwrites itself instead of double-counting.
    The streamed view must equal the one-shot batch aggregate after
    (a) normal splits, (b) an explicit epoch replay, and (c) a
    mid-stream compaction followed by another replay of an already-
    folded epoch."""
    import json as _json

    from dns_log_transformer_spark.streaming import (
        compact_mv,
        merge_epoch,
        mv_sink,
        read_mv,
    )

    ev = (
        spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        .select(
            "user_id", F.round(F.col("value") * 100).cast("long").alias("cents")
        )
        .collect()
    )
    rows = [(r["user_id"], r["cents"]) for r in ev]
    src = tmp_path / "facts"
    src.mkdir()
    table = str(tmp_path / "mv")
    stream = spark.readStream.schema("user_id long, cents long").json(str(src))
    q = mv_sink(stream, table, str(tmp_path / "ck"), "user_id", "cents")

    try:
        for i, chunk in enumerate([rows[0::3], rows[1::3], rows[2::3]]):
            with open(src / f"b{i}.json", "w") as f:
                for u, c in chunk:
                    f.write(_json.dumps({"user_id": u, "cents": c}) + "\n")
            q.processAllAvailable()
    finally:
        q.stop()

    full = spark.createDataFrame(rows, "user_id long, cents long")
    want = {
        r["key"]: (r["n_rows"], r["sum_val"])
        for r in full.groupBy(F.col("user_id").alias("key"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("cents").cast("long").alias("sum_val"),
        )
        .collect()
    }

    def got():
        return {
            r["key"]: (r["n_rows"], r["sum_val"])
            for r in read_mv(spark, table).collect()
        }

    assert got() == want

    # (b) replay epoch 1 (same content, same epoch id) -> unchanged
    chunk1 = spark.createDataFrame(rows[1::3], "user_id long, cents long")
    merge_epoch(chunk1, 1, table, "user_id", "cents")
    assert got() == want

    # (c) compact (epochs fold into the base, fence advances), then
    # replay an already-folded epoch -> the fence drops it as a no-op
    # (without the fence this would double-count: the partial no longer
    # exists as a partition, so overwrite-idempotence can't save it)
    compact_mv(spark, table)
    assert got() == want
    merge_epoch(chunk1, 1, table, "user_id", "cents")
    assert got() == want
    # (d) a NEW epoch after compaction still lands normally
    extra = spark.createDataFrame([(999_999, 100)], "user_id long, cents long")
    merge_epoch(extra, 7, table, "user_id", "cents")
    want[999_999] = (1, 100)
    assert got() == want

    # (e) crash-window consistency (round-7 atomic-commit rework): a
    # base dir the fence does NOT name — what a crash between the base
    # write and the fence replace leaves behind — is invisible garbage
    import os as _os

    _os.makedirs(_os.path.join(table, "_base_e99"), exist_ok=True)
    assert got() == want
    # (f) a folded partial resurrected at/below the fence — what a
    # crash between the fence replace and GC leaves behind — is
    # ignored by the read side (its rows already live in the base)
    ghost = (
        spark.createDataFrame([(1, 1, 12345)], "key long, n_rows long, sum_val long")
        .withColumn("_epoch", F.lit(0))
    )
    (
        ghost.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("_epoch")
        .parquet(table)
    )
    assert got() == want
    # (g) a second compaction folds the post-fence epoch into a new
    # base, sweeps both ghosts, and the view is STILL exact
    compact_mv(spark, table)
    assert got() == want
    assert not _os.path.isdir(_os.path.join(table, "_epoch=7"))
    assert not _os.path.isdir(_os.path.join(table, "_epoch=0"))
    assert not _os.path.isdir(_os.path.join(table, "_base_e99"))
    # (h) a resurrected legacy _epoch=-1 partition — a crashed GC of
    # the pre-rework base — must be invisible while a fence-named base
    # exists (NOT re-folded: its rows already live in the base) and
    # swept by the next compaction
    legacy = (
        spark.createDataFrame([(2, 3, 999)], "key long, n_rows long, sum_val long")
        .withColumn("_epoch", F.lit(-1))
    )
    (
        legacy.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("_epoch")
        .parquet(table)
    )
    assert got() == want
    merge_epoch(
        spark.createDataFrame([(999_998, 50)], "user_id long, cents long"),
        9,
        table,
        "user_id",
        "cents",
    )
    want[999_998] = (1, 50)
    compact_mv(spark, table)
    assert got() == want
    assert not _os.path.isdir(_os.path.join(table, "_epoch=-1"))


def _sketch_docs(spark):
    return [
        (r["doc_id"], r["text"], r["source"])
        for r in spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet"
        )
        .select("doc_id", "text", "source")
        .collect()
    ]


def _write_sketch_docs(path, rows):
    with open(path, "w") as f:
        for d, t, s in rows:
            f.write(json.dumps({"doc_id": d, "text": t, "source": s}) + "\n")


def _sketch_state(spark, table):
    """(CMS grid, per-source HLL estimates) as the sketch sink's readers
    see them."""
    from dns_log_transformer_spark.streaming import read_cms, read_source_sketches

    grid = {(r["j"], r["h"]): r["c"] for r in read_cms(spark, table).collect()}
    est = {
        r["source"]: r["est_docs"]
        for r in read_source_sketches(spark, table).collect()
    }
    return grid, est


def _batch_sketch_state(spark, rows):
    """The one-shot batch grid and estimates of ``rows``."""
    from dns_log_transformer_spark.operators.sketches import cms_counters

    full = spark.createDataFrame(rows, "doc_id long, text string, source string")
    grid = {(r["j"], r["h"]): r["c"] for r in cms_counters(full).collect()}
    est = {
        r["source"]: r["est_docs"]
        for r in full.groupBy("source")
        .agg(
            F.hll_sketch_estimate(F.hll_sketch_agg("doc_id"))
            .cast("long")
            .alias("est_docs")
        )
        .collect()
    }
    return grid, est


def _sketch_query(spark, src, table, ck):
    from dns_log_transformer_spark.streaming import sketch_table_sink

    stream = spark.readStream.schema(
        "doc_id long, text string, source string"
    ).json(str(src))
    return sketch_table_sink(stream, table, str(ck))


def test_sketch_table_sink_replayed_batch_counts_once(spark, tmp_path):
    """A crash after the sink's write but before the commit log records
    the batch replays it under the same epoch id. Deleting the
    checkpoint's last ``commits/<id>`` is that state. The fence must
    make the replay a no-op: the CMS grid is not idempotent, so a
    second fold of the batch would double every cell it touches."""
    docs = _sketch_docs(spark)[:300]
    src = tmp_path / "docs"
    src.mkdir()
    table, ck = str(tmp_path / "sketches"), tmp_path / "ck"
    q = _sketch_query(spark, src, table, ck)
    try:
        for i, chunk in enumerate([docs[0::2], docs[1::2]]):
            _write_sketch_docs(src / f"b{i}.json", chunk)
            q.processAllAvailable()
    finally:
        q.stop()
    want = _batch_sketch_state(spark, docs)
    assert len(want[0]) > 0
    assert _sketch_state(spark, table) == want

    last = max(int(n) for n in os.listdir(ck / "commits") if n.isdigit())
    for name in (str(last), f".{last}.crc"):
        os.remove(ck / "commits" / name)
    q = _sketch_query(spark, src, table, ck)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert (ck / "commits" / str(last)).exists()  # the batch did replay
    assert _sketch_state(spark, table) == want


def test_sketch_sink_crash_before_fence_commit_keeps_old_state(
    spark, tmp_path, monkeypatch
):
    """A failure between a table's ``_base_e<N>`` write and its fence
    replace leaves that table's readers on the previous state, and the
    replay converges. The sink folds two tables per batch, so a crash
    at the second commit leaves the first one committed: its replay
    must skip it, not count it twice."""
    import pytest

    from dns_log_transformer_spark.streaming import sinks

    real_commit = sinks._commit_fence

    def crash_at(table_name):
        def commit(table_path, epoch, base):
            if os.path.basename(table_path) == table_name:
                raise RuntimeError("injected crash before the fence commit")
            real_commit(table_path, epoch, base)

        return commit

    docs = _sketch_docs(spark)[:300]
    first, second = docs[0::2], docs[1::2]
    src = tmp_path / "docs"
    src.mkdir()
    table, ck = str(tmp_path / "sketches"), tmp_path / "ck"
    q = _sketch_query(spark, src, table, ck)
    try:
        _write_sketch_docs(src / "b0.json", first)
        q.processAllAvailable()
    finally:
        q.stop()
    old = _sketch_state(spark, table)
    assert old == _batch_sketch_state(spark, first)
    want = _batch_sketch_state(spark, docs)
    assert old[0] != want[0] and old[1] != want[1]

    _write_sketch_docs(src / "b1.json", second)
    for crashed, readers in (("cms", old), ("sources", (want[0], old[1]))):
        monkeypatch.setattr(sinks, "_commit_fence", crash_at(crashed))
        q = _sketch_query(spark, src, table, ck)
        try:
            with pytest.raises(Exception, match="injected crash"):
                q.processAllAvailable()
        finally:
            q.stop()
        # the uncommitted base sits next to the fenced one, unread
        assert os.path.isdir(os.path.join(table, crashed, "_base_e1"))
        assert _sketch_state(spark, table) == readers, crashed

    monkeypatch.setattr(sinks, "_commit_fence", real_commit)
    q = _sketch_query(spark, src, table, ck)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert _sketch_state(spark, table) == want
    for name in ("cms", "sources"):
        entries = os.listdir(os.path.join(table, name))
        bases = [e for e in entries if e.startswith("_base_")]
        assert bases == ["_base_e1"], (name, bases)


def test_compact_mv_crash_before_fence_commit_keeps_old_view(
    spark, tmp_path, monkeypatch
):
    """``compact_mv`` is the fenced fold over its pinned partials: a
    failure between the ``_base_e<N>`` write and the fence replace
    leaves read_mv on the previous base plus the unfolded partials, and
    the next compaction folds them exactly once."""
    import pytest

    from dns_log_transformer_spark.streaming import (
        compact_mv,
        merge_epoch,
        read_mv,
        sinks,
    )

    table = str(tmp_path / "mv")
    facts = spark.createDataFrame([(k % 7, k) for k in range(100)], "k long, v long")
    for e in range(5):
        merge_epoch(facts, e, table, "k", "v")
        if e == 2:
            compact_mv(spark, table)
    want = {
        key: (5 * sum(1 for k in range(100) if k % 7 == key),
              5 * sum(k for k in range(100) if k % 7 == key))
        for key in range(7)
    }

    def got():
        return {
            r["key"]: (r["n_rows"], r["sum_val"])
            for r in read_mv(spark, table).collect()
        }

    def epochs():
        return sorted(e for e in os.listdir(table) if e.startswith("_epoch="))

    assert got() == want
    assert sinks.read_fence(table) == (2, "_base_e2")

    def crash(table_path, epoch, base):
        raise RuntimeError("injected crash before the fence commit")

    monkeypatch.setattr(sinks, "_commit_fence", crash)
    with pytest.raises(RuntimeError, match="injected crash"):
        compact_mv(spark, table)
    assert os.path.isdir(os.path.join(table, "_base_e4"))
    assert sinks.read_fence(table) == (2, "_base_e2")
    assert epochs() == ["_epoch=3", "_epoch=4"]
    assert got() == want

    monkeypatch.undo()
    compact_mv(spark, table)
    assert sinks.read_fence(table) == (4, "_base_e4")
    assert epochs() == []
    assert not os.path.isdir(os.path.join(table, "_base_e2"))
    assert got() == want


def test_winnow_index_sink_matches_batch_operator(spark, tmp_path):
    """Streaming winnow-anchor span dedup (round-7, VERDICT r6 task 7):
    documents stream in three micro-batches — including a cross-batch
    replay — and after EVERY batch the accumulated spans/ table must
    EXACTLY equal the one-shot corpus.winnow_span_dedup of all docs
    ingested so far. The mid-stream check is the point: span output is
    not monotone — an OLD doc's spans must grow in the same batch that
    makes its anchors shared."""
    import json as _json

    from dns_log_transformer_spark.operators import corpus
    from dns_log_transformer_spark.streaming import (
        read_spans,
        winnow_index_sink,
    )

    docs = [
        (r["doc_id"], r["text"])
        for r in spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet"
        )
        .select("doc_id", "text")
        .collect()
    ]
    assert len(docs) >= 30
    b1, b2, b3 = docs[0::3], docs[1::3], docs[2::3]
    b3 = b3 + b1[:2]  # cross-batch replay must not perturb anything

    src = tmp_path / "docs"
    src.mkdir()
    table = str(tmp_path / "widx")
    stream = spark.readStream.schema("doc_id long, text string").json(str(src))
    q = winnow_index_sink(stream, table, str(tmp_path / "ck"))

    def got():
        df = read_spans(spark, table)
        if df is None:
            return set()
        return {tuple(r) for r in df.collect()}

    def want(rows):
        full = spark.createDataFrame(rows, "doc_id long, text string")
        return {tuple(r) for r in corpus.winnow_span_dedup(full).collect()}

    try:
        ingested: list = []
        before = None
        untouched: list = []
        for name, chunk in [("b1", b1), ("b2", b2), ("b3", b3)]:
            if name == "b3":
                # append-only pruning pin (the neardup-test discipline):
                # an anchor bucket none of b3's NEW ids hash into must
                # not be rewritten by b3
                import os as _os

                from dns_log_transformer_spark.operators.corpus import (
                    hash_bucket,
                )

                a_dir = _os.path.join(table, "anchors")
                new_ids = spark.createDataFrame(
                    [(d,) for d, _ in docs[2::3]], "doc_id long"
                )
                new_kb = {
                    r["_kb"]
                    for r in new_ids.select(
                        (hash_bucket(F.col("doc_id"), seed=0) % 16).alias("_kb")
                    ).collect()
                }
                untouched = [
                    e
                    for e in _os.listdir(a_dir)
                    if e.startswith("_kb=") and int(e.split("=")[1]) not in new_kb
                ]
                if untouched:
                    before = sorted(
                        _os.listdir(_os.path.join(a_dir, untouched[0]))
                    )
            with open(src / f"{name}.json", "w") as f:
                for did, text in chunk:
                    f.write(_json.dumps({"doc_id": did, "text": text}) + "\n")
            q.processAllAvailable()
            ingested = ingested + [
                d for d in chunk if d[0] not in {i[0] for i in ingested}
            ]
            assert got() == want(ingested), f"diverged after {name}"
        if untouched:
            import os as _os

            after = sorted(
                _os.listdir(_os.path.join(table, "anchors", untouched[0]))
            )
            assert after == before, (
                f"anchor bucket {untouched[0]} rewritten by a batch with "
                "no new id in it"
            )
    finally:
        q.stop()
    assert len(got()) > 0, "fixture produced no shared spans — vacuous test"


def test_corpus_monitor_sink_matches_batch_scorecard(spark, tmp_path):
    """Streaming corpus triage monitor: documents stream in three
    micro-batches — including a cross-batch replay — and after EVERY
    batch read_scorecard must EXACTLY equal the batch
    corpus.source_scorecard of all docs ingested so far against the
    same fixed benchmark. The mid-stream check matters: exact-dup and
    near-dup flags grow retroactively, which the monitor resolves on
    the read side instead of maintaining counters."""
    import json as _json

    from dns_log_transformer_spark.operators import corpus
    from dns_log_transformer_spark.streaming import (
        corpus_monitor_sink,
        read_scorecard,
    )

    full = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text", "source")
        .orderBy("doc_id")
    )
    docs = [(r["doc_id"], r["text"], r["source"]) for r in full.collect()]
    bench = full.filter(F.col("doc_id") % 97 == 0)

    b1, b2, b3 = docs[0::3], docs[1::3], docs[2::3]
    b3 = b3 + b1[:2]  # cross-batch replay

    src = tmp_path / "docs"
    src.mkdir()
    table = str(tmp_path / "monitor")
    stream = spark.readStream.schema(
        "doc_id long, text string, source string"
    ).json(str(src))
    q = corpus_monitor_sink(stream, bench, table, str(tmp_path / "ck"))

    def got():
        df = read_scorecard(spark, table)
        return set() if df is None else {tuple(r) for r in df.collect()}

    def want(rows):
        so_far = spark.createDataFrame(
            rows, "doc_id long, text string, source string"
        )
        return {
            tuple(r) for r in corpus.source_scorecard(so_far, bench).collect()
        }

    try:
        ingested: list = []
        for name, chunk in [("b1", b1), ("b2", b2), ("b3", b3)]:
            with open(src / f"{name}.json", "w") as f:
                for did, text, source in chunk:
                    f.write(
                        _json.dumps(
                            {"doc_id": did, "text": text, "source": source}
                        )
                        + "\n"
                    )
            q.processAllAvailable()
            seen_ids = {i[0] for i in ingested}
            ingested = ingested + [d for d in chunk if d[0] not in seen_ids]
            assert got() == want(ingested), f"diverged after {name}"
    finally:
        q.stop()
    final = got()
    assert final and any(r[2] > 0 or r[3] > 0 or r[4] > 0 for r in final), (
        "no contamination/dup signal in the fixture — vacuous test"
    )


def test_corpus_monitor_threads_custom_id_col(spark, tmp_path):
    """A monitor started with a non-default id column must be readable
    with the same id_col: the flags/ and neardup buckets/ stores carry
    the caller's column name, and read_scorecard previously hardcoded
    doc_id into the reconciled pairs read (ADVICE r9) — this pins the
    threading end-to-end against the batch scorecard."""
    import json as _json

    from dns_log_transformer_spark.operators import corpus
    from dns_log_transformer_spark.streaming import (
        corpus_monitor_sink,
        read_scorecard,
    )

    full = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select(
            F.col("doc_id").alias("item_id"),
            F.col("text").alias("body"),
            "source",
        )
        .filter(F.col("item_id") < 2000)
    )
    bench = full.filter(F.col("item_id") % 97 == 0)
    src = tmp_path / "docs"
    src.mkdir()
    table = str(tmp_path / "monitor")
    stream = spark.readStream.schema(
        "item_id long, body string, source string"
    ).json(str(src))
    q = corpus_monitor_sink(
        stream,
        bench,
        table,
        str(tmp_path / "ck"),
        id_col="item_id",
        text_col="body",
    )
    try:
        with open(src / "b1.json", "w") as f:
            for r in full.collect():
                f.write(
                    _json.dumps(
                        {
                            "item_id": r["item_id"],
                            "body": r["body"],
                            "source": r["source"],
                        }
                    )
                    + "\n"
                )
        q.processAllAvailable()
        got = {
            tuple(r)
            for r in read_scorecard(spark, table, id_col="item_id").collect()
        }
        # source_scorecard takes the benchmark under its DEFAULT names
        # (bench_id_col/bench_text_col stay doc_id/text); the sink takes
        # it under the sink's id_col/text_col — rename for the batch twin
        bench_default = bench.select(
            F.col("item_id").alias("doc_id"), F.col("body").alias("text")
        )
        want = {
            tuple(r)
            for r in corpus.source_scorecard(
                full, bench_default, id_col="item_id", text_col="body"
            ).collect()
        }
        assert got == want
    finally:
        q.stop()


def _crash_cases(spark):
    """Per sink: (start(stream, table, ck), schema, batch 1, batch 2,
    read(table) as its readers see it, the one-shot result of a feed).
    Batch 2 redelivers two batch-1 records, as Firehose may."""
    import numpy as np

    from dns_log_transformer_spark.operators import cdc, corpus, dedup, similarity
    from dns_log_transformer_spark.streaming import (
        corpus_monitor_sink,
        ivf_index_sink,
        neardup_index_sink,
        read_index,
        read_latest,
        read_pairs,
        read_scorecard,
        read_spans,
        upsert_sink,
        winnow_index_sink,
    )

    def rows_of(df, *cols):
        if df is None:
            return set()
        return {tuple(r) for r in (df.select(*cols) if cols else df).collect()}

    def first_by_id(rows):
        seen: dict = {}
        for r in rows:
            seen.setdefault(r["doc_id"], r)
        return list(seen.values())

    # each extra id near-duplicates a doc under 40 (0~50, 5~450, 8~120,
    # 8~360, 16~369, 26~176), so batch 2 emits pairs across batches
    docs = [
        r.asDict()
        for r in spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text", "source")
        .filter((F.col("doc_id") < 40) | F.col("doc_id").isin(50, 120, 176, 360, 369, 450))
        .orderBy("doc_id")
        .collect()
    ]
    d1 = [r for r in docs if r["doc_id"] < 40]
    d2 = [r for r in docs if r["doc_id"] >= 40] + d1[:2]
    doc_schema = "doc_id long, text string, source string"

    def doc_frame(rows):
        return spark.createDataFrame(
            [(r["doc_id"], r["text"], r["source"]) for r in first_by_id(rows)],
            doc_schema,
        )

    bench = doc_frame(docs[::9])

    cdc_schema = "k long, payload string, version int, op string"

    def cdc_want(rows):
        feed = spark.createDataFrame(
            [(r["k"], r["payload"], r["version"], r["op"]) for r in rows], cdc_schema
        )
        return rows_of(cdc.upsert_latest(feed, ["k"]), "k", "payload", "version")

    def u(k, payload, version, op="U"):
        return {"k": k, "payload": payload, "version": version, "op": op}

    codebook = (np.array([0, 1]), np.array([[1.0, 0.0], [-1.0, 0.0]]))
    vec_schema = "vec_id long, version int, op string, embedding array<double>"

    def vec_want(rows):
        feed = spark.createDataFrame(
            [(r["vec_id"], r["version"], r["op"], r["embedding"]) for r in rows],
            vec_schema,
        )
        latest = cdc.upsert_latest(
            feed, ["vec_id"], "version", "op", "D", tiebreak_cols=["op"]
        )
        return rows_of(similarity.ivf_assign(latest, codebook), "vec_id", "cell")

    def v(vec_id, version, op, emb):
        return {"vec_id": vec_id, "version": version, "op": op, "embedding": emb}

    return {
        "cdc": (
            lambda st, t, ck: upsert_sink(st, t, ck, key_col="k"),
            cdc_schema,
            [u(k, f"base{k}", 0) for k in (1, 2, 3, 4)],
            [u(2, "", 10, "D"), u(3, "repriced", 11), u(5, "new5", 12), u(1, "base1", 0)],
            lambda t: rows_of(read_latest(spark, t), "k", "payload", "version"),
            cdc_want,
        ),
        # vector 1 moves from cell 0 to cell 1 and vector 2 is deleted,
        # both in batch 2: a reader must never see either in cell 0
        "vector": (
            lambda st, t, ck: ivf_index_sink(st, codebook, t, ck),
            vec_schema,
            [v(1, 0, "U", [1.0, 0.1]), v(2, 0, "U", [0.9, 0.0]), v(3, 0, "U", [-1.0, 0.0])],
            [v(1, 1, "U", [-1.0, 0.2]), v(2, 1, "D", None), v(3, 0, "U", [-1.0, 0.0])],
            lambda t: rows_of(read_index(spark, t), "vec_id", "cell"),
            vec_want,
        ),
        # a list, not a set: a replay must not emit a pair twice
        "neardup": (
            neardup_index_sink,
            doc_schema,
            d1,
            d2,
            lambda t: sorted(tuple(r) for r in read_pairs(spark, t).collect()),
            lambda rows: sorted(
                tuple(r) for r in dedup.minhash_lsh_pairs(doc_frame(rows)).collect()
            ),
        ),
        "winnow": (
            winnow_index_sink,
            doc_schema,
            d1,
            d2,
            lambda t: rows_of(read_spans(spark, t)),
            lambda rows: rows_of(corpus.winnow_span_dedup(doc_frame(rows))),
        ),
        "monitor": (
            lambda st, t, ck: corpus_monitor_sink(st, bench, t, ck),
            doc_schema,
            d1,
            d2,
            lambda t: rows_of(read_scorecard(spark, t)),
            lambda rows: rows_of(corpus.source_scorecard(doc_frame(rows), bench)),
        ),
    }


@pytest.mark.parametrize("case", ["cdc", "vector", "neardup", "winnow", "monitor"])
def test_sink_crash_before_manifest_commit_keeps_old_state(
    spark, tmp_path, monkeypatch, case
):
    """Each keyed or append-only sink commits a batch with one manifest
    replace (``sinks._commit_fence``). A failure just before it leaves
    every reader on the previous batch; the replay converges to the
    one-shot result, and so does a second replay of the committed
    batch (its commit-log entry deleted)."""
    from dns_log_transformer_spark.streaming import sinks

    start, schema, b1, b2, read, want = _crash_cases(spark)[case]
    src = tmp_path / "src"
    src.mkdir()
    table, ck = str(tmp_path / "store"), tmp_path / "ck"

    def run():
        q = start(spark.readStream.schema(schema).json(str(src)), table, str(ck))
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    def feed(name, rows):
        with open(src / name, "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")

    feed("b1.json", b1)
    run()
    old = read(table)
    assert old == want(b1)
    assert old != want(b1 + b2), "batch 2 changes nothing — vacuous test"

    def crash(root, epoch, tables):
        raise RuntimeError("injected crash before the manifest commit")

    feed("b2.json", b2)
    monkeypatch.setattr(sinks, "_commit_fence", crash)
    with pytest.raises(Exception, match="injected crash"):
        run()
    assert read(table) == old

    monkeypatch.undo()
    run()
    assert read(table) == want(b1 + b2)

    last = max(int(n) for n in os.listdir(ck / "commits") if n.isdigit())
    for name in (str(last), f".{last}.crc"):
        os.remove(ck / "commits" / name)
    run()
    assert (ck / "commits" / str(last)).exists()  # the batch did replay
    assert read(table) == want(b1 + b2)


def test_trigger_available_now_drains_and_stops(spark, tmp_path):
    """Trigger.AvailableNow — the batch-backfill mode of a streaming
    pipeline (drain everything currently available in rate-limited
    micro-batches, then STOP) — must terminate on its own and produce
    exactly the batch-equivalent result; a file landing after
    termination stays unread until the next run (which picks it up from
    the checkpoint)."""
    import json as _json

    src = tmp_path / "in"
    src.mkdir()
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    for i in range(3):
        with open(src / f"b{i}.json", "w") as f:
            for j in range(10):
                f.write(_json.dumps({"k": i * 10 + j}) + "\n")

    def run():
        q = (
            spark.readStream.schema("k long")
            .option("maxFilesPerTrigger", 1)
            .json(str(src))
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120), "AvailableNow did not self-stop"

    run()
    assert spark.read.parquet(out).count() == 30

    # late file: invisible until the NEXT AvailableNow run drains it
    with open(src / "late.json", "w") as f:
        f.write(_json.dumps({"k": 999}) + "\n")
    run()
    got = {r["k"] for r in spark.read.parquet(out).collect()}
    assert len(got) == 31 and 999 in got


def test_ivf_index_sink_clears_emptied_cell_and_survives_null_delete(
    spark, tmp_path
):
    """Two regressions pinned: (a) a delete row carrying a NULL
    embedding must not reach the assignment UDF (a delete is not
    required to carry a vector); (b) a cell whose LAST resident is
    deleted must disappear from the cells table — dynamic partition
    overwrite alone cannot clear a partition that no written row
    belongs to, so the sink must remove the emptied directory."""
    import json as _json
    import os as _os

    import numpy as np

    from dns_log_transformer_spark.streaming import ivf_index_sink, read_index

    codebook = (
        np.array([0, 1]),
        np.array([[1.0, 0.0], [-1.0, 0.0]]),
    )
    src = tmp_path / "changes"
    src.mkdir()
    table = str(tmp_path / "ivf")
    stream = spark.readStream.schema(
        "vec_id long, version int, op string, embedding array<double>"
    ).json(str(src))
    q = ivf_index_sink(stream, codebook, table, str(tmp_path / "ck"))
    try:
        with open(src / "b0.json", "w") as f:
            f.write(
                _json.dumps(
                    {"vec_id": 1, "version": 0, "op": "U",
                     "embedding": [1.0, 0.1]}
                )
                + "\n"
            )
            f.write(
                _json.dumps(
                    {"vec_id": 2, "version": 0, "op": "U",
                     "embedding": [-0.9, 0.0]}
                )
                + "\n"
            )
        q.processAllAvailable()
        assert {
            (r["vec_id"], r["cell"])
            for r in read_index(spark, table).collect()
        } == {(1, 0), (2, 1)}

        # delete vec 2 (cell 1's only resident) with a NULL embedding
        with open(src / "b1.json", "w") as f:
            f.write(
                _json.dumps(
                    {"vec_id": 2, "version": 1, "op": "D",
                     "embedding": None}
                )
                + "\n"
            )
        q.processAllAvailable()
    finally:
        q.stop()

    got = {(r["vec_id"], r["cell"]) for r in read_index(spark, table).collect()}
    assert got == {(1, 0)}, got
    assert not _os.path.isdir(
        _os.path.join(table, "cells", "cell=1")
    ), "emptied cell partition left on disk"


def test_corpus_monitor_reconciles_cap_crossing(spark, tmp_path):
    """r8 watch-item closed: on a corpus where a band bucket CROSSES the
    occupancy cap mid-stream, the append-only pairs/ store keeps the
    early hot pairs — but read_scorecard must STILL equal the one-shot
    batch scorecard, because near-dup membership is read through
    read_pairs_reconciled (pairs re-checked against FINAL bucket
    occupancy at read time). The raw-store assertion guards against a
    vacuous pass: the divergence must actually exist for the
    reconciliation to close."""
    import json as _json

    from dns_log_transformer_spark.operators import corpus
    from dns_log_transformer_spark.streaming import (
        corpus_monitor_sink,
        read_scorecard,
    )
    from dns_log_transformer_spark.streaming.neardup_index import (
        read_pairs,
        read_pairs_reconciled,
    )

    hot = "the quick brown fox jumps over the lazy dog again and again"
    cold_a = "completely different cold text about spark shuffles here"
    cold_b = "completely different cold text about spark shuffles there"
    bench = spark.createDataFrame(
        [
            (
                999,
                "an unrelated benchmark document with enough words that "
                "eight gram shingles exist for the bloom filter build",
                "bench",
            )
        ],
        "doc_id long, text string, source string",
    )
    b1 = [(1, hot, "hot"), (2, hot, "hot"), (3, hot, "hot")]
    b2 = [
        (4, hot, "hot"),
        (5, hot, "hot"),
        (6, hot, "hot"),
        (7, cold_a, "cold"),
        (8, cold_b, "cold"),
    ]

    src = tmp_path / "docs"
    src.mkdir()
    table = str(tmp_path / "capmon")
    stream = spark.readStream.schema(
        "doc_id long, text string, source string"
    ).json(str(src))
    q = corpus_monitor_sink(
        stream, bench, table, str(tmp_path / "ck"), bucket_cap=3
    )
    try:
        for name, chunk in [("b1", b1), ("b2", b2)]:
            with open(src / f"{name}.json", "w") as f:
                for did, text, source in chunk:
                    f.write(
                        _json.dumps(
                            {"doc_id": did, "text": text, "source": source}
                        )
                        + "\n"
                    )
            q.processAllAvailable()
    finally:
        q.stop()

    nd = str(tmp_path / "capmon" / "neardup")
    raw = {
        (r["doc_a"], r["doc_b"]) for r in read_pairs(spark, nd).collect()
    }
    # batch 1 emitted hot pairs while the bucket (occupancy 3) was at
    # the cap; batch 2 pushed final occupancy to 6 > 3
    assert {(1, 2), (1, 3), (2, 3)} <= raw, (
        "planted crossing did not materialize — vacuous test"
    )
    recon = {
        (r["doc_a"], r["doc_b"])
        for r in read_pairs_reconciled(spark, nd, bucket_cap=3).collect()
    }
    assert recon == {(7, 8)}, f"reconciliation kept over-cap pairs: {recon}"

    got = {
        tuple(r)
        for r in read_scorecard(spark, table, bucket_cap=3).collect()
    }
    full = spark.createDataFrame(
        b1 + b2, "doc_id long, text string, source string"
    )
    want = {
        tuple(r)
        for r in corpus.source_scorecard(full, bench, bucket_cap=3).collect()
    }
    assert got == want


def test_neardup_sink_self_compacts_mid_stream(spark, tmp_path):
    """Self-compaction wired INTO the sink (VERDICT r12 #4): with
    compact_max_files=1 the near-dup sink compacts its own shingle and
    bucket stores at the end of every batch that crosses the threshold
    — streamed over 5 batches, the worst partition's file count stays
    at 1 after every batch (without the trigger it would be 5: each
    batch appends one file per touched partition at n_buckets=2), and
    the accumulated pairs/ output still EXACTLY equals the one-shot
    batch operator — compaction changed files, never rows."""
    import json as _json
    import os as _os

    from dns_log_transformer_spark.operators import dedup
    from dns_log_transformer_spark.streaming import (
        neardup_index_sink,
        read_pairs,
    )
    from dns_log_transformer_spark.streaming.compact import (
        compaction_due,
        max_files_per_partition,
    )

    docs = [
        (r["doc_id"], r["text"])
        for r in spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet"
        )
        .select("doc_id", "text")
        .limit(60)
        .collect()
    ]
    batches = [docs[i::5] for i in range(5)]
    src = tmp_path / "docs"
    src.mkdir()
    table = str(tmp_path / "ndindex")
    stream = spark.readStream.schema("doc_id long, text string").json(str(src))
    q = neardup_index_sink(
        stream,
        table,
        str(tmp_path / "ck"),
        n_buckets=2,
        compact_max_files=1,
    )
    observed = []
    try:
        for i, chunk in enumerate(batches):
            with open(src / f"b{i}.json", "w") as f:
                for did, text in chunk:
                    f.write(_json.dumps({"doc_id": did, "text": text}) + "\n")
            q.processAllAvailable()
            observed.append(
                (
                    max_files_per_partition(_os.path.join(table, "shingles")),
                    max_files_per_partition(_os.path.join(table, "buckets")),
                )
            )
    finally:
        q.stop()
    # the trigger fired MID-STREAM: every post-batch observation is the
    # compacted 1 file/partition (accumulation would read 2..5 here)
    assert observed == [(1, 1)] * 5, observed
    assert compaction_due(table, max_files=1) == []
    # rows unchanged: accumulated pairs == the one-shot batch operator
    got = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in read_pairs(spark, table).collect()
    }
    full = spark.createDataFrame(docs, "doc_id long, text string")
    want = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in dedup.minhash_lsh_pairs(full).collect()
    }
    assert len(want) > 0, "fixture subset produced no near-dup pairs"
    assert got == want


def test_winnow_sink_self_compacts_and_spans_unchanged(spark, tmp_path):
    """The winnow twin of the self-compaction pin, driven through the
    public merge_docs_batch (the mv_sink.merge_epoch convention): the
    anchors store — the sink's only append-only table — stays at 1
    file/partition after every batch, and the final spans equal the
    one-shot corpus.winnow_span_dedup."""
    import os as _os

    from dns_log_transformer_spark.operators import corpus
    from dns_log_transformer_spark.streaming import read_spans
    from dns_log_transformer_spark.streaming.compact import (
        max_files_per_partition,
    )
    from dns_log_transformer_spark.streaming.winnow_index import (
        merge_docs_batch,
    )

    docs = [
        (r["doc_id"], r["text"])
        for r in spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet"
        )
        .select("doc_id", "text")
        .limit(40)
        .collect()
    ]
    table = str(tmp_path / "widx")
    observed = []
    for i in range(4):
        batch = spark.createDataFrame(
            docs[i::4], "doc_id long, text string"
        )
        merge_docs_batch(
            batch, table, n_buckets=2, compact_max_files=1
        )
        observed.append(
            max_files_per_partition(_os.path.join(table, "anchors"))
        )
    assert observed == [1] * 4, observed
    got = {tuple(r) for r in read_spans(spark, table).collect()}
    full = spark.createDataFrame(docs, "doc_id long, text string")
    want = {tuple(r) for r in corpus.winnow_span_dedup(full).collect()}
    assert len(want) > 0, "fixture subset produced no shared spans"
    assert got == want


def test_maybe_compact_trigger_policy(spark, tmp_path):
    """The compaction TRIGGER (VERDICT r11 #3): maybe_compact is a
    cheap no-op below the file-count threshold, fires on exactly the
    sub-tables whose worst partition crossed it, preserves content,
    and the sink keeps merging correctly afterwards (the foreachBatch
    quiesce point is safe by construction: batches serialize)."""
    import glob

    from dns_log_transformer_spark.streaming.compact import (
        compaction_due,
        max_files_per_partition,
        maybe_compact,
    )
    from dns_log_transformer_spark.streaming.sinks import read_manifest
    from dns_log_transformer_spark.streaming.winnow_index import (
        merge_docs_batch,
        read_spans,
    )

    wtab = str(tmp_path / "winnow")
    boiler = "the quick brown fox jumps over the lazy dog again and again"

    def batch(b):
        rows = [
            (b * 10 + i, f"doc {b} {i} prefix {boiler} suffix {b}-{i}")
            for i in range(5)
        ]
        merge_docs_batch(
            spark.createDataFrame(rows, "doc_id long, text string"), wtab
        )

    for b in range(3):
        batch(b)
        # the per-batch call pattern: generous threshold stays a no-op
        assert maybe_compact(spark, wtab, max_files=999) == {}

    pre = sorted(tuple(r) for r in read_spans(spark, wtab).collect())
    assert pre, "fixture produced no shared spans"
    due = compaction_due(wtab, max_files=1)
    assert due, "3 batches over shared spans must exceed 1 file somewhere"
    res = maybe_compact(spark, wtab, max_files=1)
    assert sorted(res) == sorted(due)
    post = sorted(tuple(r) for r in read_spans(spark, wtab).collect())
    assert post == pre
    tables = read_manifest(wtab)["tables"]
    for sub in res:
        assert max_files_per_partition(f"{wtab}/{sub}") == 1
        # every bucket the manifest names is one dir holding one file
        for bucket, dirs in tables[sub].items():
            assert len(dirs) == 1
            assert len(glob.glob(f"{wtab}/{sub}/{bucket}/{dirs[0]}/*.parquet")) == 1
    # freshly compacted: the same threshold is a no-op again
    assert compaction_due(wtab, max_files=1) == []
    # the NEXT batch still lands normally on the swapped-in store
    batch(3)
    after = read_spans(spark, wtab).collect()
    assert {r["doc_id"] for r in after} >= {r[0] for r in pre}
    assert any(r["doc_id"] >= 30 for r in after), "batch 3 spans missing"


def test_compact_store_preserves_content_and_fence(spark, tmp_path):
    """Small-file compaction (streaming/compact.py) — the measured
    mitigation for the sinks' only per-batch growth term (file
    accumulation in touched buckets, PLANS.md r11 curve): after
    compacting a multi-batch winnow store the manifest names ONE dir
    holding ONE file per bucket and read_spans is row-identical. On an
    mv store compaction leaves the fold base alone, and compact_mv
    folds the live partial into a new fenced base with read_mv
    unchanged."""
    import glob

    from dns_log_transformer_spark.streaming import sinks
    from dns_log_transformer_spark.streaming.compact import compact_store
    from dns_log_transformer_spark.streaming.mv_sink import (
        compact_mv,
        merge_epoch,
        read_mv,
    )
    from dns_log_transformer_spark.streaming.winnow_index import (
        merge_docs_batch,
        read_spans,
    )

    # --- winnow store over 3 batches (shared text so spans exist)
    wtab = str(tmp_path / "winnow")
    boiler = "the quick brown fox jumps over the lazy dog again and again"
    for b in range(3):
        rows = [
            (b * 10 + i, f"doc {b} {i} prefix {boiler} suffix {b}-{i}")
            for i in range(5)
        ]
        merge_docs_batch(
            spark.createDataFrame(rows, "doc_id long, text string"), wtab
        )
    pre = sorted(tuple(r) for r in read_spans(spark, wtab).collect())
    assert pre, "fixture produced no shared spans"
    res = compact_store(spark, wtab)
    assert set(res) == {"anchors", "fpagg", "spans"}
    post = sorted(tuple(r) for r in read_spans(spark, wtab).collect())
    assert post == pre
    tables = sinks.read_manifest(wtab)["tables"]
    for sub in res:
        assert len(tables[sub]) == res[sub]
        for bucket, dirs in tables[sub].items():
            assert len(dirs) == 1
            assert len(glob.glob(f"{wtab}/{sub}/{bucket}/{dirs[0]}/*.parquet")) == 1

    # --- mv store: fold, then one live epoch, then compaction
    mtab = str(tmp_path / "mv")
    facts = spark.createDataFrame(
        [(k % 7, k) for k in range(100)], "k long, v long"
    )
    for e in range(3):
        merge_epoch(facts, e, mtab, "k", "v")
    compact_mv(spark, mtab)  # creates _FENCE + _base_e2
    merge_epoch(facts, 3, mtab, "k", "v")  # live partial above the fence
    pre_mv = sorted(tuple(r) for r in read_mv(spark, mtab).collect())
    assert compact_store(spark, mtab) == {}  # a fold base is one dir already
    assert sinks.read_fence(mtab) == (2, "_base_e2")
    compact_mv(spark, mtab)
    assert sinks.read_fence(mtab) == (3, "_base_e3")
    assert os.path.isdir(os.path.join(mtab, "_base_e3"))
    assert not os.path.isdir(os.path.join(mtab, "_epoch=3"))
    post_mv = sorted(tuple(r) for r in read_mv(spark, mtab).collect())
    assert post_mv == pre_mv


def test_mv_sink_self_fold_trigger(spark, tmp_path):
    """VERDICT r13 #4: the epoch log grows one partition per batch by
    design; with compact_max_epochs wired the sink folds itself
    mid-stream and the view stays exactly equal to the batch aggregate
    after EVERY batch — exactly-once across the fold."""
    import json as _json
    import os as _os

    from dns_log_transformer_spark.streaming import mv_sink, read_mv

    src = tmp_path / "facts"
    src.mkdir()
    table = str(tmp_path / "mv")
    stream = spark.readStream.schema("k string, v long").json(str(src))
    q = mv_sink(
        stream, table, str(tmp_path / "ck"), "k", "v", compact_max_epochs=2
    )
    rows: list[tuple[str, int]] = []
    try:
        for b in range(6):
            batch = [(f"k{i % 3}", b * 10 + i) for i in range(5)]
            rows += batch
            with open(src / f"b{b}.json", "w") as f:
                for k, v in batch:
                    f.write(_json.dumps({"k": k, "v": v}) + "\n")
            q.processAllAvailable()
            got = {
                (r["key"], r["n_rows"], r["sum_val"])
                for r in read_mv(spark, table).collect()
            }
            want_df = spark.createDataFrame(rows, "k string, v long")
            want = {
                (r["k"], r["n"], r["s"])
                for r in want_df.groupBy("k")
                .agg(
                    F.count("*").cast("long").alias("n"),
                    F.sum("v").cast("long").alias("s"),
                )
                .collect()
            }
            assert got == want, f"batch {b}"
            # fold keeps unfolded partials bounded by the trigger
            unfolded = [
                e for e in _os.listdir(table) if e.startswith("_epoch=")
            ]
            assert len(unfolded) <= 3, unfolded
    finally:
        q.stop()


def test_corpus_monitor_flags_compaction_mid_stream(spark, tmp_path):
    """VERDICT r13 #4: the flags store appends one file set per batch
    (the r14 drift sweep's growing curve); with compact_max_files wired
    the worst partition stays at 1 file after EVERY batch while the
    scorecard still exactly equals the batch twin."""
    import json as _json

    from dns_log_transformer_spark.operators import corpus
    from dns_log_transformer_spark.streaming import (
        corpus_monitor_sink,
        read_scorecard,
    )
    from dns_log_transformer_spark.streaming.compact import (
        max_files_per_partition,
    )

    full = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text", "source")
        .orderBy("doc_id")
        .limit(120)
    )
    docs = [(r["doc_id"], r["text"], r["source"]) for r in full.collect()]
    bench = full.filter(F.col("doc_id") % 29 == 0)
    src = tmp_path / "docs"
    src.mkdir()
    table = str(tmp_path / "monitor")
    stream = spark.readStream.schema(
        "doc_id long, text string, source string"
    ).json(str(src))
    q = corpus_monitor_sink(
        stream, bench, table, str(tmp_path / "ck"), compact_max_files=1
    )
    seen: list[tuple] = []
    try:
        for b in range(4):
            chunk = docs[b * 30 : (b + 1) * 30]
            seen += chunk
            with open(src / f"b{b}.json", "w") as f:
                for d, t, s in chunk:
                    f.write(
                        _json.dumps({"doc_id": d, "text": t, "source": s})
                        + "\n"
                    )
            q.processAllAvailable()
            assert max_files_per_partition(f"{table}/flags") == 1
            got = {
                tuple(r) for r in read_scorecard(spark, table).collect()
            }
            so_far = spark.createDataFrame(
                seen, "doc_id long, text string, source string"
            )
            want = {
                tuple(r)
                for r in corpus.source_scorecard(so_far, bench).collect()
            }
            assert got == want, f"batch {b}"
    finally:
        q.stop()
