"""HTTP receiver -> landing dir -> streaming pipeline, end to end —
the full reference data path (POST /endpoint through syslog-format
lines), with the receiver's gates mirroring app/app.py:60-102."""

from __future__ import annotations

import http.client
import json
import os
import urllib.error
import urllib.request

from dns_log_transformer_spark.sources import FirehoseReceiver
from dns_log_transformer_spark.streaming import start_pipeline
from tests.test_transforms import envelope_json, expected_bind9_lines, make_record


def _post(url, data: bytes, content_type="application/json"):
    req = urllib.request.Request(url, data=data, headers={"Content-Type": content_type})
    try:
        with urllib.request.urlopen(req, timeout=10) as resp:
            return resp.status, json.loads(resp.read() or b"{}")
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read() or b"{}")


def test_receiver_to_pipeline(spark, tmp_path):
    landing = str(tmp_path / "landing")
    work = str(tmp_path / "work")
    rx = FirehoseReceiver(landing, host="127.0.0.1").start()
    try:
        base = f"http://127.0.0.1:{rx.port}"

        # health probe (app/app.py:265-267)
        with urllib.request.urlopen(f"{base}/health", timeout=10) as resp:
            assert resp.status == 200

        # content-type gate (app/app.py:69-74)
        code, body = _post(f"{base}/endpoint", b"x=1", "application/x-www-form-urlencoded")
        assert code == 400
        assert body["requestId"] == "unknown"
        assert "errorMessage" in body

        # malformed JSON body
        code, body = _post(f"{base}/endpoint", b"{not json")
        assert code == 400

        # a real Firehose batch: ack carries the requestId (app/app.py:99-102)
        rec = make_record()
        code, body = _post(
            f"{base}/endpoint", envelope_json([rec], request_id="req-42").encode()
        )
        assert code == 200
        assert body["requestId"] == "req-42"
        assert isinstance(body["timestamp"], int)

        # the acked batch is durably landed before the ack
        files = [f for f in os.listdir(landing) if not f.startswith(".")]
        assert len(files) == 1
    finally:
        rx.stop()

    queries = start_pipeline(
        spark, landing, work, available_now=True, deterministic_ids=True
    )
    for q in queries:
        q.awaitTermination(timeout=120)
    rows = spark.read.parquet(os.path.join(work, "archive")).orderBy("line_no").collect()
    assert [r["line"] for r in rows] == expected_bind9_lines(rec, "@0x000000000000")


def test_receiver_rejects_bad_content_length(tmp_path):
    """A non-numeric or negative Content-Length gets a Firehose-shaped 400
    without the body being read, and nothing lands. Read as a length, the
    first raises before any reply and the second blocks the handler
    until the client closes."""
    landing = str(tmp_path / "landing")
    rx = FirehoseReceiver(landing, host="127.0.0.1").start()
    try:
        for length in ("abc", "-5"):
            conn = http.client.HTTPConnection("127.0.0.1", rx.port, timeout=10)
            try:
                conn.putrequest("POST", "/endpoint")
                conn.putheader("Content-Type", "application/json")
                conn.putheader("Content-Length", length)
                conn.endheaders(b'{"requestId": "r", "records": []}')
                resp = conn.getresponse()
                body = json.loads(resp.read())
            finally:
                conn.close()
            assert resp.status == 400, length
            assert body["requestId"] == "unknown"
            assert isinstance(body["timestamp"], int)
            assert "Content-Length" in body["errorMessage"]
        assert os.listdir(landing) == []
    finally:
        rx.stop()


def test_receiver_refuses_oversized_body_unread(tmp_path):
    """A Content-Length above MAX_REQUEST_BODY_BYTES gets a Firehose-shaped
    413 before any body byte is read: the request sends its headers only,
    so a receiver that tried to read the body would block instead of
    replying. Nothing lands."""
    from dns_log_transformer_spark.schemas import MAX_REQUEST_BODY_BYTES

    landing = str(tmp_path / "landing")
    rx = FirehoseReceiver(landing, host="127.0.0.1").start()
    try:
        conn = http.client.HTTPConnection("127.0.0.1", rx.port, timeout=10)
        try:
            conn.putrequest("POST", "/endpoint")
            conn.putheader("Content-Type", "application/json")
            conn.putheader("Content-Length", str(MAX_REQUEST_BODY_BYTES + 1))
            conn.endheaders()
            resp = conn.getresponse()
            body = json.loads(resp.read())
        finally:
            conn.close()
        assert resp.status == 413
        assert body["requestId"] == "unknown"
        assert isinstance(body["timestamp"], int)
        assert str(MAX_REQUEST_BODY_BYTES) in body["errorMessage"]
        assert os.listdir(landing) == []
    finally:
        rx.stop()


def test_receiver_lands_pretty_printed_body_as_one_line(spark, tmp_path):
    """An indented JSON body (CR/LF between tokens) is valid Firehose input.
    The landing source splits on CR/LF, so landed verbatim it became nine
    unparseable lines and its records vanished with no quarantine row;
    landed as one line, its BIND9 lines come out of the pipeline."""
    from dns_log_transformer_spark.streaming import build_streaming_lines

    landing = str(tmp_path / "landing")
    rx = FirehoseReceiver(landing, host="127.0.0.1").start()
    try:
        rec = make_record()
        pretty = json.dumps(json.loads(envelope_json([rec], request_id="req-7")), indent=2)
        code, body = _post(
            f"http://127.0.0.1:{rx.port}/endpoint", pretty.replace("\n", "\r\n").encode()
        )
        assert code == 200 and body["requestId"] == "req-7"
    finally:
        rx.stop()
    (name,) = [f for f in os.listdir(landing) if not f.startswith(".")]
    with open(os.path.join(landing, name), newline="") as f:
        landed = f.read()
    assert landed.endswith("\n") and landed.count("\n") == 1 and "\r" not in landed
    lines, quarantine = build_streaming_lines(spark.read.text(landing), deterministic_ids=True)
    assert [r["line"] for r in lines.orderBy("line_no").collect()] == expected_bind9_lines(
        rec, "@0x000000000000"
    )
    assert quarantine.count() == 0


def test_receiver_rejects_bad_envelopes_before_landing(tmp_path):
    """A body that parses as JSON but fails the envelope schema gets the
    Firehose-shaped 400 and nothing lands: acked, its records would be
    dropped by explode_records with no quarantine row. A body at the
    limits still lands."""
    landing = str(tmp_path / "landing")
    rx = FirehoseReceiver(landing, host="127.0.0.1").start()
    url = f"http://127.0.0.1:{rx.port}/endpoint"
    good = {"data": "eA=="}
    bad = [
        {"records": [good]},  # no requestId
        {"requestId": 7, "records": [good]},
        {"requestId": "r", "records": []},
        {"requestId": "r", "records": [good] * 10_001},
        {"requestId": "r", "records": [good, {"data": "x" * 1_365_337}]},
        {"requestId": "r", "records": [good, {"data": None}]},
        {"requestId": "r", "records": [good, {}]},
        {"requestId": "r", "records": [good, "eA=="]},
        [1, 2],
        None,
        "x",
    ]
    try:
        for n, body in enumerate(bad):
            code, reply = _post(url, json.dumps(body).encode())
            assert code == 400, n
            assert reply["requestId"] == "unknown" and reply["errorMessage"], n
        assert os.listdir(landing) == []
        limits = {"requestId": "ok", "records": [{"data": "x" * 1_365_336}] + [good] * 9_999}
        code, reply = _post(url, json.dumps(limits).encode())
        assert code == 200 and reply["requestId"] == "ok"
    finally:
        rx.stop()
    assert len([f for f in os.listdir(landing) if not f.startswith(".")]) == 1
