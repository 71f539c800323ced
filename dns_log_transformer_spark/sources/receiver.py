"""Firehose HTTP-endpoint receiver -> landing directory.

The reference's only entry point is `POST /endpoint` served by Flask
(/root/reference/app/app.py:60-102). Spark streams are pull-based, so the
HTTP hop becomes this thin receiver: accept the Firehose request, land the
body durably as one file, ack. `readStream` (streaming/source.py
read_firehose_stream) tails the landing directory.

Reproduced reference behavior:
- `POST /endpoint` with the Firehose ack contract: 200
  {requestId, timestamp} on accept (app/app.py:99-102); 400 with
  errorMessage on a non-JSON content type (app/app.py:69-74), a
  Content-Length that is not a non-negative integer (refused without
  reading the body), an unparseable body, or a body that fails the
  envelope schema (app/app.py:79,88-93) — the rule of
  `transforms.envelope.envelope_validity_predicate`: a string
  `requestId` and 1-10,000 `records`, each an object with a `data`
  string of at most 1,365,336 chars. A rejected body never lands;
- 413 with errorMessage, unread, on a Content-Length above 64 MiB
  (``schemas.MAX_REQUEST_BODY_BYTES``, Firehose's largest HTTP-endpoint
  buffer), so one request cannot make the receiver buffer an unbounded
  body;
- `GET /health` -> 200 (app/app.py:265-267).

Deliberate upgrade (documented for parity review): the reference acks
BEFORE processing and loses accepted records on crash (fire-and-forget
executor.submit, app/app.py:96-102 — at-most-once). Here the ack happens
AFTER fsync+rename of the landing file, and the stream's checkpoint
replays unprocessed files — at-least-once end to end. Record
*validation* stays in-pipeline (transforms/decode, validate) where
rejects are quarantined as data, not just logged; the in-pipeline
envelope predicate still guards files that reach the landing directory
some other way.
"""

from __future__ import annotations

import json
import os
import threading
import time
import uuid
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from dns_log_transformer_spark.schemas import (
    MAX_RECORD_DATA_CHARS,
    MAX_RECORDS_PER_REQUEST,
    MAX_REQUEST_BODY_BYTES,
    MIN_RECORDS_PER_REQUEST,
)


#: CR and LF -> space, so each landed body is one line
_ONE_LINE = bytes.maketrans(b"\r\n", b"  ")


def _now_ms() -> int:
    return int(time.time() * 1000)


def _envelope_error(body) -> str | None:
    """Why a parsed request body fails the Firehose envelope schema, or
    None when it passes."""
    if not isinstance(body, dict):
        return "request body must be a JSON object"
    if not isinstance(body.get("requestId"), str):
        return "requestId must be a string"
    records = body.get("records")
    if not (
        isinstance(records, list)
        and MIN_RECORDS_PER_REQUEST <= len(records) <= MAX_RECORDS_PER_REQUEST
    ):
        return (
            f"records must be a list of {MIN_RECORDS_PER_REQUEST} to "
            f"{MAX_RECORDS_PER_REQUEST} records"
        )
    for r in records:
        data = r.get("data") if isinstance(r, dict) else None
        if not isinstance(data, str) or len(data) > MAX_RECORD_DATA_CHARS:
            return (
                "every record needs a data string of at most "
                f"{MAX_RECORD_DATA_CHARS} characters"
            )
    return None


class _Handler(BaseHTTPRequestHandler):
    landing_dir: str = "."

    def log_message(self, fmt, *args):  # quiet; diagnostics are data here
        pass

    def _send(self, code: int, body: dict) -> None:
        payload = json.dumps(body).encode()
        self.send_response(code)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(payload)))
        self.end_headers()
        self.wfile.write(payload)

    def _reject(self, message: str, code: int = 400) -> None:
        """Firehose-shaped error reply (app/app.py:69-74)."""
        self._send(
            code, {"requestId": "unknown", "timestamp": _now_ms(), "errorMessage": message}
        )

    def do_GET(self):
        if self.path == "/health":
            self.send_response(200)
            self.send_header("Content-Length", "0")
            self.end_headers()
        else:
            self._send(404, {"errorMessage": "not found"})

    def do_POST(self):
        if self.path != "/endpoint":
            self._send(404, {"errorMessage": "not found"})
            return
        ctype = (self.headers.get("Content-Type") or "").split(";")[0].strip()
        if ctype != "application/json":
            self._reject("Content-Type must be application/json")
            return
        # a non-numeric length would raise with no reply, and a negative one
        # makes read() block until the client closes; refuse both unread
        length_header = (self.headers.get("Content-Length") or "0").strip()
        if not length_header.isdecimal():
            self._reject("Content-Length must be a non-negative integer")
            return
        length = int(length_header)
        if length > MAX_REQUEST_BODY_BYTES:
            self._reject(
                f"request body over {MAX_REQUEST_BODY_BYTES} bytes", code=413
            )
            return
        raw = self.rfile.read(length)
        try:
            body = json.loads(raw)
        except (json.JSONDecodeError, UnicodeDecodeError):
            self._reject("request body is not valid JSON")
            return
        error = _envelope_error(body)
        if error is not None:
            self._reject(error)
            return
        # land durably, THEN ack: tmp-write + fsync + atomic rename so the
        # file stream never sees a partial file and an acked batch is never
        # lost (the reference's at-most-once hole, app/app.py:96-102)
        name = f"{_now_ms()}-{uuid.uuid4().hex}.json"
        tmp = os.path.join(self.landing_dir, f".{name}.tmp")
        final = os.path.join(self.landing_dir, name)
        with open(tmp, "w") as f:
            # the landing source reads one envelope per line; CR and LF in
            # valid JSON are insignificant whitespace (json.loads has refused
            # them raw inside strings), so a pretty-printed body lands whole
            f.write(raw.translate(_ONE_LINE).decode("utf-8", errors="replace"))
            f.write("\n")
            f.flush()
            os.fsync(f.fileno())
        os.rename(tmp, final)
        self._send(200, {"requestId": body["requestId"], "timestamp": _now_ms()})


class FirehoseReceiver:
    """Threaded HTTP receiver writing one landing file per request.

    Usage:
        rx = FirehoseReceiver(landing_dir, port=5555).start()
        ... readStream tails landing_dir ...
        rx.stop()
    """

    def __init__(self, landing_dir: str, host: str = "0.0.0.0", port: int = 0):
        os.makedirs(landing_dir, exist_ok=True)
        handler = type("BoundHandler", (_Handler,), {"landing_dir": landing_dir})
        self.server = ThreadingHTTPServer((host, port), handler)
        self.port = self.server.server_address[1]
        self._thread: threading.Thread | None = None

    def start(self) -> "FirehoseReceiver":
        self._thread = threading.Thread(target=self.server.serve_forever, daemon=True)
        self._thread.start()
        return self

    def stop(self) -> None:
        self.server.shutdown()
        self.server.server_close()
        if self._thread is not None:
            self._thread.join()
