"""Load generator and syslog collector, run as its own process.

It POSTs seeded Firehose requests to the receiver closed loop over two
connections: each sender posts its next request when the previous one is
acked. It also hosts the UDP collector the pipeline's syslog sink sends
to, and checks every arriving line against the independently formatted
expectation. Keeping all of this out of the
process under test means the load shares no interpreter with the system.

Protocol: one JSON command per stdin line, one JSON reply per stdout line.
The first stdout line announces the collector port.
"""

from __future__ import annotations

import argparse
import collections
import http.client
import json
import socket
import sys
import threading
import time
import traceback

sys.path.insert(0, __file__.rsplit("/", 1)[0])

from records import Post, line_key, mask  # noqa: E402

#: Collector receive buffer: room for several seconds of the syslog sink's
#: peak send rate, so the collector is never what drops lines. Without
#: CAP_NET_ADMIN the kernel caps it at net.core.rmem_max; the first reply
#: reports what was granted.
RCVBUF_BYTES = 128 * 1024 * 1024
SO_RCVBUFFORCE = getattr(socket, "SO_RCVBUFFORCE", 33)
SENDERS = 2
SYSLOG_PREFIX = b"<30>"
#: How long a check waits for the last expected line.
CHECK_TIMEOUT_S = 10.0


class Collector:
    """UDP syslog collector; a thread keeps each datagram as it arrives."""

    def __init__(self):
        self.sock = socket.socket(socket.AF_INET, socket.SOCK_DGRAM)
        try:
            self.sock.setsockopt(socket.SOL_SOCKET, SO_RCVBUFFORCE, RCVBUF_BYTES)
        except PermissionError:
            self.sock.setsockopt(socket.SOL_SOCKET, socket.SO_RCVBUF, RCVBUF_BYTES)
        self.sock.bind(("127.0.0.1", 0))
        self.port = self.sock.getsockname()[1]
        self.rcvbuf = self.sock.getsockopt(socket.SOL_SOCKET, socket.SO_RCVBUF)
        self.arrivals: list[bytes] = []
        self._stopping = False
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _run(self) -> None:
        # a blocking recv is one syscall per datagram; close() wakes it
        recv, out = self.sock.recv, self.arrivals
        while True:
            data = recv(65535)
            if self._stopping:
                return
            out.append(data)

    def take(self) -> list[bytes]:
        n = len(self.arrivals)
        chunk = self.arrivals[:n]
        del self.arrivals[:n]
        return chunk

    def drops(self) -> int:
        """Datagrams the kernel dropped on this socket (/proc/net/udp)."""
        suffix = f":{self.port:04X}"
        with open("/proc/net/udp") as f:
            for row in f.readlines()[1:]:
                cols = row.split()
                if cols[1].endswith(suffix):
                    return int(cols[-1])
        return 0

    def close(self) -> None:
        self._stopping = True
        with socket.socket(socket.AF_INET, socket.SOCK_DGRAM) as wake:
            wake.sendto(b"", ("127.0.0.1", self.port))
        self._thread.join(timeout=5)
        self.sock.close()


def _post(port: int, body: bytes) -> int:
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=60)
    try:
        conn.request("POST", "/endpoint", body, {"Content-Type": "application/json"})
        resp = conn.getresponse()
        resp.read()
        return resp.status
    finally:
        conn.close()


class LoadGen:
    def __init__(self, seed: int):
        self.seed = seed
        self.collector = Collector()
        #: stream -> post number -> Post
        self.sent: dict[str, dict[int, Post]] = collections.defaultdict(dict)
        #: (stream, post, idx) -> [(masked line, client id)]
        self.got: dict[tuple, list] = collections.defaultdict(list)
        #: lines that name no record of any stream: wrong output
        self.stray = 0

    def post(self, cmd: dict) -> dict:
        """Send ``posts`` requests of ``records`` records each, closed loop."""
        stream, n, size = cmd["stream"], cmd["posts"], cmd["records"]
        posts = [Post(self.seed, stream, k, size) for k in range(n)]
        results: list = [None] * n
        nxt = iter(range(n))
        lock = threading.Lock()

        def sender() -> None:
            while True:
                with lock:
                    k = next(nxt, None)
                if k is None:
                    return
                sent = time.monotonic()
                try:
                    status = _post(cmd["port"], posts[k].body)
                except OSError:
                    status = -1
                results[k] = (sent, time.monotonic(), status)

        threads = [threading.Thread(target=sender) for _ in range(SENDERS)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        post_ms, non_200, nbytes = [], 0, 0
        for k, (sent, acked, status) in enumerate(results):
            post_ms.append((acked - sent) * 1e3)
            nbytes += len(posts[k].body)
            posts[k].body = b""
            if status != 200:
                non_200 += 1
            self.sent[stream][k] = posts[k]
        return {"posts": n, "records": n * size, "bytes": nbytes, "non_200": non_200, "post_ms": post_ms}

    def _drain(self) -> None:
        for data in self.collector.take():
            line = data[len(SYSLOG_PREFIX):].decode("utf-8", "replace") if data.startswith(SYSLOG_PREFIX) else None
            key = line_key(line) if line is not None else None
            if key is None:
                self.stray += 1
                continue
            masked, hexid = mask(line)
            self.got[key].append((masked, hexid))

    def check(self, cmd: dict) -> dict:
        """Wait for every expected line of ``streams``, then compare, record
        by record, what arrived with what was sent. Forgets those streams;
        stray lines drained meanwhile count as mismatches."""
        streams = cmd["streams"]
        expected = sum(len(p.lines) for s in streams for p in self.sent[s].values())
        deadline = time.monotonic() + CHECK_TIMEOUT_S
        while True:
            self._drain()
            have = sum(len(v) for k, v in self.got.items() if k[0] in streams)
            if have >= expected or time.monotonic() > deadline:
                break
            time.sleep(0.05)
        time.sleep(0.1)  # let duplicates, if any, arrive too
        self._drain()
        missing = dup = split_ids = received = 0
        mismatch, self.stray = self.stray, 0
        failed: list[tuple[int, int]] = []
        for s in streams:
            for post_no, post in self.sent.pop(s).items():
                want: dict[int, collections.Counter] = collections.defaultdict(collections.Counter)
                for idx, _, _, line in post.lines:
                    want[idx][line] += 1
                for idx, lines in want.items():
                    got = self.got.pop((s, post_no, idx), [])
                    received += len(got)
                    have_c = collections.Counter(m for m, _ in got)
                    miss = sum((lines - have_c).values())
                    extra = have_c - lines
                    bad = sum(c for m, c in extra.items() if m not in lines)
                    missing += miss
                    mismatch += bad
                    dup += sum(extra.values()) - bad
                    ids = {h for _, h in got}
                    split_ids += len(ids) > 1
                    if miss or extra or len(ids) > 1:
                        failed.append((post_no, idx))
                for idx in post.rejects:
                    got = self.got.pop((s, post_no, idx), [])
                    mismatch += len(got)
                    if got:
                        failed.append((post_no, idx))
        for key in [k for k in self.got if k[0] in streams]:
            mismatch += len(self.got.pop(key))
        return {
            "received": received,
            "missing": missing,
            "dup": dup,
            "mismatch": mismatch,
            "split_ids": split_ids,
            "failed_keys": failed,
            "drops": self.collector.drops(),
        }


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seed", type=int, required=True)
    args = ap.parse_args()
    gen = LoadGen(args.seed)
    print(json.dumps({"port": gen.collector.port, "rcvbuf": gen.collector.rcvbuf}), flush=True)
    ops = {"post": gen.post, "check": gen.check}
    try:
        for raw in sys.stdin:
            cmd = json.loads(raw)
            if cmd["op"] == "quit":
                break
            try:
                reply = ops[cmd["op"]](cmd)
            except Exception:  # reported to the benchmark, which fails the run
                reply = {"error": traceback.format_exc()}
            print(json.dumps(reply), flush=True)
    finally:
        gen.collector.close()


if __name__ == "__main__":
    main()
