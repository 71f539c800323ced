"""The DNS workload: Firehose POSTs -> receiver -> landing files ->
``start_pipeline`` (syslog, archive and quarantine sinks) -> collector.

dns_backlog posts Firehose-sized requests closed loop, then drains them
with one availableNow run of the pipeline, round after round; each round
gets fresh landing and output directories so rounds are alike.
"""

from __future__ import annotations

import collections
import datetime as dt
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

from common import job_stats, now
from records import Post, mask

PIPELINE_QUERIES = ("dns_syslog", "dns_archive", "dns_quarantine")
PHASES = ("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit", "commitOffsets", "triggerExecution")

#: Requests per backlog round and records per request.
FULL = {"backlog_posts": 8, "backlog_records": 1000}
SMOKE = {"backlog_posts": 2, "backlog_records": 100}


class LoadGen:
    """The load generator process and its JSON-lines protocol."""

    def __init__(self, seed: int):
        here = os.path.dirname(os.path.abspath(__file__))
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(here, "loadgen.py"), "--seed", str(seed)],
            stdin=subprocess.PIPE,
            stdout=subprocess.PIPE,
            text=True,
        )
        hello = json.loads(self.proc.stdout.readline())
        self.port, self.rcvbuf = hello["port"], hello["rcvbuf"]

    def call(self, **cmd) -> dict:
        self.proc.stdin.write(json.dumps(cmd) + "\n")
        self.proc.stdin.flush()
        line = self.proc.stdout.readline()
        if not line:
            raise RuntimeError("load generator exited")
        reply = json.loads(line)
        if "error" in reply:
            raise RuntimeError("load generator failed:\n" + reply["error"])
        return reply

    def close(self) -> None:
        if self.proc.poll() is None:
            self.proc.stdin.write(json.dumps({"op": "quit"}) + "\n")
            self.proc.stdin.close()
        self.proc.wait(timeout=30)
        self.proc.stdout.close()


class DnsSystem:
    """One set-up of the system under test: session, receiver, warm pipeline."""

    def __init__(self, bench, gen: LoadGen, size: dict):
        from dns_log_transformer_spark.sources.receiver import FirehoseReceiver

        from common import start_spark

        self.bench, self.gen = bench, gen
        tr = bench.tr
        with tr.span("session"):
            self.spark = start_spark(bench.cpus)
        self.landing = os.path.join(bench.work, "landing")
        with tr.span("sources.receiver"):
            self.rx = FirehoseReceiver(self.landing, host="127.0.0.1").start()
        with tr.span("warmup"):
            # one drain of twice a round's records compiles the pipeline's
            # code paths, starts the Python worker the syslog sink runs in
            # and lets the JIT settle: without it the first four rounds of a
            # run drain up to twice as slow as the rest
            w = self.round("w", 2 * size["backlog_posts"], size["backlog_records"], checked=False)
            self.check_round(w, checked=False)

    def take_landing(self, name: str) -> str:
        """Move what the receiver landed so far aside, as one input set."""
        dest = os.path.join(self.bench.work, name)
        os.makedirs(dest)
        os.rename(self.landing, os.path.join(dest, "landing"))
        os.makedirs(self.landing)
        return dest

    def start(self, out: str, landing: str):
        from dns_log_transformer_spark.streaming.pipeline import start_pipeline

        return start_pipeline(
            self.spark,
            landing,
            out,
            syslog_host="127.0.0.1",
            syslog_port=self.gen.port,
            archive=True,
            available_now=True,
        )

    def round(self, stream: str, posts: int, records: int, checked: bool = True) -> dict:
        """Closed-loop POSTs, then one availableNow drain; returns timings.
        Its outputs stay on disk until ``check_round``."""
        b, tr = self.bench, self.bench.tr
        with tr.span("sources.receiver", req=stream):
            sent = self.gen.call(op="post", port=self.rx.port, stream=stream, posts=posts, records=records)
        d = self.take_landing(stream)
        t0 = now()
        with tr.span("streaming.pipeline.start", req=stream):
            qs = self.start(os.path.join(d, "out"), os.path.join(d, "landing"))
        t_started = now()
        with tr.span("streaming.pipeline.drain", req=stream):
            for q in qs:
                q.awaitTermination()
            drain = now() - t0
            if checked:
                b.progress(self.spark, qs)
        if checked:
            b.layer["pipeline.start_s"] += t_started - t0
            b.received(sent, stream)
        return {"stream": stream, "dir": d, "sent": sent, "records": records, "drain_s": drain}

    def check_round(self, r: dict, checked: bool = True) -> None:
        """Check a round's outputs, then delete them."""
        b, stream, d = self.bench, r["stream"], r["dir"]
        syslog = self.gen.call(op="check", streams=[stream])
        if checked:
            b.check_outputs(stream, r["sent"], r["records"], os.path.join(d, "out"), syslog)
            if b.tr.enabled:
                b.transforms_batch(self.spark, os.path.join(d, "landing"), stream)
        shutil.rmtree(d)

    def close(self) -> None:
        """Stop the receiver, the session and the JVM."""
        from common import shutdown_jvm

        self.rx.stop()
        shutdown_jvm(self.spark)


def _progress_start(p) -> float:
    """A progress report's batch start on the monotonic clock."""
    wall = dt.datetime.strptime(p.timestamp, "%Y-%m-%dT%H:%M:%S.%fZ").replace(tzinfo=dt.timezone.utc)
    return wall.timestamp() - (time.time() - time.monotonic())


class DnsChecks:
    """Output checks and per-layer accounting, mixed into the benchmark."""

    def received(self, sent: dict, stream: str) -> None:
        self.layer["receiver.requests"] += sent["posts"]
        self.layer["receiver.bytes"] += sent["bytes"]
        self.layer["receiver.non_200"] += sent["non_200"]
        self.post_ms += sent["post_ms"]

    def progress(self, spark, qs) -> None:
        """Fold the queries' progress reports into the pipeline metrics,
        phase times summed over batches."""
        if not self.tr.enabled:
            return
        for q in qs:
            reports = [p for p in q.recentProgress if p.numInputRows > 0]
            jobs, tasks = job_stats(spark, str(q.runId))
            self.layer["pipeline.jobs"] += jobs
            self.layer["pipeline.tasks"] += tasks
            self.layer["source.rows_read"] += sum(p.numInputRows for p in reports)
            self.layer["source.batches"] += len(reports)
            for p in reports:
                start = _progress_start(p)
                self.tr.add(f"streaming.batch.{q.name}", start, start + p.durationMs.get("triggerExecution", 0) / 1e3)
            for phase in PHASES:
                self.layer[f"pipeline.{q.name}.{phase}_ms"] += sum(p.durationMs.get(phase, 0) for p in reports)

    def transforms_batch(self, spark, landing: str, stream: str) -> None:
        """The same landing files as a batch through the transforms to noop:
        transform cost without the sinks."""
        from dns_log_transformer_spark.streaming.pipeline import build_streaming_lines

        with self.tr.span("transforms", req=stream):
            t0 = now()
            lines, quarantine = build_streaming_lines(spark.read.text(landing))
            lines.write.format("noop").mode("overwrite").save()
            quarantine.write.format("noop").mode("overwrite").save()
            self.layer["transforms.batch_s"] += now() - t0

    def check_outputs(self, stream: str, sent: dict, records: int, out: str, syslog: dict) -> None:
        """Syslog lines (checked by the load generator), the archive and the
        quarantine against the records regenerated from the seed."""
        import duckdb

        with self.tr.span("check", req=stream):
            posts = [Post(self.seed, stream, k, records) for k in range(sent["posts"])]
            bad: set = set(map(tuple, syslog["failed_keys"]))
            self.layer["sinks.syslog_datagrams"] += syslog["received"]
            self.layer["sinks.syslog_missing"] += syslog["missing"]
            self.layer["bench.collector_drops"] = syslog["drops"]
            for what in ("missing", "dup", "mismatch", "split_ids"):
                if syslog[what]:
                    self.problem(f"{stream}: syslog {what} {syslog[what]}")
            con = duckdb.connect()
            arch = self._parquet(con, os.path.join(out, "archive"), "requestId, record_idx, line_no, kind, line")
            quar = self._parquet(con, os.path.join(out, "quarantine"), "requestId, record_idx, reject_reason")
            con.close()
            self.layer["sinks.archive_rows"] += len(arch[1])
            self.layer["sinks.archive_files"] += arch[0]
            self.layer["sinks.quarantine_rows"] += len(quar[1])
            self.layer["sinks.quarantine_files"] += quar[0]
            got_lines: dict = collections.defaultdict(collections.Counter)
            ids: dict = collections.defaultdict(set)
            for rid, idx, line_no, kind, line in arch[1]:
                masked, hexid = mask(line)
                got_lines[(rid, idx)][(line_no, kind, masked)] += 1
                ids[(rid, idx)].add(hexid)
            got_rej = collections.Counter((rid, idx, reason) for rid, idx, reason in quar[1])
            want_rej = collections.Counter()
            for k, p in enumerate(posts):
                want: dict = collections.defaultdict(collections.Counter)
                for idx, line_no, kind, line in p.lines:
                    want[idx][(line_no, kind, line)] += 1
                for idx, lines in want.items():
                    if got_lines.pop((p.rid, idx), None) != lines or len(ids[(p.rid, idx)]) != 1:
                        bad.add((k, idx))
                for idx, reason in p.rejects.items():
                    want_rej[(p.rid, idx, reason)] += 1
                    if got_rej[(p.rid, idx, reason)] != 1:
                        bad.add((k, idx))
            if got_lines:
                self.problem(f"{stream}: {len(got_lines)} archived records were never sent or are poisoned")
            if got_rej != want_rej:
                self.problem(f"{stream}: quarantine differs from the poisoned records")
            if sent["non_200"]:
                self.problem(f"{stream}: {sent['non_200']} requests not acked with 200")
            self.attempted += sent["records"]
            self.failed += len(bad)
            if bad:
                self.problem(f"{stream}: {len(bad)} records with wrong or missing output")

    @staticmethod
    def _parquet(con, path: str, cols: str) -> tuple[int, list]:
        files = [f for f in os.listdir(path) if f.endswith(".parquet")] if os.path.isdir(path) else []
        if not files:
            return 0, []
        rows = con.execute(f"SELECT {cols} FROM read_parquet('{path}/*.parquet')").fetchall()
        return len(files), rows


def run_backlog(bench, system: DnsSystem, seconds: float, size: dict) -> dict:
    """Rounds until ``seconds`` are up; the checks follow, outside the
    measured loop."""
    t_end = now() + seconds
    rounds: list[dict] = []
    while not rounds or now() < t_end:
        rounds.append(system.round(f"b{len(rounds)}", size["backlog_posts"], size["backlog_records"]))
    for r in rounds:
        system.check_round(r)
    return {"throughput_per_s": statistics.median(r["sent"]["records"] / r["drain_s"] for r in rounds)}

