#!/usr/bin/env python3
"""The repository's benchmark: the DNS path and the batch query surface,
end to end and per layer.

    python3 perfbench/run.py --workload dns_backlog --seed 1 --seconds 20 --trace 0

Workloads (see WORKLOADS): dns_backlog, batch_queries. The last
stdout line is one JSON object: {"correct", "attempted", "failed",
"metrics"}. With --trace 0 the metrics are the end-to-end ones; with
--trace 1 spans are recorded around every call into a layer and the
metrics are the per-layer ones. The traced run's end-to-end numbers are
printed on the line before; baseline.py computes the tracing overhead as
their median minus the untraced runs' median.

Other modes, not workloads:
    --write-manifest        regenerate BENCHMARK.json from the tables below
    --all-queries --sf-dir DIR --out FILE
                            one traced pass over every registry query

End-to-end metrics mean, per workload:
    throughput_per_s  dns_backlog: records posted / drain wall time (median
                      of rounds); batch_queries: queries completed per
                      second of one pass of build + plan + exec
    setup_s           process start to ready: JVM and session up, receiver
                      listening, warm-up done

POST latency (receiver.post_ms_p50, _p99) is a per-layer figure: on a
shared 4-core machine its median doubled between runs minutes apart while
throughput moved by a quarter, more than any bound allows. peak_rss_mb
(this process plus the JVM) is per-layer too: JVM heap growth follows GC
timing. So is failed_share: it is 0 on a correct run.
"""

from __future__ import annotations

import time

T_PROCESS = time.monotonic()

import argparse  # noqa: E402
import collections  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from common import ROOT, WORK, jvm_pid, now, peak_rss_mb, pct, pin_scratch_dirs  # noqa: E402

sys.path.insert(0, ROOT)

import batch  # noqa: E402
import dns_path as dns  # noqa: E402
from spans import Tracer  # noqa: E402

RUN_SECONDS = 12

WORKLOADS = {
    "dns_backlog": "rounds of 8 closed-loop POSTs of 1,000 records (1 in 20 poisoned) over 2 connections, each "
    "drained by one availableNow run: per-byte decode, transform and sink cost",
    "batch_queries": "4 registry queries on the sf0.001 fixture in seeded order, each built, planned and run to a "
    "count: driver build apart from execution",
}

#: name -> (unit, better, bound)
END_TO_END = {
    "setup_s": ("s", "lower", 0.25),
    "throughput_per_s": ("1/s", "higher", 0.25),
}


def _per_layer() -> dict[str, str]:
    """name -> unit. A layer the workload does not run reads 0."""
    m = {
        "peak_rss_mb": "MB",
        "failed_share": "ratio",
        "bench.collector_drops": "count",
        "bench.collector_rcvbuf_bytes": "bytes",
        "receiver.requests": "count",
        "receiver.bytes": "bytes",
        "receiver.non_200": "count",
        "receiver.post_ms_p50": "ms",
        "receiver.post_ms_p99": "ms",
        "source.rows_read": "count",
        "source.batches": "count",
        "pipeline.start_s": "s",
        "pipeline.jobs": "count",
        "pipeline.tasks": "count",
    }
    for q in dns.PIPELINE_QUERIES:
        for phase in dns.PHASES:
            m[f"pipeline.{q}.{phase}_ms"] = "ms"
    m["transforms.batch_s"] = "s"
    for k in ("syslog_datagrams", "syslog_missing", "archive_rows", "archive_files", "quarantine_rows", "quarantine_files"):
        m[f"sinks.{k}"] = "count"
    for q in batch.QUERIES:
        for k in batch.PER_QUERY:
            m[f"q.{q}.{k}"] = "s" if k.endswith("_s") else "count"
    m.update({"batch.build_s": "s", "batch.plan_s": "s", "batch.exec_s": "s", "batch.jobs": "count"})
    for layer in SELF_TIME_LAYERS:
        m[f"self_s.{layer}"] = "s"
    return m


#: Span names whose self time in the measured phase is reported (set-up is
#: in setup_s); streaming.batch spans are micro-batches from progress reports.
SELF_TIME_LAYERS = (
    "sources.receiver",
    "streaming.pipeline.start",
    "streaming.pipeline.drain",
    "streaming.batch",
    "transforms",
    "queries.build",
    "queries.plan",
    "queries.exec",
    "check",
)
PER_LAYER = _per_layer()


class Bench(dns.DnsChecks):
    def __init__(self, args):
        self.seed, self.cpus, self.smoke = args.seed, args.cpus, args.smoke
        self.tr = Tracer(bool(args.trace))
        self.work = os.path.join(WORK, f"{args.workload}-{args.seed}-{os.getpid()}")
        self.layer: dict[str, float] = collections.defaultdict(float)
        self.attempted = self.failed = 0
        self.problems: list[str] = []
        self.post_ms: list[float] = []

    def problem(self, text: str) -> None:
        self.problems.append(text)
        print(f"CHECK FAILED: {text}", file=sys.stderr)


def run_dns(bench: Bench, seconds: float) -> dict:
    size = dns.SMOKE if bench.smoke else dns.FULL
    gen = dns.LoadGen(bench.seed)
    bench.layer["bench.collector_rcvbuf_bytes"] = gen.rcvbuf
    system = None
    try:
        with bench.tr.span("setup"):
            system = dns.DnsSystem(bench, gen, size)
        setup_s = now() - T_PROCESS
        with bench.tr.span("dns_backlog"):
            e2e = dns.run_backlog(bench, system, seconds, size)
        bench.layer["peak_rss_mb"] = peak_rss_mb([os.getpid(), jvm_pid()])
    finally:
        if system is not None:
            system.close()
        gen.close()
    bench.layer["receiver.post_ms_p50"] = pct(bench.post_ms, 50)
    bench.layer["receiver.post_ms_p99"] = pct(bench.post_ms, 99)
    e2e["setup_s"] = setup_s
    return e2e


def run_batch(bench: Bench, seconds: float) -> dict:
    from common import shutdown_jvm, start_spark

    spark = None
    try:
        with bench.tr.span("setup"):
            with bench.tr.span("session"):
                spark = start_spark(bench.cpus)
            with bench.tr.span("warmup"):
                batch.warm_up(spark)
        setup_s = now() - T_PROCESS
        with bench.tr.span("batch_queries"):
            e2e = batch.run_batch(bench, spark, seconds, bench.smoke)
        bench.layer["peak_rss_mb"] = peak_rss_mb([os.getpid(), jvm_pid()])
    finally:
        if spark is not None:
            shutdown_jvm(spark)
    e2e["setup_s"] = setup_s
    return e2e


def manifest() -> dict:
    """BENCHMARK.json, generated from the tables above."""
    return {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": RUN_SECONDS,
        "workloads": [{"name": n, "why": w} for n, w in WORKLOADS.items()],
        "end_to_end": [
            {"name": n, "unit": u, "better": b, "bound": bound} for n, (u, b, bound) in END_TO_END.items()
        ],
        "per_layer": [
            {"name": n, "unit": u, "better": "higher" if n.endswith("per_s") else "lower"} for n, u in PER_LAYER.items()
        ],
    }


def write_manifest() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json"), "w") as f:
        json.dump(manifest(), f, indent=2)
        f.write("\n")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=RUN_SECONDS)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cpus", type=int, default=os.cpu_count(), help="Spark local[N] (1 = the single-threaded reference)")
    ap.add_argument("--smoke", action="store_true", help="tiny sizes, for the benchmark's own test")
    ap.add_argument("--write-manifest", action="store_true")
    ap.add_argument("--all-queries", action="store_true")
    ap.add_argument("--sf-dir", default=batch.FIXTURE)
    ap.add_argument("--out", default=os.path.join(WORK, "all_queries.json"))
    args = ap.parse_args()
    if args.write_manifest:
        write_manifest()
        return 0
    pin_scratch_dirs()
    if args.all_queries:
        from common import shutdown_jvm, start_spark

        spark = start_spark(args.cpus)
        try:
            batch.run_all_queries(spark, args.sf_dir, args.out)
        finally:
            shutdown_jvm(spark)
        return 0
    if args.workload is None:
        ap.error("--workload is required")
    bench = Bench(args)
    os.makedirs(bench.work)
    load_start = os.getloadavg()
    try:
        if args.workload == "batch_queries":
            e2e = run_batch(bench, args.seconds)
        else:
            e2e = run_dns(bench, args.seconds)
    finally:
        if bench.tr.enabled:
            bench.tr.dump(os.path.join(WORK, f"spans-{args.workload}-{args.seed}.json"))
        shutil.rmtree(bench.work, ignore_errors=True)
    bench.layer["failed_share"] = bench.failed / max(1, bench.attempted)
    if bench.tr.enabled:
        self_times = bench.tr.self_times(under=args.workload)
        for layer in SELF_TIME_LAYERS:
            bench.layer[f"self_s.{layer}"] = sum(v for k, v in self_times.items() if k == layer or k.startswith(layer + "."))
    print(json.dumps({"loadavg_start": load_start, "loadavg_end": os.getloadavg(), "problems": bench.problems}))
    e2e_metrics = {n: {"value": e2e[n], "unit": u} for n, (u, _, _) in END_TO_END.items()}
    if bench.tr.enabled:
        print(json.dumps({"traced_end_to_end": e2e_metrics}))
        metrics = {n: {"value": bench.layer.get(n, 0.0), "unit": u} for n, u in PER_LAYER.items()}
    else:
        metrics = e2e_metrics
    result = {
        "correct": not bench.problems,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": metrics,
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
