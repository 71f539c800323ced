#!/usr/bin/env python3
"""Record the benchmark's baseline runs and summarise them.

    python3 perfbench/baseline.py run LABEL --seeds 1-10 [--trace 1] [--cpus 1]
            [--workloads dns_backlog]
    python3 perfbench/baseline.py summary

``run`` runs the benchmark once per workload and seed and appends one JSON
line per run to ``baseline/LABEL.jsonl``: the result line, the traced
run's end-to-end numbers, the load average at start and end, and the wall
time. ``summary`` reads every ``baseline/*.jsonl`` and writes
``baseline/summary.json``, per workload:

- per untraced label: each end-to-end metric's median and spread (the
  distance between the first and third quartile as a share of the median);
- agreement: how much worse each median of the second untraced label is
  than the first's, beside the metric's bound;
- tracing overhead: the traced runs' end-to-end median minus the untraced
  runs' median;
- the per-layer table: each per-layer metric's median over the traced runs
  of each label.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "baseline")
sys.path.insert(0, HERE)

import run as bench  # noqa: E402


def _seeds(text: str) -> list[int]:
    if "-" in text:
        a, b = text.split("-")
        return list(range(int(a), int(b) + 1))
    return [int(x) for x in text.split(",")]


def run(args) -> None:
    path = os.path.join(OUT, f"{args.label}.jsonl")
    for workload in args.workloads.split(","):
        for seed in _seeds(args.seeds):
            cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
                   "--seconds", str(bench.RUN_SECONDS), "--trace", str(args.trace)]
            if args.cpus:
                cmd += ["--cpus", str(args.cpus)]
            t0 = time.monotonic()
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
            rec = {"workload": workload, "seed": seed, "trace": args.trace, "cpus": args.cpus or os.cpu_count(),
                   "rc": p.returncode, "wall_s": round(time.monotonic() - t0, 1)}
            for line in p.stdout.splitlines():
                if line.startswith("{"):
                    doc = json.loads(line)
                    rec.update({"result": doc} if "metrics" in doc else doc)
            if "result" not in rec:
                rec["stderr_tail"] = p.stderr[-2000:]
            with open(path, "a") as f:
                f.write(json.dumps(rec) + "\n")
            res = rec.get("result", {})
            brief = {k: round(v["value"], 3) for k, v in res.get("metrics", {}).items()} if not args.trace else ""
            print(workload, seed, "rc", p.returncode, "wall", rec["wall_s"], "correct", res.get("correct"),
                  res.get("attempted"), res.get("failed"), brief, flush=True)


def _spread(values: list[float]) -> float:
    q = statistics.quantiles(values, n=4)
    return (q[2] - q[0]) / statistics.median(values)


def summary(_args) -> None:
    runs: dict[str, list[dict]] = {}
    for path in sorted(glob.glob(os.path.join(OUT, "*.jsonl"))):
        with open(path) as f:
            runs[os.path.basename(path)[: -len(".jsonl")]] = [json.loads(x) for x in f if x.strip()]
    doc: dict = {}
    for workload in bench.WORKLOADS:
        w: dict = {"untraced": {}, "traced": {}}
        untraced_vals: dict[str, list[float]] = {}
        traced_vals: dict[str, list[float]] = {}
        for label, recs in runs.items():
            recs = [r for r in recs if r["workload"] == workload and "result" in r]
            if not recs:
                continue
            ok = all(r["result"]["correct"] and r["result"]["failed"] == 0 for r in recs)
            loads = [r["loadavg_start"][0] for r in recs] + [r["loadavg_end"][0] for r in recs]
            info = {"runs": len(recs), "cpus": recs[0]["cpus"], "all_correct": ok,
                    "loadavg_1m": [round(min(loads), 2), round(max(loads), 2)],
                    "wall_s_median": statistics.median(r["wall_s"] for r in recs)}
            if recs[0]["trace"]:
                per_layer = {n: statistics.median(r["result"]["metrics"][n]["value"] for r in recs)
                             for n in bench.PER_LAYER}
                info["per_layer_median"] = per_layer
                w["traced"][label] = info
                if recs[0]["cpus"] == os.cpu_count():
                    for r in recs:
                        for n, m in r["traced_end_to_end"].items():
                            traced_vals.setdefault(n, []).append(m["value"])
                continue
            vals = {n: [r["result"]["metrics"][n]["value"] for r in recs] for n in bench.END_TO_END}
            info["end_to_end"] = {
                n: {"median": statistics.median(v), "spread": _spread(v) if len(v) > 1 else None}
                for n, v in vals.items()
            }
            for n, v in vals.items():
                untraced_vals.setdefault(n, []).extend(v)
            w["untraced"][label] = info
        labels = list(w["untraced"])
        if len(labels) >= 2:
            a, b = (w["untraced"][x]["end_to_end"] for x in labels[:2])
            agree = {}
            for n, (_, better, bound) in bench.END_TO_END.items():
                ratio = b[n]["median"] / a[n]["median"]
                worse = ratio - 1 if better == "lower" else 1 - ratio
                agree[n] = {"worse_by": worse, "bound": bound, "ok": worse <= bound}
            w["agreement"] = {"sets": labels[:2], "metrics": agree}
        if untraced_vals and traced_vals:
            w["tracing_overhead"] = {
                n: statistics.median(traced_vals[n]) - statistics.median(untraced_vals[n]) for n in traced_vals
            }
        doc[workload] = w
    with open(os.path.join(OUT, "summary.json"), "w") as f:
        json.dump(doc, f, indent=1)
        f.write("\n")
    for workload, w in doc.items():
        for label, info in w["untraced"].items():
            cells = "  ".join(f"{n} {m['median']:.4g} ({m['spread'] or 0:.3f})" for n, m in info["end_to_end"].items())
            print(f"{workload:14s} {label:12s} {cells}")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("label")
    r.add_argument("--seeds", required=True, help="1-10 or 1,4,7")
    r.add_argument("--workloads", default=",".join(bench.WORKLOADS))
    r.add_argument("--trace", type=int, choices=(0, 1), default=0)
    r.add_argument("--cpus", type=int, default=None)
    sub.add_parser("summary")
    args = ap.parse_args()
    if args.cmd == "run":
        run(args)
    else:
        summary(args)


if __name__ == "__main__":
    main()
