"""First streaming perf pass (VERDICT r15 #8): one measured row per
streaming path at 1x (sf0.1) and a 10x replay (scratch/x10 replicas).

Paths and claims under test:

1. ``warc_gz_docs_stream`` (gz segment ingest, STATELESS): per-batch
   cost is the batch walk on that batch's segments — docs/sec should
   hold across a 10x backlog (same trigger bound), and the query must
   report ZERO state operators (no watermark, no state store).
2. ``running_user_totals`` (applyInPandasWithState) and
   ``user_activity_profile`` / ``sessionized_user_totals``
   (transformWithStateInPandas): replay the events fixture as a real
   file-source stream in micro-batches and record the final
   ``stateOperators`` metrics — state ROWS must track DISTINCT KEYS
   (users), not events: a 10x replay with the same key space must not
   grow state rows 10x.

Usage: python tools/stream_perf_r16.py [gz] [state]
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)

from pyspark.sql import functions as F  # noqa: E402

from dns_log_transformer_spark.session import get_spark, read_table  # noqa: E402
from tools.scale import SRC, replica_dir  # noqa: E402

X10 = replica_dir(10)
WORK = os.path.join(REPO_ROOT, "scratch", "stream_r16")


def _run_available_now(df, name, mode="update"):
    q = (
        df.writeStream.format("noop")
        .queryName(name)
        .outputMode(mode)
        .option(
            "checkpointLocation",
            tempfile.mkdtemp(prefix=f"ckpt_{name}_"),
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def gz_leg(spark):
    from dns_log_transformer_spark.sources import warc

    out = {}
    for tag, sf in (("1x", SRC), ("10x", X10)):
        stage = os.path.join(WORK, f"wgz_{tag}")
        if not os.path.isfile(os.path.join(stage, "_SUCCESS")):
            docs = read_table(spark, sf, "documents")
            blobs = warc.pack_warc_gz_blobs(docs, per_blob=20, body_suffix="")
            warc.stage_warc_gz_files(blobs, stage)
        n_files = len(
            [f for f in os.listdir(stage) if f.endswith(".warc.gz")]
        )
        stream = warc.warc_gz_docs_stream(
            spark, stage, max_files_per_trigger=32
        )
        t0 = time.perf_counter()
        q = _run_available_now(stream, f"wgz_{tag}", mode="append")
        wall = time.perf_counter() - t0
        progress = q.recentProgress
        rows = sum(p["numInputRows"] for p in progress)
        n_state = max(
            (len(p.get("stateOperators") or []) for p in progress),
            default=0,
        )
        out[tag] = {
            "files": n_files,
            "batches": len([p for p in progress if p["numInputRows"]]),
            "input_rows": rows,
            "wall_s": round(wall, 2),
            "rows_per_s": round(rows / wall, 1),
            "state_operators": n_state,
        }
        print(f"gz {tag}: {json.dumps(out[tag])}", flush=True)
    r = out["10x"]["rows_per_s"] / max(out["1x"]["rows_per_s"], 1e-9)
    print(f"gz throughput 10x/1x ratio: {r:.2f} (flat ~1 expected "
          "once per-run fixed cost amortizes; >1 = fixed cost dominated 1x)")
    return out


def state_leg(spark):
    from dns_log_transformer_spark.streaming import (
        running_user_totals,
        user_activity_profile,
    )
    from dns_log_transformer_spark.streaming.source import read_events_stream

    # the TWS operator runs through the per-row state-server protocol
    # with non-daemon workers (the tws_driver environment) — orders of
    # magnitude slower per row than applyInPandasWithState's batched
    # exchange, so it replays a deterministic SAMPLE (state size vs
    # keys is the claim under test, not throughput). The timer-driven
    # sessionizer is excluded: its processing-time timers keep an
    # availableNow query re-triggering (semantics pytest-covered via
    # tws_driver.py); user_activity_profile covers the TWS state-size
    # question without timers.
    ops = {
        "running_user_totals_aipws": (running_user_totals, 1),
        "user_activity_profile_tws": (user_activity_profile, 20),
    }
    results = {}
    for tag, sf in (("1x", SRC), ("10x", X10)):
        for name, (op, sample) in ops.items():
            jdir = os.path.join(WORK, f"events_json_{tag}_s{sample}")
            if not os.path.isdir(jdir):
                ev = read_table(spark, sf, "events").select(
                    "event_id",
                    "ts",
                    "user_id",
                    "event_type",
                    "value",
                    "props",
                )
                if sample > 1:
                    ev = ev.filter(F.col("event_id") % sample == 0)
                ev.repartition(20).write.json(jdir)
            nkeys = (
                spark.read.json(jdir).select("user_id").distinct().count()
            )
            stream = read_events_stream(spark, jdir)
            t0 = time.perf_counter()
            q = _run_available_now(
                op(stream), f"{name}_{tag}", mode="update"
            )
            wall = time.perf_counter() - t0
            progress = [p for p in q.recentProgress if p["numInputRows"]]
            last_state = None
            for p in reversed(q.recentProgress):
                if p.get("stateOperators"):
                    last_state = p["stateOperators"][0]
                    break
            row = {
                "input_rows": sum(p["numInputRows"] for p in progress),
                "batches": len(progress),
                "distinct_keys": nkeys,
                "state_rows": (last_state or {}).get("numRowsTotal"),
                "state_mem_bytes": (last_state or {}).get(
                    "memoryUsedBytes"
                ),
                "wall_s": round(wall, 2),
            }
            results[f"{name}_{tag}"] = row
            print(f"{name} {tag}: {json.dumps(row)}", flush=True)
    return results


def main():
    which = set(sys.argv[1:]) or {"gz", "state"}
    os.makedirs(WORK, exist_ok=True)
    extra = {}
    if "state" in which:
        # the TWS operators need the tws_driver.py environment: a
        # non-daemon Python worker (daemon forks crash talking to the
        # TWS state server here), the RocksDB-backed provider, and the
        # vendored protobuf shim from tests/conftest
        sys.path.insert(0, os.path.join(REPO_ROOT, "tests"))
        import conftest  # noqa: F401

        extra["spark.python.use.daemon"] = "false"
    spark = get_spark("stream_perf_r16", extra_conf=extra)
    if "state" in which:
        from dns_log_transformer_spark.streaming import (
            RUN_EVICT_STATE_STORE,
        )

        spark.conf.set(
            "spark.sql.streaming.stateStore.providerClass",
            RUN_EVICT_STATE_STORE,
        )
    print(f"load={[round(x, 2) for x in os.getloadavg()]}")
    if "gz" in which:
        gz_leg(spark)
    if "state" in which:
        state_leg(spark)


if __name__ == "__main__":
    main()
