"""What every workload shares: the Spark session's life cycle, process
memory, Spark job counts and percentiles.

The benchmark drives the package only through its public functions. It
keeps everything it writes (Spark scratch, JVM temp files, pipeline
outputs, traces) under ``.perfbench_work`` in the checkout.
"""

from __future__ import annotations

import os
import statistics
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")


def pin_scratch_dirs() -> None:
    """Point every temp and scratch location of this process, Spark and the
    JVM it launches into the checkout. Call before importing pyspark."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ.setdefault("PYSPARK_PYTHON", os.path.realpath(os.sys.executable))


def start_spark(cpus: int):
    from dns_log_transformer_spark.session import get_spark

    return get_spark(
        "perfbench",
        master=f"local[{cpus}]",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData",
            # keep every micro-batch's progress report of a run
            "spark.sql.streaming.numRecentProgressUpdates": "100000",
        },
    )


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def shutdown_jvm(spark) -> None:
    """Stop the session, then the JVM, and wait until it has exited."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)


def peak_rss_mb(pids: list[int | None]) -> float:
    """Sum of the processes' peak resident set sizes (VmHWM), in MB."""
    total_kb = 0
    for pid in pids:
        if pid is None:
            continue
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024.0


def job_stats(spark, group: str) -> tuple[int, int]:
    """(jobs, tasks run) of one Spark job group."""
    st = spark.sparkContext.statusTracker()
    ids = st.getJobIdsForGroup(group)
    tasks = 0
    for j in ids:
        info = st.getJobInfo(j)
        for sid in info.stageIds if info else ():
            stage = st.getStageInfo(sid)
            if stage is not None:
                tasks += stage.numCompletedTasks
    return len(ids), tasks


def pct(values: list[float], q: float) -> float:
    """Linear-interpolated percentile q in [0, 100]; 0 for no samples."""
    if not values:
        return 0.0
    if len(values) == 1:
        return float(values[0])
    return statistics.quantiles(values, n=100, method="inclusive")[int(q) - 1] if q < 100 else max(values)


def now() -> float:
    return time.monotonic()
