"""The batch workload: registry queries built and executed one by one.

Each query's cost is split into build (the ``fn()`` call: Python plan
construction plus any eager Spark jobs it starts), plan (optimization and
physical planning of the returned plan) and exec (running that same
planned query to a row count, so nothing is planned twice). Row counts are
checked against each query's DuckDB oracle on the same fixture.
"""

from __future__ import annotations

import json
import os
import random
import threading

from common import job_stats, now

#: The fixture: a copy of the sf0.001 tables, committed with the benchmark.
FIXTURE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixture", "sf0.001")

#: The largest build time of the registry (the WARC blob pipeline), an
#: execution-dominated query, the DNS transforms in batch and the per-query
#: floor. One pass takes about 35 s on 4 cores, 24 s of it the build of
#: corpus_warcgz_to_shards: as long as a run can take. The other
#: build-dominated queries are in the committed --all-queries table.
QUERIES = (
    "corpus_warcgz_to_shards",
    "q_pagerank_trade",
    "dns_quarantine_stats",
    "q1_pricing_summary",
)
SMOKE_QUERIES = ("dns_quarantine_stats", "q1_pricing_summary")
PER_QUERY = ("build_s", "py4j_calls", "analysis_s", "optimization_s", "planning_s", "exec_s", "jobs", "tasks")
#: A query of the --all-queries pass still running after this long has its
#: Spark jobs cancelled.
QUERY_TIMEOUT_S = 600.0
TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events", "documents", "embeddings")


class Py4jCounter:
    """Counts JVM roundtrips by wrapping the session's py4j client."""

    def __init__(self, spark):
        client = spark.sparkContext._gateway._gateway_client
        send = client.send_command
        self.calls = 0

        def counted(*args, **kwargs):
            self.calls += 1
            return send(*args, **kwargs)

        client.send_command = counted


def _phases(jqe) -> dict[str, float]:
    """Seconds per QueryPlanningTracker phase of a query execution."""
    phases = jqe.tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        out[name] = opt.get().durationMs() / 1e3 if opt.isDefined() else 0.0
    return out


def run_query(spark, name: str, sf_dir: str, group: str, tr, counter: Py4jCounter | None) -> dict:
    """Build, plan and execute one registry query; returns its split."""
    from dns_log_transformer_spark.operators.caching import release_all
    from dns_log_transformer_spark.queries import ALL_QUERIES

    sc = spark.sparkContext
    sc.setJobGroup(group, name)
    calls0 = counter.calls if counter else 0
    with tr.span("queries.build", req=name):
        t0 = now()
        df = ALL_QUERIES[name].fn(spark, sf_dir)
        t1 = now()
    calls = (counter.calls - calls0) if counter else 0
    with tr.span("queries.plan", req=name):
        jqe = df._jdf.queryExecution()
        jqe.executedPlan()
        t2 = now()
    with tr.span("queries.exec", req=name):
        rows = jqe.toRdd().count()
        t3 = now()
    out = {"build_s": t1 - t0, "plan_s": t2 - t1, "exec_s": t3 - t2, "rows": rows}
    if tr.enabled:
        ph = _phases(jqe)
        jobs, tasks = job_stats(spark, group)
        out.update(
            py4j_calls=calls,
            analysis_s=ph["analysis"],
            optimization_s=ph["optimization"],
            planning_s=ph["planning"],
            jobs=jobs,
            tasks=tasks,
        )
    release_all()
    return out


def oracle_rows(names, sf_dir: str) -> dict[str, int | None]:
    """Row count of each query's DuckDB oracle over the same tables."""
    import duckdb

    from dns_log_transformer_spark.queries import ALL_QUERIES

    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    out = {}
    for name in names:
        sql = ALL_QUERIES[name].oracle
        out[name] = None if sql is None else con.execute(f"SELECT COUNT(*) FROM ({sql})").fetchone()[0]
    con.close()
    return out


def warm_up(spark) -> None:
    from dns_log_transformer_spark.queries import ALL_QUERIES

    ALL_QUERIES["q1_pricing_summary"].fn(spark, FIXTURE)._jdf.queryExecution().toRdd().count()


def run_batch(bench, spark, seconds: float, smoke: bool) -> dict:
    names = list(SMOKE_QUERIES if smoke else QUERIES)
    random.Random(bench.seed).shuffle(names)
    counter = Py4jCounter(spark) if bench.tr.enabled else None
    passes, rows = [], {}
    t_end = now() + seconds
    while not passes or now() < t_end:
        p, total = len(passes), 0.0
        for name in names:
            with bench.tr.span("query", req=name):
                r = run_query(spark, name, FIXTURE, f"perfbench-{p}-{name}", bench.tr, counter)
            total += r["build_s"] + r["plan_s"] + r["exec_s"]
            rows[name] = r["rows"]
            bench.layer["batch.build_s"] += r["build_s"]
            bench.layer["batch.plan_s"] += r["plan_s"]
            bench.layer["batch.exec_s"] += r["exec_s"]
            if bench.tr.enabled:
                bench.layer["batch.jobs"] += r["jobs"]
                for k in PER_QUERY:
                    bench.layer[f"q.{name}.{k}"] += r[k]
        passes.append(total)
    p = len(passes)
    for k in list(bench.layer):
        if k.startswith(("q.", "batch.")):
            bench.layer[k] /= p  # per pass
    with bench.tr.span("check"):
        want = oracle_rows(names, FIXTURE)
    for name in names:
        bench.attempted += p
        if want[name] is not None and rows[name] != want[name]:
            bench.failed += p
            bench.problem(f"{name}: {rows[name]} rows, oracle {want[name]}")
    # over whole passes: per-query times move with the seeded order, which
    # decides the query that pays each first-use cost
    return {"throughput_per_s": p * len(names) / sum(passes)}


def run_all_queries(spark, sf_dir: str, out_path: str) -> None:
    """One traced pass over every registry query, ranked by build share.

    A query still running after QUERY_TIMEOUT_S has its Spark jobs
    cancelled and is recorded with its error."""
    from dns_log_transformer_spark.queries import ALL_QUERIES

    from spans import Tracer

    tr = Tracer(enabled=True)
    counter = Py4jCounter(spark)
    load_start = os.getloadavg()
    results = {}
    for name in sorted(ALL_QUERIES):
        group = f"all-{name}"
        timer = threading.Timer(QUERY_TIMEOUT_S, spark.sparkContext.cancelJobGroup, args=(group,))
        timer.start()
        t0 = now()
        try:
            r = run_query(spark, name, sf_dir, group, tr, counter)
        except Exception as e:  # recorded per query; the pass goes on
            r = {"error": f"{type(e).__name__}: {str(e).splitlines()[0][:300]}", "wall_s": now() - t0}
        finally:
            timer.cancel()
        if "error" not in r:
            r["total_s"] = r["build_s"] + r["plan_s"] + r["exec_s"]
            r["build_share"] = r["build_s"] / r["total_s"]
        results[name] = r
        print(json.dumps({name: r}), flush=True)
    want = oracle_rows([n for n in results if "rows" in results[n]], sf_dir)
    for name, n in want.items():
        results[name]["oracle_rows"] = n
    ranked = sorted((n for n in results if "build_share" in results[n]), key=lambda n: -results[n]["build_share"])
    doc = {
        "sf_dir": sf_dir,
        "master": spark.sparkContext.master,
        "loadavg_start": [round(x, 2) for x in load_start],
        "loadavg_end": [round(x, 2) for x in os.getloadavg()],
        "totals": {
            k: sum(results[n][k] for n in ranked) for k in ("build_s", "plan_s", "exec_s", "total_s", "jobs")
        },
        "ranked_by_build_share": ranked,
        "queries": results,
    }
    with open(out_path, "w") as f:
        json.dump(doc, f, indent=1)
        f.write("\n")
