"""One-off full oracle-parity sweep at an arbitrary scale factor —
the round-9 hardening tool that found the degenerate-pool z-test crash
and the .xx5 money-percentile rounding divergence, both invisible at
the gated sf0.01.

Usage: python tools/parity_sweep.py [sf_dir [NAME ...]] [--out PATH]
(default sf0.001; without --out the checked-in SWEEP_DETAIL_<sf>.json
is only written when it is already git-dirty or absent — an ad-hoc
verification run cannot silently clobber a committed round-end record
(VERDICT r12 #8); pass --out explicitly to overwrite or redirect)

Runs every registered query AND its DuckDB oracle at the given fixture
and applies the exact driver-style compare (row count + schema +
order-insensitive values via tests/test_oracle_parity helpers),
printing one OK/FAIL line per query. Named queries after sf_dir
restrict the run to them, so a touched operator is verified in seconds;
a named run writes no SWEEP_DETAIL file.
Not part of the pytest suite (it would roughly double the parity
suite's wall time); run it whenever queries change rounding, guards,
or degenerate-input behavior.
"""

from __future__ import annotations

import os
import sys

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)

import duckdb  # noqa: E402

import __spark_entry__ as entry_mod  # noqa: E402
from dns_log_transformer_spark import plans  # noqa: E402
from dns_log_transformer_spark.broadcast_allowlist import (  # noqa: E402
    BROADCAST_ALLOWLIST,
)
from dns_log_transformer_spark.operators.caching import release_all  # noqa: E402
from dns_log_transformer_spark.session import TABLES, get_spark  # noqa: E402
from tests.test_oracle_parity import (  # noqa: E402
    assert_frames_match,
    driver_canon,
)


from tools.artifacts import artifact_writable  # noqa: E402


def main() -> int:
    import json
    import time

    argv = list(sys.argv[1:])
    out_path = None
    if "--out" in argv:
        i = argv.index("--out")
        if i + 1 >= len(argv):
            print("usage: parity_sweep.py [sf_dir [NAME ...]] [--out PATH]")
            return 2
        out_path = argv[i + 1]
        del argv[i : i + 2]
    sf = argv[0] if argv else "/root/testdata/sf0.001"
    names = argv[1:]
    queries = entry_mod.queries()
    unknown = [n for n in names if n not in queries]
    if unknown:
        print(f"unknown queries: {' '.join(unknown)}")
        return 2
    if names and out_path:
        print("--out applies to a full sweep only")
        return 2
    load_start = [round(x, 2) for x in os.getloadavg()]
    spark = get_spark("parity_sweep")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')"
        )
    oracles = entry_mod.oracle_sql()
    bad: list[tuple[str, str]] = []
    timings: dict[str, float] = {}  # Spark-side wall per query (VERDICT r10 #7)
    for name in names or sorted(queries):
        try:
            t0 = time.perf_counter()
            sdf = queries[name](spark, sf)
            spdf = sdf.toPandas()
            timings[name] = round(time.perf_counter() - t0, 3)
            # codegen compile lint (VERDICT r11 #1): the class this
            # sweep caught by a human reading timings in r11 —
            # Janino-refused stages silently running interpreted —
            # now fails the sweep mechanically
            cg = plans.codegen_lint(sdf)
            if cg:
                raise AssertionError(f"codegen lint: {cg[0]}")
            # optimized-plan-size lint (VERDICT r12 #1): rule-11
            # optimizer blowups fail the sweep mechanically too
            ps = plans.plan_size_lint(sdf)
            if ps:
                raise AssertionError(f"plan size lint: {ps[0]}")
            # static-broadcast audit lint (VERDICT r13 #1): statically
            # planned broadcasts must match the checked-in allowlist —
            # static estimates differ per fixture, so the off-gate
            # fixtures exercise allowlist coverage sf0.01 never sees
            bc = plans.broadcast_lint(sdf, BROADCAST_ALLOWLIST.get(name, {}))
            if bc:
                raise AssertionError(f"broadcast lint: {bc[0]}")
            release_all()
            driver_canon(spdf, name)
            if name in oracles:
                ddf = con.execute(oracles[name]).df()
                assert_frames_match(spdf, ddf, name)
            print(f"OK   {name} ({timings[name]:.2f}s)", flush=True)
        except Exception as ex:  # noqa: BLE001 — report, keep sweeping
            bad.append((name, str(ex).splitlines()[0][:160]))
            print(f"FAIL {name} -> {bad[-1][1]}", flush=True)
            release_all()
    print(f"{sf}: mismatches {len(bad)} / {len(names or queries)}")
    for n, m in bad:
        print(f"  {n} -> {m}")
    if names:
        return 1 if bad else 0
    # per-query sweep timings, slowest first — a merged home that
    # quietly doubled its off-gate-fixture cost shows up here without a
    # bench run; persisted so the round-end record can cite it
    top = sorted(timings.items(), key=lambda kv: -kv[1])[:15]
    print("slowest sweep queries (spark wall, sec): "
          + ", ".join(f"{n}={s}" for n, s in top))
    # CHECKED-IN sweep detail (VERDICT r11 #8): the full per-query
    # timing table lands beside BENCH_DETAIL_latest.json so
    # round-over-round sweep-time diffs are mechanical, not a
    # read-the-log exercise (the sweep is the codegen sentinel's
    # timing backstop)
    # loadavg bracketing (the bench's r11 contention fields, here for
    # the same reason: the r12 sweep's cold rows read 3x on untouched
    # queries and needed a manual bench adjudication — with the machine
    # state recorded, a future high reading self-identifies as
    # contention or demands investigation mechanically)
    tag = sf.rstrip("/").rsplit("/", 1)[-1]
    target = out_path or os.path.join(REPO_ROOT, f"SWEEP_DETAIL_{tag}.json")
    if out_path is None and not artifact_writable(target):
        print(f"NOT writing {target}: committed round-end record is "
              "git-clean — pass --out to overwrite or redirect "
              "(VERDICT r12 #8)")
    else:
        with open(target, "w") as f:
            json.dump({"sf_dir": sf, "total": round(sum(timings.values()), 3),
                       "mismatches": len(bad),
                       "loadavg_start": load_start,
                       "loadavg_end": [round(x, 2) for x in os.getloadavg()],
                       "timings": timings}, f, indent=1, sort_keys=True)
            f.write("\n")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
