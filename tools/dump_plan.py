#!/usr/bin/env python
"""Dump `.explain("formatted")` for named queries.

Usage:
  python tools/dump_plan.py plans/r17 before dedup_blocking_tradeoff ...
  python tools/dump_plan.py plans/r17 after  dedup_blocking_tradeoff ...

Writes OUTDIR/<query>_<tag>.txt, planned at $SPARK_GRAFT_SF_DIR
(default sf0.1). The physical plan is the STATIC plan
(AdaptiveSparkPlan isFinalPlan=false) — the same artifact the broadcast
lint audits; Exchange counts / join strategies / PushedFilters are all
visible in it.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    outdir, tag, *names = sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from dns_log_transformer_spark.operators.caching import release_all
    from dns_log_transformer_spark.queries import ALL_QUERIES
    from dns_log_transformer_spark.session import get_spark

    spark = get_spark("dump_plan")
    os.makedirs(outdir, exist_ok=True)
    for name in names:
        df = ALL_QUERIES[name].fn(spark, sf_dir)
        txt = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(outdir, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(txt)
        print(f"wrote {path} ({len(txt)} bytes)")
        release_all()


if __name__ == "__main__":
    main()
