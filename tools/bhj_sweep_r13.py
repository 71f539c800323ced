"""Broadcast-join scale sweep (CLAUDE.md rule 12's tripwire, r13).

The rule-12 class — the static planner broadcasting a CORPUS-sized
join side off an undershooting post-aggregate estimate — cannot be
linted at the gate fixtures: at sf0.01/sf0.1 every broadcast genuinely
fits, and the bad decision only *manifests* when the input is big.
So the tripwire is empirical and runs at the x100 replica scale:

1. build every registered query's plan against scratch/x100 and list
   the ones whose physical plan contains BroadcastHashJoin / BNLJ;
2. optionally (--run) EXECUTE every flagged query at x100 — a
   mis-broadcast either OOMs loudly ('Not enough memory to build and
   broadcast') or shows up as a multi-minute build+spill outlier.

r13 baseline: 36 flagged, 36 ran clean (0.4-72 s) after the
shingle_pair_counts / minhash_lsh_pairs merge hints; before the hints
dedup_blocking_audit and dedup_minhash_lsh OOM'd and the tradeoff's
second decade read 11.9x instead of ~5x. Re-run after adding any join
whose both sides grow with the corpus.

Usage: python tools/bhj_sweep_r13.py [--run]
Requires scratch/x100 (`python tools/scale.py --factor 100` builds it).
"""

from __future__ import annotations

import os
import sys
import time

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)

import __spark_entry__ as entry_mod  # noqa: E402

from dns_log_transformer_spark.operators.caching import release_all  # noqa: E402
from dns_log_transformer_spark.session import get_spark  # noqa: E402
from tools.scale import replica_dir  # noqa: E402

DST100 = replica_dir(100)


def main() -> int:
    run = "--run" in sys.argv
    spark = get_spark("bhj_sweep")
    flagged: list[str] = []
    for name, fn in sorted(entry_mod.queries().items()):
        try:
            df = fn(spark, DST100)
            plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception:
            release_all()
            continue  # plan build failed at x100
        release_all()
        if "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan:
            flagged.append(name)
    print(f"flagged {len(flagged)}: {' '.join(flagged)}")
    failures = 0
    if run:
        qs = entry_mod.queries()
        for name in flagged:
            t0 = time.monotonic()
            try:
                n = qs[name](spark, DST100).count()
                print(
                    f"  {name}: {time.monotonic() - t0:.1f}s rows={n}",
                    flush=True,
                )
            except Exception as ex:  # noqa: BLE001 — report, keep sweeping
                failures += 1
                print(
                    f"  FAIL {name}: {str(ex).splitlines()[0][:120]}",
                    flush=True,
                )
            release_all()
        print(f"failures: {failures} / {len(flagged)}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
