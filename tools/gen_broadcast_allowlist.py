"""Regenerate dns_log_transformer_spark/broadcast_allowlist.py — the
checked-in adjudication record behind plans.broadcast_lint (VERDICT
r13 #1).

For every registered query, at every given fixture (default all
three), builds the query's plan and collects the normalized signatures
of its STATICALLY planned broadcast joins (plans.broadcast_sigs —
plan-build only, nothing executes). Signatures are unioned across
fixtures (static broadcast presence depends on size estimates, which
depend on the fixture), then merged with the existing allowlist:

- a signature already in the allowlist keeps its hand-written
  rationale verbatim;
- a NEW signature gets a rationale from the RULES table below when a
  pattern matches, else the empty string — which broadcast_lint
  REJECTS, so an unadjudicated broadcast cannot ship by regenerating
  this file;
- a signature that no longer appears anywhere is dropped (with a
  notice), keeping the record in lock-step with the code.

Usage: python tools/gen_broadcast_allowlist.py [sf_dir ...]
"""

from __future__ import annotations

import os
import sys

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)

import __spark_entry__ as entry_mod  # noqa: E402

from dns_log_transformer_spark import plans  # noqa: E402
from dns_log_transformer_spark.broadcast_allowlist import (  # noqa: E402
    BROADCAST_ALLOWLIST,
)
from dns_log_transformer_spark.operators.caching import release_all  # noqa: E402
from dns_log_transformer_spark.session import get_spark  # noqa: E402
from tools.scale import replica_dir  # noqa: E402

DEFAULT_FIXTURES = [
    "/root/testdata/sf0.001",
    "/root/testdata/sf0.01",
    "/root/testdata/sf0.1",
]

# seed rationales for NEW signatures, first regex match wins. The
# three honest classes (see broadcast_allowlist.py header):
#   BOUNDED    — build side bounded by construction, corpus-independent
#   SCAN-FED   — estimate comes from parquet file statistics: accurate
#                at every scale, the planner re-decides correctly
#   X100-CLASS — aggregate-fed estimate that grows with the corpus:
#                verified to leave the broadcast path (or run clean) at
#                the x100 replica scale by tools/bhj_sweep_r13.py
# Anything not matched stays empty and must be adjudicated by hand
# before the lint passes.
_BOUNDED_BNLJ = (
    "BOUNDED: bounded-domain BroadcastNestedLoopJoin — 1-row scalar "
    "aggregates, settings/spine frames or per-bounded-group extrema "
    "(the scale_lint BNLJ_DOCUMENTED class)"
)
# X100 entries are RE-CLASSIFIED against the x100 replica's static
# plans on every regeneration (when scratch/x100 exists): FLIPS when
# the static planner abandons the broadcast by x100 (self-correcting
# estimates), RAN-CLEAN when the broadcast persists there and the
# query executed clean (two-decade validation; pin deferred — a merge
# hint also blocks AQE's runtime-measured conversions, measured
# +20-51% on this family, r14).
_X100 = (
    "X100-CLASS: corpus-scaled aggregate-fed build side — "
    "classification pending an x100 probe (regenerate with "
    "scratch/x100 present)"
)
_X100_FLIPS = (
    "X100-FLIPS: corpus-scaled build side whose size estimate tracks "
    "the input — the static planner flips this site to sort-merge by "
    "the x100 replica scale (plan probe); the broadcast appears only "
    "at gate-fixture sizes where it is genuinely optimal"
)
_X100_CLEAN = (
    "X100-RAN-CLEAN: corpus-scaled build side the static planner "
    "still broadcasts at x100, where the query EXECUTED clean "
    "(tools/bhj_sweep_r13.py r13/r14: all flagged queries ran, no "
    "OOM). Two decades validated; merge pin deferred (it also blocks "
    "AQE's runtime-measured conversions, +20-51% measured r14) — "
    "re-run the bhj sweep after touching this site and pin on "
    "demonstrated build/spill pain (the posting self-join precedent)"
)
_SCAN = (
    "SCAN-FED: build side is a TPC-H-keyed scan/projection (or a "
    "per-key aggregate whose estimate tracks it) with parquet "
    "file-size statistics — the estimate grows with the table, so the "
    "planner re-decides and flips to shuffle when the side outgrows "
    "the threshold (x100-verified class, tools/bhj_sweep_r13.py)"
)
RULES: list[tuple[str, str]] = [
    (
        r"\[(num_bands, )?band, key\], \[(num_bands, )?band, key\], LeftAnti",
        "BOUNDED: heavy-bucket key list — <= n_rows/bucket_cap keys by "
        "construction (occupancy-cap aggregate)",
    ),
    (
        r"\[band, key\], \[band, key\], Inner",
        "X100-CLASS: LSH band self-join — corpus-sized but explode-fed, "
        "the size estimate scales with the corpus and the static "
        "planner flips to sort-merge past the threshold on its own "
        "(x100-verified r13/r14; merge pin measured +33-51% at the "
        "fixture)",
    ),
    (
        r"\[num_bands, band, key\], \[num_bands, band, key\], Inner",
        "X100-CLASS: tradeoff band self-join — same explode-fed "
        "estimate scaling as the LSH band self-join (x100-verified "
        "off-broadcast)",
    ),
    (
        r"\[num_bands\], \[num_bands\], LeftOuter",
        "BOUNDED: per-setting metric counts — one row per swept band "
        "setting",
    ),
    (
        r"\[(d_small|n_probe)\], \[(d_small|n_probe)\]",
        "BOUNDED: per-setting metric counts — one row per swept "
        "setting (prefix width / probe depth)",
    ),
    (
        r"BroadcastNestedLoopJoin BuildRight, Cross",
        "BOUNDED: crossJoin of a 1-row/bounded frame (scalar "
        "aggregates, settings frames, query workloads) — the "
        "documented bounded-domain BNLJ class",
    ),
    (
        r"NOT \(vec_id = query_id\)|\[query_id\]",
        "BOUNDED: query-workload side — bounded by the benchmark query "
        "set (and k candidates per query), independent of corpus size",
    ),
    (
        r"\[vec_id\], \[vec_id\]",
        "BOUNDED: rerank candidate-id side — |queries| x k ids by "
        "construction (prefilter output), independent of corpus size",
    ),
    (
        r"\[j, h\], \[j, h\]",
        "BOUNDED: Count-Min-Sketch counter table — depth x width "
        "cells by construction",
    ),
    (
        r"\[(_bucket|bucket|ym|yr|cohort_week|key|cat|prefix|"
        r"o_orderpriority|o_orderstatus|l_returnflag|source|p_size)"
        r"(, _salt)?\]",
        "BOUNDED: per-group aggregate/spine over a bounded key domain "
        "(flags, priorities, buckets, calendar spine, source catalog, "
        "CIDR table, synthetic key domain) — rows <= domain size, "
        "independent of corpus scale",
    ),
    (
        r"knownfloatingpointnormalized\(normalizenanandzero\(m\)\)",
        "BOUNDED: per-group extremum frame — one row per bounded group "
        "domain (argmax/skyline pattern)",
    ),
    (
        r"BroadcastNestedLoopJoin BuildRight, (LeftOuter|Inner), "
        r"\((yr < yr|p_size > p_size|source_a < source_b)\)",
        _BOUNDED_BNLJ,
    ),
    (
        r"BroadcastNestedLoopJoin BuildRight, Inner, \(.*total\)?",
        _BOUNDED_BNLJ + " — comparison against a broadcast 1-row total",
    ),
    (
        r"BroadcastNestedLoopJoin BuildRight, Inner$",
        "BOUNDED: documented bounded-domain BNLJ (scale_lint "
        "BNLJ_DOCUMENTED allowlist carries the per-query bound)",
    ),
    (
        r"\[(_f|_n|_o)\], \[(_f|_n|_o)\]",
        "BOUNDED: incremental-delta side — bounded by the NEW batch, "
        "not the accumulated corpus (batch-bounded delta class)",
    ),
    # X100 corpus-vocabulary keys MUST precede the SCAN-FED rules: an
    # over-broad scan regex matching [shingle]/[span_text]/[lsh_key]/
    # [cell] would seed a lint-passing scan-fed rationale on the exact
    # aggregate-fed undershoot class the x100 probe exists to classify
    # (ADVICE r14 high — 6 entries were mislabeled this way and were
    # hand-blanked + re-probed in r15).
    (
        r"\[(doc_id|doc_a|doc_b|shingle|term|g|w|w1|w2|_x|_prk|fp|"
        r"span_text|user_id|lsh_key|cell|_rn_b|doc_id, grp|"
        r"doc_b, term)\]",
        _X100,
    ),
    (
        r"\[(l|o|c|s|p|n|r)_\w+(, (l|o|c|s|p|n|r)_\w+)?\], "
        r"\[(l|o|c|s|p|n|r|c|s)\w*\]",
        _SCAN,
    ),
    # anchored to real TPC-H column shapes (x_ underscore prefix) so
    # corpus keys that merely START with one of these letters cannot
    # match (ADVICE r14)
    (
        r"\[(coalesce\()?(l|o|c|s|p|n|r)_\w+",
        _SCAN,
    ),
]


def seed_rationale(sig: str) -> str:
    import re

    for marker, why in RULES:
        if re.search(marker, sig):
            return why
    return ""


def main() -> int:
    fixtures = sys.argv[1:] or DEFAULT_FIXTURES
    spark = get_spark("gen_broadcast_allowlist")
    per_query: dict[str, set[str]] = {}
    for sf in fixtures:
        for name, fn in sorted(entry_mod.queries().items()):
            try:
                df = fn(spark, sf)
                sigs = plans.broadcast_sigs(df)
            except Exception as ex:  # noqa: BLE001 — report, keep going
                print(f"SKIP {name} @ {sf}: {str(ex).splitlines()[0][:120]}")
                release_all()
                continue
            release_all()
            if sigs:
                per_query.setdefault(name, set()).update(sigs)
    out: dict[str, dict[str, str]] = {}
    n_new = n_kept = 0
    for name in sorted(per_query):
        old = BROADCAST_ALLOWLIST.get(name, {})
        entry: dict[str, str] = {}
        for sig in sorted(per_query[name]):
            if old.get(sig, "").strip():
                entry[sig] = old[sig]
                n_kept += 1
            else:
                entry[sig] = seed_rationale(sig)
                n_new += 1
                print(f"NEW  {name}: {sig}")
        for sig in sorted(set(old) - per_query[name]):
            print(f"DROP {name}: {sig}")
        out[name] = entry
    # x100 refinement pass: machine-classify every X100* entry by
    # probing the query's STATIC plan against the x100 replicas —
    # FLIPS when the broadcast is gone there, RAN-CLEAN when it
    # persists (these rationales are machine-owned and refresh on
    # every regeneration; hand-written BOUNDED/SCAN-FED survive)
    x100 = replica_dir(100)
    if os.path.isdir(x100):
        for name, entry in out.items():
            if not any(w.startswith("X100") for w in entry.values()):
                continue
            try:
                sigs100 = plans.broadcast_sigs(
                    entry_mod.queries()[name](spark, x100)
                )
            except Exception as ex:  # noqa: BLE001 — replica lacks a table
                print(f"X100 SKIP {name}: {str(ex).splitlines()[0][:100]}")
                release_all()
                continue
            release_all()
            for sig, why in entry.items():
                if why.startswith("X100"):
                    entry[sig] = _X100_CLEAN if sig in sigs100 else _X100_FLIPS
    path = os.path.join(
        REPO_ROOT, "dns_log_transformer_spark", "broadcast_allowlist.py"
    )
    with open(path, "w") as f:
        f.write('"""Static-broadcast adjudication record (VERDICT r13 #1).\n')
        f.write("\n")
        f.write(
            "Every STATICALLY planned BroadcastHashJoin /\n"
            "BroadcastNestedLoopJoin in every registered query's plan must\n"
            "appear here with a one-line bounded-by-construction rationale\n"
            "— plans.broadcast_lint fails the parity suite (pytest AND\n"
            "tools/parity_sweep.py) on any unlisted or rationale-less\n"
            "broadcast, so a new corpus x corpus join cannot land green on\n"
            "the gate fixtures and fail only at production scale (the\n"
            "rule-12 class, previously caught only by hand-running\n"
            "tools/bhj_sweep_r13.py at x100).\n"
            "\n"
            "AQE runtime broadcast conversions are deliberately NOT listed:\n"
            "they are re-decided from MEASURED sizes at every scale and\n"
            "cannot pick a corpus-sized build side at corpus scale (see\n"
            "plans.broadcast_sigs).\n"
            "\n"
            "Regenerate with tools/gen_broadcast_allowlist.py — existing\n"
            "rationales are preserved, new signatures arrive empty and the\n"
            "lint rejects empty rationales, so regeneration cannot launder\n"
            "an unadjudicated broadcast.\n"
            '"""\n\n'
        )
        f.write("BROADCAST_ALLOWLIST: dict[str, dict[str, str]] = {\n")
        for name in sorted(out):
            f.write(f"    {name!r}: {{\n")
            for sig, why in sorted(out[name].items()):
                f.write(f"        {sig!r}:\n")
                f.write(f"            {why!r},\n")
            f.write("    },\n")
        f.write("}\n")
    print(
        f"wrote {path}: {len(out)} queries, "
        f"{sum(len(v) for v in out.values())} signatures "
        f"({n_kept} kept, {n_new} new)"
    )
    empties = [
        (n, s) for n, e in out.items() for s, w in e.items() if not w.strip()
    ]
    for n, s in empties:
        print(f"EMPTY RATIONALE (lint will fail): {n}: {s}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
