"""Input-scaling rows: time named queries at 1x and on an Nx replica.

Usage: python tools/scale.py --factor 10|100 [NAME ...]

Builds ``scratch/x<factor>`` under the repo root from the sf0.1 fixture
(once: a table already there is kept), then prints one line per named
query with its 1x and Nx time, both row counts and the ratio, under a
cpus/loadavg header. With no names it only builds the replica, which
``bhj_sweep_r13.py``, ``gen_broadcast_allowlist.py`` and
``stream_perf_r16.py`` read.

One replica rule covers every table but ``nation`` and ``region``, the
fixed-size dimensions, which stay 1x. Replica ``r``:

- adds ``r * KEY_STRIDE`` to every key column and to every column that
  references one, so every join matches inside a replica and never
  across replicas;
- maps ``documents.text`` through a 26-letter permutation seeded by
  ``r``, suffixes ``documents.source`` with ``_r<r>`` and permutes the
  dimensions of ``embeddings.embedding`` by a permutation seeded by
  ``r``, so no text or vector repeats across replicas and each
  replica's near-duplicate density stays that of the 1x fixture;
- copies every other column.
"""

from __future__ import annotations

import argparse
import math
import os
import random
import string
import sys
import time
from functools import reduce

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)

from pyspark.sql import DataFrame  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from dns_log_transformer_spark.operators.caching import release_all  # noqa: E402
from dns_log_transformer_spark.queries import ALL_QUERIES  # noqa: E402
from dns_log_transformer_spark.session import TABLES, get_spark, read_table  # noqa: E402

SRC = "/root/testdata/sf0.1"

#: per-replica key offset. It must exceed every 1x key (the largest at
#: sf0.1 is 149,999), and at x100 the largest key (~9.9e8) must stay
#: below ``_RECRAWL_OFFSET`` (1e12) in ``queries/dedup.py``.
KEY_STRIDE = 10_000_000

#: replicated tables -> their key columns and the columns referencing them
KEYS = {
    "customer": ("c_custkey",),
    "supplier": ("s_suppkey",),
    "part": ("p_partkey",),
    "orders": ("o_orderkey", "o_custkey"),
    "lineitem": ("l_orderkey", "l_partkey", "l_suppkey"),
    "events": ("event_id", "user_id"),
    "documents": ("doc_id",),
    "embeddings": ("vec_id",),
}

ALPHA = string.ascii_lowercase


def replica_dir(factor: int) -> str:
    """Where the CLI keeps the ``factor``-x replica of the sf0.1 fixture."""
    return os.path.join(REPO_ROOT, "scratch", f"x{factor}")


def _shuffled(items, r: int) -> list:
    out = list(items)
    random.Random(r).shuffle(out)
    return out


def _replica(df: DataFrame, table: str, r: int, dim: int) -> DataFrame:
    cols = {k: F.col(k) + r * KEY_STRIDE for k in KEYS[table]}
    if table == "documents":
        cols["text"] = F.translate("text", ALPHA, "".join(_shuffled(ALPHA, r)))
        cols["source"] = F.concat("source", F.lit(f"_r{r}"))
    elif table == "embeddings":
        cols["embedding"] = F.array(
            *[F.col("embedding")[i] for i in _shuffled(range(dim), r)]
        )
    return df.withColumns(cols)


def build_replica(spark, src: str, dst: str, factor: int) -> None:
    """Write a ``factor``-x replica of the fixture at ``src`` into ``dst``.

    Each table is written to a temp dir and renamed into place, and a
    table already in ``dst`` is skipped, so a build that stopped midway
    resumes without mistaking a half-written table for a complete one.
    """
    os.makedirs(dst, exist_ok=True)
    for table in TABLES:
        out = os.path.join(dst, f"{table}.parquet")
        if os.path.exists(out):
            continue
        df = read_table(spark, src, table)
        if table in KEYS:
            dim = (
                df.select(F.max(F.size("embedding"))).first()[0]
                if table == "embeddings"
                else 0
            )
            df = reduce(
                DataFrame.unionAll,
                [_replica(df, table, r, dim) for r in range(factor)],
            )
        tmp = os.path.join(dst, f"_tmp_{table}.parquet")
        df.write.mode("overwrite").parquet(tmp)
        os.rename(tmp, out)


def timeq(spark, name: str, sf_dir: str) -> tuple[float, int]:
    """Min of 2 timed ``fn().count()`` runs after one untimed warm run
    (codegen and Python worker start-up would bias the first)."""
    fn = ALL_QUERIES[name].fn
    fn(spark, sf_dir).count()
    release_all()
    best = math.inf
    for _ in range(2):
        t0 = time.perf_counter()
        n = fn(spark, sf_dir).count()
        best = min(best, time.perf_counter() - t0)
        release_all()
    return best, n


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--factor", type=int, choices=(10, 100), required=True)
    ap.add_argument("names", nargs="*", metavar="NAME")
    args = ap.parse_args(argv)
    unknown = [n for n in args.names if n not in ALL_QUERIES]
    if unknown:
        ap.error(f"unknown queries: {' '.join(unknown)}")
    f = args.factor
    dst = replica_dir(f)
    spark = get_spark(f"scale_x{f}")
    print(
        f"cpus={spark.sparkContext.defaultParallelism} "
        f"load={[round(x, 2) for x in os.getloadavg()]}"
    )
    t0 = time.perf_counter()
    build_replica(spark, SRC, dst, f)
    print(f"replica {dst}: built in {time.perf_counter() - t0:.1f}s", flush=True)
    for name in args.names:
        t1, n1 = timeq(spark, name, SRC)
        tn, nn = timeq(spark, name, dst)
        print(
            f"{name}: 1x {t1:.2f}s ({n1} rows) | {f}x {tn:.2f}s ({nn} rows)"
            f" | ratio {tn / t1:.1f}x",
            flush=True,
        )
    return 0


if __name__ == "__main__":
    sys.exit(main())
