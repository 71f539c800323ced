"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash -> CORRECTNESS_r{N}.json).

All queries live in ``dns_log_transformer_spark.queries``, one module
per domain (tpch, relational, dns_pipeline, text, dedup, similarity,
corpus, multimodal); this file just exposes the registry in the shape
above.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from dns_log_transformer_spark.queries import ALL_QUERIES

SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: the reference's entire data path — events-derived
    Route53 records -> BIND9 format -> 1->1+N explode — at sf0.001."""
    return ALL_QUERIES["dns_bind9_lines"].fn(spark, SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return {name: q.fn for name, q in ALL_QUERIES.items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL per query (omitted => rows-only check)."""
    return {name: q.oracle for name, q in ALL_QUERIES.items() if q.oracle is not None}
