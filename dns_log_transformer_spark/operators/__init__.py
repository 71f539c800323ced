"""LLM-data-pipeline operators (the BASELINE.json north star).

Everything here is expressed as joins/aggregations/arrays over DataFrames
— shuffle-scalable, no driver-side collection — with Arrow-batched pandas
UDFs only where vector math genuinely beats SQL expressions (LSH plane
projection). Each operator has a matching query entry in the
``queries/`` module of its domain (text, dedup, similarity, corpus,
multimodal) with a DuckDB oracle where SQL can express it.
"""

from dns_log_transformer_spark.operators import (
    corpus,
    dedup,
    joins,
    multimodal,
    profile,
    similarity,
    skew,
    text,
)

__all__ = [
    "corpus",
    "dedup",
    "joins",
    "multimodal",
    "profile",
    "similarity",
    "skew",
    "text",
]
