"""The query package is laid out by domain: a query's name prefix names
the module it lives in, and domain modules share DuckDB fragments only
through ``oracle_sql``. No SparkSession needed."""

from __future__ import annotations

import ast
import re
from pathlib import Path

from dns_log_transformer_spark.queries import ALL_QUERIES

QUERIES_DIR = Path(__file__).resolve().parents[1] / "dns_log_transformer_spark" / "queries"
PACKAGE = "dns_log_transformer_spark.queries"

#: name pattern -> domain module, first match wins
DOMAINS = (
    (r"q\d+_", "tpch"),
    (r"q_|cdc_", "relational"),
    (r"dns_", "dns_pipeline"),
    (r"text_|sketch_cms_topk$", "text"),
    (r"dedup_", "dedup"),
    (r"sim_|emb_", "similarity"),
    (r"corpus_", "corpus"),
    (r"mm_", "multimodal"),
)


def _domain(name: str) -> str | None:
    return next((mod for pat, mod in DOMAINS if re.match(pat, name)), None)


def test_queries_live_in_their_domain_module():
    misplaced = {
        name: q.fn.__module__
        for name, q in ALL_QUERIES.items()
        if q.fn.__module__ != f"{PACKAGE}.{_domain(name)}"
    }
    assert not misplaced, misplaced
    assert not sorted(QUERIES_DIR.glob("round*.py"))
    # domain modules reach shared fragments only through oracle_sql,
    # which itself imports nothing from the query package
    for path in QUERIES_DIR.glob("*.py"):
        if path.stem == "__init__":
            continue
        allowed = set() if path.stem == "oracle_sql" else {"registry", "oracle_sql"}
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.ImportFrom) and node.module.startswith(PACKAGE):
                assert node.module.removeprefix(PACKAGE + ".") in allowed, (
                    path.name,
                    node.module,
                )
