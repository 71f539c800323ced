"""The command-line tools under ``tools/``: each imports, neither they
nor the package hard-code the checkout they run from, the scale replica
keeps every join inside its replica, and a named parity run checks only
the named queries."""

from __future__ import annotations

import ast
import importlib
import os
import re
import subprocess
import sys
from pathlib import Path

import duckdb
import pytest

from dns_log_transformer_spark.session import TABLES
from tests.conftest import SF_SMOKE

REPO_ROOT = Path(__file__).resolve().parents[1]
TOOLS = sorted(p for p in (REPO_ROOT / "tools").glob("*.py") if p.stem != "__init__")


@pytest.mark.parametrize("path", TOOLS, ids=lambda p: p.stem)
def test_tool_imports(path):
    importlib.import_module(f"tools.{path.stem}")


def test_tools_find_the_repo_from_their_own_path():
    """A tool run from another checkout must read and write that
    checkout, so the only absolute paths a tool may name are the
    read-only fixtures."""
    fixtures = os.path.dirname(SF_SMOKE) + "/"
    for path in TOOLS:
        src = path.read_text()
        assert str(REPO_ROOT) not in src, path.name
        for literal in re.findall(r"""["'](/\w[^"']*)""", src):
            assert literal.startswith(fixtures), (path.name, literal)


def test_package_finds_the_repo_from_its_own_path():
    """Files the package writes next to itself (staged archives) must
    land in the checkout it was imported from, never in a fixed one, so
    the only absolute paths a module may name are the fixtures."""
    fixtures = os.path.dirname(SF_SMOKE)
    for path in (REPO_ROOT / "dns_log_transformer_spark").rglob("*.py"):
        src = path.read_text()
        assert str(REPO_ROOT) not in src, path.name
        for node in ast.walk(ast.parse(src)):
            if isinstance(node, ast.Constant) and re.match(r"/\w+/", str(node.value)):
                assert node.value.startswith(fixtures), (path.name, node.value)


def _views(con, schema: str, sf_dir: str) -> None:
    con.execute(f"CREATE SCHEMA {schema}")
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.isdir(p):
            p = os.path.join(p, "*.parquet")
        con.execute(f"CREATE VIEW {schema}.{t} AS SELECT * FROM read_parquet('{p}')")


def _files(root: Path) -> dict[str, tuple[int, int]]:
    return {
        str(p): (p.stat().st_mtime_ns, p.stat().st_size)
        for p in root.rglob("*")
        if p.is_file()
    }


#: each join, and a predicate true only when every joined row comes
#: from the same replica (replica = key // stride)
JOINS = {
    "lineitem-orders-customer": "FROM {s}.lineitem"
    " JOIN {s}.orders ON l_orderkey = o_orderkey"
    " JOIN {s}.customer ON o_custkey = c_custkey"
    " WHERE o_orderkey // {k} = c_custkey // {k}",
    "lineitem-supplier": "FROM {s}.lineitem"
    " JOIN {s}.supplier ON l_suppkey = s_suppkey"
    " WHERE l_orderkey // {k} = s_suppkey // {k}",
    "lineitem-part": "FROM {s}.lineitem"
    " JOIN {s}.part ON l_partkey = p_partkey"
    " WHERE l_orderkey // {k} = p_partkey // {k}",
    "embeddings-documents": "FROM {s}.embeddings"
    " JOIN {s}.documents ON vec_id = doc_id",
}


def test_build_replica_keeps_joins_inside_each_replica(spark, tmp_path):
    from tools.scale import KEY_STRIDE, KEYS, build_replica

    dst = tmp_path / "x2"
    build_replica(spark, SF_SMOKE, str(dst), 2)
    con = duckdb.connect()
    _views(con, "x1", SF_SMOKE)
    _views(con, "x2", str(dst))

    def one(sql: str) -> int:
        return con.execute(sql).fetchone()[0]

    for t in TABLES:
        n1 = one(f"SELECT count(*) FROM x1.{t}")
        want = 2 * n1 if t in KEYS else n1
        assert one(f"SELECT count(*) FROM x2.{t}") == want, t
    assert set(TABLES) - set(KEYS) == {"nation", "region"}
    for name, sql in JOINS.items():
        n1 = one("SELECT count(*) " + sql.format(s="x1", k=KEY_STRIDE))
        assert n1 > 0, name
        assert one("SELECT count(*) " + sql.format(s="x2", k=KEY_STRIDE)) == 2 * n1, name
    for col, key, table in (
        ("text", "doc_id", "documents"),
        ("embedding", "vec_id", "embeddings"),
    ):
        shared = one(
            f"SELECT count(*) FROM (SELECT {col} FROM x2.{table}"
            f" WHERE {key} < {KEY_STRIDE} INTERSECT SELECT {col}"
            f" FROM x2.{table} WHERE {key} >= {KEY_STRIDE})"
        )
        assert shared == 0, col

    before = _files(dst)
    build_replica(spark, SF_SMOKE, str(dst), 2)
    assert _files(dst) == before


def test_named_parity_run_checks_only_the_named_queries():
    names = ["q1_pricing_summary", "dns_quarantine_stats"]
    detail = REPO_ROOT / f"SWEEP_DETAIL_{Path(SF_SMOKE).name}.json"
    before = detail.read_bytes() if detail.exists() else None
    run = subprocess.run(
        [sys.executable, "tools/parity_sweep.py", SF_SMOKE, *names],
        cwd=REPO_ROOT,
        capture_output=True,
        text=True,
        timeout=900,
    )
    assert run.returncode == 0, run.stdout[-3000:] + run.stderr[-3000:]
    ok = [ln.split()[1] for ln in run.stdout.splitlines() if ln.startswith("OK ")]
    assert ok == names, run.stdout[-3000:]
    assert (detail.read_bytes() if detail.exists() else None) == before
