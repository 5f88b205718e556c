"""Registry-table read lint: every read of a warehouse table goes
through ``hive_service_spark.catalog``.

A bare ``spark.read.parquet(f"{sf_dir}/orders.parquet")`` starts a
Spark job to infer the schema from the parquet footer on every call.
``catalog.load`` (and ``catalog.schema`` for the schema alone) infers
it once per file version and builds later scans from the cached
schema, which starts no job. This lint walks every module under
``hive_service_spark/`` and fails on a bare parquet read — a
``<x>.read[.option(...)...].parquet(...)`` chain with no
``.schema(...)`` call — whose path argument names a ``catalog.TABLES``
file, either directly or through one assignment in the same function
(``src = Path(sf_dir) / "events.parquet"; spark.read.parquet(str(src))``).
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

import hive_service_spark
from hive_service_spark.catalog import TABLES

_PKG = Path(hive_service_spark.__file__).parent
_TABLE_FILE = re.compile(rf"\b({'|'.join(TABLES)})\.parquet\b")


def _is_bare_parquet_read(call: ast.Call) -> bool:
    """``<x>.read....parquet(...)`` without ``.schema(...)`` in the chain."""
    f = call.func
    if not (isinstance(f, ast.Attribute) and f.attr == "parquet"):
        return False
    node = f.value
    while True:
        if isinstance(node, ast.Call):
            if isinstance(node.func, ast.Attribute) and node.func.attr == "schema":
                return False
            node = node.func
        elif isinstance(node, ast.Attribute):
            if node.attr == "read":
                return True
            node = node.value
        else:
            return False


def _assignments(scope: ast.AST) -> dict[str, list[str]]:
    """name -> source text of every value assigned to it in ``scope``."""
    out: dict[str, list[str]] = {}
    for node in ast.walk(scope):
        if isinstance(node, ast.Assign):
            for t in node.targets:
                if isinstance(t, ast.Name):
                    out.setdefault(t.id, []).append(ast.unparse(node.value))
    return out


def offenders(source: str, filename: str = "<src>") -> list[tuple[str, int, str]]:
    """(file, line, call text) of every bare read of a registry table."""
    tree = ast.parse(source, filename)
    scopes = [tree] + [
        n for n in ast.walk(tree)
        if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
    ]
    found = {}
    for scope in scopes:
        assigned = _assignments(scope)
        for node in ast.walk(scope):
            if not (isinstance(node, ast.Call) and _is_bare_parquet_read(node)):
                continue
            texts = []
            for arg in node.args:
                texts.append(ast.unparse(arg))
                for name in ast.walk(arg):
                    if isinstance(name, ast.Name):
                        texts += assigned.get(name.id, [])
            if any(_TABLE_FILE.search(t) for t in texts):
                found[node.lineno] = (filename, node.lineno, ast.unparse(node))
    return sorted(found.values())


def test_registry_tables_are_read_through_catalog():
    bad = []
    for path in sorted(_PKG.rglob("*.py")):
        if path.name == "catalog.py" and path.parent == _PKG:
            continue  # the one module that does the inference
        bad += offenders(path.read_text(), str(path.relative_to(_PKG.parent)))
    assert not bad, (
        "bare spark.read.parquet of a registry table re-runs the "
        "schema-inference job on every call; use catalog.load(spark, "
        f"sf_dir, name) or catalog.schema(spark, path): {bad}"
    )


def test_lint_detects_bare_table_reads():
    """Self-test: the detector flags direct, chained and one-hop reads
    and passes schema-supplied reads and non-registry paths."""
    src = '''
def a(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/events.parquet")

def b(spark, sf_dir):
    return spark.read.option("mergeSchema", "false").parquet(f"{sf_dir}/orders.parquet")

def c(spark, sf_dir):
    src = Path(sf_dir) / "documents.parquet"
    return spark.read.parquet(str(src)).schema

def d(self, sf_dir):
    return self.spark.read.parquet(sf_dir + "/lineitem.parquet")

def ok_schema(spark, sf_dir, s):
    return spark.read.schema(s).parquet(f"{sf_dir}/events.parquet")

def ok_scratch(spark, base):
    return spark.read.parquet(f"{base}/mv_v1")

def ok_stream(spark, sf_dir, s):
    return spark.readStream.schema(s).parquet(f"{sf_dir}/events.parquet")

def ok_other_name(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/orders_staged")
'''
    lines = [line for _f, line, _t in offenders(src)]
    assert lines == [3, 6, 10, 13], offenders(src)
