"""Tool lint: one timing loop, and no fixed checkout path.

Rule 1: a noop-sink write (``<x>.write.format("noop")``) is how a run
is timed, so outside ``bench.measure`` it means a copy of the timing
protocol. None may appear in ``bench.py`` or ``tools/``; time through
``bench.measure``. ``writeStream`` sinks are not timing loops, and
``perfbench/`` is the benchmark's own harness, out of scope.

Rule 2: no ``.py`` file under ``hive_service_spark/``, ``tools/`` or
``tests/``, nor ``bench.py``, names the absolute checkout path. A copy
of the tree (an A/B checkout) would otherwise import, run or write
into the original; derive paths from ``__file__``.

Rule 3: no module in ``registry._QUERY_MODULES`` calls
``<x>.conf.set`` or ``<x>.conf.unset`` inside a ``finally:`` block or
an ``__exit__`` method. A registered query runs in its own copy of the
caller's session (``registry.run``), so it sets what it needs and
leaves it set; a hand-written restore is dead weight, and one that
races a concurrent peer's read is a bug.

Rule 4: no module under ``hive_service_spark/`` imports a name at top
level that it never uses. No pyflakes or ruff is installed, so the scan
is ``ast``: an imported name counts as used when it appears as a name
anywhere in the module.

Rule 5: no comment or string in a module under ``hive_service_spark/``
narrates the project's history: a round number (``round 11``,
``round-12``, ``r13``), a verdict or an advice file. Docstrings and
comments say what the code does now and why; history lives in git and
CHANGES.md. The modules that still carry such narration are listed in
``_NARRATION_ALLOWED``; the list only shrinks, since a listed module
that no longer narrates fails the test until it is taken off.
"""

from __future__ import annotations

import ast
import io
import re
import tokenize
from pathlib import Path

from hive_service_spark.registry import _QUERY_MODULES

ROOT = Path(__file__).resolve().parent.parent
# spelled in parts so this file does not match itself
_CHECKOUT_PATH = "/".join(("", "root", "repo"))


def _is_noop_write(call: ast.Call) -> bool:
    """``<x>.write.format("noop")`` (not ``writeStream``)."""
    f = call.func
    return (
        isinstance(f, ast.Attribute)
        and f.attr == "format"
        and isinstance(f.value, ast.Attribute)
        and f.value.attr == "write"
        and len(call.args) == 1
        and isinstance(call.args[0], ast.Constant)
        and call.args[0].value == "noop"
    )


def noop_writes(source: str, allowed_fn: str | None = None) -> list[int]:
    """Lines of noop-sink writes outside top-level function `allowed_fn`."""
    tree = ast.parse(source)
    allowed: set[int] = set()
    for node in tree.body:
        if isinstance(node, ast.FunctionDef) and node.name == allowed_fn:
            allowed |= {id(n) for n in ast.walk(node)}
    return sorted(
        node.lineno
        for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and _is_noop_write(node)
        and id(node) not in allowed
    )


def test_only_bench_measure_times_through_a_noop_sink():
    bad = [
        f"bench.py:{line}"
        for line in noop_writes((ROOT / "bench.py").read_text(), "measure")
    ]
    for path in sorted((ROOT / "tools").glob("*.py")):
        bad += [f"tools/{path.name}:{line}" for line in noop_writes(path.read_text())]
    assert not bad, f"noop-sink timing loop outside bench.measure: {bad}"
    # and bench.measure itself still holds the one loop
    assert noop_writes((ROOT / "bench.py").read_text()), "bench.measure lost its sink"


def test_noop_lint_detects_copies():
    """Self-test: flags noop writes outside the allowed function,
    chained or not, and passes writeStream and other formats."""
    src = '''
def measure(spark, fn):
    fn().write.format("noop").mode("overwrite").save()

def copy(spark, df):
    df.write.format("noop").mode("overwrite").save()

def chained(spec, spark, sf):
    spec.fn(spark, sf).write.format("noop").mode(
        "overwrite"
    ).save()

def ok_stream(df):
    return df.writeStream.format("noop").start()

def ok_parquet(df):
    df.write.format("parquet").save("/tmp/x")
'''
    assert noop_writes(src, "measure") == [6, 9]
    assert noop_writes(src) == [3, 6, 9]


def test_no_fixed_checkout_path():
    files = [ROOT / "bench.py"] + [
        path
        for top in ("hive_service_spark", "tools", "tests")
        for path in sorted((ROOT / top).rglob("*.py"))
    ]
    bad = [
        f"{path.relative_to(ROOT)}:{n}"
        for path in files
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if _CHECKOUT_PATH in line
    ]
    assert not bad, (
        f"hard-coded {_CHECKOUT_PATH}: a copy of the tree would use the "
        f"original; derive the path from __file__: {bad}"
    )


def _is_conf_write(call: ast.Call) -> bool:
    """``<x>.conf.set(...)`` or ``<x>.conf.unset(...)``."""
    f = call.func
    return (
        isinstance(f, ast.Attribute)
        and f.attr in ("set", "unset")
        and isinstance(f.value, ast.Attribute)
        and f.value.attr == "conf"
    )


def conf_restores(source: str) -> list[int]:
    """Lines of conf writes inside a ``finally:`` block or an
    ``__exit__`` method."""
    scopes: list[ast.AST] = []
    for node in ast.walk(ast.parse(source)):
        if isinstance(node, ast.Try):
            scopes += node.finalbody
        elif isinstance(node, ast.FunctionDef) and node.name == "__exit__":
            scopes.append(node)
    return sorted(
        {
            n.lineno
            for scope in scopes
            for n in ast.walk(scope)
            if isinstance(n, ast.Call) and _is_conf_write(n)
        }
    )


def test_query_modules_restore_no_session_conf():
    bad = []
    for mod in _QUERY_MODULES:
        path = ROOT / (mod.replace(".", "/") + ".py")
        bad += [
            f"{path.relative_to(ROOT)}:{line}"
            for line in conf_restores(path.read_text())
        ]
    assert not bad, (
        "a registered query runs in its own session copy; set the conf "
        f"and leave it set: {bad}"
    )


def test_conf_restore_lint_detects_restores():
    """Self-test: flags conf writes in finally blocks and __exit__,
    passes plain sets and other ``.set`` calls."""
    src = '''
def query(spark):
    prev = spark.conf.get("k")
    spark.conf.set("k", "v")
    try:
        return spark.sql("SELECT 1")
    finally:
        spark.conf.set("k", prev)

class pinned:
    def __exit__(self, *exc):
        self.spark.conf.unset("k")

def ok(spark, state):
    spark.conf.set("k", "v")
    try:
        pass
    finally:
        state.set("done")
'''
    assert conf_restores(src) == [8, 12]


def unused_imports(source: str) -> list[str]:
    """``line:name`` of top-level imports whose name the module never
    uses (``from __future__`` and star imports excepted)."""
    tree = ast.parse(source)
    imported: dict[str, int] = {}
    for node in tree.body:
        if isinstance(node, ast.Import):
            for alias in node.names:
                imported[alias.asname or alias.name.split(".")[0]] = node.lineno
        elif isinstance(node, ast.ImportFrom) and node.module != "__future__":
            for alias in node.names:
                if alias.name != "*":
                    imported[alias.asname or alias.name] = node.lineno
    used = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
    return sorted(f"{line}:{name}" for name, line in imported.items() if name not in used)


def test_package_has_no_unused_import():
    bad = [
        f"{path.relative_to(ROOT)}:{hit}"
        for path in sorted((ROOT / "hive_service_spark").rglob("*.py"))
        for hit in unused_imports(path.read_text())
    ]
    assert not bad, f"unused top-level import: {bad}"


def test_unused_import_lint_detects_a_planted_import():
    """Self-test: flags an unused plain, aliased and from-import, and
    passes names used in calls, attributes and annotations."""
    src = '''
from __future__ import annotations

import os
import pyspark.sql.functions as F
from pathlib import Path
from typing import Any
import json

def f(x: Any) -> str:
    return json.dumps(x)
'''
    assert unused_imports(src) == ["4:os", "5:F", "6:Path"]


_NARRATION = re.compile(
    r"(?i:\brounds?[- ]\d+|\bverdicts?\b|\badvice\b)|\br\d{2}[a-z]?\b"
)

# package modules that still narrate history (rule 5); take a module
# off when it is cleaned, never add one
_NARRATION_ALLOWED = {
    "functions/function_queries.py",
    "functions/hive_compat.py",
    "functions/percentile_hive.py",
    "functions/sql_shims.py",
    "llm/classify.py",
    "llm/dedup.py",
    "llm/multimodal.py",
    "llm/pipeline.py",
    "llm/similarity.py",
    "llm/text.py",
    "operators/acid_snapshots.py",
    "operators/ddl_catalog.py",
    "operators/graph_analytics.py",
    "operators/materialized_views.py",
    "operators/optimizer_features.py",
    "operators/partition_pruning.py",
    "operators/sequence_analytics.py",
    "operators/skew_scale.py",
    "operators/sql_script.py",
    "operators/temporal_joins.py",
    "plans/inspect.py",
    "scratch.py",
    "sources/python_datasource.py",
    "sources/source_queries.py",
    "streaming/events.py",
    "streaming/ingest.py",
    "streaming/notifications.py",
}


def narration(source: str) -> list[str]:
    """``line:text`` of history narration in comments and strings."""
    return [
        f"{tok.start[0]}:{m.group(0)}"
        for tok in tokenize.generate_tokens(io.StringIO(source).readline)
        if tok.type in (tokenize.COMMENT, tokenize.STRING)
        for m in _NARRATION.finditer(tok.string)
    ]


def test_package_modules_narrate_no_history():
    pkg = ROOT / "hive_service_spark"
    bad, clean = [], []
    for path in sorted(pkg.rglob("*.py")):
        rel = path.relative_to(pkg).as_posix()
        hits = narration(path.read_text())
        if rel in _NARRATION_ALLOWED:
            clean += [] if hits else [rel]
        else:
            bad += [f"{rel}:{hit}" for hit in hits]
    assert not bad, f"history narration in a package module: {bad}"
    assert not clean, f"narration gone; drop from _NARRATION_ALLOWED: {clean}"
    missing = [rel for rel in _NARRATION_ALLOWED if not (pkg / rel).exists()]
    assert not missing, f"_NARRATION_ALLOWED names missing files: {missing}"


def test_narration_lint_detects_a_planted_mention():
    """Self-test: flags round numbers, verdicts and advice in comments
    and docstrings; passes code, SQL ROUND(), round trips, SQL aliases
    such as r2 and rounds of an algorithm."""
    src = '''
def f(x):
    """Round 11: keeps the key (r12 verdict #3)."""
    # round-12 ADVICE: null-safe
    y = round(x, 2)  # ROUND half-up; the value round-trips
    r2 = "SELECT r2.k, ROUND(v, 2) FROM t r2"
    return y  # each round of the merge loop
'''
    assert narration(src) == [
        "3:Round 11",
        "3:r12",
        "3:verdict",
        "4:round-12",
        "4:ADVICE",
    ]
