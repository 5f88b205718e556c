"""The local mirror of the driver's t2 gate.

Parametrizes over EVERY registered query: oracle-backed ones are
cross-checked against DuckDB; oracle-less ones (streaming/custom) get a
rows-and-schema sanity check. Adding an operator automatically adds its
test — the analog of the reference's golden-file clientpositive corpus
(SURVEY.md §5).
"""

from __future__ import annotations

import pytest

from hive_service_spark.registry import _QUERY_MODULES, load_all
from tests.conftest import SF_DIR, assert_matches_oracle

_SPECS = load_all()


@pytest.mark.parametrize("name", sorted(_SPECS), ids=str)
def test_query(name, spark, ddb):
    spec = _SPECS[name]
    if spec.oracle is not None:
        assert_matches_oracle(spark, ddb, spec)
    else:
        df = spec.fn(spark, SF_DIR)
        assert df.columns, f"{name}: no columns"
        assert df.count() >= 0


def test_registry_holds_every_module():
    """A module that fails to import fails load_all: its entries
    cannot drop out of this suite unnoticed."""
    assert len(_SPECS) == 330
    modules = {spec.fn.__module__ for spec in _SPECS.values()}
    assert [m for m in _QUERY_MODULES if m not in modules] == []


def test_entry_smoke(spark):
    import __spark_entry__ as e

    caller = spark.newSession()
    df = e.entry(caller)
    rows = df.collect()
    assert len(rows) > 0
    assert df.columns[0] == "l_returnflag"
    # entry() runs the registered query: its views stay in its own copy
    assert "lineitem" not in {
        t.name for t in caller.catalog.listTables() if t.isTemporary
    }
