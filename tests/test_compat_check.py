"""tools/hiveql_compat_check.py: the offline migration compat report."""

from __future__ import annotations

import subprocess
import sys
from pathlib import Path

TOOLS = Path(__file__).resolve().parent.parent / "tools"
sys.path.insert(0, str(TOOLS))
from hiveql_compat_check import called_names, classify, report  # noqa: E402


def test_called_names_extraction():
    got = called_names(
        "SELECT field(x, 'a'), upper(y), 'not_a_call(z)' AS s, "
        "t.col, CAST(v AS INT), COUNT(*) OVER (PARTITION BY k) "
        "FROM tbl WHERE grouping__id > 0"
    )
    assert got == {"field", "upper", "count", "grouping__id"}


def test_classification_statuses():
    assert classify("upper")[0] == "native"
    assert classify("mask_first_n")[0] == "sql-udf"
    assert classify("field")[0] == "macro"
    assert classify("grouping__id")[0] == "macro"
    assert classify("npath")[0] == "ptf"
    assert classify("bigint")[0] == "rewrite"
    assert classify("bloom_filter")[0] == "operator"
    assert classify("get_splits")[0] == "unsupported"
    assert classify("reflect2")[0] == "unsupported"
    assert classify("hash")[0] == "native-divergent"
    assert classify("totally_custom_fn")[0] == "not-hive"


def test_report_blocking_and_exit_codes(tmp_path):
    rows, blocked = report("SELECT floor_day(ts) FROM t")
    assert not blocked and rows[0][1] == "sql-udf"
    _rows, blocked2 = report("SELECT get_splits(x, 1)")
    assert blocked2

    ok = tmp_path / "ok.sql"
    ok.write_text("SELECT mask_last_n(c) FROM t;\nSELECT field(x, 'a');")
    r = subprocess.run(
        [sys.executable, str(TOOLS / "hiveql_compat_check.py"), str(ok)],
        capture_output=True,
        text=True,
    )
    assert r.returncode == 0 and "sql-udf" in r.stdout and "macro" in r.stdout

    bad = tmp_path / "bad.sql"
    bad.write_text("SELECT reflect2(a, 'toString') FROM t")
    r2 = subprocess.run(
        [sys.executable, str(TOOLS / "hiveql_compat_check.py"), str(bad)],
        capture_output=True,
        text=True,
    )
    assert r2.returncode == 1 and "unsupported" in r2.stdout
