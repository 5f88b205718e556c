"""Hive storage-format round-trips (SURVEY.md §2.2).

The reference's legacy row/columnar formats beyond parquet/ORC:
RCFile (`RCFile{Input,Output}Format` + `ColumnarSerDe`), SequenceFile
(`HiveSequenceFileOutputFormat`), and delimited text
(`LazySimpleSerDe`) [jar: hive-exec!ql/io/RCFile*;
hive-serde!…/{columnar/ColumnarSerDe,lazy/LazySimpleSerDe}].

Spark-first mapping: `STORED AS RCFILE / SEQUENCEFILE / TEXTFILE`
through the Hive catalog — Spark plans a HiveTableScan over the same
SerDe classes, so the round-trip below IS the reference code path, with
values cross-checked against the parquet source of truth. Runs in a
subprocess because a JVM holds ONE catalog implementation per
SparkContext and the shared fixture session is in-memory.
"""

from __future__ import annotations

import shutil
import subprocess
import sys
import textwrap
from pathlib import Path

_SCRIPT = textwrap.dedent(
    """
    import os, sys
    os.chdir(sys.argv[1])
    from pyspark.sql import SparkSession
    spark = (
        SparkSession.builder.appName("hive-formats-test")
        .master("local[2]")
        .config("spark.sql.warehouse.dir", sys.argv[1] + "/warehouse")
        .config("spark.driver.memory", "4g")
        .config("spark.ui.enabled", "false")
        .enableHiveSupport()
        .getOrCreate()
    )
    src = (
        spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
        .selectExpr("o_orderkey", "o_orderstatus", "o_totalprice")
        .limit(500)
    )
    src.createOrReplaceTempView("src")
    expected = sorted(tuple(r) for r in src.collect())
    for fmt, extra in (
        ("RCFILE", ""),
        ("SEQUENCEFILE", ""),
        ("TEXTFILE", "ROW FORMAT DELIMITED FIELDS TERMINATED BY '\\t' "),
    ):
        t = f"rt_{fmt.lower()}"
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        spark.sql(
            f"CREATE TABLE {t} (o_orderkey BIGINT, o_orderstatus STRING, "
            f"o_totalprice DOUBLE) {extra}STORED AS {fmt}"
        )
        spark.sql(f"INSERT INTO {t} SELECT * FROM src")
        got = sorted(tuple(r) for r in spark.table(t).collect())
        assert got == expected, f"{fmt}: {len(got)} rows, mismatch"
        spark.sql(f"DROP TABLE {t}")
    spark.stop()
    print("HIVE_FORMATS_OK")
    """
)


def test_hive_storage_format_roundtrips(tmp_path):
    work = tmp_path / "hive_fmt"
    work.mkdir()
    try:
        out = subprocess.run(
            [sys.executable, "-c", _SCRIPT, str(work)],
            capture_output=True,
            text=True,
            timeout=300,
            cwd=Path(__file__).resolve().parent.parent,
        )
        assert out.returncode == 0, f"stderr tail: {out.stderr[-2000:]}"
        assert "HIVE_FORMATS_OK" in out.stdout
    finally:
        shutil.rmtree(work, ignore_errors=True)
