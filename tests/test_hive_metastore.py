"""Hive-metastore-backed catalog lifecycle (SURVEY.md §3.3).

The reference's catalog IS the Hive metastore (154 Thrift ops); Spark's
`enableHiveSupport()` speaks that exact protocol via HiveExternalCatalog.
This test exercises the §3.3 surface end-to-end against an embedded
Derby metastore: CREATE DATABASE / partitioned CREATE TABLE / INSERT
with partitions / SHOW PARTITIONS / ALTER / DROP — the same op groups
as the metastore Thrift API (databases, tables, partitions).

Runs in a subprocess because a JVM holds ONE catalog implementation per
SparkContext and the shared test fixture is in-memory.
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
        SparkSession.builder.appName("hive-metastore-test")
        .master("local[2]")
        .config("spark.sql.warehouse.dir", sys.argv[1] + "/warehouse")
        .config("spark.driver.memory", "4g")
        .config("spark.ui.enabled", "false")
        .enableHiveSupport()
        .getOrCreate()
    )
    assert spark.conf.get("spark.sql.catalogImplementation") == "hive"
    # databases group (metastore: create_database/get_database/drop_database)
    spark.sql("CREATE DATABASE IF NOT EXISTS ms_db COMMENT 'metastore test db'")
    assert any(d.name == "ms_db" for d in spark.catalog.listDatabases())
    # tables + partitions group (create_table / add_partition / get_partitions)
    spark.sql(
        "CREATE TABLE ms_db.orders_p (o_orderkey BIGINT, o_totalprice DOUBLE) "
        "USING parquet PARTITIONED BY (status STRING)"
    )
    spark.sql("INSERT INTO ms_db.orders_p PARTITION (status='O') VALUES (1, 10.5), (2, 20.5)")
    spark.sql("INSERT INTO ms_db.orders_p PARTITION (status='F') VALUES (3, 30.5)")
    parts = sorted(r[0] for r in spark.sql("SHOW PARTITIONS ms_db.orders_p").collect())
    assert parts == ["status=F", "status=O"], parts
    # partition pruning goes through the metastore (get_partitions_by_filter)
    n = spark.sql("SELECT count(*) FROM ms_db.orders_p WHERE status='O'").collect()[0][0]
    assert n == 2, n
    # alter group (alter_table): add a column, verify schema round-trips
    spark.sql("ALTER TABLE ms_db.orders_p ADD COLUMNS (note STRING)")
    cols = [f.name for f in spark.table("ms_db.orders_p").schema.fields]
    assert "note" in cols, cols
    # stats group (update_table_column_statistics)
    spark.sql("ANALYZE TABLE ms_db.orders_p COMPUTE STATISTICS")
    # drop group
    spark.sql("DROP TABLE ms_db.orders_p")
    spark.sql("DROP DATABASE ms_db")
    spark.stop()
    print("HIVE_METASTORE_OK")
    """
)


def test_hive_metastore_lifecycle(tmp_path):
    work = tmp_path / "hive_ms"
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
        assert "HIVE_METASTORE_OK" in out.stdout
    finally:
        shutil.rmtree(work, ignore_errors=True)
