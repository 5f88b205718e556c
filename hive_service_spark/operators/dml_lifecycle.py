"""DML lifecycle wave — multi-insert, UPDATE/DELETE rewrite, EXPORT/IMPORT,
materialized-view analog.

Reference surface (SURVEY.md §3.2): Hive's SemanticAnalyzer compiles
multi-insert (`FROM src INSERT ... INSERT ...`) into one shared
TableScan fanned out through ForwardOperator into N FileSink branches
[jar: hive-exec!ql/exec/{ForwardOperator,FileSinkOperator}];
UpdateDeleteSemanticAnalyzer rewrites ACID UPDATE/DELETE into
select-rewrite jobs over the base + delta files; Export/Import
SemanticAnalyzers serialize a table (data files + `_metadata` thrift
blob) to a directory and re-register it elsewhere
[src: ql/src/java/org/apache/hadoop/hive/ql/parse/
{UpdateDeleteSemanticAnalyzer,ExportSemanticAnalyzer,
ImportSemanticAnalyzer}.java]; Calcite `rules/views` rewrites queries
onto materialized views.

Spark-first mapping: multi-insert is native Spark SQL (one scan, two
sinks — the whole-stage-codegen plan shares the scan); UPDATE/DELETE on
immutable parquet becomes a snapshot rewrite (at 100 TB you restrict it
to affected partitions via dynamic partition overwrite, or use
Delta/Iceberg — the REWRITE algebra is what's tested here); EXPORT =
data files + JSON schema sidecar, IMPORT = CREATE TABLE ... LOCATION;
the MV analog is CACHE TABLE over a view (InMemoryRelation serves
repeat queries — Spark has no automatic MV rewrite, documented gap).
"""

from __future__ import annotations

import json
import shutil

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from hive_service_spark import catalog
from hive_service_spark.catalog import load
from hive_service_spark.registry import query
from hive_service_spark.scratch import pid_dir, warehouse_dir


def _fresh_table(spark: SparkSession, name: str) -> None:
    spark.sql(
        "CREATE DATABASE IF NOT EXISTS hs_scratch "
        f"LOCATION '{warehouse_dir()}'"
    )
    spark.sql(f"DROP TABLE IF EXISTS hs_scratch.{name}")
    shutil.rmtree(f"{warehouse_dir()}/{name}", ignore_errors=True)


# --- multi-insert: one scan, two sinks (ForwardOperator analog) --------------

_MULTI_INSERT_ORACLE = """
SELECT 'hi' AS slice, l_returnflag, COUNT(*) AS n_rows,
       ROUND(SUM(l_quantity), 2) AS qty
FROM lineitem WHERE l_quantity > 45 GROUP BY l_returnflag
UNION ALL
SELECT 'lo' AS slice, l_returnflag, COUNT(*) AS n_rows,
       ROUND(SUM(l_quantity), 2) AS qty
FROM lineitem WHERE l_quantity < 3 GROUP BY l_returnflag
"""


@query("ddl_multi_insert", oracle=_MULTI_INSERT_ORACLE)
def ddl_multi_insert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive multi-insert: `FROM lineitem INSERT OVERWRITE t1 ... INSERT
    OVERWRITE t2 ...` — ONE statement, one logical scan fanned out to two
    sinks (the reference's ForwardOperator→FileSink×2 plan). Spark SQL
    supports the statement natively. The verification aggregate reads
    both sinks back; at 100 TB this halves scan cost vs two jobs."""
    catalog.bind(spark, sf_dir, "lineitem")
    _fresh_table(spark, "mi_hi")
    _fresh_table(spark, "mi_lo")
    spark.sql(
        """
        CREATE TABLE hs_scratch.mi_hi
          (l_returnflag STRING, l_quantity DOUBLE) USING parquet
        """
    )
    spark.sql(
        """
        CREATE TABLE hs_scratch.mi_lo
          (l_returnflag STRING, l_quantity DOUBLE) USING parquet
        """
    )
    spark.sql(
        """
        FROM lineitem
        INSERT OVERWRITE TABLE hs_scratch.mi_hi
          SELECT l_returnflag, l_quantity WHERE l_quantity > 45
        INSERT OVERWRITE TABLE hs_scratch.mi_lo
          SELECT l_returnflag, l_quantity WHERE l_quantity < 3
        """
    )
    return spark.sql(
        """
        SELECT 'hi' AS slice, l_returnflag, COUNT(*) AS n_rows,
               ROUND(SUM(l_quantity), 2) AS qty
        FROM hs_scratch.mi_hi GROUP BY l_returnflag
        UNION ALL
        SELECT 'lo' AS slice, l_returnflag, COUNT(*) AS n_rows,
               ROUND(SUM(l_quantity), 2) AS qty
        FROM hs_scratch.mi_lo GROUP BY l_returnflag
        """
    )


# --- UPDATE / DELETE as snapshot rewrite --------------------------------------

_UPDATE_DELETE_ORACLE = """
SELECT o_orderstatus, COUNT(*) AS n_orders,
       ROUND(SUM(CASE WHEN o_orderpriority LIKE '1-%'
                      THEN o_totalprice * 0.9 ELSE o_totalprice END), 2)
         AS total
FROM orders
WHERE o_orderstatus <> 'F'
GROUP BY o_orderstatus
"""


@query("ddl_update_delete_rewrite", oracle=_UPDATE_DELETE_ORACLE)
def ddl_update_delete_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DELETE then UPDATE, each compiled the way the reference's
    UpdateDeleteSemanticAnalyzer compiles ACID DML: a select-rewrite job
    producing a new snapshot (Hive writes delta files + compaction; on
    immutable parquet each statement materializes the survivors).
    v1 = base copy, v2 = v1 after `DELETE WHERE o_orderstatus='F'`,
    v3 = v2 after `UPDATE o_totalprice*=0.9 WHERE o_orderpriority LIKE
    '1-%'`. At 100 TB you'd scope the rewrite to affected partitions
    (dynamic partition overwrite) or use Delta/Iceberg ACID."""
    catalog.bind(spark, sf_dir, "orders")
    for t in ("orders_v1", "orders_v2", "orders_v3"):
        _fresh_table(spark, t)
    spark.sql(
        "CREATE TABLE hs_scratch.orders_v1 USING parquet AS "
        "SELECT * FROM orders"
    )
    # DELETE WHERE o_orderstatus = 'F'  →  survivors-only rewrite
    spark.sql(
        """
        CREATE TABLE hs_scratch.orders_v2 USING parquet AS
        SELECT * FROM hs_scratch.orders_v1 WHERE NOT (o_orderstatus = 'F')
        """
    )
    # UPDATE SET o_totalprice = o_totalprice*0.9 WHERE priority LIKE '1-%'
    spark.sql(
        """
        CREATE TABLE hs_scratch.orders_v3 USING parquet AS
        SELECT o_orderkey, o_custkey, o_orderstatus,
               CASE WHEN o_orderpriority LIKE '1-%'
                    THEN o_totalprice * 0.9 ELSE o_totalprice END
                 AS o_totalprice,
               o_orderdate, o_orderpriority
        FROM hs_scratch.orders_v2
        """
    )
    return spark.sql(
        """
        SELECT o_orderstatus, COUNT(*) AS n_orders,
               ROUND(SUM(o_totalprice), 2) AS total
        FROM hs_scratch.orders_v3
        GROUP BY o_orderstatus
        """
    )


# --- EXPORT TABLE ... / IMPORT TABLE ... --------------------------------------

_EXPORT_IMPORT_ORACLE = """
SELECT c_mktsegment, COUNT(*) AS n_customers,
       ROUND(SUM(c_acctbal), 2) + 0.0 AS balance
FROM customer
GROUP BY c_mktsegment
"""


@query("ddl_export_import", oracle=_EXPORT_IMPORT_ORACLE)
def ddl_export_import(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXPORT TABLE → directory (data files + `_metadata` schema
    sidecar), then IMPORT TABLE at the new location — the reference's
    Export/ImportSemanticAnalyzer replication surface. The aggregate
    over the imported table must match the oracle over the original,
    proving schema + data survived the round-trip."""
    export_dir = f"{pid_dir()}/export_customer"
    shutil.rmtree(export_dir, ignore_errors=True)

    cust = load(spark, sf_dir, "customer")
    # EXPORT: data files + metadata sidecar (Hive writes a thrift
    # _metadata blob; JSON carries the same schema + table properties).
    cust.write.mode("overwrite").parquet(f"{export_dir}/data")
    meta = {
        "table": "customer",
        "schema": cust.schema.jsonValue(),
        "format": "parquet",
        "properties": {"exported_by": "hive_service_spark"},
    }
    spark.createDataFrame(
        [(json.dumps(meta),)], "metadata STRING"
    ).coalesce(1).write.mode("overwrite").text(f"{export_dir}/_metadata")

    # IMPORT: read the sidecar, register the table at the exported
    # location with the recorded schema (no data copy — like Hive's
    # IMPORT ... LOCATION).
    from pyspark.sql.types import StructType

    meta_back = json.loads(
        spark.read.text(f"{export_dir}/_metadata").head()[0]
    )
    schema = StructType.fromJson(meta_back["schema"])
    ddl_cols = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in schema.fields
    )
    spark.sql("DROP TABLE IF EXISTS hs_scratch.customer_imported")
    spark.sql(
        "CREATE DATABASE IF NOT EXISTS hs_scratch "
        f"LOCATION '{warehouse_dir()}'"
    )
    spark.sql(
        f"""
        CREATE TABLE hs_scratch.customer_imported ({ddl_cols})
        USING {meta_back['format']}
        LOCATION '{export_dir}/data'
        """
    )
    return spark.sql(
        """
        SELECT c_mktsegment, COUNT(*) AS n_customers,
               ROUND(SUM(c_acctbal), 2) + 0.0 AS balance
        FROM hs_scratch.customer_imported
        GROUP BY c_mktsegment
        """
    )


# --- materialized-view analog: CACHE TABLE over a view -----------------------

_MV_ORACLE = """
WITH mv AS (
  SELECT l_suppkey,
         EXTRACT(year FROM l_shipdate)::BIGINT AS ship_year,
         ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
         COUNT(*) AS n_items
  FROM lineitem GROUP BY 1, 2
)
SELECT ship_year, COUNT(*) AS n_supplier_years,
       ROUND(SUM(revenue), 2) AS total_revenue, CAST(SUM(n_items) AS BIGINT) AS total_items
FROM mv GROUP BY ship_year ORDER BY ship_year
"""


@query("ddl_materialized_view_cache", oracle=_MV_ORACLE)
def ddl_materialized_view_cache(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized-view analog: a pre-aggregated view + CACHE TABLE.
    The reference maintains MVs + Calcite `rules/views` query rewrite;
    Spark has no automatic MV rewrite (documented gap, SURVEY.md §4.1)
    — the idiomatic analog is an explicitly cached aggregate that
    downstream queries target directly (InMemoryRelation replaces the
    rescan; on a cluster the cache is partitioned across executors).
    The outer roll-up reads the cached MV, not base lineitem."""
    catalog.bind(spark, sf_dir, "lineitem")
    spark.sql("UNCACHE TABLE IF EXISTS supplier_rev_mv")
    spark.sql(
        """
        CREATE OR REPLACE TEMP VIEW supplier_rev_mv AS
        SELECT l_suppkey, YEAR(l_shipdate) AS ship_year,
               ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
               COUNT(*) AS n_items
        FROM lineitem GROUP BY l_suppkey, YEAR(l_shipdate)
        """
    )
    spark.sql("CACHE TABLE supplier_rev_mv")
    return spark.sql(
        """
        SELECT ship_year, COUNT(*) AS n_supplier_years,
               ROUND(SUM(revenue), 2) AS total_revenue,
               CAST(SUM(n_items) AS BIGINT) AS total_items
        FROM supplier_rev_mv
        GROUP BY ship_year ORDER BY ship_year
        """
    )


# ---------------------------------------------------------------------------
# SCD Type-2 dimension maintenance
# ---------------------------------------------------------------------------

_SCD2_ORACLE = """
WITH day1 AS (
  SELECT c_custkey, c_mktsegment FROM customer
),
day2 AS (  -- the day-2 snapshot: every 7th customer switches segment
  SELECT c_custkey,
         CASE WHEN c_custkey % 7 = 0 THEN 'MACHINERY2'
              ELSE c_mktsegment END AS c_mktsegment
  FROM customer
),
history AS (
  -- closed-out day-1 versions of the changed rows
  SELECT d1.c_custkey, d1.c_mktsegment,
         'd1' AS valid_from, 'd2' AS valid_to, FALSE AS is_current
  FROM day1 d1 JOIN day2 d2 ON d1.c_custkey = d2.c_custkey
  WHERE d1.c_mktsegment <> d2.c_mktsegment
  UNION ALL
  -- new current versions of the changed rows
  SELECT d2.c_custkey, d2.c_mktsegment,
         'd2' AS valid_from, NULL AS valid_to, TRUE AS is_current
  FROM day1 d1 JOIN day2 d2 ON d1.c_custkey = d2.c_custkey
  WHERE d1.c_mktsegment <> d2.c_mktsegment
  UNION ALL
  -- untouched rows stay current with their original validity
  SELECT d1.c_custkey, d1.c_mktsegment,
         'd1' AS valid_from, NULL AS valid_to, TRUE AS is_current
  FROM day1 d1 JOIN day2 d2 ON d1.c_custkey = d2.c_custkey
  WHERE d1.c_mktsegment = d2.c_mktsegment
)
SELECT c_mktsegment, is_current, valid_from,
       COUNT(*) AS n_rows,
       CAST(SUM(c_custkey) AS BIGINT) AS key_sum
FROM history
GROUP BY c_mktsegment, is_current, valid_from
ORDER BY c_mktsegment, is_current, valid_from
"""


@query("ddl_scd2_dimension", oracle=_SCD2_ORACLE)
def ddl_scd2_dimension(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension Type 2 — the MERGE workload Hive's
    ACID DML exists for (`UpdateDeleteSemanticAnalyzer` rewriting
    MERGE WHEN MATCHED/NOT MATCHED; SURVEY.md §1.1): when a new
    snapshot of the customer dimension arrives, changed rows get their
    current version CLOSED (valid_to set, is_current=false) and a new
    current version INSERTED; unchanged rows pass through. Expressed
    Spark-first as one day1⋈day2 comparison + three projections
    unioned — equivalently a single MERGE with two WHEN clauses — so
    the dimension history is append-only and time-travel-queryable.
    One co-partitioned shuffle on the dimension key at 100 TB; the
    change set (the only data rewritten) is typically <<1% of the
    dimension. Output: per-segment census of current vs historical
    versions with a key checksum."""
    cust = load(spark, sf_dir, "customer")
    day1 = cust.select("c_custkey", "c_mktsegment")
    day2 = cust.select(
        "c_custkey",
        F.when(F.col("c_custkey") % 7 == 0, "MACHINERY2")
        .otherwise(F.col("c_mktsegment"))
        .alias("c_mktsegment"),
    )
    j = day1.alias("d1").join(
        day2.alias("d2"), F.col("d1.c_custkey") == F.col("d2.c_custkey")
    )
    changed = j.where(F.col("d1.c_mktsegment") != F.col("d2.c_mktsegment"))
    unchanged = j.where(F.col("d1.c_mktsegment") == F.col("d2.c_mktsegment"))
    closed = changed.select(
        F.col("d1.c_custkey").alias("c_custkey"),
        F.col("d1.c_mktsegment").alias("c_mktsegment"),
        F.lit("d1").alias("valid_from"),
        F.lit("d2").alias("valid_to"),
        F.lit(False).alias("is_current"),
    )
    fresh = changed.select(
        F.col("d2.c_custkey").alias("c_custkey"),
        F.col("d2.c_mktsegment").alias("c_mktsegment"),
        F.lit("d2").alias("valid_from"),
        F.lit(None).cast("string").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    kept = unchanged.select(
        F.col("d1.c_custkey").alias("c_custkey"),
        F.col("d1.c_mktsegment").alias("c_mktsegment"),
        F.lit("d1").alias("valid_from"),
        F.lit(None).cast("string").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    history = closed.unionByName(fresh).unionByName(kept)
    return (
        history.groupBy("c_mktsegment", "is_current", "valid_from")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("c_custkey").cast("bigint").alias("key_sum"),
        )
        .orderBy("c_mktsegment", "is_current", "valid_from")
    )
