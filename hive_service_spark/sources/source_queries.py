"""Sources & sinks wave — SURVEY.md §2.2 (Hive SerDe / InputFormat matrix).

Each query exercises one storage surface end-to-end INSIDE the query:
write the driver's parquet data out in the target format to a scratch
dir under the repo, read it back, and aggregate — the DuckDB oracle
computes the same aggregate straight from the source parquet, so a
round-trip that corrupts values/types fails the hash check.

Reference parity (SURVEY.md §2.2):
- text/delimited  (LazySimpleSerDe, TextInputFormat)      -> csv / text
- JSON            (DelimitedJSONSerDe + get_json_object)  -> json
- ORC             (OrcInputFormat/OrcSerde)               -> orc (vectorized)
- Regex-parsed    (RegexSerDe)                            -> text + regexp_extract
- dynamic partitions (FileSinkOperator + SortedDynPartitionOptimizer)
                                                          -> write.partitionBy
- bucketed tables (SMBMapJoinOperator / bucketBy+sortBy)  -> bucketBy saveAsTable,
                                                             shuffle-free SMB join
- Avro (AvroSerDe): the spark-avro module is NOT deployed in this
  container (import-gated below); the code path is written and will
  light up on a cluster with spark-avro on the classpath.
- SequenceFile (HiveSequenceFileOutputFormat): RDD-level round-trip in
  `source_sequencefile_roundtrip` (no DataFrame reader exists).
- RCFile: legacy columnar format, documented N/A in v1.

Scale notes: every sink here is the production write path — dynamic
partitionBy prunes at read time (PartitionFilters in the scan),
bucketed saveAsTable elides the shuffle in the downstream join
(exercised by `sink_bucketed_smb_join`), and all round-trips stream
through executors (no driver collect).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from hive_service_spark.catalog import load
from hive_service_spark.registry import query

from hive_service_spark.scratch import pid_dir

# Per-process root for write-then-read-back round-trips: two concurrent
# processes (pytest alongside driver_sim) overwriting the same staged
# dataset race — one reads the other's half-written files.
_PID_SCRATCH = pid_dir("src")


# ---------------------------------------------------------------------------
# CSV (text/delimited SerDe)
# ---------------------------------------------------------------------------

_CSV_ORACLE = """
SELECT n_regionkey, COUNT(*) AS n_nations,
       MIN(n_name) AS first_name, CAST(SUM(n_nationkey) AS BIGINT) AS key_sum
FROM nation
GROUP BY n_regionkey
"""


@query("source_csv_roundtrip", oracle=_CSV_ORACLE)
def source_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """parquet -> csv(header) -> read back with explicit schema -> agg.
    Schema-on-read with a declared StructType, exactly like a Hive
    EXTERNAL TABLE ... ROW FORMAT DELIMITED over text files."""
    path = f"{_PID_SCRATCH}/nation_csv"
    n = load(spark, sf_dir, "nation")
    n.write.mode("overwrite").option("header", True).csv(path)
    back = spark.read.schema(n.schema).option("header", True).csv(path)
    return back.groupBy("n_regionkey").agg(
        F.count(F.lit(1)).alias("n_nations"),
        F.min("n_name").alias("first_name"),
        F.sum("n_nationkey").alias("key_sum"),
    )


# ---------------------------------------------------------------------------
# JSON lines
# ---------------------------------------------------------------------------

_JSON_ORACLE = """
SELECT o_orderstatus,
       COUNT(*) AS n_orders,
       ROUND(SUM(o_totalprice), 2) AS revenue,
       MIN(o_orderdate) AS first_order
FROM orders
GROUP BY o_orderstatus
"""


@query("source_json_roundtrip", oracle=_JSON_ORACLE)
def source_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """parquet -> json-lines -> read back with explicit schema -> agg.
    Timestamps survive via ISO-8601; doubles survive via shortest
    round-trip repr (both Spark defaults)."""
    path = f"{_PID_SCRATCH}/orders_json"
    o = load(spark, sf_dir, "orders")
    o.write.mode("overwrite").json(path)
    back = spark.read.schema(o.schema).json(path)
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        F.min("o_orderdate").alias("first_order"),
    )


# ---------------------------------------------------------------------------
# ORC (the reference's primary columnar format)
# ---------------------------------------------------------------------------

_ORC_ORACLE = """
SELECT l_returnflag, l_linestatus,
       COUNT(*) AS n_rows,
       CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount)
                          AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue
FROM lineitem
WHERE l_quantity > 25
GROUP BY l_returnflag, l_linestatus
"""


@query("source_orc_roundtrip", oracle=_ORC_ORACLE)
def source_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """parquet -> ORC -> read back -> filtered agg. Spark's vectorized
    ORC reader + predicate pushdown replace Hive's
    VectorizedOrcInputFormat/SearchArgument wholesale: the quantity
    filter reaches the ORC stripe index as a pushed filter."""
    path = f"{_PID_SCRATCH}/lineitem_orc"
    li = load(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_linestatus", "l_quantity",
        "l_extendedprice", "l_discount",
    )
    li.write.mode("overwrite").orc(path)
    back = spark.read.orc(path)
    return (
        back.where(F.col("l_quantity") > 25)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            # DECIMAL(18,4) inside the SUM (round-13 review): the 2dp x
            # 2dp product is exact at scale 4, so the sum is exact and
            # order-independent — a double sum's engine-dependent ulp
            # noise could straddle a half-cent tie
            F.round(
                F.sum(
                    (
                        F.col("l_extendedprice") * (1 - F.col("l_discount"))
                    ).cast("decimal(18,4)")
                ),
                2,
            )
            .cast("double")
            .alias("revenue"),
        )
    )


# ---------------------------------------------------------------------------
# Avro — import-gated (module not deployed in this container)
# ---------------------------------------------------------------------------

def _avro_available(spark: SparkSession) -> bool:
    try:
        spark.range(1).write.mode("overwrite").format("avro").save(
            f"{_PID_SCRATCH}/avro_probe"
        )
        return True
    except Exception:
        return False


_AVRO_ORACLE = """
SELECT COUNT(*) AS n_regions, MIN(r_name) AS first_region FROM region
"""


@query("source_avro_roundtrip", oracle=_AVRO_ORACLE)
def source_avro_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AvroSerDe analog. Uses format('avro') when spark-avro is on the
    classpath; otherwise degrades to the parquet source so the query
    stays runnable (the format string is the ONLY difference — schema,
    write, read-back, and agg are identical code). The round-trip
    result is format-independent, so the oracle holds either way."""
    fmt = "avro" if _avro_available(spark) else "parquet"
    path = f"{_PID_SCRATCH}/region_{fmt}"
    r = load(spark, sf_dir, "region")
    r.write.mode("overwrite").format(fmt).save(path)
    back = spark.read.format(fmt).load(path)
    return back.groupBy().agg(
        F.count(F.lit(1)).alias("n_regions"),
        F.min("r_name").alias("first_region"),
    )


# ---------------------------------------------------------------------------
# text + regex parse (RegexSerDe)
# ---------------------------------------------------------------------------

_REGEX_ORACLE = """
SELECT event_type, COUNT(*) AS n, CAST(SUM(user_id) AS BIGINT) AS user_id_sum
FROM (
  SELECT regexp_extract(line, '^\\[(\\w+)\\] user=(\\d+)$', 1) AS event_type,
         regexp_extract(line, '^\\[(\\w+)\\] user=(\\d+)$', 2)::BIGINT AS user_id
  FROM (SELECT '[' || event_type || '] user=' || user_id AS line FROM events)
)
GROUP BY event_type
"""


@query("source_text_regex", oracle=_REGEX_ORACLE)
def source_text_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RegexSerDe analog: render rows to log lines, write as a text
    file, read back with spark.read.text, re-parse with
    regexp_extract. The parse is a pure JVM expression (no UDF)."""
    path = f"{_PID_SCRATCH}/events_text"
    ev = load(spark, sf_dir, "events")
    lines = ev.select(
        F.concat(F.lit("["), "event_type", F.lit("] user="), "user_id")
        .alias("value")
    )
    lines.write.mode("overwrite").text(path)
    back = spark.read.text(path)
    pat = r"^\[(\w+)\] user=(\d+)$"
    return (
        back.select(
            F.regexp_extract("value", pat, 1).alias("event_type"),
            F.regexp_extract("value", pat, 2).cast("bigint").alias("user_id"),
        )
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("user_id").alias("user_id_sum"))
    )


# ---------------------------------------------------------------------------
# dynamic partitioned write + partition-pruned read
# ---------------------------------------------------------------------------

_DYNPART_ORACLE = """
SELECT
  EXTRACT(month FROM o_orderdate)::BIGINT AS o_month,
  COUNT(*) AS n_orders,
  ROUND(SUM(o_totalprice), 2) AS revenue
FROM orders
WHERE EXTRACT(year FROM o_orderdate) = 1996
GROUP BY 1
"""


@query("sink_dynamic_partitions", oracle=_DYNPART_ORACLE)
def sink_dynamic_partitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FileSinkOperator dynamic-partition analog: write orders
    partitioned by derived o_year (directory-encoded, Hive layout
    o_year=1996/...), then read back filtered on the partition column —
    the filter is a PartitionFilter in the scan (pruning, zero data
    read outside 1996), mirroring Hive's SortedDynPartitionOptimizer +
    partition pruner."""
    path = f"{_PID_SCRATCH}/orders_by_year"
    o = load(spark, sf_dir, "orders")
    (
        o.withColumn("o_year", F.year("o_orderdate"))
        .write.mode("overwrite")
        .partitionBy("o_year")
        .parquet(path)
    )
    back = spark.read.parquet(path)
    return (
        back.where(F.col("o_year") == 1996)
        .groupBy(F.month("o_orderdate").cast("bigint").alias("o_month"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )


# ---------------------------------------------------------------------------
# bucketed tables + shuffle-free sort-merge-bucket join
# ---------------------------------------------------------------------------

_BUCKET_ORACLE = """
SELECT c_mktsegment,
       COUNT(*) AS n_orders,
       ROUND(SUM(o_totalprice), 2) AS revenue
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
"""


@query("sink_bucketed_smb_join", oracle=_BUCKET_ORACLE)
def sink_bucketed_smb_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SMBMapJoinOperator analog: persist orders and customer bucketed
    + sorted on the join key (8 buckets) as catalog tables, then join.
    With matching bucketing on both sides Spark plans a sort-merge join
    with NO Exchange on either side — the 100 TB co-located join
    pattern (bucket count scales with cluster width, not data size).
    Note Hive and Spark bucket hashes differ (SURVEY.md §7): we assert
    join RESULTS, never bucket file layout."""
    import os
    import shutil

    from hive_service_spark.scratch import warehouse_dir

    spark.sql(
        "CREATE DATABASE IF NOT EXISTS hs_scratch "
        f"LOCATION '{warehouse_dir()}'"
    )
    # r13: the whole warehouse is now a per-pid scratch namespace
    # (scratch.warehouse_dir — reaped like proc-/src-), which closes
    # the pytest-vs-driver_sim shared-directory race at the database
    # level; the per-pid table names and in-catalog sweep this site
    # carried as a local workaround reduce to a simple same-pid reset.
    to, tc = f"orders_b_{os.getpid()}", f"customer_b_{os.getpid()}"
    # the session catalog is in-memory: a fresh session won't know these
    # tables even though their directories survive — clear both
    for t in (to, tc):
        spark.sql(f"DROP TABLE IF EXISTS hs_scratch.{t}")
        shutil.rmtree(f"{warehouse_dir()}/{t}", ignore_errors=True)
    o = load(spark, sf_dir, "orders").select(
        "o_custkey", "o_totalprice"
    )
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    (
        o.write.mode("overwrite")
        .bucketBy(8, "o_custkey")
        .sortBy("o_custkey")
        .saveAsTable(f"hs_scratch.{to}")
    )
    (
        c.write.mode("overwrite")
        .bucketBy(8, "c_custkey")
        .sortBy("c_custkey")
        .saveAsTable(f"hs_scratch.{tc}")
    )
    ob = spark.table(f"hs_scratch.{to}")
    cb = spark.table(f"hs_scratch.{tc}")
    return (
        ob.join(cb, ob.o_custkey == cb.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )


# ---------------------------------------------------------------------------
# SequenceFile (HiveSequenceFileOutputFormat)
# ---------------------------------------------------------------------------

_SEQ_ORACLE = """
SELECT o_orderpriority, COUNT(*) AS n_orders, CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
FROM orders
GROUP BY o_orderpriority
"""


@query("source_sequencefile_roundtrip", oracle=_SEQ_ORACLE)
def source_sequencefile_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SequenceFile round-trip (reference:
    HiveSequenceFileOutputFormat + LazySimpleSerDe over
    SequenceFileInputFormat — SURVEY.md §2.2). (orderkey, priority)
    pairs go out as Hadoop (LongWritable, Text) and come back through
    sequenceFile(); the group-by proves keys AND values survived.
    This is the ONE legacy-format path that genuinely needs the RDD
    API (no DataFrame reader exists); modern tables use parquet/ORC —
    kept for format parity, not the hot path."""
    import shutil

    path = f"{_PID_SCRATCH}/orders_seqfile"
    shutil.rmtree(path, ignore_errors=True)
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    o.rdd.map(lambda r: (r[0], r[1])).saveAsSequenceFile(path)
    back = spark.sparkContext.sequenceFile(path)
    df = back.toDF(["o_orderkey", "o_orderpriority"])
    return df.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("o_orderkey").alias("key_sum"),
    )


# ---------------------------------------------------------------------------
# small-file compaction (ALTER TABLE ... CONCATENATE analog)
# ---------------------------------------------------------------------------

_COMPACT_ORACLE = """
SELECT 8 AS n_files_after,
       COUNT(*) AS n_rows,
       SUM(l_quantity) AS sum_qty
FROM lineitem
"""


@query("sink_compaction_merge", oracle=_COMPACT_ORACLE)
def sink_compaction_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction: the reference's `ALTER TABLE ...
    CONCATENATE` / Orc|RCFileMergeOperator (SURVEY.md §2.1) re-expressed
    as a Spark rewrite. A fragmented table (96 small files) is rewritten
    to 8 right-sized files with `repartition(8)`, and the result is
    verified content-identical via the aggregate. At 100 TB the target
    file count comes from total_bytes / maxPartitionBytes (or AQE
    coalescing after a shuffle); the rewrite is a single shuffle-free
    scan + round-robin exchange — exactly what table-maintenance
    `OPTIMIZE` jobs do."""
    small = f"{_PID_SCRATCH}/lineitem_fragmented"
    compacted = f"{_PID_SCRATCH}/lineitem_compacted"
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_quantity"
    )
    li.repartition(96).write.mode("overwrite").parquet(small)
    spark.read.parquet(small).repartition(8).write.mode("overwrite").parquet(
        compacted
    )
    back = spark.read.parquet(compacted).withColumn(
        "_file", F.input_file_name()
    )
    return back.agg(
        F.countDistinct("_file").alias("n_files_after"),
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("l_quantity").alias("sum_qty"),
    )


# ---------------------------------------------------------------------------
# uniontype STORAGE round-trip (SURVEY.md §1.2 tagged-struct encoding)
# ---------------------------------------------------------------------------

_UNION_RT_ORACLE = """
WITH t AS (
  SELECT CASE WHEN o_orderstatus = 'O' THEN 0 ELSE 1 END AS tag,
         CASE WHEN o_orderstatus = 'O' THEN o_totalprice END AS field0,
         CASE WHEN o_orderstatus <> 'O' THEN o_orderpriority END AS field1
  FROM orders WHERE o_orderkey < 4000
)
SELECT tag,
       COUNT(*) AS n_rows,
       CAST(COALESCE(SUM(CAST(field0 AS DECIMAL(18,2))), 0) AS DOUBLE)
         AS sum_branch0,
       COALESCE(MAX(field1), '') AS max_branch1
FROM t GROUP BY tag ORDER BY tag
"""


@query("source_uniontype_roundtrip", oracle=_UNION_RT_ORACLE)
def source_uniontype_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """uniontype STORAGE: a union<double,string> column survives a
    parquet write/read round-trip in the documented tagged-struct
    encoding (struct<tag, field0, field1> — SURVEY.md §1.2; reference
    serde UnionObjectInspector in hive-exec!serde2/objectinspector/).
    Tag 0 carries the price of open orders, tag 1 the priority string
    of everything else; after reading back, per-tag dispatch with
    extract_union aggregates each branch. The oracle recomputes the
    same dispatch from the base table, so the value hash proves the
    encoding stored and recovered both branches exactly. Branch sums
    go through DECIMAL so parallel double addition can't flap the
    hash."""
    import hive_service_spark.functions.hive_compat as hc

    path = f"{_PID_SCRATCH}/orders_uniontype"
    o = load(spark, sf_dir, "orders").where(F.col("o_orderkey") < 4000)
    tag = F.when(F.col("o_orderstatus") == "O", 0).otherwise(1)
    u = hc.create_union(tag, F.col("o_totalprice"), F.col("o_orderpriority"))
    o.select("o_orderkey", u.alias("u")).write.mode("overwrite").parquet(path)
    back = spark.read.parquet(path)
    return (
        back.groupBy(F.col("u.tag").cast("int").alias("tag"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.coalesce(
                F.sum(hc.extract_union(F.col("u"), 0).cast("decimal(18,2)")),
                F.lit(0).cast("decimal(18,2)"),
            )
            .cast("double")
            .alias("sum_branch0"),
            F.coalesce(
                F.max(hc.extract_union(F.col("u"), 1)), F.lit("")
            ).alias("max_branch1"),
        )
        .orderBy("tag")
    )


# ---------------------------------------------------------------------------
# schema evolution: mixed-schema parquet read with mergeSchema
# ---------------------------------------------------------------------------

_EVOLUTION_ORACLE = """
WITH v1 AS (
  SELECT o_orderkey, o_orderstatus, CAST(NULL AS DOUBLE) AS o_totalprice
  FROM orders WHERE o_orderkey % 2 = 0
),
v2 AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice
  FROM orders WHERE o_orderkey % 2 = 1
),
unioned AS (SELECT * FROM v1 UNION ALL SELECT * FROM v2)
SELECT o_orderstatus,
       COUNT(*) AS n_orders,
       COUNT(o_totalprice) AS n_with_price,
       ROUND(SUM(COALESCE(o_totalprice, 0)), 2) AS known_revenue
FROM unioned
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""


@query("source_schema_evolution", oracle=_EVOLUTION_ORACLE)
def source_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on a live table (the add-a-column lifecycle
    Hive handles via `ALTER TABLE ADD COLUMNS` + schema-on-read,
    `hive-serde!serde2/lazy/LazySimpleSerDe` null-padding missing
    trailing columns; SURVEY.md §1.3): generation-1 files carry 2 data
    columns, generation-2 files add o_totalprice, and ONE read with
    `mergeSchema` reconciles both — old files surface the new column
    as NULL, exactly Hive's semantics. At 100 TB schema changes roll
    through file-by-file (no rewrite of old data), so every reader
    must handle mixed generations; COUNT(col) vs COUNT(*) shows the
    null-padding is real. Footer merging is a driver-side metadata
    operation, not a data scan."""
    import os
    import shutil

    # _PID_SCRATCH is already per-process; a second pid suffix was
    # redundant (round-13 review)
    path = f"{_PID_SCRATCH}/orders_evolution"
    shutil.rmtree(path, ignore_errors=True)
    o = load(spark, sf_dir, "orders")
    (
        o.where(F.col("o_orderkey") % 2 == 0)
        .select("o_orderkey", "o_orderstatus")
        .write.parquet(f"{path}/gen=1")
    )
    (
        o.where(F.col("o_orderkey") % 2 == 1)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .write.parquet(f"{path}/gen=2")
    )
    back = spark.read.option("mergeSchema", "true").parquet(path)
    return (
        back.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.count("o_totalprice").alias("n_with_price"),
            F.round(F.sum(F.coalesce("o_totalprice", F.lit(0.0))), 2).alias(
                "known_revenue"
            ),
        )
        .orderBy("o_orderstatus")
    )


# ---------------------------------------------------------------------------
# malformed-record handling on a JSON source (PERMISSIVE mode)
# ---------------------------------------------------------------------------

_CORRUPT_ORACLE = """
WITH lines AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice,
         o_orderkey % 11 = 0 AS corrupted
  FROM orders
)
SELECT CASE WHEN corrupted THEN 'corrupt' ELSE 'good' END AS record_class,
       COUNT(*) AS n_records,
       CAST(SUM(CASE WHEN corrupted THEN 0 ELSE o_orderkey END) AS BIGINT)
         AS key_sum,
       ROUND(SUM(CASE WHEN corrupted THEN 0 ELSE o_totalprice END), 2)
         AS good_revenue
FROM lines
GROUP BY record_class
ORDER BY record_class
"""


@query("source_json_corrupt_records", oracle=_CORRUPT_ORACLE)
def source_json_corrupt_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-record tolerance on a text-JSON source — the
    production reality Hive handles with SerDe error modes
    (`hive-serde!serde2/{JsonSerDe,LazySimpleSerDe}` null-row behavior,
    `hive.exec.bad.records.*`; SURVEY.md §2.2): every 11th line of a
    JSONL feed is truncated mid-record, and the PERMISSIVE reader
    (Spark's default, with `columnNameOfCorruptRecord`) loads good rows
    typed while quarantining bad lines into the corrupt column instead
    of failing the job — at 100 TB a single bad line must never kill a
    6-hour ingest. The census proves every line is accounted for:
    good rows aggregate, corrupt rows are counted (their payload is
    non-NULL only in the quarantine column). DROPMALFORMED/FAILFAST
    are the same reader with stricter modes."""
    import os
    import shutil

    path = f"{_PID_SCRATCH}/orders_jsonl"
    shutil.rmtree(path, ignore_errors=True)
    o = load(spark, sf_dir, "orders")
    line = F.to_json(F.struct("o_orderkey", "o_orderstatus", "o_totalprice"))
    # corrupt every 11th record by truncating the JSON mid-object
    mangled = o.select(
        F.when(
            F.col("o_orderkey") % 11 == 0, F.substring(line, 1, 15)
        )
        .otherwise(line)
        .alias("value")
    )
    mangled.write.mode("overwrite").text(path)
    back = (
        spark.read.schema(
            "o_orderkey long, o_orderstatus string, o_totalprice double, "
            "_bad string"
        )
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_bad")
        .json(path)
    )
    return (
        back.select(
            F.when(F.col("_bad").isNotNull(), "corrupt")
            .otherwise("good")
            .alias("record_class"),
            F.coalesce("o_orderkey", F.lit(0)).alias("k"),
            F.coalesce("o_totalprice", F.lit(0.0)).alias("p"),
        )
        .groupBy("record_class")
        .agg(
            F.count(F.lit(1)).alias("n_records"),
            F.sum("k").cast("bigint").alias("key_sum"),
            F.round(F.sum("p"), 2).alias("good_revenue"),
        )
        .orderBy("record_class")
    )


# ---------------------------------------------------------------------------
# JDBC federation: operational RDBMS dim ⋈ parquet fact
# ---------------------------------------------------------------------------

_JDBC_ORACLE = """
SELECT c.c_mktsegment,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(ROUND(o.o_totalprice * 100, 0) AS BIGINT))
            AS BIGINT) AS revenue_c,
       CAST(COUNT(DISTINCT c.c_custkey) AS BIGINT) AS n_customers
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
WHERE c.c_acctbal > 1000
GROUP BY c.c_mktsegment
ORDER BY c.c_mktsegment
"""


def _jdbc_opts(reader_or_writer, url: str):
    return (
        reader_or_writer.format("jdbc")
        .option("url", url)
        .option("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    )


@query("source_jdbc_federated", oracle=_JDBC_ORACLE)
def source_jdbc_federated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JDBC federation — the operational-RDBMS dimension living in a
    real SQL database (embedded Derby, the same engine the Hive
    metastore runs on) joined against the parquet fact table. The
    customer dim is first LOADED into Derby over JDBC (the nightly
    replication a warehouse runs), then read back federated:
    the `c_acctbal > 1000` predicate is PUSHED INTO THE DATABASE
    (JDBCRelation PushedFilters — the DB scans, Spark never sees the
    filtered rows) and the read is SPLIT into 4 range partitions on
    c_custkey, so the extract parallelizes like any other source
    instead of single-streaming through one connection. Reference
    surface: Hive federates via later-version JdbcStorageHandler;
    Spark's JDBC source is the native analog.

    100 TB reading: the fact side never moves — only the (already
    DB-filtered) dim crosses, partitioned; at real scale the dim read
    parallelism is sized by numPartitions/bounds exactly as here, and
    the pushed predicate is what keeps an operational DB join viable
    at all. Per-process Derby path: embedded Derby is single-process,
    so concurrent gate runs must not share a database directory."""
    url = f"jdbc:derby:{_PID_SCRATCH}/jdbc_dim_db;create=true"
    cust = load(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", F.col("c_acctbal").cast("double")
    )
    (
        _jdbc_opts(cust.write, url)
        .option("dbtable", "customer_dim")
        .mode("overwrite")
        .save()
    )
    hi, lo = cust.agg(F.max("c_custkey"), F.min("c_custkey")).first()
    dim = (
        _jdbc_opts(spark.read, url)
        .option("dbtable", "customer_dim")
        .option("partitionColumn", "c_custkey")
        .option("lowerBound", str(lo))
        .option("upperBound", str(hi + 1))
        .option("numPartitions", "4")
        .load()
        .where(F.col("c_acctbal") > 1000)
    )
    orders = load(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    return (
        orders.join(dim, orders.o_custkey == dim.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum(
                F.round(F.col("o_totalprice") * 100, 0).cast("bigint")
            )
            .cast("bigint")
            .alias("revenue_c"),
            F.count_distinct("c_custkey").cast("bigint").alias(
                "n_customers"
            ),
        )
        .orderBy("c_mktsegment")
    )
