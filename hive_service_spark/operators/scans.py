"""Wave 1 — scan / project / filter operators.

Reference parity: TableScanOperator + SelectOperator + FilterOperator
(SURVEY.md §2.1) and the predicate surface of the function registry
(between / in / like / rlike / null-safe <=> / case / if / coalesce,
SURVEY.md §2.7). Spark-first: every predicate is a Catalyst expression
so it folds into the FileSourceScan as PushedFilters where the parquet
reader supports it; projections prune the read schema.

One SQL text per entry where it can be: ``catalog.sql`` runs the
entry's text in Spark and DuckDB runs the same text as its oracle, so
the oracle check compares two engines on one query. Entries whose text
Spark does not run as it stands, or plans differently from their
DataFrame code, keep that code.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from hive_service_spark import catalog
from hive_service_spark.catalog import load
from hive_service_spark.registry import query

_PROJECT_FILTER_ORACLE = """
SELECT
  l_orderkey,
  l_linenumber,
  l_extendedprice * (1 - l_discount) AS net_price,
  l_quantity
FROM lineitem
WHERE l_quantity BETWEEN 10 AND 20
  AND l_discount > 0.05
"""


@query("scan_project_filter", oracle=_PROJECT_FILTER_ORACLE)
def scan_project_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Projection + BETWEEN/> predicates, pushed to the parquet scan."""
    return catalog.sql(spark, sf_dir, _PROJECT_FILTER_ORACLE)


_IN_LIKE_ORACLE = """
SELECT p_partkey, p_name, p_brand, p_type
FROM part
WHERE p_brand IN ('Brand#1', 'Brand#3')
  AND p_name LIKE '%e%'
  AND p_type NOT LIKE 'SMALL%'
"""


@query("predicate_in_like", oracle=_IN_LIKE_ORACLE)
def predicate_in_like(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN-list + LIKE / NOT LIKE (reference PointLookupOptimizer → Catalyst InSet).

    Literals are tuned to the generated testdata (two-word "color widget"
    p_names, ECONOMY/LARGE/... p_types) so the result set is non-empty at
    every scale factor — a 0-row green verifies nothing.
    """
    return catalog.sql(spark, sf_dir, _IN_LIKE_ORACLE)


_RLIKE_ORACLE = """
SELECT p_partkey, p_name
FROM part
WHERE regexp_matches(p_name, '(red|blue) (bolt|widget)')
"""


@query("predicate_rlike", oracle=_RLIKE_ORACLE)
def predicate_rlike(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RLIKE regex predicate (reference `rlike`/`regexp` UDFs).

    Pattern matches the generated "color widget" p_name vocabulary so the
    predicate actually observes rows at every scale factor.
    """
    p = load(spark, sf_dir, "part")
    return p.filter(F.col("p_name").rlike("(red|blue) (bolt|widget)")).select(
        "p_partkey", "p_name"
    )


_NULL_SAFE_ORACLE = """
SELECT
  c_custkey,
  seg_a IS NOT DISTINCT FROM seg_b AS null_safe_eq,
  seg_a IS NULL                    AS a_is_null
FROM (
  SELECT
    c_custkey,
    CASE WHEN c_acctbal > 5000 THEN c_mktsegment END               AS seg_a,
    CASE WHEN c_nationkey % 2 = 0 THEN c_mktsegment END            AS seg_b
  FROM customer
)
"""


@query("predicate_null_safe_eq", oracle=_NULL_SAFE_ORACLE)
def predicate_null_safe_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality `<=>` (reference GenericUDFOPEqualNS) ≙ eqNullSafe."""
    c = load(spark, sf_dir, "customer")
    seg_a = F.when(F.col("c_acctbal") > 5000, F.col("c_mktsegment"))
    seg_b = F.when(F.col("c_nationkey") % 2 == 0, F.col("c_mktsegment"))
    return c.select(
        "c_custkey",
        seg_a.eqNullSafe(seg_b).alias("null_safe_eq"),
        seg_a.isNull().alias("a_is_null"),
    )


_CONDITIONAL_ORACLE = """
SELECT
  o_orderkey,
  CASE o_orderstatus WHEN 'F' THEN 'finished'
                     WHEN 'O' THEN 'open'
                     ELSE 'partial' END                    AS status_word,
  CASE WHEN o_totalprice >= 200000 THEN 'big'
       WHEN o_totalprice >= 50000  THEN 'mid'
       ELSE 'small' END                                    AS size_bucket,
  COALESCE(NULLIF(o_orderpriority, '3-MEDIUM'), 'default') AS prio_or_default,
  CASE WHEN o_totalprice > 100000 THEN 1 ELSE 0 END        AS is_large
FROM orders
"""


@query("conditional_case_coalesce", oracle=_CONDITIONAL_ORACLE)
def conditional_case_coalesce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASE (both forms) / NULLIF / COALESCE / IF (reference conditional UDFs)."""
    o = load(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.when(F.col("o_orderstatus") == "F", "finished")
        .when(F.col("o_orderstatus") == "O", "open")
        .otherwise("partial")
        .alias("status_word"),
        F.when(F.col("o_totalprice") >= 200000, "big")
        .when(F.col("o_totalprice") >= 50000, "mid")
        .otherwise("small")
        .alias("size_bucket"),
        F.coalesce(
            F.nullif(F.col("o_orderpriority"), F.lit("3-MEDIUM")), F.lit("default")
        ).alias("prio_or_default"),
        F.expr("IF(o_totalprice > 100000, 1, 0)").alias("is_large"),
    )


_DISTINCT_ORACLE = """
SELECT DISTINCT o_orderstatus, o_orderpriority
FROM orders
"""


@query("distinct_projection", oracle=_DISTINCT_ORACLE)
def distinct_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SELECT DISTINCT (reference: GroupByOperator dedup rewrite)."""
    return catalog.sql(spark, sf_dir, _DISTINCT_ORACLE)


_VIRTUAL_COL_ORACLE = """
SELECT 'documents' AS src_file, COUNT(*) AS n_rows FROM documents
"""


@query("scan_virtual_columns", oracle=_VIRTUAL_COL_ORACLE)
def scan_virtual_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive virtual columns (SURVEY.md §1.2: VirtualColumn.FILENAME =
    INPUT__FILE__NAME, BLOCKOFFSET): Spark surfaces the same via
    F.input_file_name() and the _metadata struct. The query proves the
    virtual column resolves to the real scan file by extracting the
    table name from the path and counting rows per file — the oracle
    pins the expected (file, count). At 100 TB this is the lineage
    primitive (which input file produced this row) that file-level
    dedup/backfill pipelines key on."""
    d = load(spark, sf_dir, "documents")
    return (
        d.select(
            F.regexp_extract(F.input_file_name(), r"([a-z]+)\.parquet", 1).alias(
                "src_file"
            )
        )
        .groupBy("src_file")
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )
