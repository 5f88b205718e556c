"""Wave 5 — set operations, sorts, limits, sampling.

Reference parity (SURVEY.md §2.6): UNION ALL native (UnionOperator),
UNION/INTERSECT [ALL]/EXCEPT [ALL] (reference rewrites via
HiveIntersectRewriteRule/HiveExceptRewriteRule + replicate_rows; Spark
has native operators), ORDER BY / SORT BY / DISTRIBUTE BY / CLUSTER BY
(ReduceSinkOperator configs), LIMIT + TopN pushdown (TopNHash ≙
TakeOrderedAndProject), TABLESAMPLE (bucket sampling expressed as a
deterministic key-mod filter so both engines agree).

One SQL text per entry where it can be: ``catalog.sql`` runs the
entry's text in Spark and DuckDB runs the same text as its oracle, so
the oracle check compares two engines on one query.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from hive_service_spark import catalog
from hive_service_spark.catalog import load
from hive_service_spark.registry import query

_UNION_ALL_ORACLE = """
SELECT o_orderkey AS okey, 'urgent' AS src FROM orders WHERE o_orderpriority = '1-URGENT'
UNION ALL
SELECT o_orderkey AS okey, 'big' AS src FROM orders WHERE o_totalprice > 280000
"""


@query("setop_union_all", oracle=_UNION_ALL_ORACLE)
def setop_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL (bag semantics — overlapping rows kept twice)."""
    return catalog.sql(spark, sf_dir, _UNION_ALL_ORACLE)


_UNION_DISTINCT_ORACLE = """
SELECT o_custkey AS custkey FROM orders WHERE o_orderpriority = '1-URGENT'
UNION
SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 280000
"""


@query("setop_union_distinct", oracle=_UNION_DISTINCT_ORACLE)
def setop_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION DISTINCT (reference: union + group-by dedup)."""
    return catalog.sql(spark, sf_dir, _UNION_DISTINCT_ORACLE)


_INTERSECT_ORACLE = """
SELECT c_nationkey AS nkey FROM customer WHERE c_acctbal > 9000
INTERSECT
SELECT s_nationkey AS nkey FROM supplier
"""


@query("setop_intersect", oracle=_INTERSECT_ORACLE)
def setop_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT DISTINCT (HiveIntersectRewriteRule ≙ native)."""
    return catalog.sql(spark, sf_dir, _INTERSECT_ORACLE)


_EXCEPT_ORACLE = """
SELECT c_nationkey AS nkey FROM customer
EXCEPT
SELECT s_nationkey AS nkey FROM supplier WHERE s_acctbal > 9000
"""


@query("setop_except", oracle=_EXCEPT_ORACLE)
def setop_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT DISTINCT (HiveExceptRewriteRule ≙ native).

    Subtracts the nations of *high-balance* suppliers: every nation has
    at least one supplier in the generated data, so the unfiltered
    subtraction is structurally empty and verifies nothing. The filter
    leaves a non-empty difference at every scale factor.
    """
    return catalog.sql(spark, sf_dir, _EXCEPT_ORACLE)


_INTERSECT_ALL_ORACLE = """
SELECT l_suppkey AS skey FROM lineitem WHERE l_quantity > 45
INTERSECT ALL
SELECT l_suppkey AS skey FROM lineitem WHERE l_discount > 0.08
"""


@query("setop_intersect_all", oracle=_INTERSECT_ALL_ORACLE)
def setop_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT ALL (bag intersect, multiplicity = min of both)."""
    return catalog.sql(spark, sf_dir, _INTERSECT_ALL_ORACLE)


_EXCEPT_ALL_ORACLE = """
SELECT l_suppkey AS skey FROM lineitem WHERE l_quantity > 45
EXCEPT ALL
SELECT l_suppkey AS skey FROM lineitem WHERE l_discount > 0.08
"""


@query("setop_except_all", oracle=_EXCEPT_ALL_ORACLE)
def setop_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT ALL (bag difference, multiplicity = max(0, a-b))."""
    return catalog.sql(spark, sf_dir, _EXCEPT_ALL_ORACLE)


_EXCEPT_ALL_DENSE_ORACLE = """
SELECT l_partkey AS pkey FROM lineitem WHERE l_quantity > 20
EXCEPT ALL
SELECT l_partkey AS pkey FROM lineitem WHERE l_discount > 0.05
"""


@query("setop_except_all_dense", oracle=_EXCEPT_ALL_DENSE_ORACLE)
def setop_except_all_dense(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT ALL with STRUCTURALLY dense multiplicities:
    setop_except_all (a benchmark entry, so its predicates stay fixed)
    produces 0 rows at sf0.001 and a handful at sf0.01, so the max(0, a-b) bag arithmetic was
    essentially unverified at the gate scales. This sibling keys on
    l_partkey, where the per-key densities of the two predicates
    genuinely interleave: at sf0.001 the data has 172 keys with a > b
    AND 20 keys clamped at a < b (912 result rows), so both branches
    of the multiplicity formula are value-checked at every scale."""
    return catalog.sql(spark, sf_dir, _EXCEPT_ALL_DENSE_ORACLE)


_TOPN_ORACLE = """
SELECT o_orderkey, o_totalprice
FROM orders
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 25
"""


@query("limit_topn", oracle=_TOPN_ORACLE)
def limit_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDER BY + LIMIT → TakeOrderedAndProject (reference TopNHash
    pushdown into ReduceSink): no global sort is materialized, each
    partition keeps a bounded heap."""
    return catalog.sql(spark, sf_dir, _TOPN_ORACLE)


_SORTED_ORACLE = """
SELECT n_name, n_regionkey, n_nationkey
FROM nation
ORDER BY n_regionkey, n_name
"""


@query("order_by_global", oracle=_SORTED_ORACLE)
def order_by_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global ORDER BY (range-partitioned sort, not 1-reducer like the
    reference's ORDER BY — Spark samples ranges and sorts in parallel)."""
    return catalog.sql(spark, sf_dir, _SORTED_ORACLE)


_CLUSTER_ORACLE = """
SELECT l_suppkey, l_orderkey, l_linenumber, l_quantity
FROM lineitem
WHERE l_quantity > 48
"""


@query("distribute_cluster_by", oracle=_CLUSTER_ORACLE)
def distribute_cluster_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTRIBUTE BY + SORT BY (CLUSTER BY): hash-repartition on a key
    with an in-partition sort — the ReduceSinkOperator contract. The
    global row set is unchanged (oracle = plain SELECT; compare is
    order-insensitive); the point is the partitioning/sort plan shape
    used before bucketed writes or merge joins."""
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 48)
    return (
        li.select("l_suppkey", "l_orderkey", "l_linenumber", "l_quantity")
        .repartition(F.col("l_suppkey"))
        .sortWithinPartitions("l_suppkey", "l_orderkey", "l_linenumber")
    )


_SAMPLE_ORACLE = """
SELECT l_orderkey, l_linenumber, l_quantity
FROM lineitem
WHERE l_orderkey % 16 = 3
"""


@query("tablesample_bucket", oracle=_SAMPLE_ORACLE)
def tablesample_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TABLESAMPLE(BUCKET 4 OUT OF 16 ON l_orderkey) expressed as the
    deterministic key-mod filter both engines compute identically
    (engine-internal hash sampling is not cross-engine comparable —
    SURVEY.md §7 hard parts; Bernoulli df.sample exists but is seeded
    per-engine)."""
    return catalog.sql(spark, sf_dir, _SAMPLE_ORACLE)


_SAMPLE_PCT_ORACLE = """
WITH sampled AS (
  SELECT o_orderkey, o_totalprice,
         ('0x' || substr(md5(o_orderkey::VARCHAR), 1, 8))::BIGINT AS coin
  FROM orders
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_sampled,
       ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 2)::DOUBLE
         AS sampled_total
FROM sampled WHERE coin % 100 < 5
"""


@query("tablesample_percent", oracle=_SAMPLE_PCT_ORACLE)
def tablesample_percent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TABLESAMPLE(5 PERCENT) as a content-stable hash coin
    (md5(key) mod 100 < pct) instead of Hive's split-based SplitSample
    or seeded Bernoulli df.sample: the same rows are sampled on every
    engine, every cluster size, and every run — which is what a
    reproducible training-data pipeline needs — and the filter is
    map-only (no shuffle, prunes before any downstream work)."""
    o = load(spark, sf_dir, "orders")
    coin = F.conv(
        F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 8), 16, 10
    ).cast("bigint")
    return o.where(coin % 100 < 5).agg(
        F.count(F.lit(1)).alias("n_sampled"),
        F.round(
            F.sum(F.col("o_totalprice").cast("decimal(18,4)")), 2
        )
        .cast("double")
        .alias("sampled_total"),
    )


_SAMPLE_ROWS_ORACLE = """
SELECT o_orderkey, o_totalprice
FROM orders
ORDER BY o_orderkey
LIMIT 50
"""


@query("tablesample_rows", oracle=_SAMPLE_ROWS_ORACLE)
def tablesample_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TABLESAMPLE(50 ROWS). Hive takes the first N rows per split; a
    deterministic cross-engine contract needs an order, so this is the
    TopN form — which Catalyst executes as TakeOrderedAndProject (the
    reference's TopNHash pushdown, SURVEY.md §2.6), never a global
    sort."""
    return catalog.sql(spark, sf_dir, _SAMPLE_ROWS_ORACLE)
