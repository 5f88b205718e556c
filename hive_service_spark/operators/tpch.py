"""Flagship multi-operator queries (TPC-H-shaped).

These exercise the full scan→filter→join→aggregate→sort pipeline the
reference compiles through its Operator DAG (SURVEY.md §2.1:
TableScanOperator → FilterOperator → MapJoin/JoinOperator →
GroupByOperator → ReduceSinkOperator → FileSink/ListSink). Here each
query is one SQL text: ``catalog.sql`` runs it in Spark and DuckDB
runs the same text as the oracle. Catalyst plans the physical
operators (FileSourceScan with pushed filters → BroadcastHashJoin /
SortMergeJoin → partial+final HashAggregate → TakeOrderedAndProject).

Scale notes (100 TB): filters are pushed to the parquet scan; the
region/nation dims are broadcast by a ``/*+ BROADCAST */`` hint
(fixed cardinality; DuckDB reads the hint as a comment); customer/orders/
lineitem joins shuffle on their keys with AQE handling skew and
coalescing; aggregations are map-side partial first. No driver-side
collect anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from hive_service_spark import catalog
from hive_service_spark.registry import query

# --- Q1: pricing summary (the flagship; smoke query for entry()) -----

_Q1_ORACLE = """
SELECT
  l_returnflag,
  l_linestatus,
  ROUND(SUM(l_quantity), 2)                                    AS sum_qty,
  ROUND(SUM(l_extendedprice), 2)                               AS sum_base_price,
  ROUND(SUM(l_extendedprice * (1 - l_discount)), 2)            AS sum_disc_price,
  ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
  ROUND(AVG(l_quantity), 4)                                    AS avg_qty,
  ROUND(AVG(l_extendedprice), 4)                               AS avg_price,
  ROUND(AVG(l_discount), 4)                                    AS avg_disc,
  COUNT(*)                                                     AS count_order
FROM lineitem
WHERE l_shipdate < TIMESTAMP '1998-09-03'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


@query("q1_pricing_summary", oracle=_Q1_ORACLE)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan+filter+hash-agg+sort.

    Reference parity: GroupByOperator modes HASH→MERGEPARTIAL
    (SURVEY.md §2.1) ≙ Catalyst partial/final HashAggregate; the
    shipdate predicate reaches the parquet scan as a pushed filter.
    """
    return catalog.sql(spark, sf_dir, _Q1_ORACLE)


# --- Q3: shipping priority (join + agg + top-N) ----------------------

_Q3_ORACLE = """
SELECT
  l_orderkey,
  ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
  o_orderdate,
  o_orderpriority
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1995-03-15'
  AND l_shipdate  > TIMESTAMP '1995-03-15'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderdate, l_orderkey
LIMIT 10
"""


@query("q3_shipping_priority", oracle=_Q3_ORACLE)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: 3-way equi-join, agg, TopN.

    Reference parity: JoinOperator (shuffle join) + TopNHash pushdown
    (SURVEY.md §2.1/§2.6) ≙ SortMergeJoin/ShuffledHashJoin +
    TakeOrderedAndProject. Filters prune each scan before the join.
    """
    return catalog.sql(spark, sf_dir, _Q3_ORACLE)


# --- Q5: local supplier volume (6-way join incl. broadcast dims) -----

_Q5_ORACLE = """
SELECT /*+ BROADCAST(nation, region) */
  n_name,
  ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1997-01-01'
GROUP BY n_name
ORDER BY revenue DESC, n_name
"""


@query("q5_local_supplier_volume", oracle=_Q5_ORACLE)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-way join chain with broadcast small dims.

    Reference parity: MapJoinOperator for the small sides (SURVEY.md
    §2.1) ≙ a `BROADCAST` hint on the FIXED-cardinality dims only
    (nation=25, region=5). supplier is sf-scaled, so its join is left
    to AQE + autoBroadcastJoinThreshold — at sf0.1 the threshold still
    picks broadcast (plan-pinned), while at 100x a forced hint would
    be a multi-GB executor-OOM broadcast. The big
    customer⋈orders⋈lineitem chain shuffles on its keys.
    """
    return catalog.sql(spark, sf_dir, _Q5_ORACLE)
