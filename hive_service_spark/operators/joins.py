"""Wave 2 — join operators: every reference join type.

Reference parity (SURVEY.md §2.5): JoinOperator shuffle equi-joins
INNER/LEFT/RIGHT/FULL/LEFT SEMI (JoinDesc constants 0..5), ANTI via
NOT EXISTS decorrelation, MapJoinOperator broadcast join, residual
non-equi predicates on CommonJoinOperator, CrossProductCheck theta
joins.

One SQL text per entry where it can be: ``catalog.sql`` runs the
entry's text in Spark and DuckDB runs the same text as its oracle, so
the oracle check compares two engines on one query. A forced broadcast
is a ``/*+ BROADCAST(t) */`` hint in the text, which DuckDB reads as a
comment.

Scale notes: only the fixed-cardinality dims (nation/region) are
broadcast by hint — at 100 TB the fact-side scan never shuffles for
those. Fact⋈fact joins shuffle on join keys; AQE handles skew +
converts to broadcast when a filtered side turns out small.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from hive_service_spark import catalog
from hive_service_spark.catalog import load
from hive_service_spark.registry import query

_INNER_ORACLE = """
SELECT /*+ BROADCAST(nation) */ c_custkey, c_name, n_name
FROM customer
JOIN nation ON c_nationkey = n_nationkey
WHERE c_acctbal > 7000
"""


@query("join_inner_broadcast", oracle=_INNER_ORACLE)
def join_inner_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INNER equi-join with a broadcast hint on the 25-row dim."""
    return catalog.sql(spark, sf_dir, _INNER_ORACLE)


_LEFT_ORACLE = """
SELECT c_custkey, o_orderkey, o_totalprice
FROM customer
LEFT JOIN (SELECT * FROM orders WHERE o_totalprice > 150000) big
  ON c_custkey = big.o_custkey
WHERE c_nationkey < 5
"""


@query("join_left_outer", oracle=_LEFT_ORACLE)
def join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER: unmatched left rows null-extended (JoinDesc LEFT_OUTER=1)."""
    return catalog.sql(spark, sf_dir, _LEFT_ORACLE)


_RIGHT_ORACLE = """
SELECT o_orderkey, c_custkey, c_name
FROM (SELECT * FROM orders WHERE o_orderstatus = 'F') f
RIGHT JOIN customer ON f.o_custkey = c_custkey
WHERE c_acctbal < 0
"""


@query("join_right_outer", oracle=_RIGHT_ORACLE)
def join_right_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RIGHT OUTER (JoinDesc RIGHT_OUTER=2)."""
    return catalog.sql(spark, sf_dir, _RIGHT_ORACLE)


_FULL_ORACLE = """
SELECT n_nationkey, n_name, r_regionkey, r_name
FROM (SELECT * FROM nation WHERE n_nationkey < 10) n
FULL JOIN (SELECT * FROM region WHERE r_regionkey >= 2) r
  ON n.n_regionkey = r.r_regionkey
"""


@query("join_full_outer", oracle=_FULL_ORACLE)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER: null-extend both sides (JoinDesc FULL_OUTER=3)."""
    return catalog.sql(spark, sf_dir, _FULL_ORACLE)


_SEMI_ORACLE = """
SELECT c_custkey, c_name
FROM customer c
WHERE EXISTS (
  SELECT 1 FROM orders o
  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 250000
)
"""


@query("join_left_semi", oracle=_SEMI_ORACLE)
def join_left_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI (JoinDesc LEFT_SEMI=5) ≙ EXISTS decorrelation."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 250000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


_ANTI_ORACLE = """
SELECT c_custkey, c_name
FROM customer c
WHERE NOT EXISTS (
  SELECT 1 FROM orders o
  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'O'
)
"""


@query("join_left_anti", oracle=_ANTI_ORACLE)
def join_left_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANTI join: reference plans NOT EXISTS via HiveSubQueryRemoveRule;
    Spark has native left_anti."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "O")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


_THETA_ORACLE = """
SELECT l_orderkey, l_linenumber, p_partkey, p_retailprice
FROM lineitem
JOIN part ON l_partkey = p_partkey
         AND p_retailprice < l_extendedprice / l_quantity
WHERE l_quantity >= 30
"""


@query("join_theta_residual", oracle=_THETA_ORACLE)
def join_theta_residual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-join + non-equi residual predicate (CommonJoinOperator
    residual filters)."""
    return catalog.sql(spark, sf_dir, _THETA_ORACLE)


_CROSS_ORACLE = """
SELECT r_name, s_suppkey
FROM region
CROSS JOIN supplier
WHERE s_acctbal > 5000
"""


@query("join_cross", oracle=_CROSS_ORACLE)
def join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cartesian product (reference CrossProductCheck path →
    BroadcastNestedLoopJoin here)."""
    return catalog.sql(spark, sf_dir, _CROSS_ORACLE)


_SELF_ORACLE = """
SELECT a.o_orderkey AS first_order, b.o_orderkey AS later_order, a.o_custkey
FROM orders a
JOIN orders b
  ON a.o_custkey = b.o_custkey
 AND a.o_orderkey < b.o_orderkey
WHERE a.o_totalprice > 290000 AND b.o_totalprice > 290000
"""


@query("join_self_pairs", oracle=_SELF_ORACLE)
def join_self_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-join producing ordered pairs (same-table alias handling)."""
    return catalog.sql(spark, sf_dir, _SELF_ORACLE)
