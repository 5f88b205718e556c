"""Subquery wave — EXISTS / NOT EXISTS / IN / NOT IN / correlated scalar.

Reference parity: Hive 2.3 plans these via Calcite's
HiveSubQueryRemoveRule + HiveRelDecorrelator (51,660 B — SURVEY.md §4.1b)
into semi/anti joins and decorrelated aggregates. Catalyst does the
identical rewrite with RewritePredicateSubquery /
RewriteCorrelatedScalarSubquery, so each entry is one SQL text:
``catalog.sql`` runs it in Spark over views of the tables it names,
and DuckDB runs the same text as the oracle. The point is exercising
the WHOLE rewrite surface the reference supports, TPC-H
Q4/Q16/Q17/Q22 shapes adapted to the driver schema (no
commitdate/receiptdate/mfgr columns; orders span 1995..2001).

Scale notes: every subquery here decorrelates to a shuffle join on the
correlation key (Catalyst plans LEFT SEMI / LEFT ANTI / aggregate+join),
so the 100 TB behavior is the same as the explicit-join waves — no
per-row subquery execution anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from hive_service_spark import catalog
from hive_service_spark.registry import query


# --- EXISTS (TPC-H Q4 shape) ----------------------------------------------

_EXISTS_SQL = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
  AND EXISTS (
    SELECT 1 FROM lineitem
    WHERE l_orderkey = o_orderkey AND l_discount >= 0.05
  )
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


@query("subq_exists", oracle=_EXISTS_SQL)
def subq_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS -> LEFT SEMI join on o_orderkey (Catalyst
    RewritePredicateSubquery; reference: HiveSubQueryRemoveRule)."""
    return catalog.sql(spark, sf_dir, _EXISTS_SQL)


# --- NOT EXISTS -------------------------------------------------------------

_NOT_EXISTS_SQL = """
SELECT c_mktsegment, COUNT(*) AS n_customers,
       ROUND(SUM(c_acctbal), 2) + 0.0 AS total_bal
FROM customer
WHERE NOT EXISTS (
  SELECT 1 FROM orders
  WHERE o_custkey = c_custkey AND o_orderstatus = 'F'
)
GROUP BY c_mktsegment
"""


@query("subq_not_exists", oracle=_NOT_EXISTS_SQL)
def subq_not_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated NOT EXISTS -> LEFT ANTI join (the reference has no
    ANTI join operator constant — it reaches the same plan through
    subquery rewrite; SURVEY.md §2.5)."""
    return catalog.sql(spark, sf_dir, _NOT_EXISTS_SQL)


# --- IN ---------------------------------------------------------------------

_IN_SQL = """
SELECT p_brand, COUNT(*) AS n_parts
FROM part
WHERE p_partkey IN (
  SELECT l_partkey FROM lineitem WHERE l_quantity > 45
)
GROUP BY p_brand
ORDER BY p_brand
"""


@query("subq_in", oracle=_IN_SQL)
def subq_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uncorrelated IN subquery -> LEFT SEMI join after dedup of the
    subquery side."""
    return catalog.sql(spark, sf_dir, _IN_SQL)


# --- NOT IN -----------------------------------------------------------------

_NOT_IN_SQL = """
-- COALESCE: the NOT IN filter can exclude every supplier, and an
-- all-NULL SUM renders asymmetrically in the driver canon (Spark None
-- vs DuckDB-pandas NaN) — coalesce to 0 keeps the empty case scalar
SELECT COUNT(*) AS n_suppliers,
       ROUND(COALESCE(SUM(s_acctbal), 0), 2) + 0.0 AS total_bal
FROM supplier
WHERE s_suppkey NOT IN (
  SELECT l_suppkey FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1996-02-01 00:00:00'
)
"""


@query("subq_not_in", oracle=_NOT_IN_SQL)
def subq_not_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT IN -> null-aware LEFT ANTI join (both engines implement the
    three-valued-logic trap identically; keys here are non-null so the
    result is the plain anti join)."""
    return catalog.sql(spark, sf_dir, _NOT_IN_SQL)


# --- correlated scalar subquery in WHERE (TPC-H Q17 shape) ------------------

_SCALAR_CORR_SQL = """
SELECT ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE)
             / 7.0, 2) AS avg_yearly
FROM lineitem
WHERE l_quantity < (
  SELECT 0.2 * AVG(l_quantity) FROM lineitem l2
  WHERE l2.l_partkey = lineitem.l_partkey
)
"""


@query("subq_scalar_correlated", oracle=_SCALAR_CORR_SQL)
def subq_scalar_correlated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17: correlated scalar aggregate -> decorrelated to a
    per-partkey aggregate joined back (Catalyst
    RewriteCorrelatedScalarSubquery; reference: HiveRelDecorrelator).
    At 100 TB this is one shuffle on l_partkey for the aggregate plus
    one join — never a per-row subquery. The yearly average sums in
    DECIMAL first: a plain double SUM's partial-sum
    order differs between engines by a few ulps, and dividing that
    noisy value by 7.0 could straddle a half-cent rounding boundary;
    the exact decimal sum makes the quotient deterministic."""
    return catalog.sql(spark, sf_dir, _SCALAR_CORR_SQL)


# --- correlated scalar subquery in SELECT -----------------------------------

_SCALAR_SELECT_SQL = """
SELECT o_orderkey,
       ROUND(o_totalprice, 2) AS header_total,
       (SELECT CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount)
                                   AS DECIMAL(18,4))), 2) AS DOUBLE)
        FROM lineitem WHERE l_orderkey = o_orderkey) AS line_revenue
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-06-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
"""


@query("subq_scalar_in_select", oracle=_SCALAR_SELECT_SQL)
def subq_scalar_in_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar subquery in the projection -> LEFT OUTER join against the
    decorrelated aggregate (NULL where no lines, same both engines).

    The per-order revenue is summed as DECIMAL(18,4): the 2dp-price ×
    2dp-discount product is exact at scale 4, decimal addition is
    order-independent, so Spark and the oracle agree bit-for-bit where
    double summation (parallel, order-dependent) rounds half-cent ties
    differently per engine."""
    return catalog.sql(spark, sf_dir, _SCALAR_SELECT_SQL)


# --- TPC-H Q22 shape: scalar filter + anti join together --------------------

_Q22_SQL = """
SELECT c_nationkey, COUNT(*) AS n_custs, ROUND(SUM(c_acctbal), 2) + 0.0 AS total_bal
FROM customer
WHERE c_acctbal > (
    SELECT AVG(c_acctbal) FROM customer WHERE c_acctbal > 0.0
  )
  AND NOT EXISTS (
    SELECT 1 FROM orders
    WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT'
  )
GROUP BY c_nationkey
ORDER BY c_nationkey
"""


@query("subq_q22_global_filter_anti", oracle=_Q22_SQL)
def subq_q22_global_filter_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22: uncorrelated scalar (computed once, broadcast as a
    literal-like single-row join) + NOT EXISTS anti join in one query.

    The anti side is the *urgent* orders subset: every generated
    customer has at least one order, so the classic "no orders at all"
    predicate is structurally empty here — "no urgent orders" keeps the
    decorrelated anti-join shape and observes rows at every sf."""
    return catalog.sql(spark, sf_dir, _Q22_SQL)
