"""Extended TPC-H query shapes adapted to the driver schema.

Completes the flagship corpus beyond q1/q3/q5 (operators/tpch.py):
q6 q7 q9 q10 q12 q14 q18 q19 — each the canonical multi-operator
pipeline the reference compiles through its Operator DAG (SURVEY.md
§2.1) and the public Hive TPC-H corpus runs (SURVEY.md §5: the
clientpositive/perf query set). Adapted where the driver schema lacks a
TPC-H column (no partsupp table, no l_shipmode/l_commitdate — noted per
query).

One SQL text per entry where it can be: ``catalog.sql`` runs the
entry's text in Spark and DuckDB runs the same text as its oracle, so
the oracle check compares two engines on one query. A forced broadcast
is a ``/*+ BROADCAST(t) */`` hint in the text, which DuckDB reads as a
comment. q7 and q18 keep DataFrame code: Spark does not run their text
as it stands, or plans it differently.

Scale notes (100 TB): same discipline as tpch.py — filters reach the
parquet scans, fixed-cardinality dims (nation/region) are broadcast by
hint, the lineitem⋈orders⋈customer chain shuffles on join keys with
AQE skew handling, aggregates are partial-then-final. Nothing collects
to the driver.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from hive_service_spark import catalog
from hive_service_spark.catalog import load
from hive_service_spark.registry import query


def _ts(s: str):
    return F.lit(s).cast("timestamp")


# --- Q6: forecasting revenue change (pure scan+filter+agg) -----------------

_Q6_ORACLE = """
SELECT ROUND(SUM(l_extendedprice * l_discount), 2) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate <  TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""


@query("q6_forecast_revenue", oracle=_Q6_ORACLE)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: the purest pushdown test — every predicate lands in
    the parquet scan (PushedFilters shows shipdate/discount/quantity),
    one map-side partial SUM, no shuffle beyond the final reduce."""
    return catalog.sql(spark, sf_dir, _Q6_ORACLE)


# --- Q7: volume shipping between two nations -------------------------------

_Q7_ORACLE = """
SELECT supp_nation, cust_nation, l_year,
       ROUND(SUM(volume), 2) AS revenue
FROM (
  SELECT n1.n_name AS supp_nation,
         n2.n_name AS cust_nation,
         EXTRACT(year FROM l_shipdate)::BIGINT AS l_year,
         l_extendedprice * (1 - l_discount) AS volume
  FROM supplier
  JOIN lineitem ON s_suppkey = l_suppkey
  JOIN orders   ON o_orderkey = l_orderkey
  JOIN customer ON c_custkey = o_custkey
  JOIN nation n1 ON s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c_nationkey = n2.n_nationkey
  WHERE ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
      OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3'))
    AND l_shipdate BETWEEN TIMESTAMP '1995-01-01' AND TIMESTAMP '1996-12-31'
)
GROUP BY supp_nation, cust_nation, l_year
ORDER BY supp_nation, cust_nation, l_year
"""


@query("q7_volume_shipping", oracle=_Q7_ORACLE)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7: double nation join (two broadcast copies of the same
    25-row dim under different aliases) with a disjunctive cross-nation
    predicate — the reference plans the pair condition as a residual
    filter on CommonJoinOperator (SURVEY.md §2.5).

    The disjunction ((s=A & c=B) | (s=B & c=A)) IMPLIES the per-side
    constraints s IN (A,B) and c IN (A,B); Catalyst's constraint
    propagation does not factor OR branches, so the per-side IN is
    applied by hand onto each nation arm BEFORE the fact joins. At
    100 TB that cuts supplier and customer to 2/25 nations up front —
    so the lineitem⋈orders shuffle carries only the pre-filtered rows
    instead of filtering to the pair after the full 5-way join. The
    residual disjunction after the joins removes the (A,A)/(B,B)
    combinations the per-side IN admits.

    Nation pair is taken from the generated NATION_0..24 vocabulary
    (TPC-H's FRANCE/GERMANY never match) so the query observes rows at
    every scale factor."""
    li = load(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate").between(_ts("1995-01-01"), _ts("1996-12-31"))
    )
    pair = ("NATION_3", "NATION_7")
    n1 = (
        load(spark, sf_dir, "nation")
        .where(F.col("n_name").isin(*pair))
        .select(
            F.col("n_nationkey").alias("n1_key"),
            F.col("n_name").alias("supp_nation"),
        )
    )
    n2 = (
        load(spark, sf_dir, "nation")
        .where(F.col("n_name").isin(*pair))
        .select(
            F.col("n_nationkey").alias("n2_key"),
            F.col("n_name").alias("cust_nation"),
        )
    )
    # collapse each snowflake arm off the fact path (same discipline as
    # q8): supplier and customer reduce to pre-filtered key->nation maps
    supp_n = (
        load(spark, sf_dir, "supplier")
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .select("s_suppkey", "supp_nation")
    )
    cust_n = (
        load(spark, sf_dir, "customer")
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .select("c_custkey", "cust_nation")
    )
    # no broadcast hint on the customer arm: 2/25 of customer is still
    # O(table) at 100 TB — AQE broadcasts it at test scale and shuffles
    # it when it outgrows the threshold
    orders_n = load(spark, sf_dir, "orders").join(
        cust_n, F.col("o_custkey") == F.col("c_custkey")
    )
    joined = (
        li.join(supp_n, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(orders_n, F.col("o_orderkey") == F.col("l_orderkey"))
        .filter(
            (
                (F.col("supp_nation") == pair[0])
                & (F.col("cust_nation") == pair[1])
            )
            | (
                (F.col("supp_nation") == pair[1])
                & (F.col("cust_nation") == pair[0])
            )
        )
    )
    return (
        joined.select(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("bigint").alias("l_year"),
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("volume"),
        )
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(F.round(F.sum("volume"), 2).alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


# --- Q9: product type profit (adapted: no partsupp → cost proxy) -----------

_Q9_ORACLE = """
SELECT nation, o_year, CAST(ROUND(SUM(amount), 2) AS DOUBLE) AS sum_profit
FROM (
  SELECT /*+ BROADCAST(nation) */
         n_name AS nation,
         EXTRACT(year FROM o_orderdate)::BIGINT AS o_year,
         CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))
           - CAST(p_retailprice * 0.6 * l_quantity AS DECIMAL(18,4)) AS amount
  FROM part
  JOIN lineitem ON p_partkey = l_partkey
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN orders   ON o_orderkey = l_orderkey
  JOIN nation   ON s_nationkey = n_nationkey
  WHERE p_name LIKE '%red%'
)
GROUP BY nation, o_year
ORDER BY nation, o_year DESC
"""


@query("q9_product_profit", oracle=_Q9_ORACLE)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 adapted: the driver schema has no partsupp, so supply
    cost is proxied as 60% of p_retailprice. Exercises the 5-way join
    with a LIKE-filtered part side and per-nation-year aggregation.

    Filter literal '%red%' matches the generated color vocabulary
    ('%green%' never does) so the part side is non-empty at every
    scale factor.

    Each amount term is cast to DECIMAL(18,4) before the sum: both
    terms are exact at four places, so the decimal sum does not depend
    on summation order, and ROUND(..., 2) cannot land on a different
    side of a half-cent than the oracle's. A double sum did, by 0.01."""
    return catalog.sql(spark, sf_dir, _Q9_ORACLE)


# --- Q10: returned item reporting ------------------------------------------

_Q10_ORACLE = """
SELECT /*+ BROADCAST(nation) */
       c_custkey, c_name,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       ROUND(c_acctbal, 2) AS c_acctbal, n_name
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE o_orderdate >= TIMESTAMP '1996-10-01'
  AND o_orderdate <  TIMESTAMP '1997-01-01'
  AND l_returnflag = 'R'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


@query("q10_returned_items", oracle=_Q10_ORACLE)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10: returned-lineitem revenue per customer, top 20 —
    join + agg + TakeOrderedAndProject (reference TopNHash pushdown)."""
    return catalog.sql(spark, sf_dir, _Q10_ORACLE)


# --- Q12: priority shipping (adapted: no l_shipmode → returnflag classes) --

_Q12_ORACLE = """
SELECT l_linestatus,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM orders
JOIN lineitem ON o_orderkey = l_orderkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate <  TIMESTAMP '1997-01-01'
  AND l_returnflag <> 'A'
GROUP BY l_linestatus
ORDER BY l_linestatus
"""


@query("q12_priority_shipping", oracle=_Q12_ORACLE)
def q12_priority_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 adapted (no l_shipmode/l_commitdate in driver schema:
    groups by l_linestatus instead). The conditional-SUM pivot is the
    canonical CASE-inside-aggregate pattern."""
    return catalog.sql(spark, sf_dir, _Q12_ORACLE)


# --- Q14: promotion effect --------------------------------------------------

_Q14_ORACLE = """
SELECT ROUND(
  100.00 * SUM(CASE WHEN p_type LIKE 'PROMO%'
                    THEN l_extendedprice * (1 - l_discount) ELSE 0 END)
         / SUM(l_extendedprice * (1 - l_discount)), 4) AS promo_revenue
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-09-01'
  AND l_shipdate <  TIMESTAMP '1996-10-01'
"""


@query("q14_promo_revenue", oracle=_Q14_ORACLE)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14: conditional revenue ratio over a part join — single
    global aggregate with CASE numerator."""
    return catalog.sql(spark, sf_dir, _Q14_ORACLE)


# --- Q18: large volume customers (agg-filtered IN subquery) -----------------

_Q18_ORACLE = """
SELECT c_name, c_custkey, o_orderkey, o_orderdate,
       ROUND(o_totalprice, 2) AS o_totalprice,
       ROUND(SUM(l_quantity), 2) AS total_qty
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
WHERE o_orderkey IN (
  SELECT l_orderkey FROM lineitem
  GROUP BY l_orderkey HAVING SUM(l_quantity) > 180
)
GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
ORDER BY o_totalprice DESC, o_orderdate, o_orderkey
LIMIT 100
"""


@query("q18_large_volume_customer", oracle=_Q18_ORACLE)
def q18_large_volume_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18: IN over a HAVING-filtered aggregate → left-semi join
    against the aggregated lineitem (one extra shuffle on l_orderkey;
    at 100 TB the semi-join side is tiny after HAVING so AQE broadcasts
    it)."""
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    big_orders = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .filter(F.col("qty") > 180)
        .select("l_orderkey")
    )
    return (
        cust.join(orders, F.col("c_custkey") == F.col("o_custkey"))
        .join(
            big_orders.withColumnRenamed("l_orderkey", "big_okey"),
            F.col("o_orderkey") == F.col("big_okey"),
            "left_semi",
        )
        .join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.round(F.sum("l_quantity"), 2).alias("total_qty"))
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            F.round("o_totalprice", 2).alias("o_totalprice"),
            "total_qty",
        )
        .orderBy(F.desc("o_totalprice"), "o_orderdate", "o_orderkey")
        .limit(100)
    )


# --- Q19: discounted revenue (disjunction of conjunctions on join) ----------

_Q19_ORACLE = """
SELECT ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
       AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 35
       AND l_quantity BETWEEN 20 AND 30)
"""


@query("q19_discounted_revenue", oracle=_Q19_ORACLE)
def q19_discounted_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19: the classic disjunctive join predicate. Expressed as
    equi-join on partkey + residual OR-of-ANDs filter — the reference
    evaluates the residual on CommonJoinOperator matched pairs
    (SURVEY.md §2.5); Catalyst pushes the derivable brand/size/quantity
    bounds to both scans."""
    return catalog.sql(spark, sf_dir, _Q19_ORACLE)
