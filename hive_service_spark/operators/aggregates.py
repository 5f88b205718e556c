"""Wave 3 — aggregation operators.

Reference parity: GroupByOperator (hash/sorted modes HASH, PARTIAL*,
FINAL — SURVEY.md §2.1) ≙ Catalyst partial+final HashAggregate with
map-side combine; the full UDAF registry (SURVEY.md §2.3): count/sum/
avg/min/max, variance/stddev families, covar/corr, regr_*, exact
percentile, collect_list/collect_set, grouping sets/rollup/cube with
GROUPING__ID, distinct and multi-distinct aggregation
(HiveExpandDistinctAggregatesRule ≙ RewriteDistinctAggregates),
histogram_numeric, bloom_filter.

Scale notes: everything here is two-phase (partial aggregation before
the shuffle) — the shuffle carries one row per (partition, group), not
per input row. Multi-distinct triggers Catalyst's Expand, which
multiplies shuffle rows by the distinct-column count: acceptable, same
plan Hive generates. collect_list/set are bounded-group ops — only used
on low-cardinality groups by design.

One SQL text per entry where it can be: ``catalog.sql`` runs the
entry's text in Spark and DuckDB runs the same text as its oracle, so
the oracle check compares two engines on one query. Entries whose text
Spark does not run as it stands, or plans differently from their
DataFrame code, keep that code. So do the sketch and observation
entries, whose Spark side computes more than their text.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from hive_service_spark import catalog
from hive_service_spark.catalog import load
from hive_service_spark.registry import query

_GLOBAL_ORACLE = """
SELECT
  COUNT(*)                           AS n_rows,
  COUNT(l_partkey)                   AS n_partkey,
  ROUND(SUM(l_quantity), 2)          AS sum_qty,
  MIN(l_quantity)                    AS min_qty,
  MAX(l_quantity)                    AS max_qty,
  ROUND(AVG(l_extendedprice), 4)     AS avg_price,
  MIN(l_shipdate)                    AS first_ship,
  MAX(l_shipdate)                    AS last_ship
FROM lineitem
"""


@query("agg_global", oracle=_GLOBAL_ORACLE)
def agg_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global (no GROUP BY) aggregation — single-group HashAggregate."""
    return catalog.sql(spark, sf_dir, _GLOBAL_ORACLE)


_DISTINCT_ORACLE = """
SELECT
  l_returnflag,
  COUNT(DISTINCT l_partkey)          AS nd_part,
  COUNT(DISTINCT l_suppkey)          AS nd_supp,
  ROUND(SUM(DISTINCT l_quantity), 2) AS sum_distinct_qty,
  COUNT(*)                           AS n_rows
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


@query("agg_multi_distinct", oracle=_DISTINCT_ORACLE)
def agg_multi_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-distinct aggregation (Catalyst RewriteDistinctAggregates
    plans the Expand, same as HiveExpandDistinctAggregatesRule)."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.count_distinct("l_partkey").alias("nd_part"),
            F.count_distinct("l_suppkey").alias("nd_supp"),
            F.round(F.sum_distinct(F.col("l_quantity")), 2).alias("sum_distinct_qty"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .orderBy("l_returnflag")
    )


_ROLLUP_ORACLE = """
SELECT
  o_orderstatus,
  o_orderpriority,
  CAST(GROUPING(o_orderstatus) AS INT)   AS g_status,
  CAST(GROUPING(o_orderpriority) AS INT) AS g_prio,
  COUNT(*)                               AS n_orders,
  ROUND(SUM(o_totalprice), 2)            AS total
FROM orders
GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
"""


@query("agg_rollup", oracle=_ROLLUP_ORACLE)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP with GROUPING() markers (reference grouping-sets path in
    GroupByOperator; GROUPING__ID bit-order normalized via per-column
    grouping() instead — SURVEY.md §7 hard parts)."""
    return catalog.sql(spark, sf_dir, _ROLLUP_ORACLE)


_CUBE_ORACLE = """
SELECT
  l_returnflag,
  l_linestatus,
  CAST(GROUPING(l_returnflag) AS INT) AS g_flag,
  CAST(GROUPING(l_linestatus) AS INT) AS g_status,
  COUNT(*)                            AS n_items
FROM lineitem
GROUP BY CUBE(l_returnflag, l_linestatus)
"""


@query("agg_cube", oracle=_CUBE_ORACLE)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over two dimensions."""
    return catalog.sql(spark, sf_dir, _CUBE_ORACLE)


_GSETS_ORACLE = """
SELECT
  o_orderstatus,
  o_orderpriority,
  COUNT(*)                    AS n_orders,
  ROUND(AVG(o_totalprice), 4) AS avg_price
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
"""


@query("agg_grouping_sets", oracle=_GSETS_ORACLE)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (SQL form — Spark SQL supports verbatim)."""
    return catalog.sql(spark, sf_dir, _GSETS_ORACLE)


_STATS_ORACLE = """
SELECT
  l_returnflag,
  ROUND(var_pop(l_quantity), 4)      AS var_pop_qty,
  ROUND(var_samp(l_quantity), 4)     AS var_samp_qty,
  ROUND(stddev_pop(l_quantity), 4)   AS std_pop_qty,
  ROUND(stddev_samp(l_quantity), 4)  AS std_samp_qty,
  ROUND(covar_pop(l_quantity, l_extendedprice), 2)  AS covar_pop_qp,
  ROUND(covar_samp(l_quantity, l_extendedprice), 2) AS covar_samp_qp,
  ROUND(corr(l_quantity, l_extendedprice), 4) + 0.0 AS corr_qp,
  ROUND(skewness(l_quantity), 4) + 0.0 AS skew_qty,
  ROUND(kurtosis(l_quantity), 4) + 0.0 AS kurt_qty
FROM lineitem
GROUP BY l_returnflag
"""


@query("agg_stats_moments", oracle=_STATS_ORACLE)
def agg_stats_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variance/stddev/covariance/correlation families (GenericUDAF
    Variance/Std/Covariance/Correlation) + skew/kurtosis extension."""
    return catalog.sql(spark, sf_dir, _STATS_ORACLE)


_REGR_ORACLE = """
SELECT
  l_returnflag,
  regr_count(l_extendedprice, l_quantity)               AS r_count,
  ROUND(regr_avgx(l_extendedprice, l_quantity), 4)      AS r_avgx,
  ROUND(regr_avgy(l_extendedprice, l_quantity), 4)      AS r_avgy,
  ROUND(regr_slope(l_extendedprice, l_quantity), 4)     AS r_slope,
  ROUND(regr_intercept(l_extendedprice, l_quantity), 4) AS r_intercept,
  ROUND(regr_r2(l_extendedprice, l_quantity), 6)        AS r_r2,
  ROUND(regr_sxx(l_extendedprice, l_quantity), 2)       AS r_sxx,
  ROUND(regr_syy(l_extendedprice, l_quantity), 2)       AS r_syy,
  ROUND(regr_sxy(l_extendedprice, l_quantity), 2)       AS r_sxy
FROM lineitem
GROUP BY l_returnflag
"""


@query("agg_regression", oracle=_REGR_ORACLE)
def agg_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All nine regr_* aggregates (GenericUDAFBinarySetFunctions)."""
    return catalog.sql(spark, sf_dir, _REGR_ORACLE)


_PCTL_ORACLE = """
SELECT
  l_returnflag,
  ROUND(quantile_cont(l_quantity, 0.5), 4)        AS p50_qty,
  ROUND(quantile_cont(l_quantity, 0.9), 4)        AS p90_qty,
  ROUND(quantile_cont(l_extendedprice, 0.25), 4)  AS p25_price,
  ROUND(median(l_quantity), 4)                    AS med_qty
FROM lineitem
GROUP BY l_returnflag
"""


@query("agg_percentile_exact", oracle=_PCTL_ORACLE)
def agg_percentile_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentile (UDAFPercentile ≙ Spark
    `percentile`; approx sketches intentionally NOT oracle-tested —
    SURVEY.md §7 hard parts)."""
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.percentile("l_quantity", 0.5), 4).alias("p50_qty"),
        F.round(F.percentile("l_quantity", 0.9), 4).alias("p90_qty"),
        F.round(F.percentile("l_extendedprice", 0.25), 4).alias("p25_price"),
        F.round(F.median("l_quantity"), 4).alias("med_qty"),
    )


_COLLECT_ORACLE = """
SELECT
  l_returnflag,
  array_to_string(list(DISTINCT l_linestatus ORDER BY l_linestatus), ',')
    AS statuses,
  array_to_string(list_sort(list(DISTINCT l_shipmode_dummy)), ',')
    AS quantile_buckets
FROM (
  SELECT l_returnflag, l_linestatus,
         CAST(l_quantity AS INTEGER) // 10 AS l_shipmode_dummy
  FROM lineitem
)
GROUP BY l_returnflag
"""


@query("agg_collect", oracle=_COLLECT_ORACLE)
def agg_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """collect_set with deterministic ordering via sort_array
    (MkCollectionEvaluator; raw collect order is engine-dependent so
    both sides sort). Output arrays are serialized to comma-joined
    strings at the query boundary: the external driver canonicalizes
    results through pandas, which cannot sort/hash list cells."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        "l_linestatus",
        (F.col("l_quantity").cast("int") / 10).cast("int").alias("bucket"),
    )
    return li.groupBy("l_returnflag").agg(
        F.concat_ws(",", F.sort_array(F.collect_set("l_linestatus"))).alias(
            "statuses"
        ),
        F.array_join(
            F.transform(
                F.sort_array(F.collect_set("bucket")),
                lambda x: x.cast("string"),
            ),
            ",",
        ).alias("quantile_buckets"),
    )


_ARGMINMAX_ORACLE = """
SELECT
  o_orderstatus,
  (max(struct_pack(p := o_totalprice, k := o_orderkey))).k
    AS priciest_order,
  (min(struct_pack(p := o_totalprice, k := o_orderkey))).k
    AS cheapest_order,
  ROUND(MAX(o_totalprice), 2)      AS max_price,
  ROUND(MIN(o_totalprice), 2)      AS min_price
FROM orders
GROUP BY o_orderstatus
"""


@query("agg_min_max_by", oracle=_ARGMINMAX_ORACLE)
def agg_min_max_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """max_by/min_by (arg-max) — Spark 3.3+ builtins. The ordering
    value is the (price, orderkey) STRUCT, not the bare price:
    max_by's tie-break is unspecified in both
    engines, so two orders tying at a group's max price could return
    different keys per engine on regenerated data; the struct makes
    the ordering total (Spark compares structs lexicographically;
    DuckDB lacks struct-valued max_by, so the oracle uses the
    equivalent struct-max extraction)."""
    o = load(spark, sf_dir, "orders")
    ord_max = F.struct("o_totalprice", "o_orderkey")
    return o.groupBy("o_orderstatus").agg(
        F.max_by("o_orderkey", ord_max).alias("priciest_order"),
        F.min_by("o_orderkey", ord_max).alias("cheapest_order"),
        F.round(F.max("o_totalprice"), 2).alias("max_price"),
        F.round(F.min("o_totalprice"), 2).alias("min_price"),
    )


_BOOL_ORACLE = """
SELECT
  l_linestatus,
  bool_and(l_quantity > 0)     AS all_positive,
  bool_or(l_discount > 0.09)   AS any_big_discount,
  COUNT(*) FILTER (WHERE l_tax = 0) AS n_tax_free
FROM lineitem
GROUP BY l_linestatus
"""


@query("agg_bool_filtered", oracle=_BOOL_ORACLE)
def agg_bool_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """bool_and/bool_or + FILTER'd aggregate."""
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_linestatus").agg(
        F.bool_and(F.col("l_quantity") > 0).alias("all_positive"),
        F.bool_or(F.col("l_discount") > 0.09).alias("any_big_discount"),
        F.count(F.when(F.col("l_tax") == 0, 1)).alias("n_tax_free"),
    )


_SKETCH_ORACLE = """
SELECT
  l_returnflag,
  CAST(COUNT(DISTINCT l_partkey) AS BIGINT)      AS exact_nd_part,
  ROUND(quantile_cont(l_quantity, 0.5) + 0.0, 4) AS exact_p50,
  CAST(COUNT(*) AS BIGINT)                       AS n_rows,
  CAST(5 AS INTEGER)                             AS hist_bins,
  TRUE AS nd_ok, TRUE AS p50_ok, TRUE AS hist_count_ok, TRUE AS hist_mean_ok
FROM lineitem
GROUP BY l_returnflag
"""


@query("agg_sketches", oracle=_SKETCH_ORACLE)
def agg_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine-specific sketches: approx_count_distinct (HLL — a
    capability the reference lacks, SURVEY.md §2.3), percentile_approx
    (different sketch than Hive's histogram-based one), and
    histogram_numeric, value-oracled via deterministic TOLERANCE
    BOOLEANS: Spark computes both the sketch and its exact counterpart
    in ONE aggregate pass and emits `|approx − exact| ≤ tol` per
    metric alongside the exact values; the DuckDB oracle emits the same
    exact values plus literal TRUEs. The sketches are deterministic
    functions of the data (no RNG), so at any sf the booleans either
    hold — proving the sketch tracks the exact value — or the gate goes
    red. Tolerances: HLL run at rsd=0.01 checked at ±5% (5 sigma);
    percentile_approx guarantees RANK error ≤ n/accuracy and returns an
    ACTUAL dataset value (not an interpolation), so it is checked
    against the rank bracket [percentile(0.499), percentile(0.501)] —
    10× the default 1e-4 rank-error bound; a plain value tolerance
    against the interpolated exact median would flip whenever the
    median rank lands between two distinct values;
    histogram_numeric bin weights must sum to the row count exactly and
    the weighted centroid mean must sit within ±5% of the true mean
    (NumericHistogram invariants — reference
    GenericUDAFHistogramNumeric)."""
    li = load(spark, sf_dir, "lineitem")
    base = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("exact_nd_part"),
        F.percentile("l_quantity", 0.5).alias("_p50_exact"),
        F.percentile("l_quantity", 0.499).alias("_p50_lo"),
        F.percentile("l_quantity", 0.501).alias("_p50_hi"),
        F.count("*").alias("n_rows"),
        F.avg("l_quantity").alias("_qty_mean"),
        F.approx_count_distinct("l_partkey", rsd=0.01).alias("_a_nd"),
        F.percentile_approx("l_quantity", 0.5).alias("_a_p50"),
        F.histogram_numeric("l_quantity", F.lit(5)).alias("_hist"),
    )
    hist_n = F.aggregate(
        "_hist", F.lit(0.0), lambda acc, b: acc + b.getField("y")
    )
    hist_wsum = F.aggregate(
        "_hist", F.lit(0.0), lambda acc, b: acc + b.getField("x") * b.getField("y")
    )
    return base.select(
        "l_returnflag",
        "exact_nd_part",
        F.round(F.col("_p50_exact") + 0.0, 4).alias("exact_p50"),
        "n_rows",
        F.size("_hist").alias("hist_bins"),
        (
            F.abs(F.col("_a_nd") - F.col("exact_nd_part"))
            <= 0.05 * F.col("exact_nd_part")
        ).alias("nd_ok"),
        (
            (F.col("_a_p50") >= F.col("_p50_lo") - 1e-9)
            & (F.col("_a_p50") <= F.col("_p50_hi") + 1e-9)
        ).alias("p50_ok"),
        (F.abs(hist_n - F.col("n_rows")) <= 1e-6).alias("hist_count_ok"),
        (
            F.abs(hist_wsum / F.col("n_rows") - F.col("_qty_mean"))
            <= 0.05 * F.col("_qty_mean")
        ).alias("hist_mean_ok"),
    )


_WB_ORACLE = """
SELECT CASE WHEN l_extendedprice < 0 THEN 0
            WHEN l_extendedprice >= 110000 THEN 12
            ELSE CAST(FLOOR(l_extendedprice / 10000) AS INT) + 1 END AS bucket,
       COUNT(*) AS n_rows,
       ROUND(SUM(l_quantity), 2) AS qty
FROM lineitem
GROUP BY 1
ORDER BY bucket
"""


@query("agg_width_bucket_histogram", oracle=_WB_ORACLE)
def agg_width_bucket_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact fixed-width histogram via width_bucket — the deterministic,
    oracle-checkable counterpart of histogram_numeric (reference:
    GenericUDAFHistogramNumeric, SURVEY.md §2.3, whose adaptive bins are
    engine-specific; agg_sketches covers that form rows-only). Constant
    bounds (0, 110000, 11 buckets of width 10000) keep the double
    arithmetic bit-identical across engines; at 100 TB this is a pure
    map-side bucket + two-phase count/sum — no sketch state."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.select(
            F.width_bucket("l_extendedprice", F.lit(0.0), F.lit(110000.0), F.lit(11))
            .cast("int")
            .alias("bucket"),
            "l_quantity",
        )
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_rows"),
            F.round(F.sum("l_quantity"), 2).alias("qty"),
        )
        .orderBy("bucket")
    )


_PIVOT_ORACLE = """
SELECT o_orderpriority,
       COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS f_orders,
       COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS o_orders,
       COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS p_orders,
       ROUND(SUM(o_totalprice) FILTER (WHERE o_orderstatus = 'F'), 2)
         AS f_total,
       ROUND(SUM(o_totalprice) FILTER (WHERE o_orderstatus = 'O'), 2)
         AS o_total,
       ROUND(SUM(o_totalprice) FILTER (WHERE o_orderstatus = 'P'), 2)
         AS p_total
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


@query("agg_pivot_matrix", oracle=_PIVOT_ORACLE)
def agg_pivot_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT: order counts and totals per priority, spread across one
    column per status — the inverse of stack_unpivot. groupBy().pivot()
    with EXPLICIT pivot values: at 100 TB the implicit form first runs
    a distinct-scan job to discover the values; pinning them skips that
    job entirely (and keeps the output schema stable for the oracle).
    Catalyst plans it as a single hash aggregate with one
    conditional-aggregate slot per (value x measure) — no extra
    shuffle vs a plain groupBy."""
    o = load(spark, sf_dir, "orders")
    piv = (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(
            F.count(F.lit(1)).alias("orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
    )
    # coalesce the counts: an empty pivot cell is NULL from
    # groupBy().pivot() but 0 from the oracle's COUNT(*) FILTER —
    # align on 0 (sums stay NULL/NULL in both engines)
    return piv.select(
        "o_orderpriority",
        F.coalesce("F_orders", F.lit(0)).alias("f_orders"),
        F.coalesce("O_orders", F.lit(0)).alias("o_orders"),
        F.coalesce("P_orders", F.lit(0)).alias("p_orders"),
        F.col("F_total").alias("f_total"),
        F.col("O_total").alias("o_total"),
        F.col("P_total").alias("p_total"),
    ).orderBy("o_orderpriority")


_SKETCH_SET_ORACLE = """
WITH a AS (SELECT DISTINCT l_partkey FROM lineitem WHERE l_returnflag = 'A'),
r AS (SELECT DISTINCT l_partkey FROM lineitem WHERE l_returnflag = 'R')
SELECT
  CAST((SELECT COUNT(*) FROM a) AS BIGINT) AS exact_a,
  CAST((SELECT COUNT(*) FROM r) AS BIGINT) AS exact_r,
  CAST((SELECT COUNT(*) FROM (SELECT * FROM a UNION SELECT * FROM r))
       AS BIGINT) AS exact_union,
  CAST((SELECT COUNT(*) FROM a WHERE l_partkey IN (SELECT * FROM r))
       AS BIGINT) AS exact_inter,
  TRUE AS a_ok, TRUE AS r_ok, TRUE AS union_ok, TRUE AS inter_ok
"""


@query("agg_sketch_set_algebra", oracle=_SKETCH_SET_ORACLE)
def agg_sketch_set_algebra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-count SET ALGEBRA on sketches: HLL handles |A|, |B|,
    and |A∪B| natively (sketches union losslessly — the property that
    lets 1000 shards' sketches merge into one), and |A∩B| falls out of
    inclusion-exclusion (estA + estB − estU). The warehouse question
    this answers at 100 TB: "how many part keys do the A-returns and
    R-returns share?" without ever materializing either distinct set.
    Same tolerance-boolean oracle discipline as agg_sketches: Spark
    computes sketch AND exact in one query and emits |est − exact|
    bounds (±5% at rsd 0.01; ±10% for the intersection, where the
    three sketches' errors compound), the oracle emits the exact
    values + literal TRUEs."""
    li = load(spark, sf_dir, "lineitem")
    est = li.agg(
        F.approx_count_distinct(
            F.when(F.col("l_returnflag") == "A", F.col("l_partkey")), rsd=0.01
        ).alias("est_a"),
        F.approx_count_distinct(
            F.when(F.col("l_returnflag") == "R", F.col("l_partkey")), rsd=0.01
        ).alias("est_r"),
        F.approx_count_distinct(
            F.when(
                F.col("l_returnflag").isin("A", "R"), F.col("l_partkey")
            ),
            rsd=0.01,
        ).alias("est_u"),
        F.count_distinct(
            F.when(F.col("l_returnflag") == "A", F.col("l_partkey"))
        ).alias("exact_a"),
        F.count_distinct(
            F.when(F.col("l_returnflag") == "R", F.col("l_partkey"))
        ).alias("exact_r"),
        F.count_distinct(
            F.when(F.col("l_returnflag").isin("A", "R"), F.col("l_partkey"))
        ).alias("exact_union"),
    )
    est_i = F.col("est_a") + F.col("est_r") - F.col("est_u")
    exact_i = F.col("exact_a") + F.col("exact_r") - F.col("exact_union")

    def ok(e, x, tol):
        return F.abs(e - x) <= tol * x

    return est.select(
        F.col("exact_a").cast("bigint").alias("exact_a"),
        F.col("exact_r").cast("bigint").alias("exact_r"),
        F.col("exact_union").cast("bigint").alias("exact_union"),
        exact_i.cast("bigint").alias("exact_inter"),
        ok(F.col("est_a"), F.col("exact_a"), 0.05).alias("a_ok"),
        ok(F.col("est_r"), F.col("exact_r"), 0.05).alias("r_ok"),
        ok(F.col("est_u"), F.col("exact_union"), 0.05).alias("union_ok"),
        ok(est_i, exact_i, 0.10).alias("inter_ok"),
    )


_MODE_ORACLE = """
WITH counts AS (
  SELECT l_returnflag, l_quantity, COUNT(*) AS c
  FROM lineitem GROUP BY l_returnflag, l_quantity
),
best AS (
  SELECT l_returnflag, l_quantity, c,
         ROW_NUMBER() OVER (PARTITION BY l_returnflag
                            ORDER BY c DESC, l_quantity) AS rn
  FROM counts
)
SELECT l_returnflag,
       ROUND(l_quantity, 2) AS mode_qty,
       CAST(c AS BIGINT) AS mode_count
FROM best WHERE rn = 1
ORDER BY l_returnflag
"""


@query("agg_mode_exact", oracle=_MODE_ORACLE)
def agg_mode_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-group MODE with a DETERMINISTIC tie-break (highest
    count, then lowest value) — engine-native mode() functions leave
    ties unspecified, so the portable form is count + argmax via
    max(struct(count, -value)): the lexicographic struct-max IS the
    tie-break, reduced map-side like any hash aggregate (the same
    argmin trick the k-means assignment uses). Two shuffles: value
    counts, then one row per group."""
    li = load(spark, sf_dir, "lineitem")
    counts = li.groupBy("l_returnflag", "l_quantity").agg(
        F.count(F.lit(1)).alias("c")
    )
    # max over (c, -value): ties on c resolve to the LOWEST value
    m = counts.groupBy("l_returnflag").agg(
        F.max(
            F.struct(F.col("c"), (-F.col("l_quantity")).alias("neg_q"))
        ).alias("m")
    )
    return m.select(
        "l_returnflag",
        F.round(-F.col("m.neg_q"), 2).alias("mode_qty"),
        F.col("m.c").cast("bigint").alias("mode_count"),
    ).orderBy("l_returnflag")


# ---------------------------------------------------------------------------
# multi-feature OLS via one-pass normal equations (MADlib-family)
# ---------------------------------------------------------------------------

_OLS_ORACLE = """
WITH obs AS (
  SELECT l_returnflag,
         CAST(ROUND(l_quantity, 0) AS BIGINT)        AS x1,
         CAST(ROUND(l_discount * 100, 0) AS BIGINT)  AS x2,
         CAST(ROUND(l_extendedprice, 0) AS BIGINT)   AS y
  FROM lineitem
),
m AS (
  SELECT l_returnflag,
         CAST(COUNT(*) AS DOUBLE)      AS n,
         CAST(SUM(x1) AS DOUBLE)       AS sx1,
         CAST(SUM(x2) AS DOUBLE)       AS sx2,
         CAST(SUM(y) AS DOUBLE)        AS sy,
         CAST(SUM(x1 * x1) AS DOUBLE)  AS s11,
         CAST(SUM(x1 * x2) AS DOUBLE)  AS s12,
         CAST(SUM(x2 * x2) AS DOUBLE)  AS s22,
         CAST(SUM(x1 * y) AS DOUBLE)   AS s1y,
         CAST(SUM(x2 * y) AS DOUBLE)   AS s2y,
         CAST(SUM(y * y) AS DOUBLE)    AS syy,
         CAST(COUNT(*) AS BIGINT)      AS n_rows
  FROM obs GROUP BY l_returnflag
),
solved AS (
  SELECT l_returnflag, n_rows, n, sy, s1y, s2y, syy,
    (n * (s11 * s22 - s12 * s12)
     - sx1 * (sx1 * s22 - s12 * sx2)
     + sx2 * (sx1 * s12 - s11 * sx2)) AS det,
    (sy * (s11 * s22 - s12 * s12)
     - sx1 * (s1y * s22 - s12 * s2y)
     + sx2 * (s1y * s12 - s11 * s2y)) AS det0,
    (n * (s1y * s22 - s12 * s2y)
     - sy * (sx1 * s22 - s12 * sx2)
     + sx2 * (sx1 * s2y - s1y * sx2)) AS det1,
    (n * (s11 * s2y - s1y * s12)
     - sx1 * (sx1 * s2y - s1y * sx2)
     + sy * (sx1 * s12 - s11 * sx2)) AS det2
  FROM m
)
SELECT l_returnflag, n_rows,
       ROUND(det0 / det, 6) AS b0,
       ROUND(det1 / det, 6) AS b1,
       ROUND(det2 / det, 6) AS b2,
       ROUND(1.0 - (syy - (det0 / det) * sy - (det1 / det) * s1y
                    - (det2 / det) * s2y)
                   / (syy - sy * sy / n), 6) AS r2
FROM solved
ORDER BY l_returnflag
"""


@query("agg_ols_normal_equations", oracle=_OLS_ORACLE)
def agg_ols_normal_equations(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Multi-feature linear regression by closed-form normal equations
    — the MADlib `linregr` / Spark-MLlib "normal" solver pattern,
    expressed as ONE aggregation: per l_returnflag, fit
    y(price) = b0 + b1*quantity + b2*discount_pct plus R^2. Extends
    the reference's regr_* UDAF family (hive-exec!…/udf/generic/
    GenericUDAFBinarySetFunctions — slope/intercept are single-feature
    only) to the multi-feature case no SQL builtin covers.

    The distributed pattern IS the point: a single map-side-combined
    groupBy accumulates the ten Gram-matrix moments (n, Σx, Σxx', Σxy,
    Σyy) — the sufficient statistics of OLS — and the 3x3 solve is a
    closed-form Cramer expansion on those ten scalars, still inside
    the same SQL projection (no driver round-trip, no iteration). At
    100 TB this is exactly one corpus pass ending in a 3-row frame;
    adding features grows the moment count O(d^2) but never adds a
    pass. This one-pass-moments shape is also the textbook
    featurization-stats pass of a training pipeline.

    Engine-exactness: inputs quantize to BIGINT (whole-dollar y,
    integer qty, discount in whole percent), so every moment is an
    EXACT int64 whose double image is exact at test scale
    (syy ~ 2e15 < 2^53); the Cramer/R^2 arithmetic is written with
    identical association on both engines, so the doubles match
    bit-for-bit before the final ROUND(…, 6). At 1000x scale the
    moments outgrow 2^53 — the deployment note is to keep the sums in
    DECIMAL(38,0) (both engines) or accept last-ulp slack; the plan
    shape is unchanged."""
    return catalog.sql(spark, sf_dir, _OLS_ORACLE)


# ---------------------------------------------------------------------------
# Observation API: pipeline metrics riding the job (no second scan)
# ---------------------------------------------------------------------------

_OBSERVE_ORACLE = """
SELECT CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT)
         AS sum_cents,
       CAST(MAX(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT)
         AS max_cents,
       CAST(COUNT(*) FILTER (WHERE value > 400) AS BIGINT) AS n_high,
       CAST(MIN(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT)
         AS min_cents
FROM events
"""


@query("agg_observation_metrics", oracle=_OBSERVE_ORACLE)
def agg_observation_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline observability via Spark's Observation API: named
    metrics (row count, exact cents sum/min/max, threshold count) are
    attached to the scan with df.observe() and collected
    from ACCUMULATORS when the job runs — the production pattern for
    data-quality gates and reconciliation counters that must ride the
    SAME pass as the real work instead of paying a second scan
    (the analog of the reference's StatsTask/ANALYZE counters and
    HiveServer2 operation run-time stats, SURVEY §3.2/§4.1 #27 — but
    attached to an arbitrary query, not a separate task). The oracle
    recomputes every metric relationally, so the accumulator path is
    VALUE-verified, not just shape-checked.

    100 TB reading: each metric is an AggregateExpression evaluated
    inside the existing whole-stage-codegen pipeline and merged on the
    driver as accumulator updates — zero extra shuffle, zero extra
    scan, constant driver memory per metric. count_distinct over a
    bounded-cardinality column is safe here; an unbounded-cardinality
    distinct would instead ride approx_count_distinct for fixed-size
    state."""
    from pyspark.sql import Observation

    obs = Observation("corpus_metrics")
    cents = F.round(F.col("value") * 100, 0).cast("bigint")
    ev = load(spark, sf_dir, "events").observe(
        obs,
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum(cents).cast("bigint").alias("sum_cents"),
        F.max(cents).cast("bigint").alias("max_cents"),
        F.count(F.when(F.col("value") > 400, 1))
        .cast("bigint")
        .alias("n_high"),
        # NOTE: DISTINCT aggregates are rejected in observed metrics
        # (INVALID_OBSERVED_METRICS) — cardinality gauges ride
        # approx_count_distinct instead; here min completes the gates
        F.min(cents).cast("bigint").alias("min_cents"),
    )
    # the "real" job the metrics ride along with (here: a count of the
    # observed frame; in production, the pipeline's actual write)
    ev.count()
    m = obs.get
    return spark.createDataFrame(
        [
            (
                int(m["n_events"]),
                int(m["sum_cents"]),
                int(m["max_cents"]),
                int(m["n_high"]),
                int(m["min_cents"]),
            )
        ],
        "n_events bigint, sum_cents bigint, max_cents bigint, "
        "n_high bigint, min_cents bigint",
    )
