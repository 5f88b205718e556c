"""Wave 4 — window functions / PTF.

Reference parity: PTFOperator + WindowingTableFunction (SURVEY.md
§2.4): ranking (row_number/rank/dense_rank/ntile/percent_rank/
cume_dist), analytic (lead/lag/first_value/last_value/nth_value), any
UDAF over a window, ROWS and RANGE frames (the typed
ValueBoundaryScanner matrix — numeric and time-based RANGE).

Scale notes: each window spec = one shuffle on partitionBy keys + an
in-partition sort; Spark spills window buffers (reference:
PTFRowContainer). Specs sharing (partitionBy, orderBy) reuse one
Window exec — queries below deliberately share specs. Deterministic
output requires a total order: every orderBy includes a unique
tie-breaker key.

One SQL text per entry where it can be: ``catalog.sql`` runs the
entry's text in Spark and DuckDB runs the same text as its oracle, so
the oracle check compares two engines on one query.
``window_skyline_pareto`` keeps its DataFrame code: it is a sort-based
rewrite of the quadratic NOT EXISTS text its oracle runs.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from hive_service_spark import catalog
from hive_service_spark.catalog import load
from hive_service_spark.registry import query

_RANKING_ORACLE = """
SELECT * FROM (
  SELECT
    c_mktsegment,
    c_custkey,
    c_acctbal,
    ROW_NUMBER()   OVER w AS rn,
    RANK()         OVER w AS rnk,
    DENSE_RANK()   OVER w AS drnk,
    NTILE(4)       OVER w AS quartile,
    ROUND(PERCENT_RANK() OVER w, 6) AS pct_rank,
    ROUND(CUME_DIST()    OVER w, 6) AS cume
  FROM customer
  WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey)
)
WHERE rn <= 10
"""


@query("window_ranking", oracle=_RANKING_ORACLE)
def window_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All six ranking functions over one shared window spec."""
    return catalog.sql(spark, sf_dir, _RANKING_ORACLE)


_LEADLAG_ORACLE = """
SELECT
  o_custkey,
  o_orderkey,
  o_orderdate,
  LAG(o_totalprice)        OVER w AS prev_price,
  LEAD(o_totalprice)       OVER w AS next_price,
  LAG(o_totalprice, 2, -1) OVER w AS prev2_price_dflt,
  o_totalprice - LAG(o_totalprice) OVER w AS delta_vs_prev
FROM orders
WHERE o_custkey < 50
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
"""


@query("window_lead_lag", oracle=_LEADLAG_ORACLE)
def window_lead_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lead/lag with offsets + defaults (GenericUDAFLeadLag)."""
    return catalog.sql(spark, sf_dir, _LEADLAG_ORACLE)


_ROWS_FRAME_ORACLE = """
SELECT
  o_custkey,
  o_orderkey,
  ROUND(SUM(o_totalprice) OVER (
    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total,
  ROUND(AVG(o_totalprice) OVER (
    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4)         AS moving_avg3,
  COUNT(*) OVER (
    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
    ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING)             AS neighborhood
FROM orders
WHERE o_custkey < 50
"""


@query("window_rows_frame", oracle=_ROWS_FRAME_ORACLE)
def window_rows_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROWS frames: running total, moving average, sliding count
    (WindowingSpec$WindowType.ROWS)."""
    return catalog.sql(spark, sf_dir, _ROWS_FRAME_ORACLE)


_RANGE_FRAME_ORACLE = """
SELECT
  l_returnflag,
  l_orderkey,
  l_linenumber,
  l_quantity,
  COUNT(*) OVER (
    PARTITION BY l_returnflag ORDER BY l_quantity
    RANGE BETWEEN 5 PRECEDING AND 5 FOLLOWING) AS n_similar_qty,
  ROUND(SUM(l_extendedprice) OVER (
    PARTITION BY l_returnflag ORDER BY l_quantity
    RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS cum_price_by_qty
FROM lineitem
WHERE l_orderkey < 300
"""


@query("window_range_frame", oracle=_RANGE_FRAME_ORACLE)
def window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frames on a numeric ordering column (typed
    ValueBoundaryScanner analog: value-based, peers included)."""
    return catalog.sql(spark, sf_dir, _RANGE_FRAME_ORACLE)


_TIME_RANGE_ORACLE = """
SELECT
  user_id,
  event_id,
  ts,
  COUNT(*) OVER (
    PARTITION BY user_id ORDER BY epoch_us(ts)
    RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
    AS events_last_hour,
  ROUND(SUM(value) OVER (
    PARTITION BY user_id ORDER BY epoch_us(ts)
    RANGE BETWEEN 86400000000 PRECEDING AND CURRENT ROW), 4)
    AS value_last_day
FROM events
WHERE user_id < 20
"""


@query("window_time_range", oracle=_TIME_RANGE_ORACLE)
def window_time_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-based RANGE frame via epoch MICROseconds (reference
    TimestampValueBoundaryScanner; portable across engines as numeric
    range on unix time). unix_timestamp() truncates
    to whole seconds while DuckDB's epoch() is fractional — an event
    pair landing within 1 s of the 3600 s boundary with the right
    fractions would sit inside one engine's frame and outside the
    other's. unix_micros / epoch_us is the exact integer both engines
    share (the repo's sessionize/time-weight discipline)."""
    e = load(spark, sf_dir, "events").filter(F.col("user_id") < 20)
    w = Window.partitionBy("user_id").orderBy(F.unix_micros("ts"))
    us_h, us_d = 3600 * 1_000_000, 86400 * 1_000_000
    return e.select(
        "user_id",
        "event_id",
        "ts",
        F.count(F.lit(1)).over(w.rangeBetween(-us_h, 0)).alias("events_last_hour"),
        F.round(F.sum("value").over(w.rangeBetween(-us_d, 0)), 4).alias(
            "value_last_day"
        ),
    )


_FIRST_LAST_ORACLE = """
SELECT
  o_custkey,
  o_orderkey,
  FIRST_VALUE(o_orderkey) OVER w AS first_order,
  LAST_VALUE(o_orderkey) OVER (
    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_order,
  NTH_VALUE(o_orderkey, 2) OVER w AS second_order
FROM orders
WHERE o_custkey < 50
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
"""


@query("window_first_last_nth", oracle=_FIRST_LAST_ORACLE)
def window_first_last_nth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first_value / last_value (full frame) / nth_value."""
    return catalog.sql(spark, sf_dir, _FIRST_LAST_ORACLE)


_PARTITION_AGG_ORACLE = """
SELECT
  s_suppkey,
  s_nationkey,
  s_acctbal,
  ROUND(AVG(s_acctbal) OVER (PARTITION BY s_nationkey), 4) + 0.0 AS nation_avg,
  s_acctbal - ROUND(AVG(s_acctbal) OVER (PARTITION BY s_nationkey), 4)
    AS delta_from_avg,
  COUNT(*) OVER () AS total_suppliers
FROM supplier
"""


@query("window_partition_agg", oracle=_PARTITION_AGG_ORACLE)
def window_partition_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unordered window = whole-partition aggregate broadcast back to
    each row (no sort needed; Catalyst plans a single Window exec)."""
    s = load(spark, sf_dir, "supplier")
    by_nation = Window.partitionBy("s_nationkey")
    everything = Window.partitionBy()
    nation_avg = F.round(F.avg("s_acctbal").over(by_nation), 4) + 0.0
    return s.select(
        "s_suppkey",
        "s_nationkey",
        "s_acctbal",
        nation_avg.alias("nation_avg"),
        (F.col("s_acctbal") - nation_avg).alias("delta_from_avg"),
        F.count(F.lit(1)).over(everything).alias("total_suppliers"),
    )


_RANGE_DECIMAL_ORACLE = """
SELECT o_orderkey,
       CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE)
         AS price_dec,
       COUNT(*) OVER (
         ORDER BY CAST(o_totalprice AS DECIMAL(18,2))
         RANGE BETWEEN 1000.00 PRECEDING AND CURRENT ROW) AS n_within_1000,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
         ORDER BY CAST(o_totalprice AS DECIMAL(18,2))
         RANGE BETWEEN 1000.00 PRECEDING AND CURRENT ROW) AS DOUBLE)
         AS sum_within_1000
FROM orders
WHERE o_custkey < 20
"""


@query("window_range_decimal", oracle=_RANGE_DECIMAL_ORACLE)
def window_range_decimal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame over a DECIMAL ordering column — the
    HiveDecimalValueBoundaryScanner case, completing the typed-scanner
    matrix (long/double: window_range_frame; date/timestamp:
    window_time_range; SURVEY.md §2.4). Decimal arithmetic (frame
    membership, the windowed sum) stays exact internally; only the
    FINAL output columns are cast to DOUBLE+ROUND on both sides —
    DuckDB's pandas path renders DECIMAL as float64 while Spark
    collects Decimal objects, so a decimal output column can never
    repr-hash-match even when values are equal."""
    return catalog.sql(spark, sf_dir, _RANGE_DECIMAL_ORACLE)


_RANGE_STRING_ORACLE = """
SELECT o_orderkey,
       o_orderstatus,
       o_orderpriority,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
         PARTITION BY o_orderstatus ORDER BY o_orderpriority
         RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
         AS cum_price_with_peers,
       COUNT(*) OVER (
         PARTITION BY o_orderstatus ORDER BY o_orderpriority
         RANGE BETWEEN CURRENT ROW AND CURRENT ROW) AS n_peers
FROM orders
WHERE o_custkey < 50
"""


@query("window_range_string", oracle=_RANGE_STRING_ORACLE)
def window_range_string(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame over a STRING ordering column — the reference's
    StringValueBoundaryScanner case (SURVEY.md §2.4), completing the
    typed-scanner matrix (long/double/date/timestamp/decimal covered by
    the sibling queries). For string order columns the meaningful RANGE
    boundaries are value-equality ones: UNBOUNDED->CURRENT (cumulative
    INCLUDING all peers of the current value — distinct from the ROWS
    frame, which cuts peer groups) and CURRENT<->CURRENT (the peer
    group itself). Both are native Spark range frames over any
    orderable type — numeric-OFFSET-on-string is the only shape Spark's
    rangeBetween rejects, and Hive's scanner treats string distance as
    equality anyway. Decimal inside SUM keeps the money cumsum exact
    and order-independent (repo ROUND convention); one shuffle on
    o_orderstatus, sort within partition."""
    return catalog.sql(spark, sf_dir, _RANGE_STRING_ORACLE)


# ---------------------------------------------------------------------------
# windowed order statistics: trailing median over a moving frame
# ---------------------------------------------------------------------------

_TRAILING_MEDIAN_ORACLE = """
WITH c AS (
  SELECT o_custkey, o_orderkey,
         CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders WHERE o_custkey < 200
),
f AS (
  SELECT o_custkey, o_orderkey,
         list_sort(list(cents) OVER (
           PARTITION BY o_custkey ORDER BY o_orderkey
           ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)) AS arr
  FROM c
)
SELECT o_custkey, o_orderkey,
       CAST(CASE WHEN len(arr) % 2 = 1
                 THEN 2 * arr[(len(arr) + 1) // 2]
                 ELSE arr[len(arr) // 2] + arr[len(arr) // 2 + 1]
            END AS DOUBLE) / 200.0 AS trailing_median_price,
       CAST(len(arr) AS BIGINT) AS frame_rows
FROM f
"""


@query("window_trailing_median", oracle=_TRAILING_MEDIAN_ORACLE)
def window_trailing_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDER STATISTICS over a moving frame: the exact median of each
    customer's trailing 5 orders — percentile as a WINDOW function
    (reference: GenericUDAFPercentile is window-capable in Hive's PTF;
    SURVEY.md §2.3/§2.4), the rolling-median smoothing shape
    monitoring pipelines use where a mean would chase outliers.
    Spark's median/percentile aggregates reject window FRAMES
    (whole-partition only), so the frame's order statistic is computed
    the way Hive's PTF evaluators do: collect the (bounded, <=5-row)
    frame into an array, sort it, interpolate — constant per-row work
    for a constant frame. Engine lockstep: prices become integer
    CENTS, the doubled median (2*mid or lo+hi) is an exact integer,
    and the ONLY float op is the same integer/200 division on both
    engines — no ROUND anywhere, so the half-cent rounding divergence
    between engines cannot occur."""
    o = load(spark, sf_dir, "orders").where(F.col("o_custkey") < 200)
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderkey")
        .rowsBetween(-4, Window.currentRow)
    )
    d = o.select("o_custkey", "o_orderkey", cents.alias("cents"))
    arr = F.array_sort(F.collect_list("cents").over(w))
    n = F.size(arr)
    lo = F.element_at(arr, (n / 2).cast("int"))
    hi = F.element_at(arr, (n / 2 + 1).cast("int"))
    cents2 = F.when(
        n % 2 == 1, 2 * F.element_at(arr, ((n + 1) / 2).cast("int"))
    ).otherwise(lo + hi)
    return d.select(
        "o_custkey",
        "o_orderkey",
        (cents2.cast("double") / 200.0).alias("trailing_median_price"),
        n.cast("bigint").alias("frame_rows"),
    )


# ---------------------------------------------------------------------------
# skyline / Pareto frontier via windows (sort-based, not quadratic)
# ---------------------------------------------------------------------------

_SKYLINE_ORACLE = """
WITH pts AS (
  SELECT p_partkey, p_brand,
         CAST(ROUND(p_retailprice * 100, 0) AS BIGINT) AS price_c,
         CAST(p_size AS BIGINT) AS size
  FROM part
)
SELECT q.p_brand, q.p_partkey, q.price_c, q.size
FROM pts q
WHERE NOT EXISTS (
  SELECT 1 FROM pts p
  WHERE p.p_brand = q.p_brand
    AND p.price_c <= q.price_c AND p.size >= q.size
    AND (p.price_c < q.price_c OR p.size > q.size)
)
ORDER BY q.p_brand, q.price_c, q.size, q.p_partkey
"""


@query("window_skyline_pareto", oracle=_SKYLINE_ORACLE)
def window_skyline_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline (Pareto frontier) query — Borzsony/Kossmann/Stocker's
    SKYLINE OF operator (ICDE'01), absent from Hive and Spark alike:
    per brand, the parts no other part dominates on (price MIN, size
    MAX). The classic formulation is a quadratic NOT EXISTS self-join
    (exactly what the DuckDB oracle runs, making the oracle genuinely
    INDEPENDENT of the implementation); this implementation is the
    sort-based O(n log n) rewrite: ordered by price, a point survives
    iff its size strictly exceeds the running max size of every
    STRICTLY cheaper point (RANGE frame to 1 PRECEDING — ties must not
    see each other) and it carries the max size within its own price
    tie-group (same-price domination), which together are exactly the
    dominance test. Duplicate (price, size) pairs all survive —
    dominance requires one strict inequality — and both sides agree.

    Engine-exactness: price quantizes to exact cents, size is an int —
    the dominance test never touches a float.

    100 TB reading: the quadratic self-join is the scale-killer
    (n^2/brand); this shape is ONE range-partitioned sort per brand +
    two window passes — the same cost class as any ranking query, and
    the partition key keeps every window local. An unpartitioned
    global skyline distributes the same way via the standard
    local-skyline-then-merge decomposition (skyline(S) =
    skyline(union of per-partition skylines) — each partition's
    frontier is tiny, so the merge input collapses before the final
    pass)."""
    pts = load(spark, sf_dir, "part").select(
        "p_partkey",
        "p_brand",
        F.round(F.col("p_retailprice") * 100, 0)
        .cast("bigint")
        .alias("price_c"),
        F.col("p_size").cast("bigint").alias("size"),
    )
    w_cheaper = (
        Window.partitionBy("p_brand")
        .orderBy("price_c")
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    w_tie = Window.partitionBy("p_brand", "price_c")
    scored = pts.select(
        "p_brand",
        "p_partkey",
        "price_c",
        "size",
        F.max("size").over(w_cheaper).alias("m_cheaper"),
        F.max("size").over(w_tie).alias("m_tie"),
    )
    return (
        scored.where(
            (F.col("m_cheaper").isNull() | (F.col("size") > F.col("m_cheaper")))
            & (F.col("size") == F.col("m_tie"))
        )
        .select("p_brand", "p_partkey", "price_c", "size")
        .orderBy("p_brand", "price_c", "size", "p_partkey")
    )
