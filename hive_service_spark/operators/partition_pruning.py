"""Partition-pruning wave — static pruning + dynamic partition pruning (DPP).

Reference surface (SURVEY.md §4.1 #11, §4.2): Hive prunes partitions
statically at compile time (`ppr/PartitionPruner` +
`pcr/PartitionConditionRemover` push partition-column predicates into
the metastore listing [jar: hive-exec!ql/optimizer/ppr/PartitionPruner])
and dynamically at runtime — one branch of the DAG computes the join
keys and an `AppMasterEventOperator` ships them to the Tez AM, which
drops the unneeded partitions of the other branch before its tasks are
scheduled [jar: hive-exec!ql/exec/AppMasterEventOperator;
ql/exec/tez/DynamicPartitionPruner].

Spark-first mapping: both are built into Catalyst. A filter on a
partition column becomes `PartitionFilters` on the `FileSourceScan`
(zero files read for pruned partitions); a selective dim-side filter on
a join against a partition column becomes a
`dynamicpruningexpression(... IN subquery)` partition filter that
reuses the broadcast exchange (`spark.sql.optimizer.
dynamicPartitionPruning.enabled`, default on). At 100 TB this is the
difference between scanning 84 months and scanning 2 — the fact table
is laid out `PARTITIONED BY (ship_month)` exactly so these two
mechanisms can skip whole directories; nothing here is custom code,
the queries exist to pin the plan shape the deployment relies on.

Tests: tests/test_plans.py pins `PartitionFilters` non-empty on the
static scan and `dynamicpruning` present on the DPP scan.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from hive_service_spark import catalog
from hive_service_spark.catalog import load
from hive_service_spark.registry import query

# r14: the staged month-partitioned fixture moves under SCRATCH_ROOT
# (tmpfs when available) but stays a SHARED cross-run namespace — its
# semantics are "built once per scale factor, reused by later runs
# until the source parquet changes", so it deliberately does NOT use a
# per-pid reaped namespace (the name matches no reaper prefix).
from hive_service_spark.scratch import SCRATCH_ROOT as _SCRATCH_ROOT

_SCRATCH = f"{_SCRATCH_ROOT}/fixtures-partitioned"

# staged layouts already checked against their source this process
_STAGED: set[str] = set()


def staged_lineitem_by_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lineitem laid out as a month-partitioned table (the 100 TB layout).

    Written once per scale factor: `PARTITIONED BY (ship_month)` with
    ship_month = 'yyyy-MM' of l_shipdate (~84 directories). Dynamic
    partition write — the reference's SortedDynPartitionOptimizer path,
    Spark's `partitionBy` on write (SURVEY.md §2.1 FileSinkOperator).

    The staleness check runs once per process (the source parquet is
    immutable within a process lifetime). The frame is built on every
    call, in the caller's session, from `catalog.schema`'s cached
    schema, so a warm call starts no Spark job and the frame plans
    under the calling query's confs.
    """
    dest = f"{_SCRATCH}/{os.path.basename(os.path.normpath(sf_dir))}/lineitem_by_month"
    if dest not in _STAGED:
        marker = f"{dest}/_SUCCESS"
        src = f"{sf_dir}/lineitem.parquet"
        if not os.path.exists(marker) or os.path.getmtime(marker) < os.path.getmtime(src):
            (
                load(spark, sf_dir, "lineitem")
                .withColumn("ship_month", F.date_format("l_shipdate", "yyyy-MM"))
                # one file per partition directory: repartition on the
                # partition column so 32 tasks don't each write 84 tiny files
                .repartition("ship_month")
                .write.mode("overwrite")
                .partitionBy("ship_month")
                .parquet(dest)
            )
        _STAGED.add(dest)
    # list the ~84 partition directories on the driver: past the
    # default threshold of 32, Spark starts a listing job per read,
    # which cost 0.63 s against 0.05 s at sf0.1 (4 cores)
    spark.conf.set("spark.sql.sources.parallelPartitionDiscovery.threshold", "1024")
    return spark.read.schema(catalog.schema(spark, dest)).parquet(dest)


_STATIC_ORACLE = """
SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
       COUNT(*) AS n_rows,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
WHERE strftime(l_shipdate, '%Y-%m') IN ('1996-01', '1996-02', '1996-03')
GROUP BY 1
ORDER BY ship_month
"""


@query("part_static_partition_pruning", oracle=_STATIC_ORACLE)
def part_static_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter on the partition column → directory-level skip.

    The IN-list lands in `PartitionFilters` (not `PushedFilters`): Spark
    lists only the 3 matching directories; the other ~81 months are
    never opened. Hive analog: PartitionPruner consulting the metastore
    (`get_partitions_by_expr`).
    """
    li = staged_lineitem_by_month(spark, sf_dir)
    return (
        li.filter(F.col("ship_month").isin("1996-01", "1996-02", "1996-03"))
        .groupBy("ship_month")
        .agg(
            F.count("*").alias("n_rows"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            ),
        )
        .orderBy("ship_month")
    )


_DPP_ORACLE = """
WITH hot_months AS (
    SELECT DISTINCT strftime(o_orderdate, '%Y-%m') AS ship_month
    FROM orders
    WHERE o_orderpriority = '1-URGENT'
      AND o_orderdate >= TIMESTAMP '1997-01-01'
      AND o_orderdate < TIMESTAMP '1997-04-01'
)
SELECT l.ship_month,
       COUNT(*) AS n_rows,
       ROUND(SUM(l.l_quantity), 2) AS qty
FROM (SELECT *, strftime(l_shipdate, '%Y-%m') AS ship_month FROM lineitem) l
JOIN hot_months m ON l.ship_month = m.ship_month
GROUP BY 1
ORDER BY l.ship_month
"""


@query("part_dynamic_partition_pruning", oracle=_DPP_ORACLE)
def part_dynamic_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime pruning: dim-side filter decides which fact partitions load.

    The months worth scanning are only known after filtering `orders` —
    Catalyst inserts `dynamicpruningexpression(ship_month IN subquery)`
    into the fact scan's PartitionFilters, reusing the broadcast
    exchange as the subquery. Hive analog: AppMasterEventOperator →
    DynamicPartitionPruner dropping Tez splits at runtime.
    """
    li = staged_lineitem_by_month(spark, sf_dir)
    hot_months = (
        load(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderpriority") == "1-URGENT")
            & (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1997-04-01").cast("timestamp"))
        )
        .select(F.date_format("o_orderdate", "yyyy-MM").alias("ship_month"))
        .distinct()
    )
    return (
        li.join(hot_months, "ship_month")
        .groupBy("ship_month")
        .agg(
            F.count("*").alias("n_rows"),
            F.round(F.sum("l_quantity"), 2).alias("qty"),
        )
        .orderBy("ship_month")
    )


# ---------------------------------------------------------------------------
# Z-order clustering — multi-column data skipping (file/row-group pruning)
# ---------------------------------------------------------------------------

_Z_BITS = 8          # 8 bits per dimension -> 16-bit Morton code
_Z_CHUNKS = 64       # stand-in for files/row-groups after a clustered write
# the 2-D range queries the layouts are judged on: one selective in the
# sort dimension (where a linear sort is already optimal) and one that
# filters ONLY the second dimension (the linear layout's worst case —
# the situation z-ordering exists to fix)
_ZQ_BOXES = [
    ("both_dims", 32, 47, 64, 95),
    ("y_only", 0, 255, 64, 71),
]


def _morton_sql(x: str, y: str) -> str:
    terms = []
    for i in range(_Z_BITS):
        terms.append(f"((({x} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({y} >> {i}) & 1) << {2 * i + 1})")
    return " + ".join(terms)


_zq_values = ", ".join(
    f"('{b}', {x0}, {x1}, {y0}, {y1})" for b, x0, x1, y0, y1 in _ZQ_BOXES
)

_ZORDER_ORACLE = f"""
WITH pts AS (
  SELECT o_orderkey,
         CAST(o_custkey % 256 AS INTEGER) AS x,
         CAST(CAST(floor(o_totalprice / 2500) AS INTEGER) % 256 AS INTEGER)
           AS y
  FROM orders
),
coded AS (
  SELECT *, {_morton_sql('x', 'y')} AS z FROM pts
),
layouts AS (
  SELECT 'linear' AS layout, x, y,
         NTILE({_Z_CHUNKS}) OVER (ORDER BY x, o_orderkey) AS chunk
  FROM coded
  UNION ALL
  SELECT 'zorder' AS layout, x, y,
         NTILE({_Z_CHUNKS}) OVER (ORDER BY z, o_orderkey) AS chunk
  FROM coded
),
stats AS (
  SELECT layout, chunk,
         MIN(x) AS min_x, MAX(x) AS max_x,
         MIN(y) AS min_y, MAX(y) AS max_y,
         COUNT(*) AS n_rows
  FROM layouts GROUP BY layout, chunk
),
boxes AS (
  SELECT * FROM (VALUES {_zq_values}) AS t(box, x0, x1, y0, y1)
)
SELECT b.box, s.layout,
       COUNT(*) AS n_chunks,
       CAST(SUM(CASE WHEN s.max_x >= b.x0 AND s.min_x <= b.x1
                      AND s.max_y >= b.y0 AND s.min_y <= b.y1
                     THEN 1 ELSE 0 END) AS BIGINT) AS chunks_touched,
       CAST(SUM(CASE WHEN s.max_x >= b.x0 AND s.min_x <= b.x1
                      AND s.max_y >= b.y0 AND s.min_y <= b.y1
                     THEN s.n_rows ELSE 0 END) AS BIGINT) AS rows_scanned
FROM stats s CROSS JOIN boxes b
GROUP BY b.box, s.layout ORDER BY b.box, s.layout
"""


@query("layout_zorder_skipping", oracle=_ZORDER_ORACLE)
def layout_zorder_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering vs linear sort for multi-column
    data skipping — the write-time layout decision that makes parquet
    min/max row-group stats prune on BOTH filter columns instead of
    one. Rows get a 16-bit Morton code interleaving 8 bits of customer
    and 8 bits of price-bucket; each layout is split into
    {_Z_CHUNKS} equal chunks (the stand-ins for files/row-groups of a
    clustered write), and two 2-D range queries count how many chunks
    their min/max boxes force open. The 'both_dims' box shows parity
    with a linear sort on its selective dimension; the 'y_only' box is
    the linear layout's worst case — it opens ALL chunks while the
    z-ordered layout opens ~1/6 of them (64 vs 11 at sf0.01), which is
    the skip win a 100 TB deployment banks on (Delta/Iceberg OPTIMIZE
    ZORDER does exactly this before writing). The oracle recomputes
    both layouts exactly, so the value hash proves the interleave and
    the skip counts. No reference analog — Hive 2.3 sorts on one
    column only (SORTED BY, SURVEY.md §2.6); listed as an extension."""
    o = load(spark, sf_dir, "orders")
    x = (F.col("o_custkey") % 256).cast("int")
    y = (F.floor(F.col("o_totalprice") / 2500).cast("int") % 256).cast("int")
    z = None
    for i in range(_Z_BITS):
        tx = F.shiftleft(F.shiftright(F.col("x"), i).bitwiseAND(F.lit(1)), 2 * i)
        ty = F.shiftleft(
            F.shiftright(F.col("y"), i).bitwiseAND(F.lit(1)), 2 * i + 1
        )
        z = tx + ty if z is None else z + tx + ty
    coded = o.select("o_orderkey", x.alias("x"), y.alias("y")).withColumn(
        "z", z
    )

    def chunked(layout: str, order_col: str) -> DataFrame:
        w = Window.orderBy(order_col, "o_orderkey")
        return coded.select(
            F.lit(layout).alias("layout"),
            "x",
            "y",
            F.ntile(_Z_CHUNKS).over(w).alias("chunk"),
        )

    layouts = chunked("linear", "x").unionByName(chunked("zorder", "z"))
    stats = layouts.groupBy("layout", "chunk").agg(
        F.min("x").alias("min_x"),
        F.max("x").alias("max_x"),
        F.min("y").alias("min_y"),
        F.max("y").alias("max_y"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    boxes = spark.createDataFrame(
        _ZQ_BOXES, "box string, x0 int, x1 int, y0 int, y1 int"
    )
    hit = (
        (F.col("max_x") >= F.col("x0"))
        & (F.col("min_x") <= F.col("x1"))
        & (F.col("max_y") >= F.col("y0"))
        & (F.col("min_y") <= F.col("y1"))
    )
    return (
        stats.crossJoin(F.broadcast(boxes))
        .groupBy("box", "layout")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum(F.when(hit, 1).otherwise(0)).cast("bigint").alias(
                "chunks_touched"
            ),
            F.sum(F.when(hit, F.col("n_rows")).otherwise(0))
            .cast("bigint")
            .alias("rows_scanned"),
        )
        .orderBy("box", "layout")
    )
