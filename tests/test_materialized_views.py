"""Materialized-view rewrite tests — the Calcite rules/views analog.

Correctness of the rewritten values is covered by test_correctness.py
(mv_rewrite_* have DuckDB oracles). These tests pin what correctness
alone can't: that the rewrite actually RETARGETS the scan (the whole
point of an MV at 100 TB), that containment failures fall back, and
that staleness blocks the rewrite until a rebuild.
"""

from __future__ import annotations

import pyspark.sql.functions as F

from hive_service_spark.catalog import TABLES, bind
from hive_service_spark.operators.materialized_views import (
    Measure,
    lineitem_revenue_mv,
)
from hive_service_spark.plans import inspect as P
from tests.conftest import SF_DIR

_COUNT_REV = {
    "n_items": Measure("count", "l_quantity"),
    "revenue": Measure("sum", "l_extendedprice * (1 - l_discount)"),
}


def test_rewrite_scans_mv_not_base(spark):
    """The rewritten plan must read the MV parquet and never touch
    base lineitem — the 100 TB scan becomes a ~50-row scan."""
    bind(spark, SF_DIR, *TABLES)
    mv = lineitem_revenue_mv()
    mv.build(spark)
    df, used = mv.rewrite(
        spark, group_by=("l_returnflag",), measures=dict(_COUNT_REV)
    )
    assert used
    plan = P.formatted_plan(df)
    assert "lineitem_rev_mv" in plan
    assert "lineitem.parquet" not in plan


def test_fallback_scans_base(spark):
    bind(spark, SF_DIR, *TABLES)
    mv = lineitem_revenue_mv()
    mv.build(spark)
    df, used = mv.rewrite(
        spark,
        group_by=("l_returnflag",),
        measures=dict(_COUNT_REV),
        predicate=F.col("l_tax") > 0.04,
        filter_cols=("l_tax",),
    )
    assert not used
    assert "lineitem.parquet" in P.formatted_plan(df)


def test_containment_rules(spark):
    bind(spark, SF_DIR, *TABLES)
    mv = lineitem_revenue_mv()
    mv.build(spark)
    # subset of dims + derivable measures → yes
    assert mv.can_answer(("l_returnflag", "ship_year"), dict(_COUNT_REV))
    # grouping col the MV never stored → no
    assert not mv.can_answer(("l_linenumber",), dict(_COUNT_REV))
    # measure over an expression the MV has no basis for → no
    assert not mv.can_answer(
        ("l_returnflag",), {"t": Measure("sum", "l_tax")}
    )
    # filter on a non-dim → no
    assert not mv.can_answer(
        ("l_returnflag",), dict(_COUNT_REV), filter_cols=("l_tax",)
    )


def test_stale_mv_blocks_rewrite_until_rebuild(spark):
    """Freshness: after the base changes (invalidate), the rewriter
    must refuse the MV; a rebuild restores it. Mirrors the reference's
    per-MV freshness tracking."""
    bind(spark, SF_DIR, *TABLES)
    mv = lineitem_revenue_mv()
    mv.build(spark)
    assert mv.can_answer(("l_returnflag",), dict(_COUNT_REV))
    mv.invalidate()
    assert not mv.can_answer(("l_returnflag",), dict(_COUNT_REV))
    _, used = mv.rewrite(
        spark, group_by=("l_returnflag",), measures=dict(_COUNT_REV)
    )
    assert not used  # answered from base while stale
    mv.build(spark)
    assert mv.can_answer(("l_returnflag",), dict(_COUNT_REV))


def test_avg_is_rederived_not_averaged(spark):
    """AVG over the MV must equal AVG over the base (sum/count), which
    a naive AVG(avg_partial) would get wrong on skewed group sizes."""
    bind(spark, SF_DIR, *TABLES)
    mv = lineitem_revenue_mv()
    mv.build(spark)
    df, used = mv.rewrite(
        spark,
        group_by=("l_returnflag",),
        measures={"avg_qty": Measure("avg", "l_quantity")},
    )
    assert used
    got = {r["l_returnflag"]: r["avg_qty"] for r in df.collect()}
    want = {
        r["l_returnflag"]: r["avg_qty"]
        for r in spark.table("lineitem")
        .groupBy("l_returnflag")
        .agg(F.avg("l_quantity").alias("avg_qty"))
        .collect()
    }
    assert got.keys() == want.keys()
    for k in got:
        assert abs(got[k] - want[k]) < 1e-9, k


def test_sql_transparent_rewrite_scans_mv(spark):
    """Plain SQL through rewrite_sql must land on the MV parquet when
    containment holds — the reference's optimizer-transparent
    rules/views behavior, no Request object in sight."""
    from hive_service_spark.operators.materialized_views import rewrite_sql

    bind(spark, SF_DIR, *TABLES)
    mv = lineitem_revenue_mv()
    mv.build(spark)
    df, used = rewrite_sql(
        spark,
        "SELECT l_returnflag, SUM(l_quantity) AS total_qty "
        "FROM lineitem GROUP BY l_returnflag",
    )
    assert used
    plan = P.formatted_plan(df)
    assert "lineitem_rev_mv" in plan
    assert "lineitem.parquet" not in plan


def test_sql_transparent_falls_back(spark):
    """Non-dim filter -> base-table fallback; non-GROUP-BY SQL -> runs
    verbatim through spark.sql. Both stay correct, neither errors."""
    from hive_service_spark.operators.materialized_views import rewrite_sql

    bind(spark, SF_DIR, *TABLES)
    mv = lineitem_revenue_mv()
    mv.build(spark)
    df, used = rewrite_sql(
        spark,
        "SELECT l_returnflag, SUM(l_quantity) AS total_qty "
        "FROM lineitem WHERE l_tax > 0.04 GROUP BY l_returnflag",
    )
    assert not used
    assert "lineitem.parquet" in P.formatted_plan(df)
    # shape the grammar doesn't model: verbatim spark.sql, no rewrite
    df2, used2 = rewrite_sql(spark, "SELECT COUNT(*) AS n FROM nation")
    assert not used2 and df2.collect()[0]["n"] == 25


def test_sql_rewrite_error_falls_back_not_raises(spark):
    """Round-3 advice: a WHERE clause the rewrite path can't analyze
    (qualified column name — F.expr parses it but analysis against the
    MV/base frame fails) must FALL BACK to spark.sql(sql), never
    raise. The fallback result must equal running the SQL directly."""
    from hive_service_spark.operators.materialized_views import rewrite_sql

    bind(spark, SF_DIR, *TABLES)
    mv = lineitem_revenue_mv()
    mv.build(spark)
    sql = (
        "SELECT l_returnflag, SUM(l_quantity) AS total_qty "
        "FROM lineitem WHERE lineitem.l_linestatus = 'F' "
        "GROUP BY l_returnflag"
    )
    df, used = rewrite_sql(spark, sql)  # must not raise
    assert not used
    expect = {
        (r["l_returnflag"], r["total_qty"]) for r in spark.sql(sql).collect()
    }
    assert {(r["l_returnflag"], r["total_qty"]) for r in df.collect()} == expect


def test_sql_order_by_modifier_falls_back_not_misparses(spark):
    """Round-3 advice: ORDER BY items beyond bare `col [asc|desc]`
    (e.g. DESC NULLS LAST) used to be silently treated as plain
    ascending; they must now fall back to spark.sql so the ordering is
    honored."""
    from hive_service_spark.operators.materialized_views import rewrite_sql

    bind(spark, SF_DIR, *TABLES)
    mv = lineitem_revenue_mv()
    mv.build(spark)
    df, used = rewrite_sql(
        spark,
        "SELECT l_returnflag, SUM(l_quantity) AS total_qty "
        "FROM lineitem GROUP BY l_returnflag "
        "ORDER BY l_returnflag DESC NULLS LAST",
    )
    assert not used  # modifier we don't model -> verbatim spark.sql
    flags = [r["l_returnflag"] for r in df.collect()]
    assert flags == sorted(flags, reverse=True)
