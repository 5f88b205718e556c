"""registry.run: every registered query runs in its own copy of the
caller's session, the way each HiveServer2 client session has its own
SessionState. The copy starts from the caller's confs, temp views and
temp functions; what the query sets stays in the copy."""

from __future__ import annotations

import re
import sys
import threading

from hive_service_spark.registry import load_all, run
from tests.conftest import SF_DIR

_SPECS = load_all()

# entries that set confs, temp views, temp functions, session
# variables or a Python data source in the session they run in
_WRITERS = (
    "cte_recursive_date_spine",
    "opt_runtime_bloom_filter",
    "ddl_dynamic_partition_overwrite",
    "script_hiveql_session",
    "script_session_variables",
    "source_python_datasource",
)
# its dimension joins broadcast only while autoBroadcastJoinThreshold
# allows it, which opt_runtime_bloom_filter sets to -1
_READER = "q5_local_supplier_volume"
_JOIN = re.compile(
    r"BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin"
    r"|BroadcastNestedLoopJoin|CartesianProduct"
)


def _session_state(spark):
    return (
        dict(spark.conf.getAll),
        sorted(t.name for t in spark.catalog.listTables() if t.isTemporary),
        sorted(r[0] for r in spark.sql("SHOW USER FUNCTIONS").collect()),
    )


def _reader_answer(spark):
    df = _SPECS[_READER].fn(spark, SF_DIR)
    joins = _JOIN.findall(df._jdf.queryExecution().executedPlan().toString())
    return sorted(map(tuple, df.collect())), joins


def test_caller_settings_reach_the_query_and_query_settings_stay_out(spark):
    """cloneSession, not newSession: a runtime conf, temp view and temp
    function the caller set are visible to the query; what the query
    sets is not visible to the caller."""
    spark.conf.set("spark.graft.test.caller_marker", "from-caller")
    spark.range(3).createOrReplaceTempView("caller_view")
    spark.sql("CREATE OR REPLACE TEMPORARY FUNCTION caller_fn() RETURNS INT RETURN 7")
    seen = {}

    def probe(session, sf_dir):
        seen["marker"] = session.conf.get("spark.graft.test.caller_marker", None)
        seen["same"] = session._jsparkSession.equals(spark._jsparkSession)
        session.conf.set("spark.graft.test.query_marker", "from-query")
        session.range(1).createOrReplaceTempView("query_view")
        return session.sql("SELECT caller_fn() AS f, COUNT(*) AS n FROM caller_view")

    try:
        df = run(probe, spark, SF_DIR)
        assert seen == {"marker": "from-caller", "same": False}
        assert [tuple(r) for r in df.collect()] == [(7, 3)]
        # the query's own setting stays in force on the frame it returned
        assert df.sparkSession.conf.get("spark.graft.test.query_marker") == "from-query"
        assert spark.conf.get("spark.graft.test.query_marker", None) is None
        assert not spark.catalog.tableExists("query_view")
    finally:
        spark.conf.unset("spark.graft.test.caller_marker")
        spark.catalog.dropTempView("caller_view")
        spark.sql("DROP TEMPORARY FUNCTION IF EXISTS caller_fn")


def test_sql_entry_binds_its_views_in_its_own_copy(spark):
    """An entry that runs its SQL text (catalog.sql) binds the tables
    it names in its session copy, never in the caller's session."""
    caller = spark.newSession()
    df = _SPECS["q3_shipping_priority"].fn(caller, SF_DIR)
    assert df.collect()

    def temp_views(session):
        return {t.name for t in session.catalog.listTables() if t.isTemporary}

    assert {"customer", "orders", "lineitem"} <= temp_views(df.sparkSession)
    assert "lineitem" not in temp_views(caller)


def test_caller_conf_decides_the_query_plan(spark):
    """A conf the caller sets before the call reaches the query's plan
    (tests/test_plans.py relies on this for autoBroadcastJoinThreshold)."""
    keys = (
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold",
    )
    for k in keys:
        spark.conf.set(k, "-1")
    try:
        _, joins = _reader_answer(spark)
    finally:
        for k in keys:
            spark.conf.unset(k)
    _, default_joins = _reader_answer(spark)
    assert "SortMergeJoin" in joins
    assert joins != default_joins


def _streaming_buses(spark) -> int:
    listeners = spark.sparkContext._jsc.sc().listenerBus().listeners()
    return sum(
        listeners.get(i).getClass().getSimpleName() == "StreamingQueryListenerBus"
        for i in range(listeners.size())
    )


def test_streaming_queries_leave_no_listener_bus(spark):
    """A session that streams adds a listener bus to the SparkContext
    that Spark never removes; both the query's session and the session
    Spark clones for a stateful stream would leave one per call."""
    spec = _SPECS["stream_foreach_batch_sink"]
    before = _streaming_buses(spark)
    for _ in range(20):
        spec.fn(spark, SF_DIR)
    assert _streaming_buses(spark) == before


def test_concurrent_writers_leave_caller_and_reader_alone(spark):
    """One thread loops entries that set confs, temp views, functions
    and session variables; another loops a join whose strategy follows
    a conf the first one flips. The caller's session ends as it began,
    and the reader's answer and join plan never move."""
    before = _session_state(spark)
    want = _reader_answer(spark)
    done = threading.Event()
    errors: list[BaseException] = []
    readings: list[tuple] = []

    def writer():
        try:
            for _ in range(2):
                for name in _WRITERS:
                    _SPECS[name].fn(spark, SF_DIR).collect()
        except BaseException as ex:  # reported by the main thread
            errors.append(ex)
        finally:
            done.set()

    def reader():
        try:
            while not done.is_set() or len(readings) < 3:
                readings.append(_reader_answer(spark))
        except BaseException as ex:
            errors.append(ex)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=writer), threading.Thread(target=reader)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=600)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads), "a client thread hung"
    assert not errors, errors
    assert readings and all(r == want for r in readings)
    assert _session_state(spark) == before
