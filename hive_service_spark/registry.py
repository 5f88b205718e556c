"""Query registry: the driver-contract surface.

Every implemented operator family registers one or more named queries
here via the ``@query`` decorator. ``__spark_entry__.py`` exposes the
collected registry as ``queries()`` / ``oracle_sql()``.

A registered query is a callable ``(spark, sf_dir) -> DataFrame`` plus
an optional ANSI-SQL oracle string DuckDB can run over the same parquet
tables. Column names/aliases MUST match between the two — the driver
sorts columns by name before value-hashing.

A registered query runs in its own copy of the caller's session, as a
HiveServer2 client session runs on its own ``SessionState``
(:func:`run`). The copy starts with the caller's runtime confs, temp
views and temp functions. Shared with the caller: the SparkContext, the
cache, catalog tables and :func:`persisted` eviction. Per query: confs,
temp views, temp functions, session variables and the streaming
manager. What a query sets stays in force when the caller later runs
the returned frame, and never reaches the caller or a peer query.
"""

from __future__ import annotations

import functools
import importlib
import threading
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None  # ANSI SQL for DuckDB, or None → rows-only check


_REGISTRY: dict[str, QuerySpec] = {}

# Cache-lifetime tracking: handles persisted by registered queries via
# :func:`persisted`, evicted when the NEXT registered query starts ON
# THE SAME THREAD. This scopes eviction twice over: (a) to frames the
# registry itself created — a session-global
# ``spark.catalog.clearCache()`` here would also evict every OTHER
# user's cached frames and MV caches in a long-lived shared session
# (the HiveServer2/STS deployment shape this engine mirrors) — and (b)
# to the invoking thread, so a registered query never evicts an
# in-flight peer's persists, which would force iterative consumers
# (the PageRank loop, the BPE merge chain) to silently recompute their
# whole lineage per iteration. Keyed by thread id; a reused id simply
# inherits eviction duty for its predecessor's frames, which bounds the
# leak from threads that die between queries.
_LIVE_FRAMES: dict[int, list[DataFrame]] = {}
_LIVE_LOCK = threading.Lock()


def persisted(df: DataFrame, storage_level=None) -> DataFrame:
    """``df.persist()`` whose handle the registry tracks for eviction.

    Registered queries persist intermediates they cannot unpersist
    themselves (the caller collects the returned frame later), so cache
    lifetime is a registry concern: the wrapper drops the PREVIOUS
    query's tracked frames before running the next one, bounding live
    executor cache to one query's persists. Evicted frames recompute if
    an old handle is ever re-collected — a memory-lifetime decision,
    never a correctness one. Frames cached outside this helper (user
    caches, MV caches) are never touched.
    """
    df = df.persist(storage_level) if storage_level is not None else df.persist()
    with _LIVE_LOCK:
        _LIVE_FRAMES.setdefault(threading.get_ident(), []).append(df)
    return df


def _evict_previous() -> None:
    """Unpersist the CURRENT thread's previous query's tracked frames.

    Other threads' lists are untouched — a concurrently-running peer
    keeps its persisted intermediates for its whole invocation
    (test_registry_cache.py pins this)."""
    with _LIVE_LOCK:
        frames = _LIVE_FRAMES.pop(threading.get_ident(), [])
    for df in frames:
        try:
            df.unpersist()
        except Exception:
            # session stopped/restarted since the frame was cached —
            # nothing left to evict
            pass

# Modules that register queries on import. Order = SURVEY.md §7 waves.
_QUERY_MODULES = (
    "hive_service_spark.operators.scans",
    "hive_service_spark.operators.joins",
    "hive_service_spark.operators.aggregates",
    "hive_service_spark.operators.windows",
    "hive_service_spark.operators.setops",
    "hive_service_spark.operators.lateral",
    "hive_service_spark.operators.subqueries",
    "hive_service_spark.operators.transform_script",
    "hive_service_spark.operators.sql_script",
    "hive_service_spark.operators.ddl_catalog",
    "hive_service_spark.operators.dml_lifecycle",
    "hive_service_spark.operators.materialized_views",
    "hive_service_spark.operators.bitmap_index",
    "hive_service_spark.operators.acid_snapshots",
    "hive_service_spark.operators.tpch",
    "hive_service_spark.operators.tpch_extra",
    "hive_service_spark.operators.tpch_more",
    "hive_service_spark.operators.skew_scale",
    "hive_service_spark.operators.partition_pruning",
    "hive_service_spark.operators.optimizer_features",
    "hive_service_spark.operators.sequence_analytics",
    "hive_service_spark.operators.matchpath",
    "hive_service_spark.operators.temporal_joins",
    "hive_service_spark.operators.recursive_cte",
    "hive_service_spark.operators.graph_analytics",
    "hive_service_spark.functions.function_queries",
    "hive_service_spark.functions.sql_shims",
    "hive_service_spark.functions.percentile_hive",
    "hive_service_spark.sources.source_queries",
    "hive_service_spark.sources.python_datasource",
    "hive_service_spark.llm.text",
    "hive_service_spark.llm.dedup",
    "hive_service_spark.llm.similarity",
    "hive_service_spark.llm.multimodal",
    "hive_service_spark.llm.pipeline",
    "hive_service_spark.llm.corpus",
    "hive_service_spark.llm.classify",
    "hive_service_spark.llm.selection",
    "hive_service_spark.llm.tokenizer",
    "hive_service_spark.streaming.events",
    "hive_service_spark.streaming.ingest",
    "hive_service_spark.streaming.notifications",
)


def run(fn: QueryFn, spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run ``fn`` as every registered query runs: first drop this
    thread's previous query's tracked persists (:func:`persisted`),
    then call ``fn`` on a clone of ``spark``. ``cloneSession`` (not
    ``newSession``) keeps the caller's runtime confs, temp views and
    temp functions, so a setting the caller made before the call
    reaches the query. While ``fn`` runs, the clone is also this
    thread's active JVM session, as Hive makes a client's SessionState
    current for the thread serving it: Spark resolves some names, such
    as a Python data source's format, through the active session."""
    _evict_previous()
    jclass = getattr(spark._jvm, "org.apache.spark.sql.classic.SparkSession")
    session = SparkSession(spark.sparkContext, spark._jsparkSession.cloneSession())
    active = jclass.getActiveSession()
    jclass.setActiveSession(session._jsparkSession)
    try:
        return fn(session, sf_dir)
    finally:
        if active.isDefined():
            jclass.setActiveSession(active.get())
        else:
            jclass.clearActiveSession()
        release_stream_bus(session._jsparkSession)


def release_stream_bus(jsession) -> None:
    """Take a JVM session's streaming listener bus off the SparkContext.

    A session's streaming manager is made the first time the session
    starts a stream or reads its stream state, and it adds a listener
    bus to the SparkContext's listener bus that nothing removes. Both
    the query's session (:func:`run`) and the session Spark clones for
    each stream (``streaming.events.await_stream``) can make one. The
    manager and its bus are private fields, hence the reflection. The
    bus stays while a stream of the session is still active, since it
    reports that stream's progress."""
    state = jsession.sessionState()
    field = state.getClass().getDeclaredField("streamingQueryManager")
    field.setAccessible(True)
    manager = field.get(state)  # None until the session first streams
    if manager is None or len(manager.active()):
        return
    field = manager.getClass().getDeclaredField("listenerBus")
    field.setAccessible(True)
    jsession.sparkContext().listenerBus().removeListener(field.get(manager))


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Decorator: register ``fn`` under ``name`` with its SQL oracle."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")

        @functools.wraps(fn)
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            return run(fn, spark, sf_dir)

        _REGISTRY[name] = QuerySpec(name=name, fn=wrapped, oracle=oracle)
        return fn

    return deco


def load_all() -> dict[str, QuerySpec]:
    """Import every query module (idempotent) and return the registry."""
    for mod in _QUERY_MODULES:
        importlib.import_module(mod)
    return dict(_REGISTRY)
