"""Table layer: the deterministic test warehouse.

Mirrors the reference's metastore-backed Database→Table model
(SURVEY.md §1.1, §3.3): schemas are fixed (schema-on-read). At 100 TB
these would be external partitioned/bucketed tables in a real
metastore; locally they are the driver-generated parquet files.
``load`` returns one table as a DataFrame; ``bind`` registers tables
as temp views for ``spark.sql``; ``sql`` runs a SQL text over views of
the tables it names. That is how a relational entry runs its one SQL
text, the same text DuckDB runs as the entry's oracle.

Like a metastore, the layer learns each table's schema once. A bare
``spark.read.parquet(path)`` starts a one-task Spark job that reads the
parquet footer; ``schema`` keeps the inferred schema in a process-wide
cache, and ``load`` passes it to ``spark.read.schema(...)``, which
starts no job. The cache holds schemas only, never DataFrames, so every
``load`` still returns a fresh relation with new attribute ids.

Cache entries are keyed by the path's real path and the session's
values of the parquet settings that change inference
(``_SCHEMA_CONFS``), and hold the file signature they were inferred
under: the path's ``st_ino``, ``st_mtime_ns`` and ``st_size``. A
lookup whose signature differs infers again and replaces the entry, so
a file rewritten in place, or a Spark-written directory rewritten in
place (which recreates the directory), is read with its new schema. A
rewrite that changes only files below a directory's top level is not
seen. The settings are part of the key, not of the signature, because
each registered query runs in its own session copy, and copies may
differ in them: one that loads an ``events`` file with a
TIMESTAMP(NANOS) ``ts`` sets ``nanosAsLong`` and one that does not
leaves it unset, and neither may evict the other's entry for the same
file. Whether ``ts`` is NANOS is read from the footer once per file
version, next to the schema cache (``_NANOS``). Paths that ``os.stat``
cannot reach (remote URIs) are never cached.
"""

from __future__ import annotations

import os
import re
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

# Every table the driver pre-registers for the DuckDB oracle.
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimension tables small enough to broadcast at ANY scale factor
# (region=5 rows, nation=25 rows — fixed-cardinality in TPC-H).
BROADCASTABLE = frozenset({"region", "nation"})

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Session settings that change the schema Spark infers from a footer.
_SCHEMA_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
)

# (real path, settings) -> (file signature, schema); one entry per path
# and settings, so rewrites of one path never pile up entries. The lock
# guards both caches for client threads sharing a session; inference
# runs outside it, so two threads may both infer a new file's schema.
_SCHEMAS: dict[tuple, tuple[tuple, StructType]] = {}
_SCHEMAS_LOCK = threading.Lock()
# (real path,) -> (file signature, whether its ts column is NANOS)
_NANOS: dict[tuple, tuple[tuple, bool]] = {}

_TABLE_NAME = re.compile(rf"(?<![\w.])({'|'.join(TABLES)})(?!\w)", re.IGNORECASE)


def _per_version(cache: dict, path: str, key: tuple, infer):
    """``infer()``, computed once per version of the file at ``path``
    and cached under its real path plus ``key`` (see the module
    docstring for the signature that invalidates an entry)."""
    try:
        st = os.stat(path)
    except OSError:  # not a local path: no version to key by
        return infer()
    key = (os.path.realpath(path),) + key
    sig = (st.st_ino, st.st_mtime_ns, st.st_size)
    with _SCHEMAS_LOCK:
        hit = cache.get(key)
    if hit is not None and hit[0] == sig:
        return hit[1]
    value = infer()
    with _SCHEMAS_LOCK:
        cache[key] = (sig, value)
    return value


def schema(spark: SparkSession, path: str) -> StructType:
    """The parquet schema at ``path`` as ``spark.read.parquet`` infers
    it under the session's current settings, inferred once per file
    version."""
    settings = tuple(spark.conf.get(k, None) for k in _SCHEMA_CONFS)
    return _per_version(
        _SCHEMAS, path, settings, lambda: spark.read.parquet(path).schema
    )


def _ts_is_nanos(path: str) -> bool:
    """Whether the parquet ``ts`` column at ``path`` is TIMESTAMP(NANOS),
    read once per file version from the footer with pyarrow, which
    starts no Spark job. A path pyarrow cannot read (a remote URI) is
    taken as NANOS, which only costs the nanosAsLong setting."""

    def infer() -> bool:
        import pyarrow as pa
        import pyarrow.dataset as ds

        ts = ds.dataset(path, format="parquet").schema.field("ts").type
        return pa.types.is_timestamp(ts) and ts.unit == "ns"

    if not os.path.exists(path):
        return True
    return _per_version(_NANOS, path, (), infer)


def events_schema(spark: SparkSession, path: str) -> StructType:
    """The schema of an ``events`` file before its ``ts`` conversion
    (:func:`events_ts`).

    Spark's reader rejects parquet TIMESTAMP(NANOS) with
    [PARQUET_TYPE_ILLEGAL] unless ``nanosAsLong`` is set, which makes
    it read the column as a long. The setting is made on ``spark``
    only when the file's ``ts`` really is NANOS, since it applies to
    every later parquet read in that session."""
    if _ts_is_nanos(path):
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return schema(spark, path)


def events_ts(df: DataFrame) -> DataFrame:
    """``df`` with ``events.ts`` as a TimestampType column.

    ``events.ts`` has shipped in two physical encodings across testdata
    generations: TIMESTAMP(NANOS), read as a long, is converted with
    integer division (ns ≈ 1.7e18 overflows double's 2^53 mantissa, so
    ``div`` not ``/``), truncating toward microseconds the same way
    DuckDB's reader does; TIMESTAMP(MICROS) without UTC adjustment is
    read as TIMESTAMP_NTZ, which does not cast to bigint, and is cast
    to TIMESTAMP (value-preserving: the session time zone is pinned
    UTC), as downstream epoch arithmetic and window ranges need."""
    import pyspark.sql.functions as F
    from pyspark.sql.types import LongType, TimestampNTZType

    ts_type = df.schema["ts"].dataType
    if isinstance(ts_type, LongType):
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if isinstance(ts_type, TimestampNTZType):
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one table as a DataFrame (vectorized parquet scan).

    The scan is built from the cached ``schema``, so only the first
    load of a table file (or of a new version of it) runs the
    schema-inference job; later loads start no job. Each call returns
    a new DataFrame, so two loads of one table self-join cleanly.
    ``events`` is read through :func:`events_schema` and
    :func:`events_ts`, for either encoding of its ``ts`` column.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    path = f"{sf_dir}/{name}.parquet"
    if name == "events":
        raw = events_schema(spark, path)
        return events_ts(spark.read.schema(raw).parquet(path))
    return spark.read.schema(schema(spark, path)).parquet(path)


def bind(spark: SparkSession, sf_dir: str, *names: str) -> None:
    """Register the named tables as temp views of ``spark`` for
    ``spark.sql`` statements, each through :func:`load`: a warm bind
    starts no job, and a rewritten file is read again. A registered
    query binds in its own session copy (``registry.run``), so the
    views never reach the caller's session or a peer query. A temp
    view over a file scan keeps full predicate pushdown and column
    pruning: Catalyst sees through the view to the FileSourceScan."""
    for name in names:
        load(spark, sf_dir, name).createOrReplaceTempView(name)


def sql(spark: SparkSession, sf_dir: str, text: str) -> DataFrame:
    """``spark.sql(text)`` over views of the catalog tables ``text``
    names (:func:`bind`).

    This is how a relational entry runs its one SQL text: the same text
    is the entry's DuckDB oracle, so the oracle check compares two
    engines on one query. A name qualified by a database (``db.orders``)
    is not the catalog's table. A mention the statement does not read
    (a comment, a string) only costs one warm bind."""
    names = dict.fromkeys(m.lower() for m in _TABLE_NAME.findall(text))
    bind(spark, sf_dir, *names)
    return spark.sql(text)


def par(spark: SparkSession, mult: int = 1) -> int:
    """Target parallelism for explicit repartitions.

    Derived from the cluster's ``defaultParallelism`` (total executor
    cores) instead of a hard-coded constant, so the same code fans out
    to thousands of tasks on a 1000-executor cluster and a handful
    locally. Default mult=1 = one task per core: oversubscribing
    shuffle-heavy stages (mult=2) measurably HURTS at bench scale
    (per-task overhead dominates: clean_corpus 3.7s@64 vs 2.1s@32 on
    local[32]) and on a real cluster AQE already splits stragglers.
    Pass mult>1 only for pair-expansion stages whose output is much
    bigger than their input.
    """
    return max(spark.sparkContext.defaultParallelism * mult, 4)
