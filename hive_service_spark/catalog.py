"""Table layer: the deterministic test warehouse.

Mirrors the reference's metastore-backed Database→Table model
(SURVEY.md §1.1, §3.3): schemas are fixed (schema-on-read), tables are
registered in the session catalog as views so both the DataFrame API
and ``spark.sql`` resolve them. At 100 TB these would be external
partitioned/bucketed tables in a real metastore; locally they are the
driver-generated parquet files.

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
each registered query runs in its own session copy: one that loads
``events`` sets ``nanosAsLong`` and one that does not leaves it unset,
and neither may evict the other's entry for the same file. Paths that
``os.stat`` cannot reach (remote URIs) are never cached.
"""

from __future__ import annotations

import os
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
# guards the dict for client threads sharing a session; inference runs
# outside it, so two threads may both infer a new file's schema once.
_SCHEMAS: dict[tuple, tuple[tuple, StructType]] = {}
_SCHEMAS_LOCK = threading.Lock()


def schema(spark: SparkSession, path: str) -> StructType:
    """The parquet schema at ``path`` as ``spark.read.parquet`` infers
    it under the session's current settings, inferred once per file
    version (see the module docstring for the key and invalidation)."""
    try:
        st = os.stat(path)
    except OSError:  # not a local path: let Spark resolve (or reject) it
        return spark.read.parquet(path).schema
    key = (os.path.realpath(path),) + tuple(
        spark.conf.get(k, None) for k in _SCHEMA_CONFS
    )
    sig = (st.st_ino, st.st_mtime_ns, st.st_size)
    with _SCHEMAS_LOCK:
        hit = _SCHEMAS.get(key)
    if hit is not None and hit[0] == sig:
        return hit[1]
    inferred = spark.read.parquet(path).schema
    with _SCHEMAS_LOCK:
        _SCHEMAS[key] = (sig, inferred)
    return inferred


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one table as a DataFrame (vectorized parquet scan).

    The scan is built from the cached ``schema``, so only the first
    load of a table file (or of a new version of it) runs the
    schema-inference job; later loads start no job. Each call returns
    a new DataFrame, so two loads of one table self-join cleanly.

    ``events.ts`` has shipped in two physical encodings across testdata
    generations: parquet TIMESTAMP(NANOS) (which Spark's reader rejects
    with [PARQUET_TYPE_ILLEGAL] unless read as long) and plain
    TIMESTAMP(MICROS). Handle both: read with nanosAsLong enabled, and
    only when the column actually comes back as a long, convert with
    integer division (ns ≈ 1.7e18 overflows double's 2^53 mantissa, so
    ``div`` not ``/``), truncating toward microseconds the same way
    DuckDB's reader does.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    path = f"{sf_dir}/{name}.parquet"
    if name == "events":
        import pyspark.sql.functions as F
        from pyspark.sql.types import LongType, TimestampNTZType

        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.schema(schema(spark, path)).parquet(path)
        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif isinstance(ts_type, TimestampNTZType):
            # session TZ is pinned UTC, so NTZ -> TIMESTAMP is
            # value-preserving; downstream epoch arithmetic
            # (cast to bigint, window ranges) needs TimestampType.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return spark.read.schema(schema(spark, path)).parquet(path)


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


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view for spark.sql() queries.

    Temp view over a file scan keeps full predicate pushdown / column
    pruning — Catalyst sees straight through the view to the
    FileSourceScan.
    """
    for name in TABLES:
        load(spark, sf_dir, name).createOrReplaceTempView(name)
