"""Structured Streaming wave over the `events` table.

The reference (Hive 2.3) has NO streaming surface (SURVEY.md §1.1) —
this module is the extension surface mandated by BASELINE.json,
expressed as idiomatic Structured Streaming: `readStream` over the
events parquet, windowed/stateful transforms, `writeStream` with an
`availableNow` trigger (process-everything-then-stop), memory sink for
the driver contract. Because the whole file arrives in one micro-batch,
results are deterministic and each query carries a full DuckDB oracle —
the streaming plan is cross-checked against batch SQL semantics.

Scale notes (100 TB/day stream): the same code pointed at a Kafka/files
source with a real trigger runs incrementally — tumbling/sliding aggs
keep one state row per (window, key); the watermark bounds state;
`transformWithStateInPandas`-style custom state is shown with
applyInPandasWithState. Memory sink is test-only; production sinks are
parquet/Delta/Kafka via the identical writeStream call.
"""

from __future__ import annotations

from pathlib import Path

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from hive_service_spark import catalog
from hive_service_spark.registry import query, release_stream_bus

# Checkpoints and foreachBatch sink targets are mutable state a
# streaming query owns exclusively — they live in the per-process
# scratch namespace (see hive_service_spark.scratch).
from hive_service_spark.scratch import SCRATCH_ROOT as _SCRATCH  # noqa: E402
from hive_service_spark.scratch import pid_dir, stage_source  # noqa: E402

_NS = pid_dir("proc")
_CKPT = f"{_NS}/checkpoints"


def _stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events table. The file source wants
    a DIRECTORY it can monitor for arriving files (that's the whole
    point of the source), so the single driver parquet file is staged
    into a scratch dir once per scale factor — in production this is
    the landing directory files keep arriving into. ``ts`` gets the
    same conversion as the batch path (catalog.load)."""
    src = Path(sf_dir) / "events.parquet"
    stage = Path(f"{_SCRATCH}/stream_src") / Path(sf_dir).name
    # staleness check matters: the stream reads the STAGED file with
    # the SOURCE file's schema, so a stale copy from an older testdata
    # generation (same size, different encoding) would mismatch.
    # stage_source fingerprints the source (size + mtime_ns) and copies
    # through a per-pid temp file + atomic rename — a concurrent reader
    # never sees a torn file.
    stage_source(src, stage)
    raw = catalog.events_schema(spark, str(src))
    return catalog.events_ts(spark.readStream.schema(raw).parquet(str(stage)))


def await_stream(q: StreamingQuery) -> None:
    """Wait for an availableNow stream to end. Spark runs each stream
    on its own clone of the starting session; a stateful stream makes
    that clone's streaming manager, whose listener bus would stay on
    the SparkContext for good, so it is released here."""
    try:
        q.awaitTermination()
    finally:
        release_stream_bus(q._jsq.streamingQuery().sparkSessionForStream())


def _run_to_table(df: DataFrame, name: str, mode: str) -> DataFrame:
    """Execute the streaming plan to completion (availableNow) into a
    memory sink and return the materialized table."""
    import shutil

    spark = df.sparkSession
    # each invocation replays the full input from offset 0 — a stale
    # checkpoint would pin the old source/offsets, so start clean
    shutil.rmtree(f"{_CKPT}/{name}", ignore_errors=True)
    # AQE is off in stateful streaming, so each configured shuffle
    # partition is a state-store instance committed per micro-batch:
    # one per core, not the 200 default. The checkpoint is recreated
    # per invocation, so the count is safe to change between runs.
    spark.conf.set(
        "spark.sql.shuffle.partitions", str(spark.sparkContext.defaultParallelism)
    )
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .option("checkpointLocation", f"{_CKPT}/{name}")
        .trigger(availableNow=True)
        .start()
    )
    await_stream(q)
    return spark.table(name)


# ---------------------------------------------------------------------------
# tumbling window
# ---------------------------------------------------------------------------

_TUMBLING_ORACLE = """
SELECT time_bucket(INTERVAL 1 HOUR, ts) AS window_start,
       event_type,
       COUNT(*) AS n_events,
       ROUND(SUM(value), 2) AS total_value
FROM events
GROUP BY 1, 2
"""


@query("stream_tumbling_window", oracle=_TUMBLING_ORACLE)
def stream_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour tumbling-window count/sum by event_type. State = one row
    per (window, type); with a watermark (next query) closed windows
    are evicted, so state is bounded by the window span, not the
    stream length."""
    agg = (
        _stream(spark, sf_dir)
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )
    return _run_to_table(agg, "hs_stream_tumbling", "complete")


# ---------------------------------------------------------------------------
# sliding window
# ---------------------------------------------------------------------------

_SLIDING_ORACLE = """
SELECT window_start, COUNT(*) AS n_events, ROUND(SUM(value), 2) AS total_value
FROM (
  SELECT unnest([time_bucket(INTERVAL 1 HOUR, ts),
                 time_bucket(INTERVAL 1 HOUR, ts) - INTERVAL 1 HOUR])
           AS window_start,
         value
  FROM events
)
GROUP BY 1
"""


@query("stream_sliding_window", oracle=_SLIDING_ORACLE)
def stream_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-hour window sliding every 1 hour: each event lands in exactly
    two windows (the oracle replays that expansion with unnest)."""
    agg = (
        _stream(spark, sf_dir)
        .groupBy(F.window("ts", "2 hours", "1 hour"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            "n_events",
            "total_value",
        )
    )
    return _run_to_table(agg, "hs_stream_sliding", "complete")


# ---------------------------------------------------------------------------
# session window (30-minute gap)
# ---------------------------------------------------------------------------

_SESSION_ORACLE = """
WITH ordered AS (
  SELECT user_id, ts, value,
         CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                   > INTERVAL 30 MINUTE OR
                   LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events
),
sessions AS (
  SELECT user_id, ts, value,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM ordered
)
SELECT user_id, MIN(ts) AS session_start,
       COUNT(*) AS n_events, ROUND(SUM(value), 2) AS total_value
FROM sessions
GROUP BY user_id, session_id
"""


@query("stream_session_window", oracle=_SESSION_ORACLE)
def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user session windows with a 30-minute inactivity gap
    (F.session_window — dynamic, data-driven windows; Hive has no
    analog). The oracle rebuilds sessionization with the classic
    gaps-and-islands lag/cumsum SQL."""
    agg = (
        _stream(spark, sf_dir)
        .groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            "n_events",
            "total_value",
        )
    )
    return _run_to_table(agg, "hs_stream_session", "complete")


# ---------------------------------------------------------------------------
# watermark + streaming dedup
# ---------------------------------------------------------------------------

_WM_DEDUP_ORACLE = """
SELECT event_type, COUNT(DISTINCT event_id) AS n_unique
FROM events
GROUP BY event_type
"""


@query("stream_watermark_dedup", oracle=_WM_DEDUP_ORACLE)
def stream_watermark_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked streaming dedup bounding state to one hour of
    event-time — the production pattern for at-least-once sources.
    Round-13 review: plain ``dropDuplicates(['event_id'])`` does NOT
    get watermark eviction when the event-time column is absent from
    the key subset — the state grew one row per event_id forever, the
    exact defect the old docstring claimed was prevented.
    ``dropDuplicatesWithinWatermark`` is the operator built for this:
    retries of an id arriving within the watermark delay dedup, and
    the key's state IS evicted once the watermark passes it. event_id
    is unique in the corpus, so the one-batch replay still equals
    batch COUNT(DISTINCT)."""
    deduped = (
        _stream(spark, sf_dir)
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["event_id"])
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_unique"))
    )
    return _run_to_table(deduped, "hs_stream_wm_dedup", "complete")


# ---------------------------------------------------------------------------
# custom stateful operator (applyInPandasWithState)
# ---------------------------------------------------------------------------

_STATEFUL_ORACLE = """
SELECT user_id, COUNT(*) AS n_events,
       ROUND(SUM(value), 2) AS total_value,
       ROUND(MAX(value), 2) AS max_value
FROM events
GROUP BY user_id
"""


def _user_counter(key, pdfs, state: GroupState):
    """Arrow-batched per-user running aggregate held in GroupState —
    the Structured Streaming analog of a custom stateful reference
    operator (SURVEY.md §2.1 GroupByOperator's hash state, but
    user-defined)."""
    n, total, mx = state.get if state.exists else (0, 0.0, float("-inf"))
    for pdf in pdfs:
        n += len(pdf)
        total += float(pdf["value"].sum())
        mx = max(mx, float(pdf["value"].max()))
    state.update((n, total, mx))
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "n_events": [n],
            "total_value": [round(total, 2)],
            "max_value": [round(mx, 2)],
        }
    )


@query("stream_stateful_user_agg", oracle=_STATEFUL_ORACLE)
def stream_stateful_user_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator via applyInPandasWithState:
    per-user running (count, sum, max) kept in explicit GroupState.
    Arrow batches keep the Python hop vectorized; state is per-key and
    partitioned by the grouping key, so it scales horizontally like any
    shuffle."""
    out_schema = (
        "user_id bigint, n_events bigint, total_value double, max_value double"
    )
    result = (
        _stream(spark, sf_dir)
        .groupBy("user_id")
        .applyInPandasWithState(
            _user_counter,
            outputStructType=out_schema,
            stateStructType="n bigint, total double, mx double",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    return _run_to_table(result, "hs_stream_stateful", "update")


# ---------------------------------------------------------------------------
# stream-stream interval join
# ---------------------------------------------------------------------------

_SS_JOIN_ORACLE = """
SELECT v.user_id,
       v.event_id AS view_id,
       p.event_id AS purchase_id,
       CAST(v.ts AS TIMESTAMP) AS view_ts,
       CAST(p.ts AS TIMESTAMP) AS purchase_ts
FROM (SELECT * FROM events WHERE event_type = 'view') v
JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
  ON v.user_id = p.user_id
 AND p.ts >= v.ts
 AND p.ts <= v.ts + INTERVAL 1 HOUR
ORDER BY v.user_id, view_id, purchase_id
"""


@query("stream_stream_interval_join", oracle=_SS_JOIN_ORACLE)
def stream_stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join with an event-time interval condition:
    every purchase within 1 hour after a view by the same user. Both
    sides carry watermarks so the state store can expire buffered rows
    once the other stream's event time passes the interval bound — the
    mechanism that keeps state finite on an unbounded 100 TB/day
    stream. The equi-key (user_id) drives the shuffle; the time bounds
    are residual conditions on the state lookup. The batch oracle
    proves the streaming plan computes exactly the batch join."""
    ev = _stream(spark, sf_dir)
    views = (
        ev.where(F.col("event_type") == "view")
        .select("user_id", F.col("event_id").alias("view_id"), F.col("ts").alias("view_ts"))
        .withWatermark("view_ts", "2 hours")
    )
    purchases = (
        ev.where(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "2 hours")
    )
    joined = views.alias("v").join(
        purchases.alias("p"),
        F.expr(
            """
            v.user_id = p.user_id AND
            purchase_ts >= view_ts AND
            purchase_ts <= view_ts + INTERVAL 1 HOUR
            """
        ),
    )
    out = _run_to_table(
        joined.select(
            F.col("v.user_id").alias("user_id"),
            "view_id",
            "purchase_id",
            "view_ts",
            "purchase_ts",
        ),
        "ss_interval_join",
        "append",
    )
    return out.orderBy("user_id", "view_id", "purchase_id")


# ---------------------------------------------------------------------------
# foreachBatch sink (the production write path)
# ---------------------------------------------------------------------------

_FOREACH_ORACLE = """
SELECT time_bucket(INTERVAL 6 HOUR, ts) AS window_start,
       COUNT(*) AS n_events,
       ROUND(SUM(value), 2) AS total_value
FROM events
GROUP BY 1
"""


@query("stream_foreach_batch_sink", oracle=_FOREACH_ORACLE)
def stream_foreach_batch_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch: the production streaming sink. Each micro-batch
    calls a user function with (batch_df, batch_id); exactly-once
    delivery = the checkpoint's batch-id bookkeeping + an IDEMPOTENT
    write (here: complete-mode aggregate overwriting the target — a
    replayed batch rewrites the same result; the partition-keyed
    variant overwrites only the partitions present in the batch). This
    is how Structured Streaming feeds warehouses/OLTP stores that have
    no native streaming sink. The query result is the TARGET read back,
    so the oracle checks what actually landed on disk."""
    import shutil

    target = f"{_NS}/fb_target"
    ckpt = f"{_CKPT}/hs_stream_foreach_batch"
    shutil.rmtree(ckpt, ignore_errors=True)
    shutil.rmtree(target, ignore_errors=True)
    agg = (
        _stream(spark, sf_dir)
        .groupBy(F.window("ts", "6 hours"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            "n_events",
            "total_value",
        )
    )

    def _write_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(target)

    # one state-store instance per core (see _run_to_table)
    spark.conf.set(
        "spark.sql.shuffle.partitions", str(spark.sparkContext.defaultParallelism)
    )
    q = (
        agg.writeStream.foreachBatch(_write_batch)
        .outputMode("complete")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    await_stream(q)
    return spark.read.parquet(target)


_MV_REFRESH_ORACLE = """
SELECT event_type,
       CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE)
         AS total_value
FROM events
GROUP BY event_type, day
"""


@query("stream_mv_incremental_refresh", oracle=_MV_REFRESH_ORACLE)
def stream_mv_incremental_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance: the streaming
    counterpart of operators/materialized_views.py. The events file is
    staged as multiple files and read with maxFilesPerTrigger=1, so
    availableNow delivers SEVERAL micro-batches; foreachBatch computes
    each batch's partial aggregate and merges it into the on-disk MV
    (new_mv = re-aggregate(old_mv ∪ batch_partial) — sums of sums,
    sums of counts), writing a NEW snapshot version per batch (COW, so
    a replayed batch can't corrupt the MV and readers never see a
    partial write). Money math runs in DECIMAL so the merged total is
    independent of how the stream was batched.

    At 100 TB/day this is the standard warehouse rollup pattern: the
    MV is partitioned by day, each batch merges only the day
    partitions it touches, and old snapshots age out. The final MV
    must equal the one-shot batch aggregate — that is the oracle."""
    import os
    import shutil
    from pathlib import Path

    base = f"{_NS}/stream_mv"
    ckpt = f"{_CKPT}/hs_stream_mv_refresh"
    shutil.rmtree(base, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)

    # stage events as 4 files so availableNow yields 4 micro-batches
    src_dir = f"{base}/src"
    catalog.load(spark, sf_dir, "events").repartition(4).write.parquet(src_dir)
    stream = spark.readStream.schema(
        catalog.schema(spark, src_dir)
    ).option("maxFilesPerTrigger", 1).parquet(src_dir)

    keys = ["event_type", "day"]
    versions = f"{base}/mv_v"
    state = {"cur": None, "batches": 0}

    def _partial(df: DataFrame) -> DataFrame:
        return (
            df.withColumn("day", F.date_trunc("day", "ts"))
            .groupBy(*keys)
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_events"),
                F.sum(F.col("value").cast("decimal(18,4)"))
                .cast("decimal(38,6)")
                .alias("sum_value"),
            )
        )

    def _merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        partial = _partial(batch_df)
        if state["cur"] is not None:
            old = spark.read.parquet(state["cur"])
            merged = (
                old.unionByName(partial)
                .groupBy(*keys)
                .agg(
                    F.sum("n_events").cast("bigint").alias("n_events"),
                    F.sum("sum_value").cast("decimal(38,6)").alias("sum_value"),
                )
            )
        else:
            merged = partial
        nxt = f"{versions}{batch_id}"
        merged.write.mode("overwrite").parquet(nxt)
        state["cur"] = nxt
        state["batches"] += 1

    # one state-store instance per core (see _run_to_table)
    spark.conf.set(
        "spark.sql.shuffle.partitions", str(spark.sparkContext.defaultParallelism)
    )
    q = (
        stream.writeStream.foreachBatch(_merge_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    await_stream(q)
    assert state["batches"] >= 2, (
        f"expected multiple micro-batches, got {state['batches']} — "
        "incrementality untested"
    )
    mv = spark.read.parquet(state["cur"])
    return mv.select(
        "event_type",
        "day",
        "n_events",
        F.round("sum_value", 2).cast("double").alias("total_value"),
    )


# ---------------------------------------------------------------------------
# stream-stream LEFT OUTER interval join
# ---------------------------------------------------------------------------

_SS_OUTER_ORACLE = """
WITH cutoff AS (
  -- decidable horizon: views newer than this are still buffered when
  -- the stream ends (their 1h match window has not fully passed the
  -- 2h watermark), so neither engine may count them; 4h = interval +
  -- watermark + 1h boundary-semantics margin
  SELECT least((SELECT MAX(ts) FROM events WHERE event_type = 'view'),
               (SELECT MAX(ts) FROM events WHERE event_type = 'purchase'))
         - INTERVAL 4 HOUR AS c
),
j AS (
  SELECT v.user_id, v.event_id AS view_id, p.event_id AS purchase_id
  FROM (SELECT * FROM events WHERE event_type = 'view') v
  LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
    ON v.user_id = p.user_id
   AND p.ts >= v.ts
   AND p.ts <= v.ts + INTERVAL 1 HOUR
  WHERE v.ts <= (SELECT c FROM cutoff)
)
SELECT user_id,
       COUNT(DISTINCT view_id) AS n_views,
       COUNT(DISTINCT CASE WHEN purchase_id IS NOT NULL
                           THEN view_id END) AS n_converted_views,
       COUNT(DISTINCT CASE WHEN purchase_id IS NULL
                           THEN view_id END) AS n_orphan_views
FROM j
GROUP BY user_id
HAVING COUNT(DISTINCT CASE WHEN purchase_id IS NULL THEN view_id END) > 0
ORDER BY user_id
"""


@query("stream_stream_outer_join", oracle=_SS_OUTER_ORACLE)
def stream_stream_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join: views that converted to
    a purchase within 1 hour vs views that never did. The outer side is
    the hard streaming case — an unmatched view can only be emitted
    (with NULL purchase columns) once the purchase stream's watermark
    has passed `view_ts + 1 hour`, proving no match can still arrive;
    availableNow's final no-data micro-batch advances the watermark to
    flush them. State stays finite at 100 TB/day exactly as in the
    inner join: equi-key shuffle on user_id, watermark-bounded buffers
    on both sides. Views inside the last interval+watermark of the
    stream are STILL BUFFERED when input ends (no verdict possible
    yet), so both engines restrict to the decidable horizon — the
    correct way to consume a streaming outer join; never treat a
    not-yet-emitted row as a non-match. Output is the per-user
    conversion/orphan census (join-row NULLs aggregated away —
    canon-safe), value-checked against the identical batch LEFT
    JOIN."""
    ev = _stream(spark, sf_dir)
    views = (
        ev.where(F.col("event_type") == "view")
        .select(
            "user_id",
            F.col("event_id").alias("view_id"),
            F.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", "2 hours")
    )
    purchases = (
        ev.where(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user_id"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "2 hours")
    )
    joined = views.join(
        purchases,
        F.expr(
            """
            user_id = p_user_id AND
            purchase_ts >= view_ts AND
            purchase_ts <= view_ts + INTERVAL 1 HOUR
            """
        ),
        "left_outer",
    )
    rows = _run_to_table(
        joined.select("user_id", "view_id", "purchase_id", "view_ts"),
        "ss_outer_join",
        "append",
    )
    # decidable horizon, mirrored in the oracle (see _SS_OUTER_ORACLE)
    from hive_service_spark.catalog import load

    ev_batch = load(spark, sf_dir, "events")
    cutoff = ev_batch.agg(
        F.least(
            F.max(F.when(F.col("event_type") == "view", F.col("ts"))),
            F.max(F.when(F.col("event_type") == "purchase", F.col("ts"))),
        ).alias("c")
    )
    return (
        rows.crossJoin(F.broadcast(cutoff))
        .where(F.col("view_ts") <= F.col("c") - F.expr("INTERVAL 4 HOUR"))
        .groupBy("user_id")
        .agg(
            F.count_distinct("view_id").alias("n_views"),
            F.count_distinct(
                F.when(F.col("purchase_id").isNotNull(), F.col("view_id"))
            ).alias("n_converted_views"),
            F.count_distinct(
                F.when(F.col("purchase_id").isNull(), F.col("view_id"))
            ).alias("n_orphan_views"),
        )
        .where(F.col("n_orphan_views") > 0)
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# chained windowed aggregations (window-on-window rollup)
# ---------------------------------------------------------------------------

_CHAINED_ORACLE = """
SELECT time_bucket(INTERVAL 1 HOUR, ts) AS hour_start,
       COUNT(*) AS n_events,
       CAST(COUNT(DISTINCT time_bucket(INTERVAL 15 MINUTE, ts)) AS BIGINT)
         AS n_quarter_buckets,
       ROUND(SUM(value), 2) AS total_value
FROM events
-- decidable horizon (see stream_stream_outer_join): hours whose
-- chained windows could still be open when input ends are excluded
-- on BOTH sides
WHERE time_bucket(INTERVAL 1 HOUR, ts)
        <= (SELECT MAX(ts) FROM events) - INTERVAL 4 HOUR
GROUP BY 1
ORDER BY hour_start
"""


@query("stream_chained_windows", oracle=_CHAINED_ORACLE)
def stream_chained_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chained streaming window aggregation: 15-minute tumbling
    partials rolled up to hourly totals in ONE streaming query (the
    second groupBy windows over `window_time` of the first — the
    multi-stage streaming rollup Spark 3.4+ enables). This is the
    streaming form of the classic pre-aggregation cascade: at
    100 TB/day the 15-min stage absorbs the raw-event firehose with
    one state row per window, and the hourly stage only sees 4 rows
    per hour — partial aggregation exactly like map-side combine.
    Each stage's watermark evicts closed windows. The batch oracle
    checks both granularities (hourly totals + how many 15-min
    buckets fed each hour)."""
    quarter = (
        _stream(spark, sf_dir)
        .withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "15 minutes"))
        .agg(
            F.count(F.lit(1)).alias("n_part"),
            F.sum("value").alias("v_part"),
        )
    )
    hourly = (
        quarter.groupBy(F.window(F.window_time("window"), "1 hour"))
        .agg(
            F.sum("n_part").cast("bigint").alias("n_events"),
            F.count(F.lit(1)).cast("bigint").alias("n_quarter_buckets"),
            F.round(F.sum("v_part"), 2).alias("total_value"),
        )
        .select(
            F.col("window.start").alias("hour_start"),
            "n_events",
            "n_quarter_buckets",
            "total_value",
        )
    )
    out = _run_to_table(hourly, "hs_stream_chained", "append")
    from hive_service_spark.catalog import load

    cutoff = load(spark, sf_dir, "events").agg(F.max("ts").alias("mx"))
    return (
        out.crossJoin(F.broadcast(cutoff))
        .where(F.col("hour_start") <= F.col("mx") - F.expr("INTERVAL 4 HOUR"))
        .select("hour_start", "n_events", "n_quarter_buckets", "total_value")
        .orderBy("hour_start")
    )


# ---------------------------------------------------------------------------
# stream-static dimension enrichment
# ---------------------------------------------------------------------------

_STATIC_ENRICH_ORACLE = """
WITH mx AS (SELECT MAX(ts) AS mx FROM events),
agg AS (
  SELECT time_bucket(INTERVAL 6 HOUR, e.ts) AS window_start,
         c.c_mktsegment AS segment,
         COUNT(*) AS n_events,
         CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_users,
         ROUND(SUM(e.value), 2) AS total_value
  FROM events e JOIN customer c ON e.user_id = c.c_custkey
  GROUP BY 1, 2
)
SELECT a.window_start, a.segment, a.n_events, a.n_users, a.total_value
FROM agg a CROSS JOIN mx
WHERE a.window_start <= mx.mx - INTERVAL 9 HOUR
"""


@query("stream_static_enrich", oracle=_STATIC_ENRICH_ORACLE)
def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static dimension enrichment — THE most common streaming
    topology: the event stream joins a slowly-changing dimension table
    (here customer, keyed by user id) and aggregates per dimension
    attribute. The static side is left UNHINTED: Spark re-plans the
    stream-static join every micro-batch with its normal size-based
    strategy choice, so a cache-sized dimension broadcasts and a
    billion-row one shuffle-joins — a forced F.broadcast here would be
    the same sf-scaled-frame OOM hazard the round-7 TPC-H purge
    removed (the dimension is customer, which grows with the corpus).
    The join itself keeps NO state (unlike stream-stream joins) — only
    the windowed aggregate downstream does; the per-batch re-read
    still picks up dimension updates between batches — the lookup-join
    semantics Hive users approximate with periodic map-join batch
    jobs.

    COUNT(DISTINCT user) is not incrementally plannable in streaming
    (it needs full per-window value state), so the standard two-level
    rewrite aggregates by (window, segment, user) first and counts rows
    per (window, segment) second — a chained stateful topology, hence
    the watermark + append mode + decided-horizon cutoff (same shape as
    stream_chained_windows: only windows the watermark has closed are
    emitted, and the oracle applies the identical cutoff)."""
    from hive_service_spark.catalog import load

    cust = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), F.col("c_mktsegment").alias("segment")
    )
    per_user = (
        _stream(spark, sf_dir)
        .withWatermark("ts", "2 hours")
        .join(cust, "user_id")
        .groupBy(F.window("ts", "6 hours"), "segment", "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_ev_u"),
            F.sum("value").alias("val_u"),
        )
    )
    agg = (
        per_user.groupBy(
            F.window(F.window_time("window"), "6 hours").alias("w2"), "segment"
        )
        .agg(
            F.sum("n_ev_u").cast("bigint").alias("n_events"),
            F.count(F.lit(1)).cast("bigint").alias("n_users"),
            F.round(F.sum("val_u"), 2).alias("total_value"),
        )
        .select(
            F.col("w2.start").alias("window_start"),
            "segment",
            "n_events",
            "n_users",
            "total_value",
        )
    )
    out = _run_to_table(agg, "hs_stream_static_enrich", "append")
    cutoff = load(spark, sf_dir, "events").agg(F.max("ts").alias("mx"))
    return (
        out.crossJoin(F.broadcast(cutoff))
        .where(F.col("window_start") <= F.col("mx") - F.expr("INTERVAL 9 HOUR"))
        .select("window_start", "segment", "n_events", "n_users", "total_value")
    )


# ---------------------------------------------------------------------------
# stateful streaming funnel (applyInPandasWithState)
# ---------------------------------------------------------------------------

from hive_service_spark.operators.sequence_analytics import (  # noqa: E402
    _FUNNEL_ORACLE,
    _FUNNEL_WINDOW_US,
)

# the streaming run shares the batch funnel's value oracle verbatim —
# the fold is prefix-composable, so the availableNow replay must land
# on exactly the batch answer
_STREAM_FUNNEL_ORACLE = _FUNNEL_ORACLE


# state layout for the stateful funnel: the min signup plus the
# candidate click/purchase timestamp sets (see _funnel_step)
FUNNEL_STATE_SCHEMA = (
    "t1 bigint, clicks array<bigint>, purchases array<bigint>"
)


# one-time-per-worker flag so the NoTimeout-harness fallback below is
# LOUD on first engagement instead of silent (round-10; the round-9
# bare `except Exception` could have masked a real engine error and
# let eviction/GC regress invisibly — the exact defect class round 9
# fixed)
_WM_FALLBACK_WARNED = False


def _wm_fallback_warn(what: str, exc: Exception) -> None:
    global _WM_FALLBACK_WARNED
    if not _WM_FALLBACK_WARNED:
        _WM_FALLBACK_WARNED = True
        import warnings

        warnings.warn(
            f"GroupState {what} unavailable ({exc!r}); running WITHOUT "
            "watermark eviction / event-time timeouts — expected only "
            "under a NoTimeout/no-watermark unit harness, NEVER in the "
            "registered stream_window_funnel query",
            RuntimeWarning,
            stacklevel=3,
        )


def _wm_us(state: GroupState) -> int:
    """Event-time watermark in MICROseconds, or 0 when the harness runs
    without one (the unit-test replays drive _funnel_step under
    NoTimeout with no watermark, where PySpark's GroupState raises
    PySparkRuntimeError CANNOT_WITHOUT on the accessor; the registered
    query always has a watermark and EventTimeTimeout, so eviction is
    live there). Round 10: ONLY that PySpark error is absorbed — and
    loudly, once per worker — any other exception propagates, so a
    real engine failure can no longer silently disable eviction."""
    from pyspark.errors import PySparkRuntimeError

    try:
        return state.getCurrentWatermarkMs() * 1000
    except PySparkRuntimeError as e:
        _wm_fallback_warn("watermark accessor", e)
        return 0


def _arm_event_timeout(state: GroupState, ts_ms: int) -> None:
    """GroupStateTimeout arm: a no-op under the NoTimeout unit harness
    (where PySpark raises PySparkRuntimeError — the ONLY absorbed
    error, warned once per worker), required under the registered
    query's EventTimeTimeout so signup-less users are garbage-collected
    once the watermark proves their candidates dead. Any other
    exception propagates (round 10 — see _wm_us)."""
    from pyspark.errors import PySparkRuntimeError

    try:
        state.setTimeoutTimestamp(ts_ms)
    except PySparkRuntimeError as e:
        _wm_fallback_warn("timeout arm", e)


def _funnel_step(key, pdfs, state: GroupState):
    """Per-user funnel state: min signup time + the candidate
    click/purchase timestamp SETS the earliest-chain answer could
    still need. The frontier is DERIVED from the sets each batch:

        t1 = min(signups)
        t2 = min(click c    : c > t1)
        t3 = min(purchase p : p > t2)

    Because each is a min over a set union, the fold is a commutative
    monoid — genuinely ORDER-INSENSITIVE across any micro-batch
    partitioning, including out-of-order arrival (a click/purchase
    landing in an earlier micro-batch than its signup is buffered as a
    candidate, not dropped; round-8 ADVICE fixed exactly that drop).

    State boundedness (round-9: now watermark-enforced, not just
    claimed). Dominance pruning: the chain thresholds t1/t2 only ever
    DECREASE as earlier events arrive, so any candidate strictly above
    the current pick is dominated forever and dropped. That alone
    leaves one hole (round-8 ADVICE): a user with NO signup yet keeps
    every click/purchase forever. Watermark-relative eviction closes
    it — with watermark W, every event still to arrive has event time
    >= W, so

      * a click c can newly qualify as t2 only via a signup t1' < c;
        if c <= W any future signup has t1' >= W >= c, impossible —
        a click c <= W that does not already qualify (t1 < 0 or
        c <= t1) is provably dead and evicted;
      * symmetrically, any future value of t2 is > W (it is some click
        c > t1' >= W), so a purchase p <= W with (t2 < 0 or p <= t2)
        can never satisfy p > t2 and is evicted.

    After eviction the state is {current picks} + {candidates newer
    than the watermark}: O(1) per user plus the disorder horizon, for
    EVERY user including never-converting clickers. A user whose state
    becomes vacuous (no signup, no surviving candidates) is identical
    to an absent user for every future event, so the state row is
    REMOVED outright; signup-less users with surviving candidates arm
    an event-time timeout at their newest candidate, at which point
    the watermark has proven everything dead and the timed-out state
    is dropped without emission."""
    if state.hasTimedOut:
        # fires only for signup-less users (see arm below) once the
        # watermark passed their newest candidate: every candidate is
        # now <= W with t1 < 0, i.e. provably dead — drop the state.
        # No emission: the user's last-emitted depth-0 row stands.
        # Defensive re-check of the arm invariant: Spark clears a
        # group's timeout on every invocation (so a user who later
        # signed up cannot carry a stale arm), but a signed-up user's
        # frontier must NEVER be dropped — verify t1 < 0 before
        # removing rather than trusting the engine contract.
        if state.exists and state.get[0] >= 0:
            return
        state.remove()
        return
    if state.exists:
        t1, clicks, purchases = state.get
        clicks = list(clicks or [])
        purchases = list(purchases or [])
    else:
        t1, clicks, purchases = -1, [], []
    for pdf in pdfs:
        for et, t in zip(pdf["event_type"], pdf["t"]):
            t = int(t)
            if et == "signup":
                t1 = t if t1 < 0 else min(t1, t)
            elif et == "click":
                clicks.append(t)
            elif et == "purchase":
                purchases.append(t)
    t2 = min((c for c in clicks if c > t1), default=-1) if t1 >= 0 else -1
    t3 = (
        min((p for p in purchases if p > t2), default=-1)
        if t2 >= 0
        else -1
    )
    # prune dominated candidates (> the current pick); keep everything
    # at or below it — a still-earlier signup/click arriving later can
    # requalify those
    clicks = sorted(c for c in set(clicks) if t2 < 0 or c <= t2)
    purchases = sorted(p for p in set(purchases) if t3 < 0 or p <= t3)
    # watermark-relative eviction (docstring proof): candidates at or
    # below the watermark survive only while they currently qualify
    wm = _wm_us(state)
    if wm > 0:
        clicks = [c for c in clicks if c > wm or 0 <= t1 < c]
        purchases = [p for p in purchases if p > wm or 0 <= t2 < p]
    if t1 < 0 and not clicks and not purchases:
        # vacuous state == absent state for every future event: GC it
        if state.exists:
            state.remove()
    else:
        state.update((t1, clicks, purchases))
        if t1 < 0:
            # signup-less user: everything dies once the watermark
            # passes the newest candidate — arm the timeout there
            # (candidates are micros; timeouts are epoch millis)
            newest = max(clicks + purchases)
            _arm_event_timeout(state, newest // 1000 + 1)
    depth = 0 if t1 < 0 else 1 if t2 < 0 else 2 if t3 < 0 else 3
    converted = 1 if t3 >= 0 and t3 - t1 <= _FUNNEL_WINDOW_US else 0
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "depth": [depth],
            "t1_us": [t1],
            "t2_us": [t2],
            "t3_us": [t3],
            "converted_7d": [converted],
        }
    )


@query("stream_window_funnel", oracle=_STREAM_FUNNEL_ORACLE)
def stream_window_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ordered funnel (seq_window_funnel) as a LIVE stateful
    streaming operator: per-user candidate sets in GroupState, the
    frontier derived per batch inside applyInPandasWithState — the
    real-time conversion tracker whose batch twin is three chained
    min-aggregates. Because the state fold is a commutative monoid
    (min signup + candidate-set unions; see _funnel_step), replaying
    the same events through ANY micro-batch partitioning — including
    out-of-order arrival, where a click/purchase lands in an earlier
    batch than its signup — converges on the identical final frontier,
    which is what lets the streaming run share the batch query's value
    oracle verbatim.

    Scale notes (round-9: the state bound is now ENFORCED, not a
    production note): the query runs with a 1-hour watermark and
    GroupStateTimeout.EventTimeTimeout. Per user the state after each
    batch is the current picks plus only candidates newer than the
    watermark (_funnel_step's eviction proof), so it is O(1) under
    event-time-ordered arrival and disorder-horizon-bounded otherwise
    — for EVERY user, including never-converting clickers (the
    round-8 unbounded-growth hole). Signup-less users are fully
    garbage-collected by the event-time timeout once the watermark
    passes their newest candidate; tests/test_streaming_soak.py pins
    flat state under a 20-micro-batch sustained-clicker replay.
    Update mode emits each user's frontier once per micro-batch that
    touches them; the LAST emission per user is the answer (the
    availableNow replay here is one batch — watermark 0 throughout, so
    eviction is a no-op and the run equals the batch answer directly).
    """
    src = (
        _stream(spark, sf_dir)
        .withWatermark("ts", "1 hour")
        .select(
            "user_id",
            "event_type",
            F.unix_micros("ts").alias("t"),
            "event_id",
            "ts",  # keep the watermark column in the plan
        )
    )
    out_schema = (
        "user_id bigint, depth bigint, t1_us bigint, t2_us bigint, "
        "t3_us bigint, converted_7d bigint"
    )
    result = src.groupBy("user_id").applyInPandasWithState(
        _funnel_step,
        outputStructType=out_schema,
        stateStructType=FUNNEL_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
    return _run_to_table(result, "hs_stream_funnel", "update")
