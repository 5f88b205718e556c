"""Row-sequence analytics — sessionization, MatchPath-style patterns,
Bloom-filter runtime pre-filtering.

Reference tie-ins (SURVEY.md):
- `MatchPath` PTF (§2.4, ql/udf/ptf/MatchPath — row-sequence pattern
  matching, the pre-MATCH_RECOGNIZE surface): covered here as
  window-function compositions (lag/lead + conditional cumsum), which
  is the scale-correct Spark expression for fixed patterns — one
  shuffle on the partition key, no per-row Python.
- `bloom_filter` / `in_bloom_filter` UDAF+UDF pair (§2.3: runtime
  semi-join filtering): built from first principles with md5-derived
  bit positions so the DuckDB oracle can verify the exact algorithm.

Scale notes: every query shuffles once on user_id (or the join key)
and computes per-partition window functions — the same discipline the
reference's PTFOperator applies per partition, minus its spill
container (Spark's UnsafeExternalSorter handles that).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from hive_service_spark.catalog import load
from hive_service_spark.registry import query

# --- batch sessionization (30-min inactivity gap) ---------------------------

_SESSION_ORACLE = """
WITH g AS (
  SELECT user_id, ts, value,
         CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   > INTERVAL 30 MINUTE
              OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS new_sess,
         event_id
  FROM events
),
s AS (
  SELECT user_id, ts, value,
         -- BIGINT cast: DuckDB SUM(int) yields HUGEINT, which its
         -- pandas path renders as float64 (vs Spark's int64)
         CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS session_no
  FROM g
)
SELECT user_id, session_no,
       COUNT(*) AS n_events,
       CAST(MIN(ts) AS TIMESTAMP) AS session_start,
       CAST(MAX(ts) AS TIMESTAMP) AS session_end,
       ROUND(SUM(value), 2) AS session_value
FROM s
GROUP BY user_id, session_no
ORDER BY user_id, session_no
"""


@query("seq_sessionize_batch", oracle=_SESSION_ORACLE)
def seq_sessionize_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization: a session breaks after 30 min of
    inactivity. session_no = running sum of is-new-session flags (lag +
    conditional cumsum) — the standard two-window formulation; both
    windows share ONE shuffle on user_id. At 100 TB user_id is the only
    partition key and per-user event counts are bounded, so no skew
    pathology; the streaming analog is stream_session_window."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # gap in MICROseconds (round-13 review): cast('long') truncates to
    # whole seconds while the oracle compares full-microsecond
    # intervals — a true gap in (1800, 1801)s with frac(t2) > frac(t1)
    # would start a session in DuckDB but not here. unix_micros is the
    # exact integer both engines agree on.
    gap = F.unix_micros(F.col("ts")) - F.lag(F.unix_micros(F.col("ts"))).over(w)
    new_sess = F.when(gap.isNull() | (gap > 1800 * 1_000_000), 1).otherwise(0)
    sess = ev.withColumn("new_sess", new_sess).withColumn(
        "session_no",
        F.sum("new_sess").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        sess.groupBy("user_id", "session_no")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.round(F.sum("value"), 2).alias("session_value"),
        )
        .orderBy("user_id", "session_no")
    )


# --- MatchPath-style pattern: view -> view -> purchase ----------------------

_MATCHPATH_FUNNEL_ORACLE = """
WITH o AS (
  SELECT user_id, ts, event_type, event_id,
         LEAD(event_type, 1) OVER w AS e1,
         LEAD(event_type, 2) OVER w AS e2,
         LEAD(ts, 2) OVER w AS ts2
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT user_id,
       CAST(ts AS TIMESTAMP) AS path_start,
       CAST(ts2 AS TIMESTAMP) AS path_end,
       COUNT(*) OVER (PARTITION BY user_id) AS n_paths_for_user
FROM o
WHERE event_type = 'view' AND e1 = 'view' AND e2 = 'purchase'
ORDER BY user_id, path_start
"""


@query("seq_matchpath_funnel", oracle=_MATCHPATH_FUNNEL_ORACLE)
def seq_matchpath_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MatchPath('view.view.purchase') analog: find every consecutive
    view->view->purchase run per user. The reference's MatchPath PTF
    walks each partition's row sequence with a symbol automaton
    (SURVEY.md §2.4); for a fixed pattern the equivalent is a LEAD
    window per symbol position — pure JVM, one shuffle, and the whole
    match pipeline stays in codegen. Arbitrary regex patterns would
    drop to applyInPandas per user partition."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    o = ev.select(
        "user_id",
        "ts",
        "event_type",
        F.lead("event_type", 1).over(w).alias("e1"),
        F.lead("event_type", 2).over(w).alias("e2"),
        F.lead("ts", 2).over(w).alias("ts2"),
    ).where(
        (F.col("event_type") == "view")
        & (F.col("e1") == "view")
        & (F.col("e2") == "purchase")
    )
    return (
        o.select(
            "user_id",
            F.col("ts").alias("path_start"),
            F.col("ts2").alias("path_end"),
            F.count(F.lit(1))
            .over(Window.partitionBy("user_id"))
            .alias("n_paths_for_user"),
        )
        .orderBy("user_id", "path_start")
    )


# --- Bloom-filter runtime semi-join pre-filter ------------------------------

_BLOOM_M = 4096  # bits
_BLOOM_K = 3  # hash functions


def _bloom_pos(col, i: int):
    """Bit position for hash i: md5-derived, engine-portable
    (same trick as llm.dedup)."""
    return (
        F.conv(F.substring(F.md5(F.concat(F.lit(f"b{i}_"), col)), 1, 8), 16, 10)
        .cast("bigint")
        % _BLOOM_M
    )



# The oracle proves the END RESULT equals a plain semi join — the bloom
# is a pure pre-filter whose false positives the real join removes.
_BLOOM_ORACLE = """
SELECT l_returnflag, COUNT(*) AS n_lines, ROUND(SUM(l_quantity), 2) AS qty
FROM lineitem
WHERE l_orderkey IN (
  SELECT o_orderkey FROM orders WHERE o_totalprice > 400000
)
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


@query("seq_bloom_semi_join", oracle=_BLOOM_ORACLE)
def seq_bloom_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime Bloom-filter pre-filtering ahead of a semi join — the
    reference's bloom_filter UDAF + in_bloom_filter UDF pattern
    (SURVEY.md §2.3), also what Spark's own runtime row-filters do
    internally. Build: K=3 md5-derived bit positions per build-side
    key, aggregated to one distinct-sorted position array, broadcast as
    a one-row frame. Probe: a lineitem row survives iff ALL K of its
    positions are set. The final exact semi join removes false
    positives, so the result (and the oracle) is exactly the plain semi
    join — while at 100 TB the probe filter drops most of the big side
    BEFORE the join shuffle, which is the entire point."""
    orders = load(spark, sf_dir, "orders").where(F.col("o_totalprice") > 400000)
    li = load(spark, sf_dir, "lineitem")
    # build side: every bit position set by any key, as one sorted array
    pos = None
    for i in range(_BLOOM_K):
        p = orders.select(_bloom_pos(F.col("o_orderkey"), i).alias("pos"))
        pos = p if pos is None else pos.unionAll(p)
    bloom = pos.agg(F.array_sort(F.collect_set("pos")).alias("bits"))
    # probe side: crossJoin the 1-row bloom (broadcast — no shuffle),
    # keep rows whose K positions are all present
    probe = li.crossJoin(F.broadcast(bloom))
    cond = None
    for i in range(_BLOOM_K):
        c = F.array_contains(
            F.col("bits"), _bloom_pos(F.col("l_orderkey"), i)
        )
        cond = c if cond is None else cond & c
    prefiltered = probe.where(cond).drop("bits")
    keys = orders.select("o_orderkey")
    exact = prefiltered.join(
        keys, prefiltered.l_orderkey == keys.o_orderkey, "left_semi"
    )
    return (
        exact.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.round(F.sum("l_quantity"), 2).alias("qty"),
        )
        .orderBy("l_returnflag")
    )


# ---------------------------------------------------------------------------
# cohort retention — weekly cohorts x activity offset
# ---------------------------------------------------------------------------

_COHORT_ORACLE = """
WITH weeks AS (
  SELECT user_id,
         CAST(date_trunc('week', ts) AS TIMESTAMP) AS wk
  FROM events
),
firsts AS (
  SELECT user_id, MIN(wk) AS cohort_week FROM weeks GROUP BY user_id
)
SELECT f.cohort_week,
       CAST(date_diff('day', f.cohort_week, w.wk) / 7 AS INT) AS week_offset,
       COUNT(DISTINCT w.user_id) AS n_active
FROM weeks w JOIN firsts f ON w.user_id = f.user_id
GROUP BY 1, 2
ORDER BY cohort_week, week_offset
"""


@query("seq_cohort_retention", oracle=_COHORT_ORACLE)
def seq_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users bucketed by the week of their first
    event (cohort), activity counted per week offset from the cohort —
    the standard retention triangle. Two shuffles: min-per-user (the
    cohort assignment, a partial-aggregated groupBy) and the final
    (cohort, offset) distinct-count; the cohort frame is small
    (one row per user) so its join back broadcasts per-partition at
    scale via AQE. Week truncation is Monday-start in both engines."""
    ev = load(spark, sf_dir, "events")
    weeks = ev.select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("wk")
    )
    firsts = weeks.groupBy("user_id").agg(F.min("wk").alias("cohort_week"))
    return (
        weeks.join(firsts, "user_id")
        .select(
            "user_id",
            "cohort_week",
            (F.datediff(F.col("wk"), F.col("cohort_week")) / 7)
            .cast("int")
            .alias("week_offset"),
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.count_distinct("user_id").alias("n_active"))
        .orderBy("cohort_week", "week_offset")
    )


# ---------------------------------------------------------------------------
# trailing z-score anomaly flags
# ---------------------------------------------------------------------------

_ZSCORE_ORACLE = """
WITH scored AS (
  SELECT event_type, value,
         AVG(value) OVER w AS mu,
         STDDEV_SAMP(value) OVER w AS sd
  FROM events
  WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
               ROWS BETWEEN 100 PRECEDING AND 1 PRECEDING)
)
SELECT event_type,
       COUNT(*) AS n_events,
       COUNT(*) FILTER (WHERE ROUND(sd, 6) > 0
                        AND ROUND(abs((value - mu) / sd), 6) > 3)
         AS n_anomalies
FROM scored
GROUP BY event_type
ORDER BY event_type
"""


@query("seq_zscore_anomalies", oracle=_ZSCORE_ORACLE)
def seq_zscore_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing z-score anomaly detection: each event scored against
    the mean/stddev of its type's previous 100 events (the frame ends
    at 1 PRECEDING so the point never scores itself). Per-type anomaly
    counts. DuckDB combines sliding AVG/STDDEV via segment trees while
    Spark re-accumulates each frame left-to-right; double addition is
    non-associative, so sd and z are rounded to 6 decimals on BOTH
    sides before the threshold compares (repo ROUND convention) —
    otherwise a z within a few ulps of 3.0, or an sd that is exactly 0
    in one engine and ~1e-16 in the other, flips n_anomalies. One
    sort-shuffle per type at scale; streaming analog is the watermarked
    aggregate in streaming/events.py."""
    ev = load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(-100, -1)
    )
    scored = ev.select(
        "event_type",
        "value",
        F.avg("value").over(w).alias("mu"),
        F.stddev_samp("value").over(w).alias("sd"),
    )
    z = F.round(F.abs((F.col("value") - F.col("mu")) / F.col("sd")), 6)
    sd_r = F.round(F.col("sd"), 6)
    return (
        scored.groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.count(F.when((sd_r > 0) & (z > 3), 1)).alias(
                "n_anomalies"
            ),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# gaps and islands: contiguous id runs per user
# ---------------------------------------------------------------------------

_ISLANDS_ORACLE = """
WITH tagged AS (
  SELECT user_id, event_id,
         event_id - ROW_NUMBER() OVER (PARTITION BY user_id
                                       ORDER BY event_id) AS grp
  FROM events
),
islands AS (
  SELECT user_id, grp,
         CAST(MIN(event_id) AS BIGINT) AS island_start,
         CAST(MAX(event_id) AS BIGINT) AS island_end,
         CAST(COUNT(*) AS BIGINT) AS island_len
  FROM tagged GROUP BY user_id, grp
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_islands,
       CAST(MAX(island_len) AS BIGINT) AS longest_island,
       CAST(SUM(island_len) AS BIGINT) AS n_events,
       CAST(MIN(island_start) AS BIGINT) AS first_event,
       CAST(MAX(island_end) AS BIGINT) AS last_event
FROM islands
GROUP BY user_id
"""


@query("seq_gaps_islands", oracle=_ISLANDS_ORACLE)
def seq_gaps_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: contiguous event_id runs per user via the
    classic id-minus-row_number grouping key (consecutive ids share
    the difference; any gap starts a new island) — the
    continuity/completeness audit shape (missed deliveries, sequence
    holes, retention streaks) that complements the time-gap
    sessionizer. Pure integer arithmetic end to end; the window
    partitions by user, so each history sorts locally within its hash
    partition — no global sort at any scale."""
    e = load(spark, sf_dir, "events").select("user_id", "event_id")
    w = Window.partitionBy("user_id").orderBy("event_id")
    tagged = e.withColumn(
        "grp", F.col("event_id") - F.row_number().over(w)
    )
    islands = tagged.groupBy("user_id", "grp").agg(
        F.min("event_id").cast("bigint").alias("island_start"),
        F.max("event_id").cast("bigint").alias("island_end"),
        F.count(F.lit(1)).cast("bigint").alias("island_len"),
    )
    return islands.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_islands"),
        F.max("island_len").cast("bigint").alias("longest_island"),
        F.sum("island_len").cast("bigint").alias("n_events"),
        F.min("island_start").cast("bigint").alias("first_event"),
        F.max("island_end").cast("bigint").alias("last_event"),
    )


# ---------------------------------------------------------------------------
# time-bucket gap-fill: LOCF + linear interpolation (hypertable family)
# ---------------------------------------------------------------------------

_BKT_SECONDS = 21600  # 6-hour buckets: ~120 per event_type on testdata

_GAPFILL_ORACLE = f"""
WITH obs0 AS (
  SELECT event_type,
         CAST(FLOOR(epoch(ts) / {_BKT_SECONDS}) AS BIGINT) AS bkt,
         CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS sum_c,
         COUNT(*) AS n
  FROM events GROUP BY 1, 2
),
obs AS (
  SELECT event_type, bkt, n,
         CAST(FLOOR(sum_c * 1.0 / n) AS BIGINT) AS v
  FROM obs0
),
grid AS (
  SELECT event_type, unnest(generate_series(mn, mx)) AS bkt
  FROM (SELECT event_type, MIN(bkt) AS mn, MAX(bkt) AS mx
        FROM obs GROUP BY event_type)
),
dense AS (
  SELECT g.event_type, g.bkt, o.v, o.n
  FROM grid g LEFT JOIN obs o USING (event_type, bkt)
),
win AS (
  SELECT event_type, bkt, v, n,
    LAST_VALUE(v IGNORE NULLS) OVER
      (PARTITION BY event_type ORDER BY bkt
       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
    LAST_VALUE(CASE WHEN v IS NOT NULL THEN bkt END IGNORE NULLS) OVER
      (PARTITION BY event_type ORDER BY bkt
       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pt,
    FIRST_VALUE(v IGNORE NULLS) OVER
      (PARTITION BY event_type ORDER BY bkt
       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
    FIRST_VALUE(CASE WHEN v IS NOT NULL THEN bkt END IGNORE NULLS) OVER
      (PARTITION BY event_type ORDER BY bkt
       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nt
  FROM dense
)
SELECT event_type, bkt,
  CAST(COALESCE(n, 0) AS BIGINT) AS n_obs,
  CAST(COALESCE(v, -1) AS BIGINT) AS obs_cents,
  CAST(pv AS BIGINT) AS locf_cents,
  CAST(CASE WHEN v IS NOT NULL THEN v * 1000
       ELSE CAST(FLOOR((pv * (nt - bkt) + nv * (bkt - pt)) * 1000.0
                       / (nt - pt)) AS BIGINT)
       END AS BIGINT) AS interp_mcents
FROM win
"""


@query("ts_gapfill_locf_interpolate", oracle=_GAPFILL_ORACLE)
def ts_gapfill_locf_interpolate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Time-bucket gap-fill with LOCF and linear interpolation — the
    hypertable continuous-aggregate repair trio (TimescaleDB's
    time_bucket_gapfill + locf() + interpolate(); nothing in Hive 2.3
    or Spark generates missing buckets natively). Per event_type,
    6-hour buckets aggregate avg value (exact integer cents, floored);
    missing buckets are materialized from a per-key bucket span
    (sequence + explode — the dense grid), then filled two ways:
    last-observation-carried-forward, and linear interpolation between
    the surrounding observed buckets. Every gap has both neighbors by
    construction (the grid spans each key's observed min..max), so the
    interpolation is total.

    Engine-exactness: per-row cents via ROUND(value*100) (testdata
    values are 2dp), per-bucket avg floored to integer cents,
    interpolation as FLOOR of an exact-integer rational x1000 — both
    engines divide identical <2^53 integers, so the doubles and their
    floors match bit-for-bit.

    100 TB reading: the fact scan aggregates map-side to one row per
    (key, bucket) BEFORE any shuffle; the dense grid is |keys| x
    |buckets| rows generated from a |keys|-row span frame (no scan);
    the fill windows are per-key sorted passes — the same shape as the
    engine's other cumulative windows. Buckets per key is bounded by
    retention (e.g. 4/day x 1y = 1460), so per-key window state is
    small regardless of corpus size; key count scales out across
    executors."""
    ev = load(spark, sf_dir, "events")
    bkt = F.floor(F.unix_timestamp("ts") / _BKT_SECONDS).cast("bigint")
    obs = (
        ev.groupBy("event_type", bkt.alias("bkt"))
        .agg(
            F.sum(F.round(F.col("value") * 100, 0).cast("bigint")).alias(
                "sum_c"
            ),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            "event_type",
            "bkt",
            "n",
            F.floor(F.col("sum_c") / F.col("n")).cast("bigint").alias("v"),
        )
    )
    grid = (
        obs.groupBy("event_type")
        .agg(F.min("bkt").alias("mn"), F.max("bkt").alias("mx"))
        .select(
            "event_type",
            F.explode(F.sequence("mn", "mx")).alias("bkt"),
        )
    )
    dense = grid.join(obs, ["event_type", "bkt"], "left")
    w_back = (
        Window.partitionBy("event_type")
        .orderBy("bkt")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_fwd = (
        Window.partitionBy("event_type")
        .orderBy("bkt")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    obs_bkt = F.when(F.col("v").isNotNull(), F.col("bkt"))
    pv = F.last("v", ignorenulls=True).over(w_back)
    pt = F.last(obs_bkt, ignorenulls=True).over(w_back)
    nv = F.first("v", ignorenulls=True).over(w_fwd)
    nt = F.first(obs_bkt, ignorenulls=True).over(w_fwd)
    interp = F.when(
        F.col("v").isNotNull(), F.col("v") * 1000
    ).otherwise(
        F.floor(
            (pv * (nt - F.col("bkt")) + nv * (F.col("bkt") - pt))
            * 1000.0
            / (nt - pt)
        ).cast("bigint")
    )
    return dense.select(
        "event_type",
        "bkt",
        F.coalesce(F.col("n"), F.lit(0)).cast("bigint").alias("n_obs"),
        F.coalesce(F.col("v"), F.lit(-1)).cast("bigint").alias("obs_cents"),
        pv.cast("bigint").alias("locf_cents"),
        interp.cast("bigint").alias("interp_mcents"),
    )


# ---------------------------------------------------------------------------
# time-weighted average over irregular samples (hypertable family)
# ---------------------------------------------------------------------------

_TWA_ORACLE = """
WITH ev AS (
  SELECT event_type,
         CAST(FLOOR(epoch(ts) / 86400) AS BIGINT) AS day_num,
         epoch_us(ts) AS t_us,
         CAST(FLOOR(epoch(ts)) AS BIGINT) AS t_s,
         CAST(ROUND(value * 100, 0) AS BIGINT) AS v_c,
         event_id
  FROM events
),
stepped AS (
  SELECT event_type, day_num, t_s, v_c,
         LEAD(t_s) OVER (PARTITION BY event_type, day_num
                         ORDER BY t_us, event_id) AS nt_s
  FROM ev
),
agg AS (
  SELECT event_type, day_num,
         COUNT(*) AS n_events,
         CAST(MAX(t_s) - MIN(t_s) AS BIGINT) AS duration_s,
         CAST(SUM(CASE WHEN nt_s IS NULL THEN 0
                       ELSE v_c * (nt_s - t_s) END) AS BIGINT) AS integral
  FROM stepped
  GROUP BY event_type, day_num
)
SELECT event_type, day_num,
       CAST(n_events AS BIGINT) AS n_events,
       duration_s,
       CAST(FLOOR(integral * 1000.0 / duration_s) AS BIGINT) AS twa_mcents
FROM agg
WHERE n_events >= 2 AND duration_s > 0
"""


@query("ts_time_weighted_avg", oracle=_TWA_ORACLE)
def ts_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average over irregularly-spaced samples — the
    hypertable aggregate (TimescaleDB's time_weight('LOCF')) that a
    plain AVG gets WRONG on irregular series (it overweights bursts:
    ten readings in a busy minute count 10x a reading that held for an
    hour). Per (event_type, day): each value holds until the next
    observation (LOCF step function), the integral is the exact sum of
    value x holding-time over the observed span, twa = integral /
    (last - first). The final observation of each day carries zero
    weight — the integral covers [t_first, t_last], TimescaleDB's
    observed-span semantics. Single-observation / zero-duration days
    are excluded (undefined twa) on BOTH engines.

    Engine-exactness: cents x whole-second holding times are exact
    BIGINTs with day-level sums < 2^53, so FLOOR(integral * 1000 /
    duration) divides identical doubles on both engines; ordering ties
    are broken by (microsecond ts, event_id) BEFORE the second-level
    truncation so the LEAD pairing is total and identical.

    100 TB reading: one fact scan; the step pairing is a per-(key,
    day) sorted window (state bounded by events-per-day) and the
    integral aggregates map-side on the same partitioning the window
    just produced — no second shuffle. The day grain bounds partition
    skew; a hot key salts by day automatically."""
    ev = load(spark, sf_dir, "events").select(
        "event_type",
        F.floor(F.unix_timestamp("ts") / 86400).cast("bigint").alias(
            "day_num"
        ),
        F.unix_micros("ts").alias("t_us"),
        F.unix_timestamp("ts").cast("bigint").alias("t_s"),
        F.round(F.col("value") * 100, 0).cast("bigint").alias("v_c"),
        "event_id",
    )
    w = Window.partitionBy("event_type", "day_num").orderBy(
        "t_us", "event_id"
    )
    stepped = ev.withColumn("nt_s", F.lead("t_s").over(w))
    agg = (
        stepped.groupBy("event_type", "day_num")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.max("t_s") - F.min("t_s")).cast("bigint").alias("duration_s"),
            F.sum(
                F.when(F.col("nt_s").isNull(), F.lit(0)).otherwise(
                    F.col("v_c") * (F.col("nt_s") - F.col("t_s"))
                )
            )
            .cast("bigint")
            .alias("integral"),
        )
    )
    return (
        agg.where((F.col("n_events") >= 2) & (F.col("duration_s") > 0))
        .select(
            "event_type",
            "day_num",
            F.col("n_events").cast("bigint").alias("n_events"),
            "duration_s",
            F.floor(F.col("integral") * 1000.0 / F.col("duration_s"))
            .cast("bigint")
            .alias("twa_mcents"),
        )
    )


# ---------------------------------------------------------------------------
# LTTB downsampling — largest-triangle-three-buckets (hypertable family)
# ---------------------------------------------------------------------------

_LTTB_ORACLE = """
WITH pts AS (
  SELECT event_type,
         CAST(FLOOR(epoch(ts) / 86400) AS BIGINT) AS day_num,
         epoch_us(ts) AS t_us,
         CAST(ROUND(value * 100, 0) AS BIGINT) AS v_c,
         event_id
  FROM events
),
rnk AS (
  SELECT *,
         ROW_NUMBER() OVER (PARTITION BY event_type, day_num
                            ORDER BY t_us, event_id) AS ra,
         ROW_NUMBER() OVER (PARTITION BY event_type, day_num
                            ORDER BY t_us DESC, event_id DESC) AS rd,
         COUNT(*) OVER (PARTITION BY event_type, day_num) AS nb
  FROM pts
),
bkt AS (
  SELECT event_type, day_num,
         MAX(CASE WHEN ra = 1 THEN t_us END) AS first_t,
         MAX(CASE WHEN ra = 1 THEN v_c END) AS first_v,
         MAX(CASE WHEN rd = 1 THEN t_us END) AS last_t,
         MAX(CASE WHEN rd = 1 THEN v_c END) AS last_v
  FROM rnk GROUP BY event_type, day_num
),
anch AS (
  -- anchors only from DAY-ADJACENT buckets: a gap-preceded/followed
  -- bucket is treated as an edge bucket, which also bounds
  -- |x0 - x2| < 3 days so the BIGINT cross product cannot overflow
  -- on sparse long-retention series
  SELECT event_type, day_num,
         CASE WHEN LAG(day_num) OVER w = day_num - 1
              THEN LAG(last_t) OVER w END AS x0,
         CASE WHEN LAG(day_num) OVER w = day_num - 1
              THEN LAG(last_v) OVER w END AS y0,
         CASE WHEN LEAD(day_num) OVER w = day_num + 1
              THEN LEAD(first_t) OVER w END AS x2,
         CASE WHEN LEAD(day_num) OVER w = day_num + 1
              THEN LEAD(first_v) OVER w END AS y2
  FROM bkt
  WINDOW w AS (PARTITION BY event_type ORDER BY day_num)
),
cand AS (
  SELECT r.event_type, r.day_num, r.t_us, r.v_c, r.event_id, r.nb,
         a.x0, a.y0, a.x2, a.y2,
         CASE WHEN a.x0 IS NOT NULL AND a.x2 IS NOT NULL THEN
           abs((a.x0 - a.x2) * (r.v_c - a.y0)
               - (a.x0 - r.t_us) * (a.y2 - a.y0))
         END AS area2
  FROM rnk r JOIN anch a
    ON r.event_type = a.event_type AND r.day_num = a.day_num
),
sel AS (
  SELECT *,
         ROW_NUMBER() OVER (PARTITION BY event_type, day_num ORDER BY
           CASE WHEN x0 IS NOT NULL AND x2 IS NOT NULL
                THEN -area2 ELSE 0 END,
           CASE WHEN x0 IS NOT NULL AND x2 IS NULL
                THEN -t_us ELSE t_us END,
           CASE WHEN x0 IS NOT NULL AND x2 IS NULL
                THEN -event_id ELSE event_id END) AS pick
  FROM cand
)
SELECT event_type, day_num,
       CAST(nb AS BIGINT) AS n_in_bucket,
       t_us AS sel_t_us,
       v_c AS sel_cents,
       CAST(COALESCE(area2, -1) AS BIGINT) AS area2
FROM sel WHERE pick = 1
ORDER BY event_type, day_num
"""


@query("ts_lttb_downsample", oracle=_LTTB_ORACLE)
def ts_lttb_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-Triangle-Three-Buckets downsampling (Steinarsson 2013;
    the hypertable/Grafana `lttb()` visual-fidelity reducer) — one
    representative point per (series, day bucket), chosen to maximize
    the triangle area against the neighboring buckets, so extremes and
    inflections survive where bucket-AVG flattens them. Nothing in
    Hive 2.3 or Spark has a downsampler; this closes the hypertable
    trio next to ts_gapfill_locf_interpolate / ts_time_weighted_avg.

    Deterministic parallel variant: classic LTTB anchors each bucket's
    triangle on the PREVIOUSLY SELECTED point — an inherently
    sequential chain. This implementation anchors on the previous
    bucket's LAST observed point and the next bucket's FIRST observed
    point (fixed, data-defined anchors), which decouples every bucket:
    selection becomes one window pass, embarrassingly parallel across
    buckets, at the cost of a bounded anchor offset from the
    sequential algorithm. First/last buckets keep the series'
    first/last point (the LTTB endpoint rule), and a bucket adjoining
    a GAP in the day grid is treated as an edge bucket too: anchors
    are taken only from day-adjacent buckets, never across a gap.

    Engine-exactness: timestamps in exact epoch micros, values in
    exact cents, so twice-the-triangle-area is a pure BIGINT cross
    product; the day-adjacent anchor rule makes |dt| < 3 days in us
    ~ 2.6e11 UNCONDITIONALLY (even on sparse series with year-long
    gaps), so with |dv| <= 5e4 cents the product is ~1.3e16 < 2^63 —
    no float enters the pipeline and no overflow is reachable; argmax
    ties break on (t_us, event_id), a total order.

    100 TB reading: the per-point pass shuffles once on (series,
    bucket) — per-bucket state is bounded by points-per-day; the
    bucket-anchor frame is one row per (series, bucket), its lag/lead
    window is a per-series pass over bucket counts (~365/series/year),
    and the anchor join re-uses the (series, bucket) partitioning the
    candidates already have. Output is |buckets| rows — the whole
    point: a 100 TB series renders from a downsample that never
    re-scans."""
    ev = load(spark, sf_dir, "events").select(
        "event_type",
        F.floor(F.unix_timestamp("ts") / 86400).cast("bigint").alias(
            "day_num"
        ),
        F.unix_micros("ts").alias("t_us"),
        F.round(F.col("value") * 100, 0).cast("bigint").alias("v_c"),
        "event_id",
    )
    w_a = Window.partitionBy("event_type", "day_num").orderBy(
        "t_us", "event_id"
    )
    w_d = Window.partitionBy("event_type", "day_num").orderBy(
        F.col("t_us").desc(), F.col("event_id").desc()
    )
    w_n = Window.partitionBy("event_type", "day_num")
    rnk = ev.select(
        "*",
        F.row_number().over(w_a).alias("ra"),
        F.row_number().over(w_d).alias("rd"),
        F.count(F.lit(1)).over(w_n).alias("nb"),
    )
    bkt = rnk.groupBy("event_type", "day_num").agg(
        F.max(F.when(F.col("ra") == 1, F.col("t_us"))).alias("first_t"),
        F.max(F.when(F.col("ra") == 1, F.col("v_c"))).alias("first_v"),
        F.max(F.when(F.col("rd") == 1, F.col("t_us"))).alias("last_t"),
        F.max(F.when(F.col("rd") == 1, F.col("v_c"))).alias("last_v"),
    )
    w_b = Window.partitionBy("event_type").orderBy("day_num")
    # anchors only from DAY-ADJACENT buckets (mirrors the oracle): a
    # bucket after a gap gets x0=NULL (first-point edge rule), one
    # before a gap gets x2=NULL (last-point edge rule) — and the
    # adjacency bound is what makes the no-overflow argument true on
    # sparse series (|x0 - x2| < 3 days ALWAYS, not just when every
    # day is observed; round-8 ADVICE fix)
    prev_adj = F.lag("day_num").over(w_b) == F.col("day_num") - 1
    next_adj = F.lead("day_num").over(w_b) == F.col("day_num") + 1
    anch = bkt.select(
        "event_type",
        "day_num",
        F.when(prev_adj, F.lag("last_t").over(w_b)).alias("x0"),
        F.when(prev_adj, F.lag("last_v").over(w_b)).alias("y0"),
        F.when(next_adj, F.lead("first_t").over(w_b)).alias("x2"),
        F.when(next_adj, F.lead("first_v").over(w_b)).alias("y2"),
    )
    cand = rnk.join(anch, ["event_type", "day_num"])
    interior = F.col("x0").isNotNull() & F.col("x2").isNotNull()
    last_edge = F.col("x0").isNotNull() & F.col("x2").isNull()
    area2 = F.when(
        interior,
        F.abs(
            (F.col("x0") - F.col("x2")) * (F.col("v_c") - F.col("y0"))
            - (F.col("x0") - F.col("t_us")) * (F.col("y2") - F.col("y0"))
        ),
    )
    scored = cand.select(
        "event_type",
        "day_num",
        "t_us",
        "v_c",
        "event_id",
        "nb",
        area2.alias("area2"),
        F.when(interior, -area2).otherwise(F.lit(0)).alias("k1"),
        F.when(last_edge, -F.col("t_us")).otherwise(F.col("t_us")).alias(
            "k2"
        ),
        F.when(last_edge, -F.col("event_id"))
        .otherwise(F.col("event_id"))
        .alias("k3"),
    )
    w_pick = Window.partitionBy("event_type", "day_num").orderBy(
        "k1", "k2", "k3"
    )
    return (
        scored.withColumn("pick", F.row_number().over(w_pick))
        .where(F.col("pick") == 1)
        .select(
            "event_type",
            "day_num",
            F.col("nb").cast("bigint").alias("n_in_bucket"),
            F.col("t_us").alias("sel_t_us"),
            F.col("v_c").alias("sel_cents"),
            F.coalesce(F.col("area2"), F.lit(-1))
            .cast("bigint")
            .alias("area2"),
        )
        .orderBy("event_type", "day_num")
    )


# ---------------------------------------------------------------------------
# ordered window funnel: signup -> click -> purchase
# ---------------------------------------------------------------------------

_FUNNEL_WINDOW_US = 7 * 86400 * 1000000  # conversion window: 7 days

# the window-funnel oracle — ALSO imported by streaming/events.py for
# stream_window_funnel (round-13 review: this name used to shadow the
# matchpath funnel's oracle above, now _MATCHPATH_FUNNEL_ORACLE, and
# the import silently depended on definition order)
_FUNNEL_ORACLE = f"""
WITH ev AS (
  SELECT user_id, event_type, epoch_us(ts) AS t
  FROM events
),
s1 AS (
  SELECT user_id, MIN(t) AS t1 FROM ev
  WHERE event_type = 'signup' GROUP BY user_id
),
s2 AS (
  SELECT e.user_id, MIN(e.t) AS t2
  FROM ev e JOIN s1 ON e.user_id = s1.user_id
  WHERE e.event_type = 'click' AND e.t > s1.t1
  GROUP BY e.user_id
),
s3 AS (
  SELECT e.user_id, MIN(e.t) AS t3
  FROM ev e JOIN s2 ON e.user_id = s2.user_id
  WHERE e.event_type = 'purchase' AND e.t > s2.t2
  GROUP BY e.user_id
)
SELECT u.user_id,
       CAST(CASE WHEN t1 IS NULL THEN 0
                 WHEN t2 IS NULL THEN 1
                 WHEN t3 IS NULL THEN 2
                 ELSE 3 END AS BIGINT) AS depth,
       COALESCE(t1, -1) AS t1_us,
       COALESCE(t2, -1) AS t2_us,
       COALESCE(t3, -1) AS t3_us,
       CAST(CASE WHEN t3 IS NOT NULL
                  AND t3 - t1 <= {_FUNNEL_WINDOW_US}
                 THEN 1 ELSE 0 END AS BIGINT) AS converted_7d
FROM (SELECT DISTINCT user_id FROM ev) u
LEFT JOIN s1 ON u.user_id = s1.user_id
LEFT JOIN s2 ON u.user_id = s2.user_id
LEFT JOIN s3 ON u.user_id = s3.user_id
"""


@query("seq_window_funnel", oracle=_FUNNEL_ORACLE)
def seq_window_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered event funnel (ClickHouse windowFunnel / Snowplow
    funnel-analysis shape — neither Hive 2.3 nor Spark has a funnel
    primitive): per user, the deepest strictly-ordered chain
    signup -> click -> purchase, where each step's timestamp is the
    EARLIEST occurrence strictly after the previous step (the greedy
    matching windowFunnel('strict_increase') computes), plus a 7-day
    conversion flag on the full chain.

    Each step is a filtered min-aggregate joined to the frontier of
    the previous step — step frames are one row per user, so the three
    chained joins all hash on user_id and every shuffle after the
    first carries |users| rows, not |events|. Greedy earliest-match is
    provably equivalent to "exists an ordered chain" (if any chain
    exists, the earliest-next-step chain exists), so this IS the
    funnel semantics, not an approximation. Timestamps compare in
    exact epoch micros; -1 sentinels keep the output null-free for
    the hash compare.

    100 TB reading: events shuffle once per step on user_id but the
    step filter (event_type = ...) prunes each pass to one type's
    rows map-side before the shuffle — with a type-partitioned or
    clustered layout each step scan prunes at the source. Funnel depth
    k costs k joins on the SAME key: a co-partitioned layout (or one
    repartition(user_id) reused via AQE) collapses them into local
    joins. Per-user state is four timestamps — no per-user event
    array is ever materialized (the collect_list-per-user alternative
    OOMs on power users; this shape cannot)."""
    ev = load(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("t")
    )
    s1 = (
        ev.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("t").alias("t1"))
    )
    s2 = (
        ev.where(F.col("event_type") == "click")
        .join(s1, "user_id")
        .where(F.col("t") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("t").alias("t2"))
    )
    s3 = (
        ev.where(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .where(F.col("t") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("t").alias("t3"))
    )
    users = ev.select("user_id").distinct()
    joined = (
        users.join(s1, "user_id", "left")
        .join(s2, "user_id", "left")
        .join(s3, "user_id", "left")
    )
    depth = (
        F.when(F.col("t1").isNull(), 0)
        .when(F.col("t2").isNull(), 1)
        .when(F.col("t3").isNull(), 2)
        .otherwise(3)
    )
    return joined.select(
        "user_id",
        depth.cast("bigint").alias("depth"),
        F.coalesce(F.col("t1"), F.lit(-1)).alias("t1_us"),
        F.coalesce(F.col("t2"), F.lit(-1)).alias("t2_us"),
        F.coalesce(F.col("t3"), F.lit(-1)).alias("t3_us"),
        F.when(
            F.col("t3").isNotNull()
            & (F.col("t3") - F.col("t1") <= _FUNNEL_WINDOW_US),
            1,
        )
        .otherwise(0)
        .cast("bigint")
        .alias("converted_7d"),
    )


# ---------------------------------------------------------------------------
# classical seasonal decomposition: trend + hour-of-day seasonal + residual
# ---------------------------------------------------------------------------

_DECOMP_ORACLE = """
WITH obs AS (
  SELECT event_type,
         CAST(FLOOR(epoch(ts) / 3600) AS BIGINT) AS hr,
         CAST(FLOOR(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) * 1.0
                    / COUNT(*)) AS BIGINT) AS v_c,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
),
trend AS (
  SELECT event_type, hr, v_c, n,
         CAST(FLOOR(SUM(v_c) OVER w * 1000.0
                    / COUNT(*) OVER w) AS BIGINT) AS trend_mc
  FROM obs
  WINDOW w AS (PARTITION BY event_type ORDER BY hr
               ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)
),
detr AS (
  SELECT *, v_c * 1000 - trend_mc AS detr_mc,
         hr % 24 AS hour_of_day
  FROM trend
),
seas AS (
  SELECT event_type, hour_of_day,
         CAST(FLOOR(SUM(detr_mc) * 1.0 / COUNT(*)) AS BIGINT)
           AS seasonal_mc
  FROM detr GROUP BY event_type, hour_of_day
)
SELECT d.event_type, d.hr, d.n, d.v_c AS obs_cents,
       d.trend_mc, s.seasonal_mc,
       d.detr_mc - s.seasonal_mc AS residual_mc
FROM detr d JOIN seas s
  ON d.event_type = s.event_type AND d.hour_of_day = s.hour_of_day
ORDER BY d.event_type, d.hr
"""


@query("ts_seasonal_decompose", oracle=_DECOMP_ORACLE)
def ts_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive seasonal decomposition (the statsmodels
    `seasonal_decompose` / Holt-Winters preprocessing shape): per
    series, observed = trend + seasonal + residual, with trend = a
    centered 25-hour moving average over hourly buckets, seasonal =
    the per-hour-of-day mean of the detrended series, residual = the
    exact remainder. The anomaly-detection baseline every metrics
    pipeline runs — nothing in Hive 2.3 or Spark decomposes a series.

    Engine-exactness: hourly buckets reduce to floored integer cents;
    trend is FLOOR of an exact-integer rational x1000 (sum and count
    over a ROWS frame); the detrended values are integer milli-cents,
    so the seasonal means and residuals stay exact BIGINTs — like
    ts_lttb_downsample, no float survives into any output column.

    100 TB reading: the fact scan pre-aggregates map-side to one row
    per (series, hour); the trend window is a per-series sorted pass
    with a 25-row frame; the seasonal aggregate keys on (series,
    hour-of-day) — 24 rows per series — and joins back by the same
    key. Every stage's state is bounded by buckets-per-series
    (retention-bounded), never by event count; series count scales
    out. Residual spikes stream straight into the z-score gate
    (seq_zscore_anomalies) downstream."""
    ev = load(spark, sf_dir, "events")
    obs = (
        ev.groupBy(
            "event_type",
            F.floor(F.unix_timestamp("ts") / 3600)
            .cast("bigint")
            .alias("hr"),
        )
        .agg(
            F.sum(
                F.round(F.col("value") * 100, 0).cast("bigint")
            ).alias("sum_c"),
            F.count(F.lit(1)).cast("bigint").alias("n"),
        )
        .select(
            "event_type",
            "hr",
            F.floor(F.col("sum_c") * 1.0 / F.col("n"))
            .cast("bigint")
            .alias("v_c"),
            "n",
        )
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("hr")
        .rowsBetween(-12, 12)
    )
    trend = obs.select(
        "*",
        F.floor(
            F.sum("v_c").over(w) * 1000.0 / F.count(F.lit(1)).over(w)
        )
        .cast("bigint")
        .alias("trend_mc"),
    )
    detr = trend.select(
        "*",
        (F.col("v_c") * 1000 - F.col("trend_mc")).alias("detr_mc"),
        (F.col("hr") % 24).alias("hour_of_day"),
    )
    seas = detr.groupBy("event_type", "hour_of_day").agg(
        F.floor(F.sum("detr_mc") * 1.0 / F.count(F.lit(1)))
        .cast("bigint")
        .alias("seasonal_mc")
    )
    return (
        detr.join(seas, ["event_type", "hour_of_day"])
        .select(
            "event_type",
            "hr",
            "n",
            F.col("v_c").alias("obs_cents"),
            "trend_mc",
            "seasonal_mc",
            (F.col("detr_mc") - F.col("seasonal_mc")).alias("residual_mc"),
        )
        .orderBy("event_type", "hr")
    )


# ---------------------------------------------------------------------------
# markov transition matrix + power-iteration stationary distribution
# ---------------------------------------------------------------------------

_MARKOV_ORACLE = """
WITH ordered AS (
  SELECT user_id, event_type,
         LAG(event_type) OVER (PARTITION BY user_id
                               ORDER BY epoch_us(ts), event_id)
           AS prev_type
  FROM events
),
trans AS (
  SELECT prev_type AS from_type, event_type AS to_type,
         CAST(COUNT(*) AS BIGINT) AS n_trans
  FROM ordered WHERE prev_type IS NOT NULL
  GROUP BY 1, 2
),
totals AS (
  SELECT from_type, CAST(SUM(n_trans) AS BIGINT) AS n_from
  FROM trans GROUP BY from_type
),
p AS (
  SELECT t.from_type, t.to_type, t.n_trans,
         CAST(FLOOR(1000000.0 * t.n_trans / tt.n_from) AS BIGINT)
           AS prob_q
  FROM trans t JOIN totals tt ON t.from_type = tt.from_type
),
states AS (SELECT DISTINCT from_type AS s FROM trans),
pi0 AS (
  SELECT s, CAST(FLOOR(1000000.0 / (SELECT COUNT(*) FROM states))
                 AS BIGINT) AS v
  FROM states
),
pi1 AS (
  SELECT p.to_type AS s,
         CAST(FLOOR(SUM(pi0.v * p.prob_q) / 1000000.0) AS BIGINT) AS v
  FROM pi0 JOIN p ON p.from_type = pi0.s
  GROUP BY p.to_type
),
pi2 AS (
  SELECT p.to_type AS s,
         CAST(FLOOR(SUM(pi1.v * p.prob_q) / 1000000.0) AS BIGINT) AS v
  FROM pi1 JOIN p ON p.from_type = pi1.s
  GROUP BY p.to_type
)
SELECT p.from_type, p.to_type, p.n_trans, p.prob_q,
       pi2.v AS from_stationary_q
FROM p JOIN pi2 ON pi2.s = p.from_type
ORDER BY p.from_type, p.to_type
"""


def _markov_quantized_matrix(ev: DataFrame) -> DataFrame:
    """ONE transition-matrix builder shared by seq_markov_transitions
    and seq_markov_capped (round-13 review: verbatim twin pipelines):
    per-user LAG pairing on (unix_micros(ts), event_id), global
    counts on the |states|^2-bounded key space, probabilities
    FLOOR-quantized to parts-per-million (exact integer rationals,
    bit-stable on both engines). Returns (from_type, to_type,
    n_trans, prob_q)."""
    w = Window.partitionBy("user_id").orderBy(
        F.unix_micros("ts"), "event_id"
    )
    ordered = ev.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    )
    trans = (
        ordered.where(F.col("prev_type").isNotNull())
        .groupBy(
            F.col("prev_type").alias("from_type"),
            F.col("event_type").alias("to_type"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_trans"))
    )
    totals = trans.groupBy("from_type").agg(
        F.sum("n_trans").cast("bigint").alias("n_from")
    )
    return trans.join(totals, "from_type").select(
        "from_type",
        "to_type",
        "n_trans",
        F.floor(F.lit(1000000.0) * F.col("n_trans") / F.col("n_from"))
        .cast("bigint")
        .alias("prob_q"),
    )


@query("seq_markov_transitions", oracle=_MARKOV_ORACLE)
def seq_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov model of user behavior: the event-type
    transition matrix (per-user LAG pairing, global counts) plus the
    chain's stationary distribution by two power iterations — the
    behavioral-modeling shape behind next-event prediction, journey
    analysis, and PageRank itself (same iteration, row-stochastic
    matrix). Neither Hive 2.3 nor Spark has a sequence-model surface.

    Engine-exactness: transition probabilities are FLOOR-quantized to
    parts-per-million (exact integer rationals), the power iterations
    multiply and floor exact integers, and integer sums are
    order-independent — the whole trajectory is bit-stable on both
    engines (the PageRank lesson: quantize BEFORE iterating, not
    after).

    100 TB reading: the LAG pairing is the standard per-user sorted
    window (state = one previous row); transition counting is a
    map-side-combined groupBy on a (|states|^2)-bounded key space, so
    the matrix frame is TINY regardless of corpus size — the power
    iterations run on |states|-row frames and cost nothing. One
    shuffle for the window, one for the counts; everything after is
    broadcast-sized."""
    ev = load(spark, sf_dir, "events")
    p = _markov_quantized_matrix(ev)
    states = p.select(F.col("from_type").alias("s")).distinct()
    n_states = states.count()  # |event types| — a tiny scalar
    pi = states.select(
        "s", F.lit(int(1000000.0 // n_states)).cast("bigint").alias("v")
    )
    for _ in range(2):
        pi = (
            pi.join(p, pi.s == p.from_type)
            .groupBy(F.col("to_type").alias("s2"))
            .agg(
                F.floor(F.sum(F.col("v") * F.col("prob_q")) / 1000000.0)
                .cast("bigint")
                .alias("v")
            )
            .select(F.col("s2").alias("s"), "v")
        )
    return (
        p.join(pi, pi.s == p.from_type)
        .select(
            "from_type",
            "to_type",
            "n_trans",
            "prob_q",
            F.col("v").alias("from_stationary_q"),
        )
        .orderBy("from_type", "to_type")
    )


# ---------------------------------------------------------------------------
# top user-journey paths: 3-step event trigrams
# ---------------------------------------------------------------------------

_PATHS_ORACLE = """
WITH ordered AS (
  SELECT user_id, event_type AS s3,
         LAG(event_type, 1) OVER w AS s2,
         LAG(event_type, 2) OVER w AS s1
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
),
paths AS (
  SELECT s1 || '>' || s2 || '>' || s3 AS path,
         CAST(COUNT(*) AS BIGINT) AS n_occurrences,
         CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
  FROM ordered WHERE s1 IS NOT NULL
  GROUP BY 1
)
SELECT path, n_occurrences, n_users,
       CAST(ROW_NUMBER() OVER (ORDER BY n_occurrences DESC, path)
            AS BIGINT) AS rnk
FROM paths
ORDER BY rnk LIMIT 20
"""


def _top_journey_trigrams(ev: DataFrame) -> DataFrame:
    """ONE trigram-path builder shared by seq_top_journey_paths and
    seq_journeys_capped (round-13 review: verbatim twin pipelines):
    two LAGs in one per-user sorted window pass produce every sliding
    trigram; counts aggregate on the |types|^3-bounded path key; top
    20 ranked by occurrences then path string."""
    w = Window.partitionBy("user_id").orderBy(
        F.unix_micros("ts"), "event_id"
    )
    ordered = ev.select(
        "user_id",
        F.col("event_type").alias("s3"),
        F.lag("event_type", 1).over(w).alias("s2"),
        F.lag("event_type", 2).over(w).alias("s1"),
    )
    paths = (
        ordered.where(F.col("s1").isNotNull())
        .select(
            F.concat_ws(">", "s1", "s2", "s3").alias("path"), "user_id"
        )
        .groupBy("path")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_occurrences"),
            F.count_distinct("user_id").cast("bigint").alias("n_users"),
        )
    )
    top = paths.orderBy(
        F.col("n_occurrences").desc(), F.col("path")
    ).limit(20)
    w_rank = Window.orderBy(F.col("n_occurrences").desc(), F.col("path"))
    return top.withColumn(
        "rnk", F.row_number().over(w_rank).cast("bigint")
    ).orderBy("rnk")


@query("seq_top_journey_paths", oracle=_PATHS_ORACLE)
def seq_top_journey_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top user-journey paths: the 3-step event-type trigrams users
    actually walk, ranked by occurrence (the Sankey/flow view product
    analytics builds; the multi-step complement of
    seq_markov_transitions' one-step matrix — a path count is a
    higher-order Markov cell, revealing sequences the first-order
    matrix factorizes away). Two LAGs in one per-user sorted window
    pass produce every sliding trigram; counts aggregate on the path
    key, whose cardinality is bounded by |types|^3 regardless of
    corpus size. Exact integers end to end; ties rank by path string
    for a total order.

    100 TB reading: one window shuffle (per-user sort, 2-row state),
    one bounded-key aggregation, and a top-20 TakeOrderedAndProject —
    the per-user window is the same pass sessionization already pays,
    so in a real pipeline both derive from one sorted scan."""
    return _top_journey_trigrams(load(spark, sf_dir, "events"))


# ---------------------------------------------------------------------------
# M4 downsampling: min/max/first/last per bucket (the other visual reducer)
# ---------------------------------------------------------------------------

_M4_ORACLE = """
WITH pts AS (
  SELECT event_type,
         CAST(FLOOR(epoch(ts) / 86400) AS BIGINT) AS day_num,
         epoch_us(ts) AS t_us,
         CAST(ROUND(value * 100, 0) AS BIGINT) AS v_c,
         event_id
  FROM events
),
rnk AS (
  SELECT *,
         ROW_NUMBER() OVER (PARTITION BY event_type, day_num
                            ORDER BY t_us, event_id) AS ra,
         ROW_NUMBER() OVER (PARTITION BY event_type, day_num
                            ORDER BY t_us DESC, event_id DESC) AS rd
  FROM pts
)
SELECT event_type, day_num,
       CAST(COUNT(*) AS BIGINT) AS n_points,
       CAST(MIN(v_c) AS BIGINT) AS min_cents,
       CAST(MAX(v_c) AS BIGINT) AS max_cents,
       CAST(MAX(CASE WHEN ra = 1 THEN v_c END) AS BIGINT) AS first_cents,
       CAST(MAX(CASE WHEN rd = 1 THEN v_c END) AS BIGINT) AS last_cents,
       CAST(MAX(CASE WHEN ra = 1 THEN t_us END) AS BIGINT) AS first_t_us,
       CAST(MAX(CASE WHEN rd = 1 THEN t_us END) AS BIGINT) AS last_t_us
FROM rnk
GROUP BY event_type, day_num
ORDER BY event_type, day_num
"""


@query("ts_m4_downsample", oracle=_M4_ORACLE)
def ts_m4_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4 downsampling (Jugel et al., VLDB 2014): per (series, day
    bucket) keep min, max, first and last — the four points that make
    a line chart pixel-exact at the target width, and the reducer
    time-series databases default to (LTTB's shape-preserving
    complement; ts_lttb_downsample picks ONE point per bucket by
    triangle area, M4 guarantees the rendered envelope). First/last
    resolve by (t_us, event_id) row numbers — a total order, so ties
    cannot flap engines — and everything is exact integer cents/
    micros.

    100 TB reading: one window pass per (series, bucket) for the
    first/last row numbers and one grouped aggregation on the same
    key — both map-side-combinable after the single sort-shuffle;
    output is 4 values x |buckets| regardless of input density. In a
    rollup hierarchy (raw -> day -> month) each level's M4 derives
    from the previous level's, so the raw scan happens once ever."""
    ev = load(spark, sf_dir, "events").select(
        "event_type",
        F.floor(F.unix_timestamp("ts") / 86400).cast("bigint").alias(
            "day_num"
        ),
        F.unix_micros("ts").alias("t_us"),
        F.round(F.col("value") * 100, 0).cast("bigint").alias("v_c"),
        "event_id",
    )
    w_a = Window.partitionBy("event_type", "day_num").orderBy(
        "t_us", "event_id"
    )
    w_d = Window.partitionBy("event_type", "day_num").orderBy(
        F.col("t_us").desc(), F.col("event_id").desc()
    )
    rnk = ev.select(
        "*",
        F.row_number().over(w_a).alias("ra"),
        F.row_number().over(w_d).alias("rd"),
    )
    return (
        rnk.groupBy("event_type", "day_num")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_points"),
            F.min("v_c").cast("bigint").alias("min_cents"),
            F.max("v_c").cast("bigint").alias("max_cents"),
            F.max(F.when(F.col("ra") == 1, F.col("v_c")))
            .cast("bigint")
            .alias("first_cents"),
            F.max(F.when(F.col("rd") == 1, F.col("v_c")))
            .cast("bigint")
            .alias("last_cents"),
            F.max(F.when(F.col("ra") == 1, F.col("t_us")))
            .cast("bigint")
            .alias("first_t_us"),
            F.max(F.when(F.col("rd") == 1, F.col("t_us")))
            .cast("bigint")
            .alias("last_t_us"),
        )
        .orderBy("event_type", "day_num")
    )


# ---------------------------------------------------------------------------
# MAD-based robust anomaly flags (the z-score gate's robust sibling)
# ---------------------------------------------------------------------------

# Hampel convention: flag |v - med| > 3.5 * MAD. With adev2x = 2|v-med|
# and mad4x = 4*MAD, that is exactly 4*adev2x > _MAD_K2X*mad4x (K2X = 7
# = 2*3.5) — a pure integer cross-multiplication.
_MAD_K2X = 7

_MAD_ORACLE = """
WITH pts AS (
  SELECT event_type,
         CAST(ROUND(value * 100, 0) AS BIGINT) AS v_c,
         event_id
  FROM events
),
ranked AS (
  SELECT *,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY v_c, event_id) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM pts
),
med AS (  -- median x2 = lower-middle + upper-middle order statistic;
          -- TWO separate terms so an odd count doubles its single
          -- middle row instead of counting it once
  SELECT event_type,
         CAST(SUM(CASE WHEN rn = (n + 1) // 2 THEN v_c END)
              + SUM(CASE WHEN rn = (n + 2) // 2 THEN v_c END)
              AS BIGINT) AS med2x
  FROM ranked GROUP BY event_type
),
dev AS (
  SELECT p.event_type, p.v_c, p.event_id,
         abs(2 * p.v_c - m.med2x) AS adev2x
  FROM pts p JOIN med m ON p.event_type = m.event_type
),
dranked AS (
  SELECT *,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY adev2x, event_id) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM dev
),
mad AS (  -- MAD x4 = lower-middle + upper-middle doubled deviation
  SELECT event_type,
         CAST(SUM(CASE WHEN rn = (n + 1) // 2 THEN adev2x END)
              + SUM(CASE WHEN rn = (n + 2) // 2 THEN adev2x END)
              AS BIGINT) AS mad4x
  FROM dranked GROUP BY event_type
)
SELECT d.event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(MAX(m.med2x) AS BIGINT) AS med2x,
       CAST(MAX(m2.mad4x) AS BIGINT) AS mad4x,
       CAST(COUNT(*) FILTER (WHERE 4 * d.adev2x > {k} * m2.mad4x)
            AS BIGINT) AS n_anomalies
FROM dev d
JOIN med m ON d.event_type = m.event_type
JOIN mad m2 ON d.event_type = m2.event_type
GROUP BY d.event_type
ORDER BY d.event_type
""".format(k=_MAD_K2X)


@query("ts_mad_robust_anomalies", oracle=_MAD_ORACLE)
def ts_mad_robust_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust anomaly detection by median absolute deviation — the
    outlier gate that does NOT move when the outliers do (mean/stddev
    z-scores (seq_zscore_anomalies) are themselves dragged by the
    anomalies they hunt; median/MAD have a 50% breakdown point — the
    Hampel-filter family). Flags |v - median| > 3.5 * MAD, expressed
    entirely in integers: median x2 = the sum of the two middle order
    statistics (exact for even AND odd counts, no .5 ever
    materializes), MAD x4 likewise over doubled deviations, and the
    flag is the cross-multiplied compare 4*adev2x > 7*mad4x — no
    division or float appears anywhere in the pipeline.

    100 TB reading: two rank passes per series (value order, then
    deviation order) — each one sort-shuffle on the series key, the
    same cost class as any per-key window — plus bounded-key joins of
    the 1-row-per-series median/MAD frames, which broadcast. The
    rank-based exact median avoids both collect_list-per-group (OOM
    on hot series) and approximate sketches (engine-divergent)."""
    pts = load(spark, sf_dir, "events").select(
        "event_type",
        F.round(F.col("value") * 100, 0).cast("bigint").alias("v_c"),
        "event_id",
    )

    def _med2x(df: DataFrame, col: str, out: str) -> DataFrame:
        w = Window.partitionBy("event_type").orderBy(col, "event_id")
        wn = Window.partitionBy("event_type")
        ranked = df.select(
            "event_type",
            F.col(col),
            F.row_number().over(w).alias("rn"),
            F.count(F.lit(1)).over(wn).alias("n"),
        )
        lo = F.col("rn") == F.floor((F.col("n") + 1) / 2)
        hi = F.col("rn") == F.floor((F.col("n") + 2) / 2)
        # two separate terms: an odd count's single middle row must
        # count TWICE (a combined OR-term counted it once, silently
        # halving med2x for odd-sized series — caught by the
        # hypothesis property test)
        return ranked.groupBy("event_type").agg(
            (
                F.sum(F.when(lo, F.col(col)))
                + F.sum(F.when(hi, F.col(col)))
            )
            .cast("bigint")
            .alias(out)
        )

    med = _med2x(pts, "v_c", "med2x")
    dev = pts.join(F.broadcast(med), "event_type").select(
        "event_type",
        "v_c",
        "event_id",
        F.abs(2 * F.col("v_c") - F.col("med2x")).alias("adev2x"),
    )
    mad = _med2x(dev, "adev2x", "mad4x")
    flagged = dev.join(F.broadcast(mad), "event_type")
    return (
        flagged.join(F.broadcast(med), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.max("med2x").cast("bigint").alias("med2x"),
            F.max("mad4x").cast("bigint").alias("mad4x"),
            F.count(
                F.when(
                    4 * F.col("adev2x") > _MAD_K2X * F.col("mad4x"), 1
                )
            )
            .cast("bigint")
            .alias("n_anomalies"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# CUSUM change-point detection (Page 1954) — exact-integer two-sided CUSUM
# ---------------------------------------------------------------------------

_CUSUM_ORACLE = """
WITH daily AS (
  SELECT event_type,
         CAST(FLOOR(epoch(ts) / 86400) AS BIGINT) AS day_num,
         CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS x_c
  FROM events GROUP BY 1, 2
),
st AS (
  SELECT *,
         CAST(COUNT(*) OVER w AS BIGINT) AS n,
         CAST(SUM(x_c) OVER w AS BIGINT) AS tot
  FROM daily WINDOW w AS (PARTITION BY event_type)
),
dv AS (
  SELECT *, n * x_c - tot AS dev FROM st
),
ad AS (
  SELECT *, CAST(SUM(ABS(dev)) OVER (PARTITION BY event_type) AS BIGINT) AS a
  FROM dv
),
cs AS (
  SELECT *,
         CAST(SUM(2 * n * dev - a) OVER w AS BIGINT) AS cp,
         CAST(SUM(2 * n * dev + a) OVER w AS BIGINT) AS cn
  FROM ad
  WINDOW w AS (PARTITION BY event_type ORDER BY day_num
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
run AS (
  SELECT *,
         LEAST(CAST(0 AS BIGINT), CAST(MIN(cp) OVER w AS BIGINT)) AS mn,
         GREATEST(CAST(0 AS BIGINT), CAST(MAX(cn) OVER w AS BIGINT)) AS mx
  FROM cs
  WINDOW w AS (PARTITION BY event_type ORDER BY day_num
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT event_type, day_num, x_c,
       CAST(cp - mn AS BIGINT) AS s_pos,
       CAST(mx - cn AS BIGINT) AS s_neg,
       CAST(CASE WHEN cp - mn > 8 * a THEN 1 ELSE 0 END AS INT) AS flag_up,
       CAST(CASE WHEN mx - cn > 8 * a THEN 1 ELSE 0 END AS INT) AS flag_down
FROM run
ORDER BY event_type, day_num
"""


@query("ts_cusum_changepoint", oracle=_CUSUM_ORACLE)
def ts_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sided CUSUM change-point detection (Page, Biometrika 1954)
    over the per-type daily revenue series — the sequential level-shift
    detector that complements the pointwise outlier gates (z-score,
    MAD): a CUSUM accumulates small sustained drifts that no single
    point would flag.

    The textbook recursion S+_t = max(0, S+_{t-1} + (x_t - mu - k)) is
    not a plain window aggregate, but it unrolls exactly to
    ``C_t - min(0, min_{j<=t} C_j)`` with C the running cumsum of the
    slack-adjusted deviations — two stock window functions (SUM and MIN
    over UNBOUNDED PRECEDING), no recursion and no Python. Everything
    stays in integers via the house cross-multiplication discipline:
    dev = n*x - total (units n*cents, no mean division), slack
    k = half the mean absolute deviation folds in as 2n*dev -/+ A with
    A = sum(|dev|), and the alarm threshold h = 4 MAD-means compares
    S against 8*A — no float anywhere, so Spark and DuckDB agree to
    the last bit. Magnitude bound: |cumsum| <= 2*days*A <=
    2*days^2*n*max_daily_cents; at days=365, n=365 and $10M/day that
    is ~5e17 < 2^63 (a multi-decade hypertable would bucket per series
    epoch before this, as the reference's windowing spec sections
    partitions).

    100 TB reading: billions of raw events reduce to |types| x |days|
    rows in ONE map-side-combined aggregate before any window; the
    per-series windows then shuffle only that bounded frame. The same
    shape as the reference's PTFOperator over a pre-reduced input
    (SURVEY §2.4) — the scan dominates, the analytics are free."""
    daily = (
        load(spark, sf_dir, "events")
        .select(
            "event_type",
            F.floor(F.unix_timestamp("ts") / 86400)
            .cast("bigint")
            .alias("day_num"),
            F.round(F.col("value") * 100, 0).cast("bigint").alias("v_c"),
        )
        .groupBy("event_type", "day_num")
        .agg(F.sum("v_c").cast("bigint").alias("x_c"))
    )
    wt = Window.partitionBy("event_type")
    st = daily.select(
        "*",
        F.count(F.lit(1)).over(wt).cast("bigint").alias("n"),
        F.sum("x_c").over(wt).cast("bigint").alias("tot"),
    )
    dv = st.select("*", (F.col("n") * F.col("x_c") - F.col("tot")).alias("dev"))
    ad = dv.select(
        "*", F.sum(F.abs("dev")).over(wt).cast("bigint").alias("a")
    )
    wo = (
        Window.partitionBy("event_type")
        .orderBy("day_num")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cs = ad.select(
        "*",
        F.sum(2 * F.col("n") * F.col("dev") - F.col("a"))
        .over(wo)
        .cast("bigint")
        .alias("cp"),
        F.sum(2 * F.col("n") * F.col("dev") + F.col("a"))
        .over(wo)
        .cast("bigint")
        .alias("cn"),
    )
    run = cs.select(
        "*",
        F.least(F.lit(0).cast("bigint"), F.min("cp").over(wo)).alias("mn"),
        F.greatest(F.lit(0).cast("bigint"), F.max("cn").over(wo)).alias("mx"),
    )
    s_pos = F.col("cp") - F.col("mn")
    s_neg = F.col("mx") - F.col("cn")
    return run.select(
        "event_type",
        "day_num",
        "x_c",
        s_pos.cast("bigint").alias("s_pos"),
        s_neg.cast("bigint").alias("s_neg"),
        F.when(s_pos > 8 * F.col("a"), 1).otherwise(0).cast("int").alias(
            "flag_up"
        ),
        F.when(s_neg > 8 * F.col("a"), 1).otherwise(0).cast("int").alias(
            "flag_down"
        ),
    ).orderBy("event_type", "day_num")


# ---------------------------------------------------------------------------
# Multi-touch attribution: clicks credited to the next purchase
# ---------------------------------------------------------------------------

_ATTRIB_ORACLE = """
WITH ev AS (
  SELECT user_id, event_id, event_type, ts,
         epoch_us(ts) AS t_us,
         CAST(ROUND(value * 100, 0) AS BIGINT) AS v_c,
         CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              OVER (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS pcnt
  FROM events
),
clicks AS (
  SELECT user_id, pcnt + 1 AS idx, ts, t_us
  FROM ev WHERE event_type = 'click'
),
purchases AS (
  SELECT user_id, pcnt AS idx, event_id, t_us, v_c
  FROM ev WHERE event_type = 'purchase'
)
SELECT p.user_id,
       p.event_id AS purchase_id,
       CAST(MAX(p.v_c) AS BIGINT) AS purchase_cents,
       CAST(COUNT(*) AS BIGINT) AS n_clicks,
       CAST((100 * MAX(p.v_c)) // COUNT(*) AS BIGINT) AS linear_credit_cc,
       MIN(c.ts) AS first_click_ts,
       MAX(c.ts) AS last_click_ts
FROM purchases p
JOIN clicks c ON p.user_id = c.user_id AND p.idx = c.idx
WHERE p.t_us - c.t_us <= 604800000000
GROUP BY p.user_id, p.event_id
ORDER BY p.user_id, purchase_id
"""


def _attribution_pipeline(base: DataFrame, capped: bool) -> DataFrame:
    """ONE multi-touch attribution pipeline shared by
    seq_attribution_credit and seq_attribution_capped (round-13
    review: two verbatim ~40-line copies meant a semantics fix — the
    7-day predicate, the credit split — had to be remembered twice).
    ``base`` carries (user_id, event_id, event_type, ts, value) plus
    ``user_capped`` when ``capped``; the pcnt window rides whatever
    user_id sort-shuffle the caller's input already established."""
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    extra = ["user_capped"] if capped else []
    ev = base.select(
        "user_id",
        "event_id",
        "event_type",
        "ts",
        *extra,
        F.unix_micros("ts").alias("t_us"),
        F.round(F.col("value") * 100, 0).cast("bigint").alias("v_c"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .over(w)
        .cast("bigint")
        .alias("pcnt"),
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id",
        (F.col("pcnt") + 1).alias("idx"),
        F.col("ts").alias("c_ts"),
        F.col("t_us").alias("c_us"),
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("pcnt").alias("idx"),
        F.col("event_id").alias("purchase_id"),
        F.col("t_us").alias("p_us"),
        F.col("v_c").alias("p_c"),
        *extra,
    )
    aggs = [
        F.max("p_c").cast("bigint").alias("purchase_cents"),
        F.count(F.lit(1)).cast("bigint").alias("n_clicks"),
        F.expr("CAST((100 * MAX(p_c)) DIV COUNT(*) AS BIGINT)").alias(
            "linear_credit_cc"
        ),
        F.min("c_ts").alias("first_click_ts"),
        F.max("c_ts").alias("last_click_ts"),
    ]
    if capped:
        aggs.append(F.max("user_capped").alias("user_capped"))
    return (
        purchases.join(clicks, ["user_id", "idx"])
        .where(F.col("p_us") - F.col("c_us") <= 604800000000)
        .groupBy("user_id", "purchase_id")
        .agg(*aggs)
        .orderBy("user_id", "purchase_id")
    )


@query("seq_attribution_credit", oracle=_ATTRIB_ORACLE)
def seq_attribution_credit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-touch purchase attribution: every click is credited to the
    NEXT purchase of the same user (within a 7-day lookback), and each
    purchase reports its attributed click count, the first-touch and
    last-touch click timestamps, and the exact linear credit share in
    centi-cents (integer floor division — no float). The standard
    marketing-analytics companion to the funnel/journey family
    (seq_window_funnel, seq_top_journey_paths).

    The sequence logic is ONE running-count window: pcnt = purchases
    seen so far in (ts, event_id) order. A click's target purchase is
    pcnt + 1 (purchases strictly before it); a purchase's own index is
    its inclusive pcnt. Attribution then becomes a plain EQUI-join on
    (user_id, idx) — never a range join, never a per-user explode; the
    7-day lookback is a residual predicate on exact microsecond
    deltas (unix_micros both engines, no fractional-second drift).

    100 TB reading: one sort-shuffle on user_id for the window, one
    shuffle on the (user, idx) join key; per-key fan-in is bounded by
    clicks-per-purchase-cycle, so no key is hotter than one user's
    inter-purchase click burst. Same partition discipline as the
    reference's PTFOperator + MapJoin pipeline (SURVEY §2.4/§2.5)."""
    return _attribution_pipeline(
        load(spark, sf_dir, "events"), capped=False
    )


# --- capped sessionization: the hot-key budget made first-class -------------


def _read_user_event_cap() -> int:
    """Per-user event budget for the capped sequence operators — the
    SCALE.md hot-key section's "documented per-user cap", shipped as
    code. Overridable via SPARK_GRAFT_USER_EVENT_CAP (a pipeline tunes
    it to its bot-traffic threshold); read ONCE at import so the Spark
    operators and their baked oracle SQL can never disagree on N. A
    malformed value must surface as a configuration error naming the
    knob (the SPARK_GRAFT_GRAPH_BC_NODES convention, round-8
    ADVICE)."""
    import os

    raw = os.environ.get("SPARK_GRAFT_USER_EVENT_CAP")
    if raw is None:
        return 48
    try:
        v = int(raw)
    except ValueError:
        raise ValueError(
            "SPARK_GRAFT_USER_EVENT_CAP must be an integer per-user "
            f"event budget, got {raw!r}"
        ) from None
    if v < 1:
        raise ValueError(
            "SPARK_GRAFT_USER_EVENT_CAP must be >= 1 (a budget of "
            f"{v} would drop every event)"
        )
    return v


_USER_EVENT_CAP = _read_user_event_cap()


def capped_user_prefix(
    df: DataFrame,
    n: int = _USER_EVENT_CAP,
    key: str = "user_id",
    # str names or direction-aware Columns (round 12: npath_sql passes
    # F.expr(e).desc() keys so a DESC walk budgets the LATEST n rows)
    order_cols: tuple = ("ts", "event_id"),
) -> DataFrame:
    """The per-user event budget as a REUSABLE pre-pass (round 10 —
    factored out of seq_sessionize_capped so every hot-key-exposed
    sequence operator can run capped): keep each key's EARLIEST n rows
    (deterministic by ``order_cols``) and stamp every surviving row
    with a ``user_capped`` 0/1 flag (1 = the key had more than n rows,
    i.e. its tail was truncated — the signal a bot-filtering pipeline
    alerts on).

    Scale reading: row_number and the per-key count share ONE
    hash-partitioned exchange on the key (Catalyst reuses it across
    the two Window nodes), and this single narrow pass is the only
    place a hot key is ever wider than n rows — every downstream
    per-key window/group (sessionize, matchpath, markov, attribution)
    sees at most n rows per key, which converts the unsplittable-hot-
    window-partition straggler (SCALE.md skew table) into a hard
    bound. The capping window itself still walks the hot key's full
    sequence once; that cost is the floor any per-key-ORDER semantics
    pays."""
    w = Window.partitionBy(key).orderBy(*order_cols)
    wu = Window.partitionBy(key)
    return (
        df.select(
            "*",
            F.row_number().over(w).alias("_cap_rn"),
            F.count(F.lit(1)).over(wu).alias("_cap_n"),
        )
        .where(F.col("_cap_rn") <= n)
        .withColumn(
            "user_capped",
            F.when(F.col("_cap_n") > n, 1).otherwise(0).cast("bigint"),
        )
        .drop("_cap_rn", "_cap_n")
    )

_SESSION_CAPPED_ORACLE = f"""
WITH r AS (
  SELECT user_id, ts, value, event_id,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS rn,
         COUNT(*) OVER (PARTITION BY user_id) AS n_total
  FROM events
),
c AS (SELECT * FROM r WHERE rn <= {_USER_EVENT_CAP}),
g AS (
  SELECT user_id, ts, value, n_total,
         CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   > INTERVAL 30 MINUTE
              OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS new_sess,
         event_id
  FROM c
),
s AS (
  SELECT user_id, ts, value, n_total,
         CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS session_no
  FROM g
)
SELECT user_id, session_no,
       COUNT(*) AS n_events,
       CAST(MIN(ts) AS TIMESTAMP) AS session_start,
       CAST(MAX(ts) AS TIMESTAMP) AS session_end,
       ROUND(SUM(value), 2) AS session_value,
       CAST(MAX(CASE WHEN n_total > {_USER_EVENT_CAP} THEN 1 ELSE 0 END)
            AS BIGINT) AS user_capped
FROM s
GROUP BY user_id, session_no
ORDER BY user_id, session_no
"""


@query("seq_sessionize_capped", oracle=_SESSION_CAPPED_ORACLE)
def seq_sessionize_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization under a PER-USER EVENT BUDGET — the hot-key cap
    the SCALE.md skew section documents as the production mitigation
    for power-law users, shipped as a first-class operator instead of
    a footnote: each user keeps only their EARLIEST N events (N = 48
    here; deterministic by (ts, event_id)), sessions are built over
    the surviving prefix, and every emitted session carries a
    user_capped flag so downstream consumers know the user's tail was
    truncated (bot-filtering pipelines alert on exactly that flag).

    Scale reading: the cap is one row_number + one windowed count on
    the SAME single user_id sort-shuffle the sessionizer already
    needs — no extra exchange — and it hard-bounds what every
    downstream per-user pass (here: the lag/cumsum session windows
    and the session aggregate) can see from any one key. The capping
    pass itself still walks the hot user's full sequence once (a
    window partition is unsplittable — the measured cost of that is
    SCALE.md's skew table); what the budget buys is that ONE narrow
    single-column pass is the only place the hot key is ever larger
    than N rows. Round 10: the capping pass is the shared
    capped_user_prefix helper, reused by the capped matchpath /
    markov / attribution variants."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    capped = capped_user_prefix(
        ev.select("user_id", "ts", "value", "event_id")
    )
    # gap in MICROseconds (round-13 review): cast('long') truncates to
    # whole seconds while the oracle compares full-microsecond
    # intervals — a true gap in (1800, 1801)s with frac(t2) > frac(t1)
    # would start a session in DuckDB but not here. unix_micros is the
    # exact integer both engines agree on.
    gap = F.unix_micros(F.col("ts")) - F.lag(F.unix_micros(F.col("ts"))).over(w)
    new_sess = F.when(gap.isNull() | (gap > 1800 * 1_000_000), 1).otherwise(0)
    sess = capped.withColumn("new_sess", new_sess).withColumn(
        "session_no",
        F.sum("new_sess").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        sess.groupBy("user_id", "session_no")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.round(F.sum("value"), 2).alias("session_value"),
            F.max("user_capped").cast("bigint").alias("user_capped"),
        )
        .orderBy("user_id", "session_no")
    )

# --- capped variants of the worst hot-key operators (round 10) --------------
# SCALE.md's skew table shows the window-partition operators
# (matchpath 1.48-1.64x, attribution 1.43x at 10% ownership) pay the
# unsplittable-hot-partition straggler with NO in-code recourse; these
# variants run the identical semantics over capped_user_prefix's
# earliest-48 budget, turning the documented mitigation into shipped,
# value-oracled operators. Reference surface: the same PTF family
# (hive-exec-2.3.10-core.jar!ql/udf/ptf/MatchPath.class and
# ql/exec/PTFOperator) — the cap itself is the extension's data-quality
# rule, not a Hive feature.

_MATCHPATH_CAPPED_ORACLE = f"""
WITH r AS (
  SELECT user_id, ts, event_id, event_type,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS rn,
         COUNT(*) OVER (PARTITION BY user_id) AS n_total
  FROM events
),
c AS (
  SELECT user_id, ts, event_id,
         CASE WHEN event_type = 'view' THEN 'a'
              WHEN event_type = 'purchase' THEN 'b'
              ELSE 'x' END AS ch,
         rn,
         CAST(CASE WHEN n_total > {_USER_EVENT_CAP} THEN 1 ELSE 0 END
              AS BIGINT) AS user_capped
  FROM r WHERE rn <= {_USER_EVENT_CAP}
),
s AS (
  SELECT user_id, string_agg(ch, '' ORDER BY rn) AS str
  FROM c GROUP BY user_id
),
m AS (
  SELECT c.user_id, c.rn AS start_rn, c.ts AS path_start, c.user_capped,
         length(regexp_extract(substr(s.str, CAST(c.rn AS INT)), '^aa*b'))
           AS match_len
  FROM c JOIN s USING (user_id)
)
SELECT m.user_id, CAST(m.start_rn AS INT) AS start_rn,
       CAST(m.match_len AS INT) AS match_len,
       CAST(m.path_start AS TIMESTAMP) AS path_start,
       CAST(e.ts AS TIMESTAMP) AS path_end,
       m.user_capped
FROM m
JOIN c e ON e.user_id = m.user_id AND e.rn = m.start_rn + m.match_len - 1
WHERE m.match_len > 0
ORDER BY m.user_id, start_rn
"""


@query("seq_matchpath_capped", oracle=_MATCHPATH_CAPPED_ORACLE)
def seq_matchpath_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """General MatchPath (``view.view*.purchase``) under the per-user
    event budget: pattern matching runs over capped_user_prefix's
    earliest-48 rows per user, and every match carries the user's
    ``user_capped`` flag. Because the budget keeps the EARLIEST prefix,
    a kept row's row number is unchanged — start_rn/match_len are
    exactly the uncapped operator's values for any match that lies
    wholly inside the budget; matches that needed the truncated tail
    are gone, which is the point (at a 50%-ownership bot key the
    uncapped operator serializes the hot user into one task; capped,
    no task ever sees more than 48 rows of any user after the one
    narrow capping window — SCALE.md's 50%-skew table measures both
    sides). Round 11 (verdict #2): the flag capped_user_prefix already
    stamped rides matchpath's ``passthrough`` onto each match's start
    row — the old version re-scanned and re-aggregated events just to
    rejoin a value it had dropped, one whole extra corpus pass at
    100 TB (pinned gone in test_plans.py)."""
    from hive_service_spark.operators.matchpath import matchpath

    ev = load(spark, sf_dir, "events")
    capped = capped_user_prefix(
        ev.select("user_id", "ts", "event_id", "event_type")
    )
    out = matchpath(
        capped,
        partition_by="user_id",
        order_by=["ts", "event_id"],
        symbols={
            "view": F.col("event_type") == "view",
            "purchase": F.col("event_type") == "purchase",
        },
        pattern="view.view*.purchase",
        passthrough=("user_capped",),
    )
    return out.orderBy("user_id", "start_rn")


_ATTRIB_CAPPED_ORACLE = f"""
WITH r AS (
  SELECT user_id, event_id, event_type, ts, value,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS rn,
         COUNT(*) OVER (PARTITION BY user_id) AS n_total
  FROM events
),
ev AS (
  SELECT user_id, event_id, event_type, ts,
         epoch_us(ts) AS t_us,
         CAST(ROUND(value * 100, 0) AS BIGINT) AS v_c,
         CAST(CASE WHEN n_total > {_USER_EVENT_CAP} THEN 1 ELSE 0 END
              AS BIGINT) AS user_capped,
         CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              OVER (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS pcnt
  FROM r WHERE rn <= {_USER_EVENT_CAP}
),
clicks AS (
  SELECT user_id, pcnt + 1 AS idx, ts, t_us
  FROM ev WHERE event_type = 'click'
),
purchases AS (
  SELECT user_id, pcnt AS idx, event_id, t_us, v_c, user_capped
  FROM ev WHERE event_type = 'purchase'
)
SELECT p.user_id,
       p.event_id AS purchase_id,
       CAST(MAX(p.v_c) AS BIGINT) AS purchase_cents,
       CAST(COUNT(*) AS BIGINT) AS n_clicks,
       CAST((100 * MAX(p.v_c)) // COUNT(*) AS BIGINT) AS linear_credit_cc,
       MIN(c.ts) AS first_click_ts,
       MAX(c.ts) AS last_click_ts,
       MAX(p.user_capped) AS user_capped
FROM purchases p
JOIN clicks c ON p.user_id = c.user_id AND p.idx = c.idx
WHERE p.t_us - c.t_us <= 604800000000
GROUP BY p.user_id, p.event_id
ORDER BY p.user_id, purchase_id
"""


@query("seq_attribution_capped", oracle=_ATTRIB_CAPPED_ORACLE)
def seq_attribution_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-touch attribution (seq_attribution_credit semantics)
    under the per-user event budget: the running purchase count, the
    click->purchase index pairing, and the 7-day-lookback credit all
    run over capped_user_prefix's earliest-48 rows, and each purchase
    row carries the user's user_capped flag. The pcnt window rides the
    SAME user_id sort-shuffle the capping pass creates; after it, no
    window or join fan-in ever sees more than 48 rows of one user —
    the hard bound SCALE.md's 50%-ownership row contrasts against the
    uncapped straggler."""
    ev = load(spark, sf_dir, "events")
    return _attribution_pipeline(
        capped_user_prefix(
            ev.select("user_id", "event_id", "event_type", "ts", "value")
        ),
        capped=True,
    )


_MARKOV_CAPPED_ORACLE = f"""
WITH r AS (
  SELECT user_id, event_type, ts, event_id,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY epoch_us(ts), event_id) AS rn
  FROM events
),
ordered AS (
  SELECT user_id, event_type,
         LAG(event_type) OVER (PARTITION BY user_id
                               ORDER BY epoch_us(ts), event_id)
           AS prev_type
  FROM r WHERE rn <= {_USER_EVENT_CAP}
),
trans AS (
  SELECT prev_type AS from_type, event_type AS to_type,
         CAST(COUNT(*) AS BIGINT) AS n_trans
  FROM ordered WHERE prev_type IS NOT NULL
  GROUP BY 1, 2
),
totals AS (
  SELECT from_type, CAST(SUM(n_trans) AS BIGINT) AS n_from
  FROM trans GROUP BY from_type
)
SELECT t.from_type, t.to_type, t.n_trans,
       CAST(FLOOR(1000000.0 * t.n_trans / tt.n_from) AS BIGINT) AS prob_q
FROM trans t JOIN totals tt ON t.from_type = tt.from_type
ORDER BY t.from_type, t.to_type
"""


@query("seq_markov_capped", oracle=_MARKOV_CAPPED_ORACLE)
def seq_markov_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Markov transition matrix (seq_markov_transitions semantics,
    matrix only — the stationary distribution is a property of the
    matrix and unchanged by re-running the power iterations here)
    fitted on capped_user_prefix's earliest-48 rows per user: the
    behavioral model a clickstream pipeline fits when power-law/bot
    users must not dominate the transition counts (one 10%-ownership
    user contributes 10% of ALL transitions uncapped; capped, at most
    47 — a data-quality decision shipped as an operator). The LAG
    pairing rides the capping pass's own user_id sort-shuffle; counts
    are map-side combined onto the tiny |states|^2 key space."""
    ev = load(spark, sf_dir, "events")
    capped = capped_user_prefix(
        ev.select("user_id", "event_type", "ts", "event_id"),
        order_cols=("ts", "event_id"),
    )
    return _markov_quantized_matrix(capped).orderBy(
        "from_type", "to_type"
    )


_PATHS_CAPPED_ORACLE = f"""
WITH r AS (
  SELECT user_id, event_type, ts, event_id,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY epoch_us(ts), event_id) AS rn
  FROM events
),
ordered AS (
  SELECT user_id, event_type AS s3,
         LAG(event_type, 1) OVER w AS s2,
         LAG(event_type, 2) OVER w AS s1
  FROM r WHERE rn <= {_USER_EVENT_CAP}
  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
),
paths AS (
  SELECT s1 || '>' || s2 || '>' || s3 AS path,
         CAST(COUNT(*) AS BIGINT) AS n_occurrences,
         CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
  FROM ordered WHERE s1 IS NOT NULL
  GROUP BY 1
)
SELECT path, n_occurrences, n_users,
       CAST(ROW_NUMBER() OVER (ORDER BY n_occurrences DESC, path)
            AS BIGINT) AS rnk
FROM paths
ORDER BY rnk LIMIT 20
"""


@query("seq_journeys_capped", oracle=_PATHS_CAPPED_ORACLE)
def seq_journeys_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top journey trigrams (seq_top_journey_paths semantics) under
    the per-user event budget: trigrams are counted over
    capped_user_prefix's earliest-48 rows per user, so a power-law/bot
    user contributes at most 46 of the corpus's path occurrences
    instead of their full history (with 50% ownership, half of ALL
    trigrams would otherwise be one user's — the ranking becomes that
    user's behavior, and their window partition becomes the straggler
    task; SCALE.md's 50%-skew table measures both). Same plan shape
    as the uncapped operator with the capping window fused onto the
    identical user_id sort-shuffle."""
    ev = load(spark, sf_dir, "events")
    capped = capped_user_prefix(
        ev.select("user_id", "event_type", "ts", "event_id")
    )
    return _top_journey_trigrams(capped)
