"""catalog's schema cache: a table file's schema is inferred once.

``catalog.load`` builds its scan from ``catalog.schema``, which runs
the footer-reading Spark job only on the first load of a file version.
These tests pin that a repeat load starts no job and plans the same
scan, that rewriting a file or a Spark-written directory in place is
seen, that the ``events.ts`` conversion holds for both encodings, that
concurrent and self-joined loads stay correct, and q3's warm counters.

Run as a script (``python tests/test_catalog_schema_cache.py <sf_dir>``)
it prints q3's warm counters at local[4] as one JSON line.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil
import subprocess
import sys
import uuid
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql.types import TimestampType

from hive_service_spark import catalog
from hive_service_spark.plans import inspect as P

_ROOT = Path(__file__).resolve().parent.parent


def _jobs(spark, action) -> tuple[object, int]:
    """(result of ``action()``, number of Spark jobs it started)."""
    sc = spark.sparkContext
    group = f"schema-cache-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _copy_tables(sf_dir: Path, *names: str) -> None:
    """Fresh copies (new inodes, so cold cache entries) of SF_DIR tables."""
    from tests.conftest import SF_DIR

    sf_dir.mkdir(exist_ok=True)
    for n in names:
        shutil.copy(f"{SF_DIR}/{n}.parquet", sf_dir / f"{n}.parquet")


def test_second_load_starts_no_job_and_plans_the_same_scan(spark, tmp_path):
    _copy_tables(tmp_path, "nation")
    first, n_first = _jobs(spark, lambda: catalog.load(spark, str(tmp_path), "nation"))
    second, n_second = _jobs(spark, lambda: catalog.load(spark, str(tmp_path), "nation"))
    assert n_first == 1, "the first load infers the schema with one job"
    assert n_second == 0, "a repeat load must not re-read the parquet footer"
    bare = spark.read.parquet(str(tmp_path / "nation.parquet"))
    assert second.schema == first.schema == bare.schema
    assert P.read_schemas(second) == P.read_schemas(first) == P.read_schemas(bare)


def test_sessions_with_other_settings_keep_their_own_entries(spark, tmp_path):
    """Per-query session copies differ in nanosAsLong (set by loading
    events); alternating between them must not re-infer a file's schema
    on every switch."""
    _copy_tables(tmp_path, "nation")
    nanos = spark.newSession()
    nanos.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    _, n_plain = _jobs(spark, lambda: catalog.load(spark, str(tmp_path), "nation"))
    _, n_nanos = _jobs(nanos, lambda: catalog.load(nanos, str(tmp_path), "nation"))
    _, n_again = _jobs(spark, lambda: catalog.load(spark, str(tmp_path), "nation"))
    _, n_nanos_again = _jobs(nanos, lambda: catalog.load(nanos, str(tmp_path), "nation"))
    assert (n_plain, n_nanos, n_again, n_nanos_again) == (1, 1, 0, 0)


def test_staged_partition_layout_warm_build_starts_no_job(spark):
    """part_*_partition_pruning build their month-partitioned frame on
    every call, in the calling session: once staged, the build reads
    the cached schema and lists the partition directories on the
    driver, so it starts no Spark job."""
    from hive_service_spark.operators.partition_pruning import (
        staged_lineitem_by_month,
    )
    from tests.conftest import SF_DIR

    staged_lineitem_by_month(spark, SF_DIR)
    df, n_jobs = _jobs(spark, lambda: staged_lineitem_by_month(spark, SF_DIR))
    assert n_jobs == 0
    assert "ship_month" in df.columns


def test_rewritten_file_is_reinferred(spark, tmp_path):
    path = tmp_path / "region.parquet"
    pq.write_table(pa.table({"r_regionkey": pa.array([0, 1], pa.int32())}), path)
    assert catalog.load(spark, str(tmp_path), "region").columns == ["r_regionkey"]
    pq.write_table(
        pa.table({"r_regionkey": pa.array([0, 1], pa.int32()), "r_name": ["A", "B"]}),
        path,
    )
    df = catalog.load(spark, str(tmp_path), "region")
    assert df.columns == ["r_regionkey", "r_name"]
    assert sorted(map(tuple, df.collect())) == [(0, "A"), (1, "B")]


def test_rewritten_spark_directory_is_reinferred(spark, tmp_path):
    path = str(tmp_path / "region.parquet")
    spark.range(3).toDF("r_regionkey").write.parquet(path)
    assert catalog.load(spark, str(tmp_path), "region").columns == ["r_regionkey"]
    spark.range(3).selectExpr("id AS r_regionkey", "'x' AS r_name").write.mode(
        "overwrite"
    ).parquet(path)
    df = catalog.load(spark, str(tmp_path), "region")
    assert df.columns == ["r_regionkey", "r_name"]
    assert sorted(map(tuple, df.collect())) == [(0, "x"), (1, "x"), (2, "x")]


_NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"


def test_events_ts_converts_to_timestamp_for_both_encodings(spark, tmp_path):
    """Both encodings read as TIMESTAMP; only a NANOS file sets
    nanosAsLong on the session."""
    want = [dt.datetime(2024, 1, 1, 0, 0, 1, 5), dt.datetime(2024, 1, 2, 3, 4, 5)]
    for unit in ("ns", "us"):
        sf_dir = tmp_path / unit
        sf_dir.mkdir()
        pq.write_table(
            pa.table({"event_id": [1, 2], "ts": pa.array(want, pa.timestamp(unit))}),
            sf_dir / "events.parquet",
        )
        session = spark.newSession()
        for _ in range(2):  # cold, then from the cached schema
            df = catalog.load(session, str(sf_dir), "events")
            assert isinstance(df.schema["ts"].dataType, TimestampType), unit
            assert [r.ts for r in df.orderBy("event_id").collect()] == want, unit
        nanos = session.conf.get(_NANOS_AS_LONG, "false") == "true"
        assert nanos == (unit == "ns"), unit


def test_binding_testdata_events_leaves_nanos_as_long_unset(spark):
    """The shipped testdata stores events.ts as TIMESTAMP(MICROS)."""
    from tests.conftest import SF_DIR

    session = spark.newSession()
    catalog.bind(session, SF_DIR, "events")
    assert session.conf.get(_NANOS_AS_LONG, "false") == "false"
    assert isinstance(session.table("events").schema["ts"].dataType, TimestampType)


def test_sql_entry_warm_build_starts_no_job_and_sees_a_rewrite(spark, tmp_path):
    """An entry that runs its SQL text binds its tables through
    catalog.load: a warm build starts no job, and a table file
    rewritten with another schema is read with the new one."""
    from hive_service_spark.registry import load_all

    fn = load_all()["scan_project_filter"].fn
    path = tmp_path / "lineitem.parquet"

    def write(qty_type):
        pq.write_table(
            pa.table({
                "l_orderkey": [1, 2],
                "l_linenumber": [1, 1],
                "l_quantity": pa.array([15, 30], qty_type),
                "l_extendedprice": [100.0, 200.0],
                "l_discount": [0.5, 0.5],
            }),
            path,
        )

    write(pa.float64())
    fn(spark, str(tmp_path))
    df, n_jobs = _jobs(spark, lambda: fn(spark, str(tmp_path)))
    assert n_jobs == 0
    assert df.schema["l_quantity"].dataType.simpleString() == "double"
    write(pa.int64())
    df = fn(spark, str(tmp_path))
    assert df.schema["l_quantity"].dataType.simpleString() == "bigint"
    assert [tuple(r) for r in df.collect()] == [(1, 1, 50.0, 15)]


def test_concurrent_loads_return_correct_frames(spark, tmp_path):
    """More client threads than cores load the same cold tables."""
    names = ("region", "nation", "supplier")
    _copy_tables(tmp_path, *names)
    want = {
        n: (pq.read_metadata(tmp_path / f"{n}.parquet").num_rows,
            pq.read_schema(tmp_path / f"{n}.parquet").names)
        for n in names
    }

    def client(_):
        out = {}
        for n in names:
            df = catalog.load(spark, str(tmp_path), n)
            out[n] = (df.count(), df.columns)
        return out

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)  # force thread switches inside the lookups
    try:
        with ThreadPoolExecutor(8) as pool:
            results = list(pool.map(client, range(8), timeout=300))
    finally:
        sys.setswitchinterval(interval)
    assert results == [want] * 8
    # whichever thread stored last, the entries are current: no job
    _, n_jobs = _jobs(spark, lambda: [catalog.load(spark, str(tmp_path), n) for n in names])
    assert n_jobs == 0


def test_self_join_of_two_loads_resolves(spark, tmp_path):
    _copy_tables(tmp_path, "nation")
    a = catalog.load(spark, str(tmp_path), "nation")
    b = catalog.load(spark, str(tmp_path), "nation")
    rows = a.join(b, a["n_nationkey"] == b["n_regionkey"]).select(
        a["n_nationkey"], b["n_nationkey"].alias("member")
    ).collect()
    t = pq.read_table(tmp_path / "nation.parquet").to_pydict()
    keys = set(t["n_nationkey"])
    want = sorted(
        (r, n) for n, r in zip(t["n_nationkey"], t["n_regionkey"]) if r in keys
    )
    assert sorted(map(tuple, rows)) == want


# q3 at local[4] on the benchmark's generated sf0.1 tables (seed 42),
# warm: jobs, stages and tasks (skipped ones included) repeat exactly;
# shuffle bytes to within 0.01%. Without the schema cache every load
# added one job with one stage and one task: 7 jobs, 8 stages, 10 tasks.
_Q3_WARM = {"jobs": 4, "stages": 5, "tasks": 7}
_Q3_SHUFFLE_WRITE_B = 20759


def test_q3_warm_counters_at_local4(tmp_path_factory):
    from perfbench import gen

    data = str(tmp_path_factory.mktemp("q3_counters") / "sf0.1-seed42")
    gen.base_tables(data, 42, 0.1)
    env = {**os.environ, "PYTHONPATH": str(_ROOT), "SPARK_GRAFT_DRIVER_MEM": "2g"}
    proc = subprocess.run(
        [sys.executable, __file__, data], env=env, capture_output=True,
        text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    got = json.loads(proc.stdout.strip().splitlines()[-1])
    assert {k: got[k] for k in _Q3_WARM} == _Q3_WARM, got
    assert abs(got["shuffle_write_b"] - _Q3_SHUFFLE_WRITE_B) <= 1e-4 * _Q3_SHUFFLE_WRITE_B, got


def _q3_warm_counters(sf_dir: str) -> dict:
    """q3's counters on its second run in a fresh local[4] session."""
    from hive_service_spark.registry import load_all
    from hive_service_spark.session import get_session

    spark = get_session("q3-counters", cpus=4)
    sc = spark.sparkContext
    fn = load_all()["q3_shipping_priority"].fn
    for group in ("q3-warmup", "q3-warm"):
        sc.setJobGroup(group, group)
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    store = sc._jsc.sc().statusStore()
    jobs = sc.statusTracker().getJobIdsForGroup("q3-warm")
    stage_ids = set()
    for j in jobs:
        seq = store.job(j).stageIds()
        stage_ids.update(seq.apply(i) for i in range(seq.size()))
    out = {"jobs": len(jobs), "stages": len(stage_ids), "tasks": 0, "shuffle_write_b": 0}
    for s in stage_ids:
        st = store.lastStageAttempt(s)
        out["tasks"] += st.numTasks()
        if st.status().toString() != "SKIPPED":
            out["shuffle_write_b"] += st.shuffleWriteBytes()
    spark.stop()
    return out


if __name__ == "__main__":
    print(json.dumps(_q3_warm_counters(sys.argv[1])))
