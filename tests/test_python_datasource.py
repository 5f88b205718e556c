"""Python Data Source API (sources/python_datasource.py): the
user-defined fixed-width reader — values are oracle-checked by
source_python_datasource; these pin the split parallelism and the
filter pushdown the scale story depends on."""

from __future__ import annotations

from hive_service_spark.registry import load_all
from tests.conftest import SF_DIR

_SPECS = load_all()


def test_status_filter_pushed_into_python_source(spark):
    """pushFilters accepted EqualTo(o_orderstatus,'F'): the post-scan
    Filter must retain only the isnotnull residual — the equality
    executes inside the Python reader (rows skipped at parse time),
    the Python-source analog of parquet PushedFilters."""
    df = _SPECS["source_python_datasource"].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchScan fixedwidth" in plan, plan[:2000]
    filter_lines = [l for l in plan.splitlines() if "Filter " in l]
    assert all("= F" not in l for l in filter_lines), filter_lines


def test_one_partition_per_file(spark):
    """The reader enumerates one InputPartition per data file, so the
    4-file layout scans as 4 parallel tasks — a real InputFormat
    split, not a single-threaded Python loop."""
    _SPECS["source_python_datasource"].fn(spark, SF_DIR)
    # count the scan's partitions via the RDD of the raw read; the
    # query registered the source in its own session copy, not here
    from hive_service_spark.scratch import pid_dir
    from hive_service_spark.sources.python_datasource import FixedWidthDataSource

    spark.dataSource.register(FixedWidthDataSource)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    try:
        raw = (
            spark.read.format("fixedwidth")
            .option("path", f"{pid_dir('pyds')}/orders_fixedwidth")
            .load()
        )
        assert raw.rdd.getNumPartitions() == 4
    finally:
        spark.conf.unset("spark.sql.python.filterPushdown.enabled")


def test_docstream_cache_invalidates_on_same_tick_rewrite(tmp_path):
    """The per-worker sorted-table cache must serve the NEW rows after
    the backing parquet is rewritten in place — even when the rewrite
    lands within one mtime tick (round-5 advice: a (path, float-mtime)
    key served stale slices on coarse-granularity filesystems). The
    key is (path, st_mtime_ns, st_size); pinning the mtime back to the
    original value makes size the only discriminator, the worst case."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from hive_service_spark.sources.python_datasource import (
        _docstream_sorted_table,
    )

    p = tmp_path / "docs.parquet"
    pq.write_table(
        pa.table(
            {"doc_id": [2, 1], "lang": ["en", "de"], "n_chars": [5, 6]}
        ),
        p,
    )
    st0 = p.stat()
    assert _docstream_sorted_table(str(p)).column("doc_id").to_pylist() == [
        1,
        2,
    ]
    # in-place rewrite, mtime pinned to the pre-rewrite value: the
    # same-tick scenario a float-mtime key cannot distinguish
    pq.write_table(
        pa.table(
            {
                "doc_id": [9, 3, 4],
                "lang": ["fr", "en", "de"],
                "n_chars": [1, 2, 3],
            }
        ),
        p,
    )
    os.utime(p, ns=(st0.st_atime_ns, st0.st_mtime_ns))
    assert p.stat().st_size != st0.st_size  # size is the discriminator
    assert _docstream_sorted_table(str(p)).column("doc_id").to_pylist() == [
        3,
        4,
        9,
    ]


def test_writer_abort_tolerates_failed_task_none(tmp_path):
    """DataSourceWriter.abort receives None for FAILED tasks — exactly
    the case abort exists for (round-13 review: m.path on None raised
    and left successful tasks' .tmp orphans behind)."""
    from hive_service_spark.sources.python_datasource import (
        FixedWidthWriter,
        _FWCommit,
    )

    d = tmp_path / "sink"
    d.mkdir()
    tmp = d / ".task-1-1-aa.tmp"
    tmp.write_text("x")
    w = FixedWidthWriter({"path": str(d)}, overwrite=False)
    w.abort([_FWCommit(path=str(tmp), rows=1), None])
    assert not tmp.exists()


def test_writer_append_does_not_clobber_and_overwrite_clears(tmp_path):
    """commit() numbers append parts past existing files and clears
    old parts on overwrite (round-13 review: numbering from 0 silently
    replaced the first write's rows on append; the overwrite flag was
    stored but never honored)."""
    import os

    from hive_service_spark.sources.python_datasource import (
        FixedWidthWriter,
        _FWCommit,
    )

    d = tmp_path / "sink2"
    d.mkdir()

    def _task(name, text):
        p = d / name
        p.write_text(text)
        return _FWCommit(path=str(p), rows=1)

    w = FixedWidthWriter({"path": str(d)}, overwrite=False)
    w.commit([_task(".t1.tmp", "a\n")])
    w.commit([_task(".t2.tmp", "b\n")])  # append: must not clobber
    parts = sorted(os.listdir(d))
    assert parts == ["part-00000.txt", "part-00001.txt"], parts
    assert (d / "part-00000.txt").read_text() == "a\n"

    wo = FixedWidthWriter({"path": str(d)}, overwrite=True)
    wo.commit([_task(".t3.tmp", "c\n")])
    parts = sorted(os.listdir(d))
    assert parts == ["part-00000.txt"], parts
    assert (d / "part-00000.txt").read_text() == "c\n"


def test_fixed_width_pads_short_status(spark, tmp_path):
    """A status shorter than its field width must pad, not shrink the
    line (round-13 review: '{:.1s}' truncated only, so an empty status
    produced a short line the reader silently dropped)."""
    import pyspark.sql.functions as F

    from hive_service_spark.sources.python_datasource import (
        FixedWidthSinkSource,
    )

    spark.dataSource.register(FixedWidthSinkSource)
    # the reader implements pushFilters, which needs the pushdown flag
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    d = str(tmp_path / "sink3")
    df = spark.createDataFrame(
        [(1, "", "10.00", "5-LOW")],
        "o_orderkey bigint, o_orderstatus string, o_price_str string, "
        "o_orderpriority string",
    ).select(
        "o_orderkey",
        "o_orderstatus",
        F.col("o_price_str").cast("double").alias("o_price"),
        "o_orderpriority",
    )
    # the sink schema matches (key, status, price, priority)
    df.write.format("fixedwidthsink").option("path", d).mode(
        "append"
    ).save()
    try:
        back = spark.read.format("fixedwidthsink").option("path", d).load()
        rows = back.collect()
    finally:
        spark.conf.unset("spark.sql.python.filterPushdown.enabled")
    assert len(rows) == 1 and rows[0].o_orderkey == 1
