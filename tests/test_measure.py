"""bench.measure, the one timing loop, and tools/ab.py built on it."""

from __future__ import annotations

import json
import sys
import textwrap
from pathlib import Path

import pytest
from pyspark import StorageLevel

import bench

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))
import ab  # noqa: E402


def test_measure_calls_fn_warmup_plus_reps_times(spark):
    calls = []

    def fn():
        calls.append(1)
        return spark.range(10)

    samples = bench.measure(spark, fn, reps=3, warmup=2)
    assert len(calls) == 5
    assert len(samples) == 3 and all(s > 0 for s in samples)
    assert bench.measure(spark, fn, reps=0, warmup=1) == []
    assert len(calls) == 6


def _cached(df) -> bool:
    # storageLevel asks the JVM cache manager; the Python-side
    # is_cached flag does not see catalog.clearCache()
    return df.storageLevel != StorageLevel.NONE


def test_measure_unpersists_after_each_run(spark):
    frames = []
    cached_after = []

    def fn():
        if frames:  # the previous run's persisted frame
            cached_after.append(_cached(frames[-1]))
        df = spark.range(100).selectExpr("id * 2 AS x").persist()
        df.count()
        assert _cached(df)
        frames.append(df)
        return df

    bench.measure(spark, fn, reps=2, warmup=1)
    assert len(frames) == 3
    assert cached_after == [False, False]
    assert not _cached(frames[-1])


_VARIANTS = """
import os

LOG = os.path.join(os.path.dirname(os.path.abspath(__file__)), "calls.log")


KEY = "spark.graft.test.ab_variant"


def _log(spark, tag):
    # "!" marks a call that saw a conf an earlier call set
    with open(LOG, "a") as f:
        f.write(tag if spark.conf.get(KEY, None) is None else "!")
    spark.conf.set(KEY, tag)


def a(spark, sf_dir):
    _log(spark, "a")
    return spark.range(5).selectExpr("id", "id / 3.0D AS r")


def b(spark, sf_dir):
    _log(spark, "b")
    # same answer, other order and float noise well inside 1e-6
    return spark.range(5).orderBy("id", ascending=False).selectExpr(
        "id", "id / 3.0D + 1e-9D AS r"
    )


def wrong(spark, sf_dir):
    _log(spark, "w")
    return spark.range(5).selectExpr("id", "id / 3.0D + 1e-3D AS r")
"""


def test_ab_file_variants_abba_schedule_and_json(spark, tmp_path):
    variants = tmp_path / "variants.py"
    variants.write_text(textwrap.dedent(_VARIANTS))
    rec = ab.ab(spark, f"{variants}:a", f"{variants}:b", sf_dir=str(tmp_path))
    calls = (tmp_path / "calls.log").read_text()
    # answers, one warmup each, then ALTERNATIONS pairs in ABBA order;
    # every call runs in its own session copy (registry.run), so no
    # call sees a conf another one set, and the caller sees none
    schedule = "".join("ab" if i % 2 == 0 else "ba" for i in range(ab.ALTERNATIONS))
    assert calls == "ab" + "ab" + schedule
    assert spark.conf.get("spark.graft.test.ab_variant", None) is None
    assert set(rec) == {
        "a",
        "b",
        "b_over_a_median",
        "codegen_compiles",
        "b_wins",
        "alternations",
        "sf",
        "loadavg_start",
    }
    for k in ("a", "b"):
        assert set(rec[k]) == {"variant", "samples", "median", "q1", "q3"}
        assert len(rec[k]["samples"]) == ab.ALTERNATIONS
        assert rec[k]["q1"] <= rec[k]["median"] <= rec[k]["q3"]
    assert rec["a"]["variant"] == f"{variants}:a"
    assert 0 <= rec["b_wins"] <= ab.ALTERNATIONS
    # after its warmup a variant's classes are in the JVM's code cache
    assert rec["codegen_compiles"] == {"a": 0, "b": 0}
    assert rec["sf"] == str(tmp_path)
    json.dumps(rec)


def test_ab_refuses_variants_that_disagree(spark, tmp_path):
    variants = tmp_path / "variants.py"
    variants.write_text(textwrap.dedent(_VARIANTS))
    with pytest.raises(SystemExit) as exc:
        ab.ab(spark, f"{variants}:a", f"{variants}:wrong", sf_dir=str(tmp_path))
    assert exc.value.code not in (0, None)
    assert "disagree" in str(exc.value.code)
    # refused before any timed run
    assert (tmp_path / "calls.log").read_text() == "aw"
