"""Unit tests for the per-process scratch namespace manager."""

from __future__ import annotations

import os
import shutil
from pathlib import Path

import hive_service_spark.scratch as scratch


def test_pid_dir_is_per_process_and_created():
    d = scratch.pid_dir("proc")
    assert d.endswith(f"proc-{os.getpid()}")
    assert os.path.isdir(d)


def test_disk_fallback_is_per_uid(monkeypatch):
    """Without tmpfs headroom the root falls back to the checkout,
    suffixed with the uid like the tmpfs default, so a second uid never
    tries to write into a directory the first one created."""

    def tight(path):
        return shutil._ntuple_diskusage(1 << 30, 1 << 30, 0)

    monkeypatch.setattr(scratch.shutil, "disk_usage", tight)
    root = scratch._default_root()
    checkout = os.path.dirname(os.path.dirname(os.path.abspath(scratch.__file__)))
    assert root == os.path.join(checkout, f".scratch-{os.getuid()}")


def test_reaper_removes_dead_keeps_alive_and_foreign(tmp_path, monkeypatch):
    root = tmp_path / "scratch"
    root.mkdir()
    dead = root / "proc-999999999"  # pid_max is < 2^22 on Linux: never alive
    dead_wh = root / "wh-999999998"  # r13: warehouse namespaces reap too
    alive = root / f"src-{os.getpid()}"
    foreign = root / "stream_src"  # shared cache dir — not a pid namespace
    unparsable = root / "proc-notanumber"
    for d in (dead, dead_wh, alive, foreign, unparsable):
        d.mkdir()
    monkeypatch.setattr(scratch, "SCRATCH_ROOT", str(root))
    monkeypatch.setattr(scratch, "_reaped", False)
    scratch._reap_dead_namespaces()
    assert not dead.exists(), "dead-pid namespace must be reaped"
    assert not dead_wh.exists(), "dead warehouse namespace must be reaped"
    assert alive.exists(), "own namespace must survive"
    assert foreign.exists(), "non-namespace dirs must never be touched"
    assert unparsable.exists(), "unparsable names must never be touched"


def test_warehouse_dir_is_per_process_namespace():
    """r13: the hs_scratch warehouse is a per-pid scratch namespace —
    the fixed shared path it replaced let pytest and a concurrent
    driver sweep rmtree/CTAS the same managed-table directory
    (LOCATION_ALREADY_EXISTS)."""
    d = scratch.warehouse_dir()
    assert d.endswith(f"wh-{os.getpid()}")
    assert d.startswith(scratch.SCRATCH_ROOT)
    assert os.path.isdir(d)


def test_atomic_copy_replaces_and_leaves_no_temp(tmp_path):
    src = tmp_path / "a.bin"
    dst = tmp_path / "b.bin"
    src.write_bytes(b"x" * 1024)
    dst.write_bytes(b"old")
    scratch.atomic_copy(src, dst)
    assert dst.read_bytes() == b"x" * 1024
    leftovers = [p for p in tmp_path.iterdir() if ".tmp" in p.name]
    assert not leftovers, f"temp files left behind: {leftovers}"


def test_stage_source_recopies_on_mtime_preserving_regen(tmp_path):
    """The round-2 ADVICE gap: a regenerated source with IDENTICAL size
    and a non-newer mtime (mtime-preserving copy) must still be
    re-staged. stage_source fingerprints (size, mtime_ns) rather than
    comparing dst-vs-src recency, so any fingerprint change recopies."""
    import os

    from hive_service_spark.scratch import stage_source

    src = tmp_path / "src" / "data.parquet"
    src.parent.mkdir()
    stage = tmp_path / "landing"
    src.write_bytes(b"AAAA")
    dst = stage_source(src, stage)
    assert dst.read_bytes() == b"AAAA"

    # regenerate: same size, mtime pinned OLDER than the staged copy
    src.write_bytes(b"BBBB")
    os.utime(src, ns=(1, 1))
    dst2 = stage_source(src, stage)
    assert dst2.read_bytes() == b"BBBB"  # old code served stale AAAA

    # unchanged source: no recopy (staged file inode left alone)
    ino = dst2.stat().st_ino
    stage_source(src, stage)
    assert dst2.stat().st_ino == ino


def test_stage_text_lands_in_pid_namespace_atomically():
    """stage_text (the TRANSFORM script stager) writes into the
    per-process namespace — two driver processes can stage the same
    script name without racing — and leaves no temp files behind."""
    p = scratch.stage_text("print('hi')\n", "stage_text_probe.py")
    assert p.read_text() == "print('hi')\n"
    assert f"proc-{os.getpid()}" in str(p), "must live in the pid namespace"
    leftovers = [q for q in p.parent.iterdir() if ".tmp" in q.name]
    assert not leftovers, f"temp files left behind: {leftovers}"
    # restage with new content: reader of the path sees old-or-new,
    # never torn — os.replace guarantees it; content must update
    p2 = scratch.stage_text("print('v2')\n", "stage_text_probe.py")
    assert p2 == p and p.read_text() == "print('v2')\n"
    p.unlink()
