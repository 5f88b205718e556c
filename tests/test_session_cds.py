"""The driver JVM's class-data-sharing archive (``session.get_session``).

The key follows the JDK and every classpath jar; a Spark conf dir with a
real file turns the archive off and stays in use; the first process
records (and deletes an older key's archive), the next uses; a
truncated archive is refused, counted, deleted and recorded again; two
first processes dump once. The end-to-end cases run ``get_session`` in
subprocesses, each group with its own ``TMPDIR`` (the archive lives
under ``tempfile.gettempdir()``).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

from hive_service_spark.session import _archive_key

ROOT = Path(__file__).resolve().parent.parent

# One fresh process: get_session, one small query, one stdout line.
_PROGRAM = """
import json, os
from hive_service_spark.session import _classpath, get_session, startup_info
spark = get_session("cds-test", cpus=2)
info = startup_info()
system = spark._jvm.java.lang.System
jvm_cp = {p.rstrip("/") for p in system.getProperty("java.class.path").split(":")}
conf_dir = os.path.join(os.path.dirname(info["archive"] or ""), "conf")
print(json.dumps({
    **info,
    "answer": spark.range(1000).selectExpr("sum(id)").collect()[0][0],
    "conf_dir_env": os.environ.get("SPARK_CONF_DIR"),
    "probe_conf": spark.conf.get("spark.graft.probe", None),
    "key_covers_classpath": {p.rstrip("/") for p in _classpath(conf_dir)} == jvm_cp,
}))
"""


def _env(tmp: Path, **extra: str) -> dict:
    env = {k: v for k, v in os.environ.items() if k != "SPARK_CONF_DIR"}
    env.update(
        TMPDIR=str(tmp),
        SPARK_GRAFT_DRIVER_MEM="1g",
        PYTHONPATH=os.pathsep.join(p for p in (str(ROOT), env.get("PYTHONPATH")) if p),
        **extra,
    )
    return env


def _start(tmp: Path, **extra: str) -> subprocess.Popen:
    return subprocess.Popen(
        [sys.executable, "-c", _PROGRAM], cwd=tmp, env=_env(tmp, **extra),
        stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
    )


def _result(proc: subprocess.Popen) -> dict:
    out, _ = proc.communicate(timeout=600)
    assert proc.returncode == 0
    lines = out.splitlines()
    assert len(lines) == 1, f"stdout holds more than the program's line: {lines}"
    return json.loads(lines[0])


def _run(tmp: Path, **extra: str) -> dict:
    return _result(_start(tmp, **extra))


def _archives(tmp: Path) -> list[Path]:
    return sorted(tmp.glob("spark-graft-cds-*/*.jsa"))


def test_key_follows_jars_and_java(tmp_path):
    java = tmp_path / "java"
    java.write_bytes(b"jdk")
    jar = tmp_path / "a.jar"
    jar.write_bytes(b"abc")
    cp = [str(tmp_path / "conf"), str(jar)]
    key = _archive_key(str(java), cp)
    assert _archive_key(str(java), cp) == key

    jar.write_bytes(b"abcd")
    sized = _archive_key(str(java), cp)
    assert sized != key

    st = jar.stat()
    os.utime(jar, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    touched = _archive_key(str(java), cp)
    assert touched not in (key, sized)

    other = tmp_path / "java2"
    other.write_bytes(b"jdk")
    assert _archive_key(str(other), cp) != touched
    java.write_bytes(b"jdk 2")
    assert _archive_key(str(java), cp) != touched


def test_real_conf_dir_turns_the_archive_off_and_stays_in_use(tmp_path):
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf").write_text("spark.graft.probe from-conf-dir\n")
    (conf / "log4j2.properties.template").write_text("")
    r = _run(tmp_path, SPARK_CONF_DIR=str(conf))
    assert r["state"] == "off"
    assert "spark-defaults.conf" in r["reason"]
    assert r["conf_dir_env"] == str(conf)
    assert r["probe_conf"] == "from-conf-dir"
    assert r["answer"] == 499500
    assert _archives(tmp_path) == []


def test_record_use_reject_and_record_again(tmp_path):
    old = tmp_path / f"spark-graft-cds-{os.getuid()}"
    old.mkdir(mode=0o700)
    (old / "spark-0123456789abcdef.jsa").write_bytes(b"an older key's archive")
    first = _run(tmp_path)
    assert first["state"] == "recorded", first["reason"]
    assert first["key_covers_classpath"]
    assert first["answer"] == 499500
    assert _archives(tmp_path) == [Path(first["archive"])]  # the older key's is gone
    assert not list(tmp_path.glob("spark-graft-cds-*/*.lock"))
    assert not list(tmp_path.glob("spark-graft-cds-*/*.classlist"))

    second = _run(tmp_path)
    assert second["state"] == "used", second["reason"]
    assert "sharing" in second["java_vm_info"]
    assert second["archive"] == first["archive"]
    assert second["conf_dir_env"] is None

    archive = Path(first["archive"])
    archive.chmod(0o600)  # the dump writes it read-only
    with open(archive, "r+b") as f:
        f.truncate(archive.stat().st_size // 3)
    third = _run(tmp_path)
    assert third["state"] == "rejected"
    assert "sharing" not in third["java_vm_info"]
    assert third["answer"] == 499500
    assert not archive.exists()

    fourth = _run(tmp_path)
    assert fourth["state"] == "recorded"
    assert archive.stat().st_size > 0


def test_two_first_processes_dump_once(tmp_path):
    procs = [_start(tmp_path) for _ in range(2)]
    results = [_result(p) for p in procs]
    states = sorted(r["state"] for r in results)
    assert states == ["off", "recorded"], [r["reason"] for r in results]
    assert "another process" in next(r for r in results if r["state"] == "off")["reason"]
    assert all(r["answer"] == 499500 for r in results)
    assert len(_archives(tmp_path)) == 1
    assert len(list(tmp_path.glob("spark-graft-cds-*/*.dump.log"))) == 1
