"""SparkSession construction for tests and bench.

The driver passes us its own session for ``queries()``; this builder is
for local runs. Config choices mirror what a 1000-executor deployment
would set (AQE on, skew-join handling, partition coalescing) scaled to
local[N].

Start-up. A cold driver JVM spends about half of ``get_session`` and
the first action loading and verifying classes, so ``get_session``
starts it from a static AppCDS archive of the classes an earlier
process loaded, when one exists for this JDK and classpath (state
``used``; the benchmark's ``setup_s`` 12.2 s -> 5.7 s at 4 cores).
Without one, the first process to take the key's lock starts its JVM with
``-XX:DumpLoadedClassList`` (``recorded``), and at exit, after that JVM
has ended, runs ``java -Xshare:dump`` on the list and publishes the
archive with ``os.replace`` (40-70 s and 150-260 MiB, once per key).
An archive the JVM refuses shows as ``java.vm.info`` without
``sharing``: the process runs without it (``rejected``), deletes it,
and the next process records a new one. Otherwise the launch is plain
(``off``), e.g. when the Spark conf dir holds a real file, which CDS
refuses on the classpath. ``startup_info()`` reports which.

Generated code. Spark compiles each distinct generated class once with
Janino and keeps it in one JVM-wide cache, whose size
``CodeGenerator`` reads once, when the JVM first uses it.
``get_session`` sizes that cache to hold the registry's working set, so
a long-lived session compiles each class once; ``codegen_counters``
reads how many compiles the JVM has run.
"""

from __future__ import annotations

import atexit
import contextlib
import glob
import hashlib
import os
import shutil
import subprocess
import tempfile
import time

from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# Entries of the JVM-wide cache of compiled generated classes
# (spark.sql.codegen.cache.maxEntries, default 100). One pass over all
# 330 registered entries at sf0.01 compiled 4,502 distinct classes;
# after it the driver JVM held 115.0 MB of Metaspace and 17.0 MB of
# Compressed Class Space. The cache is a Guava cache split into 4
# segments that each evict at a quarter of this bound, so at the
# default a segment evicts from about 25 entries: warm, the
# benchmark's shared-session workload (about 240 classes) recompiled
# 18 classes per query and its relational one 12 per 8-query round.
# 8192 keeps the whole working set with room per segment.
CODEGEN_CACHE_ENTRIES = 8192

# the JVM's unified log writes to stdout; keep CDS messages off it so a
# caller's last stdout line stays its own
_CDS_QUIET = "-Xlog:cds*=off -Xlog:class+path=off"

_startup: dict = {
    "state": "off",
    "reason": "get_session has not started a JVM in this process",
    "archive": None,
    "java_vm_info": None,
}


def startup_info() -> dict:
    """How this process's driver JVM started: ``state`` (``used``,
    ``recorded``, ``rejected`` or ``off``), the ``reason`` for it, the
    ``archive`` path (None when no key applies) and ``java_vm_info``."""
    return dict(_startup)


def codegen_counters(spark: SparkSession) -> dict:
    """JVM-wide totals since the driver JVM started: ``compiles``, the
    generated classes Janino compiled (a cache hit compiles none), and
    ``compile_s``, the seconds those compiles took. Every session of the
    JVM counts into the same totals, so read a difference over a window
    in which nothing else runs."""
    jvm = spark._jvm
    metric = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    codegen = getattr(jvm.org.apache.spark.sql.catalyst.expressions.codegen, "CodeGenerator$")
    return {
        "compiles": metric.getCount(),
        "compile_s": getattr(codegen, "MODULE$").compileTime() / 1e9,
    }


def _local_dir() -> str:
    """Shuffle-spill directory: SPARK_GRAFT_LOCAL_DIR, else a per-uid
    directory on RAM-backed /dev/shm, else "" (Spark's default,
    java.io.tmpdir). Per-uid like ``scratch.SCRATCH_ROOT``: a shared
    parent would be created 0755 by its first owner, and a second uid
    could not create its subdirectories under it."""
    override = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if override:
        return override
    if os.path.isdir("/dev/shm"):
        return f"/dev/shm/spark-local-{os.getuid()}"
    return ""


def _cds_dir() -> str:
    return os.path.join(tempfile.gettempdir(), f"spark-graft-cds-{os.getuid()}")


def _java() -> str | None:
    """The java binary Spark's launcher runs: $JAVA_HOME/bin/java, else
    the one on PATH."""
    home = os.environ.get("JAVA_HOME")
    java = os.path.join(home, "bin", "java") if home else shutil.which("java")
    return os.path.realpath(java) if java and os.path.isfile(java) else None


def _classpath(conf_dir: str) -> list[str]:
    """The driver classpath Spark's launcher builds: the conf dir, the
    jars of $SPARK_HOME/jars, then the Hadoop and YARN conf dirs and
    SPARK_DIST_CLASSPATH when set."""
    jars = sorted(glob.glob(os.path.join(_find_spark_home(), "jars", "*.jar")))
    extra = [
        p
        for var in ("HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH")
        for p in os.environ.get(var, "").split(os.pathsep)
        if p
    ]
    return [conf_dir, *jars, *extra]


def _archive_key(java: str, classpath: list[str]) -> str:
    """Digest of the java binary and each classpath entry with its size
    and mtime, the attributes the JVM checks before it maps an archive:
    a changed jar or JDK gets a new key."""
    h = hashlib.sha256()
    for path in (java, *classpath):
        try:
            st = os.stat(path)
            h.update(f"{path}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
        except OSError:
            h.update(f"{path}\0missing\n".encode())
    return h.hexdigest()[:16]


def _lock_is_live(path: str) -> bool:
    """True while the pid in lock file `path` runs; a lock still without
    a pid counts as live for 10 s after it was made."""
    try:
        with open(path) as f:
            text = f.read().strip()
        if not text:
            return time.time() - os.path.getmtime(path) < 10
        os.kill(int(text), 0)
    except (FileNotFoundError, ProcessLookupError, ValueError):
        return False
    except PermissionError:  # alive, another uid
        return True
    return True


def _take_lock(path: str) -> bool:
    """Create `path` exclusively and write our pid into it. A lock left
    by a process that is gone is removed and taken once."""
    for _ in range(2):
        try:
            fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY, 0o600)
        except FileExistsError:
            if _lock_is_live(path):
                return False
            with contextlib.suppress(FileNotFoundError):
                os.remove(path)
            continue
        with os.fdopen(fd, "w") as f:
            f.write(str(os.getpid()))
        return True
    return False


def _plan() -> dict:
    """What this launch does with the archive, decided before the JVM
    starts. ``opts`` are the driver JVM options; ``conf_dir`` the empty
    Spark conf dir the launch uses."""
    plan = {"state": "off", "archive": None, "opts": "", "conf_dir": None}

    def off(reason: str) -> dict:
        return {**plan, "reason": reason}

    if "PYSPARK_GATEWAY_PORT" in os.environ:
        return off("the driver JVM was started outside this process")
    conf = os.environ.get("SPARK_CONF_DIR") or os.path.join(_find_spark_home(), "conf")
    with contextlib.suppress(OSError):
        real = sorted(n for n in os.listdir(conf) if not n.endswith(".template"))
        if real:
            return off(f"Spark conf dir {conf} holds {', '.join(real)}; CDS "
                       "refuses a non-empty directory on the classpath")
    java = _java()
    if java is None:
        return off("no java binary found")
    root = _cds_dir()
    os.makedirs(root, mode=0o700, exist_ok=True)
    if os.stat(root).st_uid != os.getuid():
        return off(f"{root} belongs to another user")
    conf_dir = os.path.join(root, "conf")
    os.makedirs(conf_dir, exist_ok=True)
    stem = os.path.join(root, f"spark-{_archive_key(java, _classpath(conf_dir))}")
    plan.update(archive=f"{stem}.jsa", conf_dir=conf_dir, stem=stem)
    if os.path.isfile(plan["archive"]):
        return {**plan, "state": "used", "reason": "archive found for this JDK and classpath",
                "opts": f"-XX:SharedArchiveFile={plan['archive']} {_CDS_QUIET}"}
    if os.path.exists(f"{stem}.failed.log"):
        return off(f"this key's dump failed; see {stem}.failed.log")
    if not _take_lock(f"{stem}.lock"):
        return off("another process is recording this key's archive")
    with contextlib.suppress(FileNotFoundError):
        os.remove(f"{stem}.classlist")
    return {**plan, "state": "recorded", "opts": f"-XX:DumpLoadedClassList={stem}.classlist",
            "reason": "no archive for this JDK and classpath: the class list is "
                      "recorded now and the archive dumped at exit"}


@contextlib.contextmanager
def _launch_env(plan: dict):
    """Point the launch at the plan's conf dir and JVM options, and put
    both variables back once the JVM runs. SPARK_SUBMIT_OPTS reaches
    the driver JVM only, not Spark's launcher JVM."""
    saved = {k: os.environ.get(k) for k in ("SPARK_CONF_DIR", "SPARK_SUBMIT_OPTS")}
    if plan["opts"]:
        os.environ["SPARK_CONF_DIR"] = plan["conf_dir"]
        os.environ["SPARK_SUBMIT_OPTS"] = " ".join(
            filter(None, (saved["SPARK_SUBMIT_OPTS"], plan["opts"]))
        )
    try:
        yield
    finally:
        for k, v in saved.items():
            if v is None:
                os.environ.pop(k, None)
            else:
                os.environ[k] = v


def _launch(builder: SparkSession.Builder) -> SparkSession:
    """Start the driver JVM through `builder` as ``_plan`` decides, and
    record the outcome for ``startup_info``."""
    plan = _plan()
    try:
        with _launch_env(plan):
            spark = builder.getOrCreate()
    except BaseException:
        if plan["state"] == "recorded":
            _release(plan["stem"])
        raise
    system = spark._jvm.java.lang.System
    info = system.getProperty("java.vm.info")
    state, reason = plan["state"], plan["reason"]
    if state == "used" and "sharing" not in info:
        state = "rejected"
        reason = ("the JVM refused the archive (java.vm.info lacks 'sharing'); "
                  "deleted, so the next process records a new one")
        with contextlib.suppress(FileNotFoundError):
            os.remove(plan["archive"])
    elif state == "recorded":
        java = os.path.join(system.getProperty("java.home"), "bin", "java")
        atexit.register(_dump_at_exit, os.getpid(), plan["stem"], SparkContext._gateway.proc,
                        java, system.getProperty("java.class.path"))
    _startup.update(state=state, reason=reason, archive=plan["archive"], java_vm_info=info)
    return spark


def _release(stem: str) -> None:
    for path in (f"{stem}.classlist", f"{stem}.lock"):
        with contextlib.suppress(FileNotFoundError):
            os.remove(path)


def _dump_at_exit(pid: int, stem: str, proc: subprocess.Popen, java: str, classpath: str) -> None:
    """At exit of the recording process: end its driver JVM (the class
    list is complete once that JVM has exited), dump the archive from
    the list, publish it under its key and delete other keys' archives.
    The dump's output goes to ``<stem>.dump.log``; a failed dump keeps
    it as ``<stem>.failed.log``, which stops later retries of the key.
    A forked child inherits the handler and does nothing."""
    if os.getpid() != pid:
        return
    tmp = f"{stem}.{os.getpid()}.tmp.jsa"
    try:
        if proc.poll() is None:
            if SparkContext._active_spark_context is not None:
                SparkContext._active_spark_context.stop()
            if SparkContext._gateway is not None:
                SparkContext._gateway.shutdown()
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        if proc.returncode != 0:  # killed: the list may end mid-line
            return
        with open(f"{stem}.dump.log", "w") as log:
            rc = subprocess.run(
                [java, "-Xshare:dump", f"-XX:SharedClassListFile={stem}.classlist",
                 f"-XX:SharedArchiveFile={tmp}", "-cp", classpath],
                stdin=subprocess.DEVNULL, stdout=log, stderr=subprocess.STDOUT,
            ).returncode
        if rc != 0 or not os.path.isfile(tmp):
            os.replace(f"{stem}.dump.log", f"{stem}.failed.log")
            return
        os.replace(tmp, f"{stem}.jsa")
        for old in glob.glob(os.path.join(os.path.dirname(stem), "spark-*")):
            if not old.startswith(stem) and old.endswith((".jsa", ".dump.log")) and ".tmp." not in old:
                with contextlib.suppress(FileNotFoundError):
                    os.remove(old)
    finally:
        with contextlib.suppress(FileNotFoundError):
            os.remove(tmp)
        _release(stem)


def get_session(app: str = "hive_service_spark", cpus: int | None = None) -> SparkSession:
    cpus = cpus or CPUS
    builder = (
        SparkSession.builder.appName(app)
        .master(f"local[{cpus}]")
        # shuffle partitions sized to cores locally; AQE coalesces down.
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # coalescePartitions.parallelismFirst stays at its default: the
        # text, dedup and graph stages are CPU-dense per byte, and
        # byte-sized coalescing (false + a 64m advisory size) put them
        # on 1-2 tasks; the suite measured 55.5 s -> 60.1 s with it.
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Shuffled-hash join where its size conditions hold (no sort on
        # either side), and AQE turns sort-merge into shuffled-hash when
        # every post-shuffle build partition fits in 64m. Hints in query
        # code still win. Trade-off: the static choice reads pre-AQE
        # estimates and a hash build has less spill headroom than a
        # sort, so a memory-tight or skew-heavy session should set
        # preferSortMergeJoin back to true; skew-join splitting stays
        # on either way (tests/test_plans.py::test_shj_policy_skew_interaction).
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "64m"
        )
        .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        # Whole-stage codegen over a ~120-query suite overflows the JVM's
        # default 240MB code cache; once full, the JIT disables and the
        # generated loops run interpreted (measured 10-30x CPU inflation
        # with wild run-to-run variance on the array-heavy dedup queries).
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:ReservedCodeCacheSize=1g -XX:+UseCodeCacheFlushing",
        )
        # Read once, when the JVM first generates code: a JVM this
        # process did not start (PYSPARK_GATEWAY_PORT), or one that
        # generated code before this session, keeps the size it has.
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.sql.session.timeZone", "UTC")
        # Hive 2.3 semantics: non-ANSI arithmetic (overflow wraps, / on
        # ints yields double) — matches reference and DuckDB tolerance.
        .config("spark.sql.ansi.enabled", "false")
        # Arrow for any pandas-UDF path (LLM extensions).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
    )
    # Shuffle and spill files on tmpfs: on a shared disk with
    # multi-second I/O jitter the shuffle-heavy dedup queries swung
    # 2-10x between runs while CPU-bound ones stayed flat. Local-mode
    # shuffle volume is small beside RAM; a cluster puts
    # spark.local.dir on node-local SSDs.
    local_dir = _local_dir()
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    if SparkContext._gateway is not None:  # the JVM runs already
        return builder.getOrCreate()
    return _launch(builder)
