"""Closed-loop benchmark of the ``@query`` registry, driven from outside.

Usage (from the repository root)::

    python3 perfbench/run.py --workload relational_sf01 --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --selftest

Each run starts the engine the way a server does (JVM launch and
``get_session``, then ``load_all``, then one warm-up action), runs every
query of the workload once with ``collect()`` and checks it against its
DuckDB oracle, and runs untimed warm rounds. Then it measures a closed
loop with a noop sink: every client runs passes over its own query
stream, each pass in a seeded order, until ``--seconds`` have passed,
and no client waits for another. A query's latency is ``spec.fn()``
plus the sink action. ``--trace 1`` runs untraced and traced phases in
ABBA order and reports per-layer numbers from the traced ones, plus
the tracing overhead. The last stdout line is the
result object; the line before it is the full report (settings, sample
counts, per-query counters), also written under
``.perfbench_work/results``. See ``perfbench/NOTES.md``.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import json
import os
import random
import statistics
import subprocess
import sys
import threading
import time

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
sys.path[:0] = [HERE, ROOT]

import check  # noqa: E402
import gen  # noqa: E402
import tracing  # noqa: E402
import workloads as W  # noqa: E402

DATA_SEED = 42  # base tables are fixed, like the shipped fixtures
SF = 0.1
DRIVER_MEM = "4g"
WORKLOADS = ("relational_sf01", "shared_session_mixed")
# untimed rounds after the check round: the first ones still run 20-70%
# slow while the JIT compiles, and the next ones still 10-20%
WARM_ROUNDS = {"relational_sf01": 3, "shared_session_mixed": 2}


def pin_environment() -> dict:
    """Pin the settings that move timings; keep every file in WORK."""
    cpus = len(os.sched_getaffinity(0))
    dirs = {k: os.path.join(WORK, k) for k in ("local", "scratch", "tmp", "warehouse")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_GRAFT_LOCAL_DIR": dirs["local"],
        "SPARK_GRAFT_SCRATCH_DIR": dirs["scratch"],
        "TMPDIR": dirs["tmp"],
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
        # no hsperfdata file in the system temp dir
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={dirs['tmp']} "
                             f"-Dderby.system.home={dirs['tmp']} -XX:-UsePerfData",
        "PYSPARK_SUBMIT_ARGS": "--conf spark.ui.showConsoleProgress=false "
                               f"--conf spark.sql.warehouse.dir={dirs['warehouse']} "
                               "pyspark-shell",
    })
    os.chdir(WORK)  # relative paths the engine writes stay in WORK
    return {"cpus": cpus, "driver_mem": DRIVER_MEM}


def source_digest() -> str:
    """sha256 over the package sources: names the code that was measured."""
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "hive_service_spark")
    for d, subdirs, files in sorted(os.walk(pkg)):
        subdirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def cpu_times() -> list[int]:
    """Aggregate jiffies from /proc/stat; index 7 is time stolen by the host."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_frac(start: list[int], end: list[int]) -> float:
    d = [b - a for a, b in zip(start, end)]
    return d[7] / max(1, sum(d))


def tail_percentile(samples: list[float]) -> tuple[float, int]:
    """Highest percentile with at least ten samples beyond it."""
    s = sorted(samples)
    k = max(1, len(s) - 10)
    return s[k - 1], int(100 * k / len(s))


class Engine:
    """One SparkSession plus the registry, started the way a server is."""

    def __init__(self, spans):
        self.spans = spans
        self.setup: dict[str, float] = {}
        self.spark = None
        self.specs = None

    def start(self, first_table: str) -> None:
        from hive_service_spark.session import get_session
        t0 = time.perf_counter()
        with self.spans.span("session.get_session"):
            spark = get_session("perfbench")
        t1 = time.perf_counter()
        from hive_service_spark.registry import load_all
        with self.spans.span("registry.load_all"):
            specs = load_all()
        t2 = time.perf_counter()
        with self.spans.span("session.first_action"):
            spark.read.parquet(first_table).count()
        t3 = time.perf_counter()
        spark.sparkContext.setLogLevel("OFF")
        self.spark, self.specs = spark, specs
        self.setup = {"get_session_s": t1 - t0, "load_all_s": t2 - t1,
                      "first_action_s": t3 - t2, "setup_s": t3 - t0}

    def close(self) -> None:
        """Stop Spark and wait for the JVM process to end."""
        from pyspark import SparkContext
        if self.spark is None:
            return
        gw = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            if proc is not None:
                if proc.stdin:
                    proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()


def du_mb(path: str) -> float:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            try:
                total += os.lstat(os.path.join(d, f)).st_size
            except OSError:
                pass
    return total / 2**20


class Runner:
    """Executes registered queries; records samples, failures, counters."""

    def __init__(self, engine: Engine, sf_dir: str, oracle, scratch_root):
        self.e = engine
        self.sf_dir = sf_dir
        self.oracle = oracle
        self.scratch_root = scratch_root
        self.lock = threading.Lock()
        self.attempted = 0
        self.failed = 0
        self.mismatches: dict[str, str] = {}
        self.checked: set[str] = set()
        self.errors: dict[str, str] = {}  # exceptions in timed runs
        self.check_s: dict[str, float] = {}  # cold fn() + collect() per query
        self.seq = 0

    def _group(self, client: int, name: str) -> str:
        with self.lock:
            self.seq += 1
            return f"perfbench:{client}:{name}:{self.seq}"

    def check(self, client: int, name: str) -> None:
        """Run once with collect() and compare against the oracle."""
        spark, spec = self.e.spark, self.e.specs[name]
        spark.sparkContext.setJobGroup(self._group(client, name), name)
        t0 = time.perf_counter()
        try:
            df = spec.fn(spark, self.sf_dir)
            rows = [tuple(r) for r in df.collect()]
            self.check_s[name] = round(time.perf_counter() - t0, 4)
            with self.lock:  # one DuckDB connection for all clients
                why = check.verdict(self.oracle, spec, df.columns, rows)
        except Exception as ex:  # counted, never hidden
            why = _why(ex)
        with self.lock:
            self.attempted += 1
            if why is None:
                self.checked.add(name)
            else:
                self.failed += 1
                self.mismatches[name] = why

    def measure(self, client: int, name: str, traced: bool) -> dict | None:
        """One timed execution: fn() plus the noop sink."""
        spark, spec = self.e.spark, self.e.specs[name]
        group = self._group(client, name)
        spark.sparkContext.setJobGroup(group, name)
        is_write = name in W.WRITES
        before = du_mb(self.scratch_root) if traced and is_write else 0.0
        span = self.e.spans.span if traced else _no_span
        try:
            with span("query", query=name, group=group) as q:
                with span("registry.fn"):
                    t0 = time.perf_counter()
                    df = spec.fn(spark, self.sf_dir)
                    t1 = time.perf_counter()
                with span("spark.action"):
                    df.write.format("noop").mode("overwrite").save()
                    t2 = time.perf_counter()
        except Exception as ex:  # counted, never hidden
            with self.lock:
                self.attempted += 1
                self.failed += 1
                self.errors.setdefault(name, _why(ex))
            return None
        with self.lock:
            self.attempted += 1
        rec = {"name": name, "module": spec.fn.__module__.replace("hive_service_spark.", ""),
               "client": client, "write": is_write,
               "start": t0, "end": t2, "wall_s": t2 - t0, "fn_s": t1 - t0,
               "action_s": t2 - t1}
        if traced:
            rec.update(tracing.stage_profile(spark, group, q["start"], q["end"]))
            if is_write:
                rec["scratch_mb"] = max(0.0, du_mb(self.scratch_root) - before)
        return rec


def _no_span(name: str, **attrs):
    return contextlib.nullcontext({})


def _why(ex: Exception) -> str:
    lines = str(ex).splitlines()
    return f"{type(ex).__name__}: {lines[0][:200] if lines else ''}"


def run_round(runner: Runner, streams: list[list[str]], traced: bool | None) -> None:
    """All client streams once, one thread each, started together; used
    for the check round (``traced=None``) and the untimed warm rounds."""
    start = threading.Barrier(len(streams))

    def client(i: int, names: list[str]) -> None:
        start.wait()
        for n in names:
            if traced is None:
                runner.check(i, n)
            else:
                runner.measure(i, n, traced)

    _join([threading.Thread(target=client, args=(i, s)) for i, s in enumerate(streams)])


def run_phase(runner: Runner, streams: list[list[str]], rngs: list[random.Random],
              traced: bool, seconds: float) -> dict:
    """Measured closed loop. Each client runs its own stream over and
    over, each pass in an order its ``rng`` draws, and starts passes
    until ``seconds`` have passed, so it makes at least one. It stops
    starting queries at the deadline; no client waits for another, so
    every client is busy until then. Returns the window and, per client,
    its passes as (start, end, records)."""
    passes: list[list[tuple]] = [[] for _ in streams]
    t0 = time.perf_counter()
    deadline = t0 + seconds

    def client(i: int) -> None:
        while not passes[i] or time.perf_counter() < deadline:
            order = list(streams[i])
            rngs[i].shuffle(order)
            start, recs = time.perf_counter(), []
            for n in order:
                if passes[i] and time.perf_counter() >= deadline:
                    break
                r = runner.measure(i, n, traced)
                if r is not None:
                    recs.append(r)
            passes[i].append((start, time.perf_counter(), recs))

    _join([threading.Thread(target=client, args=(i,)) for i in range(len(streams))])
    return {"start": t0, "deadline": deadline, "end": time.perf_counter(),
            "passes": passes}


def _join(threads: list[threading.Thread]) -> None:
    for t in threads:
        t.start()
    for t in threads:
        t.join()


def plan_streams(workload: str, cpus: int) -> list[list[str]]:
    """Per-client query streams; each pass shuffles its own copy."""
    if workload == "relational_sf01":
        return [list(W.RELATIONAL)]
    return W.deal(W.MIXED_READS + W.WRITES, cpus)


def shuffled(streams: list[list[str]], rngs: list[random.Random]) -> list[list[str]]:
    out = [list(s) for s in streams]
    for s, rng in zip(out, rngs):
        rng.shuffle(s)
    return out


def records(phases: list[dict]) -> list[dict]:
    return [r for p in phases for ps in p["passes"] for _, _, recs in ps for r in recs]


def by_query(recs: list[dict]) -> dict[str, list[dict]]:
    out: dict[str, list[dict]] = {}
    for r in recs:
        out.setdefault(r["name"], []).append(r)
    return out


def end_to_end(phases: list[dict]) -> dict:
    """Throughput sums each client's rate over its whole passes that
    ended inside a window (at least its first): every client is busy
    until the deadline, so each counted pass ran under the same load,
    and a whole pass holds every query of the stream, so the mix does
    not move it. Median latency is the median over queries of each
    query's median, over queries started inside a window, so a stretch
    the host slowed does not move it; the tail pools those samples."""
    done = [0] * len(phases[0]["passes"])
    busy = [0.0] * len(done)
    started = []
    for p in phases:
        for i, ps in enumerate(p["passes"]):
            whole = [x for x in ps if x[1] <= p["deadline"]] or ps[:1]
            done[i] += sum(len(recs) for _, _, recs in whole)
            busy[i] += whole[-1][1] - p["start"]
            started += [r for _, _, recs in ps for r in recs if r["start"] < p["deadline"]]
    per_query = {n: [round(r["wall_s"], 4) for r in rs]
                 for n, rs in sorted(by_query(started).items())}
    lat = [x for v in per_query.values() for x in v]
    tail, pct = tail_percentile(lat)
    return {"throughput_qpm": 60.0 * sum(d / b for d, b in zip(done, busy)),
            "latency_p50_s": statistics.median(statistics.median(v) for v in per_query.values()),
            "latency_pooled_p50_s": statistics.median(lat),
            "latency_tail_s": tail, "tail_percentile": pct, "samples": len(lat),
            "client_queries": done, "client_busy_s": busy,
            "pass_wall_s": [[[round(b - a, 4) for a, b, _ in ps] for ps in p["passes"]]
                            for p in phases],
            "phase_wall_s": [p["end"] - p["start"] for p in phases], "per_query_s": per_query}


def per_layer(phases: list[dict], engine: Engine, cpus: int) -> dict:
    """Per-round values of each layer, with units. A round is one
    execution of every query of the workload: the sum, over its queries,
    of each query's mean over its traced executions, so the mix of
    queries the clients happened to complete does not move it."""
    by = by_query(records(phases))
    wall = sum(p["end"] - p["start"] for p in phases)
    mb = 2**20

    def per_round(key: str, names=by) -> float:
        return sum(statistics.mean(r[key] for r in by[n]) for n in names)

    writes = [n for n in by if n in W.WRITES]
    scratch_mb = per_round("scratch_mb", writes)
    write_in_mb = per_round("input_b", writes) / mb
    run_s = sum(r["run_s"] for rs in by.values() for r in rs)
    m = {
        "session.get_session_s": (engine.setup["get_session_s"], "s"),
        "session.first_action_s": (engine.setup["first_action_s"], "s"),
        "registry.load_all_s": (engine.setup["load_all_s"], "s"),
        "registry.fn_s": (per_round("fn_s"), "s"),
        "spark.action_s": (per_round("action_s"), "s"),
        "spark.driver_gap_s": (per_round("driver_gap_s"), "s"),
        "spark.jobs": (per_round("jobs"), "count"),
        "spark.stages": (per_round("stages"), "count"),
        "spark.tasks": (per_round("tasks"), "count"),
        "spark.failed_tasks": (per_round("failed_tasks"), "count"),
        "spark.run_s": (per_round("run_s"), "s"),
        "spark.cpu_s": (per_round("cpu_s"), "s"),
        "spark.gc_s": (per_round("gc_s"), "s"),
        "spark.busy_frac": (run_s / (wall * cpus), "fraction"),
        "spark.shuffle_write_mb": (per_round("shuffle_write_b") / mb, "MB"),
        "spark.shuffle_read_mb": (per_round("shuffle_read_b") / mb, "MB"),
        "spark.spill_mb": (per_round("spill_b") / mb, "MB"),
        "spark.input_mb": (per_round("input_b") / mb, "MB"),
        "spark.skew_ratio": (statistics.mean(
            statistics.mean(r["skew_ratio"] for r in rs) for rs in by.values()), "ratio"),
        "scratch.written_mb": (scratch_mb, "MB"),
        "scratch.write_amp": (scratch_mb / write_in_mb if write_in_mb else 0.0, "ratio"),
    }
    for mod in W.MODULES:
        mine = [n for n, rs in by.items() if rs[0]["module"] == mod]
        m[f"{mod}.wall_s"] = (per_round("wall_s", mine), "s")
        m[f"{mod}.exec_run_s"] = (per_round("run_s", mine), "s")
        m[f"{mod}.jobs"] = (per_round("jobs", mine), "count")
    return m


def fingerprint(phases: list[dict]) -> dict:
    """Per-query counters of every traced execution: jobs, stages and
    tasks repeat exactly across warm runs, shuffle bytes to ~0.01%."""
    return {n: [[r["jobs"], r["stages"], r["tasks"], r["shuffle_write_b"]] for r in rs]
            for n, rs in sorted(by_query(records(phases)).items())}


def unattributed_jobs(phases: list[dict]) -> float:
    """Jobs launched during a traced phase that no job group claims, per
    round (one execution of every query of the workload)."""
    missing = 0
    for phase in phases:
        ids = {j for r in records([phase]) for j in r["job_ids"]}
        if ids:
            missing += max(ids) - min(ids) + 1 - len(ids)
    recs = records(phases)
    return missing * len(by_query(recs)) / len(recs)


def spark_settings(spark) -> dict:
    keys = ("spark.master", "spark.driver.memory", "spark.local.dir",
            "spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled",
            "spark.sql.adaptive.coalescePartitions.enabled",
            "spark.sql.adaptive.skewJoin.enabled", "spark.sql.join.preferSortMergeJoin",
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
            "spark.sql.autoBroadcastJoinThreshold")
    return {k: spark.conf.get(k, None) for k in keys}


def prepare_data() -> tuple[str, dict]:
    t0 = time.perf_counter()
    base = os.path.join(WORK, "data", f"sf{SF}-seed{DATA_SEED}")
    os.makedirs(os.path.dirname(base), exist_ok=True)
    digest = gen.base_tables(base, DATA_SEED, SF)
    return base, {"dir": base, "digest": digest, "gen_s": time.perf_counter() - t0}


# q3 at local[4] on the generated sf0.1 tables: jobs, stages and tasks
# (skipped ones included) repeat exactly; shuffle bytes to within 0.01%.
Q3_PIN = {"jobs": 7, "stages": 8, "tasks": 10, "shuffle_write_b": 20759}


def selftest(runner: Runner, reps: int = 3) -> int:
    """Exit 0 when q3's counters match ``Q3_PIN`` on every warm run."""
    name = "q3_shipping_priority"
    runner.measure(0, name, False)  # warm-up
    bad = []
    for _ in range(reps):
        r = runner.measure(0, name, True)
        got = {k: r[k] for k in Q3_PIN} if r else {}
        exact = all(got.get(k) == Q3_PIN[k] for k in ("jobs", "stages", "tasks"))
        b = got.get("shuffle_write_b", 0)
        if not exact or abs(b - Q3_PIN["shuffle_write_b"]) > 1e-4 * Q3_PIN["shuffle_write_b"]:
            bad.append(got)
        print(json.dumps({"query": name, **got}))
    print("selftest " + ("FAILED: " + json.dumps(bad) if bad else "ok"))
    return 1 if bad else 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true",
                    help="pin q3's counters at local[4] and exit")
    args = ap.parse_args(argv)
    if not args.selftest and not args.workload:
        ap.error("--workload is required")

    pinned = pin_environment()
    if args.selftest:
        os.environ["SPARK_GRAFT_CPUS"] = "4"
        pinned["cpus"] = 4
    loadavg_start, cpu_start = os.getloadavg(), cpu_times()
    data_dir, data = prepare_data()
    spans = tracing.Spans()
    engine = Engine(spans)
    try:
        engine.start(os.path.join(data_dir, "nation.parquet"))
        from hive_service_spark import scratch
        oracle = check.Oracle(data_dir, os.path.join(data_dir, f"oracle-{data['digest']}.json"))
        runner = Runner(engine, data_dir, oracle, scratch.SCRATCH_ROOT)
        if args.selftest:
            return selftest(runner)
        report, metrics = measure(args, pinned["cpus"], engine, runner)
        report["settings"] = {
            **pinned, **spark_settings(engine.spark), "scratch_root": scratch.SCRATCH_ROOT,
            "spark_version": engine.spark.version, "source_digest": source_digest(),
            "loadavg_start": loadavg_start, "loadavg_end": os.getloadavg(),
            "cpu_steal_frac": steal_frac(cpu_start, cpu_times())}
        report["data"] = data
    finally:
        engine.close()

    out = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
    report["metrics"] = out
    report["run_wall_s"] = time.perf_counter() - T_START
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(WORK, "results", name), "w") as f:
        json.dump({**report, "span_log": spans.rows}, f, default=str)
    print(json.dumps(report, default=str))
    names = {n for s in plan_streams(args.workload, pinned["cpus"]) for n in s}
    print(json.dumps({"correct": not runner.mismatches and names <= runner.checked,
                      "attempted": runner.attempted, "failed": runner.failed,
                      "metrics": out}))
    return 0


def measure(args, cpus: int, engine: Engine, runner: Runner) -> tuple[dict, dict]:
    """Check round, warm rounds, then measured phases; returns (report, metrics)."""
    streams = plan_streams(args.workload, cpus)
    for n in (n for s in streams for n in s):
        mod = engine.specs[n].fn.__module__.replace("hive_service_spark.", "")
        if mod not in W.MODULES:
            raise SystemExit(f"{n}: module {mod} is not in workloads.MODULES")
    rngs = [random.Random(args.seed * 1000 + i) for i in range(len(streams))]
    # check round: every query once with collect(), outside timed spans
    t_check = time.perf_counter()
    run_round(runner, shuffled(streams, rngs), None)
    check_s = time.perf_counter() - t_check
    runner.oracle.close()
    for _ in range(WARM_ROUNDS[args.workload]):
        run_round(runner, shuffled(streams, rngs), False)

    untraced, traced = [], []
    if args.trace:
        # ABBA phases, so JIT warm-up favours neither side
        for tr in (False, True, True, False):
            (traced if tr else untraced).append(
                run_phase(runner, streams, rngs, tr, args.seconds / 4))
    else:
        untraced.append(run_phase(runner, streams, rngs, False, args.seconds))

    e2e = end_to_end(untraced)
    jvm_pid = engine.spark._jvm.java.lang.ProcessHandle.current().pid()
    peak_rss_mb = vm_hwm_mb(jvm_pid) + vm_hwm_mb(os.getpid())
    failed_frac = runner.failed / max(1, runner.attempted)
    metrics = {
        "setup_s": (engine.setup["setup_s"], "s"),
        "throughput_qpm": (e2e["throughput_qpm"], "1/min"),
        "latency_p50_s": (e2e["latency_p50_s"], "s"),
        "ok_frac": (1.0 - failed_frac, "fraction"),
    }
    report = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "streams": streams, "end_to_end": e2e, "setup": engine.setup,
        "peak_rss_mb": peak_rss_mb, "failed_frac": failed_frac, "mismatches": runner.mismatches,
        "timed_errors": runner.errors, "check_s": check_s,
        "check_per_query_s": runner.check_s,
    }
    if args.trace:
        metrics = per_layer(traced, engine, cpus)
        t2e = end_to_end(traced)
        for k, unit in (("throughput_qpm", "1/min"), ("latency_p50_s", "s"),
                        ("latency_tail_s", "s")):
            metrics[f"trace.overhead.{k}"] = (t2e[k] - e2e[k], unit)
        metrics["bench.failed_frac"] = (failed_frac, "fraction")
        metrics["peak_rss_mb"] = (peak_rss_mb, "MB")
        # the tail needs more than 20 samples: pool both kinds of phase
        metrics["latency_tail_s"] = (end_to_end(untraced + traced)["latency_tail_s"], "s")
        metrics["spark.unattributed_jobs"] = (unattributed_jobs(traced), "count")
        report.update(traced_end_to_end=t2e, fingerprint=fingerprint(traced),
                      undrained_profiles=sum(not r["drained"] for r in records(traced)),
                      spans=len(engine.spans.rows))
    return report, metrics


if __name__ == "__main__":
    sys.exit(main())
