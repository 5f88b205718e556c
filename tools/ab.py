"""Interleaved A/B of two query variants in one SparkSession.

Usage: python tools/ab.py A B

A variant is a registered query name or `path/to/file.py:function`,
a function `(spark, sf_dir) -> DataFrame`; the file form lets a shape
that is not registered (say, an older join order taken from git
history) be measured against the registered one. Both run at
`bench.SF_DIR`, and both run through `registry.run`, each call in its
own copy of the session, so a variant's conf writes never reach the
other side.

Before timing, both answers are collected and compared as sorted rows,
floats within 1e-6 (two join orders accumulate double sums in
different orders); the tool exits non-zero if they differ. Then each
variant gets one uncounted warmup and ALTERNATIONS alternations run in
ABBA order (A B, B A, A B, ...), each run one `bench.measure(...,
reps=1, warmup=0)`, so host drift hits both variants alike.

Prints one JSON line: per-variant samples, median and quartiles, the
ratio of B's median to A's, each variant's generated-class compiles
over its alternations (`codegen_compiles`; a warm variant whose classes
stay in the JVM's code cache compiles 0), the number of alternations B
won, the sf dir and loadavg_start.
"""

from __future__ import annotations

import functools
import importlib.util
import json
import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import SF_DIR, measure  # noqa: E402
from hive_service_spark.registry import load_all, run  # noqa: E402
from hive_service_spark.session import codegen_counters, get_session  # noqa: E402

# ten pairs: the fewest on which a 9-of-10 win rule can be applied
ALTERNATIONS = 10
FLOAT_TOL = 1e-6


def resolve(variant: str):
    """The `(spark, sf_dir) -> DataFrame` function a variant names."""
    path, sep, fn_name = variant.rpartition(":")
    if sep and path.endswith(".py"):
        spec = importlib.util.spec_from_file_location(
            f"ab_variant_{os.path.basename(path)[:-3]}", path
        )
        module = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(module)
        return functools.partial(run, getattr(module, fn_name))
    specs = load_all()
    if variant not in specs:
        raise SystemExit(f"ab.py: {variant!r} is neither registered nor file.py:fn")
    return specs[variant].fn


def _sorted_rows(df) -> list[tuple]:
    # None sorts first; query outputs hold scalars only (output canon)
    return sorted(
        (tuple(row) for row in df.collect()),
        key=lambda r: tuple((0,) if v is None else (1, v) for v in r),
    )


def _same(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        return abs(a - b) <= FLOAT_TOL
    return a == b


def _disagreement(rows_a: list[tuple], rows_b: list[tuple]) -> str | None:
    if len(rows_a) != len(rows_b):
        return f"{len(rows_a)} rows vs {len(rows_b)}"
    for ra, rb in zip(rows_a, rows_b):
        if len(ra) != len(rb) or not all(map(_same, ra, rb)):
            return f"first differing row: {ra} vs {rb}"
    return None


def _stats(samples: list[float]) -> dict:
    q1, _, q3 = statistics.quantiles(samples, n=4)
    return {
        "samples": [round(s, 3) for s in samples],
        "median": round(statistics.median(samples), 3),
        "q1": round(q1, 3),
        "q3": round(q3, 3),
    }


def ab(spark, a: str, b: str, sf_dir: str = SF_DIR) -> dict:
    """Check that variants `a` and `b` agree, then time them
    interleaved; returns the JSON record."""
    try:
        loadavg_start = [round(x, 2) for x in os.getloadavg()]
    except OSError:  # platform without getloadavg
        loadavg_start = None
    fns = {
        "a": functools.partial(resolve(a), spark, sf_dir),
        "b": functools.partial(resolve(b), spark, sf_dir),
    }
    why = _disagreement(_sorted_rows(fns["a"]()), _sorted_rows(fns["b"]()))
    spark.catalog.clearCache()
    if why:
        raise SystemExit(f"ab.py: variants {a!r} and {b!r} disagree: {why}")
    for fn in fns.values():
        measure(spark, fn, reps=0, warmup=1)
    samples: dict[str, list[float]] = {"a": [], "b": []}
    compiles = {"a": 0, "b": 0}
    for i in range(ALTERNATIONS):
        for k in ("ab" if i % 2 == 0 else "ba"):
            before = codegen_counters(spark)["compiles"]
            samples[k] += measure(spark, fns[k], reps=1, warmup=0)
            compiles[k] += codegen_counters(spark)["compiles"] - before
    stats = {k: _stats(v) for k, v in samples.items()}
    return {
        "a": {"variant": a, **stats["a"]},
        "b": {"variant": b, **stats["b"]},
        "b_over_a_median": round(stats["b"]["median"] / stats["a"]["median"], 3),
        "codegen_compiles": compiles,
        "b_wins": sum(tb < ta for ta, tb in zip(samples["a"], samples["b"])),
        "alternations": ALTERNATIONS,
        "sf": sf_dir,
        "loadavg_start": loadavg_start,
    }


def main() -> None:
    if len(sys.argv) != 3:
        raise SystemExit(__doc__)
    spark = get_session("ab")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        print(json.dumps(ab(spark, sys.argv[1], sys.argv[2])))
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
