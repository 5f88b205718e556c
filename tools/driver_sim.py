"""Simulate the driver's verify: smoke entry() + oracle cross-check.

Deliberately uses a PLAIN SparkSession (driver-like defaults, none of
our session.py tuning) so we catch anything that only works under our
own config. Usage: python tools/driver_sim.py [sf_dir]
"""

from __future__ import annotations

import hashlib
import os
import re
import sys
import time

import duckdb
from pyspark.sql import SparkSession

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import __spark_entry__ as e  # noqa: E402

_args = [a for a in sys.argv[1:] if not a.startswith("--")]
SF = _args[0] if _args else "/root/testdata/sf0.01"
# --only=name1,name2 restricts the oracle sweep (full gate still the default)
# --sample=N picks a deterministic pseudo-random N-query subset; add
#   --seed=S to rotate it (different seeds exercise different families
#   — proposed so graded rounds can sweep beyond the fixed core sample;
#   proposal: seed = round number, so every family gets graded exposure
#   across rounds)
# --sample + --only compose as a UNION (round-8 ADVICE): a seeded
#   sample can exclude every query a diff touched, so a sampled gate
#   run MUST pair the rotation with --only=<touched queries> — the
#   union guarantees the changed code paths are oracle-checked even
#   when the rotation misses them
ONLY = None
SAMPLE = None
SEED = 0
for _a in sys.argv[1:]:
    if _a.startswith("--only="):
        ONLY = set(_a.split("=", 1)[1].split(","))
    elif _a.startswith("--sample="):
        SAMPLE = int(_a.split("=", 1)[1])
    elif _a.startswith("--seed="):
        SEED = int(_a.split("=", 1)[1])
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def canon(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        cells = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                v = round(v, 6)
            if hasattr(v, "isoformat"):
                v = v.isoformat()
            cells.append(repr(v))
        out.append("|".join(cells))
    out.sort()
    return hashlib.sha256("\n".join(out).encode()).hexdigest()[:16]


def pandas_canon(cols, rows):
    """Mimic the REAL driver's canonicalizer, which goes through pandas
    (sort_values -> repr per cell). This path CRASHES on unhashable
    cells (list/dict/bytearray — round-1 agg_collect/agg_sketches reds)
    and repr-diverges on Decimal vs float64 (window_range_decimal red),
    none of which the repr canon above catches. Returns (hash, err)."""
    import numpy as np
    import pandas as pd

    def _cell(v):
        if isinstance(v, np.generic):
            v = v.item()  # neutralize int32-vs-int64 width noise
        if isinstance(v, float):
            v = round(v, 6)
        if v is not None and hasattr(v, "isoformat"):
            v = v.isoformat()  # datetime == Timestamp; date != midnight-ts
        return repr(v)

    try:
        if rows is None:
            df = cols  # caller passed a prebuilt pandas DataFrame
        else:
            df = pd.DataFrame(list(rows), columns=list(cols))
        df = df[sorted(df.columns)]
        for c in df.columns:
            if df[c].dtype == "float64":
                df[c] = df[c].round(6)
        if len(df) and len(df.columns):
            # multi-column sort_values goes through lexsort/factorize,
            # which is exactly where the real driver crashes on
            # unhashable cells — keep that behavior
            df = df.sort_values(by=list(df.columns), kind="mergesort")
        payload = "\n".join(
            "|".join(_cell(v) for v in row)
            for row in df.itertuples(index=False)
        )
        return hashlib.sha256(payload.encode()).hexdigest()[:16], None
    except Exception as ex:  # the driver records this as ERR
        return None, f"{type(ex).__name__}: {ex}"


def main():
    spark = SparkSession.builder.master("local[8]").appName("driver-sim").getOrCreate()
    t0 = time.time()
    rows = e.entry(spark).collect()
    print(f"entry: {len(rows)} rows in {time.time()-t0:.1f}s schema_ok={len(rows[0]) == 10}")
    assert len(rows) > 0

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')")

    qs, oracles = e.queries(), e.oracle_sql()
    if "--inject-crash" in sys.argv:
        # self-test for the per-query crash-proofing: a deliberately
        # raising query must be recorded as ERR, the sweep must continue
        # past it, and the exit code must still be non-zero.
        def _boom(_spark, _sf):
            raise RuntimeError("injected crash (driver_sim self-test)")

        qs = dict(qs)
        qs["aaa_injected_crash"] = _boom  # sorts FIRST: proves continuation
    sampled = None
    if SAMPLE is not None:
        # seed-keyed rotation: rank every query by sha256(seed:name)
        # and take the first N — deterministic for a given seed, and a
        # different seed rotates the subset across ALL families
        # (LLM/streaming included), unlike a fixed head-of-list sample
        ranked = sorted(
            qs,
            key=lambda n: hashlib.sha256(f"{SEED}:{n}".encode()).hexdigest(),
        )
        sampled = set(ranked[:SAMPLE])
        print(f"sample: {len(sampled)}/{len(qs)} queries (seed={SEED})")
    # --sample and --only UNION (header note): the sampled rotation
    # plus the explicitly-named touched queries, never an intersection
    selected = None
    if ONLY is not None or sampled is not None:
        selected = (ONLY or set()) | (sampled or set())
    n_pass = n_fail = n_rowsonly = n_empty = 0
    empty_names = []
    for name, fn in sorted(qs.items()):
        if selected is not None and name not in selected:
            continue
        t0 = time.time()
        # crash-proof per query (round-6 advice): one raising query must
        # not abort the sweep and hide every query sorted after it —
        # record it as ERR/FAIL and continue.
        try:
            sdf = fn(spark, SF)
            srows = [tuple(r) for r in sdf.collect()]
            scols = sdf.columns
        except Exception as ex:
            print(f"  {name}: ERR {type(ex).__name__}: {str(ex)[:200]} "
                  f"({time.time()-t0:.1f}s)")
            n_fail += 1
            continue
        if not srows:
            # vacuity lint: a 0-row result trivially satisfies
            # rows+schema+hash, so an "OK n=0" verifies nothing about the
            # operator under test. Enforced at the sf0.01 gate (smaller
            # smoke sfs may legitimately run dry).
            n_empty += 1
            empty_names.append(name)
        if name not in oracles:
            # even rows-only outputs go through the real driver's pandas
            # canon — an unhashable cell is an ERR there, so it is here
            _, perr = pandas_canon(scols, srows)
            if perr:
                print(f"  {name}: PCANON-ERR {perr} ({time.time()-t0:.1f}s)")
                n_fail += 1
            else:
                print(f"  {name}: rows-only n={len(srows)} ({time.time()-t0:.1f}s)")
                n_rowsonly += 1
            continue
        try:
            rel = con.execute(oracles[name])
            dcols = [c[0] for c in rel.description]
            drows = rel.fetchall()
            ph_s, perr_s = pandas_canon(scols, srows)
            # the real driver's oracle side goes through duckdb's pandas
            # conversion (DECIMAL -> float64, DATE -> midnight Timestamp)
            # — re-execute and take .df() to reproduce that rendering
            ph_d, perr_d = pandas_canon(con.execute(oracles[name]).df(), None)
        except Exception as ex:
            print(f"  {name}: ORACLE-ERR {type(ex).__name__}: "
                  f"{str(ex)[:200]} ({time.time()-t0:.1f}s)")
            n_fail += 1
            continue
        ok = (
            len(srows) == len(drows)
            and sorted(scols) == sorted(dcols)
            and canon(scols, srows) == canon(dcols, drows)
            and perr_s is None
            and perr_d is None
            and ph_s == ph_d
        )
        n_pass += ok
        n_fail += not ok
        status = "OK " if ok else "FAIL"
        print(f"  {name}: {status} n={len(srows)} ({time.time()-t0:.1f}s)")
        if not ok:
            print(f"    spark cols={sorted(scols)} n={len(srows)}")
            print(f"    duck  cols={sorted(dcols)} n={len(drows)}")
            print(f"    repr={canon(scols, srows) == canon(dcols, drows)} "
                  f"pandas={ph_s == ph_d} perr_s={perr_s} perr_d={perr_d}")
    # zero-row lint applies at the sf0.01 gate and anything larger;
    # parse the scale factor from the dir basename instead of a
    # substring test (round-5 advice: '0.01' matched parent dirs and
    # missed renamed gates)
    m = re.search(r"sf(\d+(?:\.\d+)?)/*$", SF)
    if m:
        enforce_nonempty = float(m.group(1)) >= 0.01
    else:
        # an unparseable gate dir must not SILENTLY disable the
        # vacuity lint (round-6 advice) — warn loudly and enforce.
        print(f"WARN: cannot parse scale factor from {SF!r}; "
              "enforcing zero-row lint defensively")
        enforce_nonempty = True
    print(f"PASS={n_pass} FAIL={n_fail} ROWS_ONLY={n_rowsonly} EMPTY={n_empty}")
    if empty_names:
        print(f"  zero-row queries: {', '.join(empty_names)}")
    spark.stop()
    sys.exit(1 if n_fail or (enforce_nonempty and n_empty) else 0)


if __name__ == "__main__":
    main()
