"""Output checks: each query's rows against its DuckDB oracle.

The canonical form is the one tools/driver_sim.py uses: columns sorted by name,
floats rounded to 6 places, dates and timestamps as ISO strings, every
cell as its ``repr``, rows sorted, then one sha256 over the lot. A
query passes when row count, column names and that hash all agree.
Queries without an oracle pass on a non-zero row count.
"""

from __future__ import annotations

import hashlib
import json
import os

import duckdb
from hive_service_spark.catalog import TABLES


def canon(cols, rows) -> str:
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


class Oracle:
    """DuckDB views over one input directory.

    Answers are kept in ``cache_path`` keyed by the oracle text's sha256;
    the caller names the file after the input's digest, so a cached
    answer is always the oracle's answer over the same bytes."""

    def __init__(self, sf_dir: str, cache_path: str):
        self.sf_dir = sf_dir
        self.con = None
        self.path = cache_path
        try:
            with open(cache_path) as f:
                self._memo = json.load(f)
        except (OSError, ValueError):
            self._memo = {}
        self._dirty = False

    def expected(self, sql: str) -> tuple[int, list[str], str]:
        key = hashlib.sha256(sql.encode()).hexdigest()
        if key not in self._memo:
            if self.con is None:
                self.con = duckdb.connect()
                for t in TABLES:
                    self.con.execute(
                        f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{self.sf_dir}/{t}.parquet')"
                    )
            rel = self.con.execute(sql)
            cols = [c[0] for c in rel.description]
            rows = rel.fetchall()
            self._memo[key] = [len(rows), sorted(cols), canon(cols, rows)]
            self._dirty = True
        return tuple(self._memo[key])

    def close(self) -> None:
        if self.con is not None:
            self.con.close()
        if self._dirty:
            tmp = f"{self.path}.tmp{os.getpid()}"
            with open(tmp, "w") as f:
                json.dump(self._memo, f)
            os.replace(tmp, self.path)


def verdict(oracle: Oracle, spec, cols, rows) -> str | None:
    """None when the output is correct, else a one-line reason."""
    if spec.oracle is None:
        return None if rows else "no oracle and 0 rows"
    n, want_cols, want_hash = oracle.expected(spec.oracle)
    want_cols = list(want_cols)
    if len(rows) != n:
        return f"rows {len(rows)} != oracle {n}"
    if sorted(cols) != want_cols:
        return f"columns {sorted(cols)} != oracle {want_cols}"
    if canon(cols, rows) != want_hash:
        return "value hash differs from oracle"
    return None
