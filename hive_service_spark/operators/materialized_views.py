"""Materialized-view rewrite — the Calcite ``rules/views`` analog.

Reference surface (SURVEY.md §1.1, §4.1b): Hive maintains materialized
views in the metastore and Calcite's 56-class ``optimizer/calcite/rules/
views`` package (``MaterializedViewAggregateRule`` et al.) rewrites a
user query onto an MV when the MV *contains* the query: the query's
grouping columns are a subset of the MV's dimensions, every measure is
derivable from the MV's stored aggregates, and every predicate touches
only MV dimensions. Freshness is tracked per-MV (a stale MV is skipped
unless rewriting on stale data is explicitly allowed).

Spark has no automatic MV rewrite (SURVEY.md §4.1 conclusion), so this
module supplies the missing piece Spark-first:

- ``MaterializedView`` declares dims + stored measures over a base view;
  ``build()`` materializes it ONCE as parquet partitioned for reuse.
- ``rewrite(request)`` performs the same containment test Calcite does
  and returns a DataFrame over the MV when it succeeds, or over the
  base table when it must fall back — callers always get the right
  answer, the MV is purely a physical shortcut.
- Derivations mirror Calcite's: SUM→SUM(sum), COUNT→SUM(count),
  MIN→MIN(min), MAX→MAX(max), AVG→SUM(sum)/SUM(count) (never AVG(avg)).

100 TB design: the MV is a parquet table ~|dims| in size (orders of
magnitude smaller than the base), so every rewritten query scans the
small pre-aggregate instead of the 100 TB fact table — the exact
reason the reference grew this feature. The rewrite itself is
driver-side plan construction (no data movement); freshness is a
manifest version check, not a base-table scan.
"""

from __future__ import annotations

import shutil
from dataclasses import dataclass, field

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession

from hive_service_spark import catalog
from hive_service_spark.catalog import load
from hive_service_spark.registry import query

# r14: per-pid scratch namespace via scratch.pid_dir (tmpfs-backed,
# reaped on dead pids). The old fixed repo-disk path was shared by
# every process WITHOUT per-pid names — the same latent
# rmtree-vs-read race the r13 warehouse fix closed, since two
# processes rebuild the same MV path concurrently; MV registry state
# is per-process anyway, so the storage now is too.
def _scratch() -> str:
    from hive_service_spark.scratch import pid_dir

    return pid_dir("mv")

# measure kinds the rewriter knows how to derive from stored partials
_DERIVABLE = {"sum", "count", "min", "max", "avg"}


@dataclass(frozen=True)
class Measure:
    """One aggregate the user query asks for: ``kind(source_sql)``."""

    kind: str  # sum | count | min | max | avg
    source: str  # SQL expression over base columns, e.g. "l_quantity"

    def __post_init__(self) -> None:
        if self.kind not in _DERIVABLE:
            raise ValueError(f"underivable aggregate kind {self.kind!r}")


@dataclass
class MaterializedView:
    """A stored group-by aggregate over one base view.

    ``measures`` maps a stable storage column name to the base SQL
    expression it aggregates. For every measure expression the MV
    stores the full derivation basis — sum, count, min, max — so any
    ``_DERIVABLE`` aggregate over that expression can be answered
    (Calcite keeps the same basis via its AggregateCall mapping).
    """

    name: str
    base: str  # registered view name, e.g. "lineitem"
    dims: tuple[str, ...]  # dimension SQL exprs WITH aliases, alias==usable name
    measures: dict[str, str]  # measure name -> base SQL expression
    version: int = 0
    _built_version: int = field(default=-1)

    @property
    def path(self) -> str:
        return f"{_scratch()}/{self.name}"

    def _dim_aliases(self) -> list[str]:
        return [d.split(" AS ")[-1].strip() for d in self.dims]

    def build(self, spark: SparkSession) -> None:
        """Materialize (or refresh) the MV as parquet."""
        dim_sql = ", ".join(self.dims)
        meas_sql = ", ".join(
            f"SUM(CAST(({expr}) AS DOUBLE)) AS {m}_sum, "
            f"COUNT({expr}) AS {m}_count, "
            f"MIN({expr}) AS {m}_min, MAX({expr}) AS {m}_max"
            for m, expr in self.measures.items()
        )
        mv_df = spark.sql(
            f"SELECT {dim_sql}, {meas_sql} FROM {self.base} "
            f"GROUP BY {', '.join(self._dim_aliases())}"
        )
        shutil.rmtree(self.path, ignore_errors=True)
        mv_df.write.mode("overwrite").parquet(self.path)
        self._built_version = self.version

    def invalidate(self) -> None:
        """Base table changed: bump version → MV is stale until rebuilt."""
        self.version += 1

    @property
    def fresh(self) -> bool:
        return self._built_version == self.version

    # --- the rewrite rule ----------------------------------------------------

    def can_answer(
        self,
        group_by: tuple[str, ...],
        measures: dict[str, Measure],
        filter_cols: tuple[str, ...] = (),
    ) -> bool:
        """Calcite-style containment test.

        True iff the MV is fresh, the query groups by a subset of the
        MV dimensions, filters only on MV dimensions, and every measure
        aggregates an expression the MV stored a basis for.
        """
        dim_set = set(self._dim_aliases())
        if not self.fresh:
            return False
        if not set(group_by) <= dim_set:
            return False
        if not set(filter_cols) <= dim_set:
            return False
        return all(m.source in self.measures.values() for m in measures.values())

    def _storage_name(self, source: str) -> str:
        for m, expr in self.measures.items():
            if expr == source:
                return m
        raise KeyError(source)

    def _derive(self, out_name: str, m: Measure) -> Column:
        s = self._storage_name(m.source)
        if m.kind == "sum":
            return F.sum(f"{s}_sum").alias(out_name)
        if m.kind == "count":
            return F.sum(f"{s}_count").alias(out_name)
        if m.kind == "min":
            return F.min(f"{s}_min").alias(out_name)
        if m.kind == "max":
            return F.max(f"{s}_max").alias(out_name)
        # avg: SUM(sum)/SUM(count) — re-averaging averages is wrong
        return (F.sum(f"{s}_sum") / F.sum(f"{s}_count")).alias(out_name)

    def rewrite(
        self,
        spark: SparkSession,
        group_by: tuple[str, ...],
        measures: dict[str, Measure],
        predicate: Column | None = None,
        filter_cols: tuple[str, ...] = (),
    ) -> tuple[DataFrame, bool]:
        """Answer the aggregate request, from the MV when containment
        holds, else from the base table. Returns (df, used_mv)."""
        if self.can_answer(group_by, measures, filter_cols):
            df = spark.read.parquet(self.path)
            if predicate is not None:
                df = df.filter(predicate)
            aggs = [self._derive(n, m) for n, m in measures.items()]
            return df.groupBy(*group_by).agg(*aggs), True
        # fallback: equivalent plan against the base view
        base = spark.table(self.base)
        dim_map = {a: d for d, a in zip(self.dims, self._dim_aliases())}
        for alias in self._dim_aliases():
            expr = dim_map[alias]
            src = expr.split(" AS ")[0].strip() if " AS " in expr else expr
            base = base.withColumn(alias, F.expr(src))
        if predicate is not None:
            base = base.filter(predicate)
        aggs = []
        for n, m in measures.items():
            fn = {"sum": F.sum, "count": F.count, "min": F.min,
                  "max": F.max, "avg": F.avg}[m.kind]
            col = F.expr(m.source)
            if m.kind == "sum":
                col = col.cast("double")
            aggs.append(fn(col).alias(n))
        return base.groupBy(*group_by).agg(*aggs), False


_MV_INSTANCES: dict[str, MaterializedView] = {}


def lineitem_revenue_mv() -> MaterializedView:
    """The demo MV: lineitem pre-aggregated by (returnflag, linestatus,
    ship_year) — ~|3×2×8| rows regardless of base size. One instance
    per process so freshness tracking persists across query calls —
    a repeat invocation reuses the built MV instead of re-aggregating
    the base table, which is the entire point of a materialized view."""
    return _MV_INSTANCES.setdefault("lineitem_rev_mv", MaterializedView(
        name="lineitem_rev_mv",
        base="lineitem",
        dims=(
            "l_returnflag",
            "l_linestatus",
            "YEAR(l_shipdate) AS ship_year",
        ),
        measures={
            "revenue": "l_extendedprice * (1 - l_discount)",
            "qty": "l_quantity",
        },
    ))


_MV_REWRITE_ORACLE = """
SELECT l_returnflag,
       EXTRACT(year FROM l_shipdate)::BIGINT AS ship_year,
       CAST(COUNT(l_quantity) AS BIGINT) AS n_items,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       ROUND(AVG(l_quantity), 4) AS avg_qty,
       ROUND(MAX(l_extendedprice * (1 - l_discount)), 2) AS max_rev
FROM lineitem
WHERE l_returnflag <> 'N'
GROUP BY l_returnflag, ship_year
ORDER BY l_returnflag, ship_year
"""


@query("mv_rewrite_rollup", oracle=_MV_REWRITE_ORACLE)
def mv_rewrite_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate query answered FROM THE MV via the rewrite rule: the
    query groups by a strict subset of MV dims, filters on a dim, and
    derives COUNT/SUM/AVG/MAX from the stored basis (AVG = sum/count
    re-derivation, the classic Calcite MaterializedViewAggregateRule
    case). The oracle runs the same query on the base table — matching
    values prove the rewrite is semantics-preserving. pytest pins that
    the physical plan scans the MV parquet, not base lineitem."""
    catalog.bind(spark, sf_dir, "lineitem")
    mv = lineitem_revenue_mv()
    if not mv.fresh:
        mv.build(spark)
    df, used_mv = mv.rewrite(
        spark,
        group_by=("l_returnflag", "ship_year"),
        measures={
            "n_items": Measure("count", "l_quantity"),
            "revenue_raw": Measure("sum", "l_extendedprice * (1 - l_discount)"),
            "avg_qty_raw": Measure("avg", "l_quantity"),
            "max_rev_raw": Measure("max", "l_extendedprice * (1 - l_discount)"),
        },
        predicate=F.col("l_returnflag") != "N",
        filter_cols=("l_returnflag",),
    )
    assert used_mv, "containment holds — rewrite must target the MV"
    return (
        df.select(
            "l_returnflag",
            F.col("ship_year").cast("long").alias("ship_year"),
            "n_items",
            F.round("revenue_raw", 2).alias("revenue"),
            F.round("avg_qty_raw", 4).alias("avg_qty"),
            F.round("max_rev_raw", 2).alias("max_rev"),
        )
        .orderBy("l_returnflag", "ship_year")
    )


_MV_FALLBACK_ORACLE = """
SELECT l_returnflag,
       CAST(COUNT(l_quantity) AS BIGINT) AS n_items,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
WHERE l_tax > 0.04
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


@query("mv_rewrite_fallback", oracle=_MV_FALLBACK_ORACLE)
def mv_rewrite_fallback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment FAILS (the filter touches l_tax, which the MV did
    not store as a dimension) — the rewriter must decline the MV and
    answer from the base table, still correctly. This is the soundness
    half of the rule: an MV can only speed a query up, never change
    its answer."""
    catalog.bind(spark, sf_dir, "lineitem")
    mv = lineitem_revenue_mv()
    if not mv.fresh:
        mv.build(spark)
    df, used_mv = mv.rewrite(
        spark,
        group_by=("l_returnflag",),
        measures={
            "n_items": Measure("count", "l_quantity"),
            "revenue_raw": Measure("sum", "l_extendedprice * (1 - l_discount)"),
        },
        predicate=F.col("l_tax") > 0.04,
        filter_cols=("l_tax",),
    )
    assert not used_mv, "filter on non-dim must force base-table fallback"
    return (
        df.select(
            "l_returnflag",
            "n_items",
            F.round("revenue_raw", 2).alias("revenue"),
        )
        .orderBy("l_returnflag")
    )


# ---------------------------------------------------------------------------
# incremental maintenance of a JOIN materialized view
# ---------------------------------------------------------------------------

_MV_JOIN_INC_ORACLE = """
SELECT c_mktsegment,
       CAST(year(o_orderdate) AS INT) AS o_year,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment, o_year
ORDER BY c_mktsegment, o_year
"""


@query("mv_incremental_join_maintenance", oracle=_MV_JOIN_INC_ORACLE)
def mv_incremental_join_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance of a join-aggregate MV — the delta
    algebra behind Hive's `MaterializedViewRewriteRule` +
    `ALTER MATERIALIZED VIEW ... REBUILD` incremental path
    (`hive-exec!optimizer/calcite/rules/views`, SURVEY.md §4.1b):
    for MV = γ(A ⋈ B), when deltas ΔA, ΔB arrive the refresh is

        MV' = combine( MV, γ(ΔA ⋈ B_old), γ(A_old ⋈ ΔB), γ(ΔA ⋈ ΔB) )

    never a recompute of A_old ⋈ B_old — the only joins executed touch
    a delta on at least one side, so at 100 TB the refresh cost scales
    with the day's arrivals, not the table. Here orders/customer are
    split 90/10 into old/delta, the MV base γ(O_old ⋈ C_old) is
    materialized as parquet, and the three delta terms are combined by
    re-aggregating stored partials (SUM of sums / SUM of counts — the
    same derivation table the rewriter uses). The DuckDB oracle is the
    FULL recompute over the complete tables, so the value hash proves
    the incremental algebra is exact. Deltas broadcast (small side);
    the combine touches only MV-sized data."""
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    o_old = orders.where(F.col("o_orderkey") % 10 != 0)
    o_new = orders.where(F.col("o_orderkey") % 10 == 0)
    c_old = cust.where(F.col("c_custkey") % 10 != 0)
    c_new = cust.where(F.col("c_custkey") % 10 == 0)

    # join strategy is left to AQE on every term: a real maintenance
    # delta is batch-bounded and broadcasts on size, but THIS demo's
    # deltas are fixed fractions of orders/customer (sf-scaled), so a
    # forced hint would be the executor-OOM class the round-7 purge
    # removed
    def agg_join(o: DataFrame, c: DataFrame) -> DataFrame:
        return (
            o.join(c, o.o_custkey == c.c_custkey)
            .groupBy(
                "c_mktsegment",
                F.year("o_orderdate").cast("int").alias("o_year"),
            )
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias(
                    "rev_partial"
                ),
            )
        )

    # MV base: the one-time expensive build (γ(A_old ⋈ B_old)),
    # persisted; refreshes below never touch this join again
    import os

    path = f"{_scratch()}/join_mv_base"  # pid lives in the namespace
    shutil.rmtree(path, ignore_errors=True)
    agg_join(o_old, c_old).write.parquet(path)
    mv_base = spark.read.parquet(path)

    delta_terms = [
        agg_join(o_new, c_old),  # ΔA ⋈ B_old (ΔA small side)
        agg_join(o_old, c_new),  # A_old ⋈ ΔB
        agg_join(o_new, c_new),  # ΔA ⋈ ΔB
    ]
    combined = mv_base
    for t in delta_terms:
        combined = combined.unionByName(t)
    return (
        combined.groupBy("c_mktsegment", "o_year")
        .agg(
            F.sum("n_orders").cast("bigint").alias("n_orders"),
            F.sum("rev_partial").cast("double").alias("revenue"),
        )
        .orderBy("c_mktsegment", "o_year")
    )


# ---------------------------------------------------------------------------
# transparent SQL front-end: plain SQL in, MV rewrite applied automatically
# ---------------------------------------------------------------------------

import re as _re

_SQL_SHAPE = _re.compile(
    r"^\s*SELECT\s+(?P<select>.+?)\s+FROM\s+(?P<base>\w+)"
    r"(?:\s+WHERE\s+(?P<where>.+?))?"
    r"\s+GROUP\s+BY\s+(?P<group>.+?)"
    r"(?:\s+ORDER\s+BY\s+(?P<order>.+?))?\s*;?\s*$",
    _re.IGNORECASE | _re.DOTALL,
)
_AGG_ITEM = _re.compile(
    r"^(?P<kind>sum|count|min|max|avg)\s*\((?P<src>.+)\)"
    r"\s+AS\s+(?P<alias>\w+)\s*$",
    _re.IGNORECASE | _re.DOTALL,
)
_SQL_KEYWORDS = frozenset(
    "and or not in like between is null true false case when then else end".split()
)


def _literal_mask(s: str, quotes: str = "'") -> list[bool]:
    """``mask[i]`` is True when ``s[i]`` sits inside a quoted SQL
    string literal (the quotes themselves included). THE one
    quote-tracking scanner for every SQL-fragment parser in the repo
    (this splitter, npath_sql's clause splitter and whitespace
    normalizer, the shim-function macro expander) — round 12 found the
    identical missing-backslash bug hand-patched in three divergent
    copies, so the scan now lives once. Semantics follow Spark SQL's
    default string parser: a backslash escapes the next character
    (``'\\''`` stays inside the literal), and ``''`` doubling reads as
    close-then-reopen (the between-quote position is outside, which
    every consumer treats identically to one contiguous literal).
    ``quotes`` lists the characters that open a literal — the default
    covers the oracle-SQL dialect; HiveQL consumers pass ``"'\\""``
    because Spark's parser also reads double-quoted strings (round
    13, the shim macro layer)."""
    mask = [False] * len(s)
    i, n = 0, len(s)
    open_q: str | None = None
    while i < n:
        ch = s[i]
        if open_q is not None:
            mask[i] = True
            if ch == "\\":
                if i + 1 < n:
                    mask[i + 1] = True
                i += 2
                continue
            if ch == open_q:
                open_q = None
        elif ch in quotes:
            mask[i] = True
            open_q = ch
        i += 1
    return mask


def _split_top_level(s: str, quotes: str = "'") -> list[str]:
    """Split a SELECT/argument list on commas not nested inside
    parentheses or quoted string literals (quote semantics —
    incl. backslash escapes, round 12 — centralized in
    :func:`_literal_mask`; ``quotes`` passes through). Quote-awareness
    added in round 11 when the npath SQL call parser consolidated onto
    this helper (review finding: two near-identical splitters) — it
    also fixes the latent case of a quoted literal containing a paren
    or comma skewing the depth count here."""
    mask = _literal_mask(s, quotes)
    parts, depth, cur = [], 0, []
    for i, ch in enumerate(s):
        if not mask[i]:
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
            elif ch == "," and depth == 0:
                parts.append("".join(cur).strip())
                cur = []
                continue
        cur.append(ch)
    if cur:
        parts.append("".join(cur).strip())
    return parts


def _norm_expr(e: str) -> str:
    return " ".join(e.split())


def rewrite_sql(spark: SparkSession, sql: str) -> tuple[DataFrame, bool]:
    """Transparent MV rewrite for plain SQL — the reference applies its
    ``rules/views`` rewrite inside the optimizer to ANY user SQL; this
    front-end gives registered MVs the same transparency for the
    simple GROUP-BY grammar (SELECT dims + aggs FROM base [WHERE pred]
    GROUP BY dims [ORDER BY ...]). The statement is parsed into a
    rewrite Request; when a fresh registered MV over that base passes
    the containment test, the plan is rebuilt over the MV parquet —
    otherwise the ORIGINAL sql runs untouched via spark.sql(). Always
    sound: any parse/containment miss falls back, never errors.
    Returns (df, used_mv)."""
    m = _SQL_SHAPE.match(sql)
    if not m:
        return spark.sql(sql), False
    base = m.group("base").lower()
    group_by = tuple(g.strip() for g in m.group("group").split(","))
    where = m.group("where")
    order = m.group("order")

    dims_seen: list[str] = []
    measures: dict[str, Measure] = {}
    for item in _split_top_level(m.group("select")):
        agg = _AGG_ITEM.match(item)
        if agg:
            measures[agg.group("alias")] = Measure(
                agg.group("kind").lower(), _norm_expr(agg.group("src"))
            )
        elif _re.fullmatch(r"\w+", item) and item in group_by:
            dims_seen.append(item)
        else:
            return spark.sql(sql), False  # expression we don't model
    if not measures:
        return spark.sql(sql), False

    filter_cols: tuple[str, ...] = ()
    if where:
        bare = _re.sub(r"'[^']*'", " ", where)  # drop string literals
        filter_cols = tuple(
            t
            for t in dict.fromkeys(
                _re.findall(r"[A-Za-z_][A-Za-z0-9_]*", bare)
            )
            if t.lower() not in _SQL_KEYWORDS and not t.isdigit()
        )

    # ORDER BY items we model are strictly `col [ASC|DESC]`; anything
    # else (NULLS FIRST, expressions, positions) falls back to
    # spark.sql rather than being silently treated as plain ascending
    # (round-3 advice)
    order_items: list[tuple[str, bool]] = []
    if order:
        for o in order.split(","):
            im = _re.fullmatch(
                r"(\w+)(?:\s+(asc|desc))?", o.strip(), _re.IGNORECASE
            )
            if not im:
                return spark.sql(sql), False
            order_items.append(
                (im.group(1), (im.group(2) or "asc").lower() == "desc")
            )

    def _finish(df: DataFrame) -> DataFrame:
        df = df.select(*dims_seen, *measures.keys())
        if order_items:
            df = df.orderBy(
                *[
                    F.col(c).desc() if is_desc else F.col(c)
                    for c, is_desc in order_items
                ]
            )
        return df

    # a base-matching MV handles BOTH outcomes: containment -> MV scan,
    # miss -> its base-table fallback (which also computes derived dims
    # like ship_year that plain spark.sql over the base couldn't).
    # The attempt is guarded for the EXPECTED failure class only: a
    # WHERE clause Spark's expression parser/analyzer rejects falls
    # back to the original SQL (the docstring's soundness contract,
    # round-3 advice). Anything else raising inside MV.rewrite is a
    # real bug and must surface, not silently degrade every query to
    # the used=False fallback (round-4 advice).
    from pyspark.errors import AnalysisException, ParseException

    try:
        for mv in _MV_INSTANCES.values():
            if mv.base != base:
                continue
            df, used = mv.rewrite(
                spark,
                group_by=group_by,
                measures=measures,
                predicate=F.expr(where) if where else None,
                filter_cols=filter_cols,
            )
            return _finish(df), used
    except (ParseException, AnalysisException):
        pass
    return spark.sql(sql), False


_MV_SQL_ORACLE = """
SELECT l_linestatus,
       EXTRACT(year FROM l_shipdate)::BIGINT AS ship_year,
       CAST(COUNT(l_quantity) AS BIGINT) AS n_items,
       ROUND(SUM(l_quantity), 2) AS total_qty
FROM lineitem
WHERE l_linestatus = 'F'
GROUP BY l_linestatus, ship_year
ORDER BY ship_year
"""


@query("mv_rewrite_sql_transparent", oracle=_MV_SQL_ORACLE)
def mv_rewrite_sql_transparent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The transparent front-end end-to-end: the caller writes PLAIN
    SQL against the base table — no Request objects — and the rewriter
    parses it, passes containment against the registered lineitem MV,
    and answers from the MV parquet (pytest pins the rewritten plan
    scans lineitem_rev_mv, not lineitem). The oracle runs the original
    SQL on DuckDB, proving the rewrite is invisible to results — the
    reference's rules/views contract."""
    catalog.bind(spark, sf_dir, "lineitem")
    mv = lineitem_revenue_mv()
    if not mv.fresh:
        mv.build(spark)
    df, used_mv = rewrite_sql(
        spark,
        "SELECT l_linestatus, ship_year, "
        "COUNT(l_quantity) AS n_items, SUM(l_quantity) AS total_qty "
        "FROM lineitem WHERE l_linestatus = 'F' "
        "GROUP BY l_linestatus, ship_year ORDER BY ship_year",
    )
    assert used_mv, "simple GROUP-BY SQL must rewrite onto the MV"
    return df.select(
        "l_linestatus",
        F.col("ship_year").cast("long").alias("ship_year"),
        F.col("n_items").cast("bigint").alias("n_items"),
        F.round("total_qty", 2).alias("total_qty"),
    ).orderBy("ship_year")
