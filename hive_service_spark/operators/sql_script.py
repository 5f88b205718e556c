"""Multi-statement HiveQL script sessions (the beeline/CLI surface).

Reference: HiveServer2 executes scripts statement-by-statement with
variable substitution — `beeline -f script.sql`, `hive -f`, and the
session's `SET` command (`hive-exec!ql/processors/{CommandProcessor,
SetProcessor}.class`, variable substitution in
`ql/parse/VariableSubstitution.class`; SURVEY.md §3.1/§3.2). A real
user's workload is rarely one statement: it is a script of
SET / temp-table / INSERT / SELECT steps sharing session state.

This module provides that surface on Spark: a statement splitter that
respects string literals, backtick identifiers, and both comment
styles; `${hivevar:...}` / `${hiveconf:...}` / bare `${...}`
substitution sourced from SET statements and an initial binding map;
sequential execution through `spark.sql` (which natively handles SET,
CREATE TEMPORARY VIEW, CTAS, INSERT, SELECT). The LAST statement's
DataFrame is the script result, exactly like beeline prints the last
result set. Session state (temp views, confs) persists across
statements within the SparkSession — the HiveServer2 session analog.
"""

from __future__ import annotations

import hashlib
import re

from pyspark.sql import DataFrame, SparkSession

from hive_service_spark.registry import query


def split_statements(script: str) -> list[str]:
    """Split a HiveQL script into statements on ``;`` — ignoring
    semicolons inside '...'/"..." literals (with backslash escapes and
    ''-style doubling), `...` identifiers, ``-- line`` comments, and
    ``/* block */`` comments. Comments are preserved inside statements
    (Spark's parser accepts them); empty statements are dropped."""
    out: list[str] = []
    buf: list[str] = []
    i, n = 0, len(script)
    mode: str | None = None  # "'", '"', '`', '--', '/*'
    while i < n:
        c = script[i]
        nxt = script[i + 1] if i + 1 < n else ""
        if mode is None:
            if c == ";":
                stmt = "".join(buf).strip()
                if stmt:
                    out.append(stmt)
                buf = []
                i += 1
                continue
            if c in "'\"`":
                mode = c
            elif c == "-" and nxt == "-":
                mode = "--"
            elif c == "/" and nxt == "*":
                mode = "/*"
        elif mode in "'\"":
            if c == "\\":  # escaped char inside a literal
                buf.append(c)
                i += 1
                c = script[i] if i < n else ""
            elif c == mode:
                if nxt == mode:  # '' doubling
                    buf.append(c)
                    i += 1
                    c = script[i]
                else:
                    mode = None
        elif mode == "`":
            if c == "`":
                mode = None
        elif mode == "--":
            if c == "\n":
                mode = None
        elif mode == "/*":
            if c == "*" and nxt == "/":
                buf.append(c)
                i += 1
                c = script[i]
                mode = None
        buf.append(c)
        i += 1
    tail = "".join(buf).strip()
    if tail:
        out.append(tail)
    return out


def strip_comments(stmt: str) -> str:
    """Remove ``--`` line and ``/* */`` block comments outside string
    literals and backtick identifiers (round-13 review: the macro and
    npath rewriting scan literal-MASKED text, and the shared
    `_literal_mask` scanner is comment-blind — an apostrophe inside a
    comment would shift the mask for the rest of the statement and
    silently mis-expand or mis-route). Each comment becomes one space
    so token separation survives; literal bytes are untouched. Spark's
    parser never needed the comments, so stripping them before
    rewriting loses nothing."""
    out: list[str] = []
    i, n = 0, len(stmt)
    quote: str | None = None
    while i < n:
        c = stmt[i]
        if quote is not None:
            out.append(c)
            if c == "\\" and quote in "'\"" and i + 1 < n:
                out.append(stmt[i + 1])
                i += 2
                continue
            if c == quote:
                quote = None
            i += 1
            continue
        if c in "'\"`":
            quote = c
            out.append(c)
            i += 1
            continue
        if c == "-" and stmt.startswith("--", i):
            j = stmt.find("\n", i)
            out.append(" ")
            i = n if j < 0 else j  # the newline itself survives
            continue
        if c == "/" and stmt.startswith("/*", i):
            j = stmt.find("*/", i + 2)
            out.append(" ")
            i = n if j < 0 else j + 2
            continue
        out.append(c)
        i += 1
    return "".join(out)


_SET_RE = re.compile(
    r"^\s*SET\s+(?P<key>[A-Za-z0-9_.:\-]+)\s*=\s*(?P<val>.*?)\s*$",
    re.IGNORECASE | re.DOTALL,
)
_VAR_RE = re.compile(r"\$\{(?:(?P<ns>hivevar|hiveconf|env):)?(?P<name>[^}]+)\}")


def substitute(stmt: str, bindings: dict[str, str]) -> str:
    """`VariableSubstitution` analog: replace ``${hivevar:x}`` /
    ``${hiveconf:x}`` / ``${x}`` from the binding map (namespaced keys
    are tried first, then the bare name). Unknown variables are left
    as-is, matching Hive's behavior."""

    def repl(m: re.Match) -> str:
        ns, name = m.group("ns"), m.group("name")
        if ns:
            return bindings.get(f"{ns}:{name}", bindings.get(name, m.group(0)))
        return bindings.get(
            name,
            bindings.get(f"hivevar:{name}", bindings.get(f"hiveconf:{name}", m.group(0))),
        )

    # iterate to a fixed point so nested definitions (${a} -> "${b}") resolve
    for _ in range(10):
        new = _VAR_RE.sub(repl, stmt)
        if new == stmt:
            break
        stmt = new
    return stmt


_NPATH_CALL_RE = re.compile(r"(?i)\bnpath\s*\(")


def _route_npath_calls(spark: SparkSession, stmt: str) -> str:
    """Round 13: ``npath(ON ... PATTERN(...))`` usable as a TABLE
    FUNCTION inside a script statement — ``SELECT ... FROM npath(...)
    t GROUP BY ...`` — exactly the reference's PTF call position
    (hive-exec!ql/udf/ptf/MatchPath runs inside the FROM clause via
    PTFOperator). Spark SQL has no PTF surface, so the script layer
    materializes each call through npath_sql (compiled island-walk /
    lead-chain plans, same as the DataFrame API) into a temp view and
    splices the view name into the statement; the surrounding SQL then
    composes over it natively. Literal-aware scan; a table named
    npath_* never matches (the call requires the opening paren). A
    nested npath inside another call's ON-subquery is not routed (the
    outer call consumes it and npath_sql's spark.sql cannot resolve
    the name) — materialize the inner call into its own temp view
    first."""
    if "npath" not in stmt.lower():
        return stmt
    from hive_service_spark.functions.sql_shims import _find_close_paren
    from hive_service_spark.operators.matchpath import npath_sql
    from hive_service_spark.operators.materialized_views import _literal_mask

    while True:
        mask = _literal_mask(stmt, "'\"")
        m = next(
            (mm for mm in _NPATH_CALL_RE.finditer(stmt) if not mask[mm.start()]),
            None,
        )
        if m is None:
            return stmt
        close = _find_close_paren(stmt, m.end() - 1, mask)
        call = stmt[m.start() : close + 1]
        # deterministic name per call TEXT (round-13 review): the view
        # must outlive this statement (a CREATE TEMPORARY VIEW built
        # over it re-resolves the name lazily), so it is never dropped
        # here — a repeated script re-REPLACES the same view instead of
        # leaking one entry per run
        name = "hs_npath_result_" + hashlib.md5(call.encode()).hexdigest()[:12]
        npath_sql(spark, call).createOrReplaceTempView(name)
        stmt = stmt[: m.start()] + name + stmt[close + 1 :]


def run_script(
    spark: SparkSession,
    script: str,
    bindings: dict[str, str] | None = None,
) -> DataFrame | None:
    """Execute a multi-statement HiveQL script; returns the LAST
    statement's DataFrame (None for an all-DDL script). ``SET k=v``
    statements update the substitution bindings AND the session conf
    (via spark.sql, as HiveServer2's SetProcessor does); everything
    else goes straight to ``spark.sql`` after substitution."""
    from hive_service_spark.functions.sql_shims import (
        expand_shim_macros,
        register_sql_shims,
    )

    bindings = dict(bindings or {})
    result: DataFrame | None = None
    for raw in split_statements(script):
        # comments are stripped FIRST (literal-aware): the rewriters
        # below scan masked text and must never see comment bytes; SET
        # values are recognized BEFORE any rewriting so command text
        # (not SQL) is never macro-expanded or npath-routed (round-13
        # review — "SET k=see npath (docs)" used to crash the router)
        stmt = substitute(strip_comments(raw), bindings)
        m = _SET_RE.match(stmt.strip())
        if m:
            key, val = m.group("key"), m.group("val")
            bindings[key] = val
            if key.startswith("hivevar:"):
                continue  # pure script variable, not a session conf
            key = key.removeprefix("hiveconf:")
            spark.conf.set(key, val)
            continue
        # the full FunctionRegistry name surface (functions/sql_shims.py):
        # fixed-signature shims as session SQL UDFs, variadic/generic
        # ones macro-expanded, so a migrating HiveQL script uses
        # `field`, `mask_*_n`, `floor_<unit>`, `create_union`,
        # `parse_url_tuple`, `in_file` verbatim, as it did against Hive
        register_sql_shims(spark, stmt)
        stmt = _route_npath_calls(spark, expand_shim_macros(stmt))
        result = spark.sql(stmt)
    return result


# ---------------------------------------------------------------------------
# registered query: a representative parameterized session script
# ---------------------------------------------------------------------------

_SCRIPT_ORACLE = """
WITH big_cust AS (
  SELECT o_custkey, CAST(SUM(o_totalprice) AS DECIMAL(18,2)) AS spend
  FROM orders
  WHERE year(o_orderdate) = 1997
  GROUP BY o_custkey
  HAVING SUM(o_totalprice) > 400000
)
SELECT c.c_mktsegment,
       COUNT(*) AS n_customers,
       CAST(ROUND(SUM(b.spend), 2) AS DOUBLE) AS segment_spend
FROM big_cust b JOIN customer c ON b.o_custkey = c.c_custkey
GROUP BY c.c_mktsegment
ORDER BY c.c_mktsegment
"""

_SESSION_SCRIPT = """
-- session variables, beeline-style
SET hivevar:target_year=1997;
SET hivevar:min_spend=400000;  -- spend floor; ';' in strings is safe: 'a;b'
SET spark.sql.session.timeZone=UTC;

CREATE OR REPLACE TEMPORARY VIEW big_cust AS
SELECT o_custkey, CAST(SUM(o_totalprice) AS DECIMAL(18,2)) AS spend
FROM orders_script
WHERE year(o_orderdate) = ${hivevar:target_year}
GROUP BY o_custkey
HAVING SUM(o_totalprice) > ${min_spend};

/* final result set: segment census of the big spenders */
SELECT c.c_mktsegment,
       COUNT(*) AS n_customers,
       CAST(ROUND(SUM(b.spend), 2) AS DOUBLE) AS segment_spend
FROM big_cust b JOIN customer_script c ON b.o_custkey = c.c_custkey
GROUP BY c.c_mktsegment
ORDER BY c.c_mktsegment
"""


@query("script_hiveql_session", oracle=_SCRIPT_ORACLE)
def script_hiveql_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end multi-statement session: SET variables → temp view
    parameterized by ${hivevar}/${bare} substitution → final SELECT,
    exactly the beeline -f workflow (module docstring). The script
    plans through the same Catalyst pipeline as the DataFrame queries —
    filters push down, the dim side broadcasts — because the runner is
    sugar over spark.sql, not an interpreter. DECIMAL money math,
    cast to DOUBLE at the boundary (repo canon convention)."""
    from hive_service_spark.catalog import load

    load(spark, sf_dir, "orders").createOrReplaceTempView("orders_script")
    load(spark, sf_dir, "customer").createOrReplaceTempView("customer_script")
    out = run_script(spark, _SESSION_SCRIPT)
    assert out is not None
    return out


_SESSION_VARS_ORACLE = """
SELECT l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4))), 2) AS DOUBLE)
         AS revenue,
       CAST(COUNT(*) FILTER (WHERE lower(l_linestatus) = 'o') AS BIGINT)
         AS n_open_ci
FROM lineitem
WHERE l_quantity > 45
GROUP BY l_returnflag
"""


@query("script_session_variables", oracle=_SESSION_VARS_ORACLE)
def script_session_variables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed SQL session variables (DECLARE / SET VAR) — the modern
    form of the ${hivevar:...} text substitution the script runner
    above implements: the variable is a typed session object resolved
    by the analyzer, not a string splice, so quoting/injection hazards
    disappear. Also exercised: IDENTIFIER() dynamic column resolution
    (the parameterized-column idiom) and a case-insensitive UTF8_LCASE
    collation comparison (Hive compares case-sensitively; collation is
    the engine-level fix users previously hand-rolled with lower()).
    The oracle inlines the variable's final value and replays the
    collation compare with lower()."""
    from hive_service_spark.catalog import load

    load(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem_sv")
    spark.sql("DECLARE OR REPLACE hs_min_qty DOUBLE DEFAULT 30.0")
    spark.sql("SET VAR hs_min_qty = 45.0")
    spark.sql("DECLARE OR REPLACE hs_qty_col STRING DEFAULT 'l_quantity'")
    return spark.sql(
        """
        SELECT l_returnflag,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4))), 2)
                    AS DOUBLE) AS revenue,
               CAST(COUNT(*) FILTER (
                 WHERE l_linestatus COLLATE UTF8_LCASE = 'o'
               ) AS BIGINT) AS n_open_ci
        FROM lineitem_sv
        WHERE IDENTIFIER(hs_qty_col) > hs_min_qty
        GROUP BY l_returnflag
        """
    )


_NPATH_SESSION_ORACLE = """
WITH c AS (
  SELECT user_id, ts, event_id,
         CASE WHEN event_type = 'view' THEN 'a'
              WHEN event_type = 'purchase' THEN 'b'
              ELSE 'x' END AS ch,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events
),
s AS (
  SELECT user_id, string_agg(ch, '' ORDER BY rn) AS str
  FROM c GROUP BY user_id
),
m AS (
  SELECT c.user_id,
         length(regexp_extract(substr(s.str, CAST(c.rn AS INT)), '^aa*b'))
           AS match_len
  FROM c JOIN s USING (user_id)
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_paths,
       CAST(MAX(match_len) AS INT) AS longest_path,
       CAST(SUM(CASE WHEN match_len >= 3 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_long
FROM m
WHERE match_len > 0
GROUP BY user_id
ORDER BY user_id
"""

_NPATH_SESSION_SCRIPT = """
SET hivevar:min_len=3;

SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_paths,
       CAST(MAX(match_len) AS INT) AS longest_path,
       CAST(SUM(CASE WHEN match_len >= ${hivevar:min_len} THEN 1
                     ELSE 0 END) AS BIGINT) AS n_long
FROM npath(ON events_script_src
           PARTITION BY user_id
           ORDER BY ts, event_id
           SYMBOLS(event_type = 'view' AS view,
                   event_type = 'purchase' AS purchase)
           PATTERN('view.view*.purchase')) t
GROUP BY user_id
ORDER BY user_id
"""


@query("script_npath_session", oracle=_NPATH_SESSION_ORACLE)
def script_npath_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PTF in its reference call position (round 13): ``SELECT ...
    FROM npath(...) t GROUP BY ...`` inside a HiveQL session script —
    Hive runs MatchPath as a table function in the FROM clause
    (hive-exec!ql/udf/ptf/MatchPath via PTFOperator), and until this
    round our npath surface was a Python entry point, not a FROM-
    clause citizen. The script layer routes the call through npath_sql
    (matches still come from the compiled Python-free island walk) and
    the surrounding aggregate composes over the result natively,
    parameterized by a ${hivevar} threshold. The oracle extends the
    shared regex model with the same per-user aggregate."""
    from hive_service_spark.catalog import load

    load(spark, sf_dir, "events").createOrReplaceTempView(
        "events_script_src"
    )
    out = run_script(spark, _NPATH_SESSION_SCRIPT)
    assert out is not None
    return out
