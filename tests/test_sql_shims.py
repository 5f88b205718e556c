"""functions/sql_shims.py: the SQL-callable surface for the shim names.

Round-12 verdict "What's missing" #1: the reference resolves all 286
FunctionRegistry names from query TEXT; these tests pin that every
``shim:`` inventory name is now SQL-resolvable (SQL UDF or macro) or a
documented exception, that the SQL forms agree with the Python Column
helpers value-for-value, and that the macro expander's literal masking
and error surface behave.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from hive_service_spark.functions import hive_compat as hc
from hive_service_spark.functions.hive_compat import HIVE_FUNCTION_TABLE
from hive_service_spark.functions.sql_shims import (
    _EXPANDERS,
    _SQL_UDF_DEFS,
    expand_shim_macros,
    hive_sql,
    register_sql_shims,
)

# shim-inventory names that stay text-unresolvable, with why (the
# table's legend documents the same three):
#   hash         — the NAME resolves (to Spark's Murmur3 builtin); the
#                  Hive Java-hashCode semantics are hive_hash_string
#   reflect2     — documented refusal (arbitrary JVM reflection)
#   grouping__id — covered by the _expand_grouping_id pre-pass (not a
#                  call-shaped macro), single-GROUP-BY statements only
_DOCUMENTED_EXCEPTIONS = {"hash", "reflect2", "grouping__id"}


def test_every_shim_name_sql_callable():
    unresolved = []
    for name, impl in HIVE_FUNCTION_TABLE.items():
        if not impl.startswith("shim:"):
            continue
        if name in _DOCUMENTED_EXCEPTIONS:
            continue
        if name not in _SQL_UDF_DEFS and name not in _EXPANDERS:
            unresolved.append(name)
    assert not unresolved, (
        f"shim names with no SQL path and no documented exception: "
        f"{unresolved}"
    )


def test_sql_udf_shims_match_python_shims(spark):
    """Every SQL-UDF shim evaluated from SQL text must equal the
    Python Column helper on the same inputs (incl. the DEFAULT n=4
    arity the Hive UDFs expose)."""
    got = hive_sql(
        spark,
        """
        SELECT mask_first_n('Ab1cdEF', 3) AS mf,
               mask_first_n('Ab1cdEF') AS mf_def,
               mask_last_n('Ab1cdEF', 2) AS ml,
               mask_show_first_n('Ab1cdEF', 2) AS msf,
               mask_show_last_n('Ab1cdEF', 2) AS msl,
               mask_last_n('Ab', 4) AS ml_short,
               mask_hash('abc') AS mh,
               logged_in_user() AS liu,
               CAST(floor_quarter(TIMESTAMP '2024-05-17 10:31:42')
                    AS STRING) AS fq,
               CAST(floor_minute(TIMESTAMP '2024-05-17 10:31:42')
                    AS STRING) AS fm
        """
    ).collect()[0]
    lit = F.lit("Ab1cdEF")
    want = spark.range(1).select(
        hc.mask_first_n(lit, 3).alias("mf"),
        hc.mask_first_n(lit, 4).alias("mf_def"),
        hc.mask_last_n(lit, 2).alias("ml"),
        hc.mask_show_first_n(lit, 2).alias("msf"),
        hc.mask_show_last_n(lit, 2).alias("msl"),
        hc.mask_last_n(F.lit("Ab"), 4).alias("ml_short"),
        hc.mask_hash(F.lit("abc")).alias("mh"),
        hc.logged_in_user().alias("liu"),
        hc.floor_quarter(F.lit("2024-05-17 10:31:42").cast("timestamp"))
        .cast("string")
        .alias("fq"),
        hc.floor_minute(F.lit("2024-05-17 10:31:42").cast("timestamp"))
        .cast("string")
        .alias("fm"),
    ).collect()[0]
    assert got.asDict() == want.asDict()


class TestMacroExpansion:
    def test_field_variadic(self):
        got = expand_shim_macros("SELECT field(x, 'a', 'b', col2) FROM t")
        assert got == (
            "SELECT coalesce(array_position(array('a', 'b', col2), x), 0) "
            "FROM t"
        )

    def test_nested_union_fixed_point(self):
        got = expand_shim_macros("SELECT extract_union(create_union(t, a, b), 1)")
        assert "named_struct" in got and ".field1" in got
        assert "create_union" not in got and "extract_union" not in got

    def test_literals_never_expanded(self):
        # both quote styles are string literals in Spark's SQL dialect
        s = "SELECT 'field(x, 1)' AS a, \"create_union(t, v)\" AS b FROM t"
        assert expand_shim_macros(s) == s

    def test_case_insensitive_and_spacing(self):
        got = expand_shim_macros("SELECT FIELD (x, 'a')")
        assert got == "SELECT coalesce(array_position(array('a'), x), 0)"

    def test_sort_array_by_orders(self):
        asc = expand_shim_macros("SELECT sort_array_by(arr, 'k')")
        desc = expand_shim_macros("SELECT sort_array_by(arr, 'k', 'DESC')")
        assert "THEN -1" in asc and "array_sort" in asc
        assert "WHEN l.k < r.k THEN 1" in desc

    def test_sort_array_by_errors(self):
        with pytest.raises(ValueError, match="string literal"):
            expand_shim_macros("SELECT sort_array_by(arr, k)")
        with pytest.raises(ValueError, match="identifier"):
            expand_shim_macros("SELECT sort_array_by(arr, 'k; drop')")
        with pytest.raises(ValueError, match="ASC"):
            expand_shim_macros("SELECT sort_array_by(arr, 'k', 'SIDEWAYS')")

    def test_extract_union_tag_must_be_int(self):
        with pytest.raises(ValueError, match="integer literal"):
            expand_shim_macros("SELECT extract_union(u, x)")

    def test_in_file_rewrites_to_subquery(self):
        got = expand_shim_macros("SELECT * FROM t WHERE in_file(w, '/tmp/a.txt')")
        assert "IN (SELECT value FROM text.`/tmp/a.txt`)" in got
        with pytest.raises(ValueError, match="backtick"):
            expand_shim_macros("SELECT in_file(w, '/tmp/`x`.txt')")

    def test_parse_url_tuple_query_alias(self):
        got = expand_shim_macros(
            "SELECT parse_url_tuple(u, 'HOST', 'QUERY:id') FROM t"
        )
        assert "inline(array(named_struct(" in got
        assert "'host', parse_url(u, 'HOST')" in got
        assert "'query_id', parse_url(u, 'QUERY', 'id')" in got

    def test_unbalanced_parens_raise(self):
        with pytest.raises(ValueError, match="unbalanced"):
            expand_shim_macros("SELECT field(x, 'a'")

    def test_non_macro_names_untouched(self):
        # 'fieldx' / 'my_field' must not match the \b-anchored scan
        s = "SELECT fieldx(a), my_field(b) FROM t"
        assert expand_shim_macros(s) == s


def test_in_file_sql_end_to_end(spark, tmp_path):
    p = tmp_path / "allowed.txt"
    p.write_text("alpha\ngamma\n")
    spark.createDataFrame(
        [("alpha",), ("beta",), ("gamma",)], "w string"
    ).createOrReplaceTempView("in_file_t")
    got = sorted(
        r.w
        for r in hive_sql(
            spark, f"SELECT w FROM in_file_t WHERE in_file(w, '{p}')"
        ).collect()
    )
    assert got == ["alpha", "gamma"]


def test_sort_array_by_sql_matches_python(spark):
    spark.createDataFrame(
        [(1, 30), (1, 10), (1, 20)], "g int, v int"
    ).createOrReplaceTempView("sab_t")
    got = hive_sql(
        spark,
        """
        SELECT transform(
                 sort_array_by(collect_list(named_struct('v', v)), 'v',
                               'DESC'),
                 x -> x.v) AS vs
        FROM sab_t GROUP BY g
        """,
    ).collect()[0]
    assert got.vs == [30, 20, 10]


def test_only_named_shims_are_registered(spark, monkeypatch):
    """A registered query runs in a fresh copy of its caller's session,
    so a statement pays only for the SQL-UDF shims it names:
    fn_shims_sql_url_tuple uses only the parse_url_tuple macro and runs
    no CREATE TEMPORARY FUNCTION, and a statement calling one shim
    creates that one."""
    from pyspark.sql import SparkSession

    from hive_service_spark.registry import load_all
    from tests.conftest import SF_DIR

    statements = []
    sql = SparkSession.sql

    def recording(self, sqlQuery, *args, **kwargs):
        statements.append(sqlQuery)
        return sql(self, sqlQuery, *args, **kwargs)

    monkeypatch.setattr(SparkSession, "sql", recording)
    load_all()["fn_shims_sql_url_tuple"].fn(spark, SF_DIR).collect()
    assert statements and not [
        s for s in statements if "TEMPORARY FUNCTION" in s.upper()
    ]

    statements.clear()
    session = spark.newSession()
    hive_sql(session, "SELECT mask_hash('a') AS h").collect()
    ddl = [s for s in statements if "TEMPORARY FUNCTION" in s.upper()]
    assert len(ddl) == 1 and "mask_hash" in ddl[0]


def test_run_script_expands_shims(spark):
    """The beeline-style script surface resolves shim names verbatim,
    composed with ${hivevar} substitution."""
    from hive_service_spark.operators.sql_script import run_script

    out = run_script(
        spark,
        """
        SET hivevar:n=2;
        SELECT mask_show_first_n('Secret42', ${hivevar:n}) AS m,
               field('b', 'a', 'b') AS f,
               CAST(floor_hour(TIMESTAMP '2024-01-02 03:45:00') AS STRING)
                 AS fh;
        """,
    ).collect()[0]
    assert (out.m, out.f, out.fh) == ("Sexxxxnn", 2, "2024-01-02 03:00:00")


def test_script_routes_npath_table_function(spark):
    """Round 13: npath(...) in the FROM clause of a script statement
    materializes through npath_sql; identifiers and literals that
    merely contain 'npath' are never touched."""
    from hive_service_spark.operators.sql_script import (
        _route_npath_calls,
        run_script,
    )

    # no call site -> untouched (table names, string literals)
    assert (
        _route_npath_calls(spark, "SELECT * FROM npath_events")
        == "SELECT * FROM npath_events"
    )
    assert (
        _route_npath_calls(spark, "SELECT 'npath(' AS s FROM t")
        == "SELECT 'npath(' AS s FROM t"
    )

    spark.createDataFrame(
        [(1, 0, "A"), (1, 1, "A"), (1, 2, "B"), (2, 0, "B"), (2, 1, "A")],
        "u bigint, pos bigint, sym string",
    ).createOrReplaceTempView("npath_route_probe")
    out = run_script(
        spark,
        """
        SET hivevar:min=2;
        SELECT u, CAST(COUNT(*) AS BIGINT) AS n
        FROM npath(ON npath_route_probe
                   PARTITION BY u
                   ORDER BY pos
                   SYMBOLS(sym = 'A' AS a, sym = 'B' AS b)
                   PATTERN('a.a*.b')) t
        WHERE match_len >= ${hivevar:min}
        GROUP BY u ORDER BY u;
        """,
    )
    assert [(r.u, r.n) for r in out.collect()] == [(1, 2)]


class TestGroupingIdMacro:
    def test_with_cube_suffix(self):
        got = expand_shim_macros(
            "SELECT a, b, grouping__id AS g, count(*) FROM t "
            "GROUP BY a, b WITH CUBE"
        )
        assert (
            "(CAST(grouping(a) AS BIGINT) * 1 + "
            "CAST(grouping(b) AS BIGINT) * 2) AS g" in got
        )
        assert "grouping__id" not in got.lower()

    def test_cube_wrapper_and_empty_parens(self):
        got = expand_shim_macros(
            "SELECT grouping__id() FROM t GROUP BY CUBE(x, y) ORDER BY 1"
        )
        assert "CAST(grouping(x) AS BIGINT) * 1" in got
        assert "CAST(grouping(y) AS BIGINT) * 2" in got

    def test_multi_group_by_raises(self):
        with pytest.raises(ValueError, match="exactly one GROUP BY"):
            expand_shim_macros(
                "SELECT grouping__id FROM (SELECT a FROM t GROUP BY a) "
                "GROUP BY a WITH ROLLUP"
            )

    def test_literal_never_expanded(self):
        s = "SELECT 'grouping__id' AS s FROM t"
        assert expand_shim_macros(s) == s

    def test_matches_python_helper(self, spark):
        """SQL-text GROUPING__ID over WITH CUBE equals grouping_id_hive
        on every grouping set (incl. the reversed-bit cells)."""
        spark.createDataFrame(
            [("a", "x", 1)], "c1 string, c2 string, v int"
        ).createOrReplaceTempView("gid_probe")
        got = {
            (r.c1, r.c2): r.g
            for r in hive_sql(
                spark,
                "SELECT c1, c2, CAST(grouping__id AS BIGINT) AS g "
                "FROM gid_probe GROUP BY c1, c2 WITH CUBE",
            ).collect()
        }
        want = {
            (r.c1, r.c2): r.g
            for r in spark.table("gid_probe")
            .cube("c1", "c2")
            .agg(hc.grouping_id_hive("c1", "c2").alias("g"))
            .collect()
        }
        assert got == want and got[("a", None)] == 2 and got[(None, "x")] == 1


def test_grouping_id_with_grouping_sets(spark):
    """The GROUP BY list parser stops before a trailing GROUPING SETS
    clause: gid bits still bind to the listed columns."""
    spark.createDataFrame(
        [("a", "x", 1), ("b", "y", 2)], "c1 string, c2 string, v int"
    ).createOrReplaceTempView("gid_sets_probe")
    got = expand_shim_macros(
        "SELECT c1, c2, grouping__id AS g FROM gid_sets_probe "
        "GROUP BY c1, c2 GROUPING SETS ((c1, c2), (c1), ())"
    )
    assert "CAST(grouping(c1) AS BIGINT) * 1" in got
    assert "CAST(grouping(c2) AS BIGINT) * 2" in got
    rows = {
        (r.c1, r.c2): r.g
        for r in hive_sql(
            spark,
            "SELECT c1, c2, CAST(grouping__id AS BIGINT) AS g "
            "FROM gid_sets_probe GROUP BY c1, c2 "
            "GROUPING SETS ((c1, c2), (c1), ())",
        ).collect()
    }
    # (c1) set: c2 aggregated -> hive bit1 = 2; grand total -> 3
    assert rows[("a", "x")] == 0 and rows[("a", None)] == 2
    assert rows[(None, None)] == 3


def test_hive_sql_routes_npath(spark):
    """hive_sql (the one-statement surface) routes npath table-function
    calls exactly like the script runner."""
    spark.createDataFrame(
        [(1, 0, "A"), (1, 1, "B")], "u bigint, pos bigint, sym string"
    ).createOrReplaceTempView("npath_hivesql_probe")
    out = hive_sql(
        spark,
        "SELECT u, CAST(COUNT(*) AS BIGINT) AS n FROM "
        "npath(ON npath_hivesql_probe PARTITION BY u ORDER BY pos "
        "SYMBOLS(sym = 'A' AS a, sym = 'B' AS b) PATTERN('a.b')) t "
        "GROUP BY u",
    )
    assert [(r.u, r.n) for r in out.collect()] == [(1, 1)]


def test_macro_expansion_idempotent_and_inert():
    """Property: a fully expanded statement re-expands to itself, and
    text without macro names (incl. inside literals) never changes."""
    samples = [
        "SELECT field(x, 'a', field(y, 'b', 'c')) FROM t",
        "SELECT sort_array_by(arr, 'k', 'DESC'), create_union(t, a, b)",
        "SELECT parse_url_tuple(u, 'HOST'), in_file(w, '/tmp/x') FROM t",
        "SELECT grouping__id FROM t GROUP BY a WITH ROLLUP",
    ]
    for s in samples:
        once = expand_shim_macros(s)
        assert expand_shim_macros(once) == once, s
    inert = [
        "SELECT 1",
        "SELECT 'field(a, 1)' || \"in_file(x, 'y')\" AS s FROM t",
        "SELECT my_field(a), fieldwork(b), xcreate_union(c) FROM t",
    ]
    for s in inert:
        assert expand_shim_macros(s) == s, s


class TestRound13ReviewFixes:
    """The ten round-13 self-review findings, each pinned."""

    def test_field_null_probe_is_zero(self, spark):
        # Hive/MySQL FIELD(NULL, ...) = 0; WHERE field(..)=0 keeps rows
        spark.createDataFrame(
            [("A",), (None,), ("Z",)], "seg string"
        ).createOrReplaceTempView("field_null_probe")
        got = hive_sql(
            spark,
            "SELECT CAST(COUNT(*) AS INT) AS n FROM field_null_probe "
            "WHERE field(seg, 'A', 'B') = 0",
        ).collect()[0].n
        assert got == 2  # NULL and 'Z'

    def test_sort_array_by_null_field_deterministic(self, spark):
        from hive_service_spark.functions import hive_compat as hc

        arr = F.array(
            F.struct(F.lit(3).alias("k")),
            F.struct(F.lit(None).cast("int").alias("k")),
            F.struct(F.lit(1).alias("k")),
        )
        asc = spark.range(1).select(
            hc.sort_array_by(arr, "k").alias("v")
        ).collect()[0].v
        assert [r.k for r in asc] == [None, 1, 3]
        desc = spark.range(1).select(
            hc.sort_array_by(arr, "k", asc=False).alias("v")
        ).collect()[0].v
        assert [r.k for r in desc] == [3, 1, None]
        # SQL macro path agrees
        spark.createDataFrame(
            [(1, 3), (1, None), (1, 1)], "g int, k int"
        ).createOrReplaceTempView("sab_null_t")
        got = hive_sql(
            spark,
            "SELECT transform(sort_array_by(collect_list("
            "named_struct('k', k)), 'k'), x -> x.k) AS vs "
            "FROM sab_null_t GROUP BY g",
        ).collect()[0].vs
        assert got == [None, 1, 3]

    def test_script_comment_with_apostrophe(self, spark):
        """A comment containing an apostrophe must not shift the
        literal mask for the rest of the statement."""
        from hive_service_spark.operators.sql_script import run_script

        spark.createDataFrame(
            [("A",), ("B",)], "seg string"
        ).createOrReplaceTempView("cmt_probe")
        out = run_script(
            spark,
            """
            SELECT CAST(field(seg, 'A', 'B') AS INT) AS f -- user's seg
            FROM cmt_probe /* block ' comment */ ORDER BY f;
            """,
        )
        assert [r.f for r in out.collect()] == [1, 2]

    def test_strip_comments_literal_aware(self):
        from hive_service_spark.operators.sql_script import strip_comments

        got = strip_comments(
            "SELECT '--not a comment', `a--b` -- real ' comment\n"
            "FROM t /* gone */ WHERE x = 1"
        )
        assert "'--not a comment'" in got and "`a--b`" in got
        assert "real" not in got and "gone" not in got
        assert "WHERE x = 1" in got

    def test_set_values_never_rewritten(self, spark):
        """SET command text is recognized before any macro/npath
        rewriting — 'npath (' in a config value must not crash."""
        from hive_service_spark.operators.sql_script import run_script

        out = run_script(
            spark,
            """
            SET hivevar:note=see npath (docs) and field(x;
            SELECT '${hivevar:note}' AS v;
            """,
        )
        assert out.collect()[0].v == "see npath (docs) and field(x"

    def test_grouping_id_stops_at_sort_by(self):
        got = expand_shim_macros(
            "SELECT a, b, grouping__id AS g FROM t "
            "GROUP BY a, b WITH CUBE SORT BY a"
        )
        # the column list binds cleanly: grouping(b), never
        # grouping(b WITH CUBE SORT BY a)
        assert "CAST(grouping(b) AS BIGINT) * 2" in got
        assert "grouping(b WITH" not in got
        # and the SORT BY clause survives untouched
        assert got.rstrip().endswith("GROUP BY a, b WITH CUBE SORT BY a")

    def test_npath_sql_rejects_double_quoted_literals(self, spark):
        from hive_service_spark.operators.matchpath import npath_sql

        with pytest.raises(ValueError, match="single quotes"):
            npath_sql(
                spark,
                'npath(ON t PARTITION BY u ORDER BY ts '
                'SYMBOLS(sym = "A" AS a) PATTERN(\'a\'))',
            )

    def test_many_flat_call_sites_expand(self):
        """A machine-generated statement with hundreds of flat macro
        calls expands (the old fixed 100-pass cap was a false failure)."""
        body = ", ".join(f"field(c{i}, 'x')" for i in range(250))
        got = expand_shim_macros(f"SELECT {body} FROM t")
        assert "field(" not in got and got.count("array_position") == 250

    def test_register_sql_shims_memoized(self, spark):
        import time as _t

        every = " ".join(f"{name}(x)" for name in _SQL_UDF_DEFS)
        register_sql_shims(spark, every)  # ensure registered
        t0 = _t.perf_counter()
        for _ in range(10):
            register_sql_shims(spark, every)
        dt = _t.perf_counter() - t0
        # 10 probes must be far cheaper than 10x14 DDL round-trips
        assert dt < 2.0, dt

    def test_bench_q8_corrected_none_without_host_factor(self):
        import bench

        assert bench._Q8_WATCH[0] == "q8_market_share"
        # no sentinel timed -> no host factor -> no corrected ratio
        run = bench._summarize({"q8_market_share": 1.0}, {})
        assert run["host_factor"] is None
        assert run["q8_corrected"] is None

        # sentinels at 1.5x, 2x, 2x and 3x their anchors -> median
        # host_factor 2.0, and q8 at 2x its anchor corrects back to 1.0
        factors = (1.5, 2.0, 2.0, 3.0)
        times = {
            name: f * ref
            for (name, ref), f in zip(bench._SENTINELS.items(), factors)
        }
        times["q8_market_share"] = 2 * bench._Q8_WATCH[1]
        run = bench._summarize(times, {})
        assert run["host_factor"] == 2.0
        assert run["host_factor_spread"] == 1.5
        assert run["q8_corrected"] == 1.0
