"""Negative corpus — the analog of the reference's
`ql/src/test/queries/clientnegative/*.q` (SURVEY.md §5: ~hundreds of
scripts asserting compile-time errors). Spark's Analyzer raises the
same classes of error the reference's SemanticAnalyzer does; each test
pins one class. Also pins the Hive-2.3 (non-ANSI) runtime semantics the
engine is configured for (session.py: spark.sql.ansi.enabled=false):
silent-null casts, null division, wrapping overflow — behaviors an
oracle can't see but users depend on.
"""

from __future__ import annotations

import pytest
from pyspark.errors import AnalysisException, ParseException

from hive_service_spark.catalog import TABLES, bind

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module", autouse=True)
def _views(spark):
    bind(spark, SF, *TABLES)


def test_unresolved_column(spark):
    with pytest.raises(AnalysisException) as e:
        spark.sql("SELECT no_such_col FROM nation").collect()
    assert "UNRESOLVED_COLUMN" in str(e.value)


def test_unresolved_table(spark):
    with pytest.raises(AnalysisException) as e:
        spark.sql("SELECT * FROM no_such_table").collect()
    assert "TABLE_OR_VIEW_NOT_FOUND" in str(e.value)


def test_parse_error(spark):
    with pytest.raises(ParseException):
        spark.sql("SELEC * FROM nation")


def test_ambiguous_reference(spark):
    with pytest.raises(AnalysisException) as e:
        spark.sql(
            "SELECT n_name FROM nation a JOIN nation b ON a.n_nationkey = b.n_nationkey"
        ).collect()
    assert "AMBIGUOUS" in str(e.value).upper()


def test_groupby_missing_column(spark):
    """Non-aggregated, non-grouped column — the classic SemanticAnalyzer
    error (Hive: 'Expression not in GROUP BY key')."""
    with pytest.raises(AnalysisException):
        spark.sql("SELECT n_name, COUNT(*) FROM nation GROUP BY n_regionkey").collect()


def test_wrong_arg_count(spark):
    with pytest.raises(AnalysisException):
        spark.sql("SELECT substr() FROM nation").collect()


def test_union_column_count_mismatch(spark):
    with pytest.raises(AnalysisException) as e:
        spark.sql(
            "SELECT n_nationkey FROM nation UNION ALL "
            "SELECT n_nationkey, n_name FROM nation"
        ).collect()
    assert "NUM_COLUMNS_MISMATCH" in str(e.value)


def test_aggregate_in_where(spark):
    """Aggregates are illegal in WHERE (Hive: 'Not yet supported place
    for UDAF'); HAVING is the legal form."""
    with pytest.raises(AnalysisException):
        spark.sql("SELECT n_regionkey FROM nation WHERE COUNT(*) > 1").collect()


# --- non-ANSI (Hive 2.3) runtime semantics ---------------------------------


def test_division_by_zero_yields_null(spark):
    row = spark.sql("SELECT 1 / 0 AS d, 1 div 0 AS i").collect()[0]
    assert row["d"] is None and row["i"] is None


def test_bad_cast_yields_null(spark):
    row = spark.sql("SELECT CAST('abc' AS INT) AS v").collect()[0]
    assert row["v"] is None


def test_int_division_yields_double(spark):
    """Hive `/` on ints is double division; `div` is integer — both
    pinned (SURVEY.md §7 hard parts)."""
    row = spark.sql("SELECT 7 / 2 AS d, 7 div 2 AS i").collect()[0]
    assert row["d"] == 3.5 and row["i"] == 3


def test_overflow_wraps(spark):
    """ANSI off: bigint overflow wraps (two's complement), matching
    Hive 2.3 Java semantics."""
    row = spark.sql(
        "SELECT 9223372036854775807 + CAST(1 AS BIGINT) AS v"
    ).collect()[0]
    assert row["v"] == -9223372036854775808


def test_ngram_queries_survive_short_documents(spark):
    """Round-13 review: sequence(0, -1) is DESCENDING in Spark, so a
    1-word doc drove element_at(w, 0) -> INVALID_INDEX_OF_ZERO inside
    the ngram transforms, where the DuckDB oracle's generate_series is
    simply empty. The guarded transforms must yield zero grams for
    short docs — not crash — if a regenerated corpus ever contains
    them."""
    import pyspark.sql.functions as F

    w = F.split("text", " ")
    grams = F.when(F.size(w) >= 2, F.transform(
        F.sequence(F.lit(0), F.size(w) - 2),
        lambda i: F.concat_ws(
            " ", F.element_at(w, i + 1), F.element_at(w, i + 2)
        ),
    )).otherwise(F.array().cast("array<string>"))
    df = spark.createDataFrame(
        [("one",), ("",), ("two words",), ("three little words",)],
        "text string",
    )
    got = df.select(F.explode(grams).alias("g")).collect()
    assert sorted(r.g for r in got) == [
        "little words", "three little", "two words"
    ]
    # the REGISTERED queries run the guarded shape — prove by running
    # them over a view that includes the degenerate docs
    from hive_service_spark.llm.text import (
        text_context_ngrams,
        text_ngrams_top,
    )
    import hive_service_spark.catalog as cat

    orig_load = cat.load

    def fake_load(spark_, sf_dir_, table):
        if table == "documents":
            return spark.createDataFrame(
                [(1, "one", "en", "s", 3), (2, "in the end", "en", "s", 10),
                 (3, "at the start now", "en", "s", 16), (4, "", "en", "s", 0)],
                "doc_id bigint, text string, lang string, source string, "
                "n_chars bigint",
            )
        return orig_load(spark_, sf_dir_, table)

    import hive_service_spark.llm.text as textmod

    old = textmod.load
    textmod.load = fake_load
    try:
        top = text_ngrams_top(spark, "unused").collect()
        assert ("in the", 1) in [(r.gram, r.freq) for r in top]
        ctx = text_context_ngrams(spark, "unused").collect()
        assert [(r.context, r.completion) for r in ctx] == [
            ("at the", "start"), ("in the", "end")
        ]
    finally:
        textmod.load = old
