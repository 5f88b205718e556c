"""The JVM-wide cache of compiled generated classes holds the working
set of a long-lived session (``session.CODEGEN_CACHE_ENTRIES``).

The rotation is the benchmark's eight relational entries and its eight
shared-session reads, 14 distinct entries. In a fresh JVM at sf0.01
they compile 194 generated classes, more than Spark's default cache of
100 entries keeps: at that size every later pass compiled 195 classes
again. With the cache sized by ``get_session``, a warm pass compiles no
class. Two passes warm the rotation: in a JVM where other queries ran
first, seq_matchpath_general generates one new class on its second
run, and none after it.
"""

from __future__ import annotations

from hive_service_spark.registry import load_all
from hive_service_spark.session import CODEGEN_CACHE_ENTRIES, codegen_counters
from tests.conftest import SF_DIR

ROTATION = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "agg_rollup",
    "window_ranking",
    "join_theta_residual",
    "setop_except_all",
    "explode_word_count",
    "fn_shims_sql_url_tuple",
    "knn_cosine_bruteforce",
    "dedup_exact",
    "seq_window_funnel",
    "seq_matchpath_general",
    "temporal_asof_join",
    "skew_salted_replicated_join",
]


def _compiles_in_one_pass(spark, specs) -> int:
    before = codegen_counters(spark)["compiles"]
    for name in ROTATION:
        specs[name].fn(spark, SF_DIR).collect()
    return codegen_counters(spark)["compiles"] - before


def test_second_pass_compiles_no_class(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(
        CODEGEN_CACHE_ENTRIES
    )
    specs = load_all()
    for _ in range(2):
        _compiles_in_one_pass(spark, specs)
    assert _compiles_in_one_pass(spark, specs) == 0
