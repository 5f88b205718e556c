"""Repo-wide forced-broadcast allowlist lint.

A forced ``F.broadcast(...)`` / ``.hint("broadcast")`` bypasses AQE's
size check, so a hint wrapping an sf-scaled frame is a latent
executor-OOM at 100 TB even though it "works" at test scale. Rounds
7-8 purged every such site (TPC-H big tables, the graph loops' per-node
frames, the FK-audit keyset, the MERGE change set, the MV maintenance
deltas, the stream-static customer dim); the dynamic plan pins in
test_plans.py verify the high-risk families against the live plan.

This lint makes the purge PERMANENT and repo-wide: every forced
broadcast call site (found by AST walk — no false hits from docstrings
or ``hint("shuffle_hash")``) must appear below, keyed by (module,
enclosing function), with its scale-boundedness justification. So must
every table named in a ``/*+ BROADCAST|BROADCASTJOIN|MAPJOIN(...) */``
hint inside a string constant (a SQL text), keyed by (module,
enclosing function) or, for a module-level text, (module, the name
the text is assigned to). A new
site — or a new broadcast inside an allowed function — fails this test
until it is justified here, which is exactly the review conversation a
forced hint deserves.

Justification vocabulary (why the frame cannot grow with the corpus):
  fixed-dim      nation (25) / region (5) — constant TPC-H dims
  scalar-1row    ungrouped aggregate: one row by construction
  probe-capped   probe/query frame hard-capped (_BM25_QCAP<=100,
                 _HE_QCAP<=200, 16-vector PQ sample, capped kNN probes)
  model-bounded  broadcast model/sketch sized by the model, not the
                 data (NB counts, bigram LM, DSIR 256 buckets, BPE
                 merge pair, JL matrix, centroid codebooks, CMS params,
                 quantile lists, df-capped hot sets)
  group-bounded  one row per bounded-cardinality group (event_type,
                 lang, source, bitmap flag)
  batch-contract transaction/merge batch keyset — bounded by the
                 write batch that produced it, never by the table
  size-gated     applied only under a measured row-count gate
                 (graph _per_node_side; pinned in test_plans.py)
  file-stats     one row per data file (skipping-index demo; a real
                 deployment pushes this into the format footer)
  baseline       LABELED brute-force baseline whose scale path is a
                 separate banded/bucketed query
"""

from __future__ import annotations

import ast
import os
import re

ROOT = os.path.join(os.path.dirname(__file__), "..", "hive_service_spark")

ALLOWLIST = {
    ("functions/percentile_hive.py", "agg_percentile_hist_lossy"):
        (1, "model-bounded: quantile list"),
    ("functions/percentile_hive.py", "percentile_approx_hive"):
        (1, "model-bounded: quantile list"),
    ("llm/classify.py", "_nb_scored"):
        (6, "model-bounded: label/vocab/count frames"),
    ("llm/classify.py", "ml_bigram_lm_quality"):
        (5, "model-bounded: vocab + bigram LM + backoff + 1-row unseen"),
    ("llm/classify.py", "_step"):
        (2, "scalar-1row doc count + model-bounded 65-row weights"),
    ("llm/classify.py", "_logreg_margins"):
        (1, "model-bounded: 65-row weight vector (the ONE shared "
            "scoring site — residuals, batch serve, streaming serve)"),
    ("llm/classify.py", "ml_logreg_quality"):
        (1, "scalar-1row: accuracy row"),
    ("llm/corpus.py", "text_tfidf_top_terms"):
        (1, "scalar-1row: corpus doc count"),
    ("llm/dedup.py", "_shingle_shared_counts"):
        (1, "model-bounded: df-capped hot-shingle set (the shared "
            "candidate generator dedup_ngram_jaccard and "
            "dedup_containment_pairs were deduplicated into)"),
    ("llm/dedup.py", "dedup_embedding_cosine"):
        (1, "baseline: labeled brute-force pair baseline"),
    ("llm/dedup.py", "dedup_eval_lsh_pr"):
        (3, "scalar-1row: gauge counters"),
    ("llm/dedup.py", "dedup_semantic_survivorship"):
        (4, "baseline: LABELED brute-force query end to end (pair "
            "side + per-doc quality frames); scale path is the "
            "banded/bucketed dedup family"),
    ("llm/pipeline.py", "pipeline_contamination_check"):
        (1, "model-bounded: benchmark 4-gram set"),
    ("llm/pipeline.py", "pipeline_mixture_temperature"):
        (1, "group-bounded: per-source rates"),
    ("llm/pipeline.py", "pipeline_quality_funnel"):
        (1, "scalar-1row: stage totals"),
    ("llm/selection.py", "_dsir_model"):
        (1, "scalar-1row: bucket total"),
    ("llm/selection.py", "pipeline_dsir_importance"):
        (1, "model-bounded: 256-bucket log-ratio model"),
    ("llm/selection.py", "text_cms_heavy_hitters"):
        (2, "model-bounded: CMS width*depth sketch + params"),
    ("llm/selection.py", "sel_domain_quality_prune"):
        (1, "group-bounded: per-source threshold frame (|sources| "
            "rows — the histogram-quantile output, round 10)"),
    ("llm/similarity.py", "_km_assign"):
        (1, "model-bounded: k-vector centroid codebook"),
    ("llm/similarity.py", "ann_ivf_cells"):
        (2, "probe-capped + model-bounded centroids"),
    ("llm/similarity.py", "ann_ivf_kmeans"):
        (1, "probe-capped probe frame"),
    ("llm/similarity.py", "ann_ivf_nprobe2"):
        (2, "probe-capped + model-bounded centroids"),
    ("llm/similarity.py", "ann_lsh_hyperplane"):
        (1, "probe-capped probe frame"),
    ("llm/similarity.py", "ann_pq_adc"):
        (1, "probe-capped probe frame (16-vector PQ sample)"),
    ("llm/similarity.py", "knn_cosine_bruteforce"):
        (1, "probe-capped probe frame"),
    ("llm/similarity.py", "ml_knn_label_vote"):
        (1, "probe-capped probe frame"),
    ("llm/similarity.py", "_top5"):
        (1, "probe-capped probe frame (matryoshka recall gauge)"),
    ("llm/similarity.py", "ml_random_projection_jl"):
        (1, "model-bounded: JL projection matrix"),
    ("llm/similarity.py", "ranked"):
        (1, "probe-capped probe frame (serving path)"),
    ("llm/similarity.py", "scored"):
        (2, "probe-capped + model-bounded centroids (serving path)"),
    ("llm/text.py", "_bm25_index"):
        (1, "scalar-1row: corpus stats (N, avgdl)"),
    ("llm/text.py", "_bm25_scored"):
        (1, "probe-capped: query-term idf frame (_BM25_QCAP)"),
    ("llm/text.py", "_wand_frames"):
        (1, "probe-capped: unsafe-query term frame (subset of the "
            "_BM25_QCAP-capped probe terms — r13 fallback rescore)"),
    ("llm/text.py", "text_hard_negative_mining"):
        (1, "probe-capped: one positive row per probe"),
    ("llm/text.py", "text_hash_embed_knn"):
        (1, "probe-capped probe frame (_HE_QCAP)"),
    ("llm/text.py", "text_hybrid_rrf_retrieval"):
        (1, "probe-capped probe frame"),
    ("llm/text.py", "phrase_search"):
        (1, "probe-capped: phrase-term frame (_PHRASE_QCAP / test "
            "fixtures)"),
    ("llm/tokenizer.py", "_train_chain"):
        (1, "scalar-1row: winning merge pair"),
    ("llm/tokenizer.py", "tok_vocab_coverage_heldout"):
        (1, "model-bounded: trained merge table"),
    ("operators/acid_snapshots.py", "_rewrite"):
        (1, "batch-contract: txn delete keyset"),
    ("operators/acid_snapshots.py", "acid_cdc_apply_replica"):
        (2, "batch-contract: CDC batch keysets"),
    ("operators/acid_snapshots.py", "read"):
        (1, "batch-contract: snapshot delete keyset"),
    ("operators/bitmap_index.py", "agg_ewah_bitmap_ops"):
        (1, "group-bounded: one bitmap row per flag value"),
    ("operators/graph_analytics.py", "_per_node_side"):
        (1, "size-gated: measured node count vs cap (pinned)"),
    ("operators/joins.py", "_INNER_ORACLE"):
        (1, "fixed-dim: nation — the MapJoin surface itself"),
    ("operators/partition_pruning.py", "layout_zorder_skipping"):
        (1, "file-stats: per-file min/max boxes"),
    ("operators/sequence_analytics.py", "seq_bloom_semi_join"):
        (1, "scalar-1row: bloom bitmap"),
    ("operators/skew_scale.py", "quarantine_hot_keys"):
        (2, "scalar-1row total + model-bounded hot set (keys owning "
            "> max_share of rows: <= 1/max_share keys by construction "
            "— the broadcast anti-join IS the operator's scale story, "
            "plan-pinned in test_plans.py)"),
    ("operators/sequence_analytics.py", "ts_mad_robust_anomalies"):
        (3, "group-bounded: median/MAD per event_type"),
    ("operators/tpch.py", "_Q5_ORACLE"):
        (2, "fixed-dim: nation + region"),
    ("operators/tpch_extra.py", "_Q10_ORACLE"):
        (1, "fixed-dim: nation"),
    ("operators/tpch_extra.py", "q7_volume_shipping"):
        (2, "fixed-dim: nation x2"),
    ("operators/tpch_extra.py", "_Q9_ORACLE"):
        (1, "fixed-dim: nation"),
    ("operators/tpch_more.py", "q11_important_stock"):
        (2, "fixed-dim: nation + scalar-1row threshold"),
    ("operators/tpch_more.py", "q15_top_supplier"):
        (1, "scalar-1row: max revenue"),
    ("operators/tpch_more.py", "q20_promotion_suppliers"):
        (1, "fixed-dim: nation"),
    ("operators/tpch_more.py", "q21_suppliers_waiting"):
        (1, "fixed-dim: nation"),
    ("operators/tpch_more.py", "q22_global_sales_opportunity"):
        (1, "scalar-1row: acctbal cutoff"),
    ("operators/tpch_more.py", "q2_min_cost_supplier"):
        (2, "fixed-dim: nation + region"),
    ("operators/tpch_more.py", "q8_market_share"):
        (3, "fixed-dim: nation x2 + region"),
    ("streaming/events.py", "stream_chained_windows"):
        (1, "scalar-1row: watermark cutoff"),
    ("streaming/events.py", "stream_static_enrich"):
        (1, "scalar-1row: watermark cutoff (the customer dim itself "
            "is UNHINTED — round-8 fix)"),
    ("streaming/events.py", "stream_stream_outer_join"):
        (1, "scalar-1row: watermark cutoff"),
    ("streaming/ingest.py", "_dsir_decide"):
        (1, "model-bounded: 256-bucket DSIR model (the per-batch "
            "scorer inside stream_dsir_scoring's foreachBatch; round "
            "10 factored it module-level so the soak drives it)"),
    ("streaming/notifications.py", "stream_cdc_apply_replica"):
        (2, "scalar-1row: drift gauge counters"),
}


# a join hint in SQL text; group 2 lists the hinted tables
_SQL_HINT = re.compile(
    r"/\*\+[^*]*?\b(BROADCAST|BROADCASTJOIN|MAPJOIN)\s*\(([^)]*)\)", re.IGNORECASE
)


def _inventory():
    inv: dict[tuple[str, str], int] = {}
    for dirpath, _, files in os.walk(ROOT):
        for f in sorted(files):
            if not f.endswith(".py"):
                continue
            p = os.path.join(dirpath, f)
            rel = os.path.relpath(p, ROOT).replace(os.sep, "/")
            with open(p) as fh:
                tree = ast.parse(fh.read())

            class V(ast.NodeVisitor):
                def __init__(self):
                    self.stack: list[str] = []

                def visit_FunctionDef(self, node):
                    self.stack.append(node.name)
                    self.generic_visit(node)
                    self.stack.pop()

                visit_AsyncFunctionDef = visit_FunctionDef

                def visit_Assign(self, node):
                    named = not self.stack and len(node.targets) == 1 and (
                        isinstance(node.targets[0], ast.Name)
                    )
                    if named:
                        self.stack.append(node.targets[0].id)
                    self.generic_visit(node)
                    if named:
                        self.stack.pop()

                def visit_Expr(self, node):
                    # a bare string statement is a docstring: no SQL
                    if not (
                        isinstance(node.value, ast.Constant)
                        and isinstance(node.value.value, str)
                    ):
                        self.generic_visit(node)

                def visit_Constant(self, node):
                    if not isinstance(node.value, str):
                        return
                    n = sum(
                        len([t for t in m.group(2).split(",") if t.strip()])
                        for m in _SQL_HINT.finditer(node.value)
                    )
                    if n:
                        key = (
                            rel,
                            self.stack[-1] if self.stack else "<module>",
                        )
                        inv[key] = inv.get(key, 0) + n

                def visit_Call(self, node):
                    fn = node.func
                    hit = (
                        isinstance(fn, ast.Attribute)
                        and fn.attr == "broadcast"
                        and isinstance(fn.value, ast.Name)
                        and fn.value.id == "F"
                    ) or (
                        isinstance(fn, ast.Attribute)
                        and fn.attr == "hint"
                        and node.args
                        and isinstance(node.args[0], ast.Constant)
                        and node.args[0].value == "broadcast"
                    )
                    if hit:
                        key = (
                            rel,
                            self.stack[-1] if self.stack else "<module>",
                        )
                        inv[key] = inv.get(key, 0) + 1
                    self.generic_visit(node)

            V().visit(tree)
    return inv


def test_every_forced_broadcast_is_allowlisted_and_justified():
    inv = _inventory()
    errors = []
    for key, count in sorted(inv.items()):
        if key not in ALLOWLIST:
            errors.append(
                f"NEW forced broadcast in {key[0]}::{key[1]} — justify "
                "its scale-boundedness in tests/test_broadcast_allowlist"
                ".py or remove the hint (AQE decides by size)"
            )
        elif ALLOWLIST[key][0] != count:
            errors.append(
                f"{key[0]}::{key[1]}: {count} forced broadcasts, "
                f"allowlist says {ALLOWLIST[key][0]} — re-justify"
            )
    for key in ALLOWLIST:
        if key not in inv:
            errors.append(
                f"stale allowlist entry {key[0]}::{key[1]} — site no "
                "longer exists, delete the entry"
            )
    assert not errors, "\n".join(errors)


def test_allowlist_total_matches_inventory():
    """Belt and braces: the aggregate count can't silently drift."""
    inv = _inventory()
    assert sum(inv.values()) == sum(c for c, _ in ALLOWLIST.values())


# ---------------------------------------------------------------------------
# the same discipline for driver-side materialization: every .collect()
# / .toPandas() in product code must be bounded by contract (.first()/
# .head() are 1-row by construction and exempt). An operator that
# iterates a .collect() is not distributed — round-1 design rule.
# ---------------------------------------------------------------------------

COLLECT_ALLOWLIST = {
    ("functions/hive_compat.py", "in_file"):
        (1, "reads a driver-local lookup FILE (the Hive in_file UDF "
            "contract), never a table"),
    ("llm/similarity.py", "_pq_codebooks"):
        (1, "16-vector training sample by design (documented: PQ "
            "codebooks train on a bounded driver sample)"),
    ("operators/acid_snapshots.py", "_affected_buckets"):
        (1, "manifest metadata: bucket ids touched by one txn"),
    ("operators/acid_snapshots.py", "acid_mor_compaction"):
        (1, "manifest metadata: delta-file relations of one version"),
    ("operators/ddl_catalog.py", "ddl_constraints_informational"):
        (1, "catalog metadata: declared constraint specs"),
    ("operators/ddl_catalog.py", "ddl_exchange_partition"):
        (1, "catalog metadata: partition specs"),
    ("operators/ddl_catalog.py", "ddl_explain_plan"):
        (1, "EXPLAIN text: one plan per statement"),
    ("operators/ddl_catalog.py", "ddl_partition_retention"):
        (1, "catalog metadata: partition list of one table"),
    ("operators/ddl_catalog.py", "ddl_show_describe_analyze"):
        (2, "SHOW/DESCRIBE output: schema-sized"),
    ("operators/ddl_catalog.py", "ddl_stats_only_answering"):
        (2, "ANALYZE statistics: one row per stat"),
    ("streaming/notifications.py", "_apply"):
        (2, "notification-log batch: bounded by the poll window "
            "(the metastore event-log contract)"),
}


def _collect_inventory():
    inv: dict[tuple[str, str], int] = {}
    for dirpath, _, files in os.walk(ROOT):
        for f in sorted(files):
            if not f.endswith(".py"):
                continue
            p = os.path.join(dirpath, f)
            rel = os.path.relpath(p, ROOT).replace(os.sep, "/")
            with open(p) as fh:
                tree = ast.parse(fh.read())

            class V(ast.NodeVisitor):
                def __init__(self):
                    self.stack: list[str] = []

                def visit_FunctionDef(self, node):
                    self.stack.append(node.name)
                    self.generic_visit(node)
                    self.stack.pop()

                visit_AsyncFunctionDef = visit_FunctionDef

                def visit_Call(self, node):
                    fn = node.func
                    if isinstance(fn, ast.Attribute) and fn.attr in (
                        "collect",
                        "toPandas",
                        "collectAsList",
                    ):
                        key = (
                            rel,
                            self.stack[-1] if self.stack else "<module>",
                        )
                        inv[key] = inv.get(key, 0) + 1
                    self.generic_visit(node)

            V().visit(tree)
    return inv


# ---------------------------------------------------------------------------
# row-at-a-time Python UDFs: the slow path (per-row pickling, no Arrow
# batching, 10-100x slower than JVM expressions or Pandas UDFs). The
# approved Python escapes are the Arrow-batched APIs (applyInPandas /
# mapInPandas / applyInArrow / applyInPandasWithState); plain F.udf /
# spark.udf.register exists only in the deliberate registration demo.
# ---------------------------------------------------------------------------

UDF_ALLOWLIST = {
    ("functions/function_queries.py", "func_python_udf_registered"):
        (2, "the documented UDF-registration SURFACE demo (reference "
            "CREATE FUNCTION parity) — runs on exactly 5 rows"),
}


def _udf_inventory():
    inv: dict[tuple[str, str], int] = {}
    for dirpath, _, files in os.walk(ROOT):
        for f in sorted(files):
            if not f.endswith(".py"):
                continue
            p = os.path.join(dirpath, f)
            rel = os.path.relpath(p, ROOT).replace(os.sep, "/")
            with open(p) as fh:
                tree = ast.parse(fh.read())

            class V(ast.NodeVisitor):
                def __init__(self):
                    self.stack: list[str] = []

                def visit_FunctionDef(self, node):
                    self.stack.append(node.name)
                    self.generic_visit(node)
                    self.stack.pop()

                visit_AsyncFunctionDef = visit_FunctionDef

                def visit_Call(self, node):
                    fn = node.func
                    hit = (
                        isinstance(fn, ast.Attribute)
                        and fn.attr == "udf"
                        and isinstance(fn.value, ast.Name)
                        and fn.value.id == "F"
                    ) or (
                        isinstance(fn, ast.Attribute)
                        and fn.attr == "register"
                        and isinstance(fn.value, ast.Attribute)
                        and fn.value.attr == "udf"
                    )
                    if hit:
                        key = (
                            rel,
                            self.stack[-1] if self.stack else "<module>",
                        )
                        inv[key] = inv.get(key, 0) + 1
                    self.generic_visit(node)

            V().visit(tree)
    return inv


def test_no_row_at_a_time_python_udfs_outside_the_demo():
    inv = _udf_inventory()
    errors = []
    for key, count in sorted(inv.items()):
        if key not in UDF_ALLOWLIST:
            errors.append(
                f"row-at-a-time Python UDF in {key[0]}::{key[1]} — "
                "use built-in functions or an Arrow-batched API "
                "(applyInPandas / mapInPandas), or justify it here"
            )
        elif UDF_ALLOWLIST[key][0] != count:
            errors.append(
                f"{key[0]}::{key[1]}: {count} UDF registrations, "
                f"allowlist says {UDF_ALLOWLIST[key][0]}"
            )
    for key in UDF_ALLOWLIST:
        if key not in inv:
            errors.append(f"stale UDF allowlist entry {key[0]}::{key[1]}")
    assert not errors, "\n".join(errors)


def test_every_collect_is_allowlisted_and_justified():
    inv = _collect_inventory()
    errors = []
    for key, count in sorted(inv.items()):
        if key not in COLLECT_ALLOWLIST:
            errors.append(
                f"NEW driver-side collect in {key[0]}::{key[1]} — "
                "justify its bounded-by-contract size in "
                "tests/test_broadcast_allowlist.py or restructure the "
                "operator to stay distributed"
            )
        elif COLLECT_ALLOWLIST[key][0] != count:
            errors.append(
                f"{key[0]}::{key[1]}: {count} collects, allowlist "
                f"says {COLLECT_ALLOWLIST[key][0]} — re-justify"
            )
    for key in COLLECT_ALLOWLIST:
        if key not in inv:
            errors.append(
                f"stale collect allowlist entry {key[0]}::{key[1]}"
            )
    assert not errors, "\n".join(errors)
