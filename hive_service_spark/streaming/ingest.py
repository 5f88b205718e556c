"""Streaming corpus-ingest dedup — the daily-ingest topology as a
LIVE stream.

`dedup_incremental_newbatch` (llm/dedup.py) screens a new BATCH of
documents against the stored corpus band index. This module runs the
identical decision function as a Structured Streaming query: documents
arrive in a landing directory (staged via scratch.stage_source, the
fingerprint-checked shared stager), MinHash signatures are computed
map-side on the stream (pure column expressions — no shuffle, no
state), candidates come from a STATELESS stream-static left-outer
join against the corpus band index, and each incoming doc gets one
decision row (match count / canonical duplicate / best Jaccard) from
a single streaming aggregation. Result is value-identical to the
batch query, so it shares the batch oracle — the streaming plan is
cross-checked against batch SQL semantics like every query in
streaming/events.py.

Reference note: Hive 2.3 has no streaming surface (SURVEY.md §1.1) —
this is part of the extension surface, composing the LSH index layout
of llm/dedup.py with Structured Streaming.
"""

from __future__ import annotations

from pathlib import Path

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from hive_service_spark import catalog
from hive_service_spark.llm.dedup import (
    _band_frame,
    _h,
    _INCR_ORACLE,
    _MH_A,
    _MH_B,
    _MH_P,
    _shingles,
    _signatures,
)
from hive_service_spark.llm.classify import _LOGREG_SERVED_ORACLE
from hive_service_spark.registry import persisted, query
from hive_service_spark.scratch import SCRATCH_ROOT as _SCRATCH
from hive_service_spark.scratch import pid_dir, stage_source
from hive_service_spark.streaming.events import (
    _CKPT,
    _run_to_table,
    await_stream,
)

_SINKS = f"{pid_dir('proc')}/ingest_sinks"


def _run_stateless_ingest(stream_df: DataFrame, name: str, decide) -> DataFrame:
    """Run an ingest stream whose per-doc decision needs NO cross-batch
    state: ``decide`` maps each micro-batch (a plain BATCH DataFrame —
    every derived row of an input doc lives in the doc's own batch,
    because the featurization is narrow per-row transforms) to its
    decision rows, which foreachBatch APPENDS to a parquet sink.

    This is the 100-TB-shaped replacement (round 9) for the previous
    complete-mode streaming aggregation, whose state kept one row per
    doc EVER ingested — unbounded at sustained ingest. Here the
    streaming query has ZERO stateful operators (the aggregation runs
    as a batch agg inside each micro-batch), so state-store rows stay
    at exactly zero however many batches flow through
    (tests/test_streaming_soak.py pins that under a 20-micro-batch
    replay), and the parquet decision log is the durable output a
    downstream selector reads — the same availableNow replay still
    lands on the batch oracle's exact values.

    Round 10 (ADVICE): the per-batch write is IDEMPOTENT — foreachBatch
    gives at-least-once batch semantics, so a mid-stream failure can
    re-run the interrupted batchId; each batch now lands in its own
    ``batch_id=<id>`` partition directory in OVERWRITE mode (replayed
    batches replace their own rows instead of duplicating them —
    exactly-once decision rows without any read-time dedup), and an
    empty source (zero micro-batches ever fired) returns the decision
    frame's empty shape instead of raising on the never-created sink."""
    import shutil

    spark = stream_df.sparkSession
    sink = f"{_SINKS}/{name}"
    # full replay per invocation, like _run_to_table: stale checkpoint
    # or sink would pin old offsets / duplicate old decision rows
    shutil.rmtree(f"{_CKPT}/{name}", ignore_errors=True)
    shutil.rmtree(sink, ignore_errors=True)
    # one state-store instance per core (see events._run_to_table)
    spark.conf.set(
        "spark.sql.shuffle.partitions", str(spark.sparkContext.defaultParallelism)
    )
    q = (
        stream_df.writeStream.foreachBatch(
            lambda bdf, bid: decide(bdf)
            .write.mode("overwrite")
            .parquet(f"{sink}/batch_id={bid}")
        )
        .queryName(name)
        .option("checkpointLocation", f"{_CKPT}/{name}")
        .trigger(availableNow=True)
        .start()
    )
    await_stream(q)
    if not Path(sink).exists():
        # zero micro-batches fired (empty landing dir): the contract is
        # still the decision schema, just with no rows
        empty = spark.createDataFrame([], stream_df.schema)
        return decide(empty)
    # partition discovery surfaces batch_id as a column; it is sink
    # bookkeeping, not part of the decision row
    return spark.read.option("basePath", sink).parquet(sink).drop("batch_id")


def _doc_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the documents table: the parquet file is
    staged into a scratch landing directory (the dir a production
    ingest keeps dropping files into) with the same mtime-checked
    atomic copy as the events stager."""
    src = Path(sf_dir) / "documents.parquet"
    stage = Path(f"{_SCRATCH}/stream_doc_src") / Path(sf_dir).name
    stage_source(src, stage)
    schema = catalog.schema(spark, str(src))
    return spark.readStream.schema(schema).parquet(str(stage))


@query("stream_dedup_lsh_ingest", oracle=_INCR_ORACLE)
def stream_dedup_lsh_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming LSH dedup ingest: the incoming partition
    (doc_id % 5 = 0, the same split as dedup_incremental_newbatch) is
    consumed as a STREAM; the corpus (the rest) is the static stored
    index. Per micro-batch:

    1. signatures map-side on the stream: shingle set + 16 MinHash
       lambdas — pure narrow column expressions, no state;
    2. band keys exploded (4 x 4) and LEFT-OUTER joined to the static
       corpus band index on (band, bucket-key) — stream-static joins
       are STATELESS, and left-outer keeps docs with zero candidates;
    3. candidates verified with exact Jaccard against the static
       signature table (second stateless static join);
    4. one BATCH aggregation per doc_id inside foreachBatch builds the
       decision row — duplicate (band, pair) hits are collapsed with
       collect_set, and unverified/null candidates are excluded inside
       the aggregates with WHEN flags rather than a filter, so every
       incoming doc keeps its row — appended to the parquet decision
       log (_run_stateless_ingest).

    Value-identical to the batch decision table, so it shares
    _INCR_ORACLE. Scale (100 TB/day): the static index is the bucketed
    band table of ann_lsh_bucketed_index — the stream routes to it
    without re-shuffling the corpus; and because every derived row of a
    doc lives in the doc's own micro-batch, the decision needs NO
    cross-batch state: the streaming query has zero stateful operators
    (round 9 — the previous complete-mode aggregation kept one state
    row per doc ever ingested, unbounded at sustained ingest;
    tests/test_streaming_soak.py pins state flat at 0 across a
    20-micro-batch replay). The md5-per-shingle work is recomputed per
    lambda on the stream — same decision function as the batch path."""
    corp_bands, corp_sig = _lsh_corpus_index(spark, sf_dir)
    docs = _doc_stream(spark, sf_dir).where(F.col("doc_id") % 5 == 0)
    return _run_stateless_ingest(
        docs,
        "hs_stream_dedup_ingest",
        lambda bdf: _lsh_decide(bdf, corp_bands, corp_sig),
    )


def _lsh_corpus_index(spark: SparkSession, sf_dir: str):
    """The static stored-corpus side of the LSH ingest: (band index,
    signature table) over the non-incoming partition — exported so the
    soak (tests/test_streaming_soak.py) drives the identical decision
    function through many micro-batches."""
    sig_all = _signatures(spark, sf_dir)
    is_inc = F.col("doc_id") % 5 == 0
    corp_sig = persisted(sig_all.where(~is_inc).select("doc_id", "s"))
    corp_bands = persisted(
        _band_frame(sig_all.where(~is_inc))
        .select("b", "bkey", F.col("doc_id").alias("dc"))
    )
    return corp_bands, corp_sig


def _lsh_decide(docs: DataFrame, corp_bands: DataFrame, corp_sig: DataFrame) -> DataFrame:
    """One micro-batch's docs -> decision rows (steps 1-4 of the
    stream_dedup_lsh_ingest docstring). Pure batch transformation —
    runs identically on the stream (single-batch oracle replay) and
    inside foreachBatch (sustained ingest)."""
    sh = docs.where(F.size(F.split("text", " ")) >= 3).select(
        "doc_id", _shingles().alias("s")
    )
    # name `hs` as a column to limit md5 re-inlining across the 16
    # minhash lambdas (cheaper than a persist barrier per micro-batch)
    sh = sh.select("doc_id", "s", F.transform("s", _h).alias("hs"))
    sig = sh.select(
        "doc_id",
        "s",
        F.array(
            *[
                F.array_min(
                    F.transform(
                        "hs", lambda h: (F.lit(a) * h + F.lit(b)) % _MH_P
                    )
                )
                for a, b in zip(_MH_A, _MH_B)
            ]
        ).alias("mh"),
    )
    bands = sig.select(
        "doc_id",
        "s",
        F.explode(F.sequence(F.lit(0), F.lit(3))).alias("b"),
        "mh",
    ).select(
        "doc_id",
        "s",
        "b",
        F.concat_ws(
            "-", *[F.element_at("mh", F.col("b") * 4 + k) for k in (1, 2, 3, 4)]
        ).alias("bkey"),
    )

    cand = bands.join(corp_bands, ["b", "bkey"], "left")
    paired = cand.join(
        corp_sig.withColumnRenamed("doc_id", "dc_id").withColumnRenamed(
            "s", "sc"
        ),
        cand["dc"] == F.col("dc_id"),
        "left",
    )
    inter = F.size(F.array_intersect(F.col("s"), F.col("sc")))
    union = F.size(F.col("s")) + F.size(F.col("sc")) - inter
    # threshold the UNROUNDED ratio (exactly like the batch query and
    # _INCR_ORACLE — rounding first would admit true Jaccard in
    # [0.79995, 0.8)), round only the emitted value
    raw_jac = inter / union
    flagged = paired.select(
        "doc_id",
        "dc",
        F.when(raw_jac >= 0.8, F.round(raw_jac, 4)).alias("vjac"),
    )
    decisions = flagged.groupBy("doc_id").agg(
        F.size(
            F.collect_set(F.when(F.col("vjac").isNotNull(), F.col("dc")))
        )
        .cast("bigint")
        .alias("n_matches"),
        F.coalesce(
            F.min(F.when(F.col("vjac").isNotNull(), F.col("dc"))), F.lit(-1)
        )
        .cast("bigint")
        .alias("best_match"),
        (F.coalesce(F.max("vjac"), F.lit(0.0)) + 0.0).alias("best_jaccard"),
    )
    return decisions


# ---------------------------------------------------------------------------
# streaming count-min sketch maintenance
# ---------------------------------------------------------------------------

from hive_service_spark.llm.selection import _CMS_D as _ING_CMS_D
from hive_service_spark.llm.selection import _CMS_W as _ING_CMS_W

_CMS_INGEST_ORACLE = f"""
WITH tok AS (
  SELECT unnest(string_split(lower(text), ' ')) AS t FROM documents
)
SELECT j,
       (('0x' || substr(md5(CAST(j AS VARCHAR) || ':' || t), 1, 8))::BIGINT
        % {_ING_CMS_W}) AS b,
       CAST(COUNT(*) AS BIGINT) AS cell
FROM tok, unnest(generate_series(0, {_ING_CMS_D - 1})) AS g(j)
GROUP BY 1, 2
"""


@query("stream_cms_ingest", oracle=_CMS_INGEST_ORACLE)
def stream_cms_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE count-min sketch maintenance: the document stream is
    tokenized per micro-batch and ONE streaming aggregation keeps the
    d x w counter grid current — the mergeability that makes CMS the
    streaming-native frequency sketch (cells add across batches, so
    update-mode state is just the 256 cells, independent of stream
    length). Value-identical to the batch sketch in
    text_cms_heavy_hitters (same md5-derived row hashes), proven by
    sharing its cells oracle: after the full corpus streams through,
    every counter matches the batch replay exactly.

    At 100 TB/day this is the production frequency-monitor shape:
    per-executor partial cells combine map-side, the stateful
    aggregation holds d*w rows total, and the sketch is queryable
    mid-stream at any time."""
    from hive_service_spark.llm.selection import _CMS_D, _CMS_W

    stream = _doc_stream(spark, sf_dir)
    tok = stream.select(
        F.explode(F.split(F.lower("text"), " ")).alias("t")
    )
    jb = F.explode(
        F.transform(
            F.sequence(F.lit(0), F.lit(_CMS_D - 1)),
            lambda j: F.struct(
                j.cast("int").alias("j"),
                (
                    _h(
                        F.concat(
                            j.cast("string"), F.lit(":"), F.col("t")
                        )
                    )
                    % _CMS_W
                ).alias("b"),
            ),
        )
    )
    cells = (
        tok.select(jb.alias("jb"))
        .select("jb.j", "jb.b")
        .groupBy("j", "b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cell"))
    )
    out = _run_to_table(cells, "cms_cells", "complete")
    return out.select("j", "b", "cell")


# ---------------------------------------------------------------------------
# streaming DSIR scoring: train batch, serve streaming
# ---------------------------------------------------------------------------

_STREAM_DSIR_ORACLE = """
WITH d AS (
  SELECT doc_id, source, lang, string_split(lower(text), ' ') AS w
  FROM documents
),
feats AS (
  SELECT doc_id, source, lang,
         (('0x' || substr(md5(f), 1, 8))::BIGINT % 256) AS b
  FROM (
    SELECT doc_id, source, lang, unnest(w) AS f FROM d
    UNION ALL
    SELECT doc_id, source, lang, w[i] || ' ' || w[i + 1] AS f
    FROM d, unnest(generate_series(1, len(w) - 1)) AS t(i)
  )
),
model AS (
  SELECT b, COUNT(*) AS cr,
         COUNT(*) FILTER (WHERE lang = 'en') AS ct
  FROM feats GROUP BY b
),
tot AS (SELECT SUM(cr) AS nr, SUM(ct) AS nt FROM model),
logratio AS (
  SELECT m.b,
         CAST(ROUND(1024 * ln(((m.ct + 1.0) * (t.nr + 256))
                              / ((m.cr + 1.0) * (t.nt + 256))))
              AS BIGINT) AS q
  FROM model m, tot t
)
SELECT f.doc_id, f.source,
       CAST(SUM(l.q) AS BIGINT) AS score_q,
       CAST(COUNT(*) AS BIGINT) AS n_feats
FROM feats f JOIN logratio l ON f.b = l.b
WHERE f.doc_id % 5 = 0
GROUP BY f.doc_id, f.source
"""


@query("stream_dsir_scoring", oracle=_STREAM_DSIR_ORACLE)
def stream_dsir_scoring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train batch, serve streaming — the DSIR deployment shape: the
    256-bucket importance model is fitted ONCE on the stored corpus
    (static side), then the ingest stream (doc_id % 5 = 0, the same
    incoming partition as the LSH ingest screens) is featurized per
    micro-batch, joined to the BROADCAST static model, and scored with
    one BATCH aggregation per document inside foreachBatch — a doc's
    features all live in its own micro-batch, so the score needs no
    cross-batch state and the streaming query has ZERO stateful
    operators (round 9: the previous complete-mode aggregation kept
    one state row per doc ever scored — unbounded at sustained
    ingest). Scores are the same BIGINT-quantized integers as the
    batch selector — the oracle computes them batch-side, so a
    drifting featurization or a stale model join cannot pass; the
    model never re-fits mid-stream (exactly the paper's
    train-once/apply-everywhere contract)."""
    model = _dsir_static_model(spark, sf_dir)
    stream = _doc_stream(spark, sf_dir).where(F.col("doc_id") % 5 == 0)
    out = _run_stateless_ingest(
        stream, "dsir_scores", lambda bdf: _dsir_decide(bdf, model)
    )
    return out.select("doc_id", "source", "score_q", "n_feats")


def _dsir_static_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The train-once static side of the DSIR ingest — exported (like
    _lsh_corpus_index) so the soak drives the identical decision
    function through many micro-batches."""
    from hive_service_spark.llm.selection import _dsir_features, _dsir_model

    corpus = catalog.load(spark, sf_dir, "documents")
    return _dsir_model(_dsir_features(corpus)).localCheckpoint(eager=True)


def _dsir_decide(bdf: DataFrame, model: DataFrame) -> DataFrame:
    """One micro-batch's docs -> DSIR score rows. Pure batch transform
    against the BROADCAST static model — zero cross-batch state."""
    from hive_service_spark.llm.selection import _dsir_features

    return (
        _dsir_features(bdf)
        .join(F.broadcast(model), "b")
        .groupBy("doc_id", "source")
        .agg(
            F.sum("q").cast("bigint").alias("score_q"),
            F.count(F.lit(1)).cast("bigint").alias("n_feats"),
        )
    )


# ---------------------------------------------------------------------------
# streaming classifier scoring: the trained logistic-regression weight
# vector applied to the ingest stream (round 10)
# ---------------------------------------------------------------------------


def _logreg_static_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train-once static side of the LR ingest: the 3-step
    exact-integer GD fitted on the STORED corpus (doc_id % 5 != 0 —
    the same 80% split ml_logreg_served_scores trains on), frozen
    with an eager localCheckpoint so no micro-batch ever re-runs a
    training stage. Exported (like _lsh_corpus_index and
    _dsir_static_model) so the soak can drive the identical decision
    function through many micro-batches."""
    from hive_service_spark.llm.classify import _logreg_core

    # round-10 ADVICE #2: this path only ever TRAINS (the stream
    # featurizes its own docs per micro-batch), so the 20% streamed
    # split is pre-filtered out before featurization instead of being
    # featurized+persisted as dead weight; weights are bit-identical
    # (every training aggregate joins through the train split).
    _x, _ylab, _w1, _w2, w3 = _logreg_core(
        spark, sf_dir, F.lit(True), prefilter=F.col("doc_id") % 5 != 0
    )
    return w3.localCheckpoint(eager=True)


def _logreg_decide(bdf: DataFrame, w3: DataFrame) -> DataFrame:
    """One micro-batch's docs -> scored rows. Featurization AND
    scoring are the SAME functions the batch path uses
    (_logreg_featurize / _logreg_margins / _logreg_scores — the
    served-model property by construction), against the BROADCAST
    65-row frozen vector — zero cross-batch state."""
    from hive_service_spark.llm.classify import (
        _logreg_featurize,
        _logreg_margins,
        _logreg_scores,
    )

    x, ylab = _logreg_featurize(bdf)
    return _logreg_scores(ylab, _logreg_margins(x, w3))


@query("stream_logreg_scoring", oracle=_LOGREG_SERVED_ORACLE)
def stream_logreg_scoring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train batch, serve streaming — the quality-classifier
    deployment shape (the LR twin of stream_dsir_scoring): the 65-row
    weight vector is trained ONCE on the stored 80% corpus
    (_logreg_static_weights), then the ingest stream (doc_id % 5 = 0,
    the same incoming partition every ingest query screens) is
    featurized per micro-batch BY THE SAME FUNCTION training used,
    joined to the broadcast frozen weights, and scored with one batch
    aggregation per document inside foreachBatch — a doc's features
    all live in its own micro-batch, so the streaming query has ZERO
    stateful operators and state-store rows stay at exactly zero at
    any ingest volume. Margins are the same exact BIGINTs as
    ml_logreg_served_scores — the two queries SHARE the oracle, so a
    drifting featurization, a stale weight join, or any float creeping
    into the served path hash-fails against the batch-trained truth."""
    w3 = _logreg_static_weights(spark, sf_dir)
    stream = _doc_stream(spark, sf_dir).where(F.col("doc_id") % 5 == 0)
    out = _run_stateless_ingest(
        stream, "logreg_scores", lambda bdf: _logreg_decide(bdf, w3)
    )
    return out.select("doc_id", "y", "margin_q", "pred_en", "correct")
