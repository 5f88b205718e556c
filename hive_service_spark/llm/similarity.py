"""LLM-pipeline extension — similarity search over `embeddings`.

Three tiers of nearest-neighbor search over the `embedding`
(array<float>, 64-dim) column:

1. brute-force cosine top-k — the exact baseline: broadcast the (small)
   query set against the full corpus; one pass, no O(n^2) blow-up
   because only |Q| x n pairs exist and Q is broadcast.
2. random-hyperplane LSH ANN — bucket = sign-pattern of 4 fixed ±1
   hyperplanes; search only bucket-mates. The candidate join is an
   equi-join on the bucket id: at 100 TB this is the standard
   SimHash-for-cosine (Charikar) layout, shuffling each vector once.
3. IVF cell-probe ANN — coarse quantizer = per-label centroid (one
   aggregation pass), vectors assigned to nearest centroid, queries
   probe their nearest cell only (nprobe=1).

All arithmetic is double-precision pure column expressions
(zip_with/aggregate in the JVM, no Python UDF). Spark generates no code
for these higher-order functions: ``ZipWith`` and ``ArrayAggregate``
are ``CodegenFallback`` expressions, so the generated stage calls their
interpreted ``eval`` row by row. Hyperplanes are md5-seeded ±1 literals
baked identically into the Spark plan and the DuckDB oracle, so the
oracles verify the ALGORITHM (same buckets, same cells, same ranks),
not just shapes.
"""

from __future__ import annotations

import hashlib

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession, Window

from hive_service_spark.catalog import load, par
from hive_service_spark.registry import persisted, query

_DIM = 64
_N_PLANES = 4


def _planes() -> list[list[int]]:
    """4 deterministic ±1 hyperplanes seeded from md5 — reproducible in
    any engine/language, no RNG state."""
    out = []
    for p in range(_N_PLANES):
        row = []
        for d in range(_DIM):
            h = int(hashlib.md5(f"hp{p}_{d}".encode()).hexdigest()[:8], 16)
            row.append(1 if h & 1 else -1)
        out.append(row)
    return out


_PLANES = _planes()


def _dot(x: Column, y: Column) -> Column:
    return F.aggregate(
        F.zip_with(x, y, lambda p, q: p * q),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _cos(xa: str, ya: str) -> Column:
    """Cosine from a precomputed-norm frame (_vecs): one dot per pair —
    recomputing norms per pair would triple the inner-product work
    across the O(|Q| x n) pair space."""
    return _dot(F.col(f"{xa}.e"), F.col(f"{ya}.e")) / (
        F.col(f"{xa}.nr") * F.col(f"{ya}.nr")
    )


def _vecs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vectors with norms precomputed once. Repartitioned off the
    single-split scan so pair scoring parallelizes, and persisted —
    all three queries share the same logical plan, so the cache is
    shared across the module."""
    e = load(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("e"),
    )
    return persisted(
        e.repartition(par(spark))
        .withColumn("nr", F.sqrt(_dot(F.col("e"), F.col("e"))))
    )


_VECS_SQL = """
  SELECT vec_id, label, e, sqrt(list_dot_product(e, e)) AS nr
  FROM (SELECT vec_id, label,
               list_transform(embedding, x -> x::DOUBLE) AS e
        FROM embeddings)
"""

# same float shape as the Spark side: dot / (nr_a * nr_b), norms
# precomputed once — sqrt(aa)*sqrt(bb) and sqrt(aa*bb) differ in the
# last ulp, which round(...,4) can surface on knife-edge values
_COS_SQL = "list_dot_product({a}.e, {b}.e) / ({a}.nr * {b}.nr)"

# Query set: every 50th vector, CAPPED at vec_id < 10000 so the sample
# is at most 200 queries at ANY scale factor (the cap never binds on
# test data — max vec_id is 1999 at sf0.1 — but on a 100 TB corpus it
# keeps brute-force ground truth O(200 x n), a linear broadcast-join
# map pass, instead of O(n²/50)). Recall measurement only needs a
# fixed-size query sample, not a query set that grows with the corpus.
_IS_QUERY = "vec_id % 50 = 0 AND vec_id < 10000"

# ---------------------------------------------------------------------------
# 1. brute-force top-k
# ---------------------------------------------------------------------------

_KNN_ORACLE = f"""
WITH v AS ({_VECS_SQL}),
q AS (SELECT * FROM v WHERE {_IS_QUERY}),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
         ROUND({_COS_SQL.format(a='q', b='c')}, 4) + 0.0 AS cosine
  FROM q JOIN v c ON q.vec_id <> c.vec_id
)
SELECT query_id, cand_id, cosine, rank FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY cosine DESC, cand_id) AS rank
  FROM scored
) WHERE rank <= 5
"""


@query("knn_cosine_bruteforce", oracle=_KNN_ORACLE)
def knn_cosine_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-5 per query vector. The query side is tiny by
    construction, so Spark broadcasts it and the scan of the corpus is
    a single map-side pass (|Q| x n scored rows, partial top-k per
    partition via the window). Rounded to 4dp BEFORE ranking so
    rank order is engine-stable."""
    v = _vecs(spark, sf_dir)
    q = v.where(F.expr(_IS_QUERY))
    scored = (
        F.broadcast(q.alias("q"))
        .join(v.alias("c"), F.col("q.vec_id") != F.col("c.vec_id"))
        .select(
            F.col("q.vec_id").alias("query_id"),
            F.col("c.vec_id").alias("cand_id"),
            (F.round(_cos("q", "c"), 4) + 0.0).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("cand_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 5)
        .select("query_id", "cand_id", "cosine", "rank")
    )


# ---------------------------------------------------------------------------
# 2. random-hyperplane LSH
# ---------------------------------------------------------------------------

def _plane_sql(p: int) -> str:
    return "[" + ",".join(f"{v}.0" for v in _PLANES[p]) + "]"


_BUCKET_SQL = " + ".join(
    f"(CASE WHEN list_dot_product(e, {_plane_sql(p)}) > 0"
    f" THEN {1 << p} ELSE 0 END)"
    for p in range(_N_PLANES)
)

_LSH_ORACLE = f"""
WITH v AS ({_VECS_SQL}),
bkt AS (SELECT vec_id, e, nr, {_BUCKET_SQL} AS bucket FROM v),
q AS (SELECT * FROM bkt WHERE {_IS_QUERY}),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS cand_id, q.bucket,
         ROUND({_COS_SQL.format(a='q', b='c')}, 4) + 0.0 AS cosine
  FROM q JOIN bkt c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
)
SELECT query_id, cand_id, bucket, cosine, rank FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY cosine DESC, cand_id) AS rank
  FROM scored
) WHERE rank <= 3
"""


def _bucket(e: Column) -> Column:
    b = F.lit(0)
    for p in range(_N_PLANES):
        plane = F.array(*[F.lit(float(v)) for v in _PLANES[p]])
        b = b + F.when(_dot(e, plane) > 0, 1 << p).otherwise(0)
    return b


@query("ann_lsh_hyperplane", oracle=_LSH_ORACLE)
def ann_lsh_hyperplane(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-3 via random-hyperplane LSH (Charikar): bucket =
    4-bit sign pattern of fixed ±1 hyperplane dot products; candidates
    are bucket-mates only. The join is an equi-join on `bucket`, so at
    100 TB each vector is hashed once and shuffled once; recall is
    tuned by #planes / multi-table OR-ing, never by widening a cross
    join."""
    v = _vecs(spark, sf_dir)
    bkt = v.select("vec_id", "e", "nr", _bucket(F.col("e")).alias("bucket"))
    q = bkt.where(F.expr(_IS_QUERY))
    scored = (
        F.broadcast(q.alias("q"))
        .join(
            bkt.alias("c"),
            (F.col("q.bucket") == F.col("c.bucket"))
            & (F.col("q.vec_id") != F.col("c.vec_id")),
        )
        .select(
            F.col("q.vec_id").alias("query_id"),
            F.col("c.vec_id").alias("cand_id"),
            F.col("q.bucket").alias("bucket"),
            (F.round(_cos("q", "c"), 4) + 0.0).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("cand_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select("query_id", "cand_id", "bucket", "cosine", "rank")
    )


# ---------------------------------------------------------------------------
# 3. IVF cell probe
# ---------------------------------------------------------------------------

_IVF_ORACLE = f"""
WITH v AS ({_VECS_SQL}),
flat AS (
  SELECT label, unnest(e) AS x, unnest(generate_series(1, {_DIM})) AS d
  FROM v
),
cent AS (
  SELECT label AS cell, list(cx ORDER BY d) AS c
  FROM (SELECT label, d, ROUND(AVG(x), 6) AS cx FROM flat GROUP BY label, d)
  GROUP BY label
),
assign AS (
  SELECT vec_id, e, nr, cell FROM (
    SELECT v.vec_id, v.e, v.nr, cent.cell,
           ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY
             ROUND(list_dot_product(v.e, cent.c)
               / sqrt(list_dot_product(v.e, v.e)
                      * list_dot_product(cent.c, cent.c)), 4) DESC,
             cent.cell) AS rn
    FROM v CROSS JOIN cent
  ) WHERE rn = 1
),
q AS (SELECT * FROM assign WHERE {_IS_QUERY}),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS cand_id, q.cell,
         ROUND({_COS_SQL.format(a='q', b='c')}, 4) + 0.0 AS cosine
  FROM q JOIN assign c ON q.cell = c.cell AND q.vec_id <> c.vec_id
)
SELECT query_id, cand_id, cell, cosine, rank FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY cosine DESC, cand_id) AS rank
  FROM scored
) WHERE rank <= 3
"""


@query("ann_ivf_cells", oracle=_IVF_ORACLE)
def ann_ivf_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: coarse centroids (per-label mean, one aggregation
    pass — the 'training' step), every vector assigned to its nearest
    centroid (10-way broadcast join, no shuffle of the corpus), queries
    probe only their own cell (nprobe=1). Centroids are rounded to 6dp
    so both engines quantize identically. At 100 TB the cell id becomes
    the partition key: a probe touches 1/K of the data."""
    v = _vecs(spark, sf_dir)
    flat = v.select("label", F.posexplode("e").alias("d", "x"))
    cent = (
        flat.groupBy("label", "d")
        .agg(F.round(F.avg("x"), 6).alias("cx"))
        .groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("d", "cx"))),
                lambda s: s["cx"],
            ).alias("c")
        )
        .select(F.col("label").alias("cell"), "c")
    )
    cos_vc = F.round(
        _dot(F.col("v.e"), F.col("cent.c"))
        / F.sqrt(
            _dot(F.col("v.e"), F.col("v.e"))
            * _dot(F.col("cent.c"), F.col("cent.c"))
        ),
        4,
    )
    w_assign = Window.partitionBy("vec_id").orderBy(
        F.desc("cos_c"), F.asc("cell")
    )
    assign = (
        v.alias("v")
        .crossJoin(F.broadcast(cent.alias("cent")))
        .select("v.vec_id", "v.e", "v.nr", "cent.cell", cos_vc.alias("cos_c"))
        .withColumn("rn", F.row_number().over(w_assign))
        .where(F.col("rn") == 1)
        .select("vec_id", "e", "nr", "cell")
    )
    q = assign.where(F.expr(_IS_QUERY))
    scored = (
        F.broadcast(q.alias("q"))
        .join(
            assign.alias("c"),
            (F.col("q.cell") == F.col("c.cell"))
            & (F.col("q.vec_id") != F.col("c.vec_id")),
        )
        .select(
            F.col("q.vec_id").alias("query_id"),
            F.col("c.vec_id").alias("cand_id"),
            F.col("q.cell").alias("cell"),
            (F.round(_cos("q", "c"), 4) + 0.0).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("cand_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select("query_id", "cand_id", "cell", "cosine", "rank")
    )


# ---------------------------------------------------------------------------
# 4. ANN quality: recall@k of the LSH index vs exact ground truth
# ---------------------------------------------------------------------------

_RECALL_ORACLE = f"""
WITH v AS ({_VECS_SQL}),
bkt AS (SELECT vec_id, e, nr, {_BUCKET_SQL} AS bucket FROM v),
q AS (SELECT * FROM bkt WHERE {_IS_QUERY}),
gt AS (
  SELECT query_id, cand_id FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
           ROW_NUMBER() OVER (PARTITION BY q.vec_id
             ORDER BY ROUND({_COS_SQL.format(a='q', b='c')}, 4) DESC,
                      c.vec_id) AS rank
    FROM q JOIN bkt c ON q.vec_id <> c.vec_id
  ) WHERE rank <= 3
),
ann AS (
  SELECT query_id, cand_id FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
           ROW_NUMBER() OVER (PARTITION BY q.vec_id
             ORDER BY ROUND({_COS_SQL.format(a='q', b='c')}, 4) DESC,
                      c.vec_id) AS rank
    FROM q JOIN bkt c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
  ) WHERE rank <= 3
)
SELECT g.query_id,
       COUNT(a.cand_id) AS n_hits,
       ROUND(COUNT(a.cand_id) / 3.0, 4) AS recall_at_3
FROM gt g LEFT JOIN ann a
  ON a.query_id = g.query_id AND a.cand_id = g.cand_id
GROUP BY g.query_id
"""


def _topk(scored: DataFrame, k: int) -> DataFrame:
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("cand_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "cand_id")
    )


@query("ann_recall_at_k", oracle=_RECALL_ORACLE)
def ann_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-quality measurement: recall@3 of the hyperplane-LSH index
    against exact brute-force ground truth, per query vector. This is
    the evaluation loop a production ANN deployment runs after every
    (re)build — the sampled ground truth is |Q| x n, not n^2, so at
    100 TB it stays a broadcast-join map pass over the corpus, and the
    hit-check join is on (query_id, cand_id) pairs (3|Q| rows)."""
    v = _vecs(spark, sf_dir)
    bkt = v.select("vec_id", "e", "nr", _bucket(F.col("e")).alias("bucket"))
    q = bkt.where(F.expr(_IS_QUERY))

    def scored(cond) -> DataFrame:
        return (
            F.broadcast(q.alias("q"))
            .join(bkt.alias("c"), cond)
            .select(
                F.col("q.vec_id").alias("query_id"),
                F.col("c.vec_id").alias("cand_id"),
                (F.round(_cos("q", "c"), 4) + 0.0).alias("cosine"),
            )
        )

    gt = _topk(scored(F.col("q.vec_id") != F.col("c.vec_id")), 3)
    ann = _topk(
        scored(
            (F.col("q.bucket") == F.col("c.bucket"))
            & (F.col("q.vec_id") != F.col("c.vec_id"))
        ),
        3,
    )
    return (
        gt.alias("g")
        .join(
            ann.alias("a"),
            (F.col("a.query_id") == F.col("g.query_id"))
            & (F.col("a.cand_id") == F.col("g.cand_id")),
            "left",
        )
        .groupBy(F.col("g.query_id").alias("query_id"))
        .agg(
            F.count(F.col("a.cand_id")).alias("n_hits"),
            F.round(F.count(F.col("a.cand_id")) / 3.0, 4).alias("recall_at_3"),
        )
    )


# ---------------------------------------------------------------------------
# label centroids — per-class mean embedding (training-pipeline staple)
# ---------------------------------------------------------------------------

_CENTROID_ORACLE = """
SELECT label, i - 1 AS dim, ROUND(AVG(embedding[i]), 3) + 0.0 AS centroid
FROM embeddings, unnest(generate_series(1, len(embedding))) AS t(i)
GROUP BY label, i
ORDER BY label, dim
"""


@query("ml_label_centroids", oracle=_CENTROID_ORACLE)
def ml_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid of the embedding column — the class-prototype
    aggregation used for clustering seeds, nearest-centroid classifiers,
    and embedding drift monitoring. posexplode flattens (vector, dim) ->
    rows JVM-side, then ONE shuffle on (label, dim) with partial
    aggregation; at 100 TB this is the scalable formulation (no
    per-group vector buffers, no UDAF state), and the 640-row result is
    broadcastable downstream. Values rounded to 3 so the float sum
    order difference between engines stays below the comparison grain."""
    e = load(spark, sf_dir, "embeddings")
    return (
        e.select("label", F.posexplode("embedding").alias("dim", "v"))
        .groupBy("label", "dim")
        # "+ 0.0" collapses IEEE -0.0 to 0.0 on both engines (repr-strict hash)
        .agg((F.round(F.avg("v"), 3) + 0.0).alias("centroid"))
        .orderBy("label", "dim")
    )


# ---------------------------------------------------------------------------
# int8 scalar quantization — the ANN storage-compression step
# ---------------------------------------------------------------------------

_QUANT_ORACLE = """
WITH v AS (
  SELECT vec_id,
         list_transform(embedding, x -> x::DOUBLE) AS e,
         list_max(list_transform(embedding, x -> abs(x::DOUBLE))) AS mx
  FROM embeddings
),
q AS (
  SELECT vec_id, mx,
         list_transform(e, x -> CAST(FLOOR(x * 127.0 / mx + 0.5) AS INT)) AS qv
  FROM v
  WHERE mx > 0
)
SELECT vec_id,
       ROUND(mx / 127.0, 6) AS scale,
       CAST(list_sum(qv) AS BIGINT) AS q_sum,
       list_min(qv) AS q_min,
       list_max(qv) AS q_max
FROM q
ORDER BY vec_id
"""


@query("ml_quantize_int8", oracle=_QUANT_ORACLE)
def ml_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 scalar quantization of the embedding column —
    the 4x storage compression an ANN index applies before sharding
    100 TB of vectors. q_i = floor(x_i * 127/max|x| + 0.5) (floor+0.5
    instead of round: identical tie behavior in both engines), scale
    stored per vector for dequantization. Map-only — no shuffle at
    all; the per-vector checksum columns make the full int8 codebook
    value-verifiable without hashing arrays."""
    e = load(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("e"),
    )
    withmax = e.select(
        "vec_id",
        "e",
        F.array_max(F.transform("e", F.abs)).alias("mx"),
    ).where(F.col("mx") > 0)
    qv = F.transform(
        "e", lambda x: F.floor(x * 127.0 / F.col("mx") + 0.5).cast("int")
    )
    quant = withmax.select(
        "vec_id",
        F.round(F.col("mx") / 127.0, 6).alias("scale"),
        qv.alias("qv"),
    )
    return quant.select(
        "vec_id",
        "scale",
        F.aggregate("qv", F.lit(0).cast("bigint"), lambda a, x: a + x).alias("q_sum"),
        F.array_min("qv").alias("q_min"),
        F.array_max("qv").alias("q_max"),
    ).orderBy("vec_id")


# ---------------------------------------------------------------------------
# 5. Product quantization + asymmetric-distance ANN (the 100 TB memory path)
# ---------------------------------------------------------------------------

_PQ_M = 8   # subspaces
_PQ_D = _DIM // _PQ_M   # dims per subspace
_PQ_K = 16  # codewords per subspace -> 8 x 4 bits = 4 bytes per vector

_PQ_ORACLE = f"""
WITH v AS ({_VECS_SQL}),
anch AS (
  SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS j, e
  FROM (SELECT vec_id, e FROM v WHERE vec_id % 50 <> 0
        ORDER BY vec_id LIMIT {_PQ_K})
),
sp AS (SELECT unnest(generate_series(0, {_PQ_M - 1})) AS s),
book AS (
  SELECT sp.s, anch.j,
         list_slice(anch.e, sp.s*{_PQ_D} + 1, sp.s*{_PQ_D} + {_PQ_D}) AS c
  FROM sp CROSS JOIN anch
),
enc AS (
  SELECT vec_id, s, code FROM (
    SELECT vv.vec_id, b.s, b.j AS code,
           ROW_NUMBER() OVER (PARTITION BY vv.vec_id, b.s ORDER BY
             ROUND(
               list_dot_product(
                 list_slice(vv.e, b.s*{_PQ_D} + 1, b.s*{_PQ_D} + {_PQ_D}),
                 list_slice(vv.e, b.s*{_PQ_D} + 1, b.s*{_PQ_D} + {_PQ_D}))
               - 2 * list_dot_product(
                   list_slice(vv.e, b.s*{_PQ_D} + 1, b.s*{_PQ_D} + {_PQ_D}),
                   b.c)
               + list_dot_product(b.c, b.c), 6), b.j) AS rn
    FROM v vv CROSS JOIN book b
  ) WHERE rn = 1
),
recon AS (
  SELECT e2.vec_id, flatten(list(b.c ORDER BY e2.s)) AS r,
         string_agg(CAST(e2.code AS VARCHAR), ',' ORDER BY e2.s) AS codes
  FROM enc e2 JOIN book b ON b.s = e2.s AND b.j = e2.code
  GROUP BY e2.vec_id
),
rr AS (SELECT vec_id, r, codes, sqrt(list_dot_product(r, r)) AS rn2 FROM recon),
q AS (SELECT vec_id, e, nr FROM v WHERE {_IS_QUERY}),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS cand_id, c.codes,
         ROUND(list_dot_product(q.e, c.r) / (q.nr * c.rn2), 4) + 0.0
           AS approx_cosine
  FROM q JOIN rr c ON q.vec_id <> c.vec_id
)
SELECT query_id, cand_id, codes, approx_cosine, rank FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY approx_cosine DESC, cand_id) AS rank
  FROM scored
) WHERE rank <= 3
"""


def _pq_codebooks(spark: SparkSession, sf_dir: str) -> list[list[list[float]]]:
    """Codebooks[s][j] = the s-th subspace of the j-th anchor vector.

    Codebook 'training' is DRIVER-SIDE over a bounded sample by design
    — that is where every PQ implementation trains (k-means over a
    sample that fits in memory), and the anchors-as-codewords choice
    (k-means with zero Lloyd iterations, deterministic anchor set =
    first K non-query vec_ids) keeps the whole pipeline reproducible
    in ANY engine so the DuckDB oracle can verify codes, reconstruction
    and ranking by value. Production would run a few Lloyd iterations
    over the same sample before broadcasting — identical plan shape,
    better recall."""
    v = _vecs(spark, sf_dir)
    rows = (
        v.where(F.expr("vec_id % 50 != 0"))
        .orderBy("vec_id")
        .limit(_PQ_K)
        .select("e")
        .collect()
    )
    return [
        [
            [float(rows[j]["e"][s * _PQ_D + i]) for i in range(_PQ_D)]
            for j in range(_PQ_K)
        ]
        for s in range(_PQ_M)
    ]


@query("ann_pq_adc", oracle=_PQ_ORACLE)
def ann_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN with asymmetric distance: every corpus
    vector is encoded to {_PQ_M} 4-bit codes (64 doubles -> 4 bytes,
    the 128x memory compression that lets a 100 TB embedding corpus
    live in executor memory), queries stay EXACT and score against the
    reconstructed codewords (ADC — asymmetric distance computation).

    Scale shape: encoding is one MAP pass — the codebook is baked into
    the plan as literals (the broadcast of a 16x8-double table), so no
    shuffle, no UDF; the nested higher-order functions run by their
    interpreted ``eval`` inside the generated stage. Scoring is the
    same broadcast-query join as the exact path but against 4-byte
    codes + a 128-entry lookup (here expressed as reconstruction dot
    products so the oracle can verify values); the final top-k window
    is the only shuffle. Combine with ann_ivf_cells for IVF-PQ: route
    to cells, then ADC-score inside the probed cell only."""
    books = _pq_codebooks(spark, sf_dir)
    v = _vecs(spark, sf_dir)
    books_all = F.array(
        *[
            F.array(
                *[
                    F.array(*[F.lit(x) for x in books[s][j]])
                    for j in range(_PQ_K)
                ]
            )
            for s in range(_PQ_M)
        ]
    )

    # One nested-HOF expression for all 8 codes — 128 separate
    # aggregate expressions (one per subspace x codeword) made plan
    # analysis/codegen the dominant cost (~8s per run regardless of
    # row count); as a single transform-over-codebook-literal tree the
    # plan is small and the per-row work identical.
    def _sqd(sub: Column, c: Column) -> Column:
        # ||x||^2 - 2<x,c> + ||c||^2, rounded like the oracle so the
        # argmin picks the same codeword in both engines
        return F.round(
            _dot(sub, sub) - 2.0 * _dot(sub, c) + _dot(c, c), 6
        )

    def code_for(s: Column) -> Column:
        sub = F.slice(F.col("e"), s * _PQ_D + 1, F.lit(_PQ_D))
        bk = F.element_at(books_all, (s + 1).cast("int"))
        dists = F.transform(bk, lambda c: _sqd(sub, c))
        return (F.array_position(dists, F.array_min(dists)) - 1).cast("int")

    codes = F.transform(
        F.sequence(F.lit(0), F.lit(_PQ_M - 1)), code_for
    )
    enc = v.select("vec_id", "nr", codes.alias("codes"))
    recon = F.flatten(
        F.transform(
            F.sequence(F.lit(0), F.lit(_PQ_M - 1)),
            lambda s: F.element_at(
                F.element_at(books_all, s + 1),
                F.element_at(F.col("codes"), s + 1) + 1,
            ),
        )
    )
    rr = (
        enc.withColumn("r", recon)  # codes is still the int array here
        .withColumn("rn2", F.sqrt(_dot(F.col("r"), F.col("r"))))
        .select(
            "vec_id",
            F.array_join(
                F.transform("codes", lambda c: c.cast("string")), ","
            ).alias("codes"),
            "r",
            "rn2",
        )
    )
    q = v.where(F.expr(_IS_QUERY)).select("vec_id", "e", "nr")
    scored = (
        F.broadcast(q.alias("q"))
        .join(rr.alias("c"), F.col("q.vec_id") != F.col("c.vec_id"))
        .select(
            F.col("q.vec_id").alias("query_id"),
            F.col("c.vec_id").alias("cand_id"),
            F.col("c.codes").alias("codes"),
            (
                F.round(
                    _dot(F.col("q.e"), F.col("c.r"))
                    / (F.col("q.nr") * F.col("c.rn2")),
                    4,
                )
                + 0.0
            ).alias("approx_cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("approx_cosine"), F.asc("cand_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select("query_id", "cand_id", "codes", "approx_cosine", "rank")
    )


# ---------------------------------------------------------------------------
# 8. distributed Lloyd k-means — unsupervised codebook training
# ---------------------------------------------------------------------------

# clusters: at 100 TB this knob MUST grow with the corpus (SemDeDup's
# published regime is k ~ n/cell_size, e.g. 110k cells for 100M docs) —
# the env override lets a deployment (and tools/scale_probe.py) scale
# it; the oracle SQL below is built from the same constant, so both
# engines stay in lockstep under any setting
import os as _os

_KM_K = int(_os.environ.get("SPARK_GRAFT_KMEANS_K", "8"))
_KM_ITERS = 2   # centroid updates before the final assignment pass


def _km_assign_sql(vsrc: str, csrc: str, keep_d2: bool) -> str:
    """One DuckDB Lloyd assignment: nearest centroid by squared L2,
    distance rounded to 6dp before the argmin so both engines pick the
    same winner, ties broken on cluster id."""
    d2 = (
        f"ROUND(list_dot_product({vsrc}.e, {vsrc}.e)"
        f" - 2 * list_dot_product({vsrc}.e, {csrc}.c)"
        f" + list_dot_product({csrc}.c, {csrc}.c), 6)"
    )
    extra = ", d2" if keep_d2 else ""
    return f"""
  SELECT vec_id, e, cl{extra} FROM (
    SELECT {vsrc}.vec_id, {vsrc}.e, {csrc}.cl, {d2} AS d2,
           ROW_NUMBER() OVER (PARTITION BY {vsrc}.vec_id
             ORDER BY {d2} ASC, {csrc}.cl ASC) AS rn
    FROM {vsrc} CROSS JOIN {csrc}
  ) WHERE rn = 1
"""


def _km_recenter_sql(asrc: str) -> str:
    """Per-cluster per-dimension mean, rounded to 6dp so both engines
    quantize the new centroid identically."""
    return f"""
  SELECT cl, list(cx ORDER BY d) AS c FROM (
    SELECT cl, d, ROUND(AVG(x), 6) AS cx
    FROM (SELECT cl, unnest(e) AS x,
                 unnest(generate_series(1, {_DIM})) AS d
          FROM {asrc})
    GROUP BY cl, d
  ) GROUP BY cl
"""


_KMEANS_ORACLE = f"""
WITH v AS ({_VECS_SQL}),
c0 AS (SELECT vec_id AS cl, e AS c FROM v WHERE vec_id < {_KM_K}),
a1 AS ({_km_assign_sql('v', 'c0', keep_d2=False)}),
c1 AS ({_km_recenter_sql('a1')}),
a2 AS ({_km_assign_sql('v', 'c1', keep_d2=False)}),
c2 AS ({_km_recenter_sql('a2')}),
a3 AS ({_km_assign_sql('v', 'c2', keep_d2=True)})
SELECT CAST(cl AS BIGINT) AS cluster,
       CAST(COUNT(*) AS BIGINT) AS n_members,
       ROUND(AVG(d2), 4) + 0.0 AS avg_d2
FROM a3
GROUP BY cl
"""


def _km_assign(v: DataFrame, cent: DataFrame) -> DataFrame:
    """One Lloyd assignment pass: nearest centroid by squared L2,
    distance rounded to 6dp before the argmin (engine lockstep), ties
    to the lowest cluster id. argmin is min(struct(d2, cl)) — the
    lexicographic struct-min IS that tie-break, and the hash aggregate
    partially reduces the k*n pair space map-side, where a window
    argmin would shuffle-and-sort all of it."""
    # ||v||^2 via the SAME left-to-right _dot fold the oracle's
    # list_dot_product(e, e) uses — nr*nr is fl(sqrt(x))^2, which
    # differs from x in the last ulp for ~half of doubles, and a d2
    # landing within that ulp of a ROUND(,6) boundary would flip the
    # rounded distance (and possibly the argmin) between engines
    # (round-13 review; the file's own _COS_SQL discipline).
    # r13 optimization (guide §1.2 per-task work): ||v||^2 and ||c||^2
    # are hoisted OUT of the k x n pair space — computed once per
    # vector / per centroid before the cross join instead of once per
    # (vector, centroid) pair, cutting the assignment pass's dot
    # products from 3 per pair to 1. Bit-identical: the d2 expression
    # still evaluates fl(fl(vv - 2*vc) + cc) on the same operands in
    # the same order, only the place vv/cc are computed moves.
    d2 = F.round(
        F.col("v.__vv")
        - 2 * _dot(F.col("v.e"), F.col("cent.c"))
        + F.col("cent.__cc"),
        6,
    )
    return (
        v.withColumn("__vv", _dot(F.col("e"), F.col("e")))
        .alias("v")
        .crossJoin(
            F.broadcast(
                cent.withColumn("__cc", _dot(F.col("c"), F.col("c"))).alias(
                    "cent"
                )
            )
        )
        .select("v.vec_id", "v.e", "cent.cl", d2.alias("d2"))
        .groupBy("vec_id")
        .agg(F.min(F.struct("d2", "cl")).alias("m"), F.first("e").alias("e"))
        .select("vec_id", "e", F.col("m.cl").alias("cl"), F.col("m.d2").alias("d2"))
    )


def _km_recenter(assigned: DataFrame) -> DataFrame:
    """New centroids: per-cluster per-dimension mean rounded to 6dp so
    both engines quantize the update identically."""
    return (
        assigned.select("cl", F.posexplode("e").alias("d", "x"))
        .groupBy("cl", "d")
        .agg(F.round(F.avg("x"), 6).alias("cx"))
        .groupBy("cl")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("d", "cx"))),
                lambda s: s["cx"],
            ).alias("c")
        )
    )


def _km_centroids(v: DataFrame) -> DataFrame:
    """Run _KM_ITERS Lloyd updates from the deterministic init (first
    k vectors by id). Lineage is truncated between iterations: the
    k-row centroid frame is the only loop-carried state, and chaining
    it lazily makes Catalyst inline each centroid expression subtree
    into the next iteration's zip_with/aggregate lambdas — exponential
    plan growth (the repo's known higher-order-function inlining
    pitfall). localCheckpoint keeps the k x d state on executors; no
    driver round-trip, same operators at any scale. r13: the
    checkpoints are LAZY (eager=False) — identical plan truncation,
    but each Lloyd round materializes inside the consuming job's DAG
    instead of as its own driver-blocking job."""
    cent = v.where(F.col("vec_id") < _KM_K).select(
        F.col("vec_id").alias("cl"), F.col("e").alias("c")
    )
    for _ in range(_KM_ITERS):
        cent = _km_recenter(_km_assign(v, cent)).localCheckpoint(eager=False)
    return cent


@query("ml_kmeans_lloyd", oracle=_KMEANS_ORACLE)
def ml_kmeans_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Lloyd k-means over the embedding corpus — the
    unsupervised counterpart of `ml_label_centroids` and the honest
    training step for the IVF/PQ coarse quantizers (which currently
    seed from labels / a driver-side sample). Deterministic throughout:
    init = the first k vectors by id, per-iteration distances and
    centroid means rounded to 6dp on both engines, argmin ties broken
    on cluster id — so the DuckDB oracle replays the IDENTICAL
    algorithm (each iteration unrolled as a CTE pair) and the value
    hash verifies assignments, not just shapes.

    Scale design (100 TB): this is exactly MLlib KMeans' data layout —
    each iteration broadcasts k x d centroids (control-plane state,
    independent of corpus size) and makes one map pass to assign plus
    one k*d-cell aggregation to recenter; the corpus shuffles only by
    cluster id for the recenter aggregate, whose map-side partial
    reduces each partition to at most k*d cells. Iterations chain
    lazily here (the whole loop is one Catalyst plan); on a long-lived
    cluster job you persist the assignment frame between iterations
    instead — same operators, plus a cache."""
    v = _vecs(spark, sf_dir)
    final = _km_assign(v, _km_centroids(v))
    return final.groupBy(F.col("cl").cast("bigint").alias("cluster")).agg(
        F.count(F.lit(1)).alias("n_members"),
        (F.round(F.avg("d2"), 4) + 0.0).alias("avg_d2"),
    )


_IVF_KM_ORACLE = f"""
WITH v AS ({_VECS_SQL}),
c0 AS (SELECT vec_id AS cl, e AS c FROM v WHERE vec_id < {_KM_K}),
a1 AS ({_km_assign_sql('v', 'c0', keep_d2=False)}),
c1 AS ({_km_recenter_sql('a1')}),
a2 AS ({_km_assign_sql('v', 'c1', keep_d2=False)}),
c2 AS ({_km_recenter_sql('a2')}),
a3 AS ({_km_assign_sql('v', 'c2', keep_d2=False)}),
cells AS (
  SELECT a3.vec_id, a3.e, v.nr, a3.cl FROM a3 JOIN v ON a3.vec_id = v.vec_id
),
q AS (SELECT * FROM cells WHERE {_IS_QUERY}),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS cand_id, q.cl AS cell,
         ROUND({_COS_SQL.format(a='q', b='c')}, 4) + 0.0 AS cosine
  FROM q JOIN cells c ON q.cl = c.cl AND q.vec_id <> c.vec_id
)
SELECT query_id, cand_id, CAST(cell AS BIGINT) AS cell, cosine, rank FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY cosine DESC, cand_id) AS rank
  FROM scored
) WHERE rank <= 3
"""


@query("ann_ivf_kmeans", oracle=_IVF_KM_ORACLE)
def ann_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with a k-means-trained coarse quantizer — the production
    composition: `_km_centroids` (distributed Lloyd, see
    ml_kmeans_lloyd) trains the codebook unsupervised, every vector is
    routed to its nearest centroid's cell, and queries probe only their
    own cell (nprobe=1). This supersedes ann_ivf_cells' label-derived
    centroids (kept as the supervised-shortcut variant) — on a real
    corpus there are no labels to cheat with. The oracle replays
    training + routing + probing end-to-end, so the value hash verifies
    the whole pipeline, not just the probe. Scale shape is identical to
    ann_ivf_cells: routing is a broadcast of k x d centroids against
    one map pass, and the probe is an equi-join on the cell id."""
    v = _vecs(spark, sf_dir)
    # persist: the routed corpus feeds BOTH sides of the probe join —
    # without the cache the whole assignment pass (broadcast routing +
    # argmin aggregate) is physically duplicated per reference (no
    # ReusedExchange across the filter asymmetry; measured 2x the work)
    cells = persisted(
        _km_assign(v, _km_centroids(v))
        .join(v.select("vec_id", "nr"), "vec_id")
    )
    q = cells.where(F.expr(_IS_QUERY))
    scored = (
        F.broadcast(q.alias("q"))
        .join(
            cells.alias("c"),
            (F.col("q.cl") == F.col("c.cl"))
            & (F.col("q.vec_id") != F.col("c.vec_id")),
        )
        .select(
            F.col("q.vec_id").alias("query_id"),
            F.col("c.vec_id").alias("cand_id"),
            F.col("q.cl").cast("bigint").alias("cell"),
            (F.round(_cos("q", "c"), 4) + 0.0).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("cand_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select("query_id", "cand_id", "cell", "cosine", "rank")
    )


@query("ann_lsh_bucketed_index", oracle=_LSH_ORACLE)
def ann_lsh_bucketed_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SERVING layout for hyperplane LSH: the signature table is
    persisted as a catalog table BUCKETED on the bucket id (the index
    build), and query batches probe it without the index ever being
    re-shuffled — the bucketed side reads pre-partitioned, pre-sorted
    files, so the only Exchange in the probe plan is the (tiny) query
    side being routed to the index's bucket layout. At 100 TB this is
    the difference between re-shuffling the corpus per query batch and
    shuffling kilobytes: build once, probe forever (bucket count scales
    with cluster width). Algorithmically identical to
    ann_lsh_hyperplane — same planes, buckets, ranks — so it shares
    that query's oracle; the plan difference is pinned in
    tests/test_plans.py."""
    import os
    import shutil

    from hive_service_spark.scratch import warehouse_dir

    spark.sql(
        "CREATE DATABASE IF NOT EXISTS hs_scratch "
        f"LOCATION '{warehouse_dir()}'"
    )
    # r13: the warehouse itself is now a per-pid scratch namespace
    # (scratch.warehouse_dir, reaped like proc-/src-), so the dead-pid
    # index sweep this site carried reduces to a same-pid reset; a
    # dead process's whole warehouse (index included) reaps with its
    # namespace.
    tbl = f"lsh_index_{os.getpid()}"
    spark.sql(f"DROP TABLE IF EXISTS hs_scratch.{tbl}")
    shutil.rmtree(f"{warehouse_dir()}/{tbl}", ignore_errors=True)

    v = _vecs(spark, sf_dir)
    bkt = v.select("vec_id", "e", "nr", _bucket(F.col("e")).alias("bucket"))
    (
        bkt.write.mode("overwrite")
        .bucketBy(8, "bucket")
        .sortBy("bucket")
        .saveAsTable(f"hs_scratch.{tbl}")
    )
    index = spark.table(f"hs_scratch.{tbl}")
    q = bkt.where(F.expr(_IS_QUERY))
    scored = (
        q.alias("q")
        .join(
            index.alias("c").hint("merge"),
            (F.col("q.bucket") == F.col("c.bucket"))
            & (F.col("q.vec_id") != F.col("c.vec_id")),
        )
        .select(
            F.col("q.vec_id").alias("query_id"),
            F.col("c.vec_id").alias("cand_id"),
            F.col("q.bucket").alias("bucket"),
            (F.round(_cos("q", "c"), 4) + 0.0).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("cand_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select("query_id", "cand_id", "bucket", "cosine", "rank")
    )


_RECALL_IVF_KM_ORACLE = f"""
WITH v AS ({_VECS_SQL}),
c0 AS (SELECT vec_id AS cl, e AS c FROM v WHERE vec_id < {_KM_K}),
a1 AS ({_km_assign_sql('v', 'c0', keep_d2=False)}),
c1 AS ({_km_recenter_sql('a1')}),
a2 AS ({_km_assign_sql('v', 'c1', keep_d2=False)}),
c2 AS ({_km_recenter_sql('a2')}),
a3 AS ({_km_assign_sql('v', 'c2', keep_d2=False)}),
cells AS (
  SELECT a3.vec_id, a3.e, v.nr, a3.cl FROM a3 JOIN v ON a3.vec_id = v.vec_id
),
q AS (SELECT * FROM cells WHERE {_IS_QUERY}),
gt AS (
  SELECT query_id, cand_id FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
           ROW_NUMBER() OVER (PARTITION BY q.vec_id
             ORDER BY ROUND({_COS_SQL.format(a='q', b='c')}, 4) DESC,
                      c.vec_id) AS rank
    FROM q JOIN cells c ON q.vec_id <> c.vec_id
  ) WHERE rank <= 3
),
ann AS (
  SELECT query_id, cand_id FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
           ROW_NUMBER() OVER (PARTITION BY q.vec_id
             ORDER BY ROUND({_COS_SQL.format(a='q', b='c')}, 4) DESC,
                      c.vec_id) AS rank
    FROM q JOIN cells c ON q.cl = c.cl AND q.vec_id <> c.vec_id
  ) WHERE rank <= 3
)
SELECT g.query_id,
       COUNT(a.cand_id) AS n_hits,
       ROUND(COUNT(a.cand_id) / 3.0, 4) AS recall_at_3
FROM gt g LEFT JOIN ann a
  ON a.query_id = g.query_id AND a.cand_id = g.cand_id
GROUP BY g.query_id
"""


@query("ann_recall_ivf_kmeans", oracle=_RECALL_IVF_KM_ORACLE)
def ann_recall_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@3 of the PRODUCTION ANN path (k-means-trained IVF,
    nprobe=1) against exact ground truth — the post-(re)build
    evaluation a deployment runs before switching traffic to a new
    index. Same measurement harness as ann_recall_at_k (which grades
    the LSH index); the oracle replays codebook training, routing, and
    both top-3 rankings end to end."""
    v = _vecs(spark, sf_dir)
    # persist: referenced FOUR times (gt + ann, q + c sides each) —
    # uncached, the assignment pass runs 4x (no ReusedExchange)
    cells = persisted(
        _km_assign(v, _km_centroids(v))
        .join(v.select("vec_id", "nr"), "vec_id")
    )
    q = cells.where(F.expr(_IS_QUERY))

    def scored(cond) -> DataFrame:
        return (
            F.broadcast(q.alias("q"))
            .join(cells.alias("c"), cond)
            .select(
                F.col("q.vec_id").alias("query_id"),
                F.col("c.vec_id").alias("cand_id"),
                (F.round(_cos("q", "c"), 4) + 0.0).alias("cosine"),
            )
        )

    gt = _topk(scored(F.col("q.vec_id") != F.col("c.vec_id")), 3)
    ann = _topk(
        scored(
            (F.col("q.cl") == F.col("c.cl"))
            & (F.col("q.vec_id") != F.col("c.vec_id"))
        ),
        3,
    )
    return (
        gt.alias("g")
        .join(
            ann.alias("a"),
            (F.col("a.query_id") == F.col("g.query_id"))
            & (F.col("a.cand_id") == F.col("g.cand_id")),
            "left",
        )
        .groupBy(F.col("g.query_id").alias("query_id"))
        .agg(
            F.count(F.col("a.cand_id")).alias("n_hits"),
            F.round(F.count(F.col("a.cand_id")) / 3.0, 4).alias("recall_at_3"),
        )
    )


# ---------------------------------------------------------------------------
# 10. SemDeDup — semantic dedup scoped to k-means cells
# ---------------------------------------------------------------------------

# Pair threshold: p99 of this corpus's pairwise cosine is ~0.29, max
# ~0.51, so 0.3 marks the top ~1% most-similar pairs as semantic dups —
# a small-but-nonzero dup set at any regenerated sf.
_SEMDEDUP_TAU = 0.3

_SEMDEDUP_ORACLE = f"""
WITH v AS ({_VECS_SQL}),
c0 AS (SELECT vec_id AS cl, e AS c FROM v WHERE vec_id < {_KM_K}),
a1 AS ({_km_assign_sql('v', 'c0', keep_d2=False)}),
c1 AS ({_km_recenter_sql('a1')}),
a2 AS ({_km_assign_sql('v', 'c1', keep_d2=False)}),
c2 AS ({_km_recenter_sql('a2')}),
a3 AS ({_km_assign_sql('v', 'c2', keep_d2=True)}),
cells AS (
  SELECT a3.vec_id, a3.e, a3.cl, a3.d2, v.nr
  FROM a3 JOIN v ON a3.vec_id = v.vec_id
),
pairs AS (
  SELECT a.cl AS cl, a.vec_id AS va, a.d2 AS da, b.vec_id AS vb, b.d2 AS db
  FROM cells a JOIN cells b ON a.cl = b.cl AND a.vec_id < b.vec_id
  WHERE ROUND({_COS_SQL.format(a='a', b='b')}, 4) >= {_SEMDEDUP_TAU}
),
dropped AS (
  SELECT DISTINCT CASE WHEN da < db THEN va ELSE vb END AS x FROM pairs
),
per_cell_pairs AS (
  SELECT cl, COUNT(*) AS n_dup_pairs FROM pairs GROUP BY cl
),
summary AS (
  SELECT c.cl, COUNT(*) AS n_members, COUNT(d.x) AS n_dropped
  FROM cells c LEFT JOIN dropped d ON c.vec_id = d.x
  GROUP BY c.cl
)
SELECT CAST(s.cl AS BIGINT) AS cluster,
       CAST(s.n_members AS BIGINT) AS n_members,
       CAST(COALESCE(p.n_dup_pairs, 0) AS BIGINT) AS n_dup_pairs,
       CAST(s.n_dropped AS BIGINT) AS n_dropped
FROM summary s LEFT JOIN per_cell_pairs p ON s.cl = p.cl
"""


@query("dedup_semdedup_cells", oracle=_SEMDEDUP_ORACLE)
def dedup_semdedup_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup (Abbas et al. 2023,
    arXiv:2303.09540):
    cluster the embedding corpus with the distributed Lloyd codebook
    (`_km_centroids`, the ml_kmeans_lloyd trainer), then look for
    near-duplicate pairs ONLY within each cell — cosine >= tau between
    cell-mates — and drop, per pair, the member CLOSER to its centroid
    (the paper's keep-farthest-from-centroid policy; centroid distance
    is the d2 the assignment pass already computed). Tie on d2 drops
    the higher vec_id. The rule is one-pass greedy per neighborhood —
    a vector is dropped iff SOME same-cell neighbor within tau
    dominates it — so no connected-components iteration is needed, and
    the oracle replays training, routing, pairing, and the dominance
    rule end-to-end (d2 and cosine rounded identically in both
    engines). Output: per-cell members / dup pairs / dropped counts.

    Scale design (100 TB): this is the whole point of SemDeDup — k
    grows with the corpus (k ~ n / target_cell_size, e.g. 110k cells
    for 100M+ docs in the paper) so cells stay bounded and the pair
    space is sum(cell^2) ~ n * cell_size, NOT n^2. The pair join is an
    equi-join on the cell id (one shuffle of vec_id+d2+embedding); the
    dominance test and per-cell aggregates are cell-local. A
    production guard caps runaway cells (skewed codebooks) by
    splitting them with a finer sub-codebook — same operator shape,
    one more level. Relation to dedup_semantic_survivorship: that
    query verifies the brute-force all-pairs baseline; this one is the
    bounded-candidate production path."""
    v = _vecs(spark, sf_dir)
    # persist: the pair join's a/b sides and the member summary all
    # re-derive the routed corpus — uncached that's THREE assignment
    # passes (no ReusedExchange through the self-join aliases)
    cells = persisted(
        _km_assign(v, _km_centroids(v))
        .join(v.select("vec_id", "nr"), "vec_id")
    )
    pairs = persisted(
        cells.alias("a")
        .join(
            cells.alias("b"),
            (F.col("a.cl") == F.col("b.cl"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .where(F.round(_cos("a", "b"), 4) >= _SEMDEDUP_TAU)
        .select(
            F.col("a.cl").alias("cl"),
            F.col("a.vec_id").alias("va"),
            F.col("a.d2").alias("da"),
            F.col("b.vec_id").alias("vb"),
            F.col("b.d2").alias("db"),
        )  # consumed twice: dropped set + per-cell pair counts
    )
    dropped = pairs.select(
        F.when(F.col("da") < F.col("db"), F.col("va"))
        .otherwise(F.col("vb"))
        .alias("x")
    ).distinct()
    per_cell_pairs = pairs.groupBy("cl").agg(
        F.count(F.lit(1)).alias("n_dup_pairs")
    )
    summary = (
        cells.join(dropped, cells["vec_id"] == dropped["x"], "left")
        .groupBy("cl")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.count("x").alias("n_dropped"),
        )
    )
    return summary.join(per_cell_pairs, "cl", "left").select(
        F.col("cl").cast("bigint").alias("cluster"),
        "n_members",
        F.coalesce(F.col("n_dup_pairs"), F.lit(0))
        .cast("bigint")
        .alias("n_dup_pairs"),
        "n_dropped",
    )


# ---------------------------------------------------------------------------
# 11. Ranking-quality metrics: MRR@3 / nDCG@3 for the IVF index
# ---------------------------------------------------------------------------

# integer gains: round(1e6 / log2(rank+1)) for ranks 1..3, so per-query
# DCG is an exact integer sum on both engines (a float 1/log2 mean
# would flap on parallel-sum association at the ROUND boundary)
_G1, _G2, _G3 = 1000000, 630930, 500000
_IDCG3 = _G1 + _G2 + _G3

_RANKEVAL_ORACLE = f"""
WITH v AS ({_VECS_SQL}),
c0 AS (SELECT vec_id AS cl, e AS c FROM v WHERE vec_id < {_KM_K}),
a1 AS ({_km_assign_sql('v', 'c0', keep_d2=False)}),
c1 AS ({_km_recenter_sql('a1')}),
a2 AS ({_km_assign_sql('v', 'c1', keep_d2=False)}),
c2 AS ({_km_recenter_sql('a2')}),
a3 AS ({_km_assign_sql('v', 'c2', keep_d2=False)}),
cells AS (
  SELECT a3.vec_id, a3.e, v.nr, a3.cl FROM a3 JOIN v ON a3.vec_id = v.vec_id
),
q AS (SELECT * FROM cells WHERE {_IS_QUERY}),
gt AS (
  SELECT query_id, cand_id FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
           ROW_NUMBER() OVER (PARTITION BY q.vec_id
             ORDER BY ROUND({_COS_SQL.format(a='q', b='c')}, 4) DESC,
                      c.vec_id) AS rank
    FROM q JOIN cells c ON q.vec_id <> c.vec_id
  ) WHERE rank <= 3
),
ann AS (
  SELECT query_id, cand_id, rank FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
           ROW_NUMBER() OVER (PARTITION BY q.vec_id
             ORDER BY ROUND({_COS_SQL.format(a='q', b='c')}, 4) DESC,
                      c.vec_id) AS rank
    FROM q JOIN cells c ON q.cl = c.cl AND q.vec_id <> c.vec_id
  ) WHERE rank <= 3
),
perq AS (
  SELECT g.query_id,
         MIN(CASE WHEN a.cand_id IS NOT NULL THEN a.rank END) AS first_rel,
         CAST(COALESCE(SUM(CASE a.rank WHEN 1 THEN {_G1} WHEN 2 THEN {_G2}
                                       WHEN 3 THEN {_G3} END), 0)
              AS BIGINT) AS dcg_q
  FROM gt g LEFT JOIN ann a
    ON a.query_id = g.query_id AND a.cand_id = g.cand_id
  GROUP BY g.query_id
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
       ROUND(CAST(SUM(CASE first_rel WHEN 1 THEN 1000 WHEN 2 THEN 500
                                     WHEN 3 THEN 333 ELSE 0 END) AS DOUBLE)
             / 1000.0 / COUNT(*), 4) + 0.0 AS mrr_at_3,
       ROUND(CAST(SUM(dcg_q) AS DOUBLE)
             / {_IDCG3}.0 / COUNT(*), 4) + 0.0 AS ndcg_at_3
FROM perq
"""


@query("ann_eval_ranking_metrics", oracle=_RANKEVAL_ORACLE)
def ann_eval_ranking_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MRR@3 and nDCG@3 for the k-means IVF index against exact
    ground truth — the ranking-quality half of the eval harness
    (ann_recall_ivf_kmeans grades set overlap; these grade ORDER).
    Relevance is binary membership in the exact top-3; gains are
    integer-quantized (round(1e6/log2(rank+1))) so per-query DCG and
    the corpus totals are exact integer sums on both engines, with
    single final divisions — no float-accumulation flap.

    Scale: identical operator shape to the recall gauge (bounded probe
    set, broadcast probes, cell equi-join for the ANN side), plus one
    per-query aggregate and one global aggregate — eval cost is
    O(probes · cell) regardless of corpus size."""
    v = _vecs(spark, sf_dir)
    cells = persisted(
        _km_assign(v, _km_centroids(v))
        .join(v.select("vec_id", "nr"), "vec_id")
    )
    q = cells.where(F.expr(_IS_QUERY))

    def ranked(cond) -> DataFrame:
        scored = (
            F.broadcast(q.alias("q"))
            .join(cells.alias("c"), cond)
            .select(
                F.col("q.vec_id").alias("query_id"),
                F.col("c.vec_id").alias("cand_id"),
                (F.round(_cos("q", "c"), 4) + 0.0).alias("cosine"),
            )
        )
        w = Window.partitionBy("query_id").orderBy(
            F.desc("cosine"), F.asc("cand_id")
        )
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= 3)
            .select("query_id", "cand_id", "rank")
        )

    gt = ranked(F.col("q.vec_id") != F.col("c.vec_id")).drop("rank")
    ann = ranked(
        (F.col("q.cl") == F.col("c.cl"))
        & (F.col("q.vec_id") != F.col("c.vec_id"))
    )
    gain = (
        F.when(F.col("a.rank") == 1, _G1)
        .when(F.col("a.rank") == 2, _G2)
        .when(F.col("a.rank") == 3, _G3)
    )
    perq = (
        gt.alias("g")
        .join(
            ann.alias("a"),
            (F.col("a.query_id") == F.col("g.query_id"))
            & (F.col("a.cand_id") == F.col("g.cand_id")),
            "left",
        )
        .groupBy(F.col("g.query_id").alias("query_id"))
        .agg(
            F.min(
                F.when(F.col("a.cand_id").isNotNull(), F.col("a.rank"))
            ).alias("first_rel"),
            F.coalesce(F.sum(gain), F.lit(0)).cast("bigint").alias("dcg_q"),
        )
    )
    mrr_milli = (
        F.when(F.col("first_rel") == 1, 1000)
        .when(F.col("first_rel") == 2, 500)
        .when(F.col("first_rel") == 3, 333)
        .otherwise(0)
    )
    return perq.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_queries"),
        (
            F.round(
                F.sum(mrr_milli).cast("double") / 1000.0 / F.count(F.lit(1)),
                4,
            )
            + 0.0
        ).alias("mrr_at_3"),
        (
            F.round(
                F.sum("dcg_q").cast("double")
                / float(_IDCG3)
                / F.count(F.lit(1)),
                4,
            )
            + 0.0
        ).alias("ndcg_at_3"),
    )


# ---------------------------------------------------------------------------
# IVF multi-probe (nprobe = 2) — the recall knob of a coarse quantizer
# ---------------------------------------------------------------------------

_IVF_NPROBE_ORACLE = f"""
WITH v AS ({_VECS_SQL}),
c0 AS (SELECT vec_id AS cl, e AS c FROM v WHERE vec_id < {_KM_K}),
a1 AS ({_km_assign_sql('v', 'c0', keep_d2=False)}),
c1 AS ({_km_recenter_sql('a1')}),
a2 AS ({_km_assign_sql('v', 'c1', keep_d2=False)}),
c2 AS ({_km_recenter_sql('a2')}),
a3 AS ({_km_assign_sql('v', 'c2', keep_d2=False)}),
cells AS (
  SELECT a3.vec_id, a3.e, v.nr, a3.cl FROM a3 JOIN v ON a3.vec_id = v.vec_id
),
q AS (SELECT * FROM cells WHERE {_IS_QUERY}),
routes AS (
  SELECT vec_id, e, nr, cl, probe_rank FROM (
    SELECT q.vec_id, q.e, q.nr, cc.cl,
           ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
             ROUND(list_dot_product(q.e, q.e)
                   - 2 * list_dot_product(q.e, cc.c)
                   + list_dot_product(cc.c, cc.c), 6) ASC, cc.cl ASC)
             AS probe_rank
    FROM q CROSS JOIN c2 cc
  ) WHERE probe_rank <= 2
),
scored AS (
  SELECT r.vec_id AS query_id, c.vec_id AS cand_id,
         CAST(r.probe_rank AS BIGINT) AS probe_rank,
         ROUND({_COS_SQL.format(a='r', b='c')}, 4) + 0.0 AS cosine
  FROM routes r JOIN cells c ON r.cl = c.cl AND r.vec_id <> c.vec_id
)
SELECT query_id, cand_id, probe_rank, cosine, rank FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY cosine DESC, cand_id) AS rank
  FROM scored
) WHERE rank <= 3
"""


@query("ann_ivf_nprobe2", oracle=_IVF_NPROBE_ORACLE)
def ann_ivf_nprobe2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF with MULTI-PROBE routing (nprobe = 2): the corpus stays
    routed to its single nearest cell (the index layout never changes),
    but each QUERY probes its two nearest centroids' cells — the
    standard recall knob of a coarse quantizer, recovering neighbors
    that fell just across a Voronoi boundary from the query (the
    nprobe=1 blind spot ann_recall_ivf_kmeans measures). Probed cells
    are disjoint by construction (corpus routing is top-1), so no
    candidate dedup is needed; `probe_rank` in the output shows when
    the SECOND cell supplied a top-3 hit — the cases nprobe=1 misses.

    Scale: identical economics to ann_ivf_kmeans plus one more
    equi-joined cell per query — routing is still a broadcast of the
    k x d codebook, the probe join is still cell-equi, and cost scales
    with nprobe x cell size, never the corpus. The oracle replays
    training, corpus routing, query multi-routing, and ranking end to
    end."""
    v = _vecs(spark, sf_dir)
    cent = _km_centroids(v)
    # persist: the routed corpus feeds the probe join's corpus side and
    # the query extraction (same no-ReusedExchange rationale as
    # ann_ivf_kmeans)
    cells = persisted(
        _km_assign(v, cent).join(v.select("vec_id", "nr"), "vec_id")
    )
    q0 = cells.where(F.expr(_IS_QUERY)).select("vec_id", "e", "nr")
    # exact ||q||^2 (not nr*nr) — same engine-lockstep rationale as
    # _km_assign (round-13 review)
    d2q = F.round(
        _dot(F.col("e"), F.col("e"))
        - 2 * _dot(F.col("e"), F.col("cent.c"))
        + _dot(F.col("cent.c"), F.col("cent.c")),
        6,
    )
    w_route = Window.partitionBy("vec_id").orderBy(
        F.asc("d2"), F.asc("cl")
    )
    routes = (
        q0.crossJoin(F.broadcast(cent.alias("cent")))
        .select("vec_id", "e", "nr", "cent.cl", d2q.alias("d2"))
        .withColumn("probe_rank", F.row_number().over(w_route))
        .where(F.col("probe_rank") <= 2)
        .select("vec_id", "e", "nr", "cl", "probe_rank")
    )
    scored = (
        F.broadcast(routes.alias("r"))
        .join(
            cells.alias("c"),
            (F.col("r.cl") == F.col("c.cl"))
            & (F.col("r.vec_id") != F.col("c.vec_id")),
        )
        .select(
            F.col("r.vec_id").alias("query_id"),
            F.col("c.vec_id").alias("cand_id"),
            F.col("r.probe_rank").cast("bigint").alias("probe_rank"),
            (F.round(_cos("r", "c"), 4) + 0.0).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("cand_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select("query_id", "cand_id", "probe_rank", "cosine", "rank")
    )


# ---------------------------------------------------------------------------
# Johnson–Lindenstrauss random projection (64 -> 16 dims)
# ---------------------------------------------------------------------------

_RP_DIM = 16


def _rp_planes() -> list[list[int]]:
    """16 deterministic ±1 projection rows seeded from md5 (the
    Achlioptas ±1 JL construction) — reproducible in any engine, no
    RNG state, same discipline as the LSH hyperplanes."""
    out = []
    for r in range(_RP_DIM):
        row = []
        for d in range(_DIM):
            h = int(hashlib.md5(f"rp{r}_{d}".encode()).hexdigest()[:8], 16)
            row.append(1 if h & 1 else -1)
        out.append(row)
    return out


_RP = _rp_planes()

_RP_SQL = (
    "["
    + ", ".join("[" + ", ".join(str(x) for x in row) + "]" for row in _RP)
    + "]"
)

_RP_ORACLE = f"""
WITH v AS ({_VECS_SQL}),
pv AS (
  SELECT vec_id, e, nr,
         list_transform({_RP_SQL},
                        r -> ROUND(list_dot_product(e, r) / 4, 6)) AS p
  FROM v
),
pv2 AS (SELECT *, sqrt(list_dot_product(p, p)) AS prn FROM pv),
q AS (SELECT * FROM pv2 WHERE {_IS_QUERY}),
pairs AS (
  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
         ROUND(list_dot_product(q.e, c.e) / (q.nr * c.nr), 4) AS ce,
         ROUND(list_dot_product(q.p, c.p) / (q.prn * c.prn), 4) AS cp
  FROM q JOIN pv2 c ON q.vec_id <> c.vec_id
),
ex AS (
  SELECT query_id, cand_id AS nn_exact, ce, cp FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                ORDER BY ce DESC, cand_id) AS rn
    FROM pairs) WHERE rn = 1
),
pr AS (
  SELECT query_id, cand_id AS nn_proj FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                ORDER BY cp DESC, cand_id) AS rn
    FROM pairs) WHERE rn = 1
)
SELECT ex.query_id, nn_exact, nn_proj,
       CAST(CASE WHEN nn_exact = nn_proj THEN 1 ELSE 0 END AS BIGINT)
         AS agree,
       ex.ce + 0.0 AS cos_exact,
       ROUND(ex.cp - ex.ce, 4) + 0.0 AS proj_err
FROM ex JOIN pr ON ex.query_id = pr.query_id
"""


@query("ml_random_projection_jl", oracle=_RP_ORACLE)
def ml_random_projection_jl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson–Lindenstrauss embedding compression: project 64-dim
    vectors onto 16 fixed ±1 rows (scaled 1/sqrt(16)) in ONE map pass,
    then measure what the compression costs — for each query, the
    exact top-1 cosine neighbor in the ORIGINAL space vs the top-1 in
    the PROJECTED space (`agree`), and the signed cosine distortion of
    the true-neighbor pair (`proj_err`). This is the cheap 4x shrink
    applied before brute-force rerank or as the input to downstream
    quantizers (complementing ml_quantize_int8 / ann_pq_adc, which
    compress per-coordinate rather than by dimension).

    Scale: the projection is a stateless JVM map (zip_with/aggregate
    over literal rows, evaluated row by row by their interpreted
    ``eval`` — no shuffle, no Python); the evaluation joins
    are the bounded |Q| x n broadcast pattern of knn_cosine_bruteforce
    with Q capped at 200 at any corpus size. Projected values are
    quantized to 6dp so both engines rank identical doubles; ranks tie
    -break on cand_id."""
    v = _vecs(spark, sf_dir)
    planes = F.array(
        *[F.array(*[F.lit(float(x)) for x in row]) for row in _RP]
    )
    p = F.transform(planes, lambda row: F.round(_dot(F.col("e"), row) / 4, 6))
    pv = persisted(
        v.select("vec_id", "e", "nr", p.alias("p")).withColumn(
            "prn", F.sqrt(_dot(F.col("p"), F.col("p")))
        )
    )
    q = pv.where(F.expr(_IS_QUERY))
    pairs = (
        F.broadcast(q.alias("q"))
        .join(pv.alias("c"), F.col("q.vec_id") != F.col("c.vec_id"))
        .select(
            F.col("q.vec_id").alias("query_id"),
            F.col("c.vec_id").alias("cand_id"),
            F.round(_cos("q", "c"), 4).alias("ce"),
            F.round(
                _dot(F.col("q.p"), F.col("c.p"))
                / (F.col("q.prn") * F.col("c.prn")),
                4,
            ).alias("cp"),
        )
    )
    # two argmaxes in ONE hash aggregate: struct-min on (-cos, cand_id)
    # is "highest cosine, ties to lowest cand" with map-side partial
    # reduction of the |Q| x n pair space (a window would sort it all)
    agg = pairs.groupBy("query_id").agg(
        F.min(
            F.struct(
                (-F.col("ce")).alias("nce"),
                F.col("cand_id").alias("cand"),
                F.col("ce").alias("ce"),
                F.col("cp").alias("cp"),
            )
        ).alias("ex"),
        F.min(
            F.struct((-F.col("cp")).alias("ncp"), F.col("cand_id").alias("cand"))
        ).alias("pr"),
    )
    return agg.select(
        "query_id",
        F.col("ex.cand").alias("nn_exact"),
        F.col("pr.cand").alias("nn_proj"),
        (F.col("ex.cand") == F.col("pr.cand"))
        .cast("bigint")
        .alias("agree"),
        (F.col("ex.ce") + 0.0).alias("cos_exact"),
        (F.round(F.col("ex.cp") - F.col("ex.ce"), 4) + 0.0).alias("proj_err"),
    )


# ---------------------------------------------------------------------------
# 9. k-NN label voting (neighbor-based classification)
# ---------------------------------------------------------------------------

_KNN_VOTE_ORACLE = f"""
WITH v AS ({_VECS_SQL}),
q AS (SELECT * FROM v WHERE {_IS_QUERY}),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS cand_id, c.label AS cand_label,
         ROUND({_COS_SQL.format(a='q', b='c')}, 4) + 0.0 AS cosine
  FROM q JOIN v c ON q.vec_id <> c.vec_id
),
top5 AS (
  SELECT query_id, cand_id, cand_label FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                ORDER BY cosine DESC, cand_id) AS rnk
    FROM scored
  ) WHERE rnk <= 5
),
votes AS (
  SELECT query_id, cand_label, COUNT(*) AS votes
  FROM top5 GROUP BY query_id, cand_label
),
pred AS (
  SELECT query_id, cand_label AS predicted_label,
         CAST(votes AS BIGINT) AS votes
  FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                ORDER BY votes DESC, cand_label) AS r
    FROM votes
  ) WHERE r = 1
)
SELECT p.query_id, q.label AS true_label, p.predicted_label, p.votes,
       (p.predicted_label = q.label) AS is_correct
FROM pred p JOIN q ON q.vec_id = p.query_id
"""


@query("ml_knn_label_vote", oracle=_KNN_VOTE_ORACLE)
def ml_knn_label_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN classification by neighbor label vote: for each probe
    vector, the 5 nearest corpus vectors by exact cosine vote on its
    label (majority, ties to the lexicographically smaller label) —
    the neighbor-based classifier used for pretraining-data domain
    tagging and quality bucketing when labels exist for a seed set.
    Reference surface: nothing in Hive 2.3; this composes the
    extension's ANN family (knn_cosine_bruteforce's scoring + ranking
    conventions: 4dp-rounded cosine BEFORE ranking, cand_id
    tie-breaks, so both engines rank identically).

    100 TB reading: the probe set is capped (vec_id % 50 = 0 AND
    < 10000 — <= 200 probes at any sf) and broadcasts; the corpus is
    scanned once map-side; per-probe state after the top-5 cut is 5
    rows, so the vote/argmax windows touch <= 1000 rows total. A
    production deployment swaps the exact scan for the LSH/IVF index
    paths (same frame contract) without touching the vote stage."""
    v = _vecs(spark, sf_dir)
    q = v.where(F.expr(_IS_QUERY))
    scored = (
        F.broadcast(q.alias("q"))
        .join(v.alias("c"), F.col("q.vec_id") != F.col("c.vec_id"))
        .select(
            F.col("q.vec_id").alias("query_id"),
            F.col("c.vec_id").alias("cand_id"),
            F.col("c.label").alias("cand_label"),
            (F.round(_cos("q", "c"), 4) + 0.0).alias("cosine"),
        )
    )
    w_rank = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("cand_id")
    )
    top5 = (
        scored.withColumn("rnk", F.row_number().over(w_rank))
        .where(F.col("rnk") <= 5)
        .select("query_id", "cand_label")
    )
    votes = top5.groupBy("query_id", "cand_label").agg(
        F.count(F.lit(1)).alias("votes")
    )
    w_vote = Window.partitionBy("query_id").orderBy(
        F.desc("votes"), F.asc("cand_label")
    )
    pred = (
        votes.withColumn("r", F.row_number().over(w_vote))
        .where(F.col("r") == 1)
        .select(
            "query_id",
            F.col("cand_label").alias("predicted_label"),
            F.col("votes").cast("bigint").alias("votes"),
        )
    )
    return pred.join(
        q.select(F.col("vec_id").alias("query_id"), "label"), "query_id"
    ).select(
        "query_id",
        F.col("label").alias("true_label"),
        "predicted_label",
        "votes",
        (F.col("predicted_label") == F.col("label")).alias("is_correct"),
    )


# ---------------------------------------------------------------------------
# matryoshka truncation recall: how much top-k quality does each
# embedding-dimension budget keep? (round 10)
# ---------------------------------------------------------------------------

_MRL_DIMS = (8, 16)

_MRL_ORACLE = f"""
WITH v0 AS ({_VECS_SQL}),
v AS (
  SELECT vec_id, e, nr,
         sqrt(list_dot_product(e[1:8], e[1:8])) AS nr8,
         sqrt(list_dot_product(e[1:16], e[1:16])) AS nr16
  FROM v0
),
q AS (SELECT * FROM v WHERE {_IS_QUERY}),
gt AS (
  SELECT query_id, cand_id FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
           ROW_NUMBER() OVER (PARTITION BY q.vec_id
             ORDER BY ROUND(list_dot_product(q.e, c.e)
                            / nullif(q.nr * c.nr, 0), 4)
                      DESC, c.vec_id) AS rank
    FROM q JOIN v c ON q.vec_id <> c.vec_id
  ) WHERE rank <= 5
),
t8 AS (
  SELECT 8 AS trunc_dim, query_id, cand_id FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
           ROW_NUMBER() OVER (PARTITION BY q.vec_id
             ORDER BY ROUND(list_dot_product(q.e[1:8], c.e[1:8])
                            / nullif(q.nr8 * c.nr8, 0), 4)
                      DESC, c.vec_id) AS rank
    FROM q JOIN v c ON q.vec_id <> c.vec_id
  ) WHERE rank <= 5
),
t16 AS (
  SELECT 16 AS trunc_dim, query_id, cand_id FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
           ROW_NUMBER() OVER (PARTITION BY q.vec_id
             ORDER BY ROUND(list_dot_product(q.e[1:16], c.e[1:16])
                            / nullif(q.nr16 * c.nr16, 0), 4)
                      DESC, c.vec_id) AS rank
    FROM q JOIN v c ON q.vec_id <> c.vec_id
  ) WHERE rank <= 5
),
tt AS (SELECT * FROM t8 UNION ALL SELECT * FROM t16)
SELECT tt.trunc_dim,
       CAST(COUNT(DISTINCT tt.query_id) AS BIGINT) AS n_queries,
       CAST(COUNT(gt.cand_id) AS BIGINT) AS hits_total,
       ROUND(COUNT(gt.cand_id) * 1.0
             / (5 * COUNT(DISTINCT tt.query_id)), 4) + 0.0 AS recall_at_5
FROM tt LEFT JOIN gt
  ON gt.query_id = tt.query_id AND gt.cand_id = tt.cand_id
GROUP BY tt.trunc_dim
ORDER BY tt.trunc_dim
"""


@query("ann_matryoshka_recall", oracle=_MRL_ORACLE)
def ann_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka truncation recall (Kusupati et al. 2022): score the
    SAME top-5 retrieval with the embedding truncated to its first 8
    and 16 of 64 dimensions against the full-dimension ground truth,
    reporting recall@5 per dimension budget — the measurement that
    decides how much index/serving cost an MRL-style embedding can
    shed before quality drops (reference surface: nothing in Hive 2.3;
    this extends the ANN evaluation family next to ann_recall_gauge /
    dedup_eval_lsh_pr, which gauge INDEX approximations — this gauges
    the REPRESENTATION budget itself).

    Plan shape, 100 TB reading: the probe set is the capped _IS_QUERY
    sample (<= 200 at any sf), so ground truth and every truncated
    ranking are broadcast-probe map passes over the corpus — O(|Q| x n)
    scored rows each, never a corpus self-join; per-dim norms are
    precomputed ONCE on the corpus frame (one pass) rather than per
    pair. Cosines round to 4dp BEFORE ranking (ties broken by cand_id)
    so rank order is engine-stable; recall counting is integer."""
    v0 = _vecs(spark, sf_dir)
    sl = {d: F.slice("e", 1, d) for d in _MRL_DIMS}
    v = persisted(
        v0.select(
            "vec_id",
            "e",
            "nr",
            *[
                F.sqrt(_dot(sl[d], sl[d])).alias(f"nr{d}")
                for d in _MRL_DIMS
            ],
        )
    )
    q = v.where(F.expr(_IS_QUERY))

    def _top5(dim: int | None) -> DataFrame:
        if dim is None:
            # round-10 ADVICE #1: the GROUND-TRUTH ranking needs the
            # same zero-denominator guard the truncated prefixes got —
            # an all-zero embedding must be NULL (sorts last DESC) on
            # BOTH engines, not Spark-NULL vs DuckDB inf/NaN
            cos = _dot(F.col("q.e"), F.col("c.e")) / F.nullif(
                F.col("q.nr") * F.col("c.nr"), F.lit(0.0)
            )
        else:
            # a NONZERO vector can still have an all-zero prefix: the
            # 0-denominator must be NULL on BOTH engines (NULLs sort
            # last under DESC on both), not Spark-NULL vs DuckDB-inf
            cos = _dot(
                F.slice(F.col("q.e"), 1, dim), F.slice(F.col("c.e"), 1, dim)
            ) / F.nullif(
                F.col(f"q.nr{dim}") * F.col(f"c.nr{dim}"), F.lit(0.0)
            )
        scored = (
            F.broadcast(q.alias("q"))
            .join(v.alias("c"), F.col("q.vec_id") != F.col("c.vec_id"))
            .select(
                F.col("q.vec_id").alias("query_id"),
                F.col("c.vec_id").alias("cand_id"),
                (F.round(cos, 4) + 0.0).alias("cos_r"),
            )
        )
        w = Window.partitionBy("query_id").orderBy(
            F.desc("cos_r"), F.asc("cand_id")
        )
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= 5)
            .select("query_id", "cand_id")
        )

    gt = _top5(None)
    tt = None
    for d in _MRL_DIMS:
        td = _top5(d).select(F.lit(d).alias("trunc_dim"), "query_id", "cand_id")
        tt = td if tt is None else tt.unionByName(td)
    hit = gt.select("query_id", "cand_id", F.lit(1).alias("hit"))
    return (
        tt.join(hit, ["query_id", "cand_id"], "left")
        .groupBy("trunc_dim")
        .agg(
            F.count_distinct("query_id").cast("bigint").alias("n_queries"),
            F.count("hit").cast("bigint").alias("hits_total"),
            (
                F.round(
                    F.count("hit")
                    / (F.lit(5.0) * F.count_distinct("query_id")),
                    4,
                )
                + 0.0
            ).alias("recall_at_5"),
        )
        .orderBy("trunc_dim")
    )
