"""Similarity search over the `embeddings` table (BASELINE.json north
star): brute-force cosine top-k as the exactness baseline, and a
random-hyperplane LSH-bucketed variant as the 100 TB scale path.

Scale notes: brute force is O(Q×N) — fine when Q (the query set) is
small and broadcastable, which is how we plan it (queries broadcast,
candidates partitioned). The LSH plan replaces the N side with an
equi-join on bucket signature, so the shuffle is keyed by bucket and
each task only scores its bucket's candidates. Ranking uses the
ROUNDED cosine with an id tiebreaker so top-k sets are reproducible
across engines and partitionings.
"""

from __future__ import annotations

import random

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import table
from ..functions import vectors as V
from .registry import register

#: Number of query vectors (vec_id < N_QUERIES) used by the demo ops.
N_QUERIES = 8
TOP_K = 10

#: Random-hyperplane LSH: 8 seeded 64-dim hyperplanes, embedded as
#: literals in BOTH the Spark plan and the oracle SQL (repr() round-
#: trips doubles exactly, so both engines parse identical values).
_RNG = random.Random(7)
HYPERPLANES = [
    [_RNG.gauss(0.0, 1.0) for _ in range(64)] for _ in range(8)
]


def _bucket_col(vec: str):
    """LSH bucket id: bit j = sign(vec · hyperplane_j)."""
    acc = F.lit(0).cast("long")
    for j, hp in enumerate(HYPERPLANES):
        lits = F.array(*[F.lit(x) for x in hp])
        d = V.dot(F.col(vec), lits)
        acc = acc + F.when(d > 0, F.lit(1 << j).cast("long")).otherwise(F.lit(0).cast("long"))
    return acc


def _sql_bucket(vec: str) -> str:
    terms = []
    for j, hp in enumerate(HYPERPLANES):
        arr = "[" + ", ".join(repr(x) for x in hp) + "]"
        terms.append(
            f"CASE WHEN {V.sql_dot(vec, arr)} > 0 THEN {1 << j} ELSE 0 END"
        )
    return "(" + " + ".join(terms) + ")"


@register(
    "similarity_bruteforce_topk",
    ops=("J10", "W4", "O1"),
    doc="Brute-force cosine top-k: small broadcast query set × all "
    "candidates, exact fold-based cosine, rank on rounded value with "
    "id tiebreaker.",
    oracle=f"""
WITH pairs AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         ROUND({V.sql_cosine("q.embedding", "c.embedding")}, 6) AS cos_sim
  FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
  WHERE q.vec_id < {N_QUERIES}
)
SELECT query_id, neighbor_id, cos_sim,
       rnk AS sim_rank
FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rnk
  FROM pairs
)
WHERE rnk <= {TOP_K}
""",
)
def similarity_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "embeddings", spread=True)
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
    )
    c = e.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("ce"))
    cos = F.round(V.cosine(F.col("qe"), F.col("ce")), 6)
    pairs = (
        F.broadcast(q)
        .join(c, F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", cos.alias("cos_sim"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        pairs.withColumn("sim_rank", F.row_number().over(w))
        .filter(F.col("sim_rank") <= TOP_K)
    )


@register(
    "similarity_lsh_ann",
    ops=("J1", "W4", "A1"),
    doc="LSH-bucketed approximate NN: 8 random-hyperplane sign bits → "
    "bucket id; candidates restricted to the query's bucket (equi-join "
    "keyed by bucket), cosine + top-5 within bucket.",
    oracle=f"""
WITH b AS (
  SELECT vec_id, embedding, {_sql_bucket("embedding")} AS bucket
  FROM embeddings
),
pairs AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, q.bucket AS bucket,
         ROUND({V.sql_cosine("q.embedding", "c.embedding")}, 6) AS cos_sim
  FROM b q JOIN b c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
  WHERE q.vec_id < {N_QUERIES}
)
SELECT query_id, neighbor_id, bucket, cos_sim, rnk AS sim_rank
FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rnk
  FROM pairs
)
WHERE rnk <= 5
""",
)
def similarity_lsh_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "embeddings", spread=True)
    b = e.select("vec_id", "embedding", _bucket_col("embedding").alias("bucket"))
    q = b.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        F.col("bucket"),
    )
    c = b.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("ce"),
        F.col("bucket"),
    )
    cos = F.round(V.cosine(F.col("qe"), F.col("ce")), 6)
    pairs = q.join(c, "bucket").filter(
        F.col("query_id") != F.col("neighbor_id")
    ).select("query_id", "neighbor_id", "bucket", cos.alias("cos_sim"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        pairs.withColumn("sim_rank", F.row_number().over(w))
        .filter(F.col("sim_rank") <= 5)
    )


@register(
    "embedding_norm_stats",
    ops=("A3", "A8"),
    doc="Vector-column profiling: L2 norms via exact folds, grouped "
    "stats per label — the sanity gate before any ANN build.",
    oracle=f"""
SELECT label,
  COUNT(*) AS n_vectors,
  ROUND(MIN(SQRT({V.sql_dot("embedding", "embedding")})), 6) AS min_norm,
  ROUND(MAX(SQRT({V.sql_dot("embedding", "embedding")})), 6) AS max_norm
FROM embeddings
GROUP BY 1
""",
)
def embedding_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "embeddings", spread=True)
    norm = F.sqrt(V.dot(F.col("embedding"), F.col("embedding")))
    return (
        e.select("label", norm.alias("norm"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.round(F.min("norm"), 6).alias("min_norm"),
            F.round(F.max("norm"), 6).alias("max_norm"),
        )
    )


#: IVF coarse quantizer: 16 deterministic centroid vectors (a fixed
#: id-range sample — at scale these come from a k-means fit persisted
#: like any dimension table) and 2 probed clusters per query.
_IVF_CENT_LO, _IVF_CENT_HI = 100, 115
_IVF_NPROBE = 2


@register(
    "similarity_ivf_ann",
    ops=("J3", "W4", "O1"),
    doc="IVF approximate NN, the scale path beside LSH: every vector is "
    "assigned to its nearest coarse centroid (argmax cosine over a "
    "broadcastable centroid set), each query probes its top-2 "
    "centroids, and scoring touches only the probed inverted lists — "
    "the shuffle is keyed by cluster id, so candidate work scales with "
    "list size, not corpus size. Centroids here are a deterministic "
    "id-range sample so the whole index build is oracle-checkable.",
    oracle=f"""
WITH cent AS (
  SELECT vec_id AS centroid_id, embedding AS cemb
  FROM embeddings WHERE vec_id BETWEEN {_IVF_CENT_LO} AND {_IVF_CENT_HI}
), scored AS (
  SELECT e.vec_id, e.embedding, c.centroid_id,
    ROW_NUMBER() OVER (
      PARTITION BY e.vec_id
      ORDER BY ROUND({V.sql_cosine("e.embedding", "c.cemb")}, 6) DESC, c.centroid_id
    ) AS crank
  FROM embeddings e CROSS JOIN cent c
), assign AS (
  SELECT vec_id, embedding, centroid_id FROM scored WHERE crank = 1
), probes AS (
  SELECT vec_id AS query_id, embedding AS qe, centroid_id
  FROM scored WHERE vec_id < {N_QUERIES} AND crank <= {_IVF_NPROBE}
), pairs AS (
  SELECT p.query_id, a.vec_id AS neighbor_id,
         ROUND({V.sql_cosine("p.qe", "a.embedding")}, 6) AS cos_sim
  FROM probes p JOIN assign a ON p.centroid_id = a.centroid_id
  WHERE p.query_id <> a.vec_id
)
SELECT query_id, neighbor_id, cos_sim, rnk AS sim_rank
FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rnk
  FROM pairs
)
WHERE rnk <= 5
""",
)
def similarity_ivf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "embeddings", spread=True)
    cent = e.filter(
        F.col("vec_id").between(_IVF_CENT_LO, _IVF_CENT_HI)
    ).select(F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("cemb"))
    ccos = F.round(V.cosine(F.col("embedding"), F.col("cemb")), 6)
    # Nearest-centroid assignment as a partial-aggregating argmax:
    # max_by collapses each vector's 16 candidate rows map-side before
    # the shuffle (the r1-flagged n×16 window sort shuffled them all);
    # tiebreak (cos DESC, centroid_id ASC) via the (cos, -id) struct.
    assign = (
        e.crossJoin(F.broadcast(cent))
        .groupBy("vec_id")
        .agg(
            F.first("embedding").alias("embedding"),  # constant per vec_id
            F.max_by(
                "centroid_id",
                F.struct(ccos.alias("c"), (-F.col("centroid_id")).alias("t")),
            ).alias("centroid_id"),
        )
    )
    # Top-nprobe centroids are needed only for the query subset — the
    # window runs over N_QUERIES×16 rows, not the corpus.
    cw = Window.partitionBy("vec_id").orderBy(ccos.desc(), F.col("centroid_id"))
    probes = (
        e.filter(F.col("vec_id") < N_QUERIES)
        .crossJoin(F.broadcast(cent))
        .withColumn("crank", F.row_number().over(cw))
        .filter(F.col("crank") <= _IVF_NPROBE)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qe"),
            F.col("centroid_id"),
        )
    )
    cos = F.round(V.cosine(F.col("qe"), F.col("embedding")), 6)
    pairs = (
        F.broadcast(probes)
        .join(assign, "centroid_id")
        .filter(F.col("query_id") != F.col("vec_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            cos.alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        pairs.withColumn("sim_rank", F.row_number().over(w))
        .filter(F.col("sim_rank") <= 5)
    )


#: Evaluation cut for the recall metric.
_K_EVAL = 5


def _spec_sql(name: str) -> str:
    from .registry import _REGISTRY

    return _REGISTRY[name].oracle


@register(
    "similarity_ivf_recall",
    ops=("A1", "A9", "J1"),
    doc="ANN quality measurement: recall@5 of the IVF index against "
    "the exact brute-force top-5, per query — the metric an embedding "
    "pipeline tracks when it trades exactness for the inverted-list "
    "plan. Both sides (index AND ground truth AND the comparison) run "
    "inside the engine; at 100 TB the brute-force side is computed on "
    "a sampled query set exactly like this one.",
    oracle=f"""
WITH bf AS (
  SELECT query_id, neighbor_id FROM ({_spec_sql("similarity_bruteforce_topk")})
  WHERE sim_rank <= {_K_EVAL}
),
ivf AS (
  SELECT query_id, neighbor_id FROM ({_spec_sql("similarity_ivf_ann")})
  WHERE sim_rank <= {_K_EVAL}
),
bfc AS (SELECT query_id, COUNT(*) AS n_bf FROM bf GROUP BY 1),
ivfc AS (SELECT query_id, COUNT(*) AS n_ivf FROM ivf GROUP BY 1),
ov AS (
  SELECT bf.query_id, COUNT(*) AS n_overlap
  FROM bf JOIN ivf ON bf.query_id = ivf.query_id
                  AND bf.neighbor_id = ivf.neighbor_id
  GROUP BY 1
)
SELECT bfc.query_id, bfc.n_bf,
  COALESCE(ivfc.n_ivf, 0) AS n_ivf,
  COALESCE(ov.n_overlap, 0) AS n_overlap,
  COALESCE(ov.n_overlap, 0) / {float(_K_EVAL)!r} AS recall_at_5
FROM bfc
LEFT JOIN ivfc ON bfc.query_id = ivfc.query_id
LEFT JOIN ov ON bfc.query_id = ov.query_id
""",
)
def similarity_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    bf = (
        similarity_bruteforce_topk(spark, sf_dir)
        .filter(F.col("sim_rank") <= _K_EVAL)
        .select("query_id", "neighbor_id")
    )
    ivf = (
        similarity_ivf_ann(spark, sf_dir)
        .filter(F.col("sim_rank") <= _K_EVAL)
        .select("query_id", "neighbor_id")
    )
    bfc = bf.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_bf"))
    ivfc = ivf.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_ivf"))
    ov = (
        bf.join(ivf, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )
    return (
        bfc.join(ivfc, "query_id", "left")
        .join(ov, "query_id", "left")
        .select(
            "query_id",
            "n_bf",
            F.coalesce("n_ivf", F.lit(0)).alias("n_ivf"),
            F.coalesce("n_overlap", F.lit(0)).alias("n_overlap"),
            (F.coalesce("n_overlap", F.lit(0)) / F.lit(float(_K_EVAL))).alias(
                "recall_at_5"
            ),
        )
    )


@register(
    "embedding_quantize_int8",
    ops=("P9", "A3", "P8"),
    doc="Scalar int8 quantization of embeddings — the storage/transfer "
    "compression step of a vector pipeline: per-vector [min,max] "
    "range, scale=(max-min)/255, q=floor((x-min)/scale) clamped to "
    "[0,255] (floor, not round — round-half ties are not cross-engine "
    "deterministic), midpoint dequantization, and the per-vector mean "
    "absolute reconstruction error as the quality measure. All "
    "sequential folds over doubles — bitwise equal to the oracle; "
    "4× smaller payloads at equal plan shape.",
    oracle="""
WITH ranges AS (
  SELECT vec_id, embedding,
    list_reduce(list_transform(embedding, x -> CAST(x AS DOUBLE)), (a, x) -> LEAST(a, x)) AS vmin,
    list_reduce(list_transform(embedding, x -> CAST(x AS DOUBLE)), (a, x) -> GREATEST(a, x)) AS vmax
  FROM embeddings
), scaled AS (
  SELECT vec_id, embedding, vmin, vmax,
    (vmax - vmin) / 255.0 AS scale
  FROM ranges
)
SELECT vec_id, vmin, vmax, scale,
  list_reduce(
    list_transform(generate_series(1, len(embedding)),
      i -> ABS(CAST(embedding[i] AS DOUBLE)
               - (vmin + (LEAST(255.0, GREATEST(0.0,
                    FLOOR((CAST(embedding[i] AS DOUBLE) - vmin) / scale)))
                  + 0.5) * scale))),
    (acc, x) -> acc + x) / len(embedding) AS mean_abs_err
FROM scaled
""",
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "embeddings", spread=True)
    vd = V.as_double(F.col("embedding"))
    vmin = F.aggregate(vd, F.lit(float("inf")), lambda a, x: F.least(a, x))
    vmax = F.aggregate(vd, F.lit(float("-inf")), lambda a, x: F.greatest(a, x))
    ranged = e.select("vec_id", "embedding", vmin.alias("vmin"), vmax.alias("vmax"))
    scale = (F.col("vmax") - F.col("vmin")) / F.lit(255.0)
    scaled = ranged.withColumn("scale", scale)

    def abs_err(x):
        xd = x.cast("double")
        q = F.least(
            F.lit(255.0),
            F.greatest(F.lit(0.0), F.floor((xd - F.col("vmin")) / F.col("scale"))),
        )
        return F.abs(xd - (F.col("vmin") + (q + F.lit(0.5)) * F.col("scale")))

    mae = (
        F.aggregate(
            F.transform(F.col("embedding"), abs_err),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        / F.size("embedding")
    )
    return scaled.select(
        "vec_id", "vmin", "vmax", "scale", mae.alias("mean_abs_err")
    )


@register(
    "embedding_centroid_drift",
    ops=("A3", "A9", "J10"),
    doc="Embedding-distribution drift monitor: per (label, dimension), "
    "the centroid of even-id vectors vs odd-id vectors (two "
    "interleaved halves of the corpus — in production, yesterday's "
    "batch vs today's) and the absolute per-dimension drift. "
    "Computed on the shared 2^20 integer grid so the conditional "
    "sums are exact; one aggregate pass, output = |labels| x dims "
    "rows. Emitting per-dimension rows avoids any cross-dimension "
    "float summation order — the whole check is bitwise stable.",
    oracle="""
WITH q AS (
  SELECT vec_id, label,
    list_transform(embedding,
      x -> CAST(trunc(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT)) AS v
  FROM embeddings
),
dims AS (
  SELECT label, dim, v[dim + 1] AS qv, vec_id % 2 AS half
  FROM q, range(0, 64) t(dim)
)
SELECT label, CAST(dim AS INTEGER) AS dim,
  CAST(SUM(CASE WHEN half = 0 THEN qv END) AS DOUBLE)
    / SUM(CASE WHEN half = 0 THEN 1 ELSE 0 END) / 1048576.0 AS mean_even,
  CAST(SUM(CASE WHEN half = 1 THEN qv END) AS DOUBLE)
    / SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END) / 1048576.0 AS mean_odd,
  ABS(CAST(SUM(CASE WHEN half = 0 THEN qv END) AS DOUBLE)
    / SUM(CASE WHEN half = 0 THEN 1 ELSE 0 END) / 1048576.0
    - CAST(SUM(CASE WHEN half = 1 THEN qv END) AS DOUBLE)
    / SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END) / 1048576.0) AS abs_drift
FROM dims GROUP BY label, dim
""",
)
def embedding_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "embeddings", spread=True)
    qv = F.transform(
        F.col("embedding"),
        lambda x: (x.cast("double") * F.lit(1048576.0)).cast("long"),
    )
    dims = e.select(
        "label",
        (F.col("vec_id") % 2).alias("half"),
        F.posexplode(qv).alias("dim", "qv"),
    )
    s_even = F.sum(F.when(F.col("half") == 0, F.col("qv")))
    n_even = F.sum(F.when(F.col("half") == 0, 1).otherwise(0))
    s_odd = F.sum(F.when(F.col("half") == 1, F.col("qv")))
    n_odd = F.sum(F.when(F.col("half") == 1, 1).otherwise(0))
    mean_even = s_even.cast("double") / n_even / F.lit(1048576.0)
    mean_odd = s_odd.cast("double") / n_odd / F.lit(1048576.0)
    return dims.groupBy("label", F.col("dim").cast("int").alias("dim")).agg(
        mean_even.alias("mean_even"),
        mean_odd.alias("mean_odd"),
        F.abs(mean_even - mean_odd).alias("abs_drift"),
    )


@register(
    "embedding_knn_outliers",
    ops=("J10", "A3", "W4", "O1"),
    doc="Embedding outlier scoring for corpus curation (prune "
    "mislabeled / off-distribution vectors before training): each "
    "vector's 1-NN squared distance WITHIN its k-means cluster "
    "(same deterministic 2-round Lloyd assignment and corpus-scaled "
    "K as dedup_semdedup — pairwise work stays ≈ n·250/2, linear), "
    "computed in exact long arithmetic on the 2^-20 integer grid. "
    "Reports the global top-15 loneliest vectors (largest 1-NN "
    "distance, id tiebreak) with their cluster context — the "
    "candidates a curation pass reviews first. Singleton clusters "
    "surface as NULL-distance rows ranked last.",
    oracle=None,  # backfilled below — shares the kmeans CTE chain
)
def embedding_knn_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .dedup import SEM_TARGET
    from .mlprep import KMEANS_K, _lloyd_assign, _q_col

    e = table(spark, sf_dir, "embeddings", spread=True).select(
        "vec_id",
        F.transform(_q_col(F.col("embedding")), lambda q: q.cast("double")).alias("v"),
        _q_col(F.col("embedding")).alias("q"),
    )
    n = e.count()
    k = max(KMEANS_K, -(-n // SEM_TARGET))
    c0 = e.filter(F.col("vec_id") < k).select(
        F.col("vec_id").alias("cid"), F.col("v").alias("c")
    )
    a1 = _lloyd_assign(e, c0, keep=("v",))
    comps = (
        a1.select("cid", F.posexplode(F.col("v")).alias("dim0", "qv"))
        .groupBy("cid", (F.col("dim0") + 1).alias("dim"))
        .agg((F.sum("qv").cast("double") / F.count(F.lit(1))).alias("comp"))
    )
    c1 = comps.groupBy("cid").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "comp"))),
            lambda s: s["comp"],
        ).alias("c")
    )
    # Checkpoint the final assignment (n skinny rows): it feeds both
    # pair-join sides plus the output frame, and severing the lineage
    # here keeps the Lloyd chain to one execution. (The earlier
    # ReusedExchange note predates the map-only assignment — with no
    # exchanges left in the assign subplan there is nothing to reuse.)
    m = _lloyd_assign(e, c1, keep=("q",)).localCheckpoint()
    a = m.select(F.col("vec_id").alias("va"), "cid", F.col("q").alias("qa"))
    b = m.select(F.col("vec_id").alias("vb"), "cid", F.col("q").alias("qb"))
    # Exact integer squared distance on the 2^-20 grid: |Δ| ≤ 2^21 per
    # dim → Σ over 64 dims ≤ 2^48, exact in long.
    d2 = F.aggregate(
        F.zip_with("qa", "qb", lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    # Broadcast the probe side only while the corpus is broadcast-
    # sized (50k × 64-dim packed longs ≈ 26 MB); at scale the plain
    # equi-join on cid shuffles skinny rows and K ∝ n keeps task
    # parallelism high. Without the hint the checkpoint's inflated
    # origin stats force a SortMergeJoin over only K partitions —
    # measured 7× slower at sf0.1 (K=8 → 8 tasks on 32 cores).
    if n <= 50_000:
        b = F.broadcast(b)
    nn = (
        a.join(b, "cid")
        .filter(F.col("va") != F.col("vb"))
        .groupBy(F.col("va").alias("vec_id"), "cid")
        .agg(F.min(d2).alias("nn_d2"))
    )
    scored = m.join(nn.select("vec_id", "nn_d2"), "vec_id", "left").select(
        "vec_id", F.col("cid").alias("cluster_id"), "nn_d2"
    )
    # TopK via sort+limit (a distributed take-ordered), THEN rank the
    # 15-row result — never a global row_number window over n rows.
    top = scored.orderBy(F.desc_nulls_last("nn_d2"), "vec_id").limit(15)
    w = Window.orderBy(F.desc_nulls_last("nn_d2"), "vec_id")
    return top.withColumn("rnk", F.row_number().over(w)).select(
        "rnk", "vec_id", "cluster_id", F.col("nn_d2").cast("bigint").alias("nn_d2")
    )


def _knn_outliers_oracle() -> str:
    from .dedup import SEM_TARGET
    from .mlprep import KMEANS_DIM, KMEANS_K, _SQL_QVEC, _sql_assign

    sql_d2 = (
        f"list_reduce(list_transform(generate_series(1, {KMEANS_DIM}), "
        "i -> (a.q[i] - b.q[i]) * (a.q[i] - b.q[i])), (x, y) -> x + y)"
    )
    return f"""
WITH e AS (
  SELECT vec_id,
         list_transform({_SQL_QVEC}, q -> CAST(q AS DOUBLE)) AS v,
         {_SQL_QVEC} AS q
  FROM embeddings
),
c0 AS (
  SELECT vec_id AS cid, v AS c FROM e
  WHERE vec_id < (SELECT GREATEST({KMEANS_K},
                                  (COUNT(*) + {SEM_TARGET - 1}) // {SEM_TARGET})
                  FROM e)
),
a1 AS ({_sql_assign("e.v", "c0.c", "e", "c0")}),
c1 AS (
  SELECT cid, list(comp ORDER BY dim) AS c FROM (
    SELECT cid, dim, CAST(SUM(v[dim]) AS DOUBLE) / COUNT(*) AS comp
    FROM a1, generate_series(1, {KMEANS_DIM}) AS t(dim)
    GROUP BY cid, dim
  ) GROUP BY cid
),
a2 AS ({_sql_assign("e.v", "c1.c", "e", "c1")}),
m AS (SELECT a2.vec_id, a2.cid, e.q FROM a2 JOIN e USING (vec_id)),
nn AS (
  SELECT a.vec_id, a.cid, MIN({sql_d2}) AS nn_d2
  FROM m a JOIN m b ON a.cid = b.cid AND a.vec_id <> b.vec_id
  GROUP BY 1, 2
),
scored AS (
  SELECT m.vec_id, m.cid AS cluster_id, nn.nn_d2,
    ROW_NUMBER() OVER (ORDER BY nn.nn_d2 DESC NULLS LAST, m.vec_id) AS rnk
  FROM m LEFT JOIN nn ON m.vec_id = nn.vec_id
)
SELECT rnk, vec_id, cluster_id, CAST(nn_d2 AS BIGINT) AS nn_d2
FROM scored WHERE rnk <= 15
"""


from .registry import _REGISTRY as _REG_SIM  # noqa: E402  (oracle backfill)

_REG_SIM["embedding_knn_outliers"].oracle = _knn_outliers_oracle()


#: Late-interaction query: the first 4 vectors act as one query's
#: token embeddings (ColBERT's MaxSim uses ~32 query tokens; the plan
#: shape is identical at that width).
_MAXSIM_NQ = 4


@register(
    "retrieval_maxsim_late_interaction",
    ops=("J10", "A3", "W4", "O1"),
    doc="ColBERT-style late-interaction retrieval (Khattab & Zaharia "
    "2020, arXiv:2004.12832): a query is a SET of token vectors; each "
    "candidate document (label group) scores Σ_q max_d cos(q, d) — "
    "per query token, the best-matching doc token. The 4-row query "
    "set broadcasts against the corpus (candidate work linear in "
    "corpus size), per-(doc, token) maxima fold in one hash agg, and "
    "the per-doc sum runs over decimal-cast rounded cosines in exact "
    "arithmetic. The full-corpus scan stands in for the ANN-restricted "
    "candidate fetch (similarity_ivf_ann) a production deployment "
    "would run first.",
    oracle=f"""
WITH q AS (
  SELECT vec_id AS qid, embedding AS qe FROM embeddings
  WHERE vec_id < {_MAXSIM_NQ}
),
per_tok AS (
  SELECT c.label, q.qid,
    MAX(ROUND({V.sql_cosine("q.qe", "c.embedding")}, 6)) AS best
  FROM embeddings c CROSS JOIN q
  GROUP BY 1, 2
),
scored AS (
  SELECT label,
    CAST(SUM(CAST(best AS DECIMAL(18,6))) AS DOUBLE) AS maxsim_score
  FROM per_tok GROUP BY 1
)
SELECT label, maxsim_score,
  ROW_NUMBER() OVER (ORDER BY maxsim_score DESC, label) AS rnk
FROM scored
""",
)
def retrieval_maxsim_late_interaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "embeddings", spread=True)
    q = e.filter(F.col("vec_id") < _MAXSIM_NQ).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")
    )
    per_tok = (
        e.crossJoin(F.broadcast(q))
        .groupBy("label", "qid")
        .agg(F.max(F.round(V.cosine(F.col("qe"), F.col("embedding")), 6)).alias("best"))
    )
    scored = per_tok.groupBy("label").agg(
        F.sum(F.col("best").cast("decimal(18,6)")).cast("double").alias("maxsim_score")
    )
    w = Window.orderBy(F.desc("maxsim_score"), "label")
    return scored.withColumn("rnk", F.row_number().over(w))


#: Power-iteration count for the principal-component extraction.
_PCA_ITERS = 2


def _sql_fold_sq(arr: str) -> str:
    return (
        f"list_reduce(list_transform({arr}, x -> x * x), (acc, x) -> acc + x)"
    )


def _sql_pca_iter(k: int, vprev: str) -> str:
    """One power-iteration round as chained CTEs (names s{k}..v{k}).

    s_i = round(n·(q_i·v) − S·v, 4) is the CENTERED projection scaled
    by n (u_i = n·q_i − S avoids materializing centered vectors);
    A_d = Σ q_{i,d}·s_i and T = Σ s_i are exact DECIMAL sums
    (VARCHAR-bridged to double), and w_d = n·A_d − S_d·T recovers
    M·v for the centered scatter matrix M = Σ u_i·u_iᵀ exactly."""
    qdotv = V.sql_dot("e.q", f"{vprev}.v")
    sdotv = V.sql_dot("sa.sarr", f"{vprev}.v")
    return f"""
s{k} AS (
  SELECT e.vec_id,
         CAST(ROUND(n.n * ({qdotv}) - ({sdotv}), 4) AS DECIMAL(18,4)) AS s
  FROM e, {vprev}, sarr sa, nn n
),
t{k} AS (SELECT CAST(CAST(SUM(s) AS VARCHAR) AS DOUBLE) AS t FROM s{k}),
a{k} AS (
  SELECT ex.dim,
         CAST(CAST(SUM(ex.qv * sk.s) AS VARCHAR) AS DOUBLE) AS a_d
  FROM ex JOIN s{k} sk USING (vec_id) GROUP BY ex.dim
),
w{k} AS (
  SELECT a.dim, n.n * a.a_d - sd.s_d * t.t AS wd
  FROM a{k} a JOIN sdim sd USING (dim), t{k} t, nn n
),
wa{k} AS (SELECT list(wd ORDER BY dim) AS warr FROM w{k}),
v{k} AS (
  SELECT list_transform(warr, x -> ROUND(x / SQRT({_sql_fold_sq('warr')}), 6))
           AS v
  FROM wa{k}
)"""


@register(
    "embedding_pca_power",
    ops=("J10", "A3", "A11", "F12"),
    doc="Top principal component of the embedding corpus by power "
    "iteration — the whitening/compression primitive ANN pipelines "
    "run before indexing. Two matrix-free rounds: the centered "
    "matvec M·v for M = Σ(n·qᵢ−S)(n·qᵢ−S)ᵀ needs only per-vector "
    "projections sᵢ = n·(qᵢ·v) − S·v (rounded to 4 dp, summed in "
    "DECIMAL) and per-dim A_d = Σ q_{i,d}·sᵢ — never a centered "
    "copy of the data, never a d×d matrix. Components quantized on "
    "the 2^-20 grid, projections folded dim-ascending, eigenvector "
    "re-normalized with a 6-dp round per round, so both engines "
    "iterate through identical doubles. Rayleigh quotient over the "
    "exact trace gives explained variance. Cost: 2 passes of "
    "(corpus × dim) work + dim-sized reduces — linear in corpus, "
    "no shuffle wider than the 64-row dim frame.",
    oracle=f"""
WITH e AS (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(trunc(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT)) AS q
  FROM embeddings
),
ex AS (
  SELECT vec_id, dim, q[dim] AS qv
  FROM e, generate_series(1, 64) AS t(dim)
),
sdim AS (
  SELECT dim, SUM(qv) AS s_d, SUM(qv * qv) AS sq_d FROM ex GROUP BY dim
),
sarr AS (
  SELECT list(CAST(s_d AS DOUBLE) ORDER BY dim) AS sarr FROM sdim
),
nn AS (SELECT COUNT(*) AS n FROM e),
v0 AS (SELECT list_transform(generate_series(1, 64), i -> 0.125) AS v),
{_sql_pca_iter(1, 'v0')},
{_sql_pca_iter(2, 'v1')},
tr AS (
  SELECT CAST(CAST(SUM(CAST(
           n.n * (1.0 * n.n * sq_d - 1.0 * s_d * s_d) AS DECIMAL(38,0)))
         AS VARCHAR) AS DOUBLE) AS trace
  FROM sdim, nn n
),
ray AS (
  SELECT {V.sql_dot('v1.v', 'wa2.warr')} AS lam
  FROM v1, wa2
)
SELECT t.dim,
       v2.v[t.dim] AS loading,
       ROUND(r.lam / tr.trace, 6) AS explained_share,
       n.n AS n_vectors
FROM generate_series(1, 64) AS t(dim), v2, ray r, tr, nn n
""",
)
def embedding_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .mlprep import _q_col

    # The power iteration re-consumes every base frame across both
    # iterations plus the trace/ray/final stages; lazy pins on the
    # small frames (2000-row quantized vectors, 128K exploded cells,
    # 64-row dim stats, per-iteration scores and weight vectors) stop
    # the lineage from re-executing multiplicatively — measured
    # 3.8 -> 2.4 s steady at sf0.1.
    _pin = lambda df: df.localCheckpoint(eager=False)  # noqa: E731
    # spread pays for the 64-dim quantizing map: without it the query
    # ran a median 8% slower at local[4] at sf0.1 (SCALING.md).
    e = _pin(
        table(spark, sf_dir, "embeddings", spread=True).select(
            "vec_id", _q_col(F.col("embedding")).alias("q")
        )
    )
    ex = _pin(
        e.select(
            "vec_id", F.posexplode("q").alias("dim0", "qv")
        ).select("vec_id", (F.col("dim0") + 1).alias("dim"), "qv")
    )
    sdim = _pin(
        ex.groupBy("dim").agg(
            F.sum("qv").alias("s_d"),
            F.sum(F.col("qv") * F.col("qv")).alias("sq_d"),
        )
    )
    sarr = sdim.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "s_d"))),
            lambda r: r["s_d"].cast("double"),
        ).alias("sarr")
    )
    nn = e.agg(F.count(F.lit(1)).alias("n"))

    def fold_sq(arr):
        return F.aggregate(
            F.transform(arr, lambda x: x * x),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    def pca_iter(vdf):
        s = _pin(
            e.crossJoin(F.broadcast(vdf))
            .crossJoin(F.broadcast(sarr))
            .crossJoin(F.broadcast(nn))
            .select(
                "vec_id",
                F.round(
                    F.col("n") * V.dot(F.col("q"), F.col("v"))
                    - V.dot(F.col("sarr"), F.col("v")),
                    4,
                )
                .cast("decimal(18,4)")
                .alias("s"),
            )
        )
        t = s.agg(F.sum("s").cast("string").cast("double").alias("t"))
        a = (
            ex.join(s, "vec_id")
            .groupBy("dim")
            .agg(
                F.sum(F.col("qv") * F.col("s"))
                .cast("string")
                .cast("double")
                .alias("a_d")
            )
        )
        w = (
            a.join(sdim, "dim")
            .crossJoin(F.broadcast(t))
            .crossJoin(F.broadcast(nn))
            .select(
                "dim",
                (
                    F.col("n") * F.col("a_d") - F.col("s_d") * F.col("t")
                ).alias("wd"),
            )
        )
        wa = _pin(
            w.agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("dim", "wd"))),
                    lambda r: r["wd"],
                ).alias("warr")
            )
        )
        v_next = wa.select(
            F.transform(
                F.col("warr"),
                lambda x: F.round(x / F.sqrt(fold_sq(F.col("warr"))), 6),
            ).alias("v")
        )
        return v_next, wa

    v0 = spark.range(1).select(
        F.expr("transform(sequence(1, 64), i -> 0.125d)").alias("v")
    )
    v1, _ = pca_iter(v0)
    v2, wa2 = pca_iter(v1)
    tr = (
        sdim.crossJoin(F.broadcast(nn))
        .agg(
            F.sum(
                (
                    F.col("n")
                    * (
                        F.lit(1.0) * F.col("n") * F.col("sq_d")
                        - F.lit(1.0) * F.col("s_d") * F.col("s_d")
                    )
                ).cast("decimal(38,0)")
            )
            .cast("string")
            .cast("double")
            .alias("trace")
        )
    )
    ray = v1.crossJoin(wa2).select(
        V.dot(F.col("v"), F.col("warr")).alias("lam")
    )
    dims = spark.range(1, 65).select(F.col("id").cast("int").alias("dim"))
    return (
        dims.crossJoin(F.broadcast(v2))
        .crossJoin(F.broadcast(ray))
        .crossJoin(F.broadcast(tr))
        .crossJoin(F.broadcast(nn))
        .select(
            "dim",
            F.element_at(F.col("v"), F.col("dim")).alias("loading"),
            F.round(F.col("lam") / F.col("trace"), 6).alias("explained_share"),
            F.col("n").alias("n_vectors"),
        )
    )


#: nDCG discount table 1/log2(rank+1) and its prefix sums (IDCG for r
#: all-relevant top ranks), embedded as exact double literals so both
#: engines parse identical values (no runtime log2 — libm log2 is not
#: guaranteed correctly rounded, a cross-engine 1-ulp hazard).
_NDCG_DISC = {
    1: 1.0, 2: 0.6309297535714575, 3: 0.5, 4: 0.43067655807339306,
    5: 0.38685280723454163, 6: 0.3562071871080222, 7: 0.3333333333333333,
    8: 0.31546487678572877, 9: 0.3010299956639812, 10: 0.2890648263178879,
}
_NDCG_IDCG = {
    1: 1.0, 2: 1.6309297535714575, 3: 2.1309297535714578,
    4: 2.5616063116448506, 5: 2.9484591188793923, 6: 3.3046663059874146,
    7: 3.637999639320748, 8: 3.953464516106477, 9: 4.254494511770458,
    10: 4.543559338088346,
}


def _sql_case(expr: str, mapping: dict[int, float], default: str = "0.0") -> str:
    # VARCHAR→DOUBLE round-trip: DuckDB parses bare decimal literals as
    # DECIMAL and its decimal→double cast double-rounds (1-ulp hazard,
    # see functions/numeric.sql_dstddev); strtod on the string is
    # correctly rounded and matches the Python float Spark embeds.
    arms = " ".join(
        f"WHEN {k} THEN CAST('{v!r}' AS DOUBLE)" for k, v in mapping.items()
    )
    return f"(CASE {expr} {arms} ELSE CAST('{default}' AS DOUBLE) END)"


@register(
    "retrieval_ndcg_eval",
    ops=("J10", "W4", "A3", "A9"),
    doc="Retrieval ranking-quality evaluation (the metric suite a RAG "
    "/ embedding-model pipeline gates on): for each of the 8 query "
    "vectors, the corpus is ranked by rounded cosine (id tiebreak — "
    "same reproducible ranking as similarity_bruteforce_topk) and "
    "scored against label-match relevance with Precision@10, "
    "Recall@10, MRR@10 and nDCG@10. The log2 discounts and ideal-DCG "
    "prefix sums are embedded as exact double literals (runtime log2 "
    "is a cross-engine 1-ulp hazard); DCG folds the ≤10 "
    "rank-ordered contributions left-to-right, so every metric is "
    "bitwise deterministic. Queries broadcast against the partitioned "
    "corpus — the scoring join is the same O(Q×N) plan as the "
    "brute-force baseline, and the metric aggregation touches only "
    "Q×10 rows.",
    oracle=f"""
WITH pairs AS (
  SELECT q.vec_id AS query_id, q.label AS q_label, c.vec_id AS neighbor_id,
         CASE WHEN c.label = q.label THEN 1 ELSE 0 END AS rel,
         ROUND({V.sql_cosine("q.embedding", "c.embedding")}, 6) AS cos_sim
  FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
  WHERE q.vec_id < {N_QUERIES}
),
top AS (
  SELECT * FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rnk
    FROM pairs
  ) WHERE rnk <= {TOP_K}
),
rel_tot AS (
  SELECT q.vec_id AS query_id, COUNT(*) - 1 AS n_relevant
  FROM embeddings q JOIN embeddings c ON q.label = c.label
  WHERE q.vec_id < {N_QUERIES}
  GROUP BY 1
),
scored AS (
  SELECT query_id,
    CAST(SUM(rel) AS BIGINT) AS n_hits,
    CAST(SUM(rel) AS DOUBLE) / {TOP_K} AS prec_at_10,
    CASE WHEN MIN(CASE WHEN rel = 1 THEN rnk END) IS NULL THEN 0.0
         ELSE 1.0 / MIN(CASE WHEN rel = 1 THEN rnk END) END AS mrr_at_10,
    list_reduce(
      list(rel * {_sql_case("rnk", _NDCG_DISC)} ORDER BY rnk),
      (acc, x) -> acc + x) AS dcg_at_10
  FROM top GROUP BY query_id
)
SELECT s.query_id,
  CAST(r.n_relevant AS BIGINT) AS n_relevant,
  s.n_hits, s.prec_at_10,
  CAST(s.n_hits AS DOUBLE) / r.n_relevant AS recall_at_10,
  s.mrr_at_10, s.dcg_at_10,
  {_sql_case("LEAST(r.n_relevant, 10)", _NDCG_IDCG)} AS idcg_at_10,
  s.dcg_at_10 / {_sql_case("LEAST(r.n_relevant, 10)", _NDCG_IDCG)}
    AS ndcg_at_10
FROM scored s JOIN rel_tot r ON s.query_id = r.query_id
WHERE r.n_relevant > 0
""",
)
def retrieval_ndcg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "embeddings", spread=True)
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("q_label"),
        F.col("embedding").alias("qe"),
    )
    c = e.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("c_label"),
        F.col("embedding").alias("ce"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    pairs = (
        F.broadcast(q)
        .join(c, F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.when(F.col("c_label") == F.col("q_label"), 1).otherwise(0).alias("rel"),
            F.round(V.cosine(F.col("qe"), F.col("ce")), 6).alias("cos_sim"),
        )
    )
    top = pairs.withColumn("rnk", F.row_number().over(w)).filter(
        F.col("rnk") <= TOP_K
    )
    disc = F.element_at(
        F.map_from_arrays(
            F.array(*[F.lit(k) for k in _NDCG_DISC]),
            F.array(*[F.lit(v) for v in _NDCG_DISC.values()]),
        ),
        F.col("rnk"),
    )
    contrib = (F.col("rel") * disc).alias("contrib")
    dcg = F.aggregate(
        F.transform(
            F.array_sort(F.collect_list(F.struct(F.col("rnk"), contrib))),
            lambda s: s["contrib"],
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    first_rel = F.min(F.when(F.col("rel") == 1, F.col("rnk")))
    scored = top.groupBy("query_id").agg(
        F.sum("rel").cast("bigint").alias("n_hits"),
        (F.sum("rel").cast("double") / TOP_K).alias("prec_at_10"),
        F.when(first_rel.isNull(), 0.0).otherwise(1.0 / first_rel).alias("mrr_at_10"),
        dcg.alias("dcg_at_10"),
    )
    rel_tot = (
        F.broadcast(q)
        .join(e.select(F.col("label").alias("c_label")), F.col("q_label") == F.col("c_label"))
        .groupBy("query_id")
        .agg((F.count(F.lit(1)) - 1).cast("bigint").alias("n_relevant"))
    )
    idcg = F.element_at(
        F.map_from_arrays(
            F.array(*[F.lit(k) for k in _NDCG_IDCG]),
            F.array(*[F.lit(v) for v in _NDCG_IDCG.values()]),
        ),
        F.least(F.col("n_relevant"), F.lit(10)).cast("int"),
    )
    return (
        scored.join(F.broadcast(rel_tot), "query_id")
        .filter(F.col("n_relevant") > 0)
        .select(
            "query_id",
            "n_relevant",
            "n_hits",
            "prec_at_10",
            (F.col("n_hits").cast("double") / F.col("n_relevant")).alias(
                "recall_at_10"
            ),
            "mrr_at_10",
            "dcg_at_10",
            idcg.alias("idcg_at_10"),
            (F.col("dcg_at_10") / idcg).alias("ndcg_at_10"),
        )
    )


#: Matryoshka prefix length (dims kept when truncating the embedding).
_MRL_DIMS = 16


@register(
    "embedding_matryoshka_recall",
    ops=("J10", "W4", "A9"),
    doc="Matryoshka-truncation retrieval audit (Kusupati et al. 2022): "
    "rank the corpus per query by cosine over only the FIRST 16 of "
    "64 dimensions (the MRL deployment trick — a 4× cheaper index) "
    "and measure recall@5 and top-1 agreement against the full-"
    "dimension exact top-5. The decision number for whether a "
    "truncated index is good enough before building the 4×-larger "
    "one. Both rankings use the reproducible rounded-cosine + id "
    "tiebreak; the overlap join compares two Q×5 sets, so the audit "
    "adds nothing to the O(Q×N) scoring cost (same broadcast-query "
    "plan as similarity_bruteforce_topk, evaluated at two widths).",
    oracle=f"""
WITH pairs AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
    ROUND({V.sql_cosine("q.embedding", "c.embedding")}, 6) AS cos_full,
    ROUND({V.sql_cosine(f"q.embedding[1:{_MRL_DIMS}]", f"c.embedding[1:{_MRL_DIMS}]")}, 6)
      AS cos_pre
  FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
  WHERE q.vec_id < {N_QUERIES}
),
ranked AS (
  SELECT query_id, neighbor_id,
    ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY cos_full DESC, neighbor_id) AS r_full,
    ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY cos_pre DESC, neighbor_id) AS r_pre
  FROM pairs
),
full_top AS (SELECT query_id, neighbor_id, r_full FROM ranked WHERE r_full <= 5),
pre_top AS (SELECT query_id, neighbor_id, r_pre FROM ranked WHERE r_pre <= 5)
SELECT f.query_id,
  CAST(COUNT(p.neighbor_id) AS BIGINT) AS n_overlap,
  CAST(COUNT(p.neighbor_id) AS DOUBLE) / 5 AS recall_at_5,
  BOOL_OR(f.r_full = 1 AND p.r_pre = 1) AS top1_match
FROM full_top f
LEFT JOIN pre_top p
  ON f.query_id = p.query_id AND f.neighbor_id = p.neighbor_id
GROUP BY f.query_id
""",
)
def embedding_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "embeddings", spread=True)
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
    )
    c = e.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("ce")
    )
    pre = lambda col: F.slice(col, 1, _MRL_DIMS)  # noqa: E731
    pairs = (
        F.broadcast(q)
        .join(c, F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(V.cosine(F.col("qe"), F.col("ce")), 6).alias("cos_full"),
            F.round(V.cosine(pre(F.col("qe")), pre(F.col("ce"))), 6).alias(
                "cos_pre"
            ),
        )
    )
    wf = Window.partitionBy("query_id").orderBy(
        F.col("cos_full").desc(), F.col("neighbor_id")
    )
    wp = Window.partitionBy("query_id").orderBy(
        F.col("cos_pre").desc(), F.col("neighbor_id")
    )
    ranked = pairs.select(
        "query_id",
        "neighbor_id",
        F.row_number().over(wf).alias("r_full"),
        F.row_number().over(wp).alias("r_pre"),
    )
    full_top = ranked.filter(F.col("r_full") <= 5).select(
        "query_id", "neighbor_id", "r_full"
    )
    pre_top = ranked.filter(F.col("r_pre") <= 5).select(
        F.col("query_id").alias("pq"), F.col("neighbor_id").alias("pn"), "r_pre"
    )
    joined = full_top.join(
        pre_top,
        (F.col("query_id") == F.col("pq")) & (F.col("neighbor_id") == F.col("pn")),
        "left",
    )
    return joined.groupBy("query_id").agg(
        F.count("pn").cast("bigint").alias("n_overlap"),
        (F.count("pn").cast("double") / 5).alias("recall_at_5"),
        F.max((F.col("r_full") == 1) & (F.col("r_pre") == 1)).alias("top1_match"),
    )


#: Johnson–Lindenstrauss target dimension and the ±1 sign matrix
#: (md5-derived, computed once in Python → identical literals in both
#: engines; Achlioptas 2001 shows ±1 entries suffice for JL).
JL_K = 16
JL_SIGNS = [
    [
        1
        if int(
            __import__("hashlib")
            .md5(f"jl:{j}:{i}".encode())
            .hexdigest()[0],
            16,
        )
        % 2
        == 0
        else -1
        for i in range(64)
    ]
    for j in range(JL_K)
]


from .mlprep import _SQL_QVEC as _JL_QVEC  # noqa: E402 (shared q-grid recipe)


def _jl_sql_list(j: int) -> str:
    return "[" + ", ".join(str(s) for s in JL_SIGNS[j]) + "]"


@register(
    "jl_random_projection",
    ops=("A3", "A9", "J5", "F12"),
    doc="Johnson–Lindenstrauss random projection 64→16 dims with a "
    "distortion audit: embeddings are quantized to the repo's exact "
    "2^-20 integer grid, the projection matrix is ±1 signs (md5-"
    "derived Python literals — Achlioptas-style, no gaussians "
    "needed), so every projected coordinate, every original and "
    "projected pairwise distance, and the aggregate distortion are "
    "EXACT int64 arithmetic — sum order cannot matter. Audited on "
    "the deterministic consecutive-id pair set: per-pair ratio "
    "proj²/(k·orig²), reporting the envelope, the ±50% capture "
    "fraction, and the aggregate distortion Σproj²/(k·Σorig²) as "
    "one int/int division. Projection is a map-only pass (16 "
    "folds over 64 dims per row) — embarrassingly parallel at any "
    "scale; this is the cheap front half of every LSH/ANN stack.",
    oracle=f"""
WITH q AS (
  SELECT vec_id, {_JL_QVEC} AS q FROM embeddings
),
proj AS (
  SELECT vec_id, q,
    [{", ".join(
        f"list_reduce(list_transform(generate_series(1, 64), "
        f"i -> q[i] * ({_jl_sql_list(j)})[i]), (a, b) -> a + b)"
        for j in range(JL_K)
    )}] AS p
  FROM q
),
pair AS (
  SELECT a.vec_id AS va,
    list_reduce(list_transform(generate_series(1, 64),
      i -> (a.q[i] - b.q[i]) * (a.q[i] - b.q[i])), (x, y) -> x + y)
      AS orig_d2,
    list_reduce(list_transform(generate_series(1, {JL_K}),
      j -> (a.p[j] - b.p[j]) * (a.p[j] - b.p[j])), (x, y) -> x + y)
      AS proj_d2
  FROM proj a JOIN proj b ON b.vec_id = a.vec_id + 1
),
r AS (
  SELECT *, CAST(proj_d2 AS DOUBLE) / ({JL_K} * orig_d2) AS ratio
  FROM pair WHERE orig_d2 > 0
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
  MIN(ratio) AS min_ratio,
  MAX(ratio) AS max_ratio,
  CAST(SUM(CASE WHEN abs(ratio - 1.0) <= 0.5 THEN 1 ELSE 0 END) AS DOUBLE)
    / COUNT(*) AS frac_within_50,
  CAST(SUM(proj_d2) AS DOUBLE) / ({JL_K} * SUM(orig_d2)) AS agg_distortion
FROM r
""",
)
def jl_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .mlprep import _q_col

    e = table(spark, sf_dir, "embeddings", spread=True)
    q = e.select("vec_id", _q_col(F.col("embedding")).alias("q"))

    # ONE transform over a nested sign-matrix literal, not 16 separate
    # aggregate trees: the unrolled form built 16 independent
    # fold expressions of 64 literals each, and Catalyst analysis +
    # codegen of that forest (×2 join branches) dominated the query —
    # 2.9 s steady for 2000 rows; the single-tree form runs 0.9 s.
    # Same exact int64 arithmetic, same values.
    signs_sql = "array(" + ", ".join(
        "array(" + ",".join(f"{s}L" for s in row) + ")" for row in JL_SIGNS
    ) + ")"
    proj = q.select(
        "vec_id",
        "q",
        F.expr(
            f"transform({signs_sql}, s -> "
            "aggregate(zip_with(q, s, (x, w) -> x * w), 0L, "
            "(a, x) -> a + x))"
        ).alias("p"),
    )
    a = proj.select(
        F.col("vec_id").alias("va"),
        F.col("q").alias("qa"),
        F.col("p").alias("pa"),
    )
    b = proj.select(
        F.col("vec_id").alias("vb"),
        F.col("q").alias("qb"),
        F.col("p").alias("pb"),
    )

    def sq(u, v):
        return F.aggregate(
            F.zip_with(u, v, lambda x, y: (x - y) * (x - y)),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        )

    pair = a.join(b, F.col("vb") == F.col("va") + 1).select(
        sq(F.col("qa"), F.col("qb")).alias("orig_d2"),
        sq(F.col("pa"), F.col("pb")).alias("proj_d2"),
    )
    r = pair.filter(F.col("orig_d2") > 0).withColumn(
        "ratio",
        F.col("proj_d2").cast("double") / (JL_K * F.col("orig_d2")),
    )
    return r.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.min("ratio").alias("min_ratio"),
        F.max("ratio").alias("max_ratio"),
        (
            F.sum(
                F.when(F.abs(F.col("ratio") - 1.0) <= 0.5, 1).otherwise(0)
            ).cast("double")
            / F.count(F.lit(1))
        ).alias("frac_within_50"),
        (
            F.sum("proj_d2").cast("double")
            / (JL_K * F.sum("orig_d2")).cast("double")
        ).alias("agg_distortion"),
    )


#: Binary quantization: 64 sign bits packed as two 32-bit halves (so
#: no value ever touches the int64 sign bit on either engine).
_BQ_HALF = 32


def _bq_half_col(vec: str, lo: int):
    return F.expr(
        f"aggregate(sequence(1, {_BQ_HALF}), 0L, "
        f"(acc, i) -> acc + IF(element_at({vec}, i + {lo}) > 0.0D, "
        f"shiftleft(1L, i - 1), 0L))"
    )


def _sql_bq_half(vec: str, lo: int) -> str:
    return (
        f"list_reduce(list_transform(generate_series(1, {_BQ_HALF}), "
        f"i -> CASE WHEN {vec}[i + {lo}] > 0.0 "
        f"THEN CAST(1 AS BIGINT) << (i - 1) ELSE CAST(0 AS BIGINT) END), "
        f"(acc, x) -> acc + x)"
    )


@register(
    "embedding_binary_quantization",
    ops=("P9", "J10", "W4", "A9"),
    doc="1-bit binary quantization of embeddings (the 32× compression "
    "modern vector stores rerank over): each 64-dim vector collapses "
    "to its sign bits, packed as two 32-bit halves (never touching "
    "the int64 sign bit, so the packing is engine-portable), and "
    "approximate search ranks by HAMMING distance (two bit_count-of-"
    "XOR ops — pure codegen, no floats at scan time). Recall@5 "
    "against the exact cosine top-5 is measured in-engine per query "
    "(same harness shape as similarity_ivf_recall). The scale "
    "story: the Hamming scan reads 8 bytes/vector instead of 512 — "
    "the candidate generator before exact rerank.",
    oracle=f"""
WITH codes AS (
  SELECT vec_id,
    {_sql_bq_half("embedding", 0)} AS lo,
    {_sql_bq_half("embedding", _BQ_HALF)} AS hi
  FROM embeddings
),
pairs AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
    bit_count(xor(q.lo, c.lo)) + bit_count(xor(q.hi, c.hi)) AS hamming
  FROM codes q JOIN codes c ON q.vec_id <> c.vec_id
  WHERE q.vec_id < {N_QUERIES}
),
bq AS (
  SELECT query_id, neighbor_id, hamming FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY query_id ORDER BY hamming, neighbor_id) AS rnk
    FROM pairs
  ) WHERE rnk <= {_K_EVAL}
),
bf AS (
  SELECT query_id, neighbor_id
  FROM ({_spec_sql("similarity_bruteforce_topk")})
  WHERE sim_rank <= {_K_EVAL}
),
ov AS (
  SELECT bf.query_id, COUNT(*) AS n_overlap
  FROM bf JOIN bq ON bf.query_id = bq.query_id
                 AND bf.neighbor_id = bq.neighbor_id
  GROUP BY 1
)
SELECT b.query_id,
  CAST(COUNT(*) AS BIGINT) AS n_bq,
  CAST(MIN(b.hamming) AS BIGINT) AS best_hamming,
  CAST(COALESCE(MAX(ov.n_overlap), 0) AS BIGINT) AS n_overlap,
  COALESCE(MAX(ov.n_overlap), 0) / {float(_K_EVAL)!r} AS recall_at_5
FROM bq b LEFT JOIN ov ON b.query_id = ov.query_id
GROUP BY 1
""",
)
def embedding_binary_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "embeddings", spread=True)
    codes = e.select(
        "vec_id",
        _bq_half_col("embedding", 0).alias("lo"),
        _bq_half_col("embedding", _BQ_HALF).alias("hi"),
    ).localCheckpoint()
    q = codes.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("lo").alias("qlo"),
        F.col("hi").alias("qhi"),
    )
    pairs = (
        F.broadcast(q)
        .join(
            codes.select(
                F.col("vec_id").alias("neighbor_id"), "lo", "hi"
            ),
            F.col("query_id") != F.col("neighbor_id"),
        )
        .select(
            "query_id",
            "neighbor_id",
            (
                F.bit_count(F.col("qlo").bitwiseXOR(F.col("lo")))
                + F.bit_count(F.col("qhi").bitwiseXOR(F.col("hi")))
            ).alias("hamming"),
        )
    )
    w = Window.partitionBy("query_id").orderBy("hamming", "neighbor_id")
    bq = (
        pairs.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _K_EVAL)
        .select("query_id", "neighbor_id", "hamming")
    )
    bf = (
        similarity_bruteforce_topk(spark, sf_dir)
        .filter(F.col("sim_rank") <= _K_EVAL)
        .select("query_id", "neighbor_id")
    )
    ov = (
        bf.join(bq.select("query_id", "neighbor_id"), ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )
    return (
        bq.join(ov, "query_id", "left")
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bq"),
            F.min("hamming").cast("bigint").alias("best_hamming"),
            F.coalesce(F.max("n_overlap"), F.lit(0))
            .cast("bigint")
            .alias("n_overlap"),
            (
                F.coalesce(F.max("n_overlap"), F.lit(0))
                / F.lit(float(_K_EVAL))
            ).alias("recall_at_5"),
        )
    )
