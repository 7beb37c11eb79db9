"""Composed corpus-curation funnel — the end-to-end pass a
training-data pipeline runs between raw crawl and tokenizer, built
entirely from this repo's own operators:

    raw → hold out benchmark → exact dedup → near-dup (LSH→verified)
        → quality filter → benchmark decontamination

Every stage is the scale-path variant (hash-groupBy dedup, banded
LSH candidates with exact verify on candidates only, broadcast
semi-join decontamination); the oracle twin re-derives each stage in
SQL with the *exact* near-dup spelling (full pairwise Jaccard), so a
green row certifies both the composition and, again, that banding
lost no true pair on this corpus.

Reference scope note: the reference pipeline has no curation stage —
this extends the engine for the LLM-training-data workload
(SURVEY.md §6 "beyond the reference").
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import table
from .dedup import (
    SQL_DOC_SHINGLES,
    SQL_NORM,
    _doc_shingles,
    _norm_col,
    _pin,
    _symmetric_edges,
    _verified_pairs,
)
from .registry import register
from .textops import SQL_TOKENS, STOPWORDS, _sql_list, quality_score_col

#: Funnel thresholds: near-dup Jaccard, quality floor, contamination cap.
JACCARD_THR = 0.5
QUALITY_THR = 0.58
CONTAM_THR = 0.2

#: DuckDB twin of textops.quality_score_col() — stop list derived from
#: the same STOPWORDS constant, never hand-inlined.
_SQL_QUALITY = f"""
  SELECT doc_id,
    LEAST(1.0, CAST(len(w) AS DOUBLE) / 50.0) * 0.4
      + LEAST(1.0, (CAST(len(list_filter(w, t -> t IN ({_sql_list(STOPWORDS)}))) AS DOUBLE) / len(w)) * 4.0) * 0.2
      + (CAST(len(list_distinct(w)) AS DOUBLE) / len(w)) * 0.4 AS quality_score
  FROM (SELECT doc_id, {SQL_TOKENS} AS w FROM documents)
"""


def _lsh_verified_pairs(sh: DataFrame) -> DataFrame:
    """(doc_a, doc_b) near-dup pairs (Jaccard >= JACCARD_THR) from a
    shingle frame: banded MinHash candidates, exact verify on the
    candidates only — the shared dedup._verified_pairs construction,
    parameterized by the (already-restricted, PINNED) shingles."""
    return _verified_pairs(sh, JACCARD_THR)


@register(
    "corpus_curation_funnel",
    ops=("A1", "J2", "J9", "W4"),
    doc="The composed curation pass: per-stage surviving-document "
    "counts for raw → benchmark-held-out → exact-dedup → near-dup → "
    "quality → decontaminated. Chains the engine's scale-path "
    "operators; the oracle re-derives every stage with the exact "
    "(non-LSH) near-dup spelling.",
    oracle=f"""
WITH train AS (SELECT * FROM documents WHERE doc_id % 20 <> 0),
fp AS (SELECT doc_id, md5({SQL_NORM}) AS f FROM train),
s2 AS (SELECT MIN(doc_id) AS doc_id FROM fp GROUP BY f),
all_sh AS ({SQL_DOC_SHINGLES}),
sh2 AS (SELECT s.doc_id, s.sh FROM all_sh s JOIN s2 USING (doc_id)),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh2 GROUP BY 1),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
  FROM sh2 a JOIN sh2 b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
neardup_b AS (
  SELECT DISTINCT i.doc_b AS doc_id
  FROM inter i
  JOIN sizes sa ON i.doc_a = sa.doc_id
  JOIN sizes sb ON i.doc_b = sb.doc_id
  WHERE CAST(i.n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - i.n_inter) >= {JACCARD_THR}
),
s3 AS (SELECT doc_id FROM s2 WHERE doc_id NOT IN (SELECT doc_id FROM neardup_b)),
q AS ({_SQL_QUALITY}),
s4 AS (SELECT s3.doc_id FROM s3 JOIN q USING (doc_id) WHERE q.quality_score >= {QUALITY_THR}),
bench_sh AS (SELECT DISTINCT sh FROM all_sh WHERE doc_id % 20 = 0),
tsh AS (SELECT s.doc_id, s.sh FROM all_sh s JOIN s4 USING (doc_id)),
cont AS (
  SELECT t.doc_id,
    CAST(COUNT(CASE WHEN t.sh IN (SELECT sh FROM bench_sh) THEN 1 END) AS DOUBLE)
      / COUNT(*) AS frac
  FROM tsh t GROUP BY 1
),
s5 AS (
  SELECT s4.doc_id FROM s4 LEFT JOIN cont USING (doc_id)
  WHERE COALESCE(cont.frac, 0.0) < {CONTAM_THR}
)
SELECT 0 AS stage_id, 'raw' AS stage, (SELECT COUNT(*) FROM documents) AS n_docs
UNION ALL SELECT 1, 'benchmark_held_out', (SELECT COUNT(*) FROM train)
UNION ALL SELECT 2, 'exact_dedup', (SELECT COUNT(*) FROM s2)
UNION ALL SELECT 3, 'near_dedup', (SELECT COUNT(*) FROM s3)
UNION ALL SELECT 4, 'quality_filter', (SELECT COUNT(*) FROM s4)
UNION ALL SELECT 5, 'decontaminated', (SELECT COUNT(*) FROM s5)
""",
)
def corpus_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Stage-count plumbing (r11, VERDICT r10 item 2): every survivor
    # frame is PINNED (eager localCheckpoint) with an `observe()`
    # attached, so each stage's count rides its own materialization
    # job instead of a separate agg-count job per stage — the raw and
    # held-out counts ride stage 2's job via observes placed on its
    # lineage (they cost zero extra corpus scans), and only stage 5
    # (never materialized otherwise) keeps an explicit count. 6
    # serialized count jobs + 2 extra corpus scans → 1. CollectMetrics
    # aggregates exactly the rows flowing through the action, so every
    # count is byte-identical to the old standalone aggregates; each
    # observed node executes exactly once (inside its pin), never
    # inside a multiply-consumed branch.
    from pyspark.sql import Observation

    obs_raw, obs_train, obs_s2, obs_s3, obs_s4 = (
        Observation() for _ in range(5)
    )
    n = F.count(F.lit(1)).alias("n")
    d = table(spark, sf_dir, "documents", spread=True)
    train = d.observe(obs_raw, n).filter(F.col("doc_id") % 20 != 0)

    # Stage 2: exact dedup — canonical = min doc_id per fingerprint.
    s2 = _pin(
        train.observe(obs_train, n)
        .select("doc_id", F.md5(_norm_col()).alias("f"))
        .groupBy("f")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
        .observe(obs_s2, n)
    )

    # Stage 3: near-dup on the survivors (LSH candidates → exact verify).
    # The shingle frame is the funnel's most expensive intermediate
    # (normalize + explode over the full corpus) and feeds stages 3 AND
    # 5 — persist it so no stage re-runs an upstream corpus pass; at
    # 100 TB these would be redundant corpus scans.
    all_sh = _doc_shingles(spark, sf_dir).persist()
    # sh2 is pinned on top of all_sh: _lsh_verified_pairs consumes it
    # FOUR times (signature, sizes, both intersection sides), and each
    # consumer would otherwise re-run the semi-join against the cached
    # shingles (4 shuffles → 1 materialization, r10 guide §1.2/§5).
    sh2 = _pin(all_sh.join(s2, "doc_id", "left_semi"))
    dropped3 = _lsh_verified_pairs(sh2).select(
        F.col("doc_b").alias("doc_id")
    ).distinct()
    s3 = _pin(s2.join(dropped3, "doc_id", "left_anti").observe(obs_s3, n))

    # Stage 4: quality floor (the shared formula — textops.quality_score_col).
    q = d.select("doc_id", quality_score_col().alias("quality_score"))
    s4 = _pin(
        s3.join(q, "doc_id")
        .filter(F.col("quality_score") >= QUALITY_THR)
        .select("doc_id")
        .observe(obs_s4, n)
    )

    # Stage 5: decontamination against the held-out benchmark shingles.
    bench_sh = (
        all_sh.where(F.col("doc_id") % 20 == 0).select("sh").distinct()
    )
    tsh = all_sh.join(s4, "doc_id", "left_semi")
    hits = (
        tsh.join(F.broadcast(bench_sh), "sh", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    tot = tsh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    cont = tot.join(hits, "doc_id", "left").select(
        "doc_id",
        (
            F.coalesce(F.col("n_hit"), F.lit(0)).cast("double") / F.col("n_sh")
        ).alias("frac"),
    )
    s5 = (
        s4.join(cont, "doc_id", "left")
        .filter(F.coalesce(F.col("frac"), F.lit(0.0)) < CONTAM_THR)
        .select("doc_id")
    )

    # One explicit scalar-count job (stage 5); every other count was
    # observed during its stage's materialization. O(1) driver memory
    # at any corpus size (scalars, not rows).
    n_s5 = s5.agg(F.count(F.lit(1))).first()[0]
    all_sh.unpersist()
    rows = [
        (0, "raw", obs_raw.get["n"]),
        (1, "benchmark_held_out", obs_train.get["n"]),
        (2, "exact_dedup", obs_s2.get["n"]),
        (3, "near_dedup", obs_s3.get["n"]),
        (4, "quality_filter", obs_s4.get["n"]),
        (5, "decontaminated", n_s5),
    ]
    return spark.createDataFrame(
        rows, "stage_id int, stage string, n_docs long"
    )


@register(
    "corpus_data_card",
    ops=("A1", "A2", "A9"),
    doc="The per-source data card a curation pipeline publishes with a "
    "training corpus: per language — document count, exact token "
    "totals, mean document length, docs clearing the quality floor "
    "(same formula/threshold as the funnel's stage 4), and the exact-"
    "duplicate rate from normalized-text fingerprints. One grouped "
    "pass, all counts exact integers (no float-sum ordering hazards), "
    "ratios derived by a single double division — scales as one "
    "hash aggregate keyed by lang.",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, lang,
         regexp_split_to_array(trim(text), '\\s+') AS w,
         md5({SQL_NORM}) AS f
  FROM documents
), q AS ({_SQL_QUALITY})
SELECT t.lang,
  COUNT(*) AS n_docs,
  CAST(SUM(len(t.w)) AS BIGINT) AS total_tokens,
  CAST(SUM(len(t.w)) AS DOUBLE) / COUNT(*) AS avg_tokens,
  CAST(SUM(CASE WHEN q.quality_score >= {QUALITY_THR} THEN 1 ELSE 0 END)
       AS BIGINT) AS n_high_quality,
  1.0 - CAST(COUNT(DISTINCT t.f) AS DOUBLE) / COUNT(*) AS exact_dup_rate
FROM tok t JOIN q USING (doc_id)
GROUP BY t.lang
""",
)
def corpus_data_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents", spread=True)
    w = F.split(F.trim(F.col("text")), r"\s+")
    feat = d.select(
        "lang",
        F.size(w).cast("long").alias("nt"),
        quality_score_col().alias("qs"),
        F.md5(_norm_col()).alias("f"),
    )
    return feat.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("nt").cast("long").alias("total_tokens"),
        (F.sum("nt").cast("double") / F.count(F.lit(1))).alias("avg_tokens"),
        F.sum(F.when(F.col("qs") >= QUALITY_THR, 1).otherwise(0))
        .cast("long")
        .alias("n_high_quality"),
        (
            F.lit(1.0) - F.countDistinct("f").cast("double") / F.count(F.lit(1))
        ).alias("exact_dup_rate"),
    )


@register(
    "dedup_keep_best",
    ops=("W4", "J1", "P7"),
    doc="Quality-canonical cluster resolution: near-dup components "
    "(same verified pair graph as dedup_components) where the kept "
    "representative is the HIGHEST-QUALITY member (shared "
    "textops.quality_score_col formula; min doc_id breaks exact "
    "ties) instead of the minimum id — what a curation pipeline "
    "actually wants when collapsing a near-dup cluster: keep the "
    "best copy, not the oldest. Composes the LSH-verified pair "
    "graph, pointer-jumping components, and a per-component "
    "row_number argmax; singletons keep themselves. Oracle: "
    "recursive-CTE reachability + the same quality formula.",
    oracle=f"""
WITH RECURSIVE sh AS ({SQL_DOC_SHINGLES}),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT i.doc_a, i.doc_b
  FROM inter i
  JOIN sizes sa ON i.doc_a = sa.doc_id
  JOIN sizes sb ON i.doc_b = sb.doc_id
  WHERE CAST(i.n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - i.n_inter)
        >= {JACCARD_THR}
),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL
  SELECT doc_b, doc_a FROM pairs
),
reach AS (
  SELECT doc_id AS a, doc_id AS b FROM documents
  UNION
  SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src
),
comp AS (SELECT a AS doc_id, MIN(b) AS comp FROM reach GROUP BY a),
q AS ({_SQL_QUALITY}),
scored AS (
  SELECT c.doc_id, c.comp, q.quality_score
  FROM comp c JOIN q USING (doc_id)
),
best AS (
  SELECT comp, doc_id AS canonical_doc_id FROM (
    SELECT comp, doc_id, ROW_NUMBER() OVER (
      PARTITION BY comp ORDER BY quality_score DESC, doc_id
    ) AS rn FROM scored
  ) WHERE rn = 1
)
SELECT s.doc_id, b.canonical_doc_id, s.quality_score,
       s.doc_id = b.canonical_doc_id AS is_kept
FROM scored s JOIN best b USING (comp)
""",
)
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from .dedup import _min_label_components, dedup_lsh_verified

    pairs = dedup_lsh_verified(spark, sf_dir).select("doc_a", "doc_b")
    # One-pass symmetrization: the union-of-swapped spelling executed
    # the LSH-verify lineage once per branch (see dedup._symmetric_edges).
    edges = _symmetric_edges(pairs).cache()
    labels = _min_label_components(edges)
    # Unpersist now (the loop has materialized its labels): a leaked
    # cache entry would let a later same-session invocation of this
    # query silently reuse it via the CacheManager's canonical-plan
    # lookup — cross-run result caching (r10).
    edges.unpersist()
    d = table(spark, sf_dir, "documents", spread=True)
    scored = (
        d.select("doc_id", quality_score_col().alias("quality_score"))
        .join(labels, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("comp", "doc_id").alias("comp"),
            "quality_score",
        )
    )
    w = Window.partitionBy("comp").orderBy(
        F.col("quality_score").desc(), F.col("doc_id")
    )
    best = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("comp", F.col("doc_id").alias("canonical_doc_id"))
    )
    return scored.join(best, "comp").select(
        "doc_id",
        "canonical_doc_id",
        "quality_score",
        (F.col("doc_id") == F.col("canonical_doc_id")).alias("is_kept"),
    )


@register(
    "k_anonymity_audit",
    ops=("A1", "A9", "F13"),
    doc="k-anonymity release audit: customers bucketed by their "
    "quasi-identifier tuple (nation, market segment, account-balance "
    "band), equivalence classes counted, and the audit reports per-k "
    "exposure — classes below k=5 and the fraction of individuals "
    "they expose. The audit is one aggregate over the quasi-id key "
    "(the partition key a 100 TB release pipeline would already "
    "shard by); output is one row per class size.",
    oracle="""
WITH quasi AS (
  SELECT c_nationkey AS nation, c_mktsegment AS segment,
    CAST(FLOOR(c_acctbal / 1000.0) AS INTEGER) AS bal_band
  FROM customer
),
classes AS (
  SELECT nation, segment, bal_band, COUNT(*) AS class_size
  FROM quasi GROUP BY 1, 2, 3
),
tot AS (SELECT CAST(SUM(class_size) AS BIGINT) AS n_people FROM classes)
SELECT class_size,
  CAST(COUNT(*) AS BIGINT) AS n_classes,
  CAST(COUNT(*) * class_size AS BIGINT) AS n_people_in_size,
  class_size < 5 AS violates_k5,
  CAST(COUNT(*) * class_size AS DOUBLE) / t.n_people AS people_share
FROM classes, tot t
GROUP BY class_size, t.n_people
""",
)
def k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    quasi = c.select(
        F.col("c_nationkey").alias("nation"),
        F.col("c_mktsegment").alias("segment"),
        F.floor(F.col("c_acctbal") / 1000.0).cast("int").alias("bal_band"),
    )
    classes = quasi.groupBy("nation", "segment", "bal_band").agg(
        F.count(F.lit(1)).alias("class_size")
    )
    tot = classes.agg(F.sum("class_size").cast("bigint").alias("n_people"))
    return (
        classes.crossJoin(F.broadcast(tot))
        .groupBy("class_size", "n_people")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_classes"))
        .select(
            "class_size",
            "n_classes",
            (F.col("n_classes") * F.col("class_size"))
            .cast("bigint")
            .alias("n_people_in_size"),
            (F.col("class_size") < 5).alias("violates_k5"),
            (
                (F.col("n_classes") * F.col("class_size")).cast("double")
                / F.col("n_people")
            ).alias("people_share"),
        )
    )


@register(
    "l_diversity_audit",
    ops=("A2", "A1", "A9"),
    doc="l-diversity release audit — the companion gate to "
    "k_anonymity_audit: equivalence classes over the quasi-identifier "
    "(nation, balance band) are scored by how many DISTINCT sensitive "
    "values (market segment) they contain; a class that is k-anonymous "
    "but 1-diverse still leaks the sensitive attribute outright. "
    "Reports the class count, people covered, and l<3 violations per "
    "diversity level. One aggregate over the quasi-id key, then a "
    "grouping over the (tiny) per-class frame — same shape at 100 TB.",
    oracle="""
WITH classes AS (
  SELECT c_nationkey AS nation,
    CAST(FLOOR(c_acctbal / 1000.0) AS INTEGER) AS bal_band,
    COUNT(*) AS class_size,
    COUNT(DISTINCT c_mktsegment) AS l_diversity
  FROM customer GROUP BY 1, 2
)
SELECT l_diversity,
  CAST(COUNT(*) AS BIGINT) AS n_classes,
  CAST(SUM(class_size) AS BIGINT) AS n_people,
  l_diversity < 3 AS violates_l3,
  CAST(MIN(class_size) AS BIGINT) AS smallest_class,
  CAST(MAX(class_size) AS BIGINT) AS largest_class
FROM classes
GROUP BY 1
""",
)
def l_diversity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    classes = c.groupBy(
        F.col("c_nationkey").alias("nation"),
        F.floor(F.col("c_acctbal") / 1000.0).cast("int").alias("bal_band"),
    ).agg(
        F.count(F.lit(1)).alias("class_size"),
        F.countDistinct("c_mktsegment").alias("l_diversity"),
    )
    return classes.groupBy("l_diversity").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_classes"),
        F.sum("class_size").cast("bigint").alias("n_people"),
        (F.col("l_diversity") < 3).alias("violates_l3"),
        F.min("class_size").cast("bigint").alias("smallest_class"),
        F.max("class_size").cast("bigint").alias("largest_class"),
    )


@register(
    "curriculum_phases",
    ops=("W8", "A3", "W4"),
    doc="Curriculum-learning phase planner: documents ranked by THE "
    "shared quality formula (textops.quality_score_col — same weights "
    "as the funnel and the data card), NTILE(4) from highest to "
    "lowest quality forms training phases 1..4 (clean data first), "
    "and each phase reports its doc count, token budget and quality "
    "band. One global window — at 100 TB replace NTILE with "
    "hash-bucketed quantile boundaries (sketch_histogram_quantiles) "
    "and assign phases by threshold; the output contract is identical.",
    oracle=f"""
WITH q AS ({_SQL_QUALITY}),
tok AS (SELECT doc_id, len({SQL_TOKENS}) AS n_tokens FROM documents),
phased AS (
  SELECT q.doc_id, tok.n_tokens, q.quality_score AS q,
    NTILE(4) OVER (ORDER BY q.quality_score DESC, q.doc_id) AS phase
  FROM q JOIN tok USING (doc_id)
)
SELECT phase,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(n_tokens) AS BIGINT) AS phase_tokens,
  MIN(q) AS min_quality,
  MAX(q) AS max_quality
FROM phased
GROUP BY 1
""",
)
def curriculum_phases(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window
    from .textops import tokens_col

    d = table(spark, sf_dir, "documents", spread=True)
    feat = d.select(
        "doc_id",
        F.size(tokens_col()).cast("long").alias("n_tokens"),
        quality_score_col().alias("q"),
    )
    # NTILE(4) over the corpus (entity-scaled) via the distributed
    # two-phase range rank + exact NTILE formula — no single-partition
    # window; (q desc, doc_id) is a total order.
    from ..functions.ranking import ntile_from_rank, two_phase_rank

    ranked = two_phase_rank(
        feat, (F.desc("q"), "doc_id"), rank_col="_rn", n_col="_nd"
    )
    phased = ranked.withColumn(
        "phase", ntile_from_rank(F.col("_rn"), F.col("_nd"), 4)
    )
    return phased.groupBy("phase").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("phase_tokens"),
        F.min("q").alias("min_quality"),
        F.max("q").alias("max_quality"),
    )


@register(
    "quality_weighted_sampling",
    ops=("F12", "A9", "O2"),
    doc="Importance sampling by quality: each document's keep "
    "probability is proportional to ITS OWN quality score (the shared "
    "formula — better docs oversampled smoothly, instead of the "
    "funnel's hard threshold), scaled so the expected kept volume "
    "matches a 40% budget: p = min(1, budget · q / mean(q)). The "
    "mean-quality normalizer is one global aggregate (decimal-exact) "
    "broadcast back; membership is the keyed-md5 uniform per row. "
    "Per-source acceptance stats out — one corpus scan either way.",
    oracle=f"""
WITH q AS ({_SQL_QUALITY}),
norm AS (
  SELECT CAST(SUM(CAST(quality_score AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)
    AS mean_q
  FROM q
),
draw AS (
  SELECT d.source, d.doc_id, q.quality_score,
    LEAST(1.0, 0.4 * q.quality_score / n.mean_q) AS p_keep,
    CAST(concat('0x', substr(md5('qws:' || CAST(d.doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
      / 1152921504606846976.0 AS u
  FROM documents d JOIN q ON d.doc_id = q.doc_id, norm n
)
SELECT source,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(COUNT(CASE WHEN u < p_keep THEN 1 END) AS BIGINT) AS n_kept,
  CAST(COUNT(CASE WHEN u < p_keep THEN 1 END) AS DOUBLE) / COUNT(*) AS keep_rate,
  CAST(SUM(CAST(p_keep AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS expected_rate
FROM draw
GROUP BY 1
""",
)
def quality_weighted_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents", spread=True)
    scored = d.select("source", "doc_id", quality_score_col().alias("quality_score"))
    norm = scored.agg(
        (
            F.sum(F.col("quality_score").cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("mean_q")
    )
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("qws:"), F.col("doc_id").cast("string"))), 1, 15
            ),
            16,
            10,
        ).cast("bigint")
        / F.lit(1152921504606846976.0)
    )
    draw = scored.crossJoin(F.broadcast(norm)).select(
        "source",
        F.least(
            F.lit(1.0), F.lit(0.4) * F.col("quality_score") / F.col("mean_q")
        ).alias("p_keep"),
        u.alias("u"),
    )
    return draw.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.count(F.when(F.col("u") < F.col("p_keep"), 1)).cast("bigint").alias("n_kept"),
        (
            F.count(F.when(F.col("u") < F.col("p_keep"), 1)).cast("double")
            / F.count(F.lit(1))
        ).alias("keep_rate"),
        (
            F.sum(F.col("p_keep").cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("expected_rate"),
    )


@register(
    "quantile_normalize_scores",
    ops=("W7", "W4", "J1", "A1"),
    doc="Cross-source quantile normalization of the corpus quality "
    "score: each document's within-source percentile is mapped onto "
    "the pooled score distribution (the value at the matching "
    "position of the globally sorted scores), so heterogeneous "
    "sources become comparable before a single quality threshold is "
    "applied — the curation fix for 'source A's 0.6 means source "
    "B's 0.8'. Position lookup is an integer equi-join (floor of "
    "percent_rank × (N−1), half-up), never a per-row percentile "
    "aggregate; at 100 TB the pooled reference would be a "
    "fixed-size quantile sketch (sketch_histogram_quantiles) — the "
    "join shape is identical. Ties map to positions by value only, "
    "so row_number nondeterminism can't leak into the output.",
    oracle=f"""
WITH q AS ({_SQL_QUALITY}),
d AS (
  SELECT q.doc_id, doc.source, q.quality_score AS score
  FROM q JOIN documents doc USING (doc_id)
),
n AS (SELECT COUNT(*) AS n_all FROM d),
pooled AS (
  SELECT ROW_NUMBER() OVER (ORDER BY score) AS pos, score AS pooled_score
  FROM d
),
pr AS (
  SELECT doc_id, source, score,
         COUNT(*) OVER (PARTITION BY source) AS n_src,
         PERCENT_RANK() OVER (PARTITION BY source ORDER BY score) AS prk
  FROM d
),
keyed AS (
  SELECT doc_id, source, score,
         CAST(FLOOR(
           (CASE WHEN n_src = 1 THEN 0.5 ELSE prk END) * (n.n_all - 1) + 0.5
         ) AS BIGINT) + 1 AS pos
  FROM pr, n
)
SELECT k.doc_id, k.source,
       ROUND(k.score, 4) AS score,
       ROUND(p.pooled_score, 4) AS norm_score
FROM keyed k JOIN pooled p USING (pos)
""",
)
def quantile_normalize_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = table(spark, sf_dir, "documents", spread=True).select(
        "doc_id", "source", quality_score_col().alias("score")
    )
    n = d.agg(F.count(F.lit(1)).alias("n_all"))
    # Pooled positions via the distributed two-phase range rank — the
    # corpus-sized global sort never runs in one partition. Ties on
    # score get arbitrary positions (same as the serial window without
    # a tiebreaker) but identical pooled_score values, so the joined
    # output is deterministic either way.
    from ..functions.ranking import two_phase_rank

    pooled = two_phase_rank(
        d.select(F.col("score").alias("pooled_score")),
        (F.col("pooled_score"),),
        rank_col="pos",
    )
    ws = Window.partitionBy("source")
    pr = d.select(
        "doc_id",
        "source",
        "score",
        F.count(F.lit(1)).over(ws).alias("n_src"),
        F.percent_rank().over(ws.orderBy("score")).alias("prk"),
    )
    keyed = pr.crossJoin(F.broadcast(n)).select(
        "doc_id",
        "source",
        "score",
        (
            F.floor(
                F.when(F.col("n_src") == 1, 0.5).otherwise(F.col("prk"))
                * (F.col("n_all") - 1)
                + 0.5
            ).cast("bigint")
            + 1
        ).alias("pos"),
    )
    return keyed.join(pooled, "pos").select(
        "doc_id",
        "source",
        F.round("score", 4).alias("score"),
        F.round("pooled_score", 4).alias("norm_score"),
    )


#: Laplace scale for the ε=1 release (sensitivity 1 counts).
DP_EPSILON = 1.0


@register(
    "dp_noisy_counts",
    ops=("A1", "F12", "P5", "O3"),
    doc="Differentially-private count release (ε=1 Laplace mechanism) "
    "for the per-(priority, status) order histogram — the privacy "
    "release path next to the k-anonymity/l-diversity audits: "
    "noise = −b·sign(u−½)·ln(1−2|u−½|) from a keyed-hash uniform "
    "(deterministic seeded release — rerunning the release does NOT "
    "spend fresh ε budget), ln rounded to 4 dp so both engines draw "
    "the identical noise. Reports true count alongside (this "
    "operator is the release AUDIT — production would drop the true "
    "column) plus the absolute and relative error of the release. "
    "One hash aggregate over the fact table; the noise draw is "
    "per-GROUP, so the release cost is group-bounded at any scale.",
    oracle=f"""
WITH counts AS (
  SELECT o_orderpriority, o_orderstatus, COUNT(*) AS true_n,
         ROW_NUMBER() OVER (ORDER BY o_orderpriority, o_orderstatus) AS gid
  FROM orders GROUP BY 1, 2
),
noised AS (
  SELECT *,
    CAST((gid * 2654435761) % 4294967296 AS DOUBLE) / 4294967296 AS u
  FROM counts
),
rel AS (
  SELECT o_orderpriority, o_orderstatus, true_n,
    CASE WHEN u < 0.5
         THEN (1.0 / {DP_EPSILON}) * ROUND(LN(2.0 * u + 1e-12), 4)
         ELSE -(1.0 / {DP_EPSILON}) * ROUND(LN(2.0 * (1.0 - u) + 1e-12), 4)
    END AS noise
  FROM noised
)
SELECT o_orderpriority, o_orderstatus, true_n,
       ROUND(true_n + noise, 4) AS released_n,
       ROUND(ABS(noise), 4) AS abs_err,
       ROUND(ABS(noise) / true_n, 6) AS rel_err
FROM rel
""",
)
def dp_noisy_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = table(spark, sf_dir, "orders", spread=True)
    counts = o.groupBy("o_orderpriority", "o_orderstatus").agg(
        F.count(F.lit(1)).alias("true_n")
    )
    gid = F.row_number().over(
        Window.orderBy("o_orderpriority", "o_orderstatus")
    )
    noised = counts.withColumn("gid", gid).withColumn(
        "u",
        ((F.col("gid") * F.lit(2654435761)) % F.lit(4294967296)).cast("double")
        / F.lit(4294967296),
    )
    b = 1.0 / DP_EPSILON
    noise = F.when(
        F.col("u") < 0.5,
        F.lit(b) * F.round(F.log(2.0 * F.col("u") + 1e-12), 4),
    ).otherwise(
        -F.lit(b) * F.round(F.log(2.0 * (1.0 - F.col("u")) + 1e-12), 4)
    )
    rel = noised.withColumn("noise", noise)
    return rel.select(
        "o_orderpriority",
        "o_orderstatus",
        "true_n",
        F.round(F.col("true_n") + F.col("noise"), 4).alias("released_n"),
        F.round(F.abs(F.col("noise")), 4).alias("abs_err"),
        F.round(F.abs(F.col("noise")) / F.col("true_n"), 6).alias("rel_err"),
    )


@register(
    "erasure_cascade_audit",
    ops=("J2", "J9", "A1", "A9"),
    doc="GDPR right-to-erasure cascade audit: the erasure set is the "
    "md5-nibble-0 slice of customers (~1/16, the same stateless "
    "hash-assignment recipe as the A/B split, so the audit is "
    "reproducible), the cascade is customer → orders → lineitem, "
    "and the audit reports per table how many rows the erasure "
    "removes plus the post-erasure ORPHAN count — remnant orders "
    "referencing erased customers and remnant lineitems referencing "
    "erased orders, which must both be zero if the cascade is "
    "complete. Built from semi/anti joins only; the erased-key "
    "frames are corpus-fractions that broadcast at dimension scale "
    "and hash-join at fact scale.",
    oracle="""
WITH erased_c AS (
  SELECT c_custkey FROM customer
  WHERE (instr('0123456789abcdef',
          substring(md5(CAST(c_custkey AS VARCHAR)), 1, 1)) - 1) = 0
),
erased_o AS (
  SELECT o_orderkey FROM orders
  WHERE o_custkey IN (SELECT c_custkey FROM erased_c)
),
stats AS (
  SELECT 'customer' AS tbl,
         (SELECT COUNT(*) FROM erased_c) AS rows_erased,
         (SELECT COUNT(*) FROM customer) AS rows_total,
         0 AS orphans_after
  UNION ALL
  SELECT 'orders',
         (SELECT COUNT(*) FROM erased_o),
         (SELECT COUNT(*) FROM orders),
         (SELECT COUNT(*) FROM orders
          WHERE o_orderkey NOT IN (SELECT o_orderkey FROM erased_o)
            AND o_custkey IN (SELECT c_custkey FROM erased_c))
  UNION ALL
  SELECT 'lineitem',
         (SELECT COUNT(*) FROM lineitem
          WHERE l_orderkey IN (SELECT o_orderkey FROM erased_o)),
         (SELECT COUNT(*) FROM lineitem),
         (SELECT COUNT(*) FROM lineitem
          WHERE l_orderkey NOT IN (SELECT o_orderkey FROM erased_o)
            AND l_orderkey IN (SELECT o_orderkey FROM erased_o))
)
SELECT tbl, rows_erased, rows_total,
       ROUND(CAST(rows_erased AS DOUBLE) / rows_total, 6) AS erased_frac,
       orphans_after
FROM stats
""",
)
def erasure_cascade_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    nib = F.expr(
        "instr('0123456789abcdef',"
        " substring(md5(cast(c_custkey as string)), 1, 1)) - 1"
    )
    erased_c = c.filter(nib == 0).select("c_custkey")
    erased_o = o.join(
        erased_c, o["o_custkey"] == erased_c["c_custkey"], "semi"
    ).select("o_orderkey")

    def _row(tbl, erased_cnt, total_cnt, orphan_cnt):
        return (
            erased_cnt.crossJoin(total_cnt)
            .crossJoin(orphan_cnt)
            .select(
                F.lit(tbl).alias("tbl"),
                F.col("rows_erased"),
                F.col("rows_total"),
                F.round(
                    F.col("rows_erased").cast("double") / F.col("rows_total"),
                    6,
                ).alias("erased_frac"),
                F.col("orphans_after"),
            )
        )

    zero = lambda: (  # noqa: E731
        erased_c.sparkSession.range(1).select(
            F.lit(0).cast("bigint").alias("orphans_after")
        )
    )
    cust_row = _row(
        "customer",
        erased_c.agg(F.count(F.lit(1)).alias("rows_erased")),
        c.agg(F.count(F.lit(1)).alias("rows_total")),
        zero(),
    )
    remnant_o = o.join(erased_o, "o_orderkey", "anti")
    o_orphans = remnant_o.join(
        erased_c, remnant_o["o_custkey"] == erased_c["c_custkey"], "semi"
    ).agg(F.count(F.lit(1)).alias("orphans_after"))
    ord_row = _row(
        "orders",
        erased_o.agg(F.count(F.lit(1)).alias("rows_erased")),
        o.agg(F.count(F.lit(1)).alias("rows_total")),
        o_orphans,
    )
    li_erased = li.join(erased_o, li["l_orderkey"] == erased_o["o_orderkey"], "semi")
    li_remnant = li.join(
        erased_o, li["l_orderkey"] == erased_o["o_orderkey"], "anti"
    )
    li_orphans = li_remnant.join(
        erased_o, li_remnant["l_orderkey"] == erased_o["o_orderkey"], "semi"
    ).agg(F.count(F.lit(1)).alias("orphans_after"))
    li_row = _row(
        "lineitem",
        li_erased.agg(F.count(F.lit(1)).alias("rows_erased")),
        li.agg(F.count(F.lit(1)).alias("rows_total")),
        li_orphans,
    )
    return cust_row.unionByName(ord_row).unionByName(li_row)


#: Ordered sensitive-attribute bins for the t-closeness audit:
#: account-balance bands FLOOR((bal+1000)/1000) ∈ 0..10 on the
#: fixture's [-999.99, 9999.99] range.
_TC_BINS = 11


@register(
    "t_closeness_audit",
    ops=("A5", "W11", "J10", "A9"),
    doc="t-closeness release audit — the third leg of the privacy "
    "trio (k_anonymity_audit, l_diversity_audit): each "
    "quasi-identifier group (market segment) is scored by the Earth "
    "Mover's Distance between its distribution over the ORDERED "
    "sensitive attribute (11 account-balance bands) and the global "
    "distribution; a group that is k-anonymous and l-diverse can "
    "still sit far from the population (skewness attack) — EMD ≤ t "
    "is the gate (Li, Ninghui et al., ICDE 2007). For ordered "
    "categories with unit ground distance, EMD = Σ_k |Σ_{j≤k} "
    "(p_j − q_j)| / (m−1); the inner difference is computed as the "
    "exact integer n_gj·n − n_j·n_g over the common denominator "
    "n_g·n, the cumulative sum and the |·| sum stay in int64, and "
    "the ONLY double op is the final division — bitwise "
    "deterministic. Zero cells enter via the dense segments×bins "
    "grid (a missing bin still moves mass). One aggregate over the "
    "group key + an 11-row window per group; scales as a plain "
    "two-level rollup.",
    oracle=f"""
WITH binned AS (
  SELECT c_mktsegment AS segment,
    CAST(FLOOR((c_acctbal + 1000.0) / 1000.0) AS INTEGER) AS bin
  FROM customer
),
cells AS (
  SELECT segment, bin, COUNT(*) AS n_gj FROM binned GROUP BY 1, 2
),
grid AS (
  SELECT s.segment, t.bin, COALESCE(c.n_gj, 0) AS n_gj
  FROM (SELECT DISTINCT segment FROM cells) s
  CROSS JOIN range(0, {_TC_BINS}) t(bin)
  LEFT JOIN cells c ON c.segment = s.segment AND c.bin = t.bin
),
tot AS (
  SELECT g.segment, g.bin, g.n_gj,
    SUM(g.n_gj) OVER (PARTITION BY g.segment) AS n_g,
    SUM(g.n_gj) OVER (PARTITION BY g.bin) AS n_j,
    SUM(g.n_gj) OVER () AS n
  FROM grid g
),
cum AS (
  SELECT segment, n_g, n,
    SUM(n_gj * n - n_j * n_g)
      OVER (PARTITION BY segment ORDER BY bin) AS cum_diff
  FROM tot
)
SELECT segment,
  CAST(MAX(n_g) AS BIGINT) AS n_group,
  CAST(SUM(ABS(cum_diff)) AS BIGINT) AS emd_numer_int,
  CAST(SUM(ABS(cum_diff)) AS DOUBLE)
    / (CAST(MAX(n_g) AS DOUBLE) * MAX(n) * {_TC_BINS - 1}) AS emd_t,
  CAST(SUM(ABS(cum_diff)) AS DOUBLE)
    / (CAST(MAX(n_g) AS DOUBLE) * MAX(n) * {_TC_BINS - 1}) <= 0.2
    AS meets_t_02
FROM cum GROUP BY segment
""",
)
def t_closeness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    c = table(spark, sf_dir, "customer")
    binned = c.select(
        F.col("c_mktsegment").alias("segment"),
        F.floor((F.col("c_acctbal") + 1000.0) / 1000.0)
        .cast("int")
        .alias("bin"),
    )
    cells = binned.groupBy("segment", "bin").agg(F.count(F.lit(1)).alias("n_gj"))
    segs = cells.select("segment").distinct()
    bins = spark.range(_TC_BINS).select(F.col("id").cast("int").alias("bin"))
    grid = (
        segs.crossJoin(F.broadcast(bins))
        .join(cells, ["segment", "bin"], "left")
        .select("segment", "bin", F.coalesce("n_gj", F.lit(0)).alias("n_gj"))
    )
    tot = grid.select(
        "segment",
        "bin",
        "n_gj",
        F.sum("n_gj").over(Window.partitionBy("segment")).alias("n_g"),
        F.sum("n_gj").over(Window.partitionBy("bin")).alias("n_j"),
        F.sum("n_gj").over(Window.partitionBy()).alias("n"),
    )
    cum = tot.select(
        "segment",
        "n_g",
        "n",
        F.sum(
            F.col("n_gj") * F.col("n") - F.col("n_j") * F.col("n_g")
        )
        .over(
            Window.partitionBy("segment")
            .orderBy("bin")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        .alias("cum_diff"),
    )
    emd = F.sum(F.abs(F.col("cum_diff"))).cast("double") / (
        F.max("n_g").cast("double") * F.max("n") * F.lit(_TC_BINS - 1)
    )
    return cum.groupBy("segment").agg(
        F.max("n_g").cast("bigint").alias("n_group"),
        F.sum(F.abs(F.col("cum_diff"))).cast("bigint").alias("emd_numer_int"),
        emd.alias("emd_t"),
        (emd <= 0.2).alias("meets_t_02"),
    )


@register(
    "js_divergence_sources",
    ops=("A3", "A9", "J5", "J10", "A11"),
    doc="Pairwise Jensen–Shannon divergence between per-source unigram "
    "token distributions — the corpus-curation distance that tells "
    "you which sources are near-duplicates of each other's language "
    "(candidates for mix rebalancing) and which add diversity. "
    "JS(a,b) = ½KL(a‖m) + ½KL(b‖m) with m the midpoint; each "
    "directed KL runs as the source-a term frame LEFT-joined to "
    "source-b counts (absent term → q=0 → ln 2 branch, no outer "
    "join needed), ln goes through the engine-rounded recipe (4 dp) "
    "and per-pair sums are decimal-quantized (8 dp) so the fold "
    "order can't change a bit. Work is |per-source vocab| × "
    "(S−1) ordered pairs — linear in vocabulary, sub-linear in "
    "corpus rows; the source grid is a broadcast.",
    oracle=f"""
WITH tok AS (
  SELECT source, unnest({SQL_TOKENS}) AS term FROM documents
),
cnt AS (SELECT source, term, COUNT(*) AS n FROM tok GROUP BY 1, 2),
tot AS (SELECT source, SUM(n) AS big_n FROM cnt GROUP BY 1),
grid AS (
  SELECT a.source AS sa, a.big_n AS na, b.source AS sb, b.big_n AS nb
  FROM tot a JOIN tot b ON a.source <> b.source
),
terms AS (
  SELECT g.sa, g.sb, g.na, c.n,
    -- L = ln(p/m) in integer tenth-milli-nats; n·L is exact int64,
    -- and p/m = 2·n·nb / (n·nb + q_n·na) is a ratio of exact int64s,
    -- so the only float ops before the final division are one LN and
    -- one ROUND — the engine-rounded transcendental recipe.
    c.n * CAST(ROUND(LN(CAST(2 * c.n * g.nb AS DOUBLE)
                        / (c.n * g.nb + COALESCE(o.n, 0) * g.na))
               * 10000) AS BIGINT) AS term_int,
    CASE WHEN COALESCE(o.n, 0) > 0 THEN 1 ELSE 0 END AS common
  FROM cnt c
  JOIN grid g ON c.source = g.sa
  LEFT JOIN cnt o ON o.source = g.sb AND o.term = c.term
),
dir_kl AS (
  SELECT sa, sb,
    CAST(SUM(term_int) AS DOUBLE) / na / 10000 AS kl,
    SUM(common) AS n_common
  FROM terms GROUP BY sa, sb, na
)
SELECT LEAST(sa, sb) AS source_a,
  GREATEST(sa, sb) AS source_b,
  SUM(kl) / 2 AS js_nats,
  CAST(SUM(n_common) // 2 AS BIGINT) AS n_common_terms
FROM dir_kl GROUP BY 1, 2
""",
)
def js_divergence_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents", spread=True)
    tok = d.select(
        "source", F.explode(F.split(F.trim("text"), r"\s+")).alias("term")
    )
    cnt = tok.groupBy("source", "term").agg(F.count(F.lit(1)).alias("n"))
    tot = cnt.groupBy("source").agg(F.sum("n").alias("big_n"))
    grid = (
        tot.alias("a")
        .join(tot.alias("b"), F.col("a.source") != F.col("b.source"))
        .select(
            F.col("a.source").alias("sa"),
            F.col("a.big_n").alias("na"),
            F.col("b.source").alias("sb"),
            F.col("b.big_n").alias("nb"),
        )
    )
    other = cnt.select(
        F.col("source").alias("sb_o"),
        F.col("term").alias("term_o"),
        F.col("n").alias("n_o"),
    )
    terms = (
        cnt.join(F.broadcast(grid), F.col("source") == F.col("sa"))
        .join(
            other,
            (F.col("sb") == F.col("sb_o")) & (F.col("term") == F.col("term_o")),
            "left",
        )
        .select(
            "sa",
            "sb",
            "na",
            (
                F.col("n")
                * F.round(
                    F.log(
                        (2 * F.col("n") * F.col("nb")).cast("double")
                        / (
                            F.col("n") * F.col("nb")
                            + F.coalesce(F.col("n_o"), F.lit(0)) * F.col("na")
                        )
                    )
                    * 10000
                ).cast("bigint")
            ).alias("term_int"),
            F.when(F.coalesce(F.col("n_o"), F.lit(0)) > 0, 1)
            .otherwise(0)
            .alias("common"),
        )
    )
    dir_kl = terms.groupBy("sa", "sb", "na").agg(
        (F.sum("term_int").cast("double") / F.col("na") / 10000).alias("kl"),
        F.sum("common").alias("n_common"),
    )
    return dir_kl.groupBy(
        F.least("sa", "sb").alias("source_a"),
        F.greatest("sa", "sb").alias("source_b"),
    ).agg(
        (F.sum("kl") / 2).alias("js_nats"),
        F.expr("SUM(n_common) DIV 2").cast("bigint").alias("n_common_terms"),
    )


#: Epoch cap for the token-budget solver, in milli-epochs (1.1 = a
#: source may repeat at most 10% of itself).
MIX_CAP_MILLI = 1100


@register(
    "token_budget_mix_solver",
    ops=("A3", "A9", "A12", "P5", "J10"),
    doc="Token-budget allocation under repetition caps (the "
    "data-constrained-scaling planning step, cf. Muennighoff et al. "
    "2023): a training budget of B = one corpus-epoch of tokens is "
    "split uniformly across sources, but no source may contribute "
    "more than 1.1 epochs of itself; round 1 caps the binding "
    "sources, round 2 waterfills the freed budget equally across "
    "the uncapped ones (re-capping where the refill overflows). "
    "Every cross-source reduction (freed budget, uncapped count, "
    "final allocation) folds over a source-sorted array so the "
    "double sums are order-pinned; per-source arithmetic is int64 "
    "counts and correctly-rounded divisions. One token-count "
    "aggregate per source; everything after runs on the S-row "
    "source frame.",
    oracle=f"""
WITH t AS (
  SELECT source, SUM(len({SQL_TOKENS})) AS toks
  FROM documents GROUP BY 1
),
g AS (
  SELECT SUM(toks) AS b, COUNT(*) AS s FROM t
),
r1 AS (
  SELECT t.source, t.toks, g.b, g.s,
    t.toks * ({MIX_CAP_MILLI} / 1000.0) AS cap,
    CAST(g.b AS DOUBLE) / g.s AS want,
    CAST(g.b AS DOUBLE) / g.s > t.toks * ({MIX_CAP_MILLI} / 1000.0) AS capped
  FROM t, g
),
freed AS (
  SELECT
    list_reduce(list(CASE WHEN capped THEN want - cap ELSE 0.0 END
                     ORDER BY source), (x, y) -> x + y) AS freed,
    SUM(CASE WHEN capped THEN 0 ELSE 1 END) AS n_uncapped
  FROM r1
),
r2 AS (
  SELECT r1.source, r1.toks, r1.b, r1.cap, r1.want, r1.capped,
    CASE WHEN r1.capped THEN r1.cap
         ELSE LEAST(r1.cap, r1.want + f.freed / f.n_uncapped) END AS final
  FROM r1, freed f
),
leftover AS (
  SELECT list_reduce(list(final ORDER BY source), (x, y) -> x + y) AS alloc
  FROM r2
)
SELECT r2.source,
  CAST(r2.toks AS BIGINT) AS tokens,
  r2.cap AS cap_tokens,
  LEAST(r2.want, r2.cap) AS alloc_r1,
  r2.capped,
  r2.final AS alloc_final,
  r2.final / r2.toks AS epochs_final,
  r2.final / r2.b AS final_share,
  r2.b - l.alloc AS unallocated_tokens
FROM r2, leftover l
""",
)
def token_budget_mix_solver(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents", spread=True)
    t = d.groupBy("source").agg(
        F.sum(F.size(F.split(F.trim("text"), r"\s+"))).alias("toks")
    )
    g = t.agg(F.sum("toks").alias("b"), F.count(F.lit(1)).alias("s"))
    cap = F.col("toks") * (MIX_CAP_MILLI / 1000.0)
    want = F.col("b").cast("double") / F.col("s")
    r1 = t.crossJoin(F.broadcast(g)).select(
        "source",
        "toks",
        "b",
        "s",
        cap.alias("cap"),
        want.alias("want"),
        (want > cap).alias("capped"),
    )

    def _fold(col):
        return F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct("source", col.alias("v")))),
                lambda s: s["v"],
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    freed = r1.agg(
        _fold(
            F.when(F.col("capped"), F.col("want") - F.col("cap")).otherwise(
                F.lit(0.0)
            )
        ).alias("freed"),
        F.sum(F.when(F.col("capped"), 0).otherwise(1)).alias("n_uncapped"),
    )
    r2 = r1.crossJoin(F.broadcast(freed)).select(
        "source",
        "toks",
        "b",
        "cap",
        "want",
        "capped",
        F.when(F.col("capped"), F.col("cap"))
        .otherwise(
            F.least(
                F.col("cap"),
                F.col("want") + F.col("freed") / F.col("n_uncapped"),
            )
        )
        .alias("final"),
    )
    leftover = r2.agg(_fold(F.col("final")).alias("alloc"))
    return r2.crossJoin(F.broadcast(leftover)).select(
        "source",
        F.col("toks").cast("bigint").alias("tokens"),
        F.col("cap").alias("cap_tokens"),
        F.least("want", "cap").alias("alloc_r1"),
        "capped",
        F.col("final").alias("alloc_final"),
        (F.col("final") / F.col("toks")).alias("epochs_final"),
        (F.col("final") / F.col("b")).alias("final_share"),
        (F.col("b") - F.col("alloc")).alias("unallocated_tokens"),
    )


#: Exponential-mechanism DP median: ε, candidate bins.
DPQ_EPSILON = 1.0
DPQ_BINS = 32


def _dpq_u24(expr: str) -> str:
    """24-bit md5 uniform in (0,1] — identical spelling both engines
    (the +1 keeps the Gumbel's inner ln away from ln(0))."""
    digits = " + ".join(
        f"(instr('0123456789abcdef', substring(md5({expr}), {i + 1}, 1)) - 1)"
        f" * {16 ** (5 - i)}"
        for i in range(6)
    )
    return f"(CAST(({digits}) + 1 AS DOUBLE) / 16777216)"


@register(
    "dp_quantile_exponential",
    ops=("A1", "W11", "A9", "O1"),
    doc="Differentially-private median via the EXPONENTIAL MECHANISM "
    "(McSherry & Talwar 2007) — the selection-query release "
    "completing the privacy suite beside the Laplace counts and the "
    "k-anon/l-div/t-closeness audits: candidate outputs are 32 "
    "histogram bin edges, utility −|2·count_below − n| (exact "
    "int64, sensitivity 2), and the draw uses the Gumbel-max trick "
    "with keyed-hash uniforms (deterministic seeded release — "
    "re-running does not spend fresh ε) and the engine-rounded ln "
    "recipe. Reports the chosen edge beside the exact-best edge "
    "and the utility loss — the privacy/accuracy audit row. One "
    "fact histogram + prefix sums over 32 bins.",
    oracle=f"""
WITH lab AS (SELECT o_totalprice AS x FROM orders),
b AS (SELECT MIN(x) AS lo, GREATEST(MAX(x) - MIN(x), 1e-9) AS width FROM lab),
binned AS (
  SELECT LEAST(CAST(FLOOR((l.x - b.lo) * {DPQ_BINS} / b.width) AS BIGINT),
               {DPQ_BINS - 1}) AS bin
  FROM lab l, b
),
hist AS (SELECT bin, COUNT(*) AS n FROM binned GROUP BY 1),
pre AS (
  SELECT bin, SUM(n) OVER (ORDER BY bin) AS cb, SUM(n) OVER () AS n_all
  FROM hist
),
scored AS (
  SELECT bin, cb, n_all,
    abs(2 * cb - n_all) AS err2,
    -- ε·u/(2Δu) with u = −err2/2, Δu = 1 → −ε·err2/4, plus Gumbel.
    -{DPQ_EPSILON} * abs(2 * cb - n_all) / 4.0
      + (-ROUND(LN(-ROUND(LN({_dpq_u24("'dpq:' || cast(bin as string)")}), 4)), 4))
      AS gumbel_score
  FROM pre
),
pick AS (
  SELECT bin, err2,
    ROW_NUMBER() OVER (ORDER BY gumbel_score DESC, bin) AS r
  FROM scored
),
best AS (SELECT MIN(err2) AS best_err2 FROM scored)
SELECT p.bin AS chosen_bin,
  bb.lo + (p.bin + 1) * bb.width / {DPQ_BINS} AS chosen_edge,
  CAST(p.err2 AS BIGINT) AS chosen_err2,
  CAST(be.best_err2 AS BIGINT) AS best_err2,
  CAST(p.err2 - be.best_err2 AS BIGINT) AS utility_loss2
FROM pick p, best be, b bb
WHERE p.r = 1
""",
)
def dp_quantile_exponential(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders", spread=True)
    lab = o.select(F.col("o_totalprice").alias("x"))
    b = lab.agg(
        F.min("x").alias("lo"),
        F.greatest(F.max("x") - F.min("x"), F.lit(1e-9)).alias("width"),
    )
    binned = lab.crossJoin(F.broadcast(b)).select(
        F.least(
            F.floor((F.col("x") - F.col("lo")) * DPQ_BINS / F.col("width"))
            .cast("bigint"),
            F.lit(DPQ_BINS - 1).cast("bigint"),
        ).alias("bin")
    )
    hist = binned.groupBy("bin").agg(F.count(F.lit(1)).alias("n"))
    wcum = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.orderBy(F.lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    pre = hist.select(
        "bin",
        F.sum("n").over(wcum).alias("cb"),
        F.sum("n").over(wall).alias("n_all"),
    )
    err2 = F.abs(2 * F.col("cb") - F.col("n_all"))
    gumbel = -F.round(
        F.log(-F.round(F.log(F.expr(_dpq_u24("'dpq:' || cast(bin as string)"))), 4)),
        4,
    )
    scored = pre.select(
        "bin",
        err2.alias("err2"),
        (F.lit(-DPQ_EPSILON) * err2 / 4.0 + gumbel).alias("gumbel_score"),
    )
    pick = scored.withColumn(
        "r", F.row_number().over(Window.orderBy(F.col("gumbel_score").desc(), "bin"))
    ).filter(F.col("r") == 1)
    best = scored.agg(F.min("err2").alias("best_err2"))
    return (
        pick.crossJoin(F.broadcast(best))
        .crossJoin(F.broadcast(b))
        .select(
            F.col("bin").alias("chosen_bin"),
            (
                F.col("lo") + (F.col("bin") + 1) * F.col("width") / DPQ_BINS
            ).alias("chosen_edge"),
            F.col("err2").cast("bigint").alias("chosen_err2"),
            F.col("best_err2").cast("bigint").alias("best_err2"),
            (F.col("err2") - F.col("best_err2"))
            .cast("bigint")
            .alias("utility_loss2"),
        )
    )


#: Survivorship entity key: shorter than the sorted-neighborhood key
#: (16 normalized chars) so clusters actually merge several records.
_SURV_KEY_LEN = 16


@register(
    "survivorship_merge",
    ops=("W4", "A1", "A2", "J1"),
    doc="MDM survivorship (golden-record) merge: documents are "
    "clustered by a normalized entity key (first 16 chars of the "
    "lowercased alphanumeric collapse) and each multi-member "
    "cluster is resolved FIELD BY FIELD — canonical id = min "
    "doc_id (the keep-first rule, ref load_gtfs_data.py:151 "
    "ON CONFLICT), longest-text representative via per-cluster "
    "rank (n_chars desc, doc_id tiebreak), modal language via "
    "count-then-rank (count desc, lang asc — deterministic mode, "
    "dropDuplicates would be arbitrary). Complements dedup_keep_"
    "best (which picks ONE row): survivorship composes the best "
    "VALUE per field across the cluster, the standard MDM merge "
    "rule set. Every shuffle and window is keyed by the entity "
    "key — partition-parallel at any scale; integer/string "
    "outputs only, no float surface.",
    oracle=f"""
WITH keyed AS (
  SELECT doc_id, lang, n_chars,
    substr(regexp_replace(lower(trim(text)), '[^a-z0-9]', '', 'g'),
           1, {_SURV_KEY_LEN}) AS entity_key
  FROM documents
),
clusters AS (
  SELECT entity_key,
    COUNT(*) AS n_members,
    MIN(doc_id) AS canonical_doc_id,
    COUNT(DISTINCT lang) AS n_distinct_langs
  FROM keyed GROUP BY 1
  HAVING COUNT(*) >= 2
),
longest AS (
  SELECT entity_key, doc_id AS longest_doc_id, n_chars AS longest_n_chars
  FROM (
    SELECT *, ROW_NUMBER() OVER (
        PARTITION BY entity_key ORDER BY n_chars DESC, doc_id) AS rk
    FROM keyed
  ) WHERE rk = 1
),
modal AS (
  SELECT entity_key, lang AS modal_lang, c AS lang_support
  FROM (
    SELECT entity_key, lang, COUNT(*) AS c,
      ROW_NUMBER() OVER (
        PARTITION BY entity_key ORDER BY COUNT(*) DESC, lang) AS rk
    FROM keyed GROUP BY 1, 2
  ) WHERE rk = 1
)
SELECT c.entity_key,
  CAST(c.n_members AS BIGINT) AS n_members,
  c.canonical_doc_id,
  CAST(c.n_distinct_langs AS BIGINT) AS n_distinct_langs,
  l.longest_doc_id,
  CAST(l.longest_n_chars AS BIGINT) AS longest_n_chars,
  m.modal_lang,
  CAST(m.lang_support AS BIGINT) AS lang_support
FROM clusters c
JOIN longest l ON c.entity_key = l.entity_key
JOIN modal m ON c.entity_key = m.entity_key
""",
)
def survivorship_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents", spread=True)
    keyed = d.select(
        "doc_id",
        "lang",
        "n_chars",
        F.substring(
            F.regexp_replace(F.lower(F.trim(F.col("text"))), "[^a-z0-9]", ""),
            1,
            _SURV_KEY_LEN,
        ).alias("entity_key"),
    )
    clusters = (
        keyed.groupBy("entity_key")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.min("doc_id").alias("canonical_doc_id"),
            F.countDistinct("lang").alias("n_distinct_langs"),
        )
        .filter(F.col("n_members") >= 2)
    )
    wlong = Window.partitionBy("entity_key").orderBy(
        F.col("n_chars").desc(), "doc_id"
    )
    longest = (
        keyed.withColumn("rk", F.row_number().over(wlong))
        .filter(F.col("rk") == 1)
        .select(
            F.col("entity_key").alias("lk"),
            F.col("doc_id").alias("longest_doc_id"),
            F.col("n_chars").alias("longest_n_chars"),
        )
    )
    wmod = Window.partitionBy("entity_key").orderBy(
        F.col("c").desc(), "lang"
    )
    modal = (
        keyed.groupBy("entity_key", "lang")
        .agg(F.count(F.lit(1)).alias("c"))
        .withColumn("rk", F.row_number().over(wmod))
        .filter(F.col("rk") == 1)
        .select(
            F.col("entity_key").alias("mk"),
            F.col("lang").alias("modal_lang"),
            F.col("c").alias("lang_support"),
        )
    )
    return (
        clusters.join(longest, F.col("entity_key") == F.col("lk"))
        .join(modal, F.col("entity_key") == F.col("mk"))
        .select(
            "entity_key",
            F.col("n_members").cast("bigint").alias("n_members"),
            "canonical_doc_id",
            F.col("n_distinct_langs").cast("bigint").alias("n_distinct_langs"),
            "longest_doc_id",
            F.col("longest_n_chars").cast("bigint").alias("longest_n_chars"),
            "modal_lang",
            F.col("lang_support").cast("bigint").alias("lang_support"),
        )
    )
