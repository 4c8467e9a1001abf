"""Embedding clustering for training-data curation.

Extension surface (BASELINE.json LLM-pipeline north star): cluster the
embedding space (k-means) and draw a cluster-balanced subsample — the
standard recipe for diversity-preserving corpus downsampling (cf. DoReMi /
SemDeDup-style pipelines: cluster, then cap per cluster).

Determinism contract (everything here is hash-checked against DuckDB):
- centroids initialize from the k smallest ``vec_id`` embeddings (data-driven
  but order-free);
- one Lloyd update runs with per-dimension means ROUNDED to 6 decimals on
  both engines, absorbing distributed-summation-order wobble (same contract
  as every float aggregate in this repo);
- distances are left-to-right folds over the array (``F.aggregate`` /
  ``list_sum(list_transform(...))``) rounded to 6 decimals, tie-broken by
  centroid id.

Scale shape: centroids are k×d literals-after-aggregation — always broadcast;
assignment is an embarrassingly-parallel map over the corpus; the centroid
update is ONE shuffle keyed (cluster, dim). A production loop would iterate
assignment+update with ``localCheckpoint`` per round exactly like
``dedup_cluster_components``; the registered query fixes iterations at 1 so
the oracle can mirror it as SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from feature_datalake_sl_mandic_spark.functions.hashing import md5_int60_col, md5_int60_sql
from feature_datalake_sl_mandic_spark.operators.relational import _t
from feature_datalake_sl_mandic_spark.registry import register

DIM = 64
K = 8
SAMPLE_PER_CLUSTER = 10


def _dist2(a: str, b: str):
    return F.round(
        F.aggregate(
            F.zip_with(F.col(a), F.col(b), lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ),
        6,
    )


def _assign(e: DataFrame, centroids: DataFrame, out: str) -> DataFrame:
    """Nearest-centroid assignment: broadcast centroids, argmin by
    (dist2, cid) — ties break toward the smaller cluster id.

    The argmin is a struct-min groupBy, not a row_number window (round 6):
    identical row (the lexicographic (dist2, cid) prefix decides before
    the carried emb is ever compared, and cid is unique per vec_id), but
    partial aggregation collapses the N x K distance rows to N map-side
    before any shuffle — the window form moved all N x K rows and
    buffered each vec's K candidates in WindowExec."""
    d = e.crossJoin(F.broadcast(centroids)).withColumn("dist2", _dist2("emb", "cemb"))
    best = F.min(F.struct("dist2", "cid", "emb")).alias("b")
    return d.groupBy("vec_id").agg(best).select(
        "vec_id",
        F.col("b.emb").alias("emb"),
        F.col("b.cid").alias(out),
        F.col("b.dist2").alias("dist2"),
    )


def _final_assignments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """init assign -> one Lloyd centroid update -> reassign.

    Non-finite vectors are excluded BEFORE seeding: one NaN entry in a seed
    (vec_id < K draws from this relation) silently poisons a whole
    centroid's means (round-7 NaN/Inf lake probe). The zero vector stays —
    squared distance is well-defined for it."""
    from feature_datalake_sl_mandic_spark.operators.similarity import _finite_rows

    (em,) = _t(spark, sf_dir, "embeddings")
    e = _finite_rows(em).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    c0 = e.where(F.col("vec_id") < K).select(
        F.col("vec_id").alias("cid"), F.col("emb").alias("cemb")
    )
    # a0 feeds BOTH the centroid update and the final join — checkpoint so
    # the broadcast-distance argmin runs once (the per-iteration
    # materialization a production Lloyd loop does anyway).
    a0 = _assign(e, c0, "cluster_init").localCheckpoint()

    # Lloyd update: per-(cluster, dim) mean, rounded for engine parity; one
    # shuffle keyed (cluster, pos) then a tiny k-row aggregate.
    exploded = a0.select("cluster_init", F.posexplode("emb").alias("pos", "v"))
    means = exploded.groupBy("cluster_init", "pos").agg(
        F.round(F.avg("v"), 6).alias("cv")
    )
    c1 = (
        means.groupBy(F.col("cluster_init").alias("cid"))
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "cv"))), lambda s: s["cv"]
            ).alias("cemb")
        )
    )
    a1 = _assign(e, c1, "cluster_final").withColumnRenamed("dist2", "dist2_final")
    return a0.select("vec_id", "cluster_init").join(a1, on="vec_id")


# Shared oracle CTE chain mirroring _final_assignments.
_ASSIGN_CTES = f"""
    e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS emb
          FROM embeddings
          WHERE isfinite(list_sum(list_transform(embedding,
                                                 x -> x::DOUBLE * x::DOUBLE)))),
    c0 AS (SELECT vec_id AS cid, emb AS cemb FROM e WHERE vec_id < {K}),
    d0 AS (SELECT e.vec_id, c0.cid,
                  round(list_sum(list_transform(range(1, {DIM + 1}),
                        i -> (e.emb[i] - c0.cemb[i]) * (e.emb[i] - c0.cemb[i]))), 6) AS dist2
           FROM e CROSS JOIN c0),
    a0 AS (SELECT vec_id, cid AS cluster_init FROM
             (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist2, cid) AS rn
              FROM d0) WHERE rn = 1),
    m AS (SELECT a0.cluster_init AS cid, t.i AS pos, round(avg(e.emb[t.i]), 6) AS cv
          FROM e JOIN a0 USING (vec_id) CROSS JOIN range(1, {DIM + 1}) t(i)
          GROUP BY 1, 2),
    c1 AS (SELECT cid, list(cv ORDER BY pos) AS cemb FROM m GROUP BY cid),
    d1 AS (SELECT e.vec_id, c1.cid,
                  round(list_sum(list_transform(range(1, {DIM + 1}),
                        i -> (e.emb[i] - c1.cemb[i]) * (e.emb[i] - c1.cemb[i]))), 6) AS dist2
           FROM e CROSS JOIN c1),
    a1 AS (SELECT vec_id, cid AS cluster_final, dist2 AS dist2_final FROM
             (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist2, cid) AS rn
              FROM d1) WHERE rn = 1)
"""


@register(
    "kmeans_lloyd_embeddings",
    oracle=f"""
    WITH {_ASSIGN_CTES}
    SELECT a0.vec_id,
           CAST(a0.cluster_init AS BIGINT) AS cluster_init,
           CAST(a1.cluster_final AS BIGINT) AS cluster_final,
           a1.dist2_final
    FROM a0 JOIN a1 USING (vec_id)
    ORDER BY vec_id
    """,
    tags=("clustering", "kmeans", "embeddings", "broadcast-join"),
)
def kmeans_lloyd_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-means (k=8) over the embedding corpus: deterministic init from the
    smallest vec_ids, one exact Lloyd update, reassignment. Per-vector
    output proves both the assignment argmin and the centroid recompute."""
    a = _final_assignments(spark, sf_dir)
    return a.select(
        "vec_id",
        F.col("cluster_init").cast("bigint").alias("cluster_init"),
        F.col("cluster_final").cast("bigint").alias("cluster_final"),
        "dist2_final",
    ).orderBy("vec_id")


@register(
    "kmeans_balanced_sample",
    oracle=f"""
    WITH {_ASSIGN_CTES},
    keyed AS (
      SELECT vec_id, cluster_final,
             row_number() OVER (PARTITION BY cluster_final
                                ORDER BY {md5_int60_sql("CAST(vec_id AS VARCHAR)")}, vec_id)
               AS sample_rank
      FROM a1
    )
    SELECT CAST(cluster_final AS BIGINT) AS cluster_final, vec_id,
           CAST(sample_rank AS BIGINT) AS sample_rank
    FROM keyed WHERE sample_rank <= {SAMPLE_PER_CLUSTER}
    ORDER BY cluster_final, sample_rank
    """,
    tags=("clustering", "sampling", "curation", "embeddings"),
)
def kmeans_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-balanced subsample: cap each k-means cluster at 10 vectors
    chosen by stable md5 order — diversity-preserving corpus downsampling
    (the per-cluster cap pattern of SemDeDup-style curation). Selection is
    ``grouped_topk`` per cluster: its per-partition ``WindowGroupLimit``
    keeps the top 10 of each cluster before the shuffle, so the final
    window on the 64-value cluster id sees partitions * 10 rows per
    cluster, not the corpus."""
    from feature_datalake_sl_mandic_spark.functions.ranking import grouped_topk

    a = _final_assignments(spark, sf_dir).withColumn(
        "_h", md5_int60_col(F.col("vec_id").cast("string"))
    )
    return (
        grouped_topk(
            a,
            ["cluster_final"],
            [("_h", "asc"), ("vec_id", "asc")],
            SAMPLE_PER_CLUSTER,
            rank_col="sample_rank",
        )
        .select(
            F.col("cluster_final").cast("bigint").alias("cluster_final"),
            "vec_id",
            "sample_rank",
        )
        .orderBy("cluster_final", "sample_rank")
    )


@register(
    "embedding_standardize_dims",
    oracle=f"""
    WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS emb
               FROM embeddings
               WHERE isfinite(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE)))),
    long AS (
      SELECT vec_id, t.i - 1 AS pos, emb[t.i] AS v
      FROM e CROSS JOIN range(1, {DIM + 1}) t(i)
    ), stats AS (
      SELECT pos, round(avg(v), 6) AS mu, round(stddev_samp(v), 6) AS sigma
      FROM long GROUP BY pos
    )
    SELECT l.vec_id, CAST(l.pos AS BIGINT) AS pos,
           round((l.v - s.mu) / s.sigma, 6) AS z
    FROM long l JOIN stats s USING (pos)
    WHERE l.vec_id < 20
    ORDER BY vec_id, pos
    """,
    tags=("feature-engineering", "standardize", "embeddings", "groupby-agg"),
)
def embedding_standardize_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension z-score standardization of the embedding corpus — the
    feature-scaling pass upstream of distance-based ops (k-means, kNN),
    where unscaled dimensions dominate the metric. Shape: posexplode to
    (row, dim) long format, ONE shuffle keyed dim for the d-row stats table
    (broadcast back), pure projection after that. Stats are rounded to 6
    for the distributed-sum parity contract; output long-format (array
    columns crash the driver canonicalizer)."""
    from feature_datalake_sl_mandic_spark.operators.similarity import _finite_rows

    (em,) = _t(spark, sf_dir, "embeddings")
    # one NaN entry would poison its whole dimension's (mu, sigma); the
    # zero vector is legitimate input here (round-7 NaN/Inf lake probe)
    long = _finite_rows(em).select(
        "vec_id",
        F.posexplode(F.col("embedding").cast("array<double>")).alias("pos", "v"),
    )
    stats = long.groupBy("pos").agg(
        F.round(F.avg("v"), 6).alias("mu"),
        F.round(F.stddev_samp("v"), 6).alias("sigma"),
    )
    return (
        long.join(F.broadcast(stats), on="pos")
        .where(F.col("vec_id") < 20)
        .select(
            "vec_id",
            F.col("pos").cast("bigint").alias("pos"),
            F.round((F.col("v") - F.col("mu")) / F.col("sigma"), 6).alias("z"),
        )
        .orderBy("vec_id", "pos")
    )


SEMDEDUP_THRESHOLD = 0.35  # same near-dup constant as dedup_embedding_cosine

_COS_AB_SQL = (
    "list_sum(list_transform(range(1, 65), i -> ea.emb[i] * eb.emb[i]))"
    " / (sqrt(list_sum(list_transform(range(1, 65), i -> ea.emb[i] * ea.emb[i])))"
    " * sqrt(list_sum(list_transform(range(1, 65), i -> eb.emb[i] * eb.emb[i]))))"
)


@register(
    "semdedup_cluster_cosine",
    oracle=f"""
    WITH {_ASSIGN_CTES}
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           CAST(a.cluster_final AS BIGINT) AS cluster_final,
           round({_COS_AB_SQL}, 6) AS cosine
    FROM a1 a JOIN a1 b
      ON a.cluster_final = b.cluster_final AND a.vec_id < b.vec_id
    JOIN e ea ON ea.vec_id = a.vec_id
    JOIN e eb ON eb.vec_id = b.vec_id
    WHERE {_COS_AB_SQL} >= {SEMDEDUP_THRESHOLD}
      AND list_sum(list_transform(ea.emb, v -> v * v)) > 0
      AND list_sum(list_transform(eb.emb, v -> v * v)) > 0
    ORDER BY vec_a, vec_b
    """,
    tags=("dedup", "clustering", "semdedup", "embeddings"),
)
def semdedup_cluster_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic near-dup pairs: k-means clusters as the
    blocking key, exact cosine only WITHIN a cluster. This is the scale
    answer to ``dedup_embedding_cosine``'s label-blocked join (the label is
    a fixture convenience; the learned cluster is what a real corpus has):
    pairwise work drops from O(n^2) to sum over clusters of O(|c|^2), and
    each cluster's pair join is an equi-join Catalyst hash-partitions by
    cluster id. The assignment relation is localCheckpoint'd once and reused
    for both sides of the self-join — without it each side replays the whole
    Lloyd chain (broadcast-assign, centroid update, reassign) from parquet.

    Round 11 (guide §4.2): the per-pair cosine runs through
    ``pair_cosine_filtered`` — the JVM join still generates the candidate
    pairs (spill-safe, no corpus-scale broadcast), but the 64-term dot no
    longer evaluates as an interpreted per-pair HOF fold; whole Arrow
    batches cross the boundary once and numpy accumulates dimension-by-
    dimension in the fold's exact float order, so output is bit-identical
    (oracle + degenerate-lake gates unchanged). Measured 6.55 -> 3.45 s
    noop-min at sf0.1 (the registry's most expensive plan); component
    isolation: pair join alone 0.12 s, the fold WAS the other ~6.4 s.

    The O(|c|^2) argument requires k to GROW with the corpus (the paper's
    setting: k ~ n / target cluster size, so |c| stays bounded); k is
    pinned here so the oracle's Lloyd trajectory is deterministic, which
    means replica inflation grows |c| linearly and the pair work
    quadratically by construction — measured and allowlisted in
    scale_probe.py (SCALE_ALLOW), not a plan defect."""
    from feature_datalake_sl_mandic_spark.operators.similarity import (
        _dot as dot,
        pair_cosine_filtered,
    )

    # clustering keeps the zero vector (distance is defined for it); the
    # cosine PAIR stage excludes it — undefined direction, both engines
    a1 = (
        _final_assignments(spark, sf_dir)
        .select("vec_id", "cluster_final", "emb")
        .withColumn("norm", F.sqrt(dot("emb", "emb")))
        .where(F.col("norm") > 0)
        .localCheckpoint()
    )
    a = a1.alias("a")
    b = a1.alias("b")
    pairs = a.join(
        b,
        (F.col("a.cluster_final") == F.col("b.cluster_final"))
        & (F.col("a.vec_id") < F.col("b.vec_id")),
    ).select(
        F.col("a.vec_id").alias("vec_a"),
        F.col("b.vec_id").alias("vec_b"),
        F.col("a.cluster_final").cast("bigint").alias("cluster_final"),
        F.col("a.emb").alias("ea"),
        F.col("b.emb").alias("eb"),
        (F.col("a.norm") * F.col("b.norm")).alias("nn"),
    )
    return (
        pair_cosine_filtered(pairs, SEMDEDUP_THRESHOLD)
        .select(
            "vec_a",
            "vec_b",
            "cluster_final",
            F.round("cos_raw", 6).alias("cosine"),
        )
        .orderBy("vec_a", "vec_b")
    )


SEMDEDUP_TARGET_CLUSTER_SIZE = 32  # expected pair-block occupancy

_SCALED_COS_SQL = (
    "list_sum(list_transform(range(1, 65), i -> a.emb[i] * b.emb[i]))"
    " / (a.norm * b.norm)"
)


@register(
    "semdedup_scaled_k_pairs",
    oracle=f"""
    WITH {_ASSIGN_CTES},
    nzv AS (
      SELECT a1.vec_id, a1.cluster_final, e.emb,
             sqrt(list_sum(list_transform(e.emb, v -> v * v))) AS norm
      FROM a1 JOIN e USING (vec_id)
      WHERE list_sum(list_transform(e.emb, v -> v * v)) > 0
    ),
    cnt AS (SELECT cluster_final, count(*) AS n_c FROM nzv GROUP BY 1),
    sub AS (
      SELECT v.vec_id, v.cluster_final, v.emb, v.norm,
             {md5_int60_sql("CAST(v.vec_id AS VARCHAR)")}
               % CAST(ceil(c.n_c / {SEMDEDUP_TARGET_CLUSTER_SIZE}.0) AS BIGINT)
               AS sub_id
      FROM nzv v JOIN cnt c USING (cluster_final)
    )
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           CAST(a.cluster_final AS BIGINT) AS cluster_final,
           CAST(a.sub_id AS BIGINT) AS sub_id,
           round({_SCALED_COS_SQL}, 6) AS cosine
    FROM sub a JOIN sub b
      ON a.cluster_final = b.cluster_final AND a.sub_id = b.sub_id
     AND a.vec_id < b.vec_id
    WHERE {_SCALED_COS_SQL} >= {SEMDEDUP_THRESHOLD}
    ORDER BY vec_a, vec_b
    """,
    tags=("dedup", "clustering", "semdedup", "embeddings", "scaled-k"),
)
def semdedup_scaled_k_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup with corpus-scaled k — the production setting of
    ``semdedup_cluster_cosine``, registered so the linear-scale claim is
    measured, not argued (round-7 verdict ask #3).

    k scales with the corpus: each coarse Lloyd cluster (the fixed-K
    geometric stage, shared with the pinned-k query) is hash-split into
    ``ceil(n_c / TARGET)`` sub-buckets, so the effective cluster count is
    ~n / TARGET and expected pair-block occupancy stays ~TARGET at ANY
    corpus size — replica inflation grows the number of blocks, never the
    block size, which is exactly how SemDeDup-style pipelines cap oversized
    clusters in production. Every stage is linear: the coarse assignment
    broadcasts a FIXED K x d centroid table (O(n*K*d)); the occupancy
    counts are one K-row aggregate broadcast back; the sub-split is a
    stateless md5 over vec_id (seeded, engine-portable, no window — a rank
    window partitioned by 8 cluster ids is the exact fact-scale anti-
    pattern the plan probe bans); the pair stage is an equi-join on
    (cluster, sub) with ~n/TARGET keys. Trade-off vs the pinned-k query:
    recall within a coarse cluster drops to ~TARGET/n_c (pairs split
    across sub-buckets are not compared) — the same accept-bounded-recall
    deal as LSH banding, documented rather than hidden. No SCALE_ALLOW
    entry: the 10x full-registry probe gates this plan like any other.

    Round 11: the per-pair cosine runs through ``pair_cosine_filtered``
    (see ``semdedup_cluster_cosine``) — bit-identical output, the
    interpreted per-pair HOF fold replaced by batch-vectorized numpy.
    Measured flat at sf0.1 (2.03 -> 2.10 noop-min: the fixed
    Python-worker cost offsets the fold saving at ~32k pairs); kept
    because pair volume grows with the corpus while the boundary cost
    is per-task-constant — the 10x scale probe measures the win."""
    from feature_datalake_sl_mandic_spark.operators.similarity import (
        _dot as dot,
        pair_cosine_filtered,
    )

    nzv = (
        _final_assignments(spark, sf_dir)
        .select("vec_id", "cluster_final", "emb")
        .withColumn("norm", F.sqrt(dot("emb", "emb")))
        .where(F.col("norm") > 0)
    )
    cnt = nzv.groupBy("cluster_final").agg(F.count(F.lit(1)).alias("n_c"))
    m = F.ceil(F.col("n_c") / F.lit(float(SEMDEDUP_TARGET_CLUSTER_SIZE)))
    # checkpointed: both sides of the self-join reuse the materialized
    # sub-bucketed relation instead of replaying the Lloyd chain twice
    sub = (
        nzv.join(F.broadcast(cnt), on="cluster_final")
        .withColumn(
            "sub_id", md5_int60_col(F.col("vec_id").cast("string")) % m
        )
        .select("vec_id", "cluster_final", "sub_id", "emb", "norm")
        .localCheckpoint()
    )
    a, b = sub.alias("a"), sub.alias("b")
    pairs = a.join(
        b,
        (F.col("a.cluster_final") == F.col("b.cluster_final"))
        & (F.col("a.sub_id") == F.col("b.sub_id"))
        & (F.col("a.vec_id") < F.col("b.vec_id")),
    ).select(
        F.col("a.vec_id").alias("vec_a"),
        F.col("b.vec_id").alias("vec_b"),
        F.col("a.cluster_final").cast("bigint").alias("cluster_final"),
        F.col("a.sub_id").cast("bigint").alias("sub_id"),
        F.col("a.emb").alias("ea"),
        F.col("b.emb").alias("eb"),
        (F.col("a.norm") * F.col("b.norm")).alias("nn"),
    )
    return (
        pair_cosine_filtered(pairs, SEMDEDUP_THRESHOLD)
        .select(
            "vec_a",
            "vec_b",
            "cluster_final",
            "sub_id",
            F.round("cos_raw", 6).alias("cosine"),
        )
        .orderBy("vec_a", "vec_b")
    )


@register(
    "drift_embedding_centroid_shift",
    oracle=f"""
    WITH e AS (SELECT vec_id, label, vec_id % 2 AS half,
                      list_transform(embedding, x -> x::DOUBLE) AS emb
               FROM embeddings
               WHERE isfinite(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE)))),
    long AS (
      SELECT label, half, t.i - 1 AS pos, emb[t.i] AS v
      FROM e CROSS JOIN range(1, {DIM + 1}) t(i)
    ),
    cent AS MATERIALIZED (
      SELECT label, half, pos, round(avg(v), 6) AS c, count(*) AS n
      FROM long GROUP BY 1, 2, 3
    ),
    paired AS (
      SELECT a.label, a.pos, a.c AS c0, b.c AS c1,
             a.n AS n0, b.n AS n1
      FROM cent a JOIN cent b
        ON a.label = b.label AND a.pos = b.pos AND a.half = 0 AND b.half = 1
    )
    SELECT label,
           CAST(max(n0) AS BIGINT) AS n_half0,
           CAST(max(n1) AS BIGINT) AS n_half1,
           round(sum(c0 * c1) / (sqrt(sum(c0 * c0)) * sqrt(sum(c1 * c1))), 6)
             AS centroid_cosine,
           round(sqrt(sum((c0 - c1) * (c0 - c1))), 6) AS l2_shift
    FROM paired
    GROUP BY label
    ORDER BY label
    """,
    tags=("embeddings", "drift", "centroid", "monitoring"),
)
def drift_embedding_centroid_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Representation-drift monitor: split each label's vectors into two
    cohorts (vec_id parity here; in production, before/after a model or
    crawl change), compute per-cohort centroids, and report the cosine and
    L2 distance between them per label. Centroid cosine near 1 means the
    embedding space is stable; a drop flags that downstream ANN indexes and
    similarity thresholds trained on cohort 0 are stale for cohort 1 — the
    embedding-space analog of ``drift_psi_event_values``.

    Scale shape: posexplode to (label, half, dim) long rows, ONE map-side-
    combined aggregation to 2 x |labels| x d centroid cells, then a d-row
    pair join per label — everything after the first shuffle is
    O(|labels| x d), independent of corpus size. Per-dim centroids round to
    6 before the distance math so distributed-sum ordering can't leak into
    the checked output."""
    from feature_datalake_sl_mandic_spark.operators.similarity import _finite_rows

    (em,) = _t(spark, sf_dir, "embeddings")
    # corrupt (non-finite) vectors excluded — one NaN poisons a cohort
    # centroid and the cosine/L2 shift built from it (round-7 lake probe)
    long = _finite_rows(em).select(
        "label",
        (F.col("vec_id") % 2).alias("half"),
        F.posexplode(F.col("embedding").cast("array<double>")).alias("pos", "v"),
    )
    cent = long.groupBy("label", "half", "pos").agg(
        F.round(F.avg("v"), 6).alias("c"), F.count(F.lit(1)).alias("n")
    )
    a = cent.where(F.col("half") == 0).select(
        "label", "pos", F.col("c").alias("c0"), F.col("n").alias("n0")
    )
    b = cent.where(F.col("half") == 1).select(
        "label", "pos", F.col("c").alias("c1"), F.col("n").alias("n1")
    )
    paired = a.join(b, ["label", "pos"])
    return (
        paired.groupBy("label")
        .agg(
            F.max("n0").cast("bigint").alias("n_half0"),
            F.max("n1").cast("bigint").alias("n_half1"),
            F.round(
                F.sum(F.col("c0") * F.col("c1"))
                / (
                    F.sqrt(F.sum(F.col("c0") * F.col("c0")))
                    * F.sqrt(F.sum(F.col("c1") * F.col("c1")))
                ),
                6,
            ).alias("centroid_cosine"),
            F.round(
                F.sqrt(F.sum((F.col("c0") - F.col("c1")) * (F.col("c0") - F.col("c1")))),
                6,
            ).alias("l2_shift"),
        )
        .orderBy("label")
    )


# ------------------------------- PCA: fixed-point covariance + power iteration

PCA_ITERS = 5
PCA_SQUARINGS = 4  # m4 = (C/tr)^16 up to scaling -> 5 iters walk ~C^80
_PCA_SCALE = 10_000  # centered values quantize to a 1e-4 grid (see docstring)
_PCA_SCALE2 = _PCA_SCALE * _PCA_SCALE


_PCA_M_SCALE = 1_000_000_000  # normalized-matrix entries as int64 1e-9 units
_PCA_V_SCALE = 100_000_000  # iterate vector as int64 1e-8 units


def _pca_oracle() -> str:
    """Build the DuckDB mirror. Every ITERATED quantity is an int64 (matrix
    entries in 1e-9 units, vector in 1e-8 units) so all running sums are
    exact-integer (DuckDB promotes BIGINT sums to HUGEINT; products that
    could exceed int64 are cast to HUGEINT first) — the only floats are
    single IEEE divisions of exact integers, which every engine computes
    bit-identically. See the Spark docstring for why (float sums are
    order-dependent, and per-iteration rounding turns 1-ulp noise into
    grid flips)."""
    sqs = []
    prev_m = "m0"
    for s in range(1, PCA_SQUARINGS + 1):
        sqs.append(f"""
    p{s} AS MATERIALIZED (
      SELECT a.i, b.j, sum(a.c * b.c) AS c
      FROM {prev_m} a JOIN {prev_m} b ON a.j = b.i GROUP BY a.i, b.j
    ),
    t{s} AS (SELECT sum(c) AS tr_ FROM p{s} WHERE i = j),
    m{s} AS MATERIALIZED (
      SELECT i, j,
             CAST(round(CAST(c AS DOUBLE) / CAST(tr_ AS DOUBLE)
                        * {_PCA_M_SCALE}, 0) AS BIGINT) AS c
      FROM p{s} CROSS JOIN t{s})""")
        prev_m = f"m{s}"
    iters = []
    prev = "v0"
    for t in range(1, PCA_ITERS + 1):
        iters.append(f"""
    w{t} AS MATERIALIZED (
      SELECT c.i AS dim, sum(c.c * v.val) AS w
      FROM {prev_m} c JOIN {prev} v ON c.j = v.dim GROUP BY c.i
    ),
    n{t} AS (SELECT sqrt(CAST(sum(CAST(w AS HUGEINT) * w) AS DOUBLE)) AS nrm
             FROM w{t}),
    v{t} AS MATERIALIZED (
      SELECT dim, CAST(round(CAST(w AS DOUBLE) / nrm * {_PCA_V_SCALE}, 0)
                       AS BIGINT) AS val
      FROM w{t} CROSS JOIN n{t})""")
        prev = f"v{t}"
    return f"""
    WITH e AS MATERIALIZED (
      SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS emb
      FROM embeddings
      WHERE embedding IS NOT NULL AND isfinite(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE)))
    ),
    long_ AS MATERIALIZED (
      SELECT vec_id, CAST(t.i AS BIGINT) AS i, emb[t.i + 1] AS v
      FROM e CROSS JOIN range(0, 64) t(i)
    ),
    nn AS (SELECT count(*) AS n FROM e),
    mu AS MATERIALIZED (SELECT i, round(avg(v), 6) AS m FROM long_ GROUP BY i),
    cent AS (
      SELECT l.vec_id, l.i,
             CAST(round((l.v - mu.m) * {_PCA_SCALE}, 0) AS BIGINT) AS xi
      FROM long_ l JOIN mu ON l.i = mu.i
    ),
    cnum AS MATERIALIZED (
      SELECT a.i, b.i AS j, sum(a.xi * b.xi) AS s
      FROM cent a JOIN cent b ON a.vec_id = b.vec_id
      GROUP BY a.i, b.i
    ),
    tr0 AS (SELECT sum(s) AS tr_ FROM cnum WHERE i = j),
    m0 AS MATERIALIZED (
      SELECT i, j,
             CAST(round(CAST(s AS DOUBLE) / CAST(tr_ AS DOUBLE)
                        * {_PCA_M_SCALE}, 0) AS BIGINT) AS c
      FROM cnum CROSS JOIN tr0),
    {",".join(sqs)},
    v0 AS MATERIALIZED (
      SELECT i AS dim, CAST({_PCA_V_SCALE} // 8 AS BIGINT) AS val
      FROM (SELECT DISTINCT i FROM mu)),
    {",".join(iters)},
    lam AS (
      -- lambda = v' C v / (|v|^2 * D): exact HUGEINT quadratic form over
      -- the integer covariance numerators and integer vector
      SELECT CAST(sum(CAST(c.s AS HUGEINT) * va.val * vb.val) AS DOUBLE)
             / CAST((SELECT sum(CAST(val AS HUGEINT) * val)
                     FROM v{PCA_ITERS}) AS DOUBLE)
             / ({_PCA_SCALE2}.0 * (SELECT n FROM nn)) AS ev
      FROM cnum c
      JOIN v{PCA_ITERS} va ON c.i = va.dim
      JOIN v{PCA_ITERS} vb ON c.j = vb.dim
    ),
    tr AS (SELECT CAST(sum(s) AS DOUBLE) / ({_PCA_SCALE2}.0 * (SELECT n FROM nn))
             AS trace
           FROM cnum WHERE i = j),
    sgn AS (
      SELECT CASE
               WHEN (max(struct_pack(a := abs(val), nd := -dim, v := val))).v < 0
               THEN -1 ELSE 1 END AS s
      FROM v{PCA_ITERS}
    )
    SELECT v.dim,
           CAST(v.val * sgn.s AS DOUBLE) / {_PCA_V_SCALE} AS loading,
           round(lam.ev, 4) AS eigenvalue,
           round(lam.ev / tr.trace, 6) AS explained_share
    FROM v{PCA_ITERS} v CROSS JOIN lam CROSS JOIN tr CROSS JOIN sgn
    ORDER BY v.dim
    """


@register(
    "embedding_pca_power_iteration",
    oracle=_pca_oracle(),
    tags=("embedding", "pca", "power-iteration", "linear-algebra", "iterative"),
)
def embedding_pca_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component of the embedding corpus: distributed
    covariance accumulation + a power-iteration trajectory replayed in one
    bounded in-plan task — nothing driver-side but two bounded scalars
    (row count, 64 means).

    Determinism design: floating-point SUM is order-dependent, and a
    covariance cell summed in different orders on different engines (or
    different partitionings!) can flip its last rounded digit — across 4096
    cells that risk compounds. So centered values quantize to a 1e-4 grid
    and the covariance numerators accumulate in EXACT int64 arithmetic
    (numpy int64 ``xc.T @ xc`` per Arrow batch, integer sums across
    batches) — the reduction is associative, so any partitioning yields
    bit-identical covariance. The iteration itself stays in EXACT integer
    arithmetic too: normalized-matrix entries are int64 in 1e-9 units,
    the vector in 1e-8 units, and every running sum is an
    arbitrary-precision Python int replaying the exact decimal(38,0)
    sums the r5 relational form used (a bigint sum would wrap; a float sum would be
    order-dependent — measured as a per-run grid flip in the 221-query
    sweep before this form). The only floating-point steps are single IEEE
    divisions/sqrt of exact integers, which every engine computes
    bit-identically, so the whole trajectory — and the output loadings,
    emitted as val/1e8 exactly — is deterministic across engines, runs,
    and partitionings. The sign of an eigenvector being arbitrary,
    loadings are normalized so the largest-|.| component is positive.

    Scale shape: one Arrow-batched pass emits 64x64 integer partials per
    batch (the classic one-pass distributed Gram/covariance: shuffle carries
    |batches| x 4096 longs, never the corpus); the squaring/iteration
    trajectory then runs in ONE bounded applyInPandas task over the
    <=4096-row covariance relation — see the inline comment for why that
    beats both the relational iteration (~10 sequential barrier jobs of
    pure scheduling overhead) and a driver collect (MLlib's choice)."""
    import numpy as np
    import pandas as pd

    from feature_datalake_sl_mandic_spark.operators.similarity import _finite_rows

    (em,) = _t(spark, sf_dir, "embeddings")
    # NOT pinned: the means pass and the covariance pass each rescan parquet
    # — measured faster than checkpointing the array column through the
    # block manager (array<double> round-trips cost more than the scan).
    # Non-finite vectors excluded: one NaN entry would poison its dim's
    # mean AND every covariance cell its row touches (round-7 lake probe).
    e = _finite_rows(em.where(F.col("embedding").isNotNull())).select(
        F.col("embedding").cast("array<double>").alias("emb")
    )
    # bounded control plane: n and the 64 per-dim means (rounded so both
    # engines center with identical values) — one corpus pass yields both
    # (the per-dim count IS the row count)
    mu_rows = (
        e.select(F.posexplode("emb").alias("i", "v"))
        .groupBy("i")
        .agg(F.round(F.avg("v"), 6).alias("m"), F.count(F.lit(1)).alias("cnt"))
        .collect()
    )
    if not mu_rows:
        return spark.createDataFrame(
            [], "dim bigint, loading double, eigenvalue double, explained_share double"
        )
    dim = len(mu_rows)
    mu = np.zeros(dim)
    for r in mu_rows:
        mu[r["i"]] = r["m"]
    n = max(r["cnt"] for r in mu_rows)

    def partials(it):
        idx = np.arange(dim, dtype="int64")
        ii = np.repeat(idx, dim)
        jj = np.tile(idx, dim)
        for pdf in it:
            x = np.array(pdf["emb"].tolist(), dtype="float64")
            # half-away-from-zero to match round() in both SQL engines
            xc = x - mu[None, :]
            xi = (np.floor(np.abs(xc) * _PCA_SCALE + 0.5) * np.sign(xc)).astype(
                "int64"
            )
            p = xi.T @ xi  # exact int64 outer-product sum over the batch
            yield pd.DataFrame({"i": ii, "j": jj, "s": p.reshape(-1)})

    cnum = (
        e.mapInPandas(partials, schema="i bigint, j bigint, s bigint")
        .groupBy("i", "j")
        .agg(F.sum("s").alias("s"))
    )

    # The squaring/iteration trajectory operates on a BOUNDED dim x dim
    # relation (<=4096 rows regardless of corpus size). The r5 form iterated
    # it relationally — ~10 sequential barrier jobs whose per-job scheduling
    # cost dwarfed their microsecond compute, with zero distribution benefit
    # (nothing in them scales with the corpus). MLlib's
    # RowMatrix.computePrincipalComponents collects the Gram matrix to the
    # driver for exactly this reason; we keep it IN the plan as one bounded
    # applyInPandas task instead (no driver round-trip, composes lazily),
    # reproducing the r5 relational trajectory bit-for-bit: Python
    # arbitrary-precision ints replay the decimal(38,0) exact sums, and
    # every rounding replays Spark's HALF_UP-on-shortest-decimal-repr
    # round() via the decimal module (numpy divisions keep IEEE semantics
    # for the single float ops between exact integers). The oracle — which
    # pins every squaring's and iteration's intermediate rounding — is
    # unchanged, so hash equality proves the replay is exact.
    def eigensolve(pdf: pd.DataFrame) -> pd.DataFrame:
        import math
        from decimal import ROUND_HALF_UP, Decimal, InvalidOperation

        def rnd_int(x: float) -> int:
            # Spark round(double): BigDecimal.valueOf(x).setScale(0, HALF_UP)
            # == HALF_UP on the shortest decimal repr (Python repr matches)
            return int(Decimal(repr(x)).quantize(Decimal(1), rounding=ROUND_HALF_UP))

        def rnd(x: float, digits: int) -> float:
            try:
                return float(
                    Decimal(repr(x)).quantize(
                        Decimal(1).scaleb(-digits), rounding=ROUND_HALF_UP
                    )
                )
            except InvalidOperation:  # nan/inf: Spark round passes through
                return x

        C = [[0] * dim for _ in range(dim)]
        for i_, j_, s_ in zip(pdf["i"], pdf["j"], pdf["s"]):
            C[int(i_)][int(j_)] = int(s_)
        tr0 = sum(C[d][d] for d in range(dim))
        if tr0 == 0:
            # all centered values quantized to zero (constant corpus): the
            # relational form's 0/0 would null-cascade; emit the same shape
            return pd.DataFrame(
                {
                    "dim": list(range(dim)),
                    "loading": [None] * dim,
                    "eigenvalue": [None] * dim,
                    "explained_share": [None] * dim,
                }
            )

        def normalize(M):
            tr = float(sum(M[d][d] for d in range(dim)))
            return [
                [rnd_int(float(M[a][b]) / tr * _PCA_M_SCALE) for b in range(dim)]
                for a in range(dim)
            ]

        m = normalize(C)
        for _ in range(PCA_SQUARINGS):
            p = [
                [sum(m[a][k] * m[k][b] for k in range(dim)) for b in range(dim)]
                for a in range(dim)
            ]
            m = normalize(p)
        v = [_PCA_V_SCALE // 8] * dim
        for _ in range(PCA_ITERS):
            w = [sum(m[a][k] * v[k] for k in range(dim)) for a in range(dim)]
            nrm = math.sqrt(float(sum(x * x for x in w)))
            v = [rnd_int(float(x) / nrm * _PCA_V_SCALE) for x in w]
        # Rayleigh quotient over the exact covariance numerators
        qf = sum(C[a][b] * v[a] * v[b] for a in range(dim) for b in range(dim))
        v2 = sum(x * x for x in v)
        denom = float(_PCA_SCALE2) * n
        ev = float(qf) / float(v2) / denom
        trace = float(tr0) / denom
        # sign: largest-|loading| component (ties -> lowest dim) positive
        big = max(range(dim), key=lambda d: (abs(v[d]), -d))
        s = -1 if v[big] < 0 else 1
        return pd.DataFrame(
            {
                "dim": list(range(dim)),
                "loading": [float(v[d] * s) / _PCA_V_SCALE for d in range(dim)],
                "eigenvalue": [rnd(ev, 4)] * dim,
                "explained_share": [rnd(ev / trace, 6)] * dim,
            }
        )

    return (
        cnum.withColumn("__g", F.lit(1))
        .groupBy("__g")
        .applyInPandas(
            lambda pdf: eigensolve(pdf),
            schema="dim bigint, loading double, eigenvalue double,"
            " explained_share double",
        )
        .orderBy("dim")
    )
