"""Hybrid retrieval + retrieval-quality evaluation.

Extension surface (BASELINE.json "similarity search" / "text analysis"; no
analog in the reference — its 49-file census is 4 distinct ingest scripts
parameterized per site, SURVEY.md §0). Two operators that close the RAG loop
the repo's lexical (BM25) and dense (kNN/ANN) rankers open:

- ``text_hybrid_rrf_search``: Reciprocal Rank Fusion (Cormack/Clarke/Buettcher,
  SIGIR'09) of the BM25 lexical top-k and the embedding-cosine dense top-k:
  ``rrf(d) = Σ_lists 1/(RRF_K + rank_list(d))``. RRF is the standard hybrid
  fusion because it needs no score calibration between heterogeneous rankers
  — only ranks, which both of this repo's retrieval paths already emit
  deterministically.
- ``eval_retrieval_metrics``: recall@k, MRR and nDCG@k of the IVF ANN index
  (nprobe=1) against exact brute-force kNN ground truth — the evaluation
  harness any ANN deployment needs before dialing ``nprobe``/cells for a
  recall target.

Scale shape: both operators post-process top-k lists that are bounded by
construction (k ≤ 50 per query / per ranker), so every join here is a
broadcast of a few hundred rows; the heavy lifting stays in the underlying
retrieval plans, which are scale-audited where they live
(``text.py``/``similarity.py``). Fusion adds ZERO new shuffles over the
inputs' own plans.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from feature_datalake_sl_mandic_spark.functions.ranking import grouped_topk
from feature_datalake_sl_mandic_spark.operators.relational import _t
from feature_datalake_sl_mandic_spark.operators.similarity import (
    _DUCK_PAIR_COS,
    _dot,
    N_QUERIES,
    TOP_K,
    ivf_topk,
    knn_cosine_topk,
)
from feature_datalake_sl_mandic_spark.operators.text import text_bm25_search
from feature_datalake_sl_mandic_spark.registry import _REGISTRY, register

RRF_K = 60  # the canonical fusion constant from the RRF paper
RRF_LIST_K = 50  # per-ranker candidate list length
RRF_TOP = 20  # fused results emitted
DENSE_QUERY_ID = 0  # dense query = embedding of vec_id 0 (doc_id ≡ vec_id)

# Reuse the registered oracles verbatim as derived tables (nested WITH is
# valid DuckDB) — the fusion/eval oracles stay in lockstep with the
# underlying rankers' oracles by construction.
_BM25_ORACLE = _REGISTRY["text_bm25_search"].oracle
_KNN_ORACLE = _REGISTRY["knn_cosine_topk"].oracle
_IVF_ORACLE = _REGISTRY["ann_ivf_cells"].oracle


@register(
    "text_hybrid_rrf_search",
    oracle=f"""
    WITH bm AS (
      SELECT doc_id, rnk AS bm25_rank FROM ({_BM25_ORACLE}) b
    ),
    e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS emb
          FROM embeddings
          WHERE isfinite(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE)))
            AND list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE)) > 0),
    dense_scored AS (
      SELECT c.vec_id AS doc_id, round({_DUCK_PAIR_COS}, 6) AS cosine
      FROM (SELECT emb FROM e WHERE vec_id = {DENSE_QUERY_ID}) q
      JOIN e c ON c.vec_id <> {DENSE_QUERY_ID}
    ),
    dn AS (
      SELECT doc_id, dense_rank FROM (
        SELECT doc_id,
               row_number() OVER (ORDER BY cosine DESC, doc_id) AS dense_rank
        FROM dense_scored
      ) WHERE dense_rank <= {RRF_LIST_K}
    ),
    fused AS (
      SELECT coalesce(bm.doc_id, dn.doc_id) AS doc_id,
             bm.bm25_rank, dn.dense_rank,
             round(coalesce(1.0 / ({RRF_K} + bm.bm25_rank), 0.0)
                   + coalesce(1.0 / ({RRF_K} + dn.dense_rank), 0.0), 6)
               AS rrf_score
      FROM bm FULL OUTER JOIN dn ON bm.doc_id = dn.doc_id
    )
    SELECT doc_id, bm25_rank, dense_rank, rrf_score,
           CAST(row_number() OVER (ORDER BY rrf_score DESC, doc_id) AS BIGINT)
             AS rnk
    FROM fused
    QUALIFY rnk <= {RRF_TOP}
    ORDER BY rnk
    """,
    tags=("retrieval", "hybrid", "rrf", "bm25", "dense", "topk"),
)
def text_hybrid_rrf_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal Rank Fusion of the BM25 lexical top-50 and the
    embedding-cosine dense top-50 (query vector = embedding of doc 0;
    ``doc_id ≡ vec_id`` in the fixture corpus — at scale the join key is the
    document's stable id shared by the text and vector tables).

    ``rrf(d) = Σ 1/(60 + rank)`` over the lists that retrieved d; a document
    found by only one ranker contributes only that term (full-outer join,
    missing list → 0). Both input lists carry exact global ranks from
    ``grouped_topk`` with no groups (TakeOrdered under the rank window, so
    the window sees k rows), and fusing 100 bounded rows is driver-trivial
    at any corpus size."""
    bm = text_bm25_search(spark, sf_dir).select(
        "doc_id", F.col("rnk").alias("bm25_rank")
    )
    (em,) = _t(spark, sf_dir, "embeddings")
    from feature_datalake_sl_mandic_spark.operators.similarity import _nonzero

    e = _nonzero(
        em.select("vec_id", F.col("embedding").cast("array<double>").alias("emb"))
    )
    q = e.where(F.col("vec_id") == DENSE_QUERY_ID).select(
        F.col("emb").alias("qemb")
    )
    c = e.where(F.col("vec_id") != DENSE_QUERY_ID).select(
        F.col("vec_id").alias("doc_id"), F.col("emb").alias("cemb")
    )
    cos = _dot("qemb", "cemb") / (
        F.sqrt(_dot("qemb", "qemb")) * F.sqrt(_dot("cemb", "cemb"))
    )
    dense_scored = c.crossJoin(F.broadcast(q)).select(
        "doc_id", F.round(cos, 6).alias("cosine")
    )
    dn = grouped_topk(
        dense_scored,
        [],
        [("cosine", "desc"), ("doc_id", "asc")],
        RRF_LIST_K,
        rank_col="rnk",
    ).select("doc_id", F.col("rnk").alias("dense_rank"))

    rrf = F.round(
        F.coalesce(F.lit(1.0) / (RRF_K + F.col("bm25_rank")), F.lit(0.0))
        + F.coalesce(F.lit(1.0) / (RRF_K + F.col("dense_rank")), F.lit(0.0)),
        6,
    )
    fused = bm.join(dn, "doc_id", "full_outer").select(
        "doc_id", "bm25_rank", "dense_rank", rrf.alias("rrf_score")
    )
    return (
        grouped_topk(
            fused,
            [],
            [("rrf_score", "desc"), ("doc_id", "asc")],
            RRF_TOP,
            rank_col="rnk",
        )
        .select("doc_id", "bm25_rank", "dense_rank", "rrf_score", "rnk")
        .orderBy("rnk")
    )


# Ideal DCG for k binary-relevant results — identical literal on both sides.
_IDCG = sum(1.0 / math.log2(i + 1) for i in range(1, TOP_K + 1))


@register(
    "eval_retrieval_metrics",
    oracle=f"""
    WITH gt AS (
      SELECT query_id, neighbor_id FROM ({_KNN_ORACLE}) g
    ),
    sys AS (
      SELECT query_id, neighbor_id, rank FROM ({_IVF_ORACLE}) s
    ),
    hits AS (
      SELECT s.query_id, s.rank
      FROM sys s JOIN gt
        ON s.query_id = gt.query_id AND s.neighbor_id = gt.neighbor_id
    ),
    per_q AS (
      SELECT query_id,
             count(*) AS n_hits,
             min(rank) AS first_hit_rank,
             sum(1.0 / log2(rank + 1)) AS dcg
      FROM hits GROUP BY query_id
    )
    SELECT q.query_id,
           coalesce(p.n_hits, 0) AS n_hits,
           round(coalesce(p.n_hits, 0) / {TOP_K}.0, 6) AS recall_at_k,
           round(coalesce(1.0 / p.first_hit_rank, 0.0), 6) AS mrr,
           round(coalesce(p.dcg, 0.0) / {_IDCG!r}, 6) AS ndcg_at_k
    FROM (SELECT DISTINCT query_id FROM gt) q
    LEFT JOIN per_q p USING (query_id)
    ORDER BY q.query_id
    """,
    tags=("retrieval", "evaluation", "ann", "recall", "ndcg"),
)
def eval_retrieval_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-quality scorecard for the IVF ANN index (nprobe=1) against
    exact brute-force kNN ground truth: per-query recall@5, MRR and nDCG@5
    (binary relevance = membership in the exact top-5). This is the harness
    that justifies any ANN parameter choice — the recall floors pinned in
    ``tests/test_round3_ops.py`` are exactly these numbers.

    Scale shape: both inputs are per-query top-k lists (≤ 5 rows × 10
    queries here; ≤ k × |queries| generally), so the hit-join and the metric
    aggregation are bounded by the query workload, never the corpus."""
    # gt feeds the hit-join AND the query roster — pin the tiny (k x
    # |queries|) list so the exact-kNN corpus pass behind it runs once
    gt = (
        knn_cosine_topk(spark, sf_dir)
        .select("query_id", "neighbor_id")
        .localCheckpoint(eager=False)
    )
    sys_ = ivf_topk(spark, sf_dir, nprobe=1).select(
        "query_id", "neighbor_id", "rank"
    )
    hits = sys_.join(gt, ["query_id", "neighbor_id"])
    per_q = hits.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_hits"),
        F.min("rank").alias("first_hit_rank"),
        F.sum(1.0 / F.log2(F.col("rank") + 1)).alias("dcg"),
    )
    queries = gt.select("query_id").distinct()
    n_hits = F.coalesce(F.col("n_hits"), F.lit(0))
    return (
        queries.join(per_q, "query_id", "left")
        .select(
            "query_id",
            n_hits.alias("n_hits"),
            F.round(n_hits / float(TOP_K), 6).alias("recall_at_k"),
            F.round(
                F.coalesce(F.lit(1.0) / F.col("first_hit_rank"), F.lit(0.0)), 6
            ).alias("mrr"),
            F.round(F.coalesce(F.col("dcg"), F.lit(0.0)) / _IDCG, 6).alias(
                "ndcg_at_k"
            ),
        )
        .orderBy("query_id")
    )


MRL_DIMS = (8, 16, 32, 64)  # truncation budgets; 64 = full (sanity: recall 1)


def _duck_sliced_knn(d: int) -> str:
    cos = (
        f"list_sum(list_transform(range(1, {d + 1}), i -> q.emb[i] * c.emb[i]))"
        f" / (sqrt(list_sum(list_transform(range(1, {d + 1}), i -> q.emb[i] * q.emb[i])))"
        f" * sqrt(list_sum(list_transform(range(1, {d + 1}), i -> c.emb[i] * c.emb[i]))))"
    )
    return f"""
      SELECT {d} AS dim, query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY q.vec_id
                                  ORDER BY round({cos}, 6) DESC, c.vec_id)
                 AS rank
        FROM e q JOIN e c ON q.vec_id < {N_QUERIES} AND c.vec_id <> q.vec_id
        WHERE list_sum(list_transform(range(1, {d + 1}), i -> q.emb[i] * q.emb[i])) > 0
          AND list_sum(list_transform(range(1, {d + 1}), i -> c.emb[i] * c.emb[i])) > 0
      ) WHERE rank <= {TOP_K}
    """


@register(
    "eval_matryoshka_recall",
    oracle=f"""
    WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS emb
               FROM embeddings
               WHERE isfinite(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE)))
            AND list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE)) > 0),
    sys AS ({" UNION ALL ".join(_duck_sliced_knn(d) for d in MRL_DIMS)}),
    gt AS (
      SELECT query_id, neighbor_id FROM ({_KNN_ORACLE}) g
    ),
    hits AS (
      SELECT s.dim, s.query_id, count(gt.neighbor_id) AS n_hits
      FROM sys s LEFT JOIN gt
        ON s.query_id = gt.query_id AND s.neighbor_id = gt.neighbor_id
      GROUP BY s.dim, s.query_id
    )
    SELECT CAST(dim AS BIGINT) AS dim, query_id, n_hits,
           round(n_hits / {TOP_K}.0, 6) AS recall_at_k
    FROM hits
    ORDER BY dim, query_id
    """,
    tags=("retrieval", "evaluation", "matryoshka", "truncation", "recall"),
)
def eval_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style truncation sweep (Kusupati et al. 2022): exact-kNN
    recall@5 when the 64-dim embeddings are truncated to their first
    8/16/32/64 dimensions, against full-dimension ground truth. This is the
    dimension-budget dial: at 100 TB, halving stored dims halves the
    scan/shuffle bytes of every similarity operator, and this scorecard says
    what recall that buys. The d=64 rows must come back with recall 1.0 —
    a built-in self-check that the sweep and the baseline agree.

    Scale shape: ONE broadcast-query × corpus-scan pass serves ALL budgets —
    each (query, candidate) pair explodes into |MRL_DIMS| rows whose sliced
    dot products compute in the same projection (the d-dim dot is a prefix
    of the 64-dim one, so total arithmetic equals the separate-scan
    formulation while the corpus is read ONCE, not |MRL_DIMS| times — at
    100 TB that 4x read amplification is the whole cost). One top-k window
    partitioned by (dim, query) replaces four."""
    from pyspark.sql.window import Window

    (em,) = _t(spark, sf_dir, "embeddings")
    gt = knn_cosine_topk(spark, sf_dir).select(
        "query_id", F.col("neighbor_id").alias("gt_neighbor")
    )
    from feature_datalake_sl_mandic_spark.operators.similarity import _nonzero

    e = _nonzero(
        em.select("vec_id", F.col("embedding").cast("array<double>").alias("emb"))
    )
    q = e.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("emb").alias("qemb")
    )
    c = e.select(F.col("vec_id").alias("neighbor_id"), F.col("emb").alias("cemb"))
    dims = F.array(*[F.lit(d) for d in MRL_DIMS])

    def _pref_dot(a: str, b: str):
        return F.aggregate(
            F.zip_with(
                F.slice(F.col(a), 1, F.col("dim").cast("int")),
                F.slice(F.col(b), 1, F.col("dim").cast("int")),
                lambda x, y: x * y,
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )

    cos = _pref_dot("qemb", "cemb") / (
        F.sqrt(_pref_dot("qemb", "qemb")) * F.sqrt(_pref_dot("cemb", "cemb"))
    )
    w = Window.partitionBy("dim", "query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    sys_ = (
        F.broadcast(q)
        .join(c, F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id", "neighbor_id", "qemb", "cemb", F.explode(dims).alias("dim")
        )
        # a nonzero vector can still have an all-zero leading slice: at that
        # dimension budget it has no direction, so the (pair, dim) row is
        # excluded — mirrored per-d in the oracle
        .where((_pref_dot("qemb", "qemb") > 0) & (_pref_dot("cemb", "cemb") > 0))
        .select(
            F.col("dim").cast("bigint").alias("dim"),
            "query_id",
            "neighbor_id",
            F.round(cos, 6).alias("cosine"),
        )
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TOP_K)
        .select("dim", "query_id", "neighbor_id")
    )
    hits = (
        sys_.join(
            gt,
            (sys_["query_id"] == gt["query_id"])
            & (sys_["neighbor_id"] == gt["gt_neighbor"]),
            "left",
        )
        .groupBy("dim", sys_["query_id"].alias("query_id"))
        .agg(F.count("gt_neighbor").alias("n_hits"))
    )
    return hits.select(
        "dim",
        "query_id",
        "n_hits",
        F.round(F.col("n_hits") / float(TOP_K), 6).alias("recall_at_k"),
    ).orderBy("dim", "query_id")
