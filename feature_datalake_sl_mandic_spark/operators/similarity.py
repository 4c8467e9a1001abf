"""Similarity search over the ``embeddings`` table (array<float>, dim=64).

Extension surface (BASELINE.json: "similarity search"). Two paths:

- ``knn_cosine_topk`` — exact brute-force top-k: the correctness baseline.
  Query set broadcasts; the corpus scan is embarrassingly parallel; per-query
  top-k via window row_number (one shuffle on query_id).
- ``ann_lsh_bucketed`` — the scale path: random-hyperplane LSH (sign
  projections onto 8 deterministic hyperplanes → 256 buckets) restricts each
  query to its bucket, cutting compared pairs ~256× at 100 TB; recall is
  traded for throughput exactly as an IVF/LSH index would.

Hyperplanes are generated by a seeded integer LCG in Python and inlined as
literals into BOTH the Spark plan and the oracle SQL — deterministic, so even
the approximate path is hash-checked end-to-end, not spot-checked.

All arithmetic is double (arrays cast first) in JVM higher-order functions —
no UDFs, stays inside codegen.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StructField, StructType
from pyspark.sql.window import Window

from feature_datalake_sl_mandic_spark.operators.relational import _t
from feature_datalake_sl_mandic_spark.registry import register

DIM = 64
N_PLANES = 8
TOP_K = 5
N_QUERIES = 10  # query set = vec_id < 10


def _hyperplanes() -> list[list[int]]:
    """Deterministic integer hyperplanes via LCG (values in [-1000, 1000])."""
    return [
        [((1103515245 * (j * DIM + d) + 12345) % 2001) - 1000 for d in range(DIM)]
        for j in range(N_PLANES)
    ]


PLANES = _hyperplanes()


def _dot(x: str | Column, y: str | Column) -> Column:
    """HOF fold dot product. Higher-order functions are codegen-fallback,
    but do NOT "fix" this by unrolling at full embedding width: a 64-term
    element_at unroll measured 3x SLOWER than this fold on the benched
    knn_cosine_topk at sf0.1 (0.48s -> 1.42s min-of-5) — the giant
    expression falls out of efficient codegen, while the fold's tight loop
    amortizes. Unrolling wins only at tiny fixed arity (PQ_SUBDIM=4 in
    ``_pq_encode``, +20%). Both boundaries are measured, not guessed."""
    return F.aggregate(
        F.zip_with(F.col(x) if isinstance(x, str) else x,
                   F.col(y) if isinstance(y, str) else y,
                   lambda p, q: p * q),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _cosine(a: str, b: str) -> Column:
    return _dot(a, b) / (F.sqrt(_dot(a, a)) * F.sqrt(_dot(b, b)))


def pair_cosine_filtered(pairs: DataFrame, threshold: float) -> DataFrame:
    """cos = fold-dot(ea, eb) / nn over a pair relation, vectorized across
    the Arrow boundary, filtered to ``cos >= threshold`` (round 11, guide
    §4.2). Expects columns ``ea``/``eb`` (array<double>) and ``nn`` (the
    precomputed norm product); every other column passes through, plus the
    surviving pairs' raw ``cos_raw``.

    Why: the per-pair HOF fold runs interpreted (codegen-fallback) and
    allocates a zip_with array per pair — measured 26 µs/pair at sf0.1
    (250k within-cluster pairs = 6.5 s of the semdedup plan; an element_at
    fold with no zip_with measured WORSE, 7.6 s, and the full-width unroll
    is the recorded 3x-slower dead end — see ``_dot``). Here whole Arrow
    batches cross the boundary once and the dot is 64 vectorized numpy ops
    per batch: 2.5x end-to-end on the same plan, and the per-pair cost no
    longer multiplies by corpus growth at 100 TB. Memory per task is one
    Arrow batch; the pair join itself stays in the JVM (spill-safe).

    Bit-exactness: the kernel accumulates ``acc = (…((0.0 + p_1) + p_2)…)``
    one dimension at a time across the batch — numpy float64 adds are IEEE
    doubles, so the float-op SEQUENCE per pair is exactly the JVM fold's
    and results are bit-identical (pinned by tests/test_pair_cosine.py).
    Degenerate inputs map to the same exclusions as the JVM form: a null
    element becomes NaN (JVM: null product nulls the sum) and a length
    mismatch is skipped outright (JVM: zip_with pads with null) — both fail
    ``cos >= threshold`` exactly like the fold's null does. Empty arrays
    (fold = 0.0) are skipped too, which is why ``threshold`` must be
    positive. ONE deliberate divergence: a NaN cosine is EXCLUDED here,
    whereas Spark's NaN total order makes ``NaN >= threshold`` TRUE — the
    exact corrupt-rows-rank-first trap the round-7 NaN/Inf probe closed.
    Every caller already excludes non-finite vectors at its base relation
    (``_finite_pred`` / ``norm > 0``), so a NaN cosine is unreachable and
    query output is identical; new callers must keep that guard (pinned by
    tests/test_pair_cosine.py)."""
    import numpy as np

    if not threshold > 0:  # the L == 0 skip below relies on it
        raise ValueError("pair_cosine_filtered requires a positive threshold")
    carry = [f.name for f in pairs.schema.fields if f.name not in ("ea", "eb", "nn")]
    out_schema = StructType(
        [f for f in pairs.schema.fields if f.name in carry]
        + [StructField("cos_raw", DoubleType())]
    )
    thr = float(threshold)

    def _cos_batches(batches):
        for pdf in batches:
            n = len(pdf)
            if not n:
                continue
            ea, eb = pdf["ea"], pdf["eb"]
            la = np.fromiter(
                (len(v) if v is not None else -1 for v in ea), dtype=np.int64, count=n
            )
            lb = np.fromiter(
                (len(v) if v is not None else -1 for v in eb), dtype=np.int64, count=n
            )
            nn = pdf["nn"].to_numpy(dtype="float64")
            keep_idx, keep_cos = [], []
            # vectorize per distinct width so ragged corpora stay exact;
            # real lakes have ONE width and this loop runs once
            for width in np.unique(la[(la == lb) & (la > 0)]):
                rows = np.flatnonzero((la == width) & (lb == width))
                mat_a = np.stack(ea.iloc[rows].to_numpy())
                mat_b = np.stack(eb.iloc[rows].to_numpy())
                acc = np.zeros(len(rows))
                for d in range(int(width)):
                    acc = acc + mat_a[:, d] * mat_b[:, d]
                cos = acc / nn[rows]
                m = cos >= thr  # NaN compares false, same as the JVM filter
                if m.any():
                    keep_idx.append(rows[m])
                    keep_cos.append(cos[m])
            if keep_idx:
                idx = np.concatenate(keep_idx)
                out = pdf.iloc[idx][carry].copy()
                out["cos_raw"] = np.concatenate(keep_cos)
                yield out

    return pairs.mapInPandas(_cos_batches, schema=out_schema)


# Zero-norm vectors (padding / corrupt rows) carry no direction — cosine is
# undefined for them, and under ANSI mode the division is a job-killing
# ArithmeticException (found by the round-6 degenerate-input audit: a single
# zero vector crashed every cosine-space query). Every cosine-space query
# therefore excludes them at its base relation, with this WHERE mirrored in
# the DuckDB oracle. Distance-space queries (k-means, PCA, standardize)
# keep the zero vector (squared distance is well-defined for it) but, like
# every other numeric consumer of embeddings, exclude NON-FINITE vectors:
# one NaN/Inf entry (a corrupt encoder output) poisons every aggregate it
# touches, SILENTLY — no crash — and Spark's NaN semantics (NaN > 0 is
# TRUE, NaN sorts above every cosine) would rank the corrupt row FIRST in
# top-k results. The round-7 NaN/Inf lake probe measured exactly that: 16
# queries emitted NaN/Inf into checked output with zero errors raised.
# The sum-of-squares probe detects any non-finite entry in one pass (any
# NaN entry -> NaN sum; any Inf -> Inf or NaN sum; float32 inputs cannot
# overflow the double sum: 64 * (3.4e38)^2 ~ 7e78 << 1.8e308, so there are
# no false positives for this schema).
# The oracle casts each element to DOUBLE BEFORE squaring — (x*x)::DOUBLE
# squares in REAL precision, so a vector of subnormal entries (|x| < ~4e-23)
# underflows to exactly zero in DuckDB while Spark's array<double> path keeps
# it nonzero, and the two engines would disagree on the exclusion set.
_SUMSQ_SQL = "list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE))"
_NONZERO_SQL = f"WHERE isfinite({_SUMSQ_SQL}) AND {_SUMSQ_SQL} > 0"
_FINITE_SQL = f"WHERE isfinite({_SUMSQ_SQL})"

_INF = float("inf")


def _finite_pred(ssq: Column) -> Column:
    """Sum-of-squares is a finite number (excludes NaN/Inf entries; keeps
    the zero vector). Spelled as two explicit tests: Spark's NaN orders
    ABOVE infinity, so a bare ``ssq < inf`` would also work but only via
    that non-obvious total-order rule."""
    return ~F.isnan(ssq) & (ssq != F.lit(_INF))


def _finite_rows(df: "DataFrame", col: str = "embedding") -> "DataFrame":
    """Drop rows whose raw embedding column has any non-finite entry —
    the guard for distance-space / profiling consumers that keep the zero
    vector. Mirrored in oracles by ``_FINITE_SQL``."""
    arr = F.col(col).cast("array<double>")
    return df.where(_finite_pred(_dot(arr, arr)))


def _nonzero(e: "DataFrame") -> "DataFrame":
    """Filter a (…, emb) relation to rows with a finite, nonzero norm —
    the cosine-space base guard. Mirrored in oracles by ``_NONZERO_SQL``."""
    ssq = _dot("emb", "emb")
    return e.where(_finite_pred(ssq) & (ssq > 0))


_DUCK_PAIR_COS = (
    "list_sum(list_transform(range(1, 65), i -> q.emb[i] * c.emb[i]))"
    " / (sqrt(list_sum(list_transform(range(1, 65), i -> q.emb[i] * q.emb[i])))"
    " * sqrt(list_sum(list_transform(range(1, 65), i -> c.emb[i] * c.emb[i]))))"
)


@register(
    "knn_cosine_topk",
    oracle=f"""
    WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS emb
               FROM embeddings {_NONZERO_SQL}),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             round({_DUCK_PAIR_COS}, 6) AS cosine
      FROM e q JOIN e c ON q.vec_id < {N_QUERIES} AND c.vec_id <> q.vec_id
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, cosine, rank
    FROM ranked WHERE rank <= {TOP_K}
    ORDER BY query_id, rank
    """,
    tags=("similarity", "knn", "cosine", "topk-per-group", "broadcast-join"),
)
def knn_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force cosine top-k for a broadcast query set: the
    correctness baseline every ANN variant is measured against."""
    (em,) = _t(spark, sf_dir, "embeddings")
    # norms computed once per vector; the pair join then does one dot product
    e = _nonzero(
        em.select("vec_id", F.col("embedding").cast("array<double>").alias("emb"))
    ).withColumn("norm", F.sqrt(_dot("emb", "emb")))
    q = e.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("emb").alias("qemb"),
        F.col("norm").alias("qnorm"),
    )
    c = e.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("emb").alias("cemb"),
        F.col("norm").alias("cnorm"),
    )
    cos = _dot("qemb", "cemb") / (F.col("qnorm") * F.col("cnorm"))
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        F.broadcast(q)
        .join(c, F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", F.round(cos, 6).alias("cosine"))
        .withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= TOP_K)
        .orderBy("query_id", "rank")
    )


def _duck_bucket_expr(alias: str) -> str:
    terms = []
    for j, plane in enumerate(PLANES):
        lit = "[" + ", ".join(str(v) for v in plane) + "]"
        dot = f"list_sum(list_transform(range(1, 65), i -> {alias}.emb[i] * {lit}[i]))"
        terms.append(f"(({dot} > 0)::BIGINT << {j})")
    return " + ".join(terms)


@register(
    "ann_lsh_bucketed",
    oracle=f"""
    WITH e AS (SELECT vec_id, label, list_transform(embedding, x -> x::DOUBLE) AS emb
               FROM embeddings {_NONZERO_SQL}),
    be AS (SELECT vec_id, label, emb, {_duck_bucket_expr('e')} AS bucket FROM e),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, q.bucket,
             round({_DUCK_PAIR_COS}, 6) AS cosine
      FROM be q JOIN be c
        ON q.vec_id < {N_QUERIES} AND c.vec_id <> q.vec_id AND c.bucket = q.bucket
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, bucket, cosine, rank
    FROM ranked WHERE rank <= {TOP_K}
    ORDER BY query_id, rank
    """,
    tags=("similarity", "ann", "lsh", "bucketed-join"),
)
def ann_lsh_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k via random-hyperplane LSH: equi-join on the bucket id
    replaces the cross join — the O(n/256) scale path, with recall loss as
    the explicit trade."""
    (em,) = _t(spark, sf_dir, "embeddings")
    e = _nonzero(
        em.select("vec_id", F.col("embedding").cast("array<double>").alias("emb"))
    ).withColumn("norm", F.sqrt(_dot("emb", "emb")))

    bucket: Column = F.lit(0).cast("bigint")
    for j, plane in enumerate(PLANES):
        plane_col = F.array(*[F.lit(float(v)) for v in plane])
        dot_j = F.aggregate(
            F.zip_with(F.col("emb"), plane_col, lambda p, q: p * q),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        bucket = bucket + F.shiftleft((dot_j > 0).cast("bigint"), j)
    be = e.withColumn("bucket", bucket)

    q = be.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("emb").alias("qemb"),
        F.col("bucket").alias("qbucket"),
        F.col("norm").alias("qnorm"),
    )
    c = be.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("emb").alias("cemb"),
        F.col("bucket").alias("cbucket"),
        F.col("norm").alias("cnorm"),
    )
    cos = _dot("qemb", "cemb") / (F.col("qnorm") * F.col("cnorm"))
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        F.broadcast(q)
        .join(
            c,
            (F.col("cbucket") == F.col("qbucket"))
            & (F.col("neighbor_id") != F.col("query_id")),
        )
        .select(
            "query_id",
            "neighbor_id",
            F.col("qbucket").alias("bucket"),
            F.round(cos, 6).alias("cosine"),
        )
        .withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= TOP_K)
        .orderBy("query_id", "rank")
    )


K_CELLS = 4


def _centroids() -> list[list[float]]:
    """Deterministic coarse-quantizer centroids via the same LCG family as
    the LSH hyperplanes, scaled to the embedding value range [-0.5, 0.5]."""
    return [
        [(((1103515245 * (j * DIM + d) + 54321) % 1001) - 500) / 1000.0 for d in range(DIM)]
        for j in range(K_CELLS)
    ]


CENTROIDS = _centroids()


def _duck_cent_dot(j: int) -> str:
    lit = "[" + ", ".join(repr(v) for v in CENTROIDS[j]) + "]"
    return f"list_sum(list_transform(range(1, {DIM + 1}), i -> emb[i] * ({lit})[i]))"


def _duck_ivf_sql(nprobe: int) -> str:
    """Oracle SQL for IVF ANN with the top-``nprobe`` cells probed per query."""
    case_d = " ".join(f"WHEN {j} THEN d{j}" for j in range(K_CELLS))
    return f"""
    WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS emb
               FROM embeddings {_NONZERO_SQL}),
    scored_cells AS (
      SELECT vec_id, emb,
             sqrt(list_sum(list_transform(emb, x -> x * x))) AS norm,
             {", ".join(f"{_duck_cent_dot(j)} AS d{j}" for j in range(K_CELLS))}
      FROM e
    ),
    cells AS (
      SELECT vec_id, emb, norm,
             CASE {" ".join(f"WHEN d{j} = greatest({', '.join(f'd{i}' for i in range(K_CELLS))}) THEN {j}" for j in range(K_CELLS - 1))}
                  ELSE {K_CELLS - 1} END AS cell
      FROM scored_cells
    ),
    probes AS (
      SELECT vec_id, emb, norm, cell FROM (
        SELECT vec_id, emb, norm, cell,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY d DESC, cell) AS probe_rank
        FROM (
          SELECT sc.vec_id, sc.emb, sc.norm, t.j AS cell,
                 CASE t.j {case_d} END AS d
          FROM scored_cells sc CROSS JOIN range(0, {K_CELLS}) t(j)
          WHERE sc.vec_id < {N_QUERIES}
        )
      ) WHERE probe_rank <= {nprobe}
    ),
    pairs AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, c.cell,
             round(list_sum(list_transform(range(1, {DIM + 1}),
                                           i -> q.emb[i] * c.emb[i]))
                   / (q.norm * c.norm), 6) AS cosine
      FROM probes q JOIN cells c
        ON q.cell = c.cell AND c.vec_id <> q.vec_id
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id) AS rank
      FROM pairs
    )
    SELECT query_id, neighbor_id, CAST(cell AS BIGINT) AS cell, cosine, rank
    FROM ranked WHERE rank <= {TOP_K}
    ORDER BY query_id, rank
    """


def ivf_topk(spark: SparkSession, sf_dir: str, nprobe: int = 1) -> DataFrame:
    """IVF ANN with a tunable ``nprobe``: the index side assigns every vector
    to its max-inner-product centroid cell; each query probes its top-nprobe
    cells by centroid score and scans only those postings. nprobe is the
    recall/throughput dial — candidates grow ~linearly with it, recall
    monotonically approaches exact kNN (pinned in
    ``tests/test_round3_ops.py``). Probe selection is a per-query window over
    K_CELLS rows (partitioned by query, never global)."""
    (em,) = _t(spark, sf_dir, "embeddings")
    e = _nonzero(
        em.select("vec_id", F.col("embedding").cast("array<double>").alias("emb"))
    ).withColumn("norm", F.sqrt(_dot("emb", "emb")))

    def cent_dot(j: int) -> Column:
        lit = F.array(*[F.lit(v) for v in CENTROIDS[j]])
        return _dot(F.col("emb"), lit)

    scored = e.select(
        "vec_id", "emb", "norm", *[cent_dot(j).alias(f"d{j}") for j in range(K_CELLS)]
    )
    best = F.greatest(*[F.col(f"d{j}") for j in range(K_CELLS)])
    cell: Column = F.lit(K_CELLS - 1)
    for j in range(K_CELLS - 2, -1, -1):
        cell = F.when(F.col(f"d{j}") == best, j).otherwise(cell)
    cells = scored.select("vec_id", "emb", "norm", cell.cast("bigint").alias("cell"))

    wp = Window.partitionBy("query_id").orderBy(F.col("d").desc(), "cell")
    q = (
        scored.where(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("emb").alias("qemb"),
            F.col("norm").alias("qnorm"),
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(j).cast("bigint").alias("cell"),
                            F.col(f"d{j}").alias("d"),
                        )
                        for j in range(K_CELLS)
                    ]
                )
            ).alias("p"),
        )
        .select("query_id", "qemb", "qnorm", F.col("p.cell").alias("cell"), F.col("p.d").alias("d"))
        .withColumn("probe_rank", F.row_number().over(wp))
        .where(F.col("probe_rank") <= nprobe)
        .select("query_id", "qemb", "qnorm", "cell")
    )
    c = cells.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("emb").alias("cemb"),
        F.col("norm").alias("cnorm"),
        F.col("cell").alias("ccell"),
    )
    cos = _dot("qemb", "cemb") / (F.col("qnorm") * F.col("cnorm"))
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        F.broadcast(q)
        .join(c, (F.col("cell") == F.col("ccell")) & (F.col("neighbor_id") != F.col("query_id")))
        .select(
            "query_id",
            "neighbor_id",
            F.col("ccell").alias("cell"),
            F.round(cos, 6).alias("cosine"),
        )
        .withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= TOP_K)
        .orderBy("query_id", "rank")
    )


@register(
    "ann_ivf_cells",
    oracle=_duck_ivf_sql(1),
    tags=("similarity", "ann", "ivf", "topk-per-group"),
)
def ann_ivf_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN at nprobe=1: a coarse quantizer assigns every vector to
    its max-inner-product centroid cell (centroids are deterministic
    literals, so the whole index is oracle-hash-checkable); each query scans
    only its own cell — the candidate set shrinks ~K_CELLS-fold and the cell
    equi-join replaces the brute-force cross join. At 100 TB the cells become
    the partitioning key: each cell's postings co-locate on one shuffle
    partition, and recall is tuned by raising K_CELLS and ``nprobe``
    (see ``ann_ivf_cells_nprobe2``)."""
    return ivf_topk(spark, sf_dir, nprobe=1)


@register(
    "ann_ivf_cells_nprobe2",
    oracle=_duck_ivf_sql(2),
    tags=("similarity", "ann", "ivf", "nprobe", "topk-per-group"),
)
def ann_ivf_cells_nprobe2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN probing the top-2 centroid cells per query: double the
    candidate postings for strictly-no-worse recall — the standard IVF
    recall/throughput dial, demonstrated as a second registered point on the
    same index. Candidates from the two probed cells never overlap (each
    vector lives in exactly one cell), so no dedup step is needed."""
    return ivf_topk(spark, sf_dir, nprobe=2)


@register(
    "knn_cosine_matmul",
    oracle=f"""
    WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS emb
               FROM embeddings {_NONZERO_SQL}),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             round({_DUCK_PAIR_COS}, 6) AS cosine
      FROM e q JOIN e c ON q.vec_id < {N_QUERIES} AND c.vec_id <> q.vec_id
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, cosine, rank
    FROM ranked WHERE rank <= {TOP_K}
    ORDER BY query_id, rank
    """,
    tags=("similarity", "knn", "cosine", "pandas-udf", "mapInPandas"),
)
def knn_cosine_matmul(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k as a BLAS matrix multiply: the query matrix
    (k x d, provably small) ships to every partition inside the closure; each
    Arrow batch of corpus vectors computes batch @ Q.T in one numpy call and
    emits only its per-batch candidates, so the shuffle carries
    O(batches x k x TOP_K) rows, never the corpus. Same answer as
    knn_cosine_topk (same oracle), ~vector-width faster per pair than the
    per-row higher-order functions — the shape that keeps 100 TB of
    embeddings compute-bound instead of interpreter-bound."""
    import numpy as np

    (em,) = _t(spark, sf_dir, "embeddings")
    # NULL embeddings would make the collected query matrix / corpus batch
    # ragged; they carry no geometry, so drop them up front
    e = _nonzero(
        em.where(F.col("embedding").isNotNull()).select(
            "vec_id", F.col("embedding").cast("array<double>").alias("emb")
        )
    )

    qrows = e.where(F.col("vec_id") < N_QUERIES).collect()  # k rows, bounded
    if not qrows:  # empty corpus/query set: empty result, stable schema
        return spark.createDataFrame(
            [], "query_id long, neighbor_id long, cosine double, rank long"
        )
    q_ids = np.array([r["vec_id"] for r in qrows], dtype="int64")
    qm = np.array([r["emb"] for r in qrows], dtype="float64")
    qn = np.sqrt((qm * qm).sum(axis=1))

    def batches(it):
        for pdf in it:
            cm = np.array(pdf["emb"].tolist(), dtype="float64")
            ids = pdf["vec_id"].to_numpy(dtype="int64")
            cn = np.sqrt((cm * cm).sum(axis=1))
            cos = (cm @ qm.T) / np.outer(cn, qn)  # (batch, k)
            cos[ids[:, None] == q_ids[None, :]] = -np.inf  # mask self-pairs
            # Round HERE (half-away-from-zero, matching Spark/DuckDB ROUND;
            # np.round is banker's) and prune on the ROUNDED value: the
            # global ranking orders by rounded cosine with id tie-break, so
            # pruning on the raw value could drop a smaller-id candidate
            # that ties after rounding.
            cos = np.floor(np.abs(cos) * 1e6 + 0.5) / 1e6 * np.sign(cos)
            # per-batch top-k: global top-k is a subset of the union of
            # per-batch top-k, so each batch emits at most k x TOP_K rows.
            # Tie-break mirrors the global ranking (cosine desc, id asc).
            out_q, out_n, out_c = [], [], []
            for j in range(len(q_ids)):
                order = np.lexsort((ids, -cos[:, j]))[:TOP_K]
                keep = order[np.isfinite(cos[order, j])]
                out_q.append(np.full(len(keep), q_ids[j], dtype="int64"))
                out_n.append(ids[keep])
                out_c.append(cos[keep, j])
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(out_q),
                    "neighbor_id": np.concatenate(out_n),
                    "cosine": np.concatenate(out_c),
                }
            )

    import pandas as pd  # noqa: F811  (local for executor pickling)

    scored = e.mapInPandas(
        batches, schema="query_id long, neighbor_id long, cosine double"
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        scored.select("query_id", "neighbor_id", "cosine")  # already rounded
        .withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= TOP_K)
        .orderBy("query_id", "rank")
    )


# ------------------------------------------------- scalar quantization (SQ8)

_DUCK_DEQUANT = """
    SELECT vec_id,
           list_transform(emb, x ->
             CASE WHEN mx = mn THEN mn
                  ELSE mn + floor((x - mn) / (mx - mn) * 255 + 0.5)
                       / 255.0 * (mx - mn)
             END) AS emb
    FROM (SELECT vec_id, emb, list_min(emb) AS mn, list_max(emb) AS mx
          FROM e)
"""


@register(
    "ann_scalar_quantized",
    oracle=f"""
    WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS emb
               FROM embeddings {_NONZERO_SQL}),
    dq_all AS ({_DUCK_DEQUANT}),
    dq AS (SELECT * FROM dq_all
           WHERE list_sum(list_transform(emb, x -> x * x)) > 0),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             round({_DUCK_PAIR_COS}, 6) AS cosine_q
      FROM dq q JOIN dq c ON q.vec_id < {N_QUERIES} AND c.vec_id <> q.vec_id
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine_q DESC, neighbor_id) AS rank
      FROM scored
    ),
    exact_scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             round({_DUCK_PAIR_COS}, 6) AS cosine
      FROM e q JOIN e c ON q.vec_id < {N_QUERIES} AND c.vec_id <> q.vec_id
    ),
    exact_topk AS (
      SELECT query_id, neighbor_id FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, neighbor_id) AS rank
        FROM exact_scored
      ) WHERE rank <= {TOP_K}
    )
    SELECT r.query_id AS query_id, CAST(r.rank AS BIGINT) AS rank,
           r.neighbor_id AS neighbor_id, r.cosine_q,
           x.neighbor_id IS NOT NULL AS in_exact_topk
    FROM ranked r
    LEFT JOIN exact_topk x
      ON x.query_id = r.query_id AND x.neighbor_id = r.neighbor_id
    WHERE r.rank <= {TOP_K}
    ORDER BY r.query_id, r.rank
    """,
    tags=("similarity", "ann", "quantization", "sq8", "topk-per-group"),
)
def ann_scalar_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQ8 scalar quantization — the memory-compression path for 100 TB of
    embeddings: each vector stores 8-bit codes + per-vector (min, max), a 4×
    cut over float32 (the codes are materialized here then dequantized for
    scoring, which is how SQ8 indexes score too). Top-k runs on dequantized
    vectors; each result row carries ``in_exact_topk`` so the recall cost of
    quantization is part of the checked output, not folklore. Quantize /
    dequantize use floor(x + 0.5) — identical in both engines, so even this
    approximate path hash-matches the oracle."""
    (em,) = _t(spark, sf_dir, "embeddings")
    e = _nonzero(
        em.select("vec_id", F.col("embedding").cast("array<double>").alias("emb"))
    )

    def topk(vecs: DataFrame, score_name: str) -> DataFrame:
        # a NONZERO vector can still dequantize to the zero vector on
        # adversarial grids — guard the reconstructed norm like the base one
        v = vecs.withColumn("norm", F.sqrt(_dot("emb", "emb"))).where(
            F.col("norm") > 0
        )
        q = v.where(F.col("vec_id") < N_QUERIES).select(
            F.col("vec_id").alias("query_id"),
            F.col("emb").alias("qemb"),
            F.col("norm").alias("qnorm"),
        )
        scored = (
            v.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
            .select(
                "query_id",
                F.col("vec_id").alias("neighbor_id"),
                F.round(
                    _dot("emb", "qemb") / (F.col("norm") * F.col("qnorm")), 6
                ).alias(score_name),
            )
        )
        w = Window.partitionBy("query_id").orderBy(
            F.col(score_name).desc(), "neighbor_id"
        )
        return scored.withColumn("rank", F.row_number().over(w).cast("bigint")).where(
            F.col("rank") <= TOP_K
        )

    mn, mx = F.col("mn"), F.col("mx")
    dq = (
        e.select("vec_id", "emb", F.array_min("emb").alias("mn"),
                 F.array_max("emb").alias("mx"))
        .select(
            "vec_id",
            F.transform(
                "emb",
                lambda x: F.when(mx == mn, mn).otherwise(
                    mn + F.floor((x - mn) / (mx - mn) * 255 + 0.5) / 255.0 * (mx - mn)
                ),
            ).alias("emb"),
        )
    )
    approx = topk(dq, "cosine_q")
    exact = topk(e, "cosine").select("query_id", F.col("neighbor_id").alias("x_nid"))
    return (
        approx.join(
            exact,
            (approx.query_id == exact.query_id)
            & (approx.neighbor_id == exact.x_nid),
            "left",
        )
        .select(
            approx.query_id,
            "rank",
            "neighbor_id",
            "cosine_q",
            F.col("x_nid").isNotNull().alias("in_exact_topk"),
        )
        .orderBy("query_id", "rank")
    )


HARD_NEG_K = 5


@register(
    "mine_hard_negatives",
    oracle=f"""
    WITH e AS (SELECT vec_id, label,
                      list_transform(embedding, x -> x::DOUBLE) AS emb
               FROM embeddings {_NONZERO_SQL}),
    scored AS (
      SELECT q.vec_id AS query_id, q.label AS query_label,
             c.vec_id AS neighbor_id,
             round({_DUCK_PAIR_COS}, 6) AS cosine
      FROM e q JOIN e c
        ON q.vec_id < {N_QUERIES} AND c.vec_id <> q.vec_id
       AND c.label <> q.label
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id) AS neg_rank
      FROM scored
    )
    SELECT query_id, CAST(query_label AS BIGINT) AS query_label,
           neighbor_id, cosine, neg_rank
    FROM ranked WHERE neg_rank <= {HARD_NEG_K}
    ORDER BY query_id, neg_rank
    """,
    tags=("similarity", "hard-negatives", "contrastive", "curation"),
)
def mine_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training data: per query vector,
    the k most-similar vectors with a DIFFERENT label — the negatives a
    contrastive loss learns most from. Same broadcast-query / parallel-scan
    shape as ``knn_cosine_topk`` with the label inequality folded into the
    join (pushed before the dot product, so mismatched pairs never compute
    one)."""
    (em,) = _t(spark, sf_dir, "embeddings")
    e = _nonzero(
        em.select(
            "vec_id", "label", F.col("embedding").cast("array<double>").alias("emb")
        )
    ).withColumn("norm", F.sqrt(_dot("emb", "emb")))
    q = e.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("query_label"),
        F.col("emb").alias("qemb"),
        F.col("norm").alias("qnorm"),
    )
    c = e.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("c_label"),
        F.col("emb").alias("cemb"),
        F.col("norm").alias("cnorm"),
    )
    cos = _dot("qemb", "cemb") / (F.col("qnorm") * F.col("cnorm"))
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), "neighbor_id")
    return (
        F.broadcast(q)
        .join(
            c,
            (F.col("neighbor_id") != F.col("query_id"))
            & (F.col("c_label") != F.col("query_label")),
        )
        .select(
            "query_id",
            F.col("query_label").cast("bigint").alias("query_label"),
            "neighbor_id",
            F.round(cos, 6).alias("cosine"),
        )
        .withColumn("neg_rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("neg_rank") <= HARD_NEG_K)
        .orderBy("query_id", "neg_rank")
    )


# ------------------------------------------- product quantization (PQ ADC)

PQ_M = 16  # subspaces
PQ_SUBDIM = DIM // PQ_M  # 4 dims per subspace
PQ_K = 16  # codebook entries per subspace
PQ_SEED_BASE = 10  # codebook entry j = subvectors of vec_id PQ_SEED_BASE + j


# Shared by ann_ivf_pq (relational ADC join) and ann_ivf_pq_packed (packed
# codes + broadcast LUT fold): both compute the identical PQ scoring, so one
# oracle checks both — any divergence between the two Spark paths shows up as
# exactly one of them failing the hash.
_PQ_ADC_ORACLE = f"""
    WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS emb
               FROM embeddings {_NONZERO_SQL}),
    subs AS (
      SELECT vec_id, m::BIGINT AS m,
             list_slice(emb, m * {PQ_SUBDIM} + 1, m * {PQ_SUBDIM} + {PQ_SUBDIM})
               AS sub
      FROM e CROSS JOIN range({PQ_M}) t(m)
    ),
    seed_subs AS (
      SELECT vec_id - {PQ_SEED_BASE} AS j, m, sub AS ssub,
             list_sum(list_transform(sub, x -> x * x)) AS ssub_normsq
      FROM subs
      WHERE vec_id >= {PQ_SEED_BASE} AND vec_id < {PQ_SEED_BASE + PQ_K}
    ),
    dists AS (
      SELECT c.vec_id, c.m, s.j,
             list_sum(list_transform(range(1, {PQ_SUBDIM + 1}),
                      i -> (c.sub[i] - s.ssub[i]) * (c.sub[i] - s.ssub[i])))
               AS d,
             s.ssub_normsq
      FROM subs c JOIN seed_subs s USING (m)
    ),
    codes AS (
      SELECT vec_id, m,
             (min({{'d': d, 'j': j}})).j AS code,
             (min({{'d': d, 'j': j, 'n': ssub_normsq}})).n AS code_normsq
      FROM dists GROUP BY vec_id, m
    ),
    corpus AS (
      SELECT vec_id,
             string_agg(code::VARCHAR, '_' ORDER BY m) AS pq_code,
             sqrt(sum(code_normsq)) AS cnorm
      FROM codes GROUP BY vec_id
    ),
    qdots AS (
      SELECT c.vec_id AS query_id, c.m, s.j,
             list_sum(list_transform(range(1, {PQ_SUBDIM + 1}),
                      i -> c.sub[i] * s.ssub[i])) AS qd
      FROM subs c JOIN seed_subs s USING (m)
      WHERE c.vec_id < {N_QUERIES}
    ),
    qnorms AS (
      SELECT vec_id AS query_id,
             sqrt(list_sum(list_transform(emb, x -> x * x))) AS qnorm
      FROM e WHERE vec_id < {N_QUERIES}
    ),
    adc AS (
      SELECT q.query_id, k.vec_id AS neighbor_id, sum(q.qd) AS dot_pq
      FROM codes k JOIN qdots q ON q.m = k.m AND q.j = k.code
      GROUP BY q.query_id, k.vec_id
    ),
    scored AS (
      SELECT a.query_id, a.neighbor_id, c.pq_code,
             round(a.dot_pq / (n.qnorm * c.cnorm), 6) AS cosine_pq
      FROM adc a
      JOIN corpus c ON c.vec_id = a.neighbor_id
      JOIN qnorms n USING (query_id)
      WHERE a.neighbor_id <> a.query_id AND c.cnorm > 0
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine_pq DESC, neighbor_id) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, pq_code, cosine_pq, rank
    FROM ranked WHERE rank <= {TOP_K}
    ORDER BY query_id, rank
    """


def _pq_encode(spark: SparkSession, sf_dir: str):
    """Shared PQ encoding stage: returns ``(codes, qdots, qnorms)`` —
    per-(vec_id, subspace) nearest-codebook codes (checkpointed: the N x 16
    relation feeds both the corpus rollup and scoring; without lineage
    truncation each subtree re-runs the dists join + argmin, the plan's
    dominant cost), the query ADC lookup table (query x subspace x code dot
    products), and exact query norms."""
    (em,) = _t(spark, sf_dir, "embeddings")
    e = _nonzero(
        em.select("vec_id", F.col("embedding").cast("array<double>").alias("emb"))
    )

    ms = F.array(*[F.lit(m) for m in range(PQ_M)])
    subs = e.select(
        "vec_id",
        F.explode(ms).alias("m"),
        "emb",
    ).select(
        "vec_id",
        F.col("m").cast("bigint").alias("m"),
        F.expr(f"slice(emb, m * {PQ_SUBDIM} + 1, {PQ_SUBDIM})").alias("sub"),
    )
    seed_subs = (
        subs.where(
            (F.col("vec_id") >= PQ_SEED_BASE) & (F.col("vec_id") < PQ_SEED_BASE + PQ_K)
        )
        .select(
            (F.col("vec_id") - PQ_SEED_BASE).alias("j"),
            "m",
            F.col("sub").alias("ssub"),
            _dot("sub", "sub").alias("ssub_normsq"),
        )
    )
    # Unrolled subvector distance (round 6): higher-order functions are
    # codegen-fallback in Spark, so a zip_with/aggregate fold evaluated
    # N x K times per subspace (the plan's hottest expression — 12.8M
    # evaluations at sf0.1) runs interpreted. At PQ_SUBDIM=4 the unrolled
    # element_at arithmetic stays inside whole-stage codegen and is
    # bit-identical (same (p-q)*(p-q) per dimension, same left-to-right
    # addition order). Measured min-of-5 at sf0.1: packed 1.60->1.26s,
    # code-long 1.21->1.03s, outputs exactly equal.
    _diffs = [
        F.element_at("sub", d) - F.element_at("ssub", d)
        for d in range(1, PQ_SUBDIM + 1)
    ]
    sqdist = sum(dd * dd for dd in _diffs)
    dists = subs.join(F.broadcast(seed_subs), "m").select(
        "vec_id", "m", "j", sqdist.alias("d"), "ssub_normsq"
    )
    best = F.min(
        F.struct(
            F.col("d").alias("d"), F.col("j").alias("j"), F.col("ssub_normsq").alias("n")
        )
    )
    codes = (
        dists.groupBy("vec_id", "m")
        .agg(best.getField("j").alias("code"), best.getField("n").alias("code_normsq"))
        .localCheckpoint(eager=False)
    )
    qdots = (
        subs.where(F.col("vec_id") < N_QUERIES)
        .join(F.broadcast(seed_subs), "m")
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("m").alias("qm"),
            "j",
            _dot("sub", "ssub").alias("qd"),
        )
    )
    qnorms = e.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.sqrt(_dot("emb", "emb")).alias("qnorm")
    )
    return codes, qdots, qnorms


@register(
    "ann_ivf_pq",
    oracle=_PQ_ADC_ORACLE,
    tags=("similarity", "ann", "product-quantization", "adc", "topk-per-group"),
)
def ann_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN with asymmetric distance computation (ADC):
    the 64-dim space splits into 16 subspaces; each corpus subvector encodes
    as the id of its nearest codebook entry, so a vector carries 16 small
    codes instead of 64 floats — the order-of-magnitude memory cut that fits
    a 100 TB embedding corpus in cluster RAM. Codebooks are TRAINED FROM THE
    DATA (entry j = the subvectors of corpus row PQ_SEED_BASE+j — a
    deterministic sample, the degenerate-but-exact form of k-means PQ
    training), so quantization cells follow the data distribution instead of
    a fixed grid. Queries precompute dot products against every codebook
    entry; scoring a candidate is 16 lookups summed — the ADC trick, here as
    an equi-join on (subspace, code) so Catalyst plans it like any other
    join. Everything is relational and deterministic (argmin tie-breaks by
    lowest code via lexicographic struct-min on both engines), so codes,
    reconstructed norms, and approximate cosines hash-match the oracle.

    Scale shape: encoding is one corpus x 16-codebook-row join (broadcast),
    one groupBy per (vector, subspace); scoring shuffles the code-long form
    — at production scale you pivot the query lookup table wide and keep
    codes packed in one array column instead, same semantics. (Measured
    alternative: inlining the codebook as a literal nested array and doing
    the argmin as a per-row transform+array_min fold was 2.4x SLOWER at
    sf0.1 — and re-measured in round 6 with the codebook bound to a
    BROADCAST COLUMN instead of a literal (ruling out the per-element
    lambda-subtree re-evaluation pitfall): still 2.6x slower, answers
    identical. The nested 16x16 zip_with/aggregate fold falls out of
    whole-stage codegen no matter how the codebook is bound, while the
    broadcast join + partial-agg argmin stays inside it. The join shape
    stands on measurement, not aesthetics.) Recall at
    16 subspaces x 16 entries is ~35%@5 on the synthetic corpus
    (tests/test_round2_ops.py pins a floor); raising PQ_K and adding a Lloyd
    refinement (kmeans_lloyd_embeddings shows the pattern) trades memory for
    recall."""
    codes, qdots, qnorms = _pq_encode(spark, sf_dir)
    corpus = codes.groupBy("vec_id").agg(
        F.concat_ws(
            "_",
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            F.col("m"), F.col("code").cast("string").alias("code")
                        )
                    )
                ),
                lambda s: s["code"],
            ),
        ).alias("pq_code"),
        F.sqrt(F.sum("code_normsq")).alias("cnorm"),
    )
    adc = (
        codes.join(
            F.broadcast(qdots),
            (F.col("qm") == F.col("m")) & (F.col("j") == F.col("code")),
        )
        .groupBy("query_id", "vec_id")
        .agg(F.sum("qd").alias("dot_pq"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine_pq").desc(), "neighbor_id")
    return (
        adc.withColumnRenamed("vec_id", "neighbor_id")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .join(corpus.withColumnRenamed("vec_id", "neighbor_id"), "neighbor_id")
        .join(F.broadcast(qnorms), "query_id")
        # all-zero codebook assignments reconstruct to the zero vector even
        # for a nonzero input — exclude them like the base zero vectors
        .where(F.col("cnorm") > 0)
        .select(
            "query_id",
            "neighbor_id",
            "pq_code",
            F.round(F.col("dot_pq") / (F.col("qnorm") * F.col("cnorm")), 6).alias(
                "cosine_pq"
            ),
        )
        .withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= TOP_K)
        .orderBy("query_id", "rank")
    )


@register(
    "ann_ivf_pq_packed",
    oracle=_PQ_ADC_ORACLE,
    tags=("similarity", "ann", "product-quantization", "adc", "packed-codes"),
)
def ann_ivf_pq_packed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production-scale form of ``ann_ivf_pq``'s ADC scoring (same codes,
    same answers, one oracle checks both): the 16 codes pack into ONE array
    column per corpus vector, the per-query lookup table pivots WIDE (a
    16 x 16 nested double array) and rides along as a broadcast, and the
    asymmetric distance is a ``zip_with`` + ``aggregate`` fold — 16 array
    lookups summed per (candidate, query) row. (Higher-order functions are
    codegen-fallback, but at |corpus| x |queries| fold evaluations this is
    not the hot expression: unrolling it to element_at arithmetic measured
    a wash at sf0.1 — unlike the encode-stage distance, where the same
    unroll bought 20%+, see ``_pq_encode``.) The code-long
    scoring join (and its per-code shuffle of |corpus| x 16 rows) disappears:
    after encoding, the only exchanges are the pack rollup and the bounded
    per-query top-k.

    Scale shape: scoring is a map-only pass over the packed corpus — each
    candidate row does PQ_M O(1) lookups against the broadcast LUT, which is
    |queries| x PQ_M x PQ_K doubles (a few KB per thousand queries). This is
    exactly how FAISS-style IVFADC scans cells: codes contiguous in memory,
    LUT in cache. At 100 TB the packed table is ~16 bytes/vector + norm, and
    adding an IVF cell filter (``ann_ivf_cells``) before this scan bounds
    the candidates per query without changing the scoring plan."""
    codes, qdots, qnorms = _pq_encode(spark, sf_dir)
    packed = codes.groupBy("vec_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct(F.col("m"), F.col("code")))),
            lambda s: s["code"].cast("int"),
        ).alias("codes"),
        F.concat_ws(
            "_",
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(F.col("m"), F.col("code").cast("string").alias("code"))
                    )
                ),
                lambda s: s["code"],
            ),
        ).alias("pq_code"),
        F.sqrt(F.sum("code_normsq")).alias("cnorm"),
    )
    # LUT wide: lut[m][j] = <query subvector m, codebook entry j>. The inner
    # row is built DENSE over j = 0..PQ_K-1 via a key lookup (a zero-norm or
    # NULL seed vector is excluded from the codebook, leaving a hole; the
    # former sorted-collect layout shifted every entry after a missing j, so
    # the positional element_at(row, code+1) read the wrong — or an out-of-
    # bounds — slot. Codes never reference a missing j, so holes fill with
    # 0.0. Found by the null-injection suite after the zero-norm base filter
    # landed.)
    lut_rows = (
        qdots.groupBy("query_id", "qm")
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct(F.col("j"), F.col("qd")))
            ).alias("qd_map")
        )
        .select(
            "query_id",
            "qm",
            F.transform(
                F.sequence(F.lit(0), F.lit(PQ_K - 1)),
                lambda jj: F.coalesce(
                    F.try_element_at(F.col("qd_map"), jj), F.lit(0.0)
                ),
            ).alias("qd_row"),
        )
    )
    lut = (
        lut_rows.groupBy("query_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct(F.col("qm"), F.col("qd_row")))),
                lambda s: s["qd_row"],
            ).alias("lut")
        )
        .join(qnorms, "query_id")
    )
    # ADC fold: dot_pq = sum_m lut[m][codes[m]] — zip the packed codes with
    # the LUT rows, pick the coded entry from each row, sum. No join, no
    # shuffle; one projection per (candidate, query) pair.
    dot_pq = F.aggregate(
        F.zip_with("codes", "lut", lambda c, row: F.element_at(row, c + F.lit(1))),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine_pq").desc(), "neighbor_id")
    return (
        packed.withColumnRenamed("vec_id", "neighbor_id")
        .crossJoin(F.broadcast(lut))
        .where((F.col("neighbor_id") != F.col("query_id")) & (F.col("cnorm") > 0))
        .select(
            "query_id",
            "neighbor_id",
            "pq_code",
            F.round(dot_pq / (F.col("qnorm") * F.col("cnorm")), 6).alias("cosine_pq"),
        )
        .withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= TOP_K)
        .orderBy("query_id", "rank")
    )


# --------------------------------------------- two-stage retrieve-then-rerank

RERANK_CANDIDATES = 30  # stage-1 shortlist size per query (6x the final k)


@register(
    "ann_two_stage_rerank",
    oracle=f"""
    WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS emb
               FROM embeddings {_NONZERO_SQL}),
    dq_all AS ({_DUCK_DEQUANT}),
    dq AS (SELECT * FROM dq_all
           WHERE list_sum(list_transform(emb, x -> x * x)) > 0),
    coarse AS (
      SELECT query_id, neighbor_id, rank AS coarse_rank FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY q.vec_id
                                  ORDER BY round({_DUCK_PAIR_COS}, 6) DESC,
                                           c.vec_id) AS rank
        FROM dq q JOIN dq c ON q.vec_id < {N_QUERIES} AND c.vec_id <> q.vec_id
      ) WHERE rank <= {RERANK_CANDIDATES}
    ),
    rer AS (
      SELECT s.query_id, s.neighbor_id, CAST(s.coarse_rank AS BIGINT) AS coarse_rank,
             round({_DUCK_PAIR_COS}, 6) AS cosine
      FROM coarse s
      JOIN e q ON q.vec_id = s.query_id
      JOIN e c ON c.vec_id = s.neighbor_id
    )
    SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, cosine, coarse_rank
    FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id) AS rank
      FROM rer
    ) WHERE rank <= {TOP_K}
    ORDER BY query_id, rank
    """,
    tags=("similarity", "ann", "rerank", "two-stage", "sq8"),
)
def ann_two_stage_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieve-then-rerank, the production retrieval shape: stage 1 scores
    CHEAP representations (SQ8 dequantized codes — in a real index these
    live in memory at 1/4 the footprint) and keeps a per-query shortlist of
    RERANK_CANDIDATES; stage 2 re-scores ONLY the shortlist with exact
    float vectors. At 100 TB the exact scorer — the expensive part — touches
    |queries| x 30 rows instead of the corpus: the shortlist is the join
    key, so full-precision vectors are fetched by an equi-join on vec_id,
    never scanned. Output carries both ranks, so the reordering stage-2
    applies to stage-1's list is visible and checked.

    Coarse stage reuses the SQ8 scoring from ``ann_scalar_quantized``;
    rounding before ranking keeps both engines' orderings identical."""
    (em,) = _t(spark, sf_dir, "embeddings")
    e = _nonzero(
        em.select("vec_id", F.col("embedding").cast("array<double>").alias("emb"))
    )
    mn, mx = F.col("mn"), F.col("mx")
    dq = (
        e.select("vec_id", "emb", F.array_min("emb").alias("mn"),
                 F.array_max("emb").alias("mx"))
        .select(
            "vec_id",
            F.transform(
                "emb",
                lambda x: F.when(mx == mn, mn).otherwise(
                    mn + F.floor((x - mn) / (mx - mn) * 255 + 0.5) / 255.0 * (mx - mn)
                ),
            ).alias("emb"),
        )
    )

    def shortlist(vecs: DataFrame, keep: int) -> DataFrame:
        # a NONZERO vector can still dequantize to the zero vector on
        # adversarial grids (all entries on the same side of a coarse grid
        # cell) — guard the reconstructed norm exactly like
        # ann_scalar_quantized does, with the matching dq filter in the
        # oracle, or the coarse cosine divides by zero under ANSI mode.
        v = vecs.withColumn("norm", F.sqrt(_dot("emb", "emb"))).where(
            F.col("norm") > 0
        )
        q = v.where(F.col("vec_id") < N_QUERIES).select(
            F.col("vec_id").alias("query_id"),
            F.col("emb").alias("qemb"),
            F.col("norm").alias("qnorm"),
        )
        scored = v.join(F.broadcast(q), F.col("vec_id") != F.col("query_id")).select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(_dot("emb", "qemb") / (F.col("norm") * F.col("qnorm")), 6).alias("s"),
        )
        w = Window.partitionBy("query_id").orderBy(F.col("s").desc(), "neighbor_id")
        return scored.withColumn("rank", F.row_number().over(w).cast("bigint")).where(
            F.col("rank") <= keep
        )

    coarse = shortlist(dq, RERANK_CANDIDATES).select(
        "query_id", "neighbor_id", F.col("rank").alias("coarse_rank")
    )
    qx = e.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("emb").alias("qemb"),
        F.sqrt(_dot("emb", "emb")).alias("qnorm"),
    )
    cx = e.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("emb").alias("cemb"),
        F.sqrt(_dot("emb", "emb")).alias("cnorm"),
    )
    rer = (
        coarse.join(cx, "neighbor_id")
        .join(F.broadcast(qx), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            "coarse_rank",
            F.round(_dot("cemb", "qemb") / (F.col("cnorm") * F.col("qnorm")), 6).alias(
                "cosine"
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), "neighbor_id")
    return (
        rer.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= TOP_K)
        .select("query_id", "rank", "neighbor_id", "cosine", "coarse_rank")
        .orderBy("query_id", "rank")
    )


# ------------------------------------------- PQ with one Lloyd refinement

_DUCK_SUBDIST = (
    "list_sum(list_transform(range(1, 5), i -> (s.sub[i] - cb.csub[i])"
    " * (s.sub[i] - cb.csub[i])))"
)


@register(
    "ann_pq_lloyd_refined",
    oracle=f"""
    WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS emb
               FROM embeddings {_NONZERO_SQL}),
    subs AS (
      SELECT vec_id, t.m,
             e.emb[(t.m * {PQ_SUBDIM} + 1):(t.m * {PQ_SUBDIM} + {PQ_SUBDIM})] AS sub
      FROM e CROSS JOIN range(0, {PQ_M}) t(m)
    ),
    seeds AS (
      SELECT m, vec_id - {PQ_SEED_BASE} AS j, sub AS csub
      FROM subs
      WHERE vec_id >= {PQ_SEED_BASE} AND vec_id < {PQ_SEED_BASE + PQ_K}
    ),
    assign0 AS (
      SELECT vec_id, m, j AS code FROM (
        SELECT s.vec_id, s.m, cb.j,
               row_number() OVER (
                 PARTITION BY s.vec_id, s.m
                 ORDER BY {_DUCK_SUBDIST.replace('cb.csub', 'cb.csub')}, cb.j) AS rn
        FROM subs s JOIN seeds cb ON cb.m = s.m
      ) WHERE rn = 1
    ),
    cent_dims AS (
      SELECT a.m, a.code, i.i, round(avg(s.sub[i.i]), 6) AS c
      FROM assign0 a
      JOIN subs s ON s.vec_id = a.vec_id AND s.m = a.m
      CROSS JOIN range(1, {PQ_SUBDIM} + 1) i(i)
      GROUP BY a.m, a.code, i.i
    ),
    cent AS (
      SELECT m, code AS j, list(c ORDER BY i) AS csub
      FROM cent_dims GROUP BY m, code
    ),
    refined AS (
      SELECT sd.m, sd.j, coalesce(c.csub, sd.csub) AS csub,
             list_sum(list_transform(coalesce(c.csub, sd.csub), v -> v * v))
               AS normsq
      FROM seeds sd LEFT JOIN cent c ON c.m = sd.m AND c.j = sd.j
    ),
    codes AS (
      SELECT vec_id, m, j AS code, normsq AS code_normsq FROM (
        SELECT s.vec_id, s.m, cb.j, cb.normsq,
               row_number() OVER (
                 PARTITION BY s.vec_id, s.m
                 ORDER BY {_DUCK_SUBDIST}, cb.j) AS rn
        FROM subs s JOIN refined cb ON cb.m = s.m
      ) WHERE rn = 1
    ),
    corpus AS (
      SELECT vec_id, sqrt(sum(code_normsq)) AS cnorm
      FROM codes GROUP BY vec_id
    ),
    qdots AS (
      SELECT s.vec_id AS query_id, s.m AS qm, cb.j,
             list_sum(list_transform(range(1, {PQ_SUBDIM} + 1),
                                     i -> s.sub[i] * cb.csub[i])) AS qd
      FROM subs s JOIN refined cb ON cb.m = s.m
      WHERE s.vec_id < {N_QUERIES}
    ),
    qnorms AS (
      SELECT vec_id AS query_id,
             sqrt(list_sum(list_transform(emb, v -> v * v))) AS qnorm
      FROM e WHERE vec_id < {N_QUERIES}
    ),
    adc AS (
      SELECT q.query_id, c.vec_id AS neighbor_id, sum(q.qd) AS dot_pq
      FROM codes c JOIN qdots q ON q.qm = c.m AND q.j = c.code
      WHERE c.vec_id <> q.query_id
      GROUP BY 1, 2
    )
    SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, cosine_pq
    FROM (
      SELECT a.query_id, a.neighbor_id,
             round(a.dot_pq / (qn.qnorm * co.cnorm), 6) AS cosine_pq,
             row_number() OVER (
               PARTITION BY a.query_id
               ORDER BY round(a.dot_pq / (qn.qnorm * co.cnorm), 6) DESC,
                        a.neighbor_id) AS rank
      FROM adc a
      JOIN corpus co ON co.vec_id = a.neighbor_id
      JOIN qnorms qn ON qn.query_id = a.query_id
      WHERE co.cnorm > 0
    ) WHERE rank <= {TOP_K}
    ORDER BY query_id, rank
    """,
    tags=("similarity", "ann", "product-quantization", "lloyd", "adc"),
)
def ann_pq_lloyd_refined(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``ann_ivf_pq``'s documented upgrade path, delivered: ONE Lloyd
    refinement of the seed codebooks — assign every corpus subvector to its
    nearest seed entry, recenter each entry at the per-dimension MEAN of its
    assignees (empty cells keep their seed), re-encode against the refined
    codebook, then the same ADC scoring. Quantization cells move from
    "wherever the 16 seed rows happened to sit" to actual density centers,
    which is what lifts recall (pinned vs the unrefined base in
    tests/test_round3b_ops.py). Centroids round to 6 decimals before any
    distance so the distributed mean's summation order can't leak into the
    checked output; further Lloyd sweeps iterate the same two steps.

    Scale shape: same as the base op — assignment is a broadcast
    corpus x codebook join + per-(vector, subspace) argmin; recentering is
    one map-side-combined mean over (subspace, code, dim) cells (PQ_M x
    PQ_K x PQ_SUBDIM rows regardless of corpus size); the refined codebook
    broadcasts back. Cost per sweep = one extra pass over the code-long
    form."""
    (em,) = _t(spark, sf_dir, "embeddings")
    e = _nonzero(
        em.select("vec_id", F.col("embedding").cast("array<double>").alias("emb"))
    )
    ms = F.array(*[F.lit(m) for m in range(PQ_M)])
    subs = e.select("vec_id", F.explode(ms).alias("m"), "emb").select(
        "vec_id",
        F.col("m").cast("bigint").alias("m"),
        F.expr(f"slice(emb, m * {PQ_SUBDIM} + 1, {PQ_SUBDIM})").alias("sub"),
    ).localCheckpoint(eager=False)  # feeds assign, recenter, re-encode, qdots
    seeds = subs.where(
        (F.col("vec_id") >= PQ_SEED_BASE) & (F.col("vec_id") < PQ_SEED_BASE + PQ_K)
    ).select(
        "m", (F.col("vec_id") - PQ_SEED_BASE).alias("j"), F.col("sub").alias("csub")
    )

    def _sqd() -> Column:
        # Unrolled PQ_SUBDIM=4 distance, same as ``_pq_encode`` (round 6):
        # the zip_with fold runs interpreted and this is the plan's hottest
        # expression — it rides BOTH assignment passes (seed + refined),
        # 2 x N x PQ_M x PQ_K evaluations. Bit-identical (same per-dim
        # (p-q)*(p-q), same left-to-right addition). Round 11: 2.42 ->
        # 2.18 s noop-min at sf0.1 (min-of-4, back-to-back).
        diffs = [
            F.element_at("sub", d) - F.element_at("csub", d)
            for d in range(1, PQ_SUBDIM + 1)
        ]
        return sum(dd * dd for dd in diffs)

    def _assign(codebook: DataFrame, carry_normsq: bool) -> DataFrame:
        cols = [F.col("d").alias("d"), F.col("j").alias("j")]
        if carry_normsq:
            cols.append(F.col("normsq").alias("n"))
        best = F.min(F.struct(*cols))
        d = subs.join(F.broadcast(codebook), "m").select(
            "vec_id",
            "m",
            _sqd().alias("d"),
            "j",
            *([F.col("normsq")] if carry_normsq else []),
        )
        agg = [best.getField("j").alias("code")]
        if carry_normsq:
            agg.append(best.getField("n").alias("code_normsq"))
        return d.groupBy("vec_id", "m").agg(*agg)

    assign0 = _assign(seeds, carry_normsq=False)
    cent = (
        assign0.join(subs, ["vec_id", "m"])
        .select("m", "code", F.posexplode("sub").alias("pos", "v"))
        .groupBy("m", "code", "pos")
        .agg(F.round(F.avg("v"), 6).alias("c"))
        .groupBy("m", F.col("code").alias("j"))
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("pos"), F.col("c").alias("c")))
                ),
                lambda s: s["c"],
            ).alias("csub")
        )
    )
    refined = (
        seeds.alias("sd")
        .join(cent.alias("c"), ["m", "j"], "left")
        .select(
            "m",
            "j",
            F.coalesce(F.col("c.csub"), F.col("sd.csub")).alias("csub"),
        )
        .withColumn(
            "normsq",
            F.aggregate(
                F.transform("csub", lambda v: v * v),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ),
        )
        .localCheckpoint(eager=False)  # feeds re-encode AND qdots
    )
    codes = _assign(refined, carry_normsq=True).localCheckpoint(eager=False)
    corpus = codes.groupBy("vec_id").agg(
        F.sqrt(F.sum("code_normsq")).alias("cnorm")
    ).where(F.col("cnorm") > 0)  # zero-reconstruction guard, as in ann_ivf_pq
    qdots = (
        subs.where(F.col("vec_id") < N_QUERIES)
        .join(F.broadcast(refined), "m")
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("m").alias("qm"),
            "j",
            _dot("sub", "csub").alias("qd"),
        )
    )
    qnorms = e.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.sqrt(_dot("emb", "emb")).alias("qnorm")
    )
    adc = (
        codes.join(
            F.broadcast(qdots),
            (F.col("qm") == F.col("m")) & (F.col("j") == F.col("code")),
        )
        .where(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", "vec_id")
        .agg(F.sum("qd").alias("dot_pq"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine_pq").desc(), "neighbor_id")
    return (
        adc.withColumnRenamed("vec_id", "neighbor_id")
        .join(corpus.withColumnRenamed("vec_id", "neighbor_id"), "neighbor_id")
        .join(F.broadcast(qnorms), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(F.col("dot_pq") / (F.col("qnorm") * F.col("cnorm")), 6).alias(
                "cosine_pq"
            ),
        )
        .withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= TOP_K)
        .select("query_id", "rank", "neighbor_id", "cosine_pq")
        .orderBy("query_id", "rank")
    )


# ------------------------------- embedding-space outliers (diag Mahalanobis)

MAHA_TOP = 20


@register(
    "embedding_outliers_mahalanobis",
    oracle=f"""
    WITH e AS MATERIALIZED (
      SELECT vec_id, label, list_transform(embedding, x -> x::DOUBLE) AS emb
      FROM embeddings
      WHERE embedding IS NOT NULL
        AND isfinite(list_sum(list_transform(embedding,
                                             x -> x::DOUBLE * x::DOUBLE)))
    ),
    long_ AS (
      SELECT vec_id, CAST(t.i AS BIGINT) AS i, emb[t.i + 1] AS v
      FROM e CROSS JOIN range(0, {DIM}) t(i)
    ),
    st AS MATERIALIZED (
      SELECT i, round(avg(v), 6) AS mu,
             round(sum(v * v) / count(*) - pow(sum(v) / count(*), 2), 6) AS vr
      FROM long_ GROUP BY i
    ),
    mus AS (SELECT list(mu ORDER BY i) AS mu, list(vr ORDER BY i) AS vr FROM st),
    scored AS (
      SELECT e.vec_id, e.label,
             round(list_sum(list_transform(range(1, {DIM + 1}),
                   i -> CASE WHEN m.vr[i] > 0
                             THEN pow(e.emb[i] - m.mu[i], 2) / m.vr[i]
                             ELSE 0.0 END)), 4) AS d2
      FROM e CROSS JOIN mus m
    ),
    ranked AS (
      SELECT *, row_number() OVER (ORDER BY d2 DESC, vec_id) AS rnk
      FROM scored
    )
    SELECT vec_id, CAST(label AS BIGINT) AS label, d2, CAST(rnk AS BIGINT) AS rnk
    FROM ranked WHERE rnk <= {MAHA_TOP}
    ORDER BY rnk
    """,
    tags=("embedding", "outliers", "mahalanobis", "anomaly", "curation"),
)
def embedding_outliers_mahalanobis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space outlier screen: squared Mahalanobis distance under a
    DIAGONAL covariance (per-dimension mean/variance), top-MAHA_TOP most
    anomalous vectors — the cheap corpus-QA pass that surfaces corrupt
    embeddings, mis-encoded rows, and genuine distribution outliers before
    they poison a training run or an ANN index. Diagonal covariance is the
    deliberate scale choice: the stats pass is one shuffle of 64 cells and
    scoring is a map-only fold, whereas a full-covariance distance needs the
    64x64 inverse (see ``embedding_pca_power_iteration`` for where full
    second-moment structure IS computed). Means/variances round at 6 on both
    engines so the broadcast stats are identical; d2 rounds at 4 before the
    rank so the ordering is engine-stable.

    Scale shape: one explode-aggregate for the 64 per-dim stats (map-side
    combined), stats broadcast back as two arrays, distance as
    zip_with+aggregate inside codegen, and the global top-k routes through
    ``grouped_topk`` with no groups (TakeOrdered under the rank window —
    the window sees k rows)."""
    from feature_datalake_sl_mandic_spark.functions.ranking import grouped_topk

    (em,) = _t(spark, sf_dir, "embeddings")
    # non-finite vectors are excluded, not scored: one NaN row would poison
    # every dimension's (mu, vr) for the WHOLE corpus, and NaN/Inf rows
    # need no distance to be flagged — the finite guard itself is their
    # detector (round-7 NaN/Inf lake probe)
    e = _finite_rows(em.where(F.col("embedding").isNotNull())).select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("emb")
    )
    st = (
        e.select(F.posexplode("emb").alias("i", "v"))
        .groupBy("i")
        .agg(
            F.round(F.avg("v"), 6).alias("mu"),
            F.round(
                F.sum(F.col("v") * F.col("v")) / F.count(F.lit(1))
                - F.pow(F.sum("v") / F.count(F.lit(1)), 2),
                6,
            ).alias("vr"),
        )
    )
    mus = st.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("i", "mu"))), lambda s: s["mu"]
        ).alias("mu"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("i", "vr"))), lambda s: s["vr"]
        ).alias("vr"),
    )
    diff2 = F.zip_with("emb", "mu", lambda x, m: (x - m) * (x - m))
    # a zero-variance dimension (constant across the corpus — a padded dim,
    # or any dim of a single-row corpus) has no scale and carries no outlier
    # signal: it contributes 0 instead of dividing by zero, identically on
    # both engines (single-row-lake audit, round 6)
    d2 = F.round(
        F.aggregate(
            F.zip_with(
                diff2,
                F.col("vr"),
                lambda a, b: F.when(b > 0, a / b).otherwise(F.lit(0.0)),
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ),
        4,
    )
    scored = e.crossJoin(F.broadcast(mus)).select(
        "vec_id", F.col("label").cast("bigint").alias("label"), d2.alias("d2")
    )
    return grouped_topk(
        scored, [], [("d2", "desc"), ("vec_id", "asc")], MAHA_TOP, rank_col="rnk"
    ).orderBy("rnk")
