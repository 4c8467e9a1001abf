"""Streaming-style sketch operators, made deterministic and oracle-checkable.

Extension surface (BASELINE.json "approximate ops"). Unlike
``agg_approx_sketches`` (HLL/approx-percentile, whose internals are
engine-specific and checked via an error-band contract), both operators here
are built from md5 — the one hash both engines compute identically — so their
FULL output is value-hash-checked, overestimates and false positives
included:

- **Count-min sketch**: d=4 hash rows × w=64 buckets; ``estimate(key) =
  min_j cell[j][h_j(key)]``. Build is one groupBy over (row, bucket) — d·w
  cells total regardless of input size, the textbook bounded-memory
  frequency sketch. CMS guarantees estimate >= exact; the query emits both
  so the error is visible.
- **Bloom-filter join prefilter**: k=3 hashes into m=64 bits, the bitset
  relationalized as (hash_row, bit) pairs. The small build side broadcasts;
  the probe side keeps only rows matching all k bits — the classic
  shuffle-avoiding semi-join prefilter (Spark's own runtime bloom pushdown,
  spelled out). m is sized small here so false positives actually occur in
  the fixture and the FP-handling path is exercised, not just compiled.

Scale shape: both sketches are O(constant) state after one map-side-combined
aggregation; probe sides never shuffle more than the prefiltered stream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from feature_datalake_sl_mandic_spark.functions.hashing import md5_int60_col, md5_int60_sql
from feature_datalake_sl_mandic_spark.functions.ranking import grouped_topk
from feature_datalake_sl_mandic_spark.operators.relational import _t
from feature_datalake_sl_mandic_spark.registry import register

CMS_DEPTH = 4
CMS_WIDTH = 64  # < distinct-key count, so bucket collisions (and visible
                # overestimates) actually occur in the fixture
CMS_TOP = 20

BLOOM_K = 3
BLOOM_M = 64  # undersized on purpose: ~50% fill -> real false positives
BLOOM_NATIONS = 5  # member set: suppliers with s_nationkey < 5


def _cms_bucket_col(j, key) -> F.Column:
    # NULL keys hash as an explicit sentinel on BOTH engines: concat_ws
    # silently drops NULL parts (degrading the key to the row index) while
    # the oracle's || nulls the whole key — the engines would bucket NULL
    # keys differently on a nullable lake (same class as the
    # privacy_dp_noisy_counts fix).
    return (
        md5_int60_col(
            F.concat_ws(
                ":",
                j.cast("string"),
                F.coalesce(key.cast("string"), F.lit("__null__")),
            )
        )
        % CMS_WIDTH
    )


def _cms_bucket_sql(j_expr: str, key_expr: str) -> str:
    h = md5_int60_sql(
        f"CAST({j_expr} AS VARCHAR) || ':' "
        f"|| coalesce(CAST({key_expr} AS VARCHAR), '__null__')"
    )
    return f"{h} % {CMS_WIDTH}"


@register(
    "cms_heavy_hitters_events",
    oracle=f"""
    WITH hashes AS (
      SELECT user_id, t.j, {_cms_bucket_sql("t.j", "user_id")} AS b
      FROM events CROSS JOIN range(0, {CMS_DEPTH}) t(j)
    ), cells AS (
      SELECT j, b, count(*) AS n FROM hashes GROUP BY j, b
    ), exact AS (
      SELECT user_id, count(*) AS exact_count FROM events GROUP BY user_id
    ), candidates AS (
      SELECT user_id, exact_count,
             row_number() OVER (ORDER BY exact_count DESC, user_id) AS rnk
      FROM exact
    ), probes AS (
      SELECT c.user_id, c.exact_count, c.rnk, t.j,
             {_cms_bucket_sql("t.j", "c.user_id")} AS b
      FROM candidates c CROSS JOIN range(0, {CMS_DEPTH}) t(j)
      WHERE c.rnk <= {CMS_TOP}
    )
    SELECT p.user_id, p.exact_count, CAST(p.rnk AS BIGINT) AS rnk,
           min(cells.n) AS cms_estimate
    FROM probes p JOIN cells ON p.j = cells.j AND p.b = cells.b
    GROUP BY p.user_id, p.exact_count, p.rnk
    ORDER BY rnk
    """,
    tags=("sketch", "count-min", "heavy-hitters", "events"),
)
def cms_heavy_hitters_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch over the event stream keyed by user: build d×w cells
    in one aggregation, probe the exact top-20 users, emit exact vs CMS
    estimate (estimate >= exact by construction; equality when no bucket
    collision)."""
    (ev,) = _t(spark, sf_dir, "events")
    js = spark.range(CMS_DEPTH).select(F.col("id").alias("j"))
    hashes = ev.select("user_id").crossJoin(F.broadcast(js)).select(
        "j", _cms_bucket_col(F.col("j"), F.col("user_id")).alias("b")
    )
    cells = hashes.groupBy("j", "b").agg(F.count(F.lit(1)).alias("n"))
    exact = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("exact_count"))
    candidates = grouped_topk(
        exact,
        [],
        [("exact_count", "desc"), ("user_id", "asc")],
        CMS_TOP,
        rank_col="rnk",
    )
    probes = candidates.crossJoin(F.broadcast(js)).select(
        "user_id",
        "exact_count",
        "rnk",
        "j",
        _cms_bucket_col(F.col("j"), F.col("user_id")).alias("b"),
    )
    return (
        probes.join(F.broadcast(cells), on=["j", "b"])
        .groupBy("user_id", "exact_count", "rnk")
        .agg(F.min("n").alias("cms_estimate"))
        .orderBy("rnk")
    )


def _bloom_bit_sql(j_expr: str, key_expr: str) -> str:
    h = md5_int60_sql(f"'b' || CAST({j_expr} AS VARCHAR) || ':' || CAST({key_expr} AS VARCHAR)")
    return f"{h} % {BLOOM_M}"


def _bloom_bit_col(j, key) -> F.Column:
    return (
        md5_int60_col(
            F.concat(F.lit("b"), j.cast("string"), F.lit(":"), key.cast("string"))
        )
        % BLOOM_M
    )


@register(
    "bloom_prefilter_supplier_join",
    oracle=f"""
    WITH members AS (
      SELECT s_suppkey FROM supplier WHERE s_nationkey < {BLOOM_NATIONS}
    ), bits AS (
      SELECT DISTINCT {_bloom_bit_sql("t.j", "s_suppkey")} AS bit
      FROM members CROSS JOIN range(0, {BLOOM_K}) t(j)
    ), probe AS (
      SELECT s.s_suppkey, t.j, {_bloom_bit_sql("t.j", "s.s_suppkey")} AS bit
      FROM supplier s CROSS JOIN range(0, {BLOOM_K}) t(j)
    ), passed AS (
      SELECT p.s_suppkey
      FROM probe p JOIN bits USING (bit)
      GROUP BY p.s_suppkey HAVING count(*) = {BLOOM_K}
    )
    SELECT p.s_suppkey,
           (m.s_suppkey IS NOT NULL) AS actual_member,
           coalesce(li.n, 0) AS n_lineitem_rows
    FROM passed p
    LEFT JOIN members m ON p.s_suppkey = m.s_suppkey
    LEFT JOIN (SELECT l_suppkey, count(*) AS n FROM lineitem GROUP BY l_suppkey) li
      ON p.s_suppkey = li.l_suppkey
    ORDER BY p.s_suppkey
    """,
    tags=("sketch", "bloom-filter", "join-prefilter", "broadcast-join"),
)
def bloom_prefilter_supplier_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter semi-join prefilter: build k=3/m=64 bits over the member
    supplier set, prefilter the supplier probe side, then join lineitem
    counts only for survivors. False positives (actual_member = false) are
    part of the checked output — the filter is intentionally undersized so
    the FP path is real."""
    su, li = _t(spark, sf_dir, "supplier", "lineitem")
    js = spark.range(BLOOM_K).select(F.col("id").alias("j"))
    members = su.where(F.col("s_nationkey") < BLOOM_NATIONS).select("s_suppkey")
    # Unpartitioned bitset: all k hash rows share one bit array (a probe's
    # hash j may match a bit set by any member hash) — the classic Bloom.
    bits = (
        members.crossJoin(F.broadcast(js))
        .select(_bloom_bit_col(F.col("j"), F.col("s_suppkey")).alias("bit"))
        .distinct()
    )
    probe = su.select("s_suppkey").crossJoin(F.broadcast(js)).select(
        "s_suppkey", "j", _bloom_bit_col(F.col("j"), F.col("s_suppkey")).alias("bit")
    )
    passed = (
        probe.join(F.broadcast(bits), on=["bit"])
        .groupBy("s_suppkey")
        .agg(F.count(F.lit(1)).alias("k_hits"))
        .where(F.col("k_hits") == BLOOM_K)
        .select("s_suppkey")
    )
    li_counts = li.groupBy(F.col("l_suppkey").alias("s_suppkey")).agg(
        F.count(F.lit(1)).alias("n")
    )
    return (
        passed.join(members.withColumn("is_m", F.lit(True)), on="s_suppkey", how="left")
        .join(li_counts, on="s_suppkey", how="left")
        .select(
            "s_suppkey",
            F.coalesce(F.col("is_m"), F.lit(False)).alias("actual_member"),
            F.coalesce(F.col("n"), F.lit(0)).alias("n_lineitem_rows"),
        )
        .orderBy("s_suppkey")
    )


# --------------------------------------------------- HyperLogLog, hand-rolled

HLL_M = 64  # 2^6 registers
HLL_ALPHA = 0.709  # alpha_64 from the HLL paper's bias table
_HLL_W_BITS = 32  # rho window: low 32 bits of the md5 integer above the bucket


@register(
    "sketch_hll_manual_users",
    oracle=f"""
    WITH du AS (
      SELECT DISTINCT event_type, user_id FROM events
    ),
    reg AS (
      SELECT event_type, user_id, hv % {HLL_M} AS bucket,
             (hv // {HLL_M}) % 4294967296 AS w
      FROM (SELECT event_type, user_id,
                   {md5_int60_sql("CAST(user_id AS VARCHAR)")} AS hv
            FROM du)
    ),
    rho AS (
      SELECT event_type, bucket,
             max(CASE WHEN w = 0 THEN {_HLL_W_BITS + 1}
                      ELSE {_HLL_W_BITS + 1} - length(bin(w)) END) AS m_j,
             count(user_id) AS n_b
      FROM reg GROUP BY 1, 2
    ),
    est AS (
      SELECT event_type,
             sum(pow(2.0, -m_j)) + ({HLL_M} - count(*)) AS denom,
             {HLL_M} - count(*) AS n_zero,
             CAST(sum(n_b) AS BIGINT) AS n_exact
      FROM rho GROUP BY 1
    ),
    raw AS (
      SELECT event_type,
             {HLL_ALPHA} * {HLL_M} * {HLL_M} / denom AS e_raw, n_zero, n_exact
      FROM est
    ),
    fixed AS (
      SELECT event_type,
             CASE WHEN e_raw <= 2.5 * {HLL_M} AND n_zero > 0
                  THEN {HLL_M} * ln({HLL_M} * 1.0 / n_zero)
                  ELSE e_raw END AS e, n_zero, n_exact
      FROM raw
    )
    SELECT f.event_type, f.n_exact, CAST(f.n_zero AS BIGINT) AS n_zero,
           round(f.e, 2) AS hll_estimate,
           round(abs(f.e - f.n_exact) / f.n_exact, 4) AS rel_error
    FROM fixed f
    ORDER BY f.event_type
    """,
    tags=("sketch", "hyperloglog", "distinct-count", "mergeable"),
)
def sketch_hll_manual_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog from first principles — the register math Spark's own
    ``approx_count_distinct`` hides, built from the cross-engine md5 hash so
    the ESTIMATE ITSELF hash-matches the oracle (unlike
    ``agg_approx_sketches``, which can only band-check Spark's native HLL++
    against exact counts). 64 registers: bucket = low 6 hash bits, rho =
    leading-zero rank of the next 32 bits (computed exactly via
    ``length(bin(w))`` — a string op, no cross-engine log2 rounding risk),
    register = max(rho), estimate = alpha·m²/Σ2^-M_j with the paper's
    linear-counting small-range correction. Exact distinct + relative error
    ride along per group, so the sketch's accuracy is part of the checked
    output.

    Scale shape: the register relation is |groups| x 64 rows REGARDLESS of
    input size — built by one map-side-combined max-aggregation — and
    registers merge by max, so per-partition partial sketches combine
    without re-reading data (the mergeability that makes HLL the standard
    distributed distinct-count sketch). The exact count (the accuracy
    harness) RIDES the same single scan: dedup on (type, user) instead of
    (type, hash) — the registers are duplicate-insensitive, max(rho) is
    unchanged — so per-bucket distinct-user counts sum to the exact
    distinct count inside the register rollup, and the second events scan
    the count used to cost is gone (count(user_id) not count(*): NULL
    users hash to the NULL register row but never counted as a user,
    exactly countDistinct's semantics)."""
    (ev,) = _t(spark, sf_dir, "events")
    du = ev.select("event_type", "user_id").dropDuplicates()
    h = du.select(
        "event_type",
        "user_id",
        md5_int60_col(F.col("user_id").cast("string")).alias("hv"),
    )
    reg = h.select(
        "event_type",
        "user_id",
        (F.col("hv") % HLL_M).alias("bucket"),
        # Integer division (shiftright by log2(m)), NOT float division: the
        # 60-bit hash exceeds float64's exact-integer range (2^53), so
        # `hv / 64` would round and disagree with the oracle's exact `hv // 64`.
        (F.shiftright(F.col("hv"), 6) % F.lit(4294967296)).alias("w"),
    )
    rho = F.when(F.col("w") == 0, F.lit(_HLL_W_BITS + 1)).otherwise(
        F.lit(_HLL_W_BITS + 1) - F.length(F.bin(F.col("w")))
    )
    regs = reg.groupBy("event_type", "bucket").agg(
        F.max(rho).alias("m_j"), F.count("user_id").alias("n_b")
    )
    est = regs.groupBy("event_type").agg(
        (F.sum(F.pow(F.lit(2.0), -F.col("m_j"))) + (F.lit(HLL_M) - F.count(F.lit(1)))).alias(
            "denom"
        ),
        (F.lit(HLL_M) - F.count(F.lit(1))).cast("bigint").alias("n_zero"),
        F.sum("n_b").alias("n_exact"),
    )
    e_raw = F.lit(HLL_ALPHA) * HLL_M * HLL_M / F.col("denom")
    e = F.when(
        (e_raw <= 2.5 * HLL_M) & (F.col("n_zero") > 0),
        F.lit(HLL_M) * F.log(F.lit(HLL_M) / F.col("n_zero")),
    ).otherwise(e_raw)
    return (
        est.select("event_type", "n_exact", "n_zero", e.alias("e"))
        .select(
            "event_type",
            "n_exact",
            "n_zero",
            F.round("e", 2).alias("hll_estimate"),
            F.round(F.abs(F.col("e") - F.col("n_exact")) / F.col("n_exact"), 4).alias(
                "rel_error"
            ),
        )
        .orderBy("event_type")
    )


# ------------------------------------------- KMV sketch with set algebra

KMV_K = 32
_KMV_SCALE = float(1 << 60)  # md5_int60 range, for normalizing hv to (0,1)


@register(
    "sketch_kmv_set_algebra_users",
    oracle=f"""
    WITH hvs AS (
      SELECT DISTINCT event_type,
             {md5_int60_sql("CAST(user_id AS VARCHAR)")} AS hv
      FROM events
    ),
    sk AS (
      SELECT event_type, hv FROM (
        SELECT event_type, hv,
               row_number() OVER (PARTITION BY event_type ORDER BY hv) AS rn
        FROM hvs
      ) WHERE rn <= {KMV_K}
    ),
    types AS (SELECT DISTINCT event_type FROM events),
    pairs AS (
      SELECT a.event_type AS ta, b.event_type AS tb
      FROM types a JOIN types b ON a.event_type < b.event_type
    ),
    per_hv AS (
      SELECT p.ta, p.tb, s.hv, count(*) AS sides
      FROM pairs p JOIN sk s ON s.event_type IN (p.ta, p.tb)
      GROUP BY 1, 2, 3
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY ta, tb ORDER BY hv) AS rn
      FROM per_hv
    ),
    stats AS (
      SELECT ta, tb, count(*) AS total,
             max(CASE WHEN rn <= {KMV_K} THEN hv END) AS u_k,
             sum(CASE WHEN rn <= {KMV_K} AND sides = 2 THEN 1 ELSE 0 END) AS n_both,
             sum(CASE WHEN rn <= {KMV_K} THEN 1 ELSE 0 END) AS n_comb
      FROM ranked GROUP BY 1, 2
    ),
    sksz AS (SELECT event_type, count(*) AS n FROM sk GROUP BY 1),
    ests AS (
      SELECT s.ta, s.tb,
             CASE WHEN sa.n < {KMV_K} AND sb.n < {KMV_K} THEN s.total * 1.0
                  ELSE (s.n_comb - 1) / (s.u_k / {_KMV_SCALE}) END AS union_est,
             s.n_both * 1.0 / s.n_comb AS jaccard_est
      FROM stats s
      JOIN sksz sa ON sa.event_type = s.ta
      JOIN sksz sb ON sb.event_type = s.tb
    ),
    eu AS (SELECT DISTINCT event_type, user_id FROM events),
    per_user AS (
      SELECT p.ta, p.tb, e.user_id, count(DISTINCT e.event_type) AS nt
      FROM pairs p JOIN eu e ON e.event_type IN (p.ta, p.tb)
      GROUP BY 1, 2, 3
    ),
    exact AS (
      SELECT ta, tb, count(*) AS union_exact,
             sum(CASE WHEN nt = 2 THEN 1 ELSE 0 END) AS inter_exact
      FROM per_user GROUP BY 1, 2
    )
    SELECT x.ta AS type_a, x.tb AS type_b,
           CAST(x.union_exact AS BIGINT) AS union_exact,
           CAST(x.inter_exact AS BIGINT) AS inter_exact,
           round(e.union_est, 2) AS union_est,
           round(e.jaccard_est * e.union_est, 2) AS inter_est,
           round(e.jaccard_est, 4) AS jaccard_est
    FROM exact x JOIN ests e ON x.ta = e.ta AND x.tb = e.tb
    ORDER BY type_a, type_b
    """,
    tags=("sketch", "kmv", "distinct-count", "set-algebra", "mergeable"),
)
def sketch_kmv_set_algebra_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values) sketch with set algebra — the theta-sketch
    workhorse: per event type keep the k=32 smallest md5 hash values of the
    distinct user set; distinct-count = (k-1)/u_k where u_k is the k-th
    value normalized to (0,1). Two sketches COMBINE by merging and re-taking
    the k smallest — union cardinality from the merged sketch, Jaccard from
    the fraction of merged-sketch members present in both inputs, and
    intersection = jaccard x union (the inclusion-exclusion-free estimator).
    When BOTH input sketches are uncapped (fewer than k distinct values:
    complete hash sets) the merged "sketch" is the true union and is
    reported exactly — a small merged sketch alone proves nothing, since two
    capped sketches over identical sets merge to k values regardless of the
    true cardinality. Exact union / intersection counts ride along so the
    estimator error is checked output, not folklore.

    Scale shape: sketch build is one per-type top-k (partitioned window over
    the deduped hash relation); everything after operates on |types| x k
    rows — the pair combine is a broadcast join over a relation whose size
    is independent of the input. This is why KMV/theta sketches power
    cross-segment overlap dashboards at warehouse scale: the expensive scan
    happens once, set algebra happens on kilobytes. The md5-derived hash
    makes every estimate deterministic, so even the approximations
    hash-match the oracle."""
    (ev,) = _t(spark, sf_dir, "events")
    from pyspark.sql.window import Window as _W

    # The deduped hash relation feeds the sketch AND the type list; truncate
    # its lineage so the events scan + dedup shuffle happen once.
    hvs = (
        ev.select(
            "event_type", md5_int60_col(F.col("user_id").cast("string")).alias("hv")
        )
        .dropDuplicates(["event_type", "hv"])
        .localCheckpoint()
    )
    # k smallest hashes per type via grouped_topk: the per-partition
    # WindowGroupLimit keeps every distinct user hash from funnelling
    # through |types| tasks' sorts in the window on event_type. The sketch
    # (|types| x k rows) feeds the pair grid AND the pair combine;
    # checkpoint so each branch reads kilobytes instead of re-running the
    # selection (this plan was the repo's heaviest at 38 shuffles before;
    # array-fold rank below cut it again to ~16).
    sk = (
        grouped_topk(hvs, ["event_type"], [("hv", "asc")], KMV_K)
        .select("event_type", "hv")
        .localCheckpoint()
    )
    # Pair grid WITH both sketch sizes riding along (na/nb decide the
    # capped-vs-exact path later without any further join).
    sksz = sk.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    sa = sksz.select(F.col("event_type").alias("ta"), F.col("n").alias("na"))
    sb = sksz.select(F.col("event_type").alias("tb"), F.col("n").alias("nb"))
    pairs = (
        sa.join(F.broadcast(sb), F.col("ta") < F.col("tb"))
        .localCheckpoint()
    )
    # Merged-sketch stats in ONE aggregation: a merged sketch is <= 2k
    # values by construction, so the per-pair member list collects into a
    # bounded sorted array and rank/threshold/overlap fall out of array
    # folds — no per-hv aggregation, no rank window, no size joins.
    # ``dups`` = values present in BOTH input sketches (adjacent equal
    # entries of the sorted multiset); ``mh`` = merged distinct values.
    merged = (
        F.broadcast(pairs)
        .join(
            sk,
            (sk["event_type"] == F.col("ta")) | (sk["event_type"] == F.col("tb")),
        )
        .groupBy("ta", "tb", "na", "nb")
        .agg(F.sort_array(F.collect_list("hv")).alias("all_hv"))
        .withColumn("mh", F.array_distinct("all_hv"))
        .withColumn(
            "dups",
            F.array_distinct(
                F.filter(
                    F.zip_with(
                        F.slice(F.col("all_hv"), 1, F.size("all_hv") - 1),
                        F.slice(F.col("all_hv"), 2, F.size("all_hv") - 1),
                        lambda x, y: F.when(x == y, x),
                    ),
                    lambda v: v.isNotNull(),
                )
            ),
        )
    )
    total = F.size("mh").cast("bigint")
    n_comb = F.least(F.lit(KMV_K), F.size("mh")).cast("bigint")
    u_k = F.element_at("mh", F.least(F.lit(KMV_K), F.size("mh")))
    n_both = F.size(F.array_intersect(F.slice("mh", 1, KMV_K), "dups")).cast("bigint")
    # Exactness requires BOTH input sketches uncapped (complete hash sets):
    # a merged sketch of <= k values says nothing by itself — two capped
    # sketches over identical sets merge to exactly k values while the true
    # union is unbounded. Otherwise the merged-threshold estimator applies
    # (n_comb = min(k, merged size); = k whenever any side was capped).
    union_est = F.when(
        (F.col("na") < KMV_K) & (F.col("nb") < KMV_K), total * 1.0
    ).otherwise((n_comb - 1) / (u_k / F.lit(_KMV_SCALE)))
    jac_est = n_both * 1.0 / n_comb
    ests = merged.select(
        "ta", "tb", union_est.alias("union_est"), jac_est.alias("jaccard_est")
    )

    eu = ev.select("event_type", "user_id").distinct()
    per_user = (
        F.broadcast(pairs)
        .join(
            eu,
            (eu["event_type"] == F.col("ta")) | (eu["event_type"] == F.col("tb")),
        )
        .groupBy("ta", "tb", "user_id")
        .agg(F.countDistinct("event_type").alias("nt"))
    )
    exact = per_user.groupBy("ta", "tb").agg(
        F.count(F.lit(1)).alias("union_exact"),
        F.sum(F.when(F.col("nt") == 2, 1).otherwise(0)).alias("inter_exact"),
    )
    return (
        exact.join(ests, ["ta", "tb"])
        .select(
            F.col("ta").alias("type_a"),
            F.col("tb").alias("type_b"),
            F.col("union_exact").cast("bigint").alias("union_exact"),
            F.col("inter_exact").cast("bigint").alias("inter_exact"),
            F.round("union_est", 2).alias("union_est"),
            F.round(F.col("jaccard_est") * F.col("union_est"), 2).alias("inter_est"),
            F.round("jaccard_est", 4).alias("jaccard_est"),
        )
        .orderBy("type_a", "type_b")
    )


@register(
    "sketch_hll_daily_to_weekly_merge",
    oracle=f"""
    WITH h AS (
      SELECT DISTINCT event_type,
             CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
             user_id,
             {md5_int60_sql("CAST(user_id AS VARCHAR)")} AS hv
      FROM events
    ),
    reg AS (
      SELECT event_type, day, hv % {HLL_M} AS bucket,
             (hv // {HLL_M}) % 4294967296 AS w
      FROM h
    ),
    daily AS (
      SELECT event_type, day, bucket,
             max(CASE WHEN w = 0 THEN {_HLL_W_BITS + 1}
                      ELSE {_HLL_W_BITS + 1} - length(bin(w)) END) AS m_j
      FROM reg GROUP BY 1, 2, 3
    ),
    weekly AS (
      SELECT event_type, weekofyear(day) AS week, bucket, max(m_j) AS m_j
      FROM daily GROUP BY 1, 2, 3
    ),
    est AS (
      SELECT event_type, week,
             sum(pow(2.0, -m_j)) + ({HLL_M} - count(*)) AS denom,
             {HLL_M} - count(*) AS n_zero
      FROM weekly GROUP BY 1, 2
    ),
    fixed AS (
      SELECT event_type, week,
             CASE WHEN {HLL_ALPHA} * {HLL_M} * {HLL_M} / denom <= 2.5 * {HLL_M}
                       AND n_zero > 0
                  THEN {HLL_M} * ln({HLL_M} * 1.0 / n_zero)
                  ELSE {HLL_ALPHA} * {HLL_M} * {HLL_M} / denom END AS e
      FROM est
    ),
    exact AS (
      SELECT event_type, weekofyear(CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS week,
             count(DISTINCT user_id) AS n_exact
      FROM events GROUP BY 1, 2
    )
    SELECT f.event_type, CAST(f.week AS BIGINT) AS week, x.n_exact,
           round(f.e, 2) AS hll_estimate,
           round(abs(f.e - x.n_exact) / x.n_exact, 4) AS rel_error
    FROM fixed f JOIN exact x ON f.event_type = x.event_type AND f.week = x.week
    ORDER BY f.event_type, f.week
    """,
    tags=("sketch", "hyperloglog", "mergeable", "rollup", "events"),
)
def sketch_hll_daily_to_weekly_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reason HLL wins at warehouse scale, demonstrated: persist DAILY
    register sets (|types| x |days| x 64 tiny rows), answer WEEKLY distinct
    users by merging registers with max() — no rescan of raw events, and
    max-of-max makes the merged sketch IDENTICAL to one built from the raw
    week (associativity), so accuracy never degrades with rollup depth.
    This is the distinct-count analog of ``incremental_agg_refresh``:
    count(DISTINCT) doesn't decompose over partial aggregates, HLL registers
    do. Exact weekly distincts ride along as the error harness.

    Scale shape: one map-side-combined aggregation to daily registers, one
    O(|types| x |weeks| x 64) merge, one tiny estimate projection. The
    weekly exact count (the test harness) shares the SAME single events
    scan: both the registers and the exact count derive from the pinned
    day-level distinct (type, day, user) relation — 10-1000x smaller than
    raw events at production scale, so materializing it once beats the
    second raw scan the exact count used to cost (weekly distinct can't
    ride the daily registers themselves: a user active on two days of a
    week would double-count, which is the whole reason HLL merge exists)."""
    (ev,) = _t(spark, sf_dir, "events")
    du = (
        ev.select("event_type", F.to_date("ts").alias("day"), "user_id")
        .dropDuplicates()
        .localCheckpoint(eager=False)  # feeds registers AND the exact count
    )
    h = du.select(
        "event_type",
        "day",
        md5_int60_col(F.col("user_id").cast("string")).alias("hv"),
    )
    reg = h.select(
        "event_type",
        "day",
        (F.col("hv") % HLL_M).alias("bucket"),
        # Integer division (shiftright by log2(m)), NOT float division: the
        # 60-bit hash exceeds float64's exact-integer range (2^53), so
        # `hv / 64` would round and disagree with the oracle's exact `hv // 64`.
        (F.shiftright(F.col("hv"), 6) % F.lit(4294967296)).alias("w"),
    )
    rho = F.when(F.col("w") == 0, F.lit(_HLL_W_BITS + 1)).otherwise(
        F.lit(_HLL_W_BITS + 1) - F.length(F.bin(F.col("w")))
    )
    daily = reg.groupBy("event_type", "day", "bucket").agg(F.max(rho).alias("m_j"))
    weekly = daily.groupBy(
        "event_type", F.weekofyear("day").cast("bigint").alias("week"), "bucket"
    ).agg(F.max("m_j").alias("m_j"))
    est = weekly.groupBy("event_type", "week").agg(
        (
            F.sum(F.pow(F.lit(2.0), -F.col("m_j")))
            + (F.lit(HLL_M) - F.count(F.lit(1)))
        ).alias("denom"),
        (F.lit(HLL_M) - F.count(F.lit(1))).alias("n_zero"),
    )
    e_raw = F.lit(HLL_ALPHA) * HLL_M * HLL_M / F.col("denom")
    e = F.when(
        (e_raw <= 2.5 * HLL_M) & (F.col("n_zero") > 0),
        F.lit(HLL_M) * F.log(F.lit(HLL_M) / F.col("n_zero")),
    ).otherwise(e_raw)
    exact = du.groupBy(
        "event_type", F.weekofyear("day").cast("bigint").alias("week")
    ).agg(F.countDistinct("user_id").alias("n_exact"))
    return (
        est.select("event_type", "week", e.alias("e"))
        .join(exact, ["event_type", "week"])
        .select(
            "event_type",
            "week",
            "n_exact",
            F.round("e", 2).alias("hll_estimate"),
            F.round(F.abs(F.col("e") - F.col("n_exact")) / F.col("n_exact"), 4).alias(
                "rel_error"
            ),
        )
        .orderBy("event_type", "week")
    )


# ------------------------------------------------ DDSketch quantile sketch

DD_ALPHA = 0.01  # relative-accuracy guarantee
DD_GAMMA = (1 + DD_ALPHA) / (1 - DD_ALPHA)
_DD_QS = (0.5, 0.95, 0.99)


@register(
    "sketch_ddsketch_order_quantiles",
    oracle=f"""
    WITH b AS (
      SELECT o_orderstatus,
             CAST(ceil(ln(o_totalprice) / ln({DD_GAMMA!r})) AS BIGINT) AS idx
      FROM orders WHERE o_totalprice > 0
    ),
    buckets AS (
      SELECT o_orderstatus, idx, count(*) AS c FROM b GROUP BY 1, 2
    ),
    cum AS (
      SELECT o_orderstatus, idx, c,
             sum(c) OVER (PARTITION BY o_orderstatus ORDER BY idx
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             sum(c) OVER (PARTITION BY o_orderstatus) AS n
      FROM buckets
    ),
    qs AS (SELECT unnest([{", ".join(str(q) for q in _DD_QS)}]) AS q),
    hit AS (
      SELECT o_orderstatus, q, min(idx) AS idx
      FROM cum CROSS JOIN qs
      WHERE cum >= ceil(q * n)
      GROUP BY 1, 2
    ),
    exact AS (
      SELECT o_orderstatus, 0.5 AS q,
             quantile_cont(o_totalprice, 0.5) AS exact_q
      FROM orders WHERE o_totalprice > 0 GROUP BY 1
      UNION ALL
      SELECT o_orderstatus, 0.95 AS q,
             quantile_cont(o_totalprice, 0.95) AS exact_q
      FROM orders WHERE o_totalprice > 0 GROUP BY 1
      UNION ALL
      SELECT o_orderstatus, 0.99 AS q,
             quantile_cont(o_totalprice, 0.99) AS exact_q
      FROM orders WHERE o_totalprice > 0 GROUP BY 1
    )
    SELECT h.o_orderstatus AS o_orderstatus, h.q AS q,
           round(2 * pow({DD_GAMMA!r}, h.idx) / ({DD_GAMMA!r} + 1), 4)
             AS dd_estimate,
           round(x.exact_q, 4) AS exact_q,
           round(abs(2 * pow({DD_GAMMA!r}, h.idx) / ({DD_GAMMA!r} + 1) - x.exact_q)
                 / x.exact_q, 4) AS rel_error
    FROM hit h JOIN exact x
      ON x.o_orderstatus = h.o_orderstatus AND x.q = h.q
    ORDER BY 1, 2
    """,
    tags=("sketch", "ddsketch", "quantile", "mergeable", "relative-error"),
)
def sketch_ddsketch_order_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DDSketch (relative-error quantile sketch, the Datadog/OpenTelemetry
    histogram): values land in log-spaced buckets idx = ceil(log_gamma(x))
    with gamma = (1+a)/(1-a), a = 1%; any quantile is answered from the
    cumulative bucket counts with RELATIVE error <= a — the guarantee
    percentile-of-latency monitoring needs, where absolute-error sketches
    waste all their resolution on the tail. Buckets MERGE by adding counts
    (like the HLL registers), so per-partition/per-day sketches roll up
    losslessly. Exact quantiles ride along; the rel_error column shows the
    guarantee holding (pinned in tests/test_round3b_ops.py).

    Scale shape: one map-side-combined count per (group, bucket) — state is
    O(groups x log_gamma(max/min)) ~ a few hundred cells per group
    regardless of input size; the quantile walk is a window over those
    cells. The exact side is the test harness, not a production cost."""
    (od,) = _t(spark, sf_dir, "orders")
    from pyspark.sql.window import Window as _W

    pos = od.where(F.col("o_totalprice") > 0)
    idx = F.ceil(F.log(F.col("o_totalprice")) / F.lit(float(__import__("math").log(DD_GAMMA)))).cast(
        "bigint"
    )
    buckets = pos.select("o_orderstatus", idx.alias("idx")).groupBy(
        "o_orderstatus", "idx"
    ).agg(F.count(F.lit(1)).alias("c"))
    wcum = _W.partitionBy("o_orderstatus").orderBy("idx").rowsBetween(
        _W.unboundedPreceding, _W.currentRow
    )
    wall = _W.partitionBy("o_orderstatus")
    cum = buckets.select(
        "o_orderstatus",
        "idx",
        F.sum("c").over(wcum).alias("cum"),
        F.sum("c").over(wall).alias("n"),
    )
    qs = spark.createDataFrame([(q,) for q in _DD_QS], "q double")
    hit = (
        cum.crossJoin(F.broadcast(qs))
        .where(F.col("cum") >= F.ceil(F.col("q") * F.col("n")))
        .groupBy("o_orderstatus", "q")
        .agg(F.min("idx").alias("idx"))
    )
    q_arr = ", ".join(str(q) for q in _DD_QS)
    exact = (
        pos.groupBy("o_orderstatus")
        .agg(F.expr(f"percentile(o_totalprice, array({q_arr}))").alias("arr"))
        .select(
            "o_orderstatus",
            F.posexplode("arr").alias("qi", "exact_q"),
        )
        .select(
            "o_orderstatus",
            F.element_at(
                F.array(*[F.lit(q) for q in _DD_QS]), F.col("qi") + 1
            ).alias("q"),
            "exact_q",
        )
    )
    est = F.lit(2.0) * F.pow(F.lit(DD_GAMMA), F.col("idx")) / F.lit(DD_GAMMA + 1)
    return (
        hit.join(exact, ["o_orderstatus", "q"])
        .select(
            "o_orderstatus",
            "q",
            F.round(est, 4).alias("dd_estimate"),
            F.round("exact_q", 4).alias("exact_q"),
            F.round(F.abs(est - F.col("exact_q")) / F.col("exact_q"), 4).alias(
                "rel_error"
            ),
        )
        .orderBy("o_orderstatus", "q")
    )
