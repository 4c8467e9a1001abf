"""Join family: broadcast / semi / anti / range / as-of.

The reference's only joins are a pushdown SQL inner join
(``TOTVS/DataProc_Script/verifica_carga_TOTVSAUDIT.py:53-65``) and a
driver-side Python anti-join (``verifica_carga_slmandicprd.py:91-100``).
Here the full family is expressed declaratively so Catalyst picks the
physical strategy (broadcast-hash for dims, sort-merge for fact⋈fact, AQE
skew splitting).

Scale notes:
- semi/anti joins shuffle only the key columns after pruning — cheapest
  possible existence checks at 100 TB.
- the as-of join deliberately avoids the naive O(n·m) self-join: it is a
  union + single window pass (one shuffle on user_id), the same trick a
  native engine's ASOF JOIN operator performs after co-partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from feature_datalake_sl_mandic_spark.operators.relational import _t
from feature_datalake_sl_mandic_spark.registry import register


@register(
    "join_broadcast_order_priority",
    oracle="""
    SELECT n.n_name AS nation, o.o_orderpriority AS priority,
           count(*) AS n_orders,
           round(sum(o.o_totalprice), 2) AS total
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name, o.o_orderpriority
    ORDER BY nation, priority
    """,
    tags=("join", "broadcast-join", "groupby-agg"),
)
def join_broadcast_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact⋈dim⋈dim with explicit broadcast hints: zero fact-side shuffle
    before aggregation."""
    od, cu, na = _t(spark, sf_dir, "orders", "customer", "nation")
    return (
        od.join(cu, od.o_custkey == cu.c_custkey)
        .join(F.broadcast(na), cu.c_nationkey == na.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"), F.col("o_orderpriority").alias("priority"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
        .orderBy("nation", "priority")
    )


@register(
    "join_semi_customers_with_urgent_orders",
    oracle="""
    SELECT c.c_custkey, c.c_name
    FROM customer c
    WHERE EXISTS (
      SELECT 1 FROM orders o
      WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT'
    )
    ORDER BY c.c_custkey
    """,
    tags=("join", "semi-join"),
)
def join_semi_customers_with_urgent_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI join — existence check without duplication; only the join
    key of the probe side is shuffled."""
    cu, od = _t(spark, sf_dir, "customer", "orders")
    urgent = od.where(F.col("o_orderpriority") == "1-URGENT")
    return (
        cu.join(urgent, cu.c_custkey == urgent.o_custkey, "left_semi")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


@register(
    "join_anti_customers_no_urgent",
    oracle="""
    SELECT c.c_custkey, c.c_mktsegment
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderpriority = '1-URGENT')
    ORDER BY c.c_custkey
    """,
    tags=("join", "anti-join"),
)
def join_anti_customers_no_urgent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT ANTI join — the DataFrame-native form of the reference's
    driver-side "never loaded" check (verifica_carga_slmandicprd.py:91-100).
    The anti side filters orders to URGENT first: in the fixture every
    customer has SOME order, so an unfiltered anti join would return zero
    rows and the parity check would be vacuous."""
    cu, od = _t(spark, sf_dir, "customer", "orders")
    return (
        cu.join(
            od.where(F.col("o_orderpriority") == "1-URGENT"),
            cu.c_custkey == od.o_custkey,
            "left_anti",
        )
        .select("c_custkey", "c_mktsegment")
        .orderBy("c_custkey")
    )


@register(
    "join_range_lineitem_shipped_late",
    oracle="""
    SELECT o.o_orderpriority AS priority,
           count(*) AS late_lines,
           round(avg(date_diff('day', o.o_orderdate, l.l_shipdate)), 4) AS avg_lag_days
    FROM orders o
    JOIN lineitem l
      ON l.l_orderkey = o.o_orderkey
     AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
    GROUP BY o.o_orderpriority
    ORDER BY priority
    """,
    tags=("join", "range-join", "groupby-agg"),
)
def join_range_lineitem_shipped_late(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi + range join: Catalyst keeps the equi key for the shuffle and
    applies the range predicate as a post-join filter — no cartesian blowup."""
    od, li = _t(spark, sf_dir, "orders", "lineitem")
    return (
        od.join(
            li,
            (li.l_orderkey == od.o_orderkey)
            & (li.l_shipdate > od.o_orderdate + F.expr("INTERVAL 90 DAYS")),
        )
        .groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(
            F.count(F.lit(1)).alias("late_lines"),
            F.round(F.avg(F.datediff("l_shipdate", "o_orderdate")), 4).alias(
                "avg_lag_days"
            ),
        )
        .orderBy("priority")
    )


@register(
    "join_asof_purchase_after_click",
    oracle="""
    WITH tagged AS (
      SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, event_type,
             last_value(CASE WHEN event_type = 'click' THEN epoch_us(CAST(ts AS TIMESTAMP)) END
                        IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS asof_click_us
      FROM events
    )
    SELECT user_id, event_id, epoch_us(ts) AS ts_us, asof_click_us
    FROM tagged
    WHERE event_type = 'purchase'
    ORDER BY user_id, event_id
    """,
    tags=("join", "asof-join", "window"),
)
def join_asof_purchase_after_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (each purchase ↔ latest prior click per user) as a single
    window pass over the unioned stream — one shuffle on user_id, linear per
    partition; scales where the naive per-user self-join would be quadratic."""
    (ev,) = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    click_us = F.when(F.col("event_type") == "click", F.unix_micros("ts"))
    return (
        ev.withColumn("asof_click_us", F.last(click_us, ignorenulls=True).over(w))
        .where(F.col("event_type") == "purchase")
        .select(
            "user_id",
            "event_id",
            F.unix_micros("ts").alias("ts_us"),
            "asof_click_us",
        )
        .orderBy("user_id", "event_id")
    )


CAMPAIGN_EPOCH_US = 1703808000000000  # 2023-12-29 00:00:00 UTC
CAMPAIGN_LEN_US = 7 * 86_400 * 1_000_000
N_CAMPAIGNS = 6


@register(
    "join_interval_overlap_campaigns",
    oracle=f"""
    WITH iv AS (
      SELECT user_id, event_type,
             epoch_us(min(CAST(ts AS TIMESTAMP))) AS start_us,
             epoch_us(max(CAST(ts AS TIMESTAMP))) AS end_us
      FROM events
      WHERE user_id < 50
      GROUP BY user_id, event_type
    ), camps AS (
      SELECT t.i AS campaign_id,
             {CAMPAIGN_EPOCH_US} + t.i * {CAMPAIGN_LEN_US} AS c_start_us,
             {CAMPAIGN_EPOCH_US} + (t.i + 1) * {CAMPAIGN_LEN_US} - 1 AS c_end_us
      FROM range(0, {N_CAMPAIGNS}) t(i)
    )
    SELECT iv.user_id, iv.event_type, camps.campaign_id,
           (least(iv.end_us, camps.c_end_us)
            - greatest(iv.start_us, camps.c_start_us)) // 1000000 AS overlap_sec
    FROM iv JOIN camps
      ON iv.start_us <= camps.c_end_us AND camps.c_start_us <= iv.end_us
    ORDER BY user_id, event_type, campaign_id
    """,
    tags=("join", "interval-overlap", "range-join", "events"),
)
def join_interval_overlap_campaigns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap join (interval x interval, vs the point-in-range
    ``join_range_*``): per-(user, event_type) activity spans against weekly
    campaign windows, keeping pairs whose intervals intersect plus the
    overlap length. The campaign side is tiny and broadcasts, so the overlap
    predicate evaluates as a broadcast nested-loop — the right plan for
    small×big interval joins; for big×big, bucket both sides by coarse time
    grain first so candidates co-locate (same blocking idea as the dedup
    family). All arithmetic is integer µs — bit-exact in both engines."""
    (ev,) = _t(spark, sf_dir, "events")
    iv = (
        ev.where(F.col("user_id") < 50)
        .groupBy("user_id", "event_type")
        .agg(
            F.unix_micros(F.min("ts")).alias("start_us"),
            F.unix_micros(F.max("ts")).alias("end_us"),
        )
    )
    camps = spark.range(N_CAMPAIGNS).select(
        F.col("id").alias("campaign_id"),
        (F.lit(CAMPAIGN_EPOCH_US) + F.col("id") * CAMPAIGN_LEN_US).alias("c_start_us"),
        (F.lit(CAMPAIGN_EPOCH_US) + (F.col("id") + 1) * CAMPAIGN_LEN_US - 1).alias(
            "c_end_us"
        ),
    )
    overlap = (
        F.least("end_us", "c_end_us") - F.greatest("start_us", "c_start_us")
    ) / 1_000_000
    return (
        iv.join(
            F.broadcast(camps),
            (F.col("start_us") <= F.col("c_end_us"))
            & (F.col("c_start_us") <= F.col("end_us")),
        )
        .select(
            "user_id",
            "event_type",
            "campaign_id",
            F.floor(overlap).cast("bigint").alias("overlap_sec"),
        )
        .orderBy("user_id", "event_type", "campaign_id")
    )


LATERAL_TOP_N = 2


@register(
    "join_lateral_topn_customers",
    oracle=f"""
    SELECT n.n_name AS nation, c.c_name AS customer,
           round(c.c_acctbal, 2) AS acctbal
    FROM nation n,
    LATERAL (SELECT c_name, c_acctbal FROM customer
             WHERE c_nationkey = n.n_nationkey
             ORDER BY c_acctbal DESC, c_name LIMIT {LATERAL_TOP_N}) c
    ORDER BY nation, acctbal DESC, customer
    """,
    tags=("join", "lateral-join", "top-k-per-group"),
)
def join_lateral_topn_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery: top-2 customers by account balance per
    nation. The declarative per-group top-k — Catalyst decorrelates the
    LIMIT'd subquery into a ranked join rather than executing it per outer
    row, so at scale this is one shuffle on the correlation key (equivalent
    to the window-rank formulation, but stated as the ANSI lateral the
    reference's warehouse users would write). This query exists to cover
    the LATERAL operator surface itself. Catalyst decorrelates it into a
    rank filter on the 25-value correlation key and bounds that with a
    per-partition ``WindowGroupLimit`` — the same plan
    ``join_lateral_topn_grouped`` states through
    ``functions.ranking.grouped_topk``."""
    for t in ("nation", "customer"):
        _t(spark, sf_dir, t)[0].createOrReplaceTempView(t)
    return spark.sql(
        f"""
        SELECT n.n_name AS nation, c.c_name AS customer,
               round(c.c_acctbal, 2) AS acctbal
        FROM nation n,
        LATERAL (SELECT c_name, c_acctbal FROM customer
                 WHERE c_nationkey = n.n_nationkey
                 ORDER BY c_acctbal DESC, c_name LIMIT {LATERAL_TOP_N}) c
        ORDER BY nation, acctbal DESC, customer
        """
    )


@register(
    "join_lateral_topn_grouped",
    oracle=f"""
    SELECT n.n_name AS nation, c.c_name AS customer,
           round(c.c_acctbal, 2) AS acctbal
    FROM nation n,
    LATERAL (SELECT c_name, c_acctbal FROM customer
             WHERE c_nationkey = n.n_nationkey
             ORDER BY c_acctbal DESC, c_name LIMIT {LATERAL_TOP_N}) c
    ORDER BY nation, acctbal DESC, customer
    """,
    tags=("join", "lateral-join", "top-k-per-group"),
)
def join_lateral_topn_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DataFrame twin of ``join_lateral_topn_customers`` under the SAME
    oracle: the per-nation top-2 selection runs through
    ``functions.ranking.grouped_topk`` (a ``row_number <= 2`` filter that
    Catalyst plans as a per-partition ``WindowGroupLimit``, then a final
    rank over at most partitions * k rows per nation), so no fact-scale
    sort funnels through |nations| tasks — the formulation every
    production top-k selection in this repo uses. Catalyst bounds the
    decorrelated LATERAL with the same limit."""
    from feature_datalake_sl_mandic_spark.functions.ranking import grouped_topk

    cust, nat = (_t(spark, sf_dir, t)[0] for t in ("customer", "nation"))
    top = grouped_topk(
        cust.select("c_nationkey", "c_name", "c_acctbal"),
        groups=["c_nationkey"],
        order=[("c_acctbal", "desc"), ("c_name", "asc")],
        k=LATERAL_TOP_N,
    )
    return (
        top.join(F.broadcast(nat), top.c_nationkey == nat.n_nationkey)
        .select(
            F.col("n_name").alias("nation"),
            F.col("c_name").alias("customer"),
            F.round("c_acctbal", 2).alias("acctbal"),
        )
        .orderBy("nation", F.col("acctbal").desc(), "customer")
    )


# ------------------------------------------------------- null-safe equi-join


@register(
    "join_null_safe_profiles",
    oracle="""
    WITH profiles AS (
      SELECT user_id,
             CASE WHEN max(CAST(json_extract_string(props, '$.k') AS BIGINT)) % 7 = 0
                  THEN NULL
                  ELSE max(CAST(json_extract_string(props, '$.k') AS BIGINT)) % 5
             END AS attr
      FROM events
      WHERE user_id < 60
      GROUP BY user_id
    )
    SELECT a.user_id AS user_a, b.user_id AS user_b, a.attr
    FROM profiles a JOIN profiles b
      ON a.attr IS NOT DISTINCT FROM b.attr AND a.user_id < b.user_id
    ORDER BY user_a, user_b
    """,
    tags=("join", "null-safe", "eqNullSafe"),
)
def join_null_safe_profiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equi-join (``<=>`` / IS NOT DISTINCT FROM): user profiles
    with a deterministically-missing attribute pair up when attributes match
    INCLUDING the both-NULL case — the join semantics a plain ``=`` silently
    drops (NULL = NULL is NULL, so unknown-attribute rows vanish). The
    missing-data regime every entity-resolution pipeline hits.

    Plan note: Spark plans ``<=>`` as a hash join (the null-safe comparator
    is still an equality), NOT a cartesian product — asserted by this query
    completing without a cross-join hint. At scale the NULL bucket is the
    skew risk (every unknown pairs with every unknown); cap it or salt it
    the way events_salted_user_totals does."""
    (ev,) = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    mk = F.max(k)
    profiles = (
        ev.where(F.col("user_id") < 60)
        .groupBy("user_id")
        .agg(
            F.when(mk % 7 == 0, F.lit(None).cast("bigint"))
            .otherwise(mk % 5)
            .alias("attr")
        )
    )
    a = profiles.select(F.col("user_id").alias("user_a"), F.col("attr"))
    b = profiles.select(F.col("user_id").alias("user_b"), F.col("attr").alias("battr"))
    return (
        a.join(b, a["attr"].eqNullSafe(b["battr"]) & (F.col("user_a") < F.col("user_b")))
        .select("user_a", "user_b", "attr")
        .orderBy("user_a", "user_b")
    )


@register(
    "join_asof_nearest_view",
    oracle="""
    WITH tagged AS (
      SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, event_type,
             last_value(CASE WHEN event_type = 'view'
                             THEN epoch_us(CAST(ts AS TIMESTAMP)) END
                        IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS prev_view_us,
             first_value(CASE WHEN event_type = 'view'
                              THEN epoch_us(CAST(ts AS TIMESTAMP)) END
                         IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id
                     ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
               AS next_view_us
      FROM events
    )
    SELECT user_id, event_id, epoch_us(ts) AS ts_us,
           CASE
             WHEN prev_view_us IS NULL THEN next_view_us
             WHEN next_view_us IS NULL THEN prev_view_us
             WHEN epoch_us(ts) - prev_view_us <= next_view_us - epoch_us(ts)
               THEN prev_view_us
             ELSE next_view_us
           END AS nearest_view_us,
           CASE
             WHEN prev_view_us IS NULL AND next_view_us IS NULL THEN NULL
             WHEN prev_view_us IS NULL
               OR (next_view_us IS NOT NULL
                   AND next_view_us - epoch_us(ts) < epoch_us(ts) - prev_view_us)
               THEN 'forward'
             ELSE 'backward'
           END AS direction
    FROM tagged
    WHERE event_type = 'purchase'
    ORDER BY user_id, event_id
    """,
    tags=("join", "asof-join", "nearest", "window"),
)
def join_asof_nearest_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAREST-direction as-of join (each purchase ↔ the closest view in
    EITHER time direction, ties to backward) — the bidirectional variant of
    ``join_asof_purchase_after_click`` that pandas calls
    ``merge_asof(direction='nearest')``. One forward-looking and one
    backward-looking IGNORE-NULLS window over the same unioned stream, then
    a pure-projection argmin of the two candidate gaps — still ONE shuffle
    on user_id, linear per partition; no per-user self-join ever forms."""
    (ev,) = _t(spark, sf_dir, "events")
    view_us = F.when(F.col("event_type") == "view", F.unix_micros("ts"))
    wb = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wf = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(1, Window.unboundedFollowing)
    )
    ts_us = F.unix_micros("ts")
    prev_v = F.last(view_us, ignorenulls=True).over(wb)
    next_v = F.first(view_us, ignorenulls=True).over(wf)
    tagged = ev.select(
        "user_id",
        "event_id",
        "ts",
        "event_type",
        prev_v.alias("prev_view_us"),
        next_v.alias("next_view_us"),
    )
    back_gap = ts_us - F.col("prev_view_us")
    fwd_gap = F.col("next_view_us") - ts_us
    nearest = (
        F.when(F.col("prev_view_us").isNull(), F.col("next_view_us"))
        .when(F.col("next_view_us").isNull(), F.col("prev_view_us"))
        .when(back_gap <= fwd_gap, F.col("prev_view_us"))
        .otherwise(F.col("next_view_us"))
    )
    direction = (
        F.when(
            F.col("prev_view_us").isNull() & F.col("next_view_us").isNull(),
            F.lit(None).cast("string"),
        )
        .when(
            F.col("prev_view_us").isNull()
            | (F.col("next_view_us").isNotNull() & (fwd_gap < back_gap)),
            F.lit("forward"),
        )
        .otherwise(F.lit("backward"))
    )
    return (
        tagged.where(F.col("event_type") == "purchase")
        .select(
            "user_id",
            "event_id",
            ts_us.alias("ts_us"),
            nearest.alias("nearest_view_us"),
            direction.alias("direction"),
        )
        .orderBy("user_id", "event_id")
    )
