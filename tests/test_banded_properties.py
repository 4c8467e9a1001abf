"""Property tests for the banded two-level rank decompositions.

The banded family (``split_exact_stratified``,
``agg_weighted_median_price``, ``customers_pareto_abc``,
``stats_gini_order_values``) replaces full-partition
rank windows keyed on low-cardinality columns (the scale-killer class the
round-5 verdict hunted) with band-prefix arithmetic + boundary-band-only
ranking. Their oracles prove equality on the fixture distribution at two
scale factors; these hypothesis tests prove it on adversarial inputs —
single-row groups, strata whose test/val boundary lands exactly on a band
edge, and band occupancies of 0/1.
"""

from __future__ import annotations

import os

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F
from pyspark.sql.window import Window

PROP_SETTINGS = dict(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

# (doc_id, key) rows: unique ids (the helpers' contract — doc_id is a PK),
# keys from a tiny domain so single-key mega-partitions (the regime the
# banded form exists for) and empty/singleton keys all get generated.
_rows_st = st.lists(
    st.tuples(st.integers(0, 500), st.integers(0, 3)),
    min_size=0,
    max_size=80,
    unique_by=lambda t: t[0],
)


@settings(**PROP_SETTINGS)
@given(rows=_rows_st)
def test_split_banded_matches_global_window(spark, tmp_path_factory, rows):
    """The registered banded split equals the naive global-window split on
    arbitrary synthetic corpora (exercised through its real entry point by
    writing a documents.parquet the query reads)."""
    from feature_datalake_sl_mandic_spark.operators.curation import (
        SPLIT_TEST_PCT,
        SPLIT_VAL_PCT,
        split_exact_stratified,
    )

    sf_dir = str(tmp_path_factory.mktemp("split_prop"))
    df = spark.createDataFrame(
        rows or [(None, None)], "doc_id INT, lang INT"
    ).where(F.col("doc_id").isNotNull()).select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.col("lang").cast("string").alias("lang"),
    )
    df.write.parquet(os.path.join(sf_dir, "documents.parquet"))

    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    t1, t2 = SPLIT_TEST_PCT, SPLIT_TEST_PCT + SPLIT_VAL_PCT
    naive = (
        df.withColumn("r", F.row_number().over(w))
        .withColumn("n", F.count("*").over(Window.partitionBy("lang")))
        .select(
            "doc_id",
            "lang",
            F.when(F.col("r") * 100 <= F.col("n") * t1, "test")
            .when(F.col("r") * 100 <= F.col("n") * t2, "val")
            .otherwise("train")
            .alias("split"),
        )
    )
    want = {tuple(r) for r in naive.collect()}
    got = {tuple(r) for r in split_exact_stratified(spark, sf_dir).collect()}
    assert got == want


# (orderkey, linenumber) unique line ids; 3-value flag (the low-cardinality
# regime); prices cross the _WMED_BUCKET band width AND the 60-band cap;
# integer weights >= 1 (the lineitem contract — l_quantity >= 1; a tw=0
# group is out of contract and the banded form deliberately assumes tw > 0).
_lines_st = st.lists(
    st.tuples(
        st.integers(0, 30),  # l_orderkey
        st.integers(1, 7),  # l_linenumber
        st.integers(0, 2),  # flag index
        st.integers(0, 140),  # price in _WMED_BUCKET/2 steps -> bands 0..60+
        st.integers(1, 5),  # weight
    ),
    min_size=1,
    max_size=60,
    unique_by=lambda t: (t[0], t[1]),
)


@settings(**PROP_SETTINGS)
@given(lines=_lines_st)
def test_weighted_median_banded_matches_global_window(
    spark, tmp_path_factory, lines
):
    """The banded weighted median (round-5 rewrite) equals the naive
    flag-partitioned cumulative-window form on arbitrary line sets,
    including prices past the 60-band cap and single-line groups."""
    from feature_datalake_sl_mandic_spark.operators.aggregates import (
        _WMED_BUCKET,
        agg_weighted_median_price,
    )

    sf_dir = str(tmp_path_factory.mktemp("wmed_prop"))
    flags = ["A", "N", "R"]
    df = spark.createDataFrame(
        [
            (flags[f], ok, ln, (p * _WMED_BUCKET) / 2.0 + 0.25, float(wt))
            for (ok, ln, f, p, wt) in lines
        ],
        "l_returnflag STRING, l_orderkey INT, l_linenumber INT, "
        "l_extendedprice DOUBLE, l_quantity DOUBLE",
    )
    df.write.parquet(os.path.join(sf_dir, "lineitem.parquet"))

    w_cum = (
        Window.partitionBy("l_returnflag")
        .orderBy("l_extendedprice", "l_orderkey", "l_linenumber")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wt = F.col("l_quantity").cast("bigint")
    cum = df.select(
        "l_returnflag",
        F.col("l_extendedprice").alias("price"),
        F.sum(wt).over(w_cum).alias("cw"),
        F.sum(wt).over(Window.partitionBy("l_returnflag")).alias("tw"),
    )
    w_pick = Window.partitionBy("l_returnflag").orderBy("cw", "price")
    naive = (
        cum.where(2 * F.col("cw") >= F.col("tw"))
        .withColumn("rn", F.row_number().over(w_pick))
        .where(F.col("rn") == 1)
        .select(
            "l_returnflag",
            F.col("tw").alias("total_weight"),
            F.round("price", 2).alias("weighted_median_price"),
        )
    )
    want = {tuple(r) for r in naive.collect()}
    got = {tuple(r) for r in agg_weighted_median_price(spark, sf_dir).collect()}
    assert got == want


# (custkey, orderkey, price-step) orders: heavy revenue ties across
# customers (same summed revenue -> desc-order tie-breaks by custkey) and
# revenues crossing the 50-band cap of customers_pareto_abc.
_orders_st = st.lists(
    st.tuples(
        st.integers(0, 12),  # o_custkey
        st.integers(0, 200),  # o_orderkey (uniqueness key)
        st.integers(1, 60),  # price in 50k-cent steps
    ),
    min_size=1,
    max_size=50,
    unique_by=lambda t: t[1],
)


@settings(**PROP_SETTINGS)
@given(orders=_orders_st)
def test_pareto_abc_banded_matches_global_window(spark, tmp_path_factory, orders):
    """The banded Pareto/ABC prefix sum equals the naive global descending
    cumulative window on arbitrary order sets, including revenue ties and
    customers past the 50-band cap."""
    from feature_datalake_sl_mandic_spark.operators.aggregates import (
        ABC_A_CUT,
        ABC_B_CUT,
        customers_pareto_abc,
    )

    sf_dir = str(tmp_path_factory.mktemp("abc_prop"))
    df = spark.createDataFrame(
        [(ck, ok, p * 50_000.0 + 0.25) for (ck, ok, p) in orders],
        "o_custkey INT, o_orderkey INT, o_totalprice DOUBLE",
    )
    df.write.parquet(os.path.join(sf_dir, "orders.parquet"))

    rev = df.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(38,2)")).alias("revenue")
    )
    w = Window.partitionBy().orderBy(F.col("revenue").desc(), "o_custkey").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = rev.withColumn("cum_rev", F.sum("revenue").over(w)).crossJoin(
        F.broadcast(rev.agg(F.sum("revenue").alias("total")))
    )
    share = F.col("cum_rev") / F.col("total")
    naive = (
        cum.select(
            "revenue",
            F.when(share <= ABC_A_CUT, "A")
            .when(share <= ABC_B_CUT, "B")
            .otherwise("C")
            .alias("abc_class"),
            "total",
        )
        .groupBy("abc_class")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.sum("revenue"), 2).cast("double").alias("class_revenue"),
            F.round((F.sum("revenue") / F.first("total")).cast("double"), 4).alias(
                "revenue_share"
            ),
        )
    )
    want = {tuple(r) for r in naive.collect()}
    got = {tuple(r) for r in customers_pareto_abc(spark, sf_dir).collect()}
    assert got == want


# (orderkey, custkey, price-step): very few distinct prices -> heavy v-ties
# per segment, the regime the tie-arithmetic rewrite exists for; prices also
# cross the _GINI_BAND_CENTS band width.
_gini_orders_st = st.lists(
    st.tuples(
        st.integers(0, 200),  # o_orderkey (uniqueness key)
        st.integers(0, 9),  # o_custkey
        st.integers(1, 25),  # price in 5000-dollar steps
    ),
    min_size=1,
    max_size=50,
    unique_by=lambda t: t[0],
)


@settings(**PROP_SETTINGS)
@given(orders=_gini_orders_st)
def test_gini_tie_arithmetic_matches_rank_window(spark, tmp_path_factory, orders):
    """The distinct-value tie-arithmetic Gini equals the naive per-row rank
    window form on arbitrary order sets with heavy value ties."""
    from feature_datalake_sl_mandic_spark.operators.profile import (
        stats_gini_order_values,
    )

    sf_dir = str(tmp_path_factory.mktemp("gini_prop"))
    segs = ["AUTOMOBILE", "BUILDING", "MACHINERY"]
    od = spark.createDataFrame(
        [(ok, ck, p * 5000.0 + 0.13) for (ok, ck, p) in orders],
        "o_orderkey INT, o_custkey INT, o_totalprice DOUBLE",
    )
    cu = spark.createDataFrame(
        [(ck, segs[ck % 3]) for ck in range(10)],
        "c_custkey INT, c_mktsegment STRING",
    )
    od.write.parquet(os.path.join(sf_dir, "orders.parquet"))
    cu.write.parquet(os.path.join(sf_dir, "customer.parquet"))

    cents = od.join(cu, od["o_custkey"] == cu["c_custkey"]).select(
        "o_orderkey",
        F.col("c_mktsegment").alias("seg"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("v"),
    )
    w = Window.partitionBy("seg").orderBy("v", "o_orderkey")
    agg = (
        cents.withColumn("i", F.row_number().over(w))
        .groupBy("seg")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("v").alias("total"),
            F.sum(F.col("i").cast("decimal(38,0)") * F.col("v")).cast("double").alias("weighted"),
        )
    )
    gini = (2.0 * F.col("weighted")) / (
        F.col("n").cast("double") * F.col("total")
    ) - (F.col("n") + 1.0) / F.col("n")
    naive = agg.select(
        "seg",
        "n",
        F.round(F.col("total") / 100.0, 2).alias("total_value"),
        F.round(gini, 6).alias("gini"),
    )
    want = {tuple(r) for r in naive.collect()}
    got = {tuple(r) for r in stats_gini_order_values(spark, sf_dir).collect()}
    assert got == want


# (user_id or None, value in cents steps, event_type index or None): NULL
# strata and NULL user keys exercise the '__null__' sentinel path; tiny value
# domains produce heavy ties in the (hk, cents) selection order; stratum
# sizes from 1 row up exercise n_alloc floors of 0 and caps at n_pop.
_neyman_rows_st = st.lists(
    st.tuples(
        st.one_of(st.none(), st.integers(0, 5)),
        st.integers(0, 40),
        st.one_of(st.none(), st.integers(0, 2)),
    ),
    min_size=1,
    max_size=60,
)


@settings(**PROP_SETTINGS)
@given(rows=_neyman_rows_st)
def test_neyman_banded_selection_matches_oracle(spark, tmp_path_factory, rows):
    """The Neyman sampler's banded per-stratum-cap selection (top-8-bit hash
    bands, boundary-band-only ranking) hash-matches its own DuckDB oracle —
    which states the global rank-window semantics — on hypothesis-generated
    events with NULL strata/users and heavy selection-key ties. This is the
    driver's comparison run on adversarial data instead of the fixture."""
    import duckdb

    from feature_datalake_sl_mandic_spark import registry
    from feature_datalake_sl_mandic_spark.oracle import compare

    spec = registry.load_all()["sample_stratified_neyman"]
    etypes = ["click", "purchase", "view"]
    sf_dir = str(tmp_path_factory.mktemp("neyman_prop"))
    df = spark.createDataFrame(
        [
            (u, (None if et is None else etypes[et]), v * 0.25 + 0.01)
            for (u, v, et) in rows
        ],
        "user_id INT, event_type STRING, value DOUBLE",
    )
    df.write.parquet(os.path.join(sf_dir, "events.parquet"))

    spdf = spec.fn(spark, sf_dir).toPandas()
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM read_parquet("
        f"'{os.path.join(sf_dir, 'events.parquet')}/*.parquet')"
    )
    dkdf = con.execute(spec.oracle).df()
    errs = [e for e in compare(spdf, dkdf, "neyman_prop") if "WARNING" not in e]
    assert not errs, "\n".join(errs)
