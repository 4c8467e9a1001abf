"""Property tests for ``functions/ranking.py``: ``topk`` (TakeOrdered) must
keep EXACTLY the rows a global ``row_number`` filter keeps, and the global
``grouped_topk`` must rank through TakeOrdered rather than a full-input
window. (``grouped_topk`` IS the ``row_number`` filter, so its values need
no decomposition test; oracle parity checks every call site.)

Randomized inputs deliberately generate heavy ties on the score column so
the lexicographic tie-break path (not just the primary sort key) is what
decides most ranks."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F
from pyspark.sql.window import Window

PROP_SETTINGS = dict(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

# (id, score) rows; score drawn from a tiny domain -> many ties, and ids are
# unique so the full sort key is still a total order (the helper's contract).
_rows_st = st.lists(
    st.tuples(st.integers(0, 40), st.integers(0, 4)),
    min_size=0,
    max_size=40,
    unique_by=lambda t: t[0],
)


def _window_reference(df, k):
    """The formulation the rewrite replaced: global row_number + filter."""
    w = Window.orderBy(F.col("score").desc(), "id")
    return (
        df.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .where(F.col("rnk") <= k)
    )


@settings(**PROP_SETTINGS)
@given(rows=_rows_st, k=st.integers(1, 12))
def test_topk_matches_global_row_number_rows(spark, rows, k):
    from feature_datalake_sl_mandic_spark.functions.ranking import topk

    df = spark.createDataFrame(
        rows or [(None, None)], "id INT, score INT"
    ).where(F.col("id").isNotNull())
    got = {
        (r.id, r.score)
        for r in topk(df, [("score", "desc"), ("id", "asc")], k).collect()
    }
    want = {(r.id, r.score) for r in _window_reference(df, k).collect()}
    assert got == want


def test_topk_with_rank_three_key_order_and_plan(spark):
    """Three-column lexicographic order (the graph edge-list shape) ranks
    identically to row_number, ``topk`` plans no Window at all, and the
    global ``grouped_topk``'s rank window sits on the TakeOrderedAndProject
    that kept its k rows, so no task ranks the full input."""
    from feature_datalake_sl_mandic_spark.functions.ranking import (
        grouped_topk,
        topk,
    )
    from feature_datalake_sl_mandic_spark.plans import (
        unpartitioned_window_children,
    )

    rows = [
        (u, v, s)
        for u in range(4)
        for v in range(4)
        for s in (1, 2)
        if u < v
    ]
    df = spark.createDataFrame(rows, "u INT, v INT, shared INT")
    order = [("shared", "desc"), ("u", "asc"), ("v", "asc")]
    w = Window.orderBy(F.col("shared").desc(), "u", "v")
    want = [
        (r.u, r.v, r.shared, r.rnk)
        for r in df.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .where(F.col("rnk") <= 5)
        .orderBy("rnk")
        .collect()
    ]
    ranked = grouped_topk(df, [], order, 5, rank_col="rnk")
    got = [(r.u, r.v, r.shared, r.rnk) for r in ranked.orderBy("rnk").collect()]
    assert got == want

    assert unpartitioned_window_children(ranked) == ["TakeOrderedAndProject"]
    plan = topk(df, order, 5)._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert "TakeOrdered" in plan


class TestBucketSplitRangeFrame:
    """The bucket-partitioned + boundary-spillover rewrite of the 7-day RANGE
    frame must agree exactly with the plain global RANGE window, including on
    gap-heavy calendars where frames straddle bucket boundaries."""

    @given(
        epochs=st.lists(st.integers(0, 130), min_size=1, max_size=50, unique=True)
    )
    @settings(**PROP_SETTINGS)
    def test_matches_global_range_window(self, spark, epochs):
        self._check(spark, epochs)

    def _check(self, spark, epochs):
        rows = [(e, float(e % 7 + 1), e % 5 + 1) for e in sorted(epochs)]
        df = spark.createDataFrame(rows, "epoch int, rev double, n int")

        w_global = Window.orderBy("epoch").rangeBetween(-6, Window.currentRow)
        expect = {
            (r["epoch"], round(r["s"], 6), r["c"])
            for r in df.select(
                "epoch",
                F.sum("rev").over(w_global).alias("s"),
                F.sum("n").over(w_global).alias("c"),
            ).collect()
        }

        B, L = 32, 6
        native = df.withColumn("bucket", F.floor(F.col("epoch") / B)).withColumn(
            "borrowed", F.lit(False)
        )
        spill = (
            df.where(F.col("epoch") % B >= B - L)
            .withColumn("bucket", F.floor(F.col("epoch") / B) + 1)
            .withColumn("borrowed", F.lit(True))
        )
        w_b = Window.partitionBy("bucket").orderBy("epoch").rangeBetween(
            -L, Window.currentRow
        )
        got = {
            (r["epoch"], round(r["s"], 6), r["c"])
            for r in native.unionByName(spill)
            .select(
                "epoch",
                "borrowed",
                F.sum("rev").over(w_b).alias("s"),
                F.sum("n").over(w_b).alias("c"),
            )
            .where(~F.col("borrowed"))
            .collect()
        }
        assert got == expect

    # Epochs clustered tightly around bucket boundaries (multiples of 32,
    # offsets within +/- lookback+1) with everything else absent: every frame
    # either straddles a boundary or sits beside a gap that swallowed its
    # entire lookback — the two edge cases the spillover construction exists
    # for. The plain-sparse strategy above rarely generates these densely.
    _boundary_epochs = st.lists(
        st.sampled_from(
            sorted(
                {
                    b * 32 + o
                    for b in range(1, 5)
                    for o in range(-8, 8)
                    if b * 32 + o >= 0
                }
            )
        ),
        min_size=1,
        max_size=40,
        unique=True,
    )

    @given(epochs=_boundary_epochs)
    @settings(**PROP_SETTINGS)
    def test_matches_global_range_window_at_bucket_boundaries(self, spark, epochs):
        self._check(spark, epochs)
