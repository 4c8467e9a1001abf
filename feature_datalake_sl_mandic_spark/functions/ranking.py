"""Top-k selection: one ``row_number`` filter that Catalyst bounds itself.

``row_number() OVER (...) <= k`` is the only ranked top-k idiom in the
package (``grouped_topk``). Spark's ``InferWindowGroupLimit`` rule plans it
as a local per-partition top-k followed by a bounded merge (the REPOSE
shape, PAPERS.md), so the window never sorts a whole group or the whole
input in one task:

- With groups, the plan is ``WindowGroupLimit Partial`` (per-partition
  top-k per group) -> ``Exchange`` on the groups -> ``WindowGroupLimit
  Final`` -> ``Window``. A group's window input is at most
  partitions * k rows, however large or hot the group is.
- With ``groups=[]`` (a global top-k with its rank ordinal), the plan is
  ``TakeOrderedAndProject`` under the un-partitioned ``Window``: each input
  partition keeps a k-heap and the window ranks only the k merged rows.

The rewrite applies while k <= ``spark.sql.optimizer.
windowGroupLimitThreshold`` (default 1000); every call site uses k <= 50.
Above the threshold the limit disappears from the plan and the probe in
``plans/probe.py`` flags the bare low-cardinality window again.

``topk`` (``orderBy().limit()`` -> ``TakeOrderedAndProject``) stays for
the unranked global case. The sort spec must be a total order (include a
unique tie-break column) for results to be deterministic, as ``row_number``
requires.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

# (column name, "asc" | "desc") — lexicographic, first spec most significant.
OrderSpec = list[tuple[str, str]]


def _sort_cols(order: OrderSpec) -> list[Column]:
    return [
        F.col(name).desc() if direction == "desc" else F.col(name).asc()
        for name, direction in order
    ]


def topk(df: DataFrame, order: OrderSpec, k: int) -> DataFrame:
    """Top-k rows of ``df`` under ``order`` via TakeOrdered (no Window)."""
    return df.orderBy(*_sort_cols(order)).limit(k)


def grouped_topk(
    df: DataFrame,
    groups: list[str],
    order: OrderSpec,
    k: int,
    rank_col: str | None = None,
) -> DataFrame:
    """The top-k rows per group of ``groups`` under ``order`` (the global
    top-k when ``groups`` is empty).

    With ``rank_col`` the 1-based BIGINT ordinal is kept in the output;
    otherwise only the top-k rows survive, unranked. Output order is
    unspecified: callers that need rank order sort at the call site.
    """
    w = Window.partitionBy(*groups).orderBy(*_sort_cols(order))
    out = rank_col or "__rn"
    ranked = df.withColumn(out, F.row_number().over(w).cast("bigint")).where(
        F.col(out) <= k
    )
    return ranked if rank_col else ranked.drop(out)
