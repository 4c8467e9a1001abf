"""Graph analytics over a relationally-derived graph.

Extension surface: the co-supply graph — suppliers are vertices, an edge
links two suppliers that ship many of the same parts. The fixture's
lineitem is dense enough that ANY fixed shared-part threshold yields a
complete graph, so the edge set is defined rank-adaptively: the top
``N_EDGES`` pairs by (shared-part count DESC, pair id) — deterministic at
every scale factor and sparse by construction.

Operators (both fully hash-checked — integer counts / rounded doubles):

- degree + per-vertex triangle participation: the triangle join is the
  standard a<b<c three-way self-join on the oriented edge list, so each
  triangle is generated exactly once;
- PageRank, 2 fixed power iterations (damping 0.85) on the undirected
  graph. Per-iteration scores are rounded to 6 decimals on both engines —
  the same distributed-summation-order contract as every float aggregate
  here. A production run would loop with ``localCheckpoint`` per iteration
  exactly like ``dedup_cluster_components``; 2 unrolled iterations keep the
  oracle SQL-expressible.

Scale shape: pair generation groups by part then emits per-part supplier
pairs — bounded by the same per-key cap argument as ``shingles_with_df_cap``
(skewed parts would be capped or salted at 100 TB; the docstringed plan is
``groupBy(part) -> pairs -> groupBy(pair) count``, two shuffles). The edge
list after the top-N rank is tiny and broadcasts everywhere downstream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from feature_datalake_sl_mandic_spark.functions.ranking import topk
from feature_datalake_sl_mandic_spark.operators.relational import _t
from feature_datalake_sl_mandic_spark.registry import register

N_EDGES = 150
DAMPING = 0.85

_EDGE_CTES = f"""
    sp AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
    pairs AS (
      SELECT a.l_suppkey AS u, b.l_suppkey AS v, count(*) AS shared_parts
      FROM sp a JOIN sp b ON a.l_partkey = b.l_partkey AND a.l_suppkey < b.l_suppkey
      GROUP BY 1, 2
    ), edges AS (
      SELECT u, v, shared_parts FROM (
        SELECT *, row_number() OVER (ORDER BY shared_parts DESC, u, v) AS rnk
        FROM pairs
      ) WHERE rnk <= {N_EDGES}
    )
"""


def _edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Negative result, measured (round 6): rewriting this as
    groupBy(part) -> collect_set -> in-row pair explosion (2 exchanges
    instead of 3) benched ~15% SLOWER back-to-back at sf0.1 — collect_set
    is an object-hash aggregate off the whole-stage-codegen path, and it
    concentrates a hot part's k^2 pair fan-out in a single task where the
    self-join streams it. The codegen distinct + equi-join below stays."""
    (li,) = _t(spark, sf_dir, "lineitem")
    sp = li.select("l_partkey", "l_suppkey").distinct()
    a = sp.alias("a")
    b = sp.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_partkey") == F.col("b.l_partkey"))
            & (F.col("a.l_suppkey") < F.col("b.l_suppkey")),
        )
        .groupBy(
            F.col("a.l_suppkey").alias("u"), F.col("b.l_suppkey").alias("v")
        )
        .agg(F.count(F.lit(1)).alias("shared_parts"))
    )
    # The capped edge list is tiny (N_EDGES rows) but referenced many times
    # downstream (triangle 3-way self-join; PageRank iterations).
    # topk plans as TakeOrderedAndProject (per-partition k-heap + driver
    # merge) — the rank ordinal is never emitted, so no ranking pass is
    # needed at all. localCheckpoint materializes it once and truncates
    # lineage so each reuse is a cached scan, not a re-derivation from
    # lineitem — same pattern as dedup_cluster_components' iteration loop.
    return topk(
        pairs, [("shared_parts", "desc"), ("u", "asc"), ("v", "asc")], N_EDGES
    ).localCheckpoint()


@register(
    "graph_cosupply_triangles",
    oracle=f"""
    WITH {_EDGE_CTES},
    tri AS (
      SELECT e1.u AS a, e1.v AS b, e2.v AS c
      FROM edges e1
      JOIN edges e2 ON e1.v = e2.u
      JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v
    ), tri_nodes AS (
      SELECT a AS node FROM tri
      UNION ALL SELECT b FROM tri
      UNION ALL SELECT c FROM tri
    ), deg AS (
      SELECT node, count(*) AS degree FROM (
        SELECT u AS node FROM edges UNION ALL SELECT v FROM edges
      ) GROUP BY node
    )
    SELECT d.node AS s_suppkey, d.degree,
           coalesce(t.n, 0) AS n_triangles
    FROM deg d LEFT JOIN (SELECT node, count(*) AS n FROM tri_nodes GROUP BY node) t
      ON d.node = t.node
    ORDER BY s_suppkey
    """,
    tags=("graph", "triangles", "degree", "self-join"),
)
def graph_cosupply_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vertex degree and triangle participation on the top-150 co-supply
    graph. Oriented (u<v) edge list makes the 3-way self-join emit each
    triangle once; per-vertex counts come from unpivoting triangle corners."""
    e = _edges(spark, sf_dir)
    e1 = e.select(F.col("u").alias("a"), F.col("v").alias("b"))
    e2 = e.select(F.col("u").alias("b2"), F.col("v").alias("c"))
    e3 = e.select(F.col("u").alias("a3"), F.col("v").alias("c3"))
    tri = (
        e1.join(e2, F.col("b") == F.col("b2"))
        .join(e3, (F.col("a3") == F.col("a")) & (F.col("c3") == F.col("c")))
        .select("a", "b", "c")
    )
    tri_nodes = (
        tri.select(F.col("a").alias("node"))
        .unionAll(tri.select(F.col("b").alias("node")))
        .unionAll(tri.select(F.col("c").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    deg = (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    return (
        deg.join(tri_nodes, on="node", how="left")
        .select(
            F.col("node").alias("s_suppkey"),
            "degree",
            F.coalesce(F.col("n"), F.lit(0)).alias("n_triangles"),
        )
        .orderBy("s_suppkey")
    )


@register(
    "graph_pagerank_cosupply",
    oracle=f"""
    WITH {_EDGE_CTES},
    ed AS (SELECT u, v FROM edges UNION ALL SELECT v, u FROM edges),
    deg AS (SELECT u AS node, count(*) AS d FROM ed GROUP BY u),
    n AS (SELECT count(*) AS cnt FROM deg),
    pr0 AS (SELECT node, d, round(1.0 / n.cnt, 6) AS pr FROM deg CROSS JOIN n),
    pr1 AS (
      SELECT t.node, deg.d,
             round((1 - {DAMPING}) / any_value(n.cnt)
                   + {DAMPING} * sum(t.contrib), 6) AS pr
      FROM (SELECT ed.v AS node, pr0.pr / pr0.d AS contrib
            FROM ed JOIN pr0 ON ed.u = pr0.node) t
      CROSS JOIN n
      JOIN deg ON deg.node = t.node
      GROUP BY t.node, deg.d
    ),
    pr2 AS (
      SELECT t.node,
             round((1 - {DAMPING}) / any_value(n.cnt)
                   + {DAMPING} * sum(t.contrib), 6) AS pr
      FROM (SELECT ed.v AS node, pr1.pr / pr1.d AS contrib
            FROM ed JOIN pr1 ON ed.u = pr1.node) t
      CROSS JOIN n
      GROUP BY t.node
    )
    SELECT node AS s_suppkey, pr AS pagerank
    FROM pr2 ORDER BY s_suppkey
    """,
    tags=("graph", "pagerank", "iterative", "groupby-agg"),
)
def graph_pagerank_cosupply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-iteration PageRank (d=0.85) on the undirected co-supply graph:
    contribution = pr/degree flows along each directed edge, damped sum per
    vertex, scores rounded per iteration for engine parity."""
    e = _edges(spark, sf_dir)
    ed = e.select("u", "v").unionAll(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    deg = ed.groupBy(F.col("u").alias("node")).agg(F.count(F.lit(1)).alias("d"))
    n = deg.count()  # bounded: node count of the capped edge list
    if n == 0:  # empty graph: no vertices, no ranks — not a division crash
        return deg.select(
            F.col("node").alias("s_suppkey"), F.lit(0.0).alias("pagerank")
        ).orderBy("s_suppkey")
    pr = deg.select("node", "d", F.round(F.lit(1.0) / n, 6).alias("pr"))
    for _ in range(2):
        contrib = ed.join(pr, ed["u"] == pr["node"]).select(
            F.col("v").alias("node"), (F.col("pr") / F.col("d")).alias("contrib")
        )
        pr = (
            contrib.groupBy("node")
            .agg(
                F.round(
                    F.lit((1 - DAMPING) / n) + F.lit(DAMPING) * F.sum("contrib"), 6
                ).alias("pr")
            )
            .join(deg, on="node")
            .select("node", "d", "pr")
        )
    return pr.select(F.col("node").alias("s_suppkey"), F.col("pr").alias("pagerank")).orderBy(
        "s_suppkey"
    )


BFS_HOPS = 3


@register(
    "graph_bfs_distances",
    oracle=f"""
    WITH {_EDGE_CTES},
    ed AS (SELECT u, v FROM edges UNION ALL SELECT v, u FROM edges),
    seed AS (
      SELECT u AS node FROM edges ORDER BY shared_parts DESC, u, v LIMIT 1
    ),
    f1 AS (SELECT DISTINCT e.v AS node FROM ed e JOIN seed s ON e.u = s.node),
    f2 AS (SELECT DISTINCT e.v AS node FROM ed e JOIN f1 f ON e.u = f.node),
    f3 AS (SELECT DISTINCT e.v AS node FROM ed e JOIN f2 f ON e.u = f.node),
    reach AS (
      SELECT node, 0 AS dist FROM seed
      UNION ALL SELECT node, 1 FROM f1
      UNION ALL SELECT node, 2 FROM f2
      UNION ALL SELECT node, 3 FROM f3
    )
    SELECT node AS s_suppkey, min(dist) AS dist
    FROM reach GROUP BY node
    ORDER BY dist, s_suppkey
    """,
    tags=("graph", "bfs", "iterative"),
)
def graph_bfs_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Breadth-first shortest hop distance (<= 3 hops) from the most-connected
    supplier over the undirected co-supply graph. Iterative frontier
    expansion: each hop is one equi-join frontier><edges + distinct, with
    ``localCheckpoint`` truncating lineage per level (same pattern as
    PageRank at ``graph.py`` above — without it, level k replays all k-1
    prior joins). Frontiers stay small relative to the edge relation, so at
    scale each hop is a broadcast join of frontier onto hash-partitioned
    edges; the final min-dist group-by is over the bounded reach set."""
    e = _edges(spark, sf_dir)
    ed = e.select("u", "v").union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    seed = (
        e.orderBy(F.col("shared_parts").desc(), "u", "v")
        .limit(1)
        .select(F.col("u").alias("node"))
    )
    levels = [seed.withColumn("dist", F.lit(0))]
    frontier = seed.localCheckpoint(eager=True)
    for hop in range(1, BFS_HOPS + 1):
        frontier = (
            ed.join(frontier, ed["u"] == frontier["node"])
            .select(F.col("v").alias("node"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        levels.append(frontier.withColumn("dist", F.lit(hop)))
    reach = levels[0]
    for lv in levels[1:]:
        reach = reach.union(lv)
    return (
        reach.groupBy(F.col("node").alias("s_suppkey"))
        .agg(F.min("dist").alias("dist"))
        .orderBy("dist", "s_suppkey")
    )


# ------------------------------------------------ weighted min-cost paths

SSSP_RELAXATIONS = 3
EDGE_COST_SCALE = 1_000_000  # cost = floor(SCALE / shared_parts): stronger
# co-supply = cheaper edge; integer costs keep min-plus arithmetic exact.


@register(
    "graph_min_cost_paths",
    oracle=f"""
    WITH {_EDGE_CTES},
    ed AS (
      SELECT u, v, CAST(floor({EDGE_COST_SCALE}.0 / shared_parts) AS BIGINT)
               AS cost
      FROM edges
      UNION ALL
      SELECT v, u, CAST(floor({EDGE_COST_SCALE}.0 / shared_parts) AS BIGINT)
      FROM edges
    ),
    seed AS (
      SELECT u AS node FROM edges ORDER BY shared_parts DESC, u, v LIMIT 1
    ),
    d0 AS (SELECT node, CAST(0 AS BIGINT) AS cost FROM seed),
    d1 AS (
      SELECT node, min(cost) AS cost FROM (
        SELECT node, cost FROM d0
        UNION ALL
        SELECT e.v AS node, d.cost + e.cost AS cost
        FROM d0 d JOIN ed e ON e.u = d.node
      ) GROUP BY node
    ),
    d2 AS (
      SELECT node, min(cost) AS cost FROM (
        SELECT node, cost FROM d1
        UNION ALL
        SELECT e.v AS node, d.cost + e.cost AS cost
        FROM d1 d JOIN ed e ON e.u = d.node
      ) GROUP BY node
    ),
    d3 AS (
      SELECT node, min(cost) AS cost FROM (
        SELECT node, cost FROM d2
        UNION ALL
        SELECT e.v AS node, d.cost + e.cost AS cost
        FROM d2 d JOIN ed e ON e.u = d.node
      ) GROUP BY node
    )
    SELECT node AS s_suppkey, cost AS min_cost_scaled
    FROM d3
    ORDER BY min_cost_scaled, s_suppkey
    """,
    tags=("graph", "shortest-path", "bellman-ford", "iterative"),
)
def graph_min_cost_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted single-source min-cost paths (<= 3 relaxations) over the
    co-supply graph — Bellman-Ford as iterated min-plus: each round joins
    the tentative-distance relation with the edge list and keeps the
    per-node minimum, so hop-k costs are exact for paths up to k edges.
    Edge cost is the integer floor(SCALE / shared_parts) — stronger
    co-supply = cheaper — which keeps every distance a BIGINT sum: no float
    comparisons anywhere, so min-plus ties are exact, not rounded. The
    weighted twin of ``graph_bfs_distances`` (hop count = uniform costs).

    Scale: per round one join of the bounded distance relation against the
    hash-partitioned edge list + one min aggregation; ``localCheckpoint``
    truncates lineage per round, same as BFS/PageRank above."""
    e = _edges(spark, sf_dir)
    cost = F.floor(EDGE_COST_SCALE / F.col("shared_parts")).cast("bigint")
    ed = (
        e.select("u", "v", cost.alias("cost"))
        .union(e.select(F.col("v").alias("u"), F.col("u").alias("v"), cost.alias("cost")))
    )
    seed = (
        e.orderBy(F.col("shared_parts").desc(), "u", "v")
        .limit(1)
        .select(F.col("u").alias("node"))
    )
    dist = seed.withColumn("cost", F.lit(0).cast("bigint")).localCheckpoint(eager=True)
    for _ in range(SSSP_RELAXATIONS):
        relaxed = (
            ed.join(dist, ed["u"] == dist["node"])
            .select(F.col("v").alias("node"), (dist["cost"] + ed["cost"]).alias("cost"))
        )
        dist = (
            dist.select("node", "cost")
            .union(relaxed)
            .groupBy("node")
            .agg(F.min("cost").alias("cost"))
            .localCheckpoint(eager=True)
        )
    return (
        dist.select(F.col("node").alias("s_suppkey"), F.col("cost").alias("min_cost_scaled"))
        .orderBy("min_cost_scaled", "s_suppkey")
    )


LINKPRED_TOP = 25


@register(
    "graph_link_prediction_jaccard",
    oracle=f"""
    WITH {_EDGE_CTES},
    adj AS (
      SELECT u AS node, v AS nbr FROM edges
      UNION ALL
      SELECT v AS node, u AS nbr FROM edges
    ),
    deg AS (SELECT node, count(*) AS degree FROM adj GROUP BY node),
    wedge AS (
      SELECT a.node AS x, b.node AS y, count(*) AS common
      FROM adj a JOIN adj b ON a.nbr = b.nbr AND a.node < b.node
      GROUP BY 1, 2
    ),
    nonedges AS (
      SELECT w.x, w.y, w.common, dx.degree AS deg_x, dy.degree AS deg_y,
             round(w.common * 1.0 / (dx.degree + dy.degree - w.common), 6)
               AS jaccard
      FROM wedge w
      JOIN deg dx ON w.x = dx.node
      JOIN deg dy ON w.y = dy.node
      LEFT JOIN edges e ON e.u = w.x AND e.v = w.y
      WHERE e.u IS NULL
    )
    SELECT x, y, common, deg_x, deg_y, jaccard,
           CAST(row_number() OVER (ORDER BY jaccard DESC, x, y) AS BIGINT)
             AS rnk
    FROM nonedges
    QUALIFY rnk <= {LINKPRED_TOP}
    ORDER BY rnk
    """,
    tags=("graph", "link-prediction", "jaccard", "wedge-join"),
)
def graph_link_prediction_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neighborhood-Jaccard link prediction on the co-supply graph: for every
    NON-adjacent vertex pair with at least one common neighbor, score
    |Γ(x)∩Γ(y)| / |Γ(x)∪Γ(y)| and emit the top-25 predicted links — the
    classic common-neighbors recommender (supplier pairs likely to co-supply
    next). Candidates come from the wedge join (two adjacency hops through a
    shared neighbor), never from all vertex pairs; the anti condition
    removes existing edges.

    Scale shape: adjacency is the symmetric explode of the capped edge list
    (bounded here; at full scale the per-node neighbor cap IS the wedge
    blowup guard, same argument as the shingle DF cap); wedge counting is
    one equi-join on the shared neighbor + a groupBy. Ranking is
    ``grouped_topk`` with no groups: TakeOrdered keeps 25 candidates and
    only those enter the rank window."""
    e = _edges(spark, sf_dir)
    adj = e.select(F.col("u").alias("node"), F.col("v").alias("nbr")).unionAll(
        e.select(F.col("v").alias("node"), F.col("u").alias("nbr"))
    )
    deg = adj.groupBy("node").agg(F.count(F.lit(1)).alias("degree"))
    a, b = adj.alias("a"), adj.alias("b")
    wedge = (
        a.join(b, (F.col("a.nbr") == F.col("b.nbr")) & (F.col("a.node") < F.col("b.node")))
        .groupBy(F.col("a.node").alias("x"), F.col("b.node").alias("y"))
        .agg(F.count(F.lit(1)).alias("common"))
    )
    dx = deg.select(F.col("node").alias("x"), F.col("degree").alias("deg_x"))
    dy = deg.select(F.col("node").alias("y"), F.col("degree").alias("deg_y"))
    existing = e.select(F.col("u").alias("x"), F.col("v").alias("y"))
    jac = F.col("common") / (F.col("deg_x") + F.col("deg_y") - F.col("common"))
    scored = (
        wedge.join(existing, ["x", "y"], "left_anti")
        .join(F.broadcast(dx), "x")
        .join(F.broadcast(dy), "y")
        .select(
            "x", "y", "common", "deg_x", "deg_y", F.round(jac, 6).alias("jaccard")
        )
    )
    from feature_datalake_sl_mandic_spark.functions.ranking import grouped_topk

    return (
        grouped_topk(
            scored,
            [],
            [("jaccard", "desc"), ("x", "asc"), ("y", "asc")],
            LINKPRED_TOP,
            rank_col="rnk",
        )
        .select("x", "y", "common", "deg_x", "deg_y", "jaccard", "rnk")
        .orderBy("rnk")
    )


# -------------------------- connected components: two-phase star algorithm

CC_STAR_MAX_ROUNDS = 12


def _normalize(e: DataFrame) -> DataFrame:
    """Undirected edge set as (lo, hi) pairs, self-loops dropped."""
    return (
        e.select(
            F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v")
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def _star_round(e_norm: DataFrame) -> DataFrame:
    """One large-star + small-star pass over the normalized edge set."""
    und = e_norm.unionAll(
        e_norm.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    # large-star: every neighbor v > u links to min(Gamma(u) + {u})
    m_all = und.groupBy("u").agg(
        F.least(F.min("v"), F.first("u")).alias("m")
    )
    large = (
        und.join(m_all, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )
    # lazy: ln is only read inside THIS round's small-star job (twice, as
    # the two sides of the m_small join), so an eager materialization here
    # is one extra sequential job per round — the fixpoint loop's cost is
    # job count, not data (round 11, guide §2.6)
    ln = _normalize(large).localCheckpoint(eager=False)
    # small-star on the large-star output: orient (hi -> lo), every smaller
    # neighbor AND hi itself link to the minimum of the group
    hi = ln.select(F.col("v").alias("h"), F.col("u").alias("l"))
    m_small = hi.groupBy("h").agg(F.min("l").alias("m"))
    small = (
        hi.join(m_small, "h")
        .select(F.col("l").alias("u"), F.col("m").alias("v"))
        .unionAll(m_small.select(F.col("h").alias("u"), F.col("m").alias("v")))
    )
    return _normalize(small).localCheckpoint()


def star_components(e_norm: DataFrame):
    """Run alternating star rounds to the fixpoint; returns
    ``(labels(node, component), rounds_used)``. Factored so tests can drive
    it with adversarial synthetic graphs (long paths — the shape that makes
    O(diameter) algorithms crawl)."""
    e = e_norm.localCheckpoint()
    rounds = 0
    for _ in range(CC_STAR_MAX_ROUNDS):
        nxt = _star_round(e)
        rounds += 1
        # convergence = set equality of two DISTINCT edge relations; the
        # symmetric difference via union + groupBy is ONE job where the
        # two-sided exceptAll pair was two (round 11, guide §2.6 — the
        # fixpoint loop's cost is sequential job count). Identical
        # stopping round: a row is in the n==1 group iff exactly one of
        # exceptAll(nxt,e)/exceptAll(e,nxt) would emit it.
        changed = (
            nxt.unionAll(e)
            .groupBy("u", "v")
            .agg(F.count(F.lit(1)).alias("n"))
            .where(F.col("n") == 1)
            .limit(1)
            .count()
        )
        e = nxt
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"star CC did not converge in {CC_STAR_MAX_ROUNDS} rounds"
        )
    # star forest: every edge is (root, member); roots also label themselves
    members = e.select(F.col("v").alias("node"), F.col("u").alias("component"))
    roots = e.select(F.col("u").alias("node"), F.col("u").alias("component")).distinct()
    return (
        members.unionAll(roots)
        .groupBy("node")
        .agg(F.min("component").alias("component")),
        rounds,
    )


@register(
    "graph_components_star",
    oracle=f"""
    WITH RECURSIVE {_EDGE_CTES},
    und AS (SELECT u, v FROM edges UNION ALL SELECT v AS u, u AS v FROM edges),
    nodes AS (SELECT DISTINCT u AS node FROM und),
    reach(src, node) AS (
      SELECT node, node FROM nodes
      UNION
      SELECT r.src, e.v FROM reach r JOIN und e ON e.u = r.node
    ),
    lab AS (SELECT src AS node, min(node) AS component FROM reach GROUP BY src),
    sz AS (SELECT component, count(*) AS component_size FROM lab GROUP BY component)
    SELECT l.node, l.component,
           CAST(s.component_size AS BIGINT) AS component_size,
           l.node = l.component AS is_root
    FROM lab l JOIN sz s USING (component)
    ORDER BY l.node
    """,
    tags=("graph", "connected-components", "two-phase-star", "iterative"),
)
def graph_components_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components by the alternating LARGE-STAR / SMALL-STAR
    algorithm — the O(log n)-round MapReduce classic, vs the
    O(diameter)-round min-label propagation ``dedup_cluster_components``
    uses: large-star hangs every larger neighbor of u off min(Gamma(u)+u),
    small-star re-hangs the smaller neighbors, and the edge set contracts
    toward a star forest whose centers are the component minima. On a
    path graph label propagation needs as many rounds as the path is long;
    star rounds square away the distance — the difference between 40
    rounds and 6 at a 10^12-edge web graph, which is why this is the
    production CC (the round count, not the per-round cost, is what an
    iterative distributed algorithm pays).

    Each round is two groupBy-min aggregations + joins over the (shrinking)
    edge relation, localCheckpoint-ed; the driver probes only a 1-row
    convergence flag per round (bounded control plane). At the fixpoint
    every edge IS (node -> its component root), so labels read directly
    off the final edge set; isolated-from-the-capped-list nodes don't
    appear (the capped co-supply graph has no singletons by construction).
    The oracle recomputes components as a recursive-CTE transitive closure
    — two entirely different algorithms must land on identical labels."""
    lab, _rounds = star_components(_normalize(_edges(spark, sf_dir)))
    sz = lab.groupBy("component").agg(F.count(F.lit(1)).alias("component_size"))
    return (
        lab.join(F.broadcast(sz), "component")
        .select(
            "node",
            "component",
            "component_size",
            (F.col("node") == F.col("component")).alias("is_root"),
        )
        .orderBy("node")
    )
