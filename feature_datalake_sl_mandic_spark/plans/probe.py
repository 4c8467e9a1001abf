"""Anti-pattern sweep over EVERY registered query's physical plan.

Run: ``python -m feature_datalake_sl_mandic_spark.plans.probe``

The round-5/6 verdicts hunted one recurring scale-killer class — fact-scale
rank windows keyed on bare low-cardinality columns — plus repeated fact
scans and accidental Cartesian products. This module makes that audit
mechanical: it compiles the formatted plan of all registered queries at
sf0.001 (plan shape is scale-invariant) and flags

- ``window partitionBy=[...]`` whose partition keys are ALL low-cardinality
  column names (lang, source, event_type, ...). A window whose child is
  ``WindowGroupLimit ... Final`` is not flagged: that is Catalyst's plan
  for a ``row_number <= k`` top-k (``functions.ranking.grouped_topk``),
  and the limit's Partial twin below the exchange bounds the window input
  at partitions * k rows per group. Other legitimate instances exist — a
  window over a BOUNDED relation (per-band counts, daily aggregates) keyed
  on the stratum is exactly what the banded two-level designs produce — so
  every legitimate flag is enumerated in ``ALLOW`` below with its
  boundedness argument. A flag with no matching ALLOW entry (or an extra
  occurrence: counts must match exactly) is UNEXPLAINED and the sweep
  fails.
- repeated parquet scans of the same table (>= 2 for fact tables, >= 3 for
  dims). Role-based repeats with disjoint pushed filters or single-column
  pruned reads are cheaper at scale than pinning the full relation (the
  pin's write amplification was measured slower twice — ARCHITECTURE.md
  negative results), so those are ALLOW-listed with the role split named.
- ``CartesianProduct`` — never legitimate here, no ALLOW entries.
- ``skew window partitionBy=[...]`` (round-9 verdict ask #7): a window
  partitioned on a bare SKEWABLE per-entity key (user_id, o_custkey, ...) —
  the shuffle shape no runtime mechanism can fix (AQE splits join
  partitions, not windows; partial agg needs algebraic aggregates). Every
  legitimate instance carries an ALLOW entry arguing bounded window input
  or sequential-by-definition semantics plus the registered skew path, and
  is measured on the 40%-hot-key lake by skew_probe.py (SKEW_PROBE_r{N}).
- ``BatchEvalPython`` (row-at-a-time Python UDF) — the serialize-per-row
  slow path; Arrow-batched forms (ArrowEvalPython, Map/FlatMapGroupsIn
  Pandas) are the sanctioned Python boundary and are not flagged. No ALLOW
  entries.
- ``broadcast of <table>`` (round-10 verdict ask #1): a ``BroadcastExchange``
  whose build-side subtree scans a FACT-set table with NO bounded reduction
  (aggregate / limit / join) between the scan and the exchange — the build
  side's row count then grows WITH the corpus, and materializing it on
  every executor is the round-10 ngram OOM class (Catalyst picked those
  broadcasts off misleading localCheckpoint-pinned statistics; the 48g
  all-registry sweeps masked the blast until the 8g/100x heavy probe).
  Every legitimate flag carries an ALLOW entry stating the boundedness (or
  stats-accuracy) argument, and the flagged-plan set is additionally
  MEASURED at 8g/100x by the scale_probe broadcast surfaces (COVERAGE.md
  round-11) — the static rule finds candidates, the probe proves them.

``BroadcastNestedLoopJoin`` is deliberately NOT flagged: every crossJoin in
the package broadcasts a tiny aggregate relation (cutoffs, centroids,
totals — audited in the round-5 verdict), which is the correct plan for
attaching a scalar to every row.
"""

from __future__ import annotations

import re
from collections import Counter

LOWCARD = {
    "lang", "source", "event_type", "segment", "label", "priority",
    "mktsegment", "returnflag", "linestatus", "half", "flag", "seg",
    "o_orderpriority", "l_returnflag", "l_linestatus", "l_shipmode",
    "c_mktsegment", "quality_decile", "decile", "bucket_id",
    # added by the round-6 window-key enumeration (every partition-key
    # combination across all plans was listed; these three appeared bare):
    "o_orderstatus", "cluster_final", "c_nationkey",
    # plausible low-card names nothing windows on today — guarding drift:
    "n_nationkey", "s_nationkey", "abc_class", "action", "status", "split",
}
FACT = {"lineitem", "orders", "events", "documents", "embeddings"}

# Per-entity keys whose cardinality grows with the corpus but whose per-key
# row count is UNBOUNDED (a viral user, a default customer id) — the skew
# dimension skew_probe.py measures. A window partitioned on a bare skewable
# key is the one shuffle shape NO runtime mechanism can fix: AQE skew-join
# splitting only splits JOIN partitions, and partial aggregation only helps
# algebraic aggregates — a window's partition must be one task. Flagged as
# ``skew window partitionBy=[...]`` (round-9 verdict ask #7); every
# legitimate instance carries an ALLOW entry arguing either boundedness of
# the window INPUT (summaries, not raw fact rows) or sequential-by-
# definition semantics plus the registered skew-resilient path, backed by
# the 40%-hot-key measurement in SKEW_PROBE_r{N}.json. Composite keys that
# include a splitting dimension (chunk, band, salt) do not flag — that IS
# the fix.
SKEWABLE = {
    "user_id", "c_user", "o_custkey", "c_custkey",
    "l_partkey", "l_suppkey", "doc_id", "vec_id",
}

# --- boundedness / role arguments, shared across ALLOW entries ----------
R_BAND = (
    "banded two-level design: the window input is the per-(key, band) count "
    "prefix relation (<=256 rows per key), never raw rows; boundary-band "
    "row ranking runs in a window keyed (key, band)"
)
R_DAILY = (
    "calendar-bounded daily aggregate: the window input is one row per "
    "(event_type, day), bounded by the calendar not the fact table"
)
R_ROLE = (
    "role-based repeat scan with disjoint pushed filters / pruned columns; "
    "pinning the full relation is write amplification (measured slower — "
    "ARCHITECTURE.md negative results)"
)
R_BM25 = (
    "BM25 roles: the query-term tf aggregate and its df rollup (which "
    "re-reads the tf pass on the build side of the idf broadcast), the "
    "doc-length projection joined to the matches, and the one-row corpus "
    "stats; every read prunes to doc_id/text"
)
R_EMB = (
    "embedding roles: bounded codebook/training sample vs corpus vs query "
    "sides; pinning raw embedding arrays measured slower twice "
    "(ARCHITECTURE.md negative results)"
)
R_CUTOFF = (
    "bounded-cutoff pass + fact pass: the first scan feeds a tiny aggregate "
    "(quantiles/deciles/totals) that broadcasts back; it reads a pruned "
    "column subset, cheaper than pinning the fact relation"
)

# --- skew-window arguments (round-9 verdict ask #7) ---------------------
# Every entry is backed by the 40%-hot-key measurement in SKEW_PROBE_r10+
# (skew_probe.py: the flagged plan ran on a lake where one key owns 40% of
# its fact table, gated on growth AND max/median task time).
R_SKEW_SEQ = (
    "per-key ORDERED semantics (rank/lag/prefix/asof are sequential per key "
    "BY DEFINITION); measured on the 40%-hot-key lake with no straggler "
    "above the floor and sub-linear growth. For deployments where one key's "
    "volume breaks the single-task bound, the registered two-phase template "
    "is events_sessionize_chunked: chunk the per-key timeline, run the "
    "sequential pass per (key, chunk), merge bounded chunk summaries"
)
R_SKEW_SESS = (
    "gap sessionization is sequential per user BY DEFINITION; the "
    "registered skew path is events_sessionize_chunked (identical oracle), "
    "whose raw-event pass is keyed (user_id, chunk)"
)
R_SKEW_SUMMARY = (
    "the user_id-only windows here run over per-(user, chunk) SESSION "
    "SUMMARIES — volume reduced from raw events by the mean session size; "
    "the raw-event pass is keyed (user_id, chunk). Measured flat on the "
    "40%-hot-key lake (skew_probe.py)"
)
R_SKEW_VERSIONS = (
    "window over the SCD2 dimension's per-key version chain — volume per "
    "key is the key's update count, bounded by the dimension feed, not the "
    "fact table; the fact side joins point-in-time without a window"
)

# --- broadcast build-side arguments (round-10 verdict ask #1) -----------
# Two legitimate classes, distinguished by WHAT the planner's size estimate
# is derived from. The dangerous class — the round-10 ngram OOM — is a
# broadcast picked off statistics that do NOT track the data
# (localCheckpoint-pinned relations freeze their estimate); neither class
# below has that property. Every entry is additionally backed by an
# 8g-heap/100x-lake measurement (COVERAGE.md round-11 broadcast section +
# the scale_probe broadcast surfaces in VERIFY_r11): the static argument
# says why it cannot OOM, the probe shows it does not.
R_BC_FIXED = (
    "the broadcast side is the FIXED-cardinality set (query vectors "
    "vec_id < N_QUERIES and/or the pinned codebook/training id range) via a "
    "pushed fixed-id-range filter: bounded by construction — corpus growth "
    "grows the PROBE side, never this relation"
)
R_BC_STATS = (
    "the broadcast side is a direct parquet scan slice, so the planner's "
    "size estimate IS the (selectivity-unreduced) file size and tracks the "
    "corpus: past autoBroadcastJoinThreshold the same plan compiles to "
    "sort-merge (verified on the inflated lakes: the 10x/100x records run "
    "these plans at 8g), and AQE re-validates join strategy from "
    "materialized runtime sizes. Unlike a localCheckpoint-pinned relation, "
    "the deciding statistic cannot stay stale as the data grows"
)

# query -> {exact flag string: (expected count, reason)}
ALLOW: dict[str, dict[str, tuple[int, str]]] = {
    # --- windows partitioned on a bare skewable key (skew rule) ---------
    "events_sessionize": {
        "skew window partitionBy=['user_id']": (2, R_SKEW_SESS)
    },
    "events_sessionize_chunked": {
        "skew window partitionBy=['user_id']": (2, R_SKEW_SUMMARY)
    },
    "join_asof_nearest_view": {
        "skew window partitionBy=['user_id']": (1, R_SKEW_SEQ)
    },
    "join_asof_purchase_after_click": {
        "skew window partitionBy=['user_id']": (1, R_SKEW_SEQ)
    },
    "scd2_point_in_time_join": {
        "skew window partitionBy=['c_custkey']": (1, R_SKEW_VERSIONS),
        "broadcast of orders": (1, R_BC_STATS),
    },
    "window_first_last_nth_order": {
        "skew window partitionBy=['o_custkey']": (1, R_SKEW_SEQ)
    },
    "window_lag_order_gaps": {
        "skew window partitionBy=['o_custkey']": (1, R_SKEW_SEQ)
    },
    "window_rank_orders": {
        "skew window partitionBy=['o_custkey']": (1, R_SKEW_SEQ)
    },
    "window_running_totals": {
        "skew window partitionBy=['o_custkey']": (1, R_SKEW_SEQ)
    },
    # --- windows over bounded relations keyed on the stratum ------------
    "sample_stratified_neyman": {"window partitionBy=['event_type']": (2, R_BAND)},
    "split_exact_stratified": {"window partitionBy=['lang']": (2, R_BAND)},
    "agg_weighted_median_price": {
        "window partitionBy=['l_returnflag']": (
            1,
            "banded two-level design: the cumulative-weight window runs over "
            "the rows of the ONE median-crossing price band per group (~1/55 "
            "of the group, located by the bounded 3x<=61 band-total "
            "relation), never the raw fact partition",
        )
    },
    "sketch_ddsketch_order_quantiles": {
        "scan x2 of orders": (1, R_CUTOFF),
        "window partitionBy=['o_orderstatus']": (
            1,
            "DDSketch quantile walk: the window input is the per-status log-"
            "bucket relation — bounded by the sketch's bucket count "
            "regardless of input size",
        ),
    },
    "stats_gini_order_values": {
        "window partitionBy=['seg']": (
            1,
            "tie-arithmetic input is one row per DISTINCT (seg, cents) value "
            "— bounded by the price domain, not the row count",
        )
    },
    "corpus_pack_shards": {
        "window partitionBy=['lang']": (
            1,
            "two-level prefix sum: the window input is per-bucket token "
            "totals, O(n_docs / bucket_width) rows ~= task count",
        )
    },
    "events_gapfill_resample": {
        "window partitionBy=['event_type']": (1, R_DAILY + " (calendar spine)")
    },
    "ts_ewma_daily_value": {"window partitionBy=['event_type']": (2, R_DAILY)},
    "ts_zscore_anomalies": {"window partitionBy=['event_type']": (1, R_DAILY)},
    "ts_rolling_median_value": {"window partitionBy=['event_type']": (1, R_DAILY)},
    "ts_linear_interpolate": {"window partitionBy=['event_type']": (1, R_DAILY)},
    "ts_seasonal_adjusted_anomalies": {
        "window partitionBy=['event_type']": (1, R_DAILY)
    },
    "ts_cusum_mean_shift": {"window partitionBy=['event_type']": (2, R_DAILY)},
    "ts_mann_kendall_test": {"window partitionBy=['event_type']": (2, R_DAILY)},
    "ts_ks_two_sample_drift": {"window partitionBy=['event_type']": (1, R_DAILY)},
    "ts_brown_double_smoothing": {"window partitionBy=['event_type']": (3, R_DAILY)},
    # --- role-based repeat scans ----------------------------------------
    "validate_referential_integrity": {
        "scan x2 of orders": (1, R_ROLE + " (PK side vs FK edge side)")
    },
    "dedup_incremental_batch": {
        "scan x2 of documents": (1, R_ROLE + " (batch vs index doc_id ranges)")
    },
    "eval_retrieval_metrics": {
        "scan x2 of embeddings": (1, R_EMB)
    },
    "events_dedup_replayed": {"scan x2 of events": (1, R_ROLE)},
    "merge_upsert_orders": {
        "scan x3 of orders": (
            1,
            "fixture artifact: the update feed is SYNTHESIZED from the base "
            "table (two disjoint pushed-filter slices); in production MERGE "
            "the updates arrive as an external batch and the base scans once",
        )
    },
    "join_null_safe_profiles": {"scan x2 of events": (1, R_ROLE)},
    "agg_winsorized_event_values": {"scan x2 of events": (1, R_CUTOFF)},
    "profile_orders_columns": {
        "scan x2 of orders": (
            1,
            "scalar-aggregate branch vs multi-DISTINCT branch (round 11): "
            "fused, the distinct rewrite's Expand (x n_cols+1 rows) makes "
            "every null/min/max aggregate ride every Expand slot — measured "
            "1.8s vs 0.4s noop at sf0.1. Both branches reduce to ONE row "
            "before the crossJoin; same split rationale as "
            "agg_approx_sketches",
        )
    },
    "agg_approx_sketches": {
        "scan x2 of lineitem": (
            1,
            "exact-DISTINCT branch vs sketch branch (round 11): fusing them "
            "into one agg forced the distinct-rewrite Expand (x3 rows) "
            "around the HLL/percentile TypedImperativeAggregate buffers — "
            "measured 33s vs 1.8s noop at sf0.1. Each branch reads a pruned "
            "column subset and reduces to |l_returnflag| = 3 rows before "
            "the broadcast join; two pruned scans are strictly cheaper "
            "than one Expand-tripled pass at any scale",
        )
    },
    "arrays_setops_adjacent_docs": {
        "scan x2 of documents": (1, R_ROLE + " (adjacent-doc self-join sides)"),
        "broadcast of documents": (1, R_BC_STATS),
    },
    "events_click_attribution": {
        "scan x2 of events": (1, R_ROLE + " (click vs purchase slices)"),
        "broadcast of events": (1, R_BC_STATS + " (the click slice)"),
    },
    "change_detection": {
        "scan x2 of events": (1, R_ROLE + " (source vs history sides, S6)")
    },
    "incremental_agg_refresh": {
        "scan x2 of orders": (1, R_ROLE + " (base vs delta slices)")
    },
    "quality_decile_stats": {"scan x2 of documents": (1, R_CUTOFF)},
    "corpus_domain_caps": {
        "scan x2 of documents": (1, R_CUTOFF + " (per-source totals)")
    },
    "embedding_outliers_mahalanobis": {
        "scan x2 of embeddings": (1, R_CUTOFF + " (per-dimension mean/variance)")
    },
    "cms_heavy_hitters_events": {
        "scan x2 of events": (
            1,
            R_ROLE + " (sketch-cell pass vs exact-count pass, each reading "
            "only user_id)",
        )
    },
    "corpus_dsir_importance": {
        "scan x4 of documents": (
            1,
            R_CUTOFF + " (raw and target hashed-feature counts and their "
            "totals, each <= DSIR_N_FEATURES rows, then the scoring pass)",
        )
    },
    "text_bm25_search": {
        "scan x4 of documents": (1, R_BM25),
        "broadcast of documents": (1, R_BC_STATS + " (the doc-length side)"),
    },
    "text_hybrid_rrf_search": {
        "scan x4 of documents": (1, R_BM25),
        "broadcast of documents": (1, R_BC_STATS + " (the doc-length side)"),
        "scan x2 of embeddings": (1, R_EMB + " (query vs corpus sides)"),
        "broadcast of embeddings": (1, R_BC_FIXED),
    },
    "corpus_boilerplate_tokens": {
        "scan x3 of documents": (
            1,
            "one single-column scan (per-source totals) + the DF pass + the "
            "rewrite pass; pinning the tokenized full text is write "
            "amplification",
        )
    },
    "bloom_prefilter_supplier_join": {
        "scan x3 of supplier": (
            1,
            "supplier is dim-scale (10k rows/SF); build vs probe vs verify "
            "roles of the bloom demo",
        )
    },
    # --- embedding-role repeats (codebook/query/corpus sides) -----------
    "dedup_embedding_cosine": {
        "scan x2 of embeddings": (1, R_EMB),
        "broadcast of embeddings": (1, R_BC_STATS),
    },
    "dedup_levenshtein_blocked": {
        "scan x2 of documents": (1, R_ROLE),
        "broadcast of documents": (1, R_BC_STATS),
    },
    "knn_cosine_topk": {
        "scan x2 of embeddings": (1, R_EMB),
        "broadcast of embeddings": (1, R_BC_FIXED),
    },
    "ann_lsh_bucketed": {
        "scan x2 of embeddings": (1, R_EMB),
        "broadcast of embeddings": (1, R_BC_FIXED),
    },
    "ann_ivf_cells": {"scan x2 of embeddings": (1, R_EMB)},
    "ann_ivf_cells_nprobe2": {"scan x2 of embeddings": (1, R_EMB)},
    "ann_scalar_quantized": {
        "scan x4 of embeddings": (1, R_EMB),
        "broadcast of embeddings": (2, R_BC_FIXED),
    },
    "mine_hard_negatives": {
        "scan x2 of embeddings": (1, R_EMB),
        "broadcast of embeddings": (1, R_BC_FIXED),
    },
    "ann_ivf_pq": {
        "scan x4 of embeddings": (1, R_EMB),
        # the two broadcast sides are the query set (vec_id < 10) and the
        # exploded codebook training range (vec_id in [10, 26))
        "broadcast of embeddings": (2, R_BC_FIXED),
    },
    "ann_ivf_pq_packed": {
        "scan x3 of embeddings": (1, R_EMB),
        "broadcast of embeddings": (2, R_BC_FIXED),
    },
    "ann_two_stage_rerank": {
        "scan x4 of embeddings": (1, R_EMB),
        "broadcast of embeddings": (
            3,
            "two sides are the fixed query set (" + R_BC_FIXED + "); the "
            "third is the exact-rerank corpus side of the shortlist join — "
            + R_BC_STATS,
        ),
    },
    "ann_pq_lloyd_refined": {
        "scan x2 of embeddings": (1, R_EMB),
        "broadcast of embeddings": (1, R_BC_FIXED),
    },
    "eval_matryoshka_recall": {
        "scan x4 of embeddings": (1, R_EMB),
        "broadcast of embeddings": (2, R_BC_FIXED),
    },
    "embedding_standardize_dims": {"scan x2 of embeddings": (1, R_EMB)},
    "drift_embedding_centroid_shift": {"scan x2 of embeddings": (1, R_EMB)},
    # --- scan-stat-driven fact broadcasts (round-10 verdict ask #1) ------
    # TPC-H-shaped fact-fact equi-joins where the build side is small at
    # fixture scale and the estimate is the parquet file size (R_BC_STATS):
    # each compiles to sort-merge on the inflated lakes.
    "join_anti_customers_no_urgent": {"broadcast of orders": (1, R_BC_STATS)},
    "join_range_lineitem_shipped_late": {"broadcast of orders": (1, R_BC_STATS)},
    "join_semi_customers_with_urgent_orders": {
        "broadcast of orders": (1, R_BC_STATS)
    },
    "nested_json_shred": {"broadcast of orders": (1, R_BC_STATS)},
    "q3_shipping_priority": {"broadcast of orders": (1, R_BC_STATS)},
    "q4_order_priority_exists": {"broadcast of lineitem": (1, R_BC_STATS)},
    "q5_local_supplier_volume": {"broadcast of orders": (1, R_BC_STATS)},
    "q7_volume_shipping": {"broadcast of orders": (1, R_BC_STATS)},
    "q8_market_share": {"broadcast of orders": (1, R_BC_STATS)},
    "q9_product_profit_by_nation_year": {"broadcast of orders": (1, R_BC_STATS)},
    "q10_returned_items": {"broadcast of orders": (1, R_BC_STATS)},
    "q12_priority_by_linestatus": {"broadcast of orders": (1, R_BC_STATS)},
    "q13_customer_order_distribution": {"broadcast of orders": (1, R_BC_STATS)},
    "q18_large_volume_orders": {"broadcast of orders": (1, R_BC_STATS)},
    "q21_sole_late_supplier": {"broadcast of orders": (1, R_BC_STATS)},
    "q22_inactive_high_balance": {"broadcast of orders": (1, R_BC_STATS)},
}

_WIN_RE = re.compile(
    r"^Arguments: \[.*windowspecdefinition.*\], \[([^\]]*)\], \[[^\]]*\]\s*$",
    re.M,
)
_SCAN_RE = re.compile(r"Location: \w+ \[[^\]]*?/(\w+)\.parquet")
# detail-section header: ``(8) Window`` (id first; tree lines put it last)
_DETAIL_HDR_RE = re.compile(r"^\((\d+)\) (\S.*?)\s*$")

# --- broadcast build-side audit (round-10 verdict ask #1) ----------------
# Tree lines render the operator name followed by its id: ``+- Filter (2)``;
# detail headers invert that (``(2) Filter``), so anchoring the id at
# end-of-line selects tree lines only.
_TREE_NODE_RE = re.compile(r"^([:\s+|-]*)([A-Za-z][\w .]*?) \((\d+)\)\s*$")
# details: map scan node id -> parquet table name
_SCAN_DETAIL_RE = re.compile(
    r"^\((\d+)\) Scan parquet ?\n(?:[^\n]+\n)*?"
    r"Location: \w+ \[[^\]]*?/(\w+)\.parquet",
    re.M,
)
# Operators that BOUND the relation flowing through them relative to the
# corpus-scale scan beneath: an aggregate collapses to its (bounded or
# low-cardinality) key set — the HOT-style ``count > cap`` base is this
# shape; a limit is bounded by definition; a join (semi/anti against a
# bounded set, or a selective dim equi-join) gates the fact rows. A bare
# Filter/Project/Window does NOT bound: its output is proportional to the
# corpus, whatever the current selectivity estimate says.
_BOUNDING = ("Aggregate", "Limit", "Join", "TakeOrderedAndProject")


def _parse_tree(plan: str) -> list[tuple[int, str, str]]:
    """All (indent, node_name, node_id) tree lines, in document order.

    The formatted output may hold several trees (main plan + subquery
    sections); indentation resets at each root, which the stack walk in
    ``broadcast_flags`` handles naturally (an indent <= the stack top pops
    it). Detail-section lines never match (id precedes the name there)."""
    nodes = []
    for line in plan.splitlines():
        m = _TREE_NODE_RE.match(line)
        if m:
            nodes.append((len(m.group(1)), m.group(2).strip(), m.group(3)))
    return nodes


def broadcast_flags(plan: str) -> list[str]:
    """``broadcast of <table>`` per BroadcastExchange whose build side scans
    a FACT table with no _BOUNDING operator between scan and exchange.

    ReusedExchange nodes are skipped: they re-reference an exchange that is
    itself audited where it appears. One flag per offending exchange per
    fact table (a build side scanning two fact tables unboundedly flags
    both — each is independently a corpus-scale relation on every executor).
    """
    nodes = _parse_tree(plan)
    scan_table = {sid: t for sid, t in _SCAN_DETAIL_RE.findall(plan)}
    flags: list[str] = []
    # stack of (indent, name) from the root to the current node: descendants
    # of a node N are exactly the lines that follow N while N stays on the
    # stack (their indent is greater), so for each fact scan the stack IS
    # the root->scan path and any enclosing BroadcastExchange is on it.
    stack: list[tuple[int, str, str]] = []
    per_exchange: dict[str, set[str]] = {}
    for indent, name, nid in nodes:
        while stack and stack[-1][0] >= indent:
            stack.pop()
        stack.append((indent, name, nid))
        table = scan_table.get(nid)
        if table not in FACT:
            continue
        # walk ancestors scan -> root; the nearest enclosing exchange wins,
        # and any bounding node STRICTLY BETWEEN scan and exchange clears it
        for _, aname, aid in reversed(stack[:-1]):
            if aname.startswith("BroadcastExchange"):
                per_exchange.setdefault(aid, set()).add(table)
                break
            if any(b in aname for b in _BOUNDING):
                break
    for _, tables in sorted(per_exchange.items(), key=lambda kv: int(kv[0])):
        flags.extend(f"broadcast of {t}" for t in sorted(tables))
    return flags


def _details(plan: str) -> dict[str, tuple[str, str]]:
    """Detail sections of a formatted plan: node id -> (name, body)."""
    out = {}
    for block in plan.split("\n\n"):
        head, _, body = block.strip("\n").partition("\n")
        m = _DETAIL_HDR_RE.match(head)
        if m:
            out[m.group(1)] = (m.group(2), body)
    return out


def _group_limited_windows(
    plan: str, details: dict[str, tuple[str, str]]
) -> set[str]:
    """Ids of Window nodes whose tree child is ``WindowGroupLimit ... Final``
    (a Window is unary, so its child is the next tree line, one level in)."""
    final = {
        nid
        for nid, (name, body) in details.items()
        if name.startswith("WindowGroupLimit") and body.rstrip().endswith("Final")
    }
    nodes = _parse_tree(plan)
    return {
        nid
        for (indent, name, nid), (c_indent, _, cid) in zip(nodes, nodes[1:])
        if name == "Window" and c_indent > indent and cid in final
    }


def flags_for_plan(plan: str) -> list[str]:
    """All anti-pattern flags found in one formatted plan (with repeats)."""
    flags: list[str] = []
    scans = Counter(_SCAN_RE.findall(plan))
    for t, c in sorted(scans.items()):
        if c >= 3 or (c >= 2 and t in FACT):
            flags.append(f"scan x{c} of {t}")
    details = _details(plan)
    limited = _group_limited_windows(plan, details)
    for nid, (_, body) in details.items():
        if nid in limited:
            continue
        for m in _WIN_RE.finditer(body):
            keys = [k.strip().split("#")[0] for k in m.group(1).split(",") if k.strip()]
            if keys and all(k in LOWCARD for k in keys):
                flags.append(f"window partitionBy={keys}")
            if keys and all(k in SKEWABLE for k in keys):
                flags.append(f"skew window partitionBy={keys}")
    if "CartesianProduct" in plan:
        flags.append("CartesianProduct")
    # Row-at-a-time Python UDFs serialize every row through pickle one at a
    # time — the 10-100x-slower path the repo bans in favor of Arrow-batched
    # pandas UDFs (ArrowEvalPython / FlatMapGroupsInPandas / MapInPandas,
    # all fine and not flagged). No ALLOW entries exist for this class.
    if "BatchEvalPython" in plan:
        flags.append("BatchEvalPython")
    flags.extend(broadcast_flags(plan))
    return flags


def sweep(spark, sf_dir: str = "/root/testdata/sf0.001"):
    """Returns (flagged, unexplained, stale): flagged is {name: [flags]},
    unexplained is {name: [flags with no/short ALLOW entry]}, stale is
    {name: [ALLOW entries the plan no longer produces]}."""
    from feature_datalake_sl_mandic_spark import registry
    from feature_datalake_sl_mandic_spark.plans import formatted_plan

    flagged: dict[str, list[str]] = {}
    unexplained: dict[str, list[str]] = {}
    errors: dict[str, str] = {}
    for name, spec in registry.load_all().items():
        try:
            plan = formatted_plan(spec.fn(spark, sf_dir))
        except Exception as e:  # noqa: BLE001 — report, don't abort the sweep
            errors[name] = f"{e.__class__.__name__}: {e}"
            continue
        fl = flags_for_plan(plan)
        if fl:
            flagged[name] = fl
        allowed = ALLOW.get(name, {})
        got = Counter(fl)
        extra = []
        for flag, n in got.items():
            exp = allowed.get(flag, (0, ""))[0]
            if n > exp:
                extra.extend([flag] * (n - exp))
        if extra:
            unexplained[name] = extra
    stale: dict[str, list[str]] = {}
    for name, allowed in ALLOW.items():
        if name in errors:
            # A plan that failed to compile has no flags at all; reporting
            # its ALLOW entries as "stale" would double-report one failure
            # as two unrelated problems. The ERROR flag below is the single
            # signal for this name.
            continue
        got = Counter(flagged.get(name, []))
        missing = [f for f, (n, _) in allowed.items() if got.get(f, 0) < n]
        if missing:
            stale[name] = missing
    if errors:
        unexplained.update({n: [f"ERROR: {m}"] for n, m in errors.items()})
    return flagged, unexplained, stale


def main() -> None:
    from feature_datalake_sl_mandic_spark.session import get_spark

    spark = get_spark("plans-probe", master="local[8]", shuffle_partitions=8)
    flagged, unexplained, stale = sweep(spark)
    n_flags = sum(len(v) for v in flagged.values())
    print(f"sweep: {len(flagged)} queries flagged ({n_flags} flags), "
          f"{len(unexplained)} UNEXPLAINED, {len(stale)} stale ALLOW entries")
    for name, fl in sorted(unexplained.items()):
        print(f"UNEXPLAINED {name}: " + "; ".join(fl))
    for name, fl in sorted(stale.items()):
        print(f"stale ALLOW {name}: " + "; ".join(fl))
    if not unexplained and not stale:
        print("all flags match the documented-legitimate classes exactly")


if __name__ == "__main__":
    main()
