"""The benchmark's workloads: two query workloads and the ingest cycle.

Each workload is a closed loop with one client: this process drives the
engine's own ``get_spark()`` session and sends the next op only after the
previous one returned. The only other threads are ``run_pipeline``'s pool.

A query op is timed from the ``QuerySpec.fn(spark, lake)`` call through a
``noop``-format write of the full result, so Catalyst can prune no column.
An ingest op is one change cycle. A pass is one walk over the op list: every
query once, in a seeded order, or one round of ``CYCLES_PER_ROUND`` cycles.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

import numpy as np

from perfbench import datagen
from perfbench.trace import Tracer, rebind, restore

# The scan, join, aggregate, top-k and window core of the relational set
# over the 10x tables, plus two corpus queries over the lake's sf0.1
# documents and embeddings: embedding_pca_power_iteration crosses the
# mapInPandas/applyInPandas Arrow boundary and text_sparse_cosine_pairs
# builds its plan through two eager localCheckpoint pins, so the Python
# boundary and plan-build layers are measured on a listed workload too.
# With six ops, op_p50_s is the mean of the two middle ones (q5 and the PCA,
# ~2 s each), which does not jump when their order swaps. One pass takes
# ~13 s on 4 cores, which is what the benchmark's run budget allows beside
# ingest_cycles (see README.md).
RELATIONAL_X10 = [
    "q1_pricing_summary",
    "q5_local_supplier_volume",
    "topk_orders",
    "window_rank_orders",
    "embedding_pca_power_iteration",
    "text_sparse_cosine_pairs",
]
LLM_CORPUS_SF01 = [
    "dedup_minhash_lsh",
    "text_sparse_cosine_pairs",
    "ann_ivf_pq",
    "ann_ivf_pq_packed",
    "corpus_curation_end_to_end",
    "dedup_ngram_jaccard_capped",
    "dedup_ngram_containment_capped",
    "embedding_pca_power_iteration",
    "lm_bigram_kneser_ney",
    "eval_rouge_redaction_impact",
    "multimodal_phash_banded_pairs",
    "dedup_exact_documents",
    "text_quality_score",
    "knn_cosine_topk",
]
QUERY_WORKLOADS = {"relational_x10": ("x10", RELATIONAL_X10), "llm_corpus_sf01": ("sf01", LLM_CORPUS_SF01)}

# ingest_cycles: the site database that lands the sf0.1 table set, the
# cycles in one round (each table reloads once per round, so a round's bytes
# and rows do not depend on the seed), the CDF batch size and the
# compaction target.
SITE = "site_a"
CYCLES_PER_ROUND = 2
CDF_TABLE, CDF_KEY = "orders", "o_orderkey"
CDF_UPDATE_FRAC, CDF_INSERT_FRAC, CDF_DELETE_FRAC = 0.005, 0.003, 0.002
COMPACT_FILES = 2


@dataclass
class Run:
    """What one workload run hands back to the command."""

    seed: int
    seconds: float
    nproc: int
    work: str
    cache: str
    tracer: Tracer
    ops: list[dict] = field(default_factory=list)  # measured ops
    passes: list[dict] = field(default_factory=list)  # measured passes
    errors: list[str] = field(default_factory=list)
    detail: dict = field(default_factory=dict)
    extra: dict = field(default_factory=dict)  # peak RSS, space amplification


def _hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise KeyError(f"no VmHWM for process {pid}")


def peak_rss_mb(spark) -> float:
    """VmHWM of the driver JVM (the py4j gateway process) plus this one."""
    return (_hwm_kb(spark.sparkContext._gateway.proc.pid) + _hwm_kb("self")) / 1024.0


def stop_spark() -> None:
    """Stop the active session and its gateway JVM, and wait until the JVM
    has ended. A no-op when no JVM is running."""
    import subprocess

    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    gateway = SparkContext._gateway
    if gateway is None:
        return
    if SparkSession._instantiatedSession is not None:
        SparkSession._instantiatedSession.stop()
    elif SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    proc = gateway.proc
    gateway.shutdown()
    proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _sentinel(spark) -> float:
    """``bench.py``'s compute-only load sentinel (the minimum of 3
    ``spark.range`` sums), taken before every measured pass."""
    import bench

    return bench._sentinel_once(spark)


# --- inputs prepared outside the driver process ------------------------------


def prepare_query_inputs(cache: str, layout: str, seed: int, names: list[str]) -> dict:
    """Generate (or reuse) the lake and run every op's registry oracle SQL in
    DuckDB over views of its part files. Runs in a spawned process so that
    neither the generator's nor DuckDB's memory lands in the driver's peak."""
    import duckdb

    from feature_datalake_sl_mandic_spark import registry

    t0 = time.perf_counter()
    lake, generated = datagen.lake(cache, layout, seed)
    datagen_s = time.perf_counter() - t0
    specs = registry.load_all()
    con = duckdb.connect()
    try:
        for t, glob_path in datagen.table_paths(lake).items():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{glob_path}')")
        t0 = time.perf_counter()
        expected = {n: con.execute(specs[n].oracle).df() for n in names}
        oracle_s = time.perf_counter() - t0
    finally:
        con.close()
    return {
        "lake": lake,
        "generated": generated,
        "datagen_s": datagen_s,
        "oracle_s": oracle_s,
        "expected": expected,
        "tables": datagen.table_stats(lake),
    }


def prepare_ingest_inputs(cache: str, seed: int) -> dict:
    t0 = time.perf_counter()
    lake, generated = datagen.lake(cache, "sf01", seed)
    datagen_s = time.perf_counter() - t0
    return {
        "lake": lake,
        "generated": generated,
        "datagen_s": datagen_s,
        "tables": datagen.table_stats(lake),
    }


def _in_subprocess(fn, *args):
    import multiprocessing
    from concurrent.futures import ProcessPoolExecutor

    from multiprocessing import resource_tracker

    try:
        with ProcessPoolExecutor(1, mp_context=multiprocessing.get_context("spawn")) as pool:
            return pool.submit(fn, *args).result()
    finally:
        # the spawn context starts a resource tracker process that would
        # otherwise outlive this one; stopping it waits until it has ended
        resource_tracker._resource_tracker._stop()


# --- query workloads ------------------------------------------------------------


def _setup_session(run: Run):
    from feature_datalake_sl_mandic_spark import registry, session

    tr = run.tracer
    with tr.span("session.get_spark"):
        spark = session.get_spark("perfbench")
    with tr.span("registry.load_all"):
        specs = registry.load_all()
    return spark, specs


def _noop_write(df) -> int:
    """Write ``df`` in full to the ``noop`` sink; returns its row count."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation(f"perfbench_rows_{time.time_ns()}")
    df.observe(obs, F.count(F.lit(1)).alias("n")).write.format("noop").mode("overwrite").save()
    return int(obs.get["n"])


def _noop_op(spark, spec, lake: str, tracer: Tracer):
    """One timed query op. Returns (seconds, build seconds, rows)."""
    t0 = time.perf_counter()
    with tracer.span("plan.build"):
        df = spec.fn(spark, lake)
    t1 = time.perf_counter()
    with tracer.span("exec.action"):
        rows = _noop_write(df)
    t2 = time.perf_counter()
    return t2 - t0, t1 - t0, rows


def run_query_workload(run: Run, workload: str) -> None:
    from feature_datalake_sl_mandic_spark import catalog, oracle
    from feature_datalake_sl_mandic_spark.session import release_cached

    layout, names = QUERY_WORKLOADS[workload]
    prep = _in_subprocess(prepare_query_inputs, run.cache, layout, run.seed, names)
    lake, expected = prep["lake"], prep["expected"]
    run.detail.update(
        datagen_s=prep["datagen_s"], datagen_cached=not prep["generated"], oracle_s=prep["oracle_s"]
    )
    tr = run.tracer

    # set-up: session, registry, and one warm-up pass that collects every
    # result for the oracle check and notes the lake tables each op loads
    t0 = time.perf_counter()
    spark, specs = _setup_session(run)
    _install_spans(run)
    sc = spark.sparkContext
    got, loads = {}, {}
    load_table = catalog.load_table

    def recording_load_table(spark_, sf_dir, table):
        loads[current].add(table)
        return load_table(spark_, sf_dir, table)

    undo = rebind(catalog, "load_table", recording_load_table)
    try:
        run.detail["warmup_s"] = {}
        for current in names:
            loads[current] = set()
            sc.setJobGroup(f"warmup:{current}", current)
            tr.op_id = f"warmup:{current}"
            w0 = time.perf_counter()
            try:
                got[current] = specs[current].fn(spark, lake).toPandas()
            except Exception as e:  # noqa: BLE001 - reported as a failed check
                run.errors.append(f"warmup:{current}: {type(e).__name__}: {e}")
            run.detail["warmup_s"][current] = time.perf_counter() - w0
    finally:
        restore(undo)
    release_cached(spark)
    run.detail["setup_s"] = [time.perf_counter() - t0]
    tr.op_id = None

    want_rows = {n: len(expected[n]) for n in names}
    # rows of the lake tables each op reads: the numerator of rows_per_s
    rows_in = {n: sum(prep["tables"][t]["rows"] for t in loads[n]) for n in names}
    run.detail["tables_read"] = {n: sorted(loads[n]) for n in names}

    rng = np.random.default_rng([run.seed, 1])
    # The first scan-heavy job after the release ran ~20% slow on a shared
    # 4-core host; untimed, the op that warmed up fastest absorbs that
    # before every pass, so the penalty does not land on whichever query
    # the seed puts first. The results are compared after the measured
    # passes, so no idle gap of Python work sits between warm-up and them.
    primer = min(got, key=run.detail["warmup_s"].get) if got else None
    run.detail["sentinel_s"] = []
    start = time.perf_counter()
    p = 0
    while p == 0 or time.perf_counter() - start < run.seconds:
        order = [names[i] for i in rng.permutation(len(names))]
        sc.setJobGroup("between-passes", "load sentinel, primer and release")
        run.detail["sentinel_s"].append(_sentinel(spark))
        if primer:
            _noop_write(specs[primer].fn(spark, lake))
        p_start = time.time()
        for name in order:
            op_id = f"{p}:{name}"
            sc.setJobGroup(op_id, name)
            tr.op_id = op_id
            op_t0 = time.time()
            try:
                secs, build_s, rows = _noop_op(spark, specs[name], lake, tr)
                ok = rows == want_rows[name]
                if not ok:
                    run.errors.append(f"{op_id}: {rows} rows, oracle has {want_rows[name]}")
            except Exception as e:  # noqa: BLE001 - a failing op is counted, not fatal
                secs, build_s, ok = time.time() - op_t0, 0.0, False
                run.errors.append(f"{op_id}: {type(e).__name__}: {e}")
            run.ops.append(
                {
                    "id": op_id, "name": name, "pass": p, "start": op_t0,
                    "build_end": op_t0 + build_s, "end": op_t0 + secs,
                    "seconds": secs, "ok": ok, "module": specs[name].fn.__module__,
                    "rows_in": rows_in[name],
                }
            )
        p_end = time.time()
        tr.op_id = None
        sc.setJobGroup("between-passes", "load sentinel, primer and release")
        run.passes.append({"pass": p, "start": p_start, "end": p_end, "seconds": p_end - p_start})
        with tr.span("session.release_cached"):
            release_cached(spark)
        p += 1
    bad = {n for n in names if n not in got}
    for name, pdf in got.items():
        if not _same_rows(pdf, expected[name]):
            errs = [e for e in oracle.compare(pdf, expected[name], name) if "WARNING" not in e]
            run.errors.extend(errs)
            if errs:
                bad.add(name)
    got.clear()
    # an op whose output check failed counts as failed: the value check is
    # made once per run, so it fails every measured op of that query
    for op in run.ops:
        op["ok"] = op["ok"] and op["name"] not in bad
    run.detail["fingerprint_spark"] = _spark_fingerprint(spark)
    run.extra["peak_rss_mb"] = peak_rss_mb(spark)
    stop_spark()


def _same_rows(a, b) -> bool:
    """Vectorized equality under ``oracle.compare``'s rules (column names
    case-folded and sorted, rows order-insensitive, floats equal within a
    relative 1e-9, other values equal as strings). ``oracle.compare`` sorts
    rows through a per-row Python join, which takes minutes on the 10x
    results; it still decides, and words the error, whenever this finds a
    difference."""
    import pandas as pd

    a = a.rename(columns=str.lower)
    b = b.rename(columns=str.lower)
    cols = sorted(a.columns)
    if cols != sorted(b.columns) or len(a) != len(b):
        return False
    a, b = a[cols], b[cols]
    try:
        a = a.sort_values(cols, kind="mergesort", ignore_index=True)
        b = b.sort_values(cols, kind="mergesort", ignore_index=True)
    except TypeError:  # unorderable cells (lists, maps)
        return False
    for c in cols:
        x, y = a[c], b[c]
        if pd.api.types.is_float_dtype(x) or pd.api.types.is_float_dtype(y):
            x = pd.to_numeric(x, errors="coerce").to_numpy(float)
            y = pd.to_numeric(y, errors="coerce").to_numpy(float)
            both_nan = np.isnan(x) & np.isnan(y)
            denom = np.maximum(np.maximum(np.abs(x), np.abs(y)), 1.0)
            with np.errstate(invalid="ignore"):
                close = np.abs(x - y) / denom <= 1e-9
            if not (both_nan | close).all():
                return False
        elif not (x.astype(str).to_numpy() == y.astype(str).to_numpy()).all():
            return False
    return True


def _spark_fingerprint(spark) -> dict:
    return {
        "spark.sql.shuffle.partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "spark.driver.memory": spark.sparkContext.getConf().get("spark.driver.memory", None),
        "spark.master": spark.sparkContext.master,
        "spark": spark.version,
    }


def _install_spans(run: Run) -> None:
    """Patch the public functions of every measured layer (traced runs)."""
    tr = run.tracer
    if not tr.enabled:
        return
    from feature_datalake_sl_mandic_spark import catalog
    from feature_datalake_sl_mandic_spark.ingest import cdf, change_detection, history, pipeline
    from feature_datalake_sl_mandic_spark.sources import parquet
    from feature_datalake_sl_mandic_spark.sources.txlog import TxTable

    tr.patch(catalog, "load_table", "catalog.load_table")
    tr.patch(change_detection, "detect_changes", "ingest.detect", timed_result="collect")
    tr.patch(history, "latest_runs", "ingest.latest_runs")
    tr.patch(history, "append_run", "ingest.history_append")
    tr.patch(pipeline, "ingest_table", "ingest.table")
    tr.patch(parquet, "write_table", "lake.write")
    tr.patch(cdf, "apply_cdf_batch", "txlog.apply")
    tr.patch(TxTable, "change_feed", "txlog.change_feed", timed_result="localCheckpoint")
    tr.patch(TxTable, "compact", "txlog.compact")
    tr.patch(TxTable, "merge", "txlog.merge")
    tr.patch(TxTable, "delete_where", "txlog.delete_where")


# --- ingest_cycles -------------------------------------------------------------


@dataclass
class _Cdf:
    source: object  # TxTable
    target: object  # TxTable
    next_key: int
    live_keys: np.ndarray


def _walk(root: str) -> dict[str, tuple[int, int]]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            st = os.stat(p)
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


def _written(before: dict, after: dict, under: str | None = None) -> tuple[int, int]:
    """(bytes, files) of files new or rewritten between two walks."""
    new = [
        p for p, v in after.items()
        if before.get(p) != v and (under is None or p.startswith(under))
    ]
    return sum(after[p][0] for p in new), len(new)


def _parquet_files(d: str) -> list[str]:
    out = []
    for base, _, files in os.walk(d):
        out += [os.path.join(base, f) for f in files if f.endswith(".parquet")]
    return sorted(out)


def _rows(files: list[str]) -> int:
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(f).metadata.num_rows for f in files)


def _history_counts(lake_dir: str) -> dict[str, int]:
    import pyarrow.dataset as ds

    from feature_datalake_sl_mandic_spark.ingest.history import history_path

    path = history_path(lake_dir)
    if not os.path.isdir(path):
        return {}
    tbl = ds.dataset(path, format="parquet", partitioning="hive").to_table(columns=["table_name"])
    names, counts = np.unique(np.asarray(tbl["table_name"].to_pylist(), dtype=object), return_counts=True)
    return dict(zip(names.tolist(), counts.tolist()))


def _snapshot_digest(table) -> tuple[int, int, int]:
    """(rows, key sum, total-price cents sum) of a TxTable's latest snapshot."""
    import pyarrow.parquet as pq

    rows = ksum = csum = 0
    for f in table.snapshot().files:
        t = pq.read_table(f, columns=[CDF_KEY, "o_totalprice"])
        rows += t.num_rows
        ksum += int(np.asarray(t[CDF_KEY]).sum())
        csum += int(np.rint(np.asarray(t["o_totalprice"]) * 100).sum())
    return rows, ksum, csum


def _schedule(seed: int, round_no: int) -> list[list[str]]:
    """Per cycle of one round, the tables the source changes: a seeded
    permutation of the table set cut into CYCLES_PER_ROUND near-equal groups,
    so every table reloads exactly once per round."""
    rng = np.random.default_rng([seed, 2, round_no])
    perm = [datagen.TABLES[i] for i in rng.permutation(len(datagen.TABLES))]
    groups = np.array_split(np.arange(len(perm)), CYCLES_PER_ROUND)
    cycles: list[list[str]] = [[] for _ in range(CYCLES_PER_ROUND)]
    for c, g in zip(rng.permutation(CYCLES_PER_ROUND).tolist(), groups):
        cycles[c] = sorted(perm[i] for i in g)
    return cycles


def _catalog_df(spark, changed: list[str], bump, base):
    """The source's freshness table: changed tables carry ``bump``."""
    from pyspark.sql import types as T

    schema = T.StructType(
        [T.StructField("table_name", T.StringType()), T.StructField("update_time", T.TimestampType())]
    )
    rows = [(t, bump if t in changed else base) for t in datagen.TABLES]
    return spark.createDataFrame(rows, schema)


def _cdf_batch(spark, state: _Cdf, rng: np.random.Generator) -> int:
    """Seeded row-level batch on the CDF source: updates and inserts merged
    on the key, then one contiguous key range deleted. Returns the number of
    rows the change feed must carry for it."""
    import datetime as dt

    from pyspark.sql import functions as F

    n = len(state.live_keys)
    n_upd, n_ins, n_del = (int(n * f) for f in (CDF_UPDATE_FRAC, CDF_INSERT_FRAC, CDF_DELETE_FRAC))
    upd_keys = rng.choice(state.live_keys, n_upd, replace=False)
    src = state.source.read(spark)
    updates = (
        src.join(spark.createDataFrame([(int(k),) for k in upd_keys], [CDF_KEY]), CDF_KEY)
        .withColumn("o_totalprice", F.round(F.col("o_totalprice") + F.lit(1.25), 2))
        .withColumn("o_orderstatus", F.lit("U"))
    )
    ins_keys = np.arange(state.next_key, state.next_key + n_ins, dtype=np.int64)
    state.next_key += n_ins
    day0 = dt.datetime(1995, 1, 1)
    inserts = spark.createDataFrame(
        [
            (int(k), int(c), "O", float(p), day0 + dt.timedelta(days=int(d)), "3-MEDIUM")
            for k, c, p, d in zip(
                ins_keys,
                rng.integers(0, 15_000, n_ins),
                np.round(rng.uniform(1000, 5e5, n_ins), 2),
                rng.integers(0, 2400, n_ins),
            )
        ],
        src.schema,
    )
    state.source.merge(spark, updates.select(*src.columns).unionByName(inserts), CDF_KEY)
    live = np.sort(np.concatenate([state.live_keys, ins_keys]))
    lo_ix = int(rng.integers(0, len(live) - n_del))
    dropped = live[lo_ix : lo_ix + n_del]
    state.source.delete_where(spark, CDF_KEY, int(dropped[0]), int(dropped[-1]))
    old = set(state.live_keys.tolist())
    gone = set(dropped.tolist())
    state.live_keys = np.concatenate([live[:lo_ix], live[lo_ix + n_del :]])
    return (
        len(gone & old)
        + len(set(upd_keys.tolist()) - gone)
        + len(set(ins_keys.tolist()) - gone)
    )


def run_ingest_workload(run: Run) -> None:
    import datetime as dt

    import pyarrow.parquet as pq

    from feature_datalake_sl_mandic_spark import catalog
    from feature_datalake_sl_mandic_spark.ingest import cdf, pipeline
    from feature_datalake_sl_mandic_spark.ingest.history import history_path
    from feature_datalake_sl_mandic_spark.session import release_cached
    from feature_datalake_sl_mandic_spark.sources.txlog import TxTable

    prep = prepare_ingest_inputs(run.cache, run.seed)
    src_dir, src_stats = prep["lake"], prep["tables"]
    run.detail.update(datagen_s=prep["datagen_s"], datagen_cached=not prep["generated"])
    lake = os.path.join(run.work, "lake")
    upstream = os.path.join(run.work, "upstream")  # the CDF source database
    for d in (lake, upstream):
        shutil.rmtree(d, ignore_errors=True)
    site_dir = os.path.join(lake, SITE)
    cdf_dir = os.path.join(lake, "cdf")
    tr = run.tracer
    base_time = dt.datetime(2020, 1, 1)

    def now():
        return dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)

    def reload(spark, sources, changed, bump):
        cat = _catalog_df(spark, changed, bump, base_time)
        with tr.span("ingest.run_pipeline", pool_root=True):
            return pipeline.run_pipeline(spark, cat, sources, site_dir, SITE, max_workers=run.nproc)

    # set-up: session, registry, and the warm-up pass: cycle 0 loads every
    # table, bootstraps the CDF target and applies one batch
    t0 = time.perf_counter()
    spark, _ = _setup_session(run)
    _install_spans(run)
    tr.op_id = "cycle0"
    sources = {t: catalog.load_table(spark, src_dir, t) for t in datagen.TABLES}
    first = reload(spark, sources, list(datagen.TABLES), now())
    source = TxTable.create(spark, os.path.join(upstream, CDF_TABLE), sources[CDF_TABLE])
    target = cdf.bootstrap_cdf(spark, source, os.path.join(cdf_dir, "txlog_raw", CDF_TABLE))
    keys = np.sort(
        np.concatenate([np.asarray(pq.read_table(f, columns=[CDF_KEY])[CDF_KEY]) for f in source.snapshot().files])
    )
    state = _Cdf(source, target, int(keys[-1]) + 1, keys)
    n_changed = _cdf_batch(spark, state, np.random.default_rng([run.seed, 4]))
    summary = cdf.ingest_incremental_cdf(
        spark, state.source, state.target, CDF_KEY, lake_dir=cdf_dir, table_name=CDF_TABLE
    )
    run.detail["setup_s"] = [time.perf_counter() - t0]
    tr.op_id = None
    n_err = len(run.errors)
    _check_reload(run, "cycle0", first, list(datagen.TABLES), site_dir, src_stats, {})
    hist_cdf = _check_cdf(run, "cycle0", state, summary, n_changed, cdf_dir, 0)
    # cycle 0 is set-up, not a timed op: a failed check of it fails the
    # first measured cycle, which starts from its state
    cycle0_ok = len(run.errors) == n_err

    orders_row_bytes = src_stats[CDF_TABLE]["bytes"] / src_stats[CDF_TABLE]["rows"]
    hist_before = _history_counts(site_dir)
    raw_dir = os.path.join(site_dir, f"{SITE}_raw")

    sc = spark.sparkContext
    run.detail["sentinel_s"] = []
    start = time.perf_counter()
    r = 0
    while r == 0 or time.perf_counter() - start < run.seconds:
        sched = _schedule(run.seed, r)
        sc.setJobGroup("between-passes", "load sentinel")
        run.detail["sentinel_s"].append(_sentinel(spark))
        p_start = time.time()
        for c, changed in enumerate(sched):
            op_id = f"{r}:{c}"
            rng = np.random.default_rng([run.seed, 3, r, c])
            before = _walk(lake)
            sc.setJobGroup(op_id, "ingest cycle")
            tr.op_id = op_id
            op_t0 = time.time()
            ok = True
            try:
                with tr.span("ingest.cycle", pool_root=True):
                    results = reload(spark, sources, changed, now())
                    with tr.span("txlog.source_batch"):
                        n_changed = _cdf_batch(spark, state, rng)
                    summary = cdf.ingest_incremental_cdf(
                        spark, state.source, state.target, CDF_KEY,
                        lake_dir=cdf_dir, table_name=CDF_TABLE,
                    )
                    if c == CYCLES_PER_ROUND - 1:
                        state.target.compact(spark, COMPACT_FILES)
            except Exception as e:  # noqa: BLE001 - a failing cycle is counted, not fatal
                ok = False
                run.errors.append(f"cycle {op_id}: {type(e).__name__}: {e}")
            op_t1 = time.time()
            tr.op_id = None
            secs = op_t1 - op_t0
            after = _walk(lake)
            rec = {"id": op_id, "pass": r, "start": op_t0, "end": op_t1, "seconds": secs}
            if ok:
                n_err = len(run.errors)
                _check_reload(run, op_id, results, changed, site_dir, src_stats, hist_before)
                hist_before = _history_counts(site_dir)
                hist_cdf = _check_cdf(run, op_id, state, summary, n_changed, cdf_dir, hist_cdf)
                ok = len(run.errors) == n_err
                written, files = _written(before, after)
                raw_bytes, raw_files = _written(before, after, raw_dir)
                rec.update(
                    bytes_written=written,
                    files_written=files,
                    lake_bytes_written=raw_bytes,
                    lake_files_written=raw_files,
                    src_bytes=sum(src_stats[t]["bytes"] for t in changed) + n_changed * orders_row_bytes,
                    rows_in=sum(src_stats[t]["rows"] for t in changed) + n_changed,
                    cdf_changed=n_changed,
                    cdf_rows_written=_rows(state.target.snapshot(summary["target_version"]).files),
                    tables_reloaded=len(changed),
                )
            if not run.ops and not cycle0_ok:
                ok = False
            rec["ok"] = ok
            run.ops.append(rec)
        p_end = time.time()
        run.passes.append({"pass": r, "start": p_start, "end": p_end, "seconds": p_end - p_start})
        if r == 0:
            run.extra["space_amp"] = _space_amp(lake, raw_dir, site_dir, state.target)
        with tr.span("session.release_cached"):
            release_cached(spark)
        r += 1
    run.detail["history_files"] = sum(len(_parquet_files(history_path(d))) for d in (site_dir, cdf_dir))
    run.detail["txlog_live_files"] = len(state.target.snapshot().files)
    run.detail["txlog_versions"] = len(state.target.versions())
    run.detail["fingerprint_spark"] = _spark_fingerprint(spark)
    run.extra["peak_rss_mb"] = peak_rss_mb(spark)
    stop_spark()


def _space_amp(lake: str, raw_dir: str, site_dir: str, target) -> float:
    """Bytes on disk under the lake per byte of live data: the files of every
    full-refresh table, both history tables and the CDF target's latest
    snapshot."""
    from feature_datalake_sl_mandic_spark.ingest.history import history_path

    on_disk = sum(v[0] for v in _walk(lake).values())
    live_files = [
        *target.snapshot().files,
        *_parquet_files(raw_dir),
        *_parquet_files(history_path(site_dir)),
        *_parquet_files(history_path(os.path.join(lake, "cdf"))),
    ]
    return on_disk / sum(os.path.getsize(f) for f in live_files)


def _check_cdf(run, op_id, state: _Cdf, summary: dict, n_changed: int, cdf_dir: str, hist_before: int) -> int:
    """The feed carried every change of the batch, the target equals the
    source snapshot, and the apply added one history row. Returns the CDF
    table's history row count."""
    n_feed = summary["n_insert"] + summary["n_update"] + summary["n_delete"]
    if not summary["applied"] or n_feed != n_changed:
        run.errors.append(f"cycle {op_id}: CDF applied {n_feed} changes, batch had {n_changed}")
    if _snapshot_digest(state.source) != _snapshot_digest(state.target):
        run.errors.append(f"cycle {op_id}: CDF target differs from its source snapshot")
    n_hist = _history_counts(cdf_dir).get(CDF_TABLE, 0)
    if n_hist != hist_before + 1:
        run.errors.append(f"cycle {op_id}: {n_hist - hist_before} CDF history rows, want 1")
    return n_hist


def _check_reload(run, op_id, results, want, site_dir, src_stats, hist_before) -> None:
    from feature_datalake_sl_mandic_spark.sources.parquet import table_path

    got = sorted(r.table for r in results if r.status == "ok")
    if got != sorted(want):
        run.errors.append(f"cycle {op_id}: reloaded {got}, schedule changed {sorted(want)}")
    for r in results:
        if r.status != "ok":
            run.errors.append(f"cycle {op_id} {r.table}: {r.error}")
    for t in want:
        n = _rows(_parquet_files(table_path(site_dir, SITE, t)))
        if n != src_stats[t]["rows"]:
            run.errors.append(f"cycle {op_id} {t}: {n} rows landed, source has {src_stats[t]['rows']}")
    after = _history_counts(site_dir)
    for t in datagen.TABLES:
        delta = after.get(t, 0) - hist_before.get(t, 0)
        if delta != (1 if t in want else 0):
            run.errors.append(f"cycle {op_id} {t}: {delta} new history rows")


def op_tail(values: list[float]) -> tuple[float, float, int]:
    """(value, percentile, n): the highest percentile that leaves at least
    ten samples above it. Below 20 samples that percentile would fall under
    the median, so the tail is the largest sample (p100) instead."""
    n = len(values)
    if n < 20:
        return float(max(values)), 100.0, n
    q = 1.0 - 10.0 / n
    return float(np.quantile(values, q)), 100.0 * q, n

def median(values: list[float]) -> float:
    return float(statistics.median(values))
