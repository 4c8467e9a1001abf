"""Seeded lake generator for the benchmark.

Produces the ten lake tables (``catalog.TABLE_NAMES``) with the schemas,
parquet physical types, row counts and value distributions of the engine's
sf0.1 fixture: a TPC-H-like star (region, nation, customer, supplier, part,
orders, lineitem), an event stream, a text corpus with planted
near-duplicates and unit-norm embeddings. ``compare_fixture.py`` checks
the match against a fixture directory. Everything is drawn from
``numpy.random.default_rng`` streams keyed by (seed, replica, table), so
one seed always yields the same bytes.

Two layouts are built, each as a directory of ``<table>.parquet/``
directories of part files (the multi-file layout Spark scans in parallel):

- ``sf01``: one sf0.1 universe, each table split by the file-count policy
  of ``bench.prepare_bench_dir``.
- ``x10``: ten sf0.1 universes of the tables the relational queries read
  (customer, supplier, orders, lineitem), each shifted onto its own key
  range (``scale_probe.STRIDE``), with region and nation shared and the
  file counts of ``scale_probe.prepare_scaled_dir``, beside one sf0.1 copy
  of the corpus tables (documents, embeddings) in the ``sf01`` layout.

Generated lakes are cached under the work directory, keyed by seed, layout
and a hash of this file, so an edit to the generator never reuses old data.
"""

from __future__ import annotations

import glob
import hashlib
import io
import json
import os
import shutil
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# Mirrors scale_probe.STRIDE: far above any base key, so products of keys
# stay exact BIGINT and replicas never collide.
STRIDE = 1 << 33
REPLICAS_X10 = 10
# The tables the relational_x10 queries read, with
# scale_probe.prepare_scaled_dir's file count for a replicated relational
# table. part and events, which none of them reads, are not generated.
_X10_FILES = {t: 8 for t in ["customer", "supplier", "orders", "lineitem"]}

# sf0.1 row counts of the fixture tables.
ROWS = {
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]
_TABLE_IX = {t: i for i, t in enumerate(TABLES)}

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["red", "small", "hot", "cold", "old", "new", "large", "blue"]
_NOUN = ["gear", "gizmo", "widget", "ring", "plate", "anvil", "bolt", "rod"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_STATUS = ["F", "O", "P"]
_PRIORITY = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_RFLAG = ["A", "N", "R"]
_LSTATUS = ["F", "O"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
_EMB_DIM = 64

_ORDER_DAY0 = np.datetime64("1995-01-01", "D")
_ORDER_DAYS = int((np.datetime64("2001-08-01", "D") - _ORDER_DAY0).astype(int)) + 1
_EVENT_T0 = np.datetime64("2024-01-01T00:00:00", "us")
_EVENT_SPAN_US = 30 * 86_400 * 1_000_000


def _pick(rng: np.random.Generator, values: list[str], n: int) -> pa.Array:
    return pc.take(pa.array(values), pa.array(rng.integers(0, len(values), n)))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0, 2)


def _rng(seed: int, replica: int, table: str) -> np.random.Generator:
    return np.random.default_rng([seed, replica, _TABLE_IX[table]])


def _dims() -> dict[str, pa.Table]:
    return {
        "region": pa.table(
            {
                "r_regionkey": pa.array(range(5), pa.int32()),
                "r_name": pa.array(_REGIONS),
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
    }


def _universe(seed: int, r: int, tables: list[str]) -> dict[str, pa.Table]:
    """One sf0.1 universe whose keys start at ``r * STRIDE``."""
    off = r * STRIDE
    out: dict[str, pa.Table] = {}
    n_cust, n_supp, n_part, n_ord = (
        ROWS["customer"], ROWS["supplier"], ROWS["part"], ROWS["orders"]
    )
    if "customer" in tables:
        g, n = _rng(seed, r, "customer"), n_cust
        keys = off + np.arange(n, dtype=np.int64)
        out["customer"] = pa.table(
            {
                "c_custkey": keys,
                "c_name": pa.array([f"Customer#{k:09d}" for k in keys.tolist()]),
                "c_nationkey": g.integers(0, 25, n).astype(np.int32),
                "c_acctbal": _money(g, -999.99, 9999.99, n),
                "c_mktsegment": _pick(g, _SEGMENTS, n),
            }
        )
    if "supplier" in tables:
        g, n = _rng(seed, r, "supplier"), n_supp
        keys = off + np.arange(n, dtype=np.int64)
        out["supplier"] = pa.table(
            {
                "s_suppkey": keys,
                "s_name": pa.array([f"Supplier#{k:09d}" for k in keys.tolist()]),
                "s_nationkey": g.integers(0, 25, n).astype(np.int32),
                "s_acctbal": _money(g, -999.99, 9999.99, n),
            }
        )
    if "part" in tables:
        g, n = _rng(seed, r, "part"), n_part
        names = pc.binary_join_element_wise(
            _pick(g, _ADJ, n), _pick(g, _NOUN, n), " "
        )
        brands = pc.binary_join_element_wise(
            pa.array(["Brand#"] * n), pc.cast(pa.array(g.integers(1, 26, n)), pa.string()), ""
        )
        out["part"] = pa.table(
            {
                "p_partkey": off + np.arange(n, dtype=np.int64),
                "p_name": names,
                "p_brand": brands,
                "p_type": _pick(g, _PTYPES, n),
                "p_size": g.integers(1, 51, n).astype(np.int32),
                "p_retailprice": np.round(900.0 + (np.arange(n) % 1000) / 10.0, 1),
            }
        )
    order_days = None
    if "orders" in tables or "lineitem" in tables:
        g = _rng(seed, r, "orders")
        n = n_ord
        order_days = g.integers(0, _ORDER_DAYS, n)
        if "orders" in tables:
            out["orders"] = pa.table(
                {
                    "o_orderkey": off + np.arange(n, dtype=np.int64),
                    "o_custkey": off + g.integers(0, n_cust, n),
                    "o_orderstatus": _pick(g, _STATUS, n),
                    "o_totalprice": _money(g, 1000.0, 500000.0, n),
                    "o_orderdate": pa.array(
                        (_ORDER_DAY0 + order_days).astype("datetime64[us]")
                    ),
                    "o_orderpriority": _pick(g, _PRIORITY, n),
                }
            )
    if "lineitem" in tables:
        g, n = _rng(seed, r, "lineitem"), ROWS["lineitem"]
        okey = g.integers(0, n_ord, n)
        ship = _ORDER_DAY0 + order_days[okey] + g.integers(1, 96, n)
        out["lineitem"] = pa.table(
            {
                "l_orderkey": off + okey,
                "l_partkey": off + g.integers(0, n_part, n),
                "l_suppkey": off + g.integers(0, n_supp, n),
                "l_linenumber": g.integers(1, 8, n).astype(np.int32),
                "l_quantity": g.integers(1, 51, n).astype(np.float64),
                "l_extendedprice": _money(g, 900.0, 105000.0, n),
                "l_discount": g.integers(0, 11, n) / 100.0,
                "l_tax": g.integers(0, 9, n) / 100.0,
                "l_returnflag": _pick(g, _RFLAG, n),
                "l_linestatus": _pick(g, _LSTATUS, n),
                "l_shipdate": pa.array(ship.astype("datetime64[us]")),
            }
        )
    if "events" in tables:
        g, n = _rng(seed, r, "events"), ROWS["events"]
        ts = np.sort(g.integers(0, _EVENT_SPAN_US, n))
        out["events"] = pa.table(
            {
                "event_id": off + np.arange(n, dtype=np.int64),
                "ts": pa.array(_EVENT_T0 + ts.astype("timedelta64[us]")),
                "user_id": off + g.integers(0, 1500, n),
                "event_type": _pick(g, _EVENT_TYPES, n),
                "value": np.round(g.exponential(50.0, n), 2),
                "props": pa.array([f'{{"k": {k}}}' for k in g.integers(0, 100, n).tolist()]),
            }
        )
    if "documents" in tables:
        out["documents"] = _documents(_rng(seed, r, "documents"), off)
    if "embeddings" in tables:
        g, n = _rng(seed, r, "embeddings"), ROWS["embeddings"]
        v = g.standard_normal((n, _EMB_DIM)).astype(np.float32)
        v /= np.linalg.norm(v, axis=1, keepdims=True)
        out["embeddings"] = pa.table(
            {
                "vec_id": off + np.arange(n, dtype=np.int64),
                "embedding": pa.FixedSizeListArray.from_arrays(
                    pa.array(v.ravel()), _EMB_DIM
                ).cast(pa.list_(pa.float32())),
                "label": g.integers(0, 10, n).astype(np.int32),
            }
        )
    return out


def _documents(g: np.random.Generator, off: int) -> pa.Table:
    """5% planted near-duplicates (``<original> dup``) and a few exact
    duplicates, as in the fixture corpus."""
    n = ROWS["documents"]
    lengths = g.integers(10, 101, n)
    words = g.integers(0, len(_VOCAB), int(lengths.sum()))
    texts, pos = [], 0
    for k in lengths.tolist():
        texts.append(" ".join(_VOCAB[w] for w in words[pos : pos + k]))
        pos += k
    targets = g.choice(n, size=258, replace=False)
    sources = g.choice(n, size=258, replace=False)
    for t, s in zip(targets[:250].tolist(), sources[:250].tolist()):
        if t != s:
            texts[t] = texts[s] + " dup"
    for t, s in zip(targets[250:].tolist(), sources[250:].tolist()):
        texts[t] = texts[s]
    text = pa.array(texts)
    return pa.table(
        {
            "doc_id": off + np.arange(n, dtype=np.int64),
            "text": text,
            "lang": pc.take(pa.array(_LANGS), pa.array(g.choice(5, n, p=_LANG_P))),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pc.cast(pc.utf8_length(text), pa.int64()),
        }
    )


# --- layouts -----------------------------------------------------------------


def _write_parts(table: pa.Table, out_dir: str, n_files: int) -> None:
    os.makedirs(out_dir, exist_ok=True)
    step = -(-table.num_rows // n_files)
    for i in range(n_files):
        pq.write_table(
            table.slice(i * step, step), os.path.join(out_dir, f"part-{i:05d}.parquet")
        )


def _bench_file_count(table_name: str, table: pa.Table) -> int:
    """``bench.prepare_bench_dir``'s split policy, applied to the size the
    table has as one parquet file."""
    import bench

    if table_name in bench._EXPLODE_HEAVY:
        return bench._EXPLODE_HEAVY_FILES
    buf = io.BytesIO()
    pq.write_table(table, buf)
    size = buf.tell()
    n = max(1, min(bench._SPLIT_MAX_FILES, size // bench._SPLIT_TARGET_BYTES))
    if size >= bench._SPLIT_MIN_BYTES_FOR_2:
        n = max(2, n)
    return int(n)


def _build_sf01(seed: int, target: str) -> None:
    tables = {**_dims(), **_universe(seed, 0, TABLES[2:])}
    for name, tbl in tables.items():
        _write_parts(tbl, os.path.join(target, f"{name}.parquet"), _bench_file_count(name, tbl))


def _build_x10(seed: int, target: str) -> None:
    """Replica r's rows of each table are split into ``_X10_FILES`` slices,
    slice i appended to file i as a row group, so every file spans every
    replica and only one replica is in memory at a time."""
    for name, tbl in _dims().items():
        _write_parts(tbl, os.path.join(target, f"{name}.parquet"), 1)
    for name, tbl in _universe(seed, 0, ["documents", "embeddings"]).items():
        _write_parts(tbl, os.path.join(target, f"{name}.parquet"), _bench_file_count(name, tbl))
    writers: dict[tuple[str, int], pq.ParquetWriter] = {}
    # each file gets one row group per replica, in replica order; the files
    # of one replica are encoded on a few threads
    try:
        with ThreadPoolExecutor(4) as pool:
            for r in range(REPLICAS_X10):
                pending = []
                for name, tbl in _universe(seed, r, list(_X10_FILES)).items():
                    n_files = _X10_FILES[name]
                    out = os.path.join(target, f"{name}.parquet")
                    os.makedirs(out, exist_ok=True)
                    step = -(-tbl.num_rows // n_files)
                    for i in range(n_files):
                        key = (name, i)
                        if key not in writers:
                            writers[key] = pq.ParquetWriter(
                                os.path.join(out, f"part-{i:05d}.parquet"), tbl.schema
                            )
                        pending.append(pool.submit(writers[key].write_table, tbl.slice(i * step, step)))
                for f in pending:
                    f.result()
    finally:
        for w in writers.values():
            w.close()


_BUILDERS = {"sf01": _build_sf01, "x10": _build_x10}
KEEP_LAKES = 4


def source_hash() -> str:
    with open(__file__, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()[:16]


def _key(cache_dir: str, layout: str, seed: int) -> tuple[dict, str]:
    key = {"layout": layout, "seed": seed, "gen": source_hash()}
    return key, os.path.join(cache_dir, f"{layout}-s{seed}-{key['gen']}")


def _ready(cache_dir: str, layout: str, seed: int) -> bool:
    """Whether the ``layout`` lake for ``seed`` is already generated."""
    key, target = _key(cache_dir, layout, seed)
    try:
        with open(os.path.join(target, ".ready.json")) as f:
            return json.load(f) == key
    except (FileNotFoundError, json.JSONDecodeError):
        return False


def lake(cache_dir: str, layout: str, seed: int) -> tuple[str, bool]:
    """Path of the ``layout`` lake for ``seed``, generating it on a cache
    miss. Returns (path, generated). Generating one deletes all but the
    newest ``KEEP_LAKES`` lakes of the layout, so a long series of seeds
    does not fill the disk (a 10x lake is about 160 MB)."""
    key, target = _key(cache_dir, layout, seed)
    if _ready(cache_dir, layout, seed):
        return target, False
    shutil.rmtree(target, ignore_errors=True)
    tmp = target + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    _BUILDERS[layout](seed, tmp)
    with open(os.path.join(tmp, ".ready.json"), "w") as f:
        json.dump(key, f)
    os.replace(tmp, target)
    older = sorted(
        (p for p in glob.glob(os.path.join(cache_dir, f"{layout}-s*")) if p != target),
        key=os.path.getmtime,
        reverse=True,
    )
    for p in older[KEEP_LAKES - 1 :]:
        shutil.rmtree(p, ignore_errors=True)
    return target, True


def table_stats(lake_dir: str) -> dict[str, dict[str, int]]:
    """table name -> rows and bytes of its part files."""
    out = {}
    for t in TABLES:
        d = os.path.join(lake_dir, f"{t}.parquet")
        if not os.path.isdir(d):
            continue
        files = [os.path.join(d, f) for f in sorted(os.listdir(d)) if f.endswith(".parquet")]
        out[t] = {
            "rows": sum(pq.ParquetFile(f).metadata.num_rows for f in files),
            "bytes": sum(os.path.getsize(f) for f in files),
        }
    return out


def table_paths(lake_dir: str) -> dict[str, str]:
    """table name -> glob of its part files (for DuckDB views)."""
    return {
        t: os.path.join(lake_dir, f"{t}.parquet", "*.parquet")
        for t in TABLES
        if os.path.isdir(os.path.join(lake_dir, f"{t}.parquet"))
    }

