"""Compare a generated sf0.1 lake with the engine's sf0.1 fixture.

    python3 perfbench/compare_fixture.py <fixture_dir> [--seed 1]

Run it from the repository root. ``<fixture_dir>`` holds one
``<table>.parquet`` file per table (the layout of ``SPARK_GRAFT_SF_DIR``);
the generated lake for ``--seed`` is made (or reused) under
``.perfbench_work/cache/``. Prints a markdown table of row counts, parquet
physical types and the distributions the queries depend on (fan-out, key
coverage, planted duplicates, category shares), and exits 1 if any table's
schema or parquet column types differ.
"""

from __future__ import annotations

import argparse
import os
import sys

import numpy as np
import pyarrow.dataset as ds
import pyarrow.parquet as pq

sys.path.insert(0, os.getcwd())

from perfbench import datagen  # noqa: E402


def _files(lake: str, table: str) -> list[str]:
    p = os.path.join(lake, f"{table}.parquet")
    if os.path.isdir(p):
        return sorted(os.path.join(p, f) for f in os.listdir(p) if f.endswith(".parquet"))
    return [p]


def _types(files: list[str]) -> list[str]:
    """``name physical logical`` of every column, from the parquet footer."""
    s = pq.ParquetFile(files[0]).schema
    return [f"{c.name} {c.physical_type} {c.logical_type}" for c in (s.column(i) for i in range(len(s)))]


def _stats(lake: str) -> dict[str, object]:
    t = {name: ds.dataset(_files(lake, name)).to_table().to_pandas() for name in datagen.TABLES}
    o, li, ev, doc, emb = t["orders"], t["lineitem"], t["events"], t["documents"], t["embeddings"]
    lines = li.groupby("l_orderkey").size()
    per_cust = o.groupby("o_custkey").size()
    per_user = ev.groupby("user_id").size()
    texts = doc["text"].tolist()
    seen = set(texts)
    vecs = np.stack(emb["embedding"].to_numpy())
    return {
        **{f"{n} rows": len(df) for n, df in t.items()},
        "lineitem per order (mean / max)": f"{lines.mean():.3f} / {lines.max()}",
        "orders with lineitems": len(lines),
        "orders per customer (mean / max)": f"{per_cust.mean():.2f} / {per_cust.max()}",
        "distinct l_partkey / l_suppkey": f"{li.l_partkey.nunique()} / {li.l_suppkey.nunique()}",
        "l_extendedprice mean": f"{li.l_extendedprice.mean():.0f}",
        "o_totalprice mean": f"{o.o_totalprice.mean():.0f}",
        "o_orderdate days": o.o_orderdate.nunique(),
        "events per user (mean / max)": f"{per_user.mean():.1f} / {per_user.max()}",
        "largest event_type share": f"{ev.event_type.value_counts(normalize=True).max():.3f}",
        "event value mean": f"{ev.value.mean():.2f}",
        "events ts sorted": bool(ev.ts.is_monotonic_increasing),
        "near-dup docs (text = another + ' dup')": sum(
            x.endswith(" dup") and x[:-4] in seen for x in texts
        ),
        "exact-dup doc rows": len(texts) - len(seen),
        "doc chars mean": f"{doc.n_chars.mean():.1f}",
        "lang 'en' share": f"{(doc.lang == 'en').mean():.3f}",
        "embedding dim / mean norm": f"{vecs.shape[1]} / {np.linalg.norm(vecs, axis=1).mean():.4f}",
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("fixture_dir")
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args(argv)
    gen, _ = datagen.lake(os.path.join(".perfbench_work", "cache"), "sf01", args.seed)
    fx_stats, gen_stats = _stats(args.fixture_dir), _stats(gen)
    print(f"| statistic | fixture | generated (seed {args.seed}) |\n|---|---|---|")
    for k in fx_stats:
        print(f"| {k} | {fx_stats[k]} | {gen_stats[k]} |")
    bad = 0
    for name in datagen.TABLES:
        a, b = _types(_files(args.fixture_dir, name)), _types(_files(gen, name))
        same = a == b
        bad += not same
        print(f"| {name} parquet column types | {'same as generated' if same else a} | {'same as fixture' if same else b} |")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
