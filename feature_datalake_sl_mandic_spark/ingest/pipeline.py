"""End-to-end ingestion pipeline: detect -> ingest (parallel) -> audit.

The reference's EP1 lifecycle (SURVEY.md §3) minus Airflow: a plain Python
driver that (1) runs change detection, (2) writes the manifest, (3) ingests
each changed table, (4) appends the audit row. Two reference anti-patterns
fixed, both self-reported or survey-flagged:

- per-table ingestion runs in a ``ThreadPoolExecutor`` (the reference is
  deliberately sequential, ``Sites/Dag_ingest/ingest_slmandicprd.py:58-83``;
  its own README names parallelization as the fix, ``README.md:84``).
  Threads are correct here: each submits independent Spark jobs and the
  scheduler interleaves them (FAIR pool friendly).
- row counts come from ``observe()`` during the write, not a second source
  scan (``spark_ingest_slmandicprd.py:108`` anti-pattern).
"""

from __future__ import annotations

import os
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from feature_datalake_sl_mandic_spark.ingest import history as hist
from feature_datalake_sl_mandic_spark.ingest.change_detection import detect_changes
from feature_datalake_sl_mandic_spark.ingest.manifest import (
    read_manifest,
    write_manifest,
)
from feature_datalake_sl_mandic_spark.sources import parquet as lake


@dataclass
class IngestResult:
    table: str
    row_count: int
    seconds: float
    status: str = "ok"  # "ok" | "failed"
    attempts: int = 1
    error: str | None = None


def ingest_table(
    spark: SparkSession,
    source_df: DataFrame,
    lake_dir: str,
    database: str,
    table: str,
) -> IngestResult:
    """Single-table full refresh (EP2 parity): overwrite write with observed
    row count, then history append. Timing covers read+write wall clock like
    the reference's ``execution_time_sec`` (``spark_ingest_slmandicprd.py:53,109``)."""
    t0 = time.time()
    observed, obs = hist.observed_count(source_df)
    lake.write_table(observed, lake_dir, database, table, mode="overwrite")
    row_count = int(obs.get["row_count"])
    hist.append_run(lake_dir, table, database, row_count)
    return IngestResult(table, row_count, time.time() - t0)


def ingest_table_with_retry(
    spark: SparkSession,
    source_df: DataFrame,
    lake_dir: str,
    database: str,
    table: str,
    retries: int = 2,
    backoff_sec: float = 0.0,
) -> IngestResult:
    """``ingest_table`` with bounded retries and failure isolation — parity
    with the reference controller's per-task Airflow retry
    (``Sites/dag_controller/controller_slmandicprd.py:23-44``). A table that
    exhausts its retries returns a ``failed`` result instead of raising, so
    one poisoned table cannot sink the batch; it also writes NO history row,
    which leaves it stale in ``latest_runs`` and therefore re-detected as
    changed on the next pipeline run (self-healing retry-across-runs)."""
    t0 = time.time()
    last_err: Exception | None = None
    for attempt in range(1, retries + 2):
        try:
            res = ingest_table(spark, source_df, lake_dir, database, table)
            return IngestResult(
                table, res.row_count, time.time() - t0, "ok", attempt, None
            )
        except Exception as e:  # noqa: BLE001 — isolate any per-table failure
            last_err = e
            if attempt <= retries and backoff_sec:
                time.sleep(backoff_sec * attempt)  # linear backoff
    return IngestResult(
        table,
        0,
        time.time() - t0,
        "failed",
        retries + 1,
        f"{type(last_err).__name__}: {last_err}",
    )


def run_pipeline(
    spark: SparkSession,
    catalog: DataFrame,
    sources: dict[str, DataFrame],
    lake_dir: str,
    database: str,
    max_workers: int = 4,
    lookback_days: int = 30,
    retries: int = 2,
) -> list[IngestResult]:
    """detect -> manifest -> parallel per-table ingest (retried, isolated)
    -> audit rows + per-run status manifest.

    ``catalog``: (table_name, update_time) freshness. ``sources``: table_name
    -> source DataFrame (parquet lake or JDBC — same interface)."""
    history_df = hist.latest_runs(spark, lake_dir, lookback_days)
    changed = [r["table_name"] for r in detect_changes(catalog, history_df).collect()]
    manifest_path = os.path.join(lake_dir, "meta", "pending_tables.json")
    write_manifest(manifest_path, changed)

    pending = [t for t in read_manifest(manifest_path) if t in sources]
    if not pending:  # empty/missing manifest skips cleanly (INGEST-DAG:49-51)
        return []

    with ThreadPoolExecutor(max_workers=max_workers) as pool:
        futures = [
            pool.submit(
                ingest_table_with_retry,
                spark,
                sources[t],
                lake_dir,
                database,
                t,
                retries,
            )
            for t in pending
        ]
        results = [f.result() for f in futures]

    # Per-run status record beside the pending manifest: operators see which
    # tables failed (and why) without scanning the audit table.
    status_path = os.path.join(lake_dir, "meta", "last_run_status.json")
    os.makedirs(os.path.dirname(status_path), exist_ok=True)
    import json

    tmp = status_path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(
            {
                r.table: {
                    "status": r.status,
                    "attempts": r.attempts,
                    "row_count": r.row_count,
                    "seconds": round(r.seconds, 3),
                    "error": r.error,
                }
                for r in results
            },
            f,
            indent=2,
            sort_keys=True,
        )
    os.replace(tmp, status_path)
    return results
