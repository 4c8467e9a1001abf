"""Run-history audit log (``historico_execucao`` parity).

The reference appends one metadata row per ingest run to a BigQuery table
``Historico_Execucao`` (schema at ``spark_ingest_slmandicprd.py:115-132``,
append at ``:136-141``) and later reads it back with a 30-day
partition-pruned MAX…GROUP BY in BigQuery SQL
(``verifica_carga_slmandicprd.py:74-82``).

Here the history is a date-partitioned parquet table; ``latest_runs`` is the
same aggregation as a DataFrame plan, so the partition filter prunes files
(partition column = execution_date) instead of relying on a warehouse.

``append_run`` writes its one row from the driver, not as a Spark job: one
pyarrow parquet file per row, written under a dot-prefixed temp name inside
``execution_date=<date>/`` and ``os.replace``d to ``part-<uuid>.parquet``.
Spark and pyarrow readers skip dot-prefixed files, so a reader sees a whole
row file or none — the same single-atomic-object commit as the manifest
(``manifest.py``) and the transaction log (``sources/txlog.py``). A Spark
append (``DataFrameWriter.parquet``) would cost a multi-task job per row and
commit through the shared ``<history>/_temporary``, which concurrent appends
from ``run_pipeline``'s threads delete under each other: the losing commit
fails, its table is retried, and a row that had landed is duplicated. The
driver-side write shares no staging directory, so there is no such race.
Files keep Spark's layout: the partition column lives only in the directory
name, and ``execution_time`` is stored UTC-adjusted so Spark reads it back
as ``TimestampType``.

Anti-pattern fixed (SURVEY.md §4): the reference re-scans the whole source
with ``df.count()`` *after* writing (``spark_ingest_slmandicprd.py:108``).
``observed_count`` attaches ``df.observe()`` so the row count is collected as
a side metric of the single write pass.
"""

from __future__ import annotations

import datetime as dt
import os
import time
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Reference's explicit metadata schema (spark_ingest_slmandicprd.py:115-121),
# all nullable.
HISTORY_SCHEMA = T.StructType(
    [
        T.StructField("table_name", T.StringType(), True),
        T.StructField("name_dataBase", T.StringType(), True),
        T.StructField("row_count", T.IntegerType(), True),
        T.StructField("execution_date", T.DateType(), True),
        T.StructField("execution_time", T.TimestampType(), True),
    ]
)
# One row file as append_run writes it: HISTORY_SCHEMA minus the partition
# column, timestamps UTC-adjusted (read back as TimestampType, not NTZ).
_FILE_SCHEMA = pa.schema(
    [
        ("table_name", pa.string()),
        ("name_dataBase", pa.string()),
        ("row_count", pa.int32()),
        ("execution_time", pa.timestamp("us", tz="UTC")),
    ]
)


def observed_count(df: DataFrame) -> tuple[DataFrame, Observation]:
    """Attach an Observation counting rows during the write action itself —
    replaces the reference's second full scan (S7 anti-pattern)."""
    obs = Observation(f"ingest_metrics_{time.time_ns()}")
    return df.observe(obs, F.count(F.lit(1)).alias("row_count")), obs


def history_path(lake_dir: str) -> str:
    return os.path.join(lake_dir, "meta", "historico_execucao")


def append_run(
    lake_dir: str,
    table_name: str,
    database: str,
    row_count: int,
    execution_time: dt.datetime | None = None,
) -> None:
    """Append one audit row (S8/S11 parity), partitioned by execution_date so
    the freshness lookup partition-prunes. A naive ``execution_time`` is UTC."""
    execution_time = execution_time or dt.datetime.now(dt.timezone.utc).replace(
        tzinfo=None
    )
    row = pa.table(
        {
            "table_name": [table_name],
            "name_dataBase": [database],
            "row_count": [int(row_count)],
            "execution_time": [execution_time],
        },
        schema=_FILE_SCHEMA,
    )
    part_dir = os.path.join(
        history_path(lake_dir), f"execution_date={execution_time.date().isoformat()}"
    )
    os.makedirs(part_dir, exist_ok=True)
    name = f"part-{uuid.uuid4()}.parquet"
    tmp = os.path.join(part_dir, f".{name}.tmp")
    pq.write_table(row, tmp)
    os.replace(tmp, os.path.join(part_dir, name))  # atomic: no torn row file


def _has_data_file(path: str) -> bool:
    """Any file Spark's listing would read (names starting ``.``/``_`` are
    hidden) under ``path``."""
    for _, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith((".", "_"))]
        if any(not f.startswith((".", "_")) for f in files):
            return True
    return False


def latest_runs(
    spark: SparkSession, lake_dir: str, lookback_days: int = 30
) -> DataFrame:
    """(table_name, last_exec): MAX(execution_time) per table over the last N
    days — the reference's BQ query (``verifica_carga_slmandicprd.py:74-82``)
    as a partition-pruned DataFrame aggregation."""
    path = history_path(lake_dir)
    if not _has_data_file(path):  # no run yet: every table is never_loaded
        return spark.createDataFrame([], "table_name string, last_exec timestamp")
    cutoff = F.current_timestamp() - F.expr(f"INTERVAL {int(lookback_days)} DAYS")
    return (
        spark.read.parquet(path)
        .where(F.col("execution_date") >= F.to_date(cutoff))
        .groupBy("table_name")
        .agg(F.max("execution_time").alias("last_exec"))
    )
