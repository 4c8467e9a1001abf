"""Ingestion-parity tests: change-detection null semantics (FIXTURES.md §2
truth table + property-based vs DuckDB), type-mapping STRING fallback,
manifest round-trip edge cases, and the end-to-end pipeline on a tmp lake."""

from __future__ import annotations

import datetime as dt
import json
import os

import duckdb
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import types as T

from feature_datalake_sl_mandic_spark.ingest import manifest as mf
from feature_datalake_sl_mandic_spark.ingest.change_detection import detect_changes
from feature_datalake_sl_mandic_spark.ingest.type_mapping import (
    schema_to_ddl,
    spark_to_target_type,
)

TS = dt.datetime(2024, 1, 15, 12, 0, 0)
CATALOG_SCHEMA = T.StructType(
    [
        T.StructField("table_name", T.StringType()),
        T.StructField("update_time", T.TimestampType()),
    ]
)
HISTORY_SCHEMA = T.StructType(
    [
        T.StructField("table_name", T.StringType()),
        T.StructField("last_exec", T.TimestampType()),
    ]
)


def _detect(spark, catalog_rows, history_rows):
    cat = spark.createDataFrame(catalog_rows, CATALOG_SCHEMA)
    hist = spark.createDataFrame(history_rows, HISTORY_SCHEMA)
    return {
        r["table_name"]: r["reason"] for r in detect_changes(cat, hist).collect()
    }


class TestChangeDetectionTruthTable:
    """verifica_carga_slmandicprd.py:91-100 semantics, case by case."""

    def test_never_loaded_reloads(self, spark):
        out = _detect(spark, [("t1", TS)], [])
        assert out == {"t1": "never_loaded"}

    def test_null_update_time_skips(self, spark):
        out = _detect(spark, [("t1", None)], [])
        assert out == {}

    def test_null_update_time_skips_even_with_history(self, spark):
        out = _detect(spark, [("t1", None)], [("t1", TS)])
        assert out == {}

    def test_stale_reloads(self, spark):
        out = _detect(spark, [("t1", TS)], [("t1", TS - dt.timedelta(hours=1))])
        assert out == {"t1": "stale"}

    def test_fresh_skips(self, spark):
        out = _detect(spark, [("t1", TS)], [("t1", TS + dt.timedelta(hours=1))])
        assert out == {}

    def test_equal_timestamps_skip(self, spark):
        # strictly-greater comparison: equality is NOT a reload
        out = _detect(spark, [("t1", TS)], [("t1", TS)])
        assert out == {}


@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    lattice=st.lists(
        st.tuples(
            st.integers(0, 9),  # table id
            st.one_of(st.none(), st.integers(0, 100)),  # update offset hours
            st.one_of(st.none(), st.integers(0, 100)),  # last_exec offset hours
        ),
        min_size=1,
        max_size=12,
        unique_by=lambda t: t[0],
    )
)
def test_change_detection_matches_sql_anti_join(spark, lattice):
    """Property: DataFrame result == DuckDB left-join anti-pattern over
    randomized timestamp lattices."""
    catalog = [
        (f"t{i}", TS + dt.timedelta(hours=u) if u is not None else None)
        for i, u, _ in lattice
    ]
    history = [
        (f"t{i}", TS + dt.timedelta(hours=e))
        for i, _, e in lattice
        if e is not None
    ]
    got = _detect(spark, catalog, history)

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE cat (table_name VARCHAR, update_time TIMESTAMP);"
        "CREATE TABLE hist (table_name VARCHAR, last_exec TIMESTAMP);"
    )
    con.executemany("INSERT INTO cat VALUES (?, ?)", catalog or [(None, None)])
    if history:
        con.executemany("INSERT INTO hist VALUES (?, ?)", history)
    want = dict(
        con.execute(
            """
            SELECT c.table_name,
                   CASE WHEN h.last_exec IS NULL THEN 'never_loaded' ELSE 'stale' END
            FROM cat c LEFT JOIN hist h USING (table_name)
            WHERE c.table_name IS NOT NULL AND c.update_time IS NOT NULL
              AND (h.last_exec IS NULL OR c.update_time > h.last_exec)
            """
        ).fetchall()
    )
    assert got == want


class TestTypeMapping:
    def test_scalar_map(self):
        assert spark_to_target_type(T.StringType()) == "STRING"
        assert spark_to_target_type(T.IntegerType()) == "INT64"
        assert spark_to_target_type(T.LongType()) == "INT64"
        assert spark_to_target_type(T.ShortType()) == "INT64"
        assert spark_to_target_type(T.DoubleType()) == "FLOAT64"
        assert spark_to_target_type(T.FloatType()) == "FLOAT64"
        assert spark_to_target_type(T.BooleanType()) == "BOOL"
        assert spark_to_target_type(T.TimestampType()) == "TIMESTAMP"
        assert spark_to_target_type(T.DateType()) == "DATE"
        assert spark_to_target_type(T.BinaryType()) == "BYTES"

    def test_unknown_degrades_to_string(self):
        # the reference's default branch (spark_ingest_slmandicprd.py:81)
        assert spark_to_target_type(T.DecimalType(12, 2)) == "STRING"
        assert spark_to_target_type(T.ArrayType(T.IntegerType())) == "STRING"
        assert spark_to_target_type(T.MapType(T.StringType(), T.LongType())) == "STRING"
        assert spark_to_target_type(T.StructType([])) == "STRING"

    def test_ddl_idempotent_create(self):
        schema = T.StructType(
            [
                T.StructField("id", T.LongType()),
                T.StructField("name", T.StringType()),
                T.StructField("amount", T.DecimalType(12, 2)),
            ]
        )
        ddl = schema_to_ddl(schema, "db_raw", "tbl")
        assert ddl == (
            "CREATE TABLE IF NOT EXISTS db_raw.tbl "
            "(id INT64, name STRING, amount STRING)"
        )


class TestManifest:
    def test_round_trip(self, tmp_path):
        p = str(tmp_path / "m.json")
        mf.write_manifest(p, ["b", "a"])
        assert mf.read_manifest(p) == ["a", "b"]

    def test_missing_file_empty(self, tmp_path):
        assert mf.read_manifest(str(tmp_path / "nope.json")) == []

    def test_corrupt_json_empty(self, tmp_path):
        p = tmp_path / "bad.json"
        p.write_text("{not json]")
        assert mf.read_manifest(str(p)) == []

    def test_non_list_payload_empty(self, tmp_path):
        p = tmp_path / "obj.json"
        p.write_text(json.dumps({"a": 1}))
        assert mf.read_manifest(str(p)) == []


class TestPipeline:
    def test_end_to_end(self, spark, tmp_path):
        """detect -> manifest -> parallel ingest -> history append, then a
        second run sees everything fresh and ingests nothing."""
        from feature_datalake_sl_mandic_spark.ingest import history as hist
        from feature_datalake_sl_mandic_spark.ingest.pipeline import run_pipeline
        from feature_datalake_sl_mandic_spark.sources import parquet as lake

        lake_dir = str(tmp_path / "lake")
        now = dt.datetime.now()
        sources = {
            "customer": spark.read.parquet("/root/testdata/sf0.001/customer.parquet"),
            "nation": spark.read.parquet("/root/testdata/sf0.001/nation.parquet"),
        }
        catalog = spark.createDataFrame(
            [("customer", now), ("nation", now), ("ghost", None)], CATALOG_SCHEMA
        )

        results = run_pipeline(spark, catalog, sources, lake_dir, "testdb")
        assert {r.table for r in results} == {"customer", "nation"}
        counts = {r.table: r.row_count for r in results}
        assert counts["customer"] == 150 and counts["nation"] == 25

        # lake has the data; history has one row per ingested table
        assert lake.read_table(spark, lake_dir, "testdb", "customer").count() == 150
        latest = hist.latest_runs(spark, lake_dir).collect()
        assert {r["table_name"] for r in latest} == {"customer", "nation"}

        # run 2: catalog unchanged (update_time == before last_exec) -> no work
        results2 = run_pipeline(spark, catalog, sources, lake_dir, "testdb")
        assert results2 == []

    def test_poisoned_table_is_isolated_and_retried(self, spark, tmp_path):
        """One failing table must not sink the batch: the good table ingests,
        the poisoned one records a 'failed' result after bounded retries,
        writes NO history row (so the next run re-detects it), and the
        per-run status manifest records both outcomes."""
        from pyspark.sql import functions as F

        from feature_datalake_sl_mandic_spark.ingest import history as hist
        from feature_datalake_sl_mandic_spark.ingest.pipeline import run_pipeline

        lake_dir = str(tmp_path / "lake")
        now = dt.datetime.now()
        poison = spark.range(3).select(
            F.when(F.col("id") >= 0, F.raise_error(F.lit("poison"))).alias("v")
        )
        sources = {
            "nation": spark.read.parquet("/root/testdata/sf0.001/nation.parquet"),
            "bad": poison,
        }
        catalog = spark.createDataFrame(
            [("nation", now), ("bad", now)], CATALOG_SCHEMA
        )

        results = run_pipeline(
            spark, catalog, sources, lake_dir, "testdb", retries=1
        )
        by_table = {r.table: r for r in results}
        assert by_table["nation"].status == "ok"
        assert by_table["nation"].row_count == 25
        assert by_table["bad"].status == "failed"
        assert by_table["bad"].attempts == 2  # initial try + 1 retry
        assert "poison" in (by_table["bad"].error or "")

        # history: only the successful table — the failed one stays stale
        latest = hist.latest_runs(spark, lake_dir).collect()
        assert {r["table_name"] for r in latest} == {"nation"}

        status = json.loads((tmp_path / "lake" / "meta" / "last_run_status.json").read_text())
        assert status["bad"]["status"] == "failed"
        assert status["nation"]["status"] == "ok"

        # run 2: the failed table is re-detected (never_loaded), nation is fresh
        results2 = run_pipeline(
            spark, catalog, sources, lake_dir, "testdb", retries=0
        )
        assert {r.table for r in results2} == {"bad"}
        assert results2[0].status == "failed"

    def test_observed_count_no_second_scan(self, spark, tmp_path):
        from feature_datalake_sl_mandic_spark.ingest.history import observed_count
        from feature_datalake_sl_mandic_spark.sources import parquet as lake

        df = spark.read.parquet("/root/testdata/sf0.001/region.parquet")
        observed, obs = observed_count(df)
        lake.write_table(observed, str(tmp_path), "db", "region")
        assert obs.get["row_count"] == 5


class TestHistory:
    """``history.append_run`` writes from the driver (one atomic row file, no
    Spark job); ``latest_runs`` reads both its files and Spark-written ones."""

    def test_concurrent_appends_keep_every_row(self, spark, tmp_path):
        """The ``_temporary`` race: concurrent Spark appends to one directory
        deleted each other's staging dir. 8 threads x 5 rows must read back
        as exactly 40 rows, with no temp file left or read."""
        import sys
        from concurrent.futures import ThreadPoolExecutor

        from feature_datalake_sl_mandic_spark.ingest import history as hist

        lake_dir = str(tmp_path / "lake")

        def appends(i):
            for j in range(5):
                hist.append_run(lake_dir, f"t{i}", "db", j)

        switch = sys.getswitchinterval()
        sys.setswitchinterval(1e-5)
        try:
            with ThreadPoolExecutor(max_workers=8) as pool:
                for f in [pool.submit(appends, i) for i in range(8)]:
                    f.result(timeout=120)
        finally:
            sys.setswitchinterval(switch)

        df = spark.read.parquet(hist.history_path(lake_dir))
        counts = {r["table_name"]: r["count"] for r in df.groupBy("table_name").count().collect()}
        assert counts == {f"t{i}": 5 for i in range(8)}
        read = [f.rsplit("/", 1)[-1] for f in df.inputFiles()]
        assert len(read) == 40 and all(f.startswith("part-") for f in read)
        on_disk = [f for _, _, fs in os.walk(hist.history_path(lake_dir)) for f in fs]
        assert sorted(on_disk) == sorted(read)

    def test_pipeline_one_row_per_table_past_worker_count(self, spark, tmp_path):
        from feature_datalake_sl_mandic_spark.ingest import history as hist
        from feature_datalake_sl_mandic_spark.ingest.pipeline import run_pipeline

        tables = ["customer", "lineitem", "nation", "orders", "part", "region", "supplier"]
        lake_dir = str(tmp_path / "lake")
        now = dt.datetime.now()
        sources = {t: spark.read.parquet(f"/root/testdata/sf0.001/{t}.parquet") for t in tables}
        catalog = spark.createDataFrame([(t, now) for t in tables], CATALOG_SCHEMA)

        results = run_pipeline(spark, catalog, sources, lake_dir, "testdb", max_workers=3)
        assert sorted(r.table for r in results if r.status == "ok") == tables
        rows = spark.read.parquet(hist.history_path(lake_dir)).groupBy("table_name").count()
        assert {r["table_name"]: r["count"] for r in rows.collect()} == {t: 1 for t in tables}

    def test_append_run_runs_no_spark_job(self, spark, tmp_path):
        from feature_datalake_sl_mandic_spark.ingest import history as hist

        sc = spark.sparkContext
        group = f"history-append-{tmp_path.name}"
        sc.setJobGroup(group, "history append")
        try:
            hist.append_run(str(tmp_path), "t", "db", 1)
            assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
            spark.range(1).collect()  # control: the group does tag jobs
            assert list(sc.statusTracker().getJobIdsForGroup(group))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)

    def test_reads_back_with_spark_written_rows(self, spark, tmp_path):
        """A history holding a row from the former Spark writer and rows from
        ``append_run`` reads back as HISTORY_SCHEMA types, keeps microsecond
        ``execution_time``s, and still partition-prunes."""
        from feature_datalake_sl_mandic_spark import plans
        from feature_datalake_sl_mandic_spark.ingest import history as hist

        lake_dir = str(tmp_path / "lake")
        path = hist.history_path(lake_dir)
        day = dt.datetime.now().replace(microsecond=0) - dt.timedelta(days=1)
        t_spark = day + dt.timedelta(microseconds=123457)
        t_a = day + dt.timedelta(hours=1, microseconds=654321)
        t_b = day - dt.timedelta(days=2, microseconds=1)
        (
            spark.createDataFrame(
                [("a", "db", 3, t_spark.date(), t_spark)], hist.HISTORY_SCHEMA
            )
            .write.mode("append")
            .partitionBy("execution_date")
            .parquet(path)
        )
        hist.append_run(lake_dir, "a", "db", 4, t_a)
        hist.append_run(lake_dir, "b", "db", 5, t_b)

        back = spark.read.parquet(path)
        assert {f.name: f.dataType for f in back.schema} == {
            f.name: f.dataType for f in hist.HISTORY_SCHEMA
        }
        got = {(r["table_name"], r["row_count"], r["execution_time"]) for r in back.collect()}
        assert got == {("a", 3, t_spark), ("a", 4, t_a), ("b", 5, t_b)}

        latest = hist.latest_runs(spark, lake_dir)
        assert {r["table_name"]: r["last_exec"] for r in latest.collect()} == {
            "a": t_a,
            "b": t_b,
        }
        plan = plans.formatted_plan(latest)
        assert "PartitionFilters: [" in plan and "execution_date" in plan.split(
            "PartitionFilters: [", 1
        )[1].split("]", 1)[0]

    def test_no_history_is_empty_and_corrupt_history_fails(self, spark, tmp_path):
        """A missing history means 'never loaded'; an unreadable one raises
        instead of silently re-ingesting every table."""
        from feature_datalake_sl_mandic_spark.ingest import history as hist
        from feature_datalake_sl_mandic_spark.ingest.pipeline import run_pipeline

        lake_dir = str(tmp_path / "lake")
        empty = hist.latest_runs(spark, lake_dir)
        assert empty.columns == ["table_name", "last_exec"] and empty.collect() == []

        part = tmp_path / "lake" / "meta" / "historico_execucao" / "execution_date=2024-01-15"
        part.mkdir(parents=True)
        (part / ".part-x.parquet.tmp").write_bytes(b"torn")  # hidden: still empty
        assert hist.latest_runs(spark, lake_dir).collect() == []

        (part / "part-x.parquet").write_bytes(b"not parquet")
        catalog = spark.createDataFrame([("nation", dt.datetime.now())], CATALOG_SCHEMA)
        sources = {"nation": spark.read.parquet("/root/testdata/sf0.001/nation.parquet")}
        with pytest.raises(Exception, match="(?i)parquet"):
            run_pipeline(spark, catalog, sources, lake_dir, "testdb")


class TestJdbcConfig:
    def test_partitioned_reader_options(self):
        from feature_datalake_sl_mandic_spark.sources.jdbc import (
            JdbcConfig,
            MSSQL_DRIVER,
            mssql_catalog_query,
            mysql_catalog_query,
        )

        cfg = JdbcConfig(
            url="jdbc:mysql://h/db?zeroDateTimeBehavior=CONVERT_TO_NULL",
            user="u",
            password="p",
        )
        opts = cfg.options()
        assert opts["driver"].startswith("com.mysql")
        assert "zeroDateTimeBehavior=CONVERT_TO_NULL" in opts["url"]
        assert "table_schema = 'db'" in mysql_catalog_query("db")
        assert "sys.tables" in mssql_catalog_query() and "dbo" in mssql_catalog_query()
        assert MSSQL_DRIVER.endswith("SQLServerDriver")


class TestScd2:
    def test_scd2_apply_null_transitions_and_noops(self, spark):
        from feature_datalake_sl_mandic_spark.ingest.scd import HIGH_DATE, scd2_apply
        import pyspark.sql.functions as F

        dim = spark.createDataFrame(
            [
                (1, "alice", "gold", None),     # tracked attr NULL -> value
                (2, "bob", None, "BR"),         # tracked NULL stays NULL (no-op)
                (3, "carol", "silver", "US"),   # value change
                (4, "dave", "bronze", "AR"),    # untouched (not in batch)
            ],
            "k INT, name STRING, tier STRING, country STRING",
        )
        dim = (
            dim.withColumn("valid_from", F.lit("2023-01-01").cast("date"))
            .withColumn("valid_to", F.lit(HIGH_DATE).cast("date"))
            .withColumn("is_current", F.lit(1))
        )
        updates = spark.createDataFrame(
            [
                (1, "gold", "FR"),    # NULL -> FR : change
                (2, None, "BR"),      # identical incl NULL : no-op
                (3, "gold", "US"),    # silver -> gold : change
                (5, "new", None),     # brand-new key
            ],
            "k INT, tier STRING, country STRING",
        )
        out = scd2_apply(dim, updates, "k", ["tier", "country"], "2024-06-01")
        rows = {(r.k, str(r.valid_from), r.is_current): r for r in out.collect()}

        assert len(rows) == 7  # 4 original-era rows (2 closed) + 2 new versions + 1 insert
        # k=1: closed old (country NULL) + open new (country FR)
        assert rows[(1, "2023-01-01", 0)].country is None
        assert str(rows[(1, "2023-01-01", 0)].valid_to) == "2024-06-01"
        assert rows[(1, "2024-06-01", 1)].country == "FR"
        assert rows[(1, "2024-06-01", 1)].name == "alice"  # non-tracked carried
        # k=2: single untouched current version (NULL == NULL is not a change)
        assert rows[(2, "2023-01-01", 1)].is_current == 1
        assert (2, "2024-06-01", 1) not in rows
        # k=3: versioned
        assert rows[(3, "2023-01-01", 0)].tier == "silver"
        assert rows[(3, "2024-06-01", 1)].tier == "gold"
        # k=4: untouched
        assert rows[(4, "2023-01-01", 1)].valid_to.year == 9999
        # k=5: inserted, non-tracked attrs NULL
        assert rows[(5, "2024-06-01", 1)].name is None


class TestIncrementalRefresh:
    def test_retraction_and_new_group(self, spark):
        from feature_datalake_sl_mandic_spark.ingest.incremental import (
            aggregate_batch,
            incremental_refresh,
        )
        import pyspark.sql.functions as F

        base = spark.createDataFrame(
            [("a", 10.0), ("a", 20.0), ("b", 5.0)], "k STRING, v DOUBLE"
        )
        mv = aggregate_batch(base, ["k"], {"total": "v"})
        # retraction: remove one 'a' row (negative delta); new group 'c'
        delta_rows = spark.createDataFrame(
            [("a", -20.0, -1), ("c", 7.0, 1)], "k STRING, v DOUBLE, sign INT"
        )
        delta = delta_rows.groupBy("k").agg(
            F.sum("sign").cast("bigint").alias("n_rows"),
            F.sum(F.col("v").cast("decimal(38,6)")).alias("total"),
        )
        out = {
            r.k: (r.n_rows, float(r.total))
            for r in incremental_refresh(mv, delta, ["k"], ["total"]).collect()
        }
        assert out == {"a": (1, 10.0), "b": (1, 5.0), "c": (1, 7.0)}
