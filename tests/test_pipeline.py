from __future__ import annotations

import shutil
from types import SimpleNamespace

import pytest
from pyspark.sql import functions as F

from airflow_iceberg_pipeline_stock_tracker_spark import pipeline
from airflow_iceberg_pipeline_stock_tracker_spark.sources.stock_api import (
    DeterministicBarClient,
)

DB = "pipetest"


@pytest.fixture()
def db(spark):
    # Clean BOTH the catalog entry and the on-disk warehouse dir in SETUP:
    # a previously interrupted run can leave the directory behind with a
    # fresh derby catalog (DROP is then a no-op), and the staging CREATE
    # would fail with LOCATION_ALREADY_EXISTS.
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    spark.sql(f"DROP DATABASE IF EXISTS {DB} CASCADE")
    shutil.rmtree(f"{wh}/{DB.lower()}.db", ignore_errors=True)
    yield DB
    spark.sql(f"DROP DATABASE IF EXISTS {DB} CASCADE")
    shutil.rmtree(f"{wh}/{DB.lower()}.db", ignore_errors=True)


def test_run_for_date_end_to_end(spark, db):
    checks = pipeline.run_for_date(spark, "2024-01-02", db=db)
    rows = {r.check_name: r.status for r in checks.collect()}
    assert len(rows) == 6
    assert all(s == "PASS" for s in rows.values())

    prod = spark.table(f"{db}.{pipeline.PROD_TABLE}")
    assert prod.count() == 5  # one row per reference ticker
    cum = spark.table(f"{db}.{pipeline.CUMULATIVE_TABLE}")
    day = cum.where(F.col("date") == "2024-01-02").collect()
    assert len(day) == 5
    # first day in history: frame is 1 row, stddev NULL -> COALESCE 0
    for r in day:
        assert len(r.last_7_days_close) == 1
        assert float(r.volatility_7_day) == 0.0
    # staging dropped after promotion
    assert not spark.catalog.tableExists(pipeline.staging_table_name("2024-01-02", db))


def test_rerun_same_ds_is_idempotent(spark, db):
    pipeline.run_for_date(spark, "2024-01-02", db=db)
    first = spark.table(f"{db}.{pipeline.PROD_TABLE}").drop(
        "insertion_timestamp"
    ).collect()
    pipeline.run_for_date(spark, "2024-01-02", db=db)
    second = spark.table(f"{db}.{pipeline.PROD_TABLE}").drop(
        "insertion_timestamp"
    ).collect()
    assert sorted(map(tuple, first)) == sorted(map(tuple, second))


def test_backfill_accumulates_rolling_frames(spark, db):
    days = pipeline.backfill(spark, "2024-01-01", "2024-01-03", db=db)
    assert days == ["2024-01-01", "2024-01-02", "2024-01-03"]
    cum = spark.table(f"{db}.{pipeline.CUMULATIVE_TABLE}")
    sizes = {
        r.date.isoformat(): r.n
        for r in cum.groupBy("date")
        .agg(F.max(F.size("last_7_days_close")).alias("n"))
        .collect()
    }
    # frame grows one row per processed day (shrunk-frame semantics)
    assert sizes == {"2024-01-01": 1, "2024-01-02": 2, "2024-01-03": 3}
    # day-3 volatility over >1 row is positive
    d3 = cum.where(F.col("date") == "2024-01-03").collect()
    assert all(float(r.volatility_7_day) > 0 for r in d3)


def test_failing_ticker_swallowed_and_dq_fails_softly(spark, db):
    client = DeterministicBarClient(fail_tickers=frozenset({"AAPL"}))
    checks = pipeline.run_for_date(spark, "2024-03-05", client=client, db=db)
    by_name = {r.check_name: r for r in checks.collect()}
    missing = by_name["Missing stocks check"]
    assert missing.status == "FAIL" and missing.actual_count == 4
    # non-strict: promotion still happened (reference prints, never gates)
    assert spark.table(f"{db}.{pipeline.PROD_TABLE}").count() == 4


def test_strict_dq_raises(spark, db):
    from airflow_iceberg_pipeline_stock_tracker_spark.operators.dq import DQCheckError

    client = DeterministicBarClient(fail_tickers=frozenset({"META"}))
    with pytest.raises(DQCheckError):
        pipeline.run_for_date(spark, "2024-03-06", client=client, db=db, strict_dq=True)


def test_schema_evolution_add_column(spark, db):
    """ALTER TABLE ADD COLUMNS on the prod table: rows written before the
    evolution read the new column as NULL; rows written after carry it.
    Same DDL evolves Iceberg metadata when that runtime is active."""
    pipeline.run_for_date(spark, "2024-01-02", db=db)
    pipeline.evolve_add_columns(
        spark, pipeline.PROD_TABLE, "source_feed STRING", db=db
    )
    prod = f"{db}.{pipeline.PROD_TABLE}"
    assert "source_feed" in spark.table(prod).columns
    # pre-evolution rows surface NULL for the new column
    assert spark.table(prod).where("source_feed IS NULL").count() == 5
    # post-evolution writes carry the new column
    spark.sql(
        f"INSERT INTO {prod} "
        f"SELECT ticker, open, high, low, close, volume, vwap, transactions, "
        f"insertion_timestamp, 'polygon' AS source_feed, DATE '2024-01-03' AS date "
        f"FROM {prod} WHERE date = DATE '2024-01-02'"
    )
    evolved = spark.table(prod).where("date = DATE '2024-01-03'").collect()
    assert len(evolved) == 5
    assert all(r.source_feed == "polygon" for r in evolved)


def test_old_writer_survives_evolution_via_null_padding(spark, db):
    """The additive-evolution guarantee: a writer built against the
    pre-evolution schema keeps working after ADD COLUMNS — `_insert`
    pads missing nullable columns with typed NULLs."""
    pipeline.run_for_date(spark, "2024-01-01", db=db)
    pipeline.evolve_add_columns(
        spark, pipeline.PROD_TABLE, "source STRING", db=db
    )
    # the UNCHANGED pipeline writer (no knowledge of `source`) runs again
    pipeline.run_for_date(spark, "2024-01-02", db=db)
    prod = spark.table(f"{db}.{pipeline.PROD_TABLE}")
    assert prod.where("date = DATE '2024-01-02'").count() == 5
    assert prod.where("source IS NOT NULL").count() == 0


def test_crash_window_after_drop_before_create_recovers(spark, db):
    """The parquet fallback's CREATE OR REPLACE emulation (DROP+CREATE,
    pipeline.create_staging_table) has a non-atomic window where the
    staging table does not exist. A run killed inside that window leaves
    no staging table; a plain re-run must recover completely."""
    ds = "2024-01-02"
    pipeline.create_schema(spark, db)
    pipeline.create_staging_table(spark, ds, db)
    # simulate the crash: DROP committed, CREATE never ran
    spark.sql(f"DROP TABLE IF EXISTS {pipeline.staging_table_name(ds, db)}")
    checks = pipeline.run_for_date(spark, ds, db=db)
    assert all(r.status == "PASS" for r in checks.collect())
    prod = spark.table(f"{db}.{pipeline.PROD_TABLE}")
    assert prod.where(f"date = DATE '{ds}'").count() == 5


def test_crash_window_after_load_before_promote_recovers(spark, db):
    """Killed after staging is loaded but before promote: staging holds
    rows, prod does not. A re-run must NOT double-ingest (staging is
    recreated fresh) and must land exactly one bar per ticker in prod."""
    ds = "2024-01-02"
    pipeline.create_schema(spark, db)
    pipeline.create_staging_table(spark, ds, db)
    pipeline.create_prod_table(spark, db)
    pipeline.create_cumulative_table(spark, db)
    pipeline.load_to_staging(spark, ds, db=db)
    # crash here: staging loaded, nothing promoted. Re-run from the top.
    # create_staging_table's DROP+CREATE discards the orphaned load, so
    # the ingest is NOT doubled; the completed run then drops staging.
    pipeline.run_for_date(spark, ds, db=db)
    prod = spark.table(f"{db}.{pipeline.PROD_TABLE}")
    assert prod.where(f"date = DATE '{ds}'").count() == 5  # not 10
    # the completed recovery run cleaned its staging table up
    assert not spark.catalog.tableExists(pipeline.staging_table_name(ds, db))


def test_crash_window_after_promote_before_drop_recovers(spark, db):
    """Killed after promote but before drop_staging: a leftover staging
    table exists. The next run's DROP+CREATE clears it; the partition
    overwrite keeps prod at exactly one bar per ticker."""
    ds = "2024-01-02"
    pipeline.create_schema(spark, db)
    pipeline.create_staging_table(spark, ds, db)
    pipeline.create_prod_table(spark, db)
    pipeline.create_cumulative_table(spark, db)
    pipeline.load_to_staging(spark, ds, db=db)
    pipeline.promote(spark, ds, db)
    # crash here: staging leftover on disk. Re-run end-to-end:
    checks = pipeline.run_for_date(spark, ds, db=db)
    assert all(r.status == "PASS" for r in checks.collect())
    prod = spark.table(f"{db}.{pipeline.PROD_TABLE}")
    assert prod.where(f"date = DATE '{ds}'").count() == 5
    cum = spark.table(f"{db}.{pipeline.CUMULATIVE_TABLE}")
    assert cum.where(f"date = DATE '{ds}'").count() == 5


def test_run_evolution_demo_surface(spark, db):
    """End-to-end evolution demo: 15 rows (5 tickers x 3 days), source
    NULL before the boundary, 'polygon' after, DECIMALs cast double."""
    out = pipeline.run_evolution_demo(spark, db=db)
    rows = out.collect()
    assert len(rows) == 15
    by_src = {(r.date.isoformat(), r.source) for r in rows}
    assert ("2024-01-01", None) in by_src
    assert ("2024-01-02", None) in by_src
    assert ("2024-01-03", "polygon") in by_src
    assert ("2024-01-03", None) not in by_src
    assert dict(out.dtypes)["open"] == "double"
    assert dict(out.dtypes)["vwap"] == "double"


def test_insert_overwrite_partition_scoped_without_session_conf(spark, db):
    """The external correctness driver supplies its own session WITHOUT
    partitionOverwriteMode=dynamic (Spark's default is static). Under
    static mode, an INSERT OVERWRITE would truncate the WHOLE table —
    the r3 pipeline_micro_batch_parity HASHFAIL. pipeline._insert must
    save/set/restore the conf itself so a re-run of one day never
    deletes other days' partitions, under any caller's session."""
    key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, "static")
    try:
        pipeline.backfill(spark, "2024-01-01", "2024-01-02", db=db)
        prod = spark.table(f"{db}.{pipeline.PROD_TABLE}")
        assert prod.count() == 10
        # idempotent re-run of day 1 only; day 2 must survive
        pipeline.run_for_date(spark, "2024-01-01", db=db)
        dates = {r.date.isoformat() for r in prod.select("date").distinct().collect()}
        assert dates == {"2024-01-01", "2024-01-02"}
        assert prod.count() == 10
        # conf restored to what the caller had
        assert spark.conf.get(key) == "static"
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def test_micro_batch_parity_twice_same_session(spark, sf_dir):
    """The r3 driver sweep ran parity inside a long-lived session with
    driver-owned confs; run it twice in ONE session, with the conf the
    driver effectively has (static overwrite mode), and require the
    oracle row both times."""
    from airflow_iceberg_pipeline_stock_tracker_spark.plans.streaming_queries import (
        pipeline_micro_batch_parity,
    )

    key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, "static")
    try:
        for _ in range(2):
            row = pipeline_micro_batch_parity(spark, sf_dir).collect()[0]
            assert (row.n_only_batch, row.n_only_stream, row.n_rows) == (0, 0, 15), (
                row.keys_only_batch,
                row.keys_only_stream,
            )
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def test_clear_stale_location_resolves_catalog_qualified_name(tmp_path):
    stale = tmp_path / "pipetest.db" / "daily_stock_prices_stg_20240102"
    stale.mkdir(parents=True)
    spark = SimpleNamespace(
        conf=SimpleNamespace(get=lambda key, default=None: f"file:{tmp_path}")
    )
    pipeline._clear_stale_location(
        spark, "spark_catalog.PipeTest.daily_stock_prices_stg_20240102"
    )
    assert not stale.exists()
    assert (tmp_path / "pipetest.db").exists()


def test_clear_stale_location_leaves_remote_warehouse_alone(monkeypatch):
    removed = []
    monkeypatch.setattr(shutil, "rmtree", lambda *a, **kw: removed.append(a))
    spark = SimpleNamespace(
        conf=SimpleNamespace(get=lambda key, default=None: "hdfs://nn:8020/wh")
    )
    pipeline._clear_stale_location(spark, "pipetest.daily_stock_prices")
    assert removed == []


def test_warm_day_round_trips_do_not_grow_with_tickers(spark, count_round_trips):
    """A warm daily run's driver chatter is per job and per table, not
    per ticker (Column.isin over 500 tickers made a 500-ticker day cost
    about 2x a 5-ticker one)."""
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    trips = {}
    for n in (5, 500):
        db = f"pipetrips{n}"
        tickers = [f"T{i:03d}" for i in range(n)]
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
        shutil.rmtree(f"{wh}/{db}.db", ignore_errors=True)
        try:
            pipeline.run_for_date(spark, "2024-01-02", tickers=tickers, db=db)
            with count_round_trips() as t:
                pipeline.run_for_date(spark, "2024-01-03", tickers=tickers, db=db)
            trips[n] = t.count
        finally:
            spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
            shutil.rmtree(f"{wh}/{db}.db", ignore_errors=True)
    assert trips[500] <= 1.5 * trips[5], trips
