"""End-to-end daily pipeline driver — the reference DAG, re-expressed.

Reference task chain (``/root/reference/dags/dag.py:444-452``; trace in
SURVEY §3.4)::

  create_schema ─► {staging, prod, cumulative DDL} ─► load_to_staging
    ─► run_dq_check ─► clear ─► promote ─► {drop_staging,
    clear_cumulative ─► cumulate}

Spark-native re-expression:
  * No Airflow / no remote warehouse: one driver function per task, one
    ``run_for_date(spark, ds)`` chaining them, and an ordered
    ``backfill`` loop replacing ``depends_on_past=True`` +
    ``max_active_runs=1`` (dag.py:54,289,364,383).
  * The reference's DELETE-then-INSERT idempotency pair (dag.py:294+308,
    369+385) is fused into ONE atomic partition-scoped write:
    ``INSERT OVERWRITE`` under dynamic partition-overwrite mode touches
    only the ds partition. Same semantics, one commit instead of two,
    no window where the partition is empty.
  * Ingestion is one batched append (sources/stock_api.py), not a
    row-at-a-time INSERT per API object (dag.py:88-107 anti-pattern).
  * DQ checks print PASS/FAIL and do NOT gate promotion by default,
    matching dag.py:31-34,279; ``strict_dq=True`` opts into raising.

Table format: Iceberg DDL when the runtime jar is present
(session.ICEBERG_AVAILABLE), else parquet-backed managed tables — both
``PARTITIONED BY (date)`` so every read/write prunes to one partition.

Scale: per-day work is O(|tickers|) rows ingested and an O(|tickers| x 7)
window (cumulate reads only the pruned 7-day slice of prod). History size
never enters any stage — at 100 TB of accumulated prod partitions a daily
run still touches 8 date partitions.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators.cumulate import cumulate
from .operators.dq import dq_checks
from .schemas import (
    CUMULATIVE_SCHEMA,
    DEC_AVG_VOL,
    DEC_VOLATILITY,
    REFERENCE_TICKERS,
    STOCK_PRICE_SCHEMA,
)
from .sources import snapshots
from .sources.stock_api import BarClient, DeterministicBarClient, bars_to_df, fetch_bars
from .sources.tables import local_df

DEFAULT_DB = "jakebuto"  # the reference's schema/namespace (dag.py:14,119)
PROD_TABLE = "daily_stock_prices"
CUMULATIVE_TABLE = "daily_stock_prices_cumulative"


def _ddl_cols(schema) -> str:
    return ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in schema.fields)


def _fmt(spark: SparkSession) -> str:
    from . import session

    return "iceberg" if session.ICEBERG_AVAILABLE else "parquet"


def _insert(df: DataFrame, name: str, overwrite: bool) -> None:
    """Positional ``insertInto`` with columns aligned to the target table.

    Partitioned tables store partition columns LAST in their logical
    schema; writing by name-order would silently misalign, so reorder
    explicitly. With ``partitionOverwriteMode=dynamic`` (session.py) an
    overwrite touches only the partitions present in ``df`` — the
    reference's DELETE+INSERT pair as one atomic commit.
    """
    spark = df.sparkSession
    target = spark.table(name)
    target_cols = target.columns
    # Additive schema evolution compat: a writer built against the
    # pre-evolution schema keeps working after ALTER TABLE ADD COLUMNS —
    # missing nullable columns are padded with typed NULLs, exactly what
    # Iceberg's positional evolution semantics give an old writer. A
    # missing NON-nullable column still fails (as it must).
    for f in target.schema.fields:
        if f.name not in df.columns and f.nullable:
            df = df.withColumn(f.name, F.lit(None).cast(f.dataType))
    # The overwrite path is only partition-scoped under dynamic
    # partition-overwrite mode. session.get_spark sets it globally, but
    # the pipeline must be correct under ANY caller's session (the
    # external correctness driver supplies its own): under the default
    # "static" mode an INSERT OVERWRITE would truncate the whole table.
    # Save/set/restore around the write, same pattern as
    # streaming/drain.state_partitions uses for shuffle.partitions.
    conf_key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(conf_key, None)
    if overwrite:
        spark.conf.set(conf_key, "dynamic")
    try:
        df.select(*target_cols).write.mode(
            "overwrite" if overwrite else "append"
        ).insertInto(name, overwrite=overwrite)
    finally:
        if overwrite:
            if prev is None:
                spark.conf.unset(conf_key)
            else:
                spark.conf.set(conf_key, prev)


def create_schema(spark: SparkSession, db: str = DEFAULT_DB) -> None:
    """S3 (dag.py:115-122): CREATE SCHEMA IF NOT EXISTS."""
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {db}")


def create_prod_table(spark: SparkSession, db: str = DEFAULT_DB) -> None:
    """S4 (dag.py:126-151): 10-col fact table, identity-partitioned on date.

    Partition-on-date is the load-bearing physical choice: every
    pipeline read/write below is scoped to one date, so scans prune to
    one partition no matter how much history accumulates.
    """
    spark.sql(
        f"CREATE TABLE IF NOT EXISTS {db}.{PROD_TABLE} "
        f"({_ddl_cols(STOCK_PRICE_SCHEMA)}) USING {_fmt(spark)} "
        f"PARTITIONED BY (date) "
        f"COMMENT 'Production table for MAANG stock prices'"
    )


def create_cumulative_table(spark: SparkSession, db: str = DEFAULT_DB) -> None:
    """S6 (dag.py:332-358): rolling-arrays table, partitioned on date."""
    spark.sql(
        f"CREATE TABLE IF NOT EXISTS {db}.{CUMULATIVE_TABLE} "
        f"({_ddl_cols(CUMULATIVE_SCHEMA)}) USING {_fmt(spark)} "
        f"PARTITIONED BY (date) "
        f"COMMENT '7-day rolling window metrics for MAANG stocks'"
    )


def staging_table_name(ds: str, db: str = DEFAULT_DB) -> str:
    """Per-run staging name ``..._stg_{ds_nodash}`` (dag.py:63)."""
    return f"{db}.daily_stock_prices_stg_{ds.replace('-', '')}"


def create_staging_table(spark: SparkSession, ds: str, db: str = DEFAULT_DB) -> str:
    """S5 (dag.py:154-179): CREATE OR REPLACE, same cols, unpartitioned.

    Atomic REPLACE TABLE needs a v2 catalog (Iceberg); the parquet
    fallback emulates it with DROP + CREATE.
    """
    name = staging_table_name(ds, db)
    fmt = _fmt(spark)
    ddl = (
        f"TABLE {name} ({_ddl_cols(STOCK_PRICE_SCHEMA)}) USING {fmt} "
        f"COMMENT 'Staging table for {ds} - will be dropped after load'"
    )
    if fmt == "iceberg":
        spark.sql(f"CREATE OR REPLACE {ddl}")
    else:
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        _clear_stale_location(spark, name)
        spark.sql(f"CREATE {ddl}")
    return name


def _clear_stale_location(spark: SparkSession, name: str) -> None:
    """Remove a stale managed-table directory left by an interrupted run.

    With a fresh derby catalog the DROP above is a no-op, but the on-disk
    ``<warehouse>/<db>.db/<table>`` directory survives and the CREATE
    fails with LOCATION_ALREADY_EXISTS. Only reached when the table is
    already absent from the catalog (the DROP just ran), so removing the
    orphaned directory can never delete live data.

    ``name`` may be ``table``, ``db.table`` or ``catalog.db.table``; the
    directory depends on the last two parts only. Only a local warehouse
    (a ``file:`` URI or a plain path) is cleared; any other filesystem is
    left alone.
    """
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse"))
    if wh.scheme not in ("", "file"):
        return
    *db, table = name.lower().split(".")[-2:]
    path = os.path.join(wh.path, *(f"{d}.db" for d in db), table)
    shutil.rmtree(path, ignore_errors=True)


def load_to_staging(
    spark: SparkSession,
    ds: str,
    client: BarClient | None = None,
    tickers: list[str] | None = None,
    db: str = DEFAULT_DB,
) -> str:
    """S1+S7 (dag.py:68-112): fetch bars, ONE batched append to staging."""
    bars = fetch_bars(client or DeterministicBarClient(), ds, tickers)
    df = bars_to_df(spark, bars)
    name = staging_table_name(ds, db)
    _insert(df, name, overwrite=False)
    return name


def run_dq_check(
    spark: SparkSession,
    ds: str,
    tickers: list[str] | None = None,
    db: str = DEFAULT_DB,
    strict: bool = False,
) -> DataFrame:
    """§2.10: six checks over staging; print rows like the reference does
    (dag.py:31-34 fetch=True), gate only when strict."""
    stg = spark.table(staging_table_name(ds, db))
    checks = dq_checks(stg, ds, tickers or REFERENCE_TICKERS, strict=strict)
    for row in checks.collect():
        print(tuple(row))
    return checks


def promote(spark: SparkSession, ds: str, db: str = DEFAULT_DB) -> None:
    """S8+S10 fused (dag.py:294 DELETE + 308 INSERT..SELECT): one atomic
    partition-scoped overwrite of prod from staging."""
    stg = spark.table(staging_table_name(ds, db)).where(
        F.col("date") == F.lit(ds).cast("date")
    )
    _insert(stg, f"{db}.{PROD_TABLE}", overwrite=True)


def drop_staging(spark: SparkSession, ds: str, db: str = DEFAULT_DB) -> None:
    """S11 (dag.py:318-329)."""
    spark.sql(f"DROP TABLE IF EXISTS {staging_table_name(ds, db)}")


def cumulate_day(spark: SparkSession, ds: str, db: str = DEFAULT_DB) -> None:
    """S9 fused with its clear (dag.py:369 DELETE + 385-437 INSERT..CTE).

    Reads the pruned (ds-7, ds] slice of prod, computes the rolling
    window (operators/cumulate.py), casts to the reference's DECIMAL
    output types (dag.py:342-348), and atomically overwrites the ds
    partition of the cumulative table.
    """
    prod = spark.table(f"{db}.{PROD_TABLE}")
    out = cumulate(prod, ds=ds)
    dec = out.select(
        "ticker",
        "date",
        "last_7_days_open",
        "last_7_days_high",
        "last_7_days_low",
        "last_7_days_close",
        "last_7_days_volume",
        F.col("avg_7_day_volume").cast(DEC_AVG_VOL).alias("avg_7_day_volume"),
        F.col("volatility_7_day").cast(DEC_VOLATILITY).alias("volatility_7_day"),
        F.current_timestamp().alias("updated_at"),
    )
    _insert(dec, f"{db}.{CUMULATIVE_TABLE}", overwrite=True)


def evolve_add_columns(
    spark: SparkSession, table: str, col_ddl: str, db: str = DEFAULT_DB
) -> None:
    """Schema evolution: add nullable columns to an existing table.

    The reference README claims Iceberg schema evolution; the identical
    ``ALTER TABLE .. ADD COLUMNS`` DDL works on BOTH formats here —
    Iceberg evolves metadata transactionally, and Spark's parquet
    managed tables merge the catalog schema over old files (rows written
    before the change read the new columns as NULL). Only additive,
    nullable evolution is offered: renames/drops on raw parquet would
    corrupt positional readers, so the fallback deliberately does not
    expose them.
    """
    spark.sql(f"ALTER TABLE {db}.{table} ADD COLUMNS ({col_ddl})")


def run_for_date(
    spark: SparkSession,
    ds: str,
    client: BarClient | None = None,
    tickers: list[str] | None = None,
    db: str = DEFAULT_DB,
    strict_dq: bool = False,
) -> DataFrame:
    """One daily run, tasks in the reference's order (dag.py:444-452).

    Returns the DQ-checks DataFrame (the reference's only observable
    output besides the tables themselves). Re-running the same ds is
    idempotent: both sinks are partition-overwrites.
    """
    create_schema(spark, db)
    create_staging_table(spark, ds, db)
    create_prod_table(spark, db)
    create_cumulative_table(spark, db)
    load_to_staging(spark, ds, client, tickers, db)
    checks = run_dq_check(spark, ds, tickers, db, strict=strict_dq)
    promote(spark, ds, db)
    drop_staging(spark, ds, db)
    cumulate_day(spark, ds, db)
    return checks


def _hex_int_sql(expr: str, start: int, n: int) -> str:
    """Big-endian integer of ``n`` hex chars of ``expr`` from 1-based
    ``start`` — int.from_bytes over a sha256 hexdigest slice, in SQL.
    Every term is < 2^32 so the double arithmetic is exact."""
    terms = " + ".join(
        f"(strpos('0123456789abcdef', substr({expr}, {start + i}, 1)) - 1)"
        f" * {16 ** (n - 1 - i)}"
        for i in range(n)
    )
    return f"CAST({terms} AS BIGINT)"


def _bars_cte_sql(dates: list[str], tickers: list[str] | None = None) -> str:
    """Shared CTE chain ``gen -> h -> nums -> base -> bars`` regenerating
    DeterministicBarClient's bars in SQL: sha256 + hex-slice arithmetic
    bit-equal to ``int.from_bytes`` (sources/stock_api.py:64-83), then
    the same DECIMAL(10,2) coercions as bars_to_df. ``bars`` carries the
    full staging surface (OHLC, volume, vwap, transactions)."""
    tk = tickers or REFERENCE_TICKERS
    tk_values = ", ".join(f"('{t}')" for t in tk)
    ds_values = ", ".join(f"('{d}')" for d in dates)
    return f"""
WITH gen AS (
  SELECT t.ticker, d.ds
  FROM (VALUES {tk_values}) t(ticker), (VALUES {ds_values}) d(ds)
),
h AS (
  SELECT ticker, CAST(ds AS DATE) AS date, sha256(ticker || '|' || ds) AS hx
  FROM gen
),
nums AS (
  SELECT ticker, date,
         {_hex_int_sql('hx', 1, 8)} AS n1,
         {_hex_int_sql('hx', 9, 4)} AS n2,
         {_hex_int_sql('hx', 13, 6)} AS n3,
         {_hex_int_sql('hx', 19, 4)} AS n4
  FROM h
),
base AS (
  SELECT ticker, date,
         50.0 + (n1 % 45000) / 100.0 AS b,
         1.0 + (n2 % 900) / 100.0 AS s,
         CAST(1000000 + (n3 % 9000000) AS BIGINT) AS volume,
         CAST(10000 + (n4 % 90000) AS INT) AS transactions
  FROM nums
),
bars AS (
  SELECT ticker, date,
         CAST(ROUND(b + s * 0.25, 4) AS DECIMAL(10,2)) AS open,
         CAST(ROUND(b + s, 4) AS DECIMAL(10,2)) AS high,
         CAST(ROUND(b, 4) AS DECIMAL(10,2)) AS low,
         CAST(ROUND(b + s * 0.5, 4) AS DECIMAL(10,2)) AS close,
         volume,
         CAST(ROUND(b + s * 0.4, 4) AS DECIMAL(10,2)) AS vwap,
         transactions
  FROM base
)"""


def backfill_oracle_sql(
    dates: list[str], tickers: list[str] | None = None
) -> str:
    """DuckDB twin of a full ``backfill`` run's cumulative table
    (exploded to the flat driver surface, updated_at excluded).

    The ingested bars come from DeterministicBarClient — a pure function
    of (ticker, ds) through sha256 (sources/stock_api.py:64-83) — so the
    whole ingest -> DECIMAL coercion -> promote -> cumulate chain is
    reproducible as one SQL statement: regenerate the bars, apply the
    same HALF_UP DECIMAL(10,2) casts as bars_to_df, then window exactly
    like operators/cumulate.py. Because the backfill processes dates
    ascending and day D's partition sees all days <= D, the per-day
    partition overwrites compose to one window over the full range.
    The final SELECT casts every DECIMAL to DOUBLE — the driver's pandas
    canon renders DuckDB DECIMAL as float64 but Spark DECIMAL as object
    Decimal, so the checked surface is double on both engines while the
    managed tables keep the reference DECIMAL schema.
    """
    return _bars_cte_sql(dates, tickers) + """,
windowed AS (
  SELECT ticker, date,
         list(open)  OVER w AS last_7_days_open,
         list(high)  OVER w AS last_7_days_high,
         list(low)   OVER w AS last_7_days_low,
         list(close) OVER w AS last_7_days_close,
         list(volume) OVER w AS last_7_days_volume,
         CAST(ROUND(AVG(volume) OVER w, 2) AS DECIMAL(15,2))
           AS avg_7_day_volume,
         CAST(ROUND(COALESCE(STDDEV_SAMP(close) OVER w, 0), 4)
              AS DECIMAL(10,4)) AS volatility_7_day
  FROM bars
  WINDOW w AS (PARTITION BY ticker ORDER BY date
               ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
)
SELECT ticker, date,
       CAST(unnest(range(1, len(last_7_days_open) + 1)) AS INT) AS idx,
       CAST(unnest(last_7_days_open)  AS DOUBLE) AS open_i,
       CAST(unnest(last_7_days_high)  AS DOUBLE) AS high_i,
       CAST(unnest(last_7_days_low)   AS DOUBLE) AS low_i,
       CAST(unnest(last_7_days_close) AS DOUBLE) AS close_i,
       unnest(last_7_days_volume) AS volume_i,
       CAST(avg_7_day_volume AS DOUBLE) AS avg_7_day_volume,
       CAST(volatility_7_day AS DOUBLE) AS volatility_7_day
FROM windowed
"""


def backfill(
    spark: SparkSession,
    start_ds: str,
    end_ds: str,
    client: BarClient | None = None,
    tickers: list[str] | None = None,
    db: str = DEFAULT_DB,
) -> list[str]:
    """Ordered multi-date loop — ``depends_on_past`` + ``max_active_runs=1``
    as a plain sequential iteration (dag.py:54,289; README.md:133).

    Day D's cumulate reads days (D-7, D] from prod, so dates MUST be
    processed ascending; this loop is the whole of that contract.
    """
    start, end = dt.date.fromisoformat(start_ds), dt.date.fromisoformat(end_ds)
    done: list[str] = []
    day = start
    while day <= end:
        ds = day.isoformat()
        run_for_date(spark, ds, client, tickers, db)
        done.append(ds)
        day += dt.timedelta(days=1)
    return done


def _bars(spark: SparkSession, dates: list[str]) -> DataFrame:
    """The deterministic client's bars for ``dates`` as one frame, with
    the wall-clock ``insertion_timestamp`` dropped so the snapshot demos
    stay comparable with their oracles."""
    client = DeterministicBarClient()
    return bars_to_df(
        spark, [bar for ds in dates for bar in fetch_bars(client, ds)]
    ).drop("insertion_timestamp")


def _per_ticker(df: DataFrame, *aggs, **evidence) -> DataFrame:
    """Per-ticker ``n_rows`` and ``sum_volume`` (then ``aggs``) of
    ``df``, each ``evidence`` value appended as a literal column, ordered
    by ticker — the surface the snapshot demos return."""
    return (
        df.groupBy("ticker")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("volume").alias("sum_volume"),
            *aggs,
        )
        .select("*", *[F.lit(v).alias(k) for k, v in evidence.items()])
        .orderBy("ticker")
    )


def snapshot_time_travel_demo(spark: SparkSession, table_dir: str) -> DataFrame:
    """Time travel exercised end-to-end on the snapshot layer
    (sources/snapshots.py — the manifest-swap re-creation of the
    reference's Iceberg commit/time-travel semantics, dag.py:145).

    Commit v1 = bars for days 1-2 (overwrite), commit v2 = day 3
    appended (O(1) metadata, no rewrite), then read BOTH versions back
    through the manifest history and union them under a ``version``
    column: v1 must still show exactly the pre-append state after v2
    lands. Surface: (version, ticker, date, close double, volume).
    """
    shutil.rmtree(table_dir, ignore_errors=True)
    snapshots.commit(_bars(spark, EVOLUTION_DATES[:2]), table_dir, mode="overwrite")
    v2 = snapshots.commit(_bars(spark, EVOLUTION_DATES[2:]), table_dir, mode="append")
    assert snapshots.history(table_dir) == [1, 2] and v2 == 2
    out = None
    for ver in (1, 2):
        part = snapshots.read(spark, table_dir, version=ver).select(
            F.lit(ver).alias("version"),
            "ticker",
            "date",
            F.col("close").cast("double").alias("close"),
            "volume",
        )
        out = part if out is None else out.unionAll(part)
    return out


def snapshot_wap_demo(spark: SparkSession, table_dir: str) -> DataFrame:
    """Write-audit-publish exercised end-to-end on the snapshot layer's
    BRANCHES (sources/snapshots.py create_branch/fast_forward — the
    Iceberg WAP pattern, which is exactly the reference's staging->DQ->
    promote lifecycle, dag.py:146-203, restated as refs instead of a
    staging table):

      1. day-1 bars land on main;
      2. a candidate day-2 load — polluted with corrupted rows
         (negated volumes) — is committed to an ``audit`` BRANCH: main
         readers never see it;
      3. the DQ gate runs against the branch head; it fails, so the
         branch is dropped — publish never happens;
      4. the cleaned candidate commits to a fresh branch, audits clean,
         and ``fast_forward`` publishes it atomically to main.

    Surface: final main rows + the audit evidence (bad-row count the
    gate caught, and that the publish happened) — all deterministic
    from the bar client, so the oracle regenerates it closed-form.
    """
    shutil.rmtree(table_dir, ignore_errors=True)
    d1, d2 = (_bars(spark, [ds]) for ds in EVOLUTION_DATES[:2])
    snapshots.commit(d1, table_dir, mode="overwrite")

    corrupted = d2.withColumn("volume", -F.col("volume"))
    candidate = d2.unionAll(corrupted)
    snapshots.create_branch(table_dir, "audit")
    snapshots.commit(candidate, table_dir, mode="append", branch="audit")
    # the DQ gate (reference check 4: non-positive volume) runs on the
    # BRANCH head; main is still day-1 only
    staged = snapshots.read(spark, table_dir, ref="audit")
    first_audit_bad = staged.where(F.col("volume") <= 0).count()
    assert snapshots.read(spark, table_dir).count() == d1.count()
    if first_audit_bad:  # audit failed -> no publish, drop the branch
        snapshots.drop_branch(table_dir, "audit")

    snapshots.create_branch(table_dir, "audit")
    snapshots.commit(d2, table_dir, mode="append", branch="audit")
    clean = snapshots.read(spark, table_dir, ref="audit")
    second_audit_bad = clean.where(F.col("volume") <= 0).count()
    published = False
    if second_audit_bad == 0:
        snapshots.fast_forward(table_dir, "audit")
        published = True

    return (
        snapshots.read(spark, table_dir)
        .select(
            "ticker",
            "date",
            F.col("close").cast("double").alias("close"),
            "volume",
            F.lit(first_audit_bad).cast("bigint").alias("first_audit_bad_rows"),
            F.lit(published).alias("published"),
        )
        .orderBy("ticker", "date")
    )


def snapshot_wap_oracle_sql(tickers: list[str] | None = None) -> str:
    """DuckDB twin of :func:`snapshot_wap_demo`: the published main is
    days 1-2 exactly (the corrupted candidate never lands), the failed
    audit caught one bad row per corrupted day-2 bar."""
    return _bars_cte_sql(EVOLUTION_DATES[:2], tickers) + f"""
SELECT ticker, date,
       CAST(close AS DOUBLE) AS close, volume,
       (SELECT COUNT(*) FROM bars WHERE date = DATE '{EVOLUTION_DATES[1]}')
         AS first_audit_bad_rows,
       TRUE AS published
FROM bars
ORDER BY ticker, date
"""


MOR_DATES = ["2024-01-01", "2024-01-02", "2024-01-03", "2024-01-04"]


def snapshot_mor_demo(spark: SparkSession, table_dir: str) -> DataFrame:
    """Iceberg v2 merge-on-read row-level deletes exercised end-to-end
    on the snapshot layer (sources/snapshots.py delete_where /
    delete_matching / rewrite_data_files — the v2 half of the
    reference's ``USING ICEBERG`` choice, dag.py:145, which this
    sandbox cannot run natively):

      1. days 1-2 land (overwrite), day 3 appends — two data commits;
      2. ``delete_where("volume % 2 = 1")`` writes a POSITIONAL delete
         file: odd-volume bars vanish, zero data files rewritten;
      3. ``delete_matching(ticker='AAPL')`` writes an EQUALITY delete
         file: every remaining AAPL bar vanishes;
      4. day 4 appends — INCLUDING AAPL, which must survive the step-3
         delete because equality deletes are sequence-scoped to data
         committed before them (the Iceberg v2 contract);
      5. ``rewrite_data_files`` compacts; the read before and after
         must be row-identical (``compact_equal``).

    Surface: per-ticker (n_rows, sum_volume, min/max date) over the
    final table + the compaction-parity bit — all deterministic from
    the bar client, so the oracle regenerates it closed-form.
    """
    shutil.rmtree(table_dir, ignore_errors=True)
    snapshots.commit(_bars(spark, MOR_DATES[:2]), table_dir, mode="overwrite")
    snapshots.commit(_bars(spark, MOR_DATES[2:3]), table_dir, mode="append")
    snapshots.delete_where(spark, table_dir, "volume % 2 = 1")
    snapshots.delete_matching(
        spark, table_dir, local_df(spark, [("AAPL",)], "ticker string"),
        ["ticker"],
    )
    snapshots.commit(_bars(spark, MOR_DATES[3:]), table_dir, mode="append")

    pre = snapshots.read(spark, table_dir)
    snapshots.rewrite_data_files(spark, table_dir)
    post = snapshots.read(spark, table_dir)
    # one action for both multiset-diff directions (guide §1.2): the
    # union is empty iff both exceptAlls are — same boolean, one job
    # instead of two
    compact_equal = pre.exceptAll(post).unionAll(post.exceptAll(pre)).isEmpty()
    return _per_ticker(
        post,
        F.min("date").alias("min_date"),
        F.max("date").alias("max_date"),
        compact_equal=compact_equal,
    )


def snapshot_mor_oracle_sql(tickers: list[str] | None = None) -> str:
    """DuckDB twin of :func:`snapshot_mor_demo`: the final table is
    days 1-3 minus odd volumes minus AAPL, plus ALL of day 4 (the
    re-append lands after the equality delete's sequence number)."""
    return _bars_cte_sql(MOR_DATES, tickers) + f"""
SELECT ticker,
       COUNT(*) AS n_rows,
       CAST(SUM(volume) AS BIGINT) AS sum_volume,
       MIN(date) AS min_date,
       MAX(date) AS max_date,
       TRUE AS compact_equal
FROM bars
WHERE date = DATE '{MOR_DATES[3]}'
   OR (volume % 2 = 0 AND ticker <> 'AAPL')
GROUP BY ticker
ORDER BY ticker
"""


def snapshot_metadata_demo(spark: SparkSession, table_dir: str) -> DataFrame:
    """The ``$snapshots`` metadata relation exercised over a scripted
    five-commit history (sources/snapshots.py snapshots_metadata — the
    emulated twin of Iceberg's ``SELECT * FROM tbl$snapshots`` /
    ``$refs`` metadata tables, the introspection surface the
    reference's ``USING ICEBERG`` tables carry, dag.py:145):

      1. day-1 bars land (overwrite)            -> snap 1
      2. day-2 bars append                      -> snap 2
      3. positional delete of odd-volume bars   -> snap 3 (MoR)
      4. ``audit`` branch from snap 3; day-3 bars staged on it -> snap 4
      5. ``rewrite_data_files`` compacts main   -> snap 5 (replace)

    Every column of the relation — operation, branch, dir/delete-file
    counts, per-snapshot visible record_count, ref heads — is
    deterministic from the script and the bar client, so the oracle
    regenerates all five rows closed-form.
    """
    shutil.rmtree(table_dir, ignore_errors=True)
    d1, d2, d3 = (_bars(spark, [ds]) for ds in EVOLUTION_DATES)
    snapshots.commit(d1, table_dir, mode="overwrite")
    snapshots.commit(d2, table_dir, mode="append")
    snapshots.delete_where(spark, table_dir, "volume % 2 = 1")
    snapshots.create_branch(table_dir, "audit")
    snapshots.commit(d3, table_dir, mode="append", branch="audit")
    snapshots.rewrite_data_files(spark, table_dir)
    return snapshots.snapshots_metadata(spark, table_dir).orderBy("snapshot_id")


def snapshot_metadata_oracle_sql(tickers: list[str] | None = None) -> str:
    """DuckDB twin of :func:`snapshot_metadata_demo`: the five metadata
    rows written closed-form, with record counts recomputed from the
    regenerated bars (the positional delete removes odd volumes from
    days 1-2 only; the audit append sees them plus ALL of day 3; the
    compaction folds the delete file in at identical visible rows)."""
    d1, d2, d3 = EVOLUTION_DATES
    return _bars_cte_sql(EVOLUTION_DATES, tickers) + f"""
, n AS (
  SELECT
    (SELECT COUNT(*) FROM bars WHERE date = DATE '{d1}') AS n1,
    (SELECT COUNT(*) FROM bars WHERE date <= DATE '{d2}') AS n12,
    (SELECT COUNT(*) FROM bars
      WHERE date <= DATE '{d2}' AND volume % 2 = 0) AS n12_even,
    (SELECT COUNT(*) FROM bars
      WHERE (date <= DATE '{d2}' AND volume % 2 = 0)
         OR date = DATE '{d3}') AS n_audit
)
SELECT * FROM (
  SELECT CAST(1 AS BIGINT) AS snapshot_id, 'overwrite' AS operation,
         'main' AS branch, CAST(1 AS INTEGER) AS n_data_dirs,
         CAST(0 AS INTEGER) AS n_delete_files,
         CAST(n1 AS BIGINT) AS record_count,
         CAST(NULL AS VARCHAR) AS refs, FALSE AS is_current FROM n
  UNION ALL
  SELECT 2, 'append', 'main', 2, 0, n12, NULL, FALSE FROM n
  UNION ALL
  SELECT 3, 'delete', 'main', 2, 1, n12_even, NULL, FALSE FROM n
  UNION ALL
  SELECT 4, 'append', 'audit', 3, 1, n_audit, 'audit', FALSE FROM n
  UNION ALL
  SELECT 5, 'replace', 'main', 1, 0, n12_even, 'main', TRUE FROM n
)
ORDER BY snapshot_id
"""


def snapshot_pruned_scan_demo(spark: SparkSession, table_dir: str) -> DataFrame:
    """Manifest-stats scan planning exercised end-to-end
    (sources/snapshots.py read_pruned — Iceberg's metadata-based file
    skipping, the mechanism that makes a date-bounded query on the
    reference's date-partitioned tables, dag.py:129-148, cost the
    matching files instead of the table):

      1. three daily bar loads land as separate appends, each
         committing per-directory [min, max] date stats;
      2. ``delete_where`` hides odd-volume bars (MoR rides the pruned
         plan);
      3. a day-2 read plans ONE directory from the manifest — the other
         two never open — and must equal the full read filtered the
         ordinary way (``prune_parity``).

    Surface: per-ticker day-2 aggregates + the planner evidence
    (dirs_scanned / dirs_skipped / prune_parity), all deterministic.
    """
    shutil.rmtree(table_dir, ignore_errors=True)
    for i, ds in enumerate(EVOLUTION_DATES):
        snapshots.commit(
            _bars(spark, [ds]),
            table_dir,
            mode="overwrite" if i == 0 else "append",
            stats_cols=["date"],
        )
    snapshots.delete_where(spark, table_dir, "volume % 2 = 1")

    d2 = EVOLUTION_DATES[1]
    pruned, n_scan, n_skip = snapshots.read_pruned(
        spark, table_dir, "date", lo=d2, hi=d2
    )
    full = snapshots.read(spark, table_dir).where(F.col("date") == d2)
    # one action for both multiset-diff directions (guide §1.2)
    parity = pruned.exceptAll(full).unionAll(full.exceptAll(pruned)).isEmpty()
    return _per_ticker(
        pruned, dirs_scanned=n_scan, dirs_skipped=n_skip, prune_parity=parity
    )


def snapshot_pruned_scan_oracle_sql(tickers: list[str] | None = None) -> str:
    """DuckDB twin of :func:`snapshot_pruned_scan_demo`: day-2
    even-volume bars per ticker; the planner scanned exactly the day-2
    directory and skipped the other two."""
    return _bars_cte_sql(EVOLUTION_DATES, tickers) + f"""
SELECT ticker,
       COUNT(*) AS n_rows,
       CAST(SUM(volume) AS BIGINT) AS sum_volume,
       CAST(1 AS INTEGER) AS dirs_scanned,
       CAST(2 AS INTEGER) AS dirs_skipped,
       TRUE AS prune_parity
FROM bars
WHERE date = DATE '{EVOLUTION_DATES[1]}' AND volume % 2 = 0
GROUP BY ticker
ORDER BY ticker
"""


def snapshot_compaction_demo(spark: SparkSession, table_dir: str) -> DataFrame:
    """Binpack table maintenance exercised end-to-end
    (sources/snapshots.py compaction_plan + rewrite_dirs — Iceberg's
    ``rewrite_data_files(strategy => 'binpack')``: the small-files
    problem every daily-append table accumulates, fixed by metadata-
    planned bin rewrites, never a whole-table rewrite):

      1. three daily bar loads land as three small append commits with
         per-dir date stats;
      2. the planner packs all three under-target dirs into ONE bin
         from manifest metadata alone;
      3. ``rewrite_dirs`` folds the bin into a single dir — other dirs
         (none here) would stay untouched — with MERGED [min, max]
         stats, so bounded reads keep planning correctly;
      4. re-planning after the rewrite is EMPTY (the scheduled-job
         idempotence), and the compacted table must equal the flat
         recompute.

    Surface: per-ticker aggregates over the compacted table + the
    maintenance evidence (dirs before/after, bin count, replan count).
    """
    shutil.rmtree(table_dir, ignore_errors=True)
    for ds in EVOLUTION_DATES:
        snapshots.commit(
            _bars(spark, [ds]), table_dir, mode="append", stats_cols=["date"]
        )
    man = snapshots._load_manifest(table_dir)
    dirs_before = len(snapshots._head_snap(man, table_dir)["dirs"])
    plan = snapshots.compaction_plan(table_dir, target_bytes=1 << 30)
    n_bins = len(plan)
    for b in plan:
        snapshots.rewrite_dirs(spark, table_dir, b)
    man = snapshots._load_manifest(table_dir)
    dirs_after = len(snapshots._head_snap(man, table_dir)["dirs"])
    # re-plan with the SAME target as the original plan: the compacted
    # table is one under-target dir — a singleton leftover the planner
    # correctly leaves alone, so the empty re-plan proves idempotence
    # for the intended reason (a target_bytes no dir can undershoot
    # would make this assert vacuous)
    replan = len(snapshots.compaction_plan(table_dir, target_bytes=1 << 30))
    return _per_ticker(
        snapshots.read(spark, table_dir),
        dirs_before=dirs_before,
        dirs_after=dirs_after,
        n_bins=n_bins,
        replan_bins=replan,
    )


def snapshot_compaction_oracle_sql(tickers: list[str] | None = None) -> str:
    """DuckDB twin of :func:`snapshot_compaction_demo`: all three days'
    bars per ticker; three small dirs planned into one bin, folded to
    one dir, and the re-plan empty."""
    return _bars_cte_sql(EVOLUTION_DATES, tickers) + """
SELECT ticker,
       COUNT(*) AS n_rows,
       CAST(SUM(volume) AS BIGINT) AS sum_volume,
       CAST(3 AS INTEGER) AS dirs_before,
       CAST(1 AS INTEGER) AS dirs_after,
       CAST(1 AS INTEGER) AS n_bins,
       CAST(0 AS INTEGER) AS replan_bins
FROM bars
GROUP BY ticker
ORDER BY ticker
"""


def snapshot_rollback_demo(spark: SparkSession, table_dir: str) -> DataFrame:
    """ROLLBACK exercised end-to-end (sources/snapshots.py rollback_to —
    Iceberg's ``rollback_to_snapshot``: the fix-a-bad-load tool every
    daily pipeline eventually needs):

      1. two good daily loads commit (snapshots 1, 2);
      2. a BOTCHED third load lands (volumes doubled — snapshot 3);
      3. ``rollback_to(2)`` moves main back with NO new snapshot and NO
         data deletion (the bad commit stays in history, still readable
         via read(version=3) — verified in-query);
      4. the corrected day-3 load re-runs, building on the restored
         head (snapshot 4), and the final table must equal the flat
         3-day recompute — the doubled volumes must be GONE.

    Surface: per-ticker aggregates over the final table + the lifecycle
    evidence (bad head id, rollback target, final head id, history
    length — all deterministic) + ``bad_still_readable``, proof the
    rollback preserved the audit trail.
    """
    shutil.rmtree(table_dir, ignore_errors=True)
    days = [_bars(spark, [ds]) for ds in EVOLUTION_DATES]
    snapshots.commit(days[0], table_dir, mode="append")
    snapshots.commit(days[1], table_dir, mode="append")
    bad = days[2].withColumn("volume", F.col("volume") * 2)
    bad_head = snapshots.commit(bad, table_dir, mode="append")
    target = snapshots.rollback_to(table_dir, 2)
    final_head = snapshots.commit(days[2], table_dir, mode="append")
    # the abandoned commit remains readable history (audit trail):
    # same row count but STRICTLY MORE volume (the doubled day-3 bars)
    # — a reader silently served the current table would fail the
    # volume half of the check
    bad_n, bad_vol = (
        snapshots.read(spark, table_dir, version=bad_head)
        .agg(F.count(F.lit(1)), F.sum("volume"))
        .collect()[0]
    )
    good_n, good_vol = (
        snapshots.read(spark, table_dir)
        .agg(F.count(F.lit(1)), F.sum("volume"))
        .collect()[0]
    )
    return _per_ticker(
        snapshots.read(spark, table_dir),
        bad_head=bad_head,
        rolled_back_to=target,
        final_head=final_head,
        n_history=len(snapshots.history(table_dir)),
        bad_still_readable=bool(bad_n == good_n and bad_vol > good_vol),
    )


def snapshot_rollback_oracle_sql(tickers: list[str] | None = None) -> str:
    """DuckDB twin of :func:`snapshot_rollback_demo`: the final table is
    the flat 3-day recompute (no doubled volumes), with the lifecycle
    ids as literals (deterministic by construction)."""
    return _bars_cte_sql(EVOLUTION_DATES, tickers) + """
SELECT ticker,
       COUNT(*) AS n_rows,
       CAST(SUM(volume) AS BIGINT) AS sum_volume,
       CAST(3 AS INTEGER) AS bad_head,
       CAST(2 AS INTEGER) AS rolled_back_to,
       CAST(4 AS INTEGER) AS final_head,
       CAST(4 AS INTEGER) AS n_history,
       TRUE AS bad_still_readable
FROM bars
GROUP BY ticker
ORDER BY ticker
"""


# EVOLUTION_DATES (defined below) + one more day: four snapshots so
# keep_last=2 genuinely expires history
EXPIRE_DATES = ["2024-01-01", "2024-01-02", "2024-01-03", "2024-01-04"]


def snapshot_expire_demo(spark: SparkSession, table_dir: str) -> DataFrame:
    """SNAPSHOT EXPIRY exercised end-to-end (sources/snapshots.py
    vacuum — Iceberg's ``expire_snapshots`` + orphan-file cleanup, the
    retention job every production lakehouse schedules):

      1. days 1-2 land as appends (snapshots 1-2); day 3's load is a
         compacting OVERWRITE rewriting days 1-3 into one dir
         (snapshot 3 — an append-only history retains every dir
         forever, the Iceberg-correct no-op case this demo must NOT
         be); day 4 appends (snapshot 4);
      2. ``vacuum(keep_last=2)`` trims history to snapshots 3-4 and
         physically deletes the two pre-overwrite dirs ONLY the
         expired snapshots could reach (manifest CAS-published FIRST,
         so a crash can only orphan dirs, never dangle the manifest);
      3. the CURRENT table is untouched (equals the flat 4-day
         recompute — the oracle), the RETAINED older snapshot 3 still
         time-travels, an EXPIRED version raises the same
         not-in-history error as any unknown version, and every
         removed dir is gone from disk.

    Surface: per-ticker aggregates over the final table + the
    lifecycle evidence (history length before/after, dirs removed,
    expired-unreadable / retained-readable / orphans-deleted booleans
    — all deterministic).
    """
    shutil.rmtree(table_dir, ignore_errors=True)
    heads = [
        snapshots.commit(_bars(spark, EXPIRE_DATES[:1]), table_dir, mode="append"),
        snapshots.commit(_bars(spark, EXPIRE_DATES[1:2]), table_dir, mode="append"),
        # compacting rewrite of days 1-3: the retained history stops
        # referencing the two append dirs, making them expirable
        snapshots.commit(_bars(spark, EXPIRE_DATES[:3]), table_dir, mode="overwrite"),
        snapshots.commit(_bars(spark, EXPIRE_DATES[3:]), table_dir, mode="append"),
    ]
    n_before = len(snapshots.history(table_dir))
    removed = snapshots.vacuum(table_dir, keep_last=2)
    n_after = len(snapshots.history(table_dir))
    expired_unreadable = False
    try:
        snapshots.read(spark, table_dir, version=heads[0]).count()
    except Exception:
        expired_unreadable = True
    retained_readable = (
        snapshots.read(spark, table_dir, version=heads[2]).count() > 0
    )
    orphans_deleted = bool(removed) and all(
        not os.path.exists(os.path.join(table_dir, d)) for d in removed
    )
    return _per_ticker(
        snapshots.read(spark, table_dir),
        n_history_before=n_before,
        n_history_after=n_after,
        n_dirs_removed=len(removed),
        expired_unreadable=expired_unreadable,
        retained_readable=retained_readable,
        orphans_deleted=orphans_deleted,
    )


def snapshot_expire_oracle_sql(tickers: list[str] | None = None) -> str:
    """DuckDB twin of :func:`snapshot_expire_demo`: retention never
    changes the current table, so the oracle is the flat 4-day
    recompute with the lifecycle evidence as literals (the day-1 and
    day-2 append dirs are unreachable after the overwrite, so vacuum
    removes exactly 2)."""
    return _bars_cte_sql(EXPIRE_DATES, tickers) + """
SELECT ticker,
       COUNT(*) AS n_rows,
       CAST(SUM(volume) AS BIGINT) AS sum_volume,
       CAST(4 AS INTEGER) AS n_history_before,
       CAST(2 AS INTEGER) AS n_history_after,
       CAST(2 AS INTEGER) AS n_dirs_removed,
       TRUE AS expired_unreadable,
       TRUE AS retained_readable,
       TRUE AS orphans_deleted
FROM bars
GROUP BY ticker
ORDER BY ticker
"""


PARTITION_EVOLUTION_MONTH_DATES = ["2024-02-01", "2024-02-02"]


def snapshot_partition_evolution_demo(
    spark: SparkSession, table_dir: str
) -> DataFrame:
    """PARTITION EVOLUTION exercised end-to-end (sources/snapshots.py
    commit_partitioned — Iceberg's partition-spec evolution, the design
    rationale the reference's README names for choosing Iceberg,
    /root/reference/README.md:29): a table changes its physical layout
    mid-life WITHOUT rewriting old data, and reads spanning the
    boundary stay correct and prunable.

      1. January's daily bars land as ONE day-partitioned commit —
         three ``_sg_part=<day>`` dirs in a single atomic snapshot,
         each carrying exact [day, day] date bounds;
      2. the spec evolves: February's bars land as a MONTH-partitioned
         commit — one dir bounded [month-start, month-end]. Old day
         dirs and the new month dir now coexist under one manifest;
      3. a January day-bounded read plans 1 of 4 dirs, a February
         month-bounded read plans 1 of 4 — each dir pruned by its OWN
         bounds, spec-agnostically (hidden partitioning);
      4. the boundary-spanning full read must equal the flat recompute
         (the oracle regenerates every bar closed-form), and each
         pruned probe must equal the full read filtered the ordinary
         way (``prune_parity``).

    Surface: per-ticker aggregates over the WHOLE evolved table + the
    planner evidence for both probes.
    """
    shutil.rmtree(table_dir, ignore_errors=True)
    snapshots.commit_partitioned(
        _bars(spark, EVOLUTION_DATES), table_dir, "date", "day"
    )
    snapshots.commit_partitioned(
        _bars(spark, PARTITION_EVOLUTION_MONTH_DATES), table_dir, "date", "month"
    )

    full = snapshots.read(spark, table_dir)
    d_jan = EVOLUTION_DATES[1]
    jan_pruned, jan_scan, jan_skip = snapshots.read_pruned(
        spark, table_dir, "date", lo=d_jan, hi=d_jan
    )
    feb_pruned, feb_scan, feb_skip = snapshots.read_pruned(
        spark, table_dir, "date", lo="2024-02-01", hi="2024-02-29"
    )
    jan_flat = full.where(F.col("date") == d_jan)
    feb_flat = full.where(
        (F.col("date") >= "2024-02-01") & (F.col("date") <= "2024-02-29")
    )
    # one action for all four multiset-diff directions (guide §1.2)
    parity = (
        jan_pruned.exceptAll(jan_flat)
        .unionAll(jan_flat.exceptAll(jan_pruned))
        .unionAll(feb_pruned.exceptAll(feb_flat))
        .unionAll(feb_flat.exceptAll(feb_pruned))
        .isEmpty()
    )
    return _per_ticker(
        full,
        day_dirs_scanned=jan_scan,
        day_dirs_skipped=jan_skip,
        month_dirs_scanned=feb_scan,
        month_dirs_skipped=feb_skip,
        prune_parity=parity,
    )


def snapshot_partition_evolution_oracle_sql(
    tickers: list[str] | None = None,
) -> str:
    """DuckDB twin of :func:`snapshot_partition_evolution_demo`: all
    five days' bars per ticker (both layouts), with the planner having
    scanned exactly one dir of four for each bounded probe."""
    return _bars_cte_sql(
        EVOLUTION_DATES + PARTITION_EVOLUTION_MONTH_DATES, tickers
    ) + """
SELECT ticker,
       COUNT(*) AS n_rows,
       CAST(SUM(volume) AS BIGINT) AS sum_volume,
       CAST(1 AS INTEGER) AS day_dirs_scanned,
       CAST(3 AS INTEGER) AS day_dirs_skipped,
       CAST(1 AS INTEGER) AS month_dirs_scanned,
       CAST(3 AS INTEGER) AS month_dirs_skipped,
       TRUE AS prune_parity
FROM bars
GROUP BY ticker
ORDER BY ticker
"""


def snapshot_oracle_sql(tickers: list[str] | None = None) -> str:
    """DuckDB twin of :func:`snapshot_time_travel_demo`: v1 sees days
    1-2, v2 sees all three — regenerated from the deterministic bars."""
    return _bars_cte_sql(EVOLUTION_DATES, tickers) + f"""
SELECT v.version, ticker, date,
       CAST(close AS DOUBLE) AS close, volume
FROM bars, (VALUES (1), (2)) v(version)
WHERE v.version = 2 OR date < DATE '{EVOLUTION_DATES[2]}'
"""


EVOLUTION_DATES = ["2024-01-01", "2024-01-02", "2024-01-03"]
EVOLUTION_COL = "source"


def run_evolution_demo(spark: SparkSession, db: str) -> DataFrame:
    """Schema evolution exercised END-TO-END across a read boundary.

    The reference's README names Iceberg schema evolution as a design
    rationale (reference README.md:29); this proves the fallback path
    delivers the same observable semantics:

      1. backfill days 1-2 with the original 10-col prod schema;
      2. ``ALTER TABLE .. ADD COLUMNS (source string)``;
      3. backfill day 3 through the UNCHANGED writer — `_insert` pads
         the new nullable column with a typed NULL, the old-writer
         guarantee additive evolution promises;
      4. a new-writer pass overwrites only day 3's partition tagging
         ``source='polygon'``;
      5. read the whole table across the boundary: day 1-2 files
         physically lack the column and surface NULL, day 3 carries the
         value.

    Returns the driver surface: full prod table, DECIMALs cast to
    double (driver canon), insertion_timestamp dropped (wall clock).
    """
    prod = f"{db}.{PROD_TABLE}"
    backfill(spark, EVOLUTION_DATES[0], EVOLUTION_DATES[1], db=db)
    evolve_add_columns(spark, PROD_TABLE, f"{EVOLUTION_COL} string", db=db)
    run_for_date(spark, EVOLUTION_DATES[2], db=db)  # old writer, NULL-padded
    d3 = spark.table(prod).where(
        F.col("date") == F.lit(EVOLUTION_DATES[2]).cast("date")
    )
    _insert(
        d3.withColumn(EVOLUTION_COL, F.lit("polygon")), prod, overwrite=True
    )
    out = spark.table(prod).drop("insertion_timestamp")
    return out.select(
        "ticker",
        "date",
        F.col("open").cast("double").alias("open"),
        F.col("high").cast("double").alias("high"),
        F.col("low").cast("double").alias("low"),
        F.col("close").cast("double").alias("close"),
        "volume",
        F.col("vwap").cast("double").alias("vwap"),
        "transactions",
        EVOLUTION_COL,
    )


def evolution_oracle_sql(tickers: list[str] | None = None) -> str:
    """DuckDB twin of :func:`run_evolution_demo`'s returned surface."""
    return _bars_cte_sql(EVOLUTION_DATES, tickers) + f"""
SELECT ticker, date,
       CAST(open AS DOUBLE) AS open,
       CAST(high AS DOUBLE) AS high,
       CAST(low AS DOUBLE) AS low,
       CAST(close AS DOUBLE) AS close,
       volume,
       CAST(vwap AS DOUBLE) AS vwap,
       transactions,
       CASE WHEN date = DATE '{EVOLUTION_DATES[2]}' THEN 'polygon' END
         AS source
FROM bars
"""


def snapshot_incremental_demo(spark: SparkSession, table_dir: str) -> DataFrame:
    """Incremental view maintenance over the snapshot layer — Iceberg's
    incremental append scan exercised end-to-end: three daily APPEND
    commits, and after each one the consumer reads ONLY that commit's
    delta (``snapshots.read_incremental``) and folds it into a running
    per-ticker aggregate. The returned frame is the maintained aggregate
    itself — its oracle recomputes the same totals from the regenerated
    bars, so a hash match proves the increments were exactly the
    appended rows (no loss, no double-count).

    Surface: (ticker, n_commits, n_days, total_volume, total_close_cents)
    — all exact integers.
    """
    shutil.rmtree(table_dir, ignore_errors=True)
    total: DataFrame | None = None
    prev_v = 0
    for ds in EVOLUTION_DATES:
        v = snapshots.commit(_bars(spark, [ds]), table_dir, mode="append")
        delta = snapshots.read_incremental(
            spark, table_dir, after_version=prev_v
        )
        day_agg = delta.groupBy("ticker").agg(
            F.count(F.lit(1)).alias("n_days"),
            F.sum("volume").alias("total_volume"),
            F.sum(F.round(F.col("close") * 100).cast("bigint")).alias(
                "total_close_cents"
            ),
        )
        if total is None:
            total = day_agg
        else:
            total = (
                total.unionByName(day_agg)
                .groupBy("ticker")
                .agg(
                    F.sum("n_days").alias("n_days"),
                    F.sum("total_volume").alias("total_volume"),
                    F.sum("total_close_cents").alias("total_close_cents"),
                )
            )
        # the maintained state materializes once per commit — the whole
        # point: per-step cost is O(delta), never O(table)
        total = total.localCheckpoint(eager=True)
        prev_v = v
    n_commits = len(snapshots.history(table_dir))
    return total.select(
        "ticker",
        F.lit(n_commits).cast("int").alias("n_commits"),
        F.col("n_days").cast("bigint").alias("n_days"),
        F.col("total_volume").cast("bigint").alias("total_volume"),
        F.col("total_close_cents").cast("bigint").alias("total_close_cents"),
    ).orderBy("ticker")


def snapshot_incremental_oracle_sql(tickers: list[str] | None = None) -> str:
    """DuckDB twin: the same totals from the regenerated bars."""
    return _bars_cte_sql(EVOLUTION_DATES, tickers) + """
SELECT ticker,
       3 AS n_commits,
       CAST(COUNT(*) AS BIGINT) AS n_days,
       CAST(SUM(volume) AS BIGINT) AS total_volume,
       CAST(SUM(CAST(ROUND(close * 100) AS BIGINT)) AS BIGINT)
         AS total_close_cents
FROM bars
GROUP BY ticker
ORDER BY ticker
"""
