"""The daily pipeline as a Structured Streaming job.

Re-expresses the reference's scheduled batch DAG
(/root/reference/dags/dag.py:444-452) as `readStream` -> `foreachBatch`:
bar rows arrive as files, and each micro-batch runs the
validate -> promote -> cumulate sequence per date, ascending — the
streaming equivalent of `depends_on_past=True` (dag.py:289).

Design notes:
  * `foreachBatch` gets a plain batch DataFrame, so the sinks reuse the
    batch pipeline's atomic partition overwrites (pipeline._insert) —
    exactly-once per partition under retries because an overwrite of the
    same date is idempotent.
  * The stream runs on streaming/drain.py's `Trigger.AvailableNow`
    drain: it empties the source then stops, the daily-cron parity mode.
  * Dates inside one micro-batch are processed ascending so day D's
    7-day cumulate sees day D-1 already promoted, preserving the
    sequential-date contract with no scheduler.
  * DQ results are appended to a `dq_results` managed table instead of
    printed — a stream has no console to watch; the table is the
    monitoring surface (same print-don't-gate stance as the reference,
    dag.py:279).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import pipeline
from ..operators.dq import dq_checks
from ..schemas import REFERENCE_TICKERS, STOCK_PRICE_SCHEMA
from .drain import drain, file_stream

DQ_TABLE = "dq_results"


def _ensure_dq_table(spark: SparkSession, db: str) -> None:
    spark.sql(
        f"CREATE TABLE IF NOT EXISTS {db}.{DQ_TABLE} "
        "(check_name STRING, actual_count BIGINT, expected_count BIGINT, "
        f"status STRING, ds DATE) USING {pipeline._fmt(spark)}"
    )


def process_bars_batch(
    batch: DataFrame,
    batch_id: int,
    db: str = pipeline.DEFAULT_DB,
    tickers: list[str] | None = None,
) -> None:
    """One micro-batch: per date ascending, DQ -> promote -> cumulate."""
    spark = batch.sparkSession
    pipeline.create_schema(spark, db)
    pipeline.create_prod_table(spark, db)
    pipeline.create_cumulative_table(spark, db)
    _ensure_dq_table(spark, db)

    batch = batch.persist()  # reused once per date below
    try:
        dates = sorted(r.date for r in batch.select("date").distinct().collect())
        for day in dates:
            ds = day.isoformat()
            day_rows = batch.where(F.col("date") == F.lit(ds).cast("date"))
            checks = dq_checks(day_rows, ds, tickers or REFERENCE_TICKERS)
            pipeline._insert(
                checks.withColumn("ds", F.lit(ds).cast("date")),
                f"{db}.{DQ_TABLE}",
                overwrite=False,
            )
            pipeline._insert(day_rows, f"{db}.{pipeline.PROD_TABLE}", overwrite=True)
            pipeline.cumulate_day(spark, ds, db)
    finally:
        batch.unpersist()


def run_pipeline_stream(
    spark: SparkSession,
    bars_dir: str,
    checkpoint_dir: str,
    db: str = pipeline.DEFAULT_DB,
    tickers: list[str] | None = None,
    max_files_per_trigger: int | None = None,
) -> None:
    """Drain the staged bar files through the pipeline and stop.

    The checkpoint directory carries source offsets across restarts, so
    re-running after a crash reprocesses only unseen files; combined
    with idempotent partition overwrites this is end-to-end
    exactly-once into the prod/cumulative tables. AvailableNow honors
    ``max_files_per_trigger``, so a bounded backlog drains as a SEQUENCE
    of micro-batches — each batch's days still processed ascending, and
    days split across batches still compose because every batch reads
    the already-promoted history (depends_on_past across batches, not
    just within one).
    """
    drain(
        file_stream(spark, bars_dir, STOCK_PRICE_SCHEMA, max_files_per_trigger),
        checkpoint_dir,
        lambda b, i: process_bars_batch(b, i, db=db, tickers=tickers),
    )
