"""The one foreachBatch drain every streaming sink in the package runs on.

*Structured Streaming* (SIGMOD 2018) gives each sink the same parts: a
trigger, an offset checkpoint and a write per batch id that must be
idempotent. Here the trigger is always ``AvailableNow`` (drain what the
source holds, then stop: the daily-cron parity mode; a live deployment
would use a processing-time trigger and nothing else changes), the
checkpoint is the caller's directory, and the idempotent write is the
``handle(batch_df, batch_id)`` the caller passes. Sinks differ only in
that handler, so restart and replay behaviour can be tested at one seam.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from .. import pipeline

EVENTS_SCHEMA = (
    "event_id bigint, ts timestamp, user_id bigint, "
    "event_type string, value double, props string"
)

# Every stateful operator keeps one state-store instance per shuffle
# partition and every micro-batch commits every instance (per-instance
# file I/O), and the per-batch sketch/state folds pay per-partition task
# overhead on each shuffle, so an oversized count is pure overhead: 32
# state-store instances for a few thousand keys measured ~0.5 s/query
# slower than 8. Production sizing is the same decision in the other
# direction (more partitions for more state), and matters there because
# the count is frozen into the first checkpoint. Results do not depend
# on it (exact integer arithmetic everywhere on the oracle surface).
STATE_PARTITIONS = 8


@contextmanager
def state_partitions(spark: SparkSession) -> Iterator[None]:
    """Size the shuffle to the state, not the session default, for the
    block; the caller's session is not ours to reconfigure, so the prior
    value is restored on exit."""
    key = "spark.sql.shuffle.partitions"
    prior = spark.conf.get(key)
    spark.conf.set(key, str(STATE_PARTITIONS))
    try:
        yield
    finally:
        spark.conf.set(key, prior)


def file_stream(
    spark: SparkSession,
    path: str,
    schema: str | StructType = EVENTS_SCHEMA,
    max_files_per_trigger: int | None = 1,
) -> DataFrame:
    """Parquet file source over a landing directory.

    ``max_files_per_trigger`` bounds micro-batch size, the production
    backpressure knob: without it a backlog (or the first AvailableNow
    drain over months of files) lands as ONE batch sized by the backlog,
    not by the cluster. ``None`` reads everything in one batch.
    """
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


def drain(
    stream_df: DataFrame,
    checkpoint_dir: str,
    handle: Callable[[DataFrame, int], None],
) -> None:
    """Run ``handle`` on every pending micro-batch (AvailableNow) and
    block until the query stops. The checkpoint carries source offsets
    across restarts, so a second call on the same checkpoint processes
    only files it has not seen."""
    q = (
        stream_df.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def ensure_table(
    spark: SparkSession, db: str, table: str, cols: str, partition_by: str
) -> None:
    """Create ``db`` and the partitioned state table if missing."""
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {db}")
    spark.sql(
        f"CREATE TABLE IF NOT EXISTS {db}.{table} ({cols}) "
        f"USING {pipeline._fmt(spark)} PARTITIONED BY ({partition_by})"
    )
