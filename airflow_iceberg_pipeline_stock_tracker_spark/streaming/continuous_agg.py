"""Continuous-aggregate maintenance: incremental OHLC bars via a
mergeable partial-state table.

The batch operator (operators/analytics.ohlc_bars) recomputes bars from
raw events; at 100 TB a dashboard cannot re-scan history per refresh.
The streaming answer (TimescaleDB continuous aggregates / materialized
view maintenance) is to persist the bar's PARTIAL AGGREGATE STATE —
struct-packed first/last carriers, min/max, sums, counts, every one of
them associative and commutative — and fold each micro-batch's partials
into the stored ones, touching only the date partitions the batch
actually contains. A view renders final bars from state; the raw events
are never re-read.

Exactly-once under REPLAY, not just re-drain: foreachBatch sinks sit in
an at-least-once window — the state write can commit while the
checkpoint offset commit is lost (crash between the two), after which
Spark re-delivers the same batch_id. A plain fold into stored state
would double-count it. So state rows carry the `src_batch` that
produced them, and each batch's write EXCLUDES any stored rows already
tagged with its own batch_id (the replay guard): re-delivering batch b
reconstructs exactly pre-b state plus b's partials — the write is a
converging function of (stored \\ b, batch b), idempotent by
construction, which is the contract foreachBatch's batch_id parameter
exists for. Bars render by merging partials at read; `compact_state`
folds accumulated per-batch rows back to one row per key offline (the
TimescaleDB materialization/compression split).

Correctness is pinned by tests folding the same events in 1-file
micro-batches (bit-identical to the batch operator), re-delivering a
batch under the same batch_id (no double count), and compacting
(render-invariant).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import pipeline
from ..functions.money import cents, dollars
from .drain import drain, ensure_table, file_stream, state_partitions

BARS_TABLE = "ohlc_bars_state"

COMPACTED_BATCH = -1  # src_batch tag for offline-compacted baseline rows

_STATE_COLS = (
    "bar_start timestamp, event_type string, "
    "first_pack struct<ts:timestamp,event_id:bigint,v:bigint>, "
    "last_pack struct<ts:timestamp,event_id:bigint,v:bigint>, "
    "hi_cents bigint, lo_cents bigint, volume bigint, sum_cents bigint, "
    "src_batch bigint, date date"
)


def _partials(events: DataFrame) -> DataFrame:
    """Per-(hour, type) partial aggregate state for one slice of events."""
    pack = F.struct("ts", "event_id", cents("value").alias("v"))
    return events.groupBy(
        F.window("ts", "1 hour").start.alias("bar_start"), "event_type"
    ).agg(
        F.min(pack).alias("first_pack"),
        F.max(pack).alias("last_pack"),
        F.max(cents("value")).alias("hi_cents"),
        F.min(cents("value")).alias("lo_cents"),
        F.count(F.lit(1)).alias("volume"),
        F.sum(cents("value")).alias("sum_cents"),
    ).withColumn("date", F.to_date("bar_start"))


def _merge(state: DataFrame) -> DataFrame:
    """Fold partial rows (stored ++ new) — every aggregate associative."""
    return state.groupBy("bar_start", "event_type").agg(
        F.min("first_pack").alias("first_pack"),
        F.max("last_pack").alias("last_pack"),
        F.max("hi_cents").alias("hi_cents"),
        F.min("lo_cents").alias("lo_cents"),
        F.sum("volume").alias("volume"),
        F.sum("sum_cents").alias("sum_cents"),
    ).withColumn("date", F.to_date("bar_start"))


def ensure_state_table(spark: SparkSession, db: str) -> None:
    ensure_table(spark, db, BARS_TABLE, _STATE_COLS, "date")


def process_events_batch(batch: DataFrame, batch_id: int, db: str) -> None:
    spark = batch.sparkSession
    ensure_state_table(spark, db)
    # state volume is orders of magnitude below raw events, but every
    # micro-batch pays per-partition task/commit overhead on each of its
    # 3 shuffles (partials agg, state read, date repartition)
    with state_partitions(spark):
        new = (
            _partials(batch)
            .withColumn("src_batch", F.lit(batch_id).cast("bigint"))
            .persist()
        )
        dates = [r.date for r in new.select("date").distinct().collect()]
        if not dates:
            new.unpersist()
            return
        # replay guard: a re-delivered batch_id (state committed, checkpoint
        # offset lost) must not fold on top of its own previous contribution
        stored = spark.table(f"{db}.{BARS_TABLE}").where(
            F.col("date").isin(dates) & (F.col("src_batch") != F.lit(batch_id))
        )
        # per-batch partials are kept (merge happens at read/compaction):
        # the rewrite of a touched date is then a pure function of
        # (stored minus this batch, this batch) — idempotent under replay.
        # repartition by date: without it every batch writes
        # shuffle.partitions files per touched date and the NEXT batch's
        # state read pays the exploding listing (measured 6x drain cost);
        # state volume per date is tiny relative to events, so one writer
        # per date is the right trade here (unlike raw-event writes).
        out = stored.unionByName(new).repartition(F.col("date"))
        # dynamic partition overwrite of exactly the touched dates
        pipeline._insert(out, f"{db}.{BARS_TABLE}", overwrite=True)
        new.unpersist()


def compact_state(spark: SparkSession, db: str) -> None:
    """Fold per-batch partial rows into one baseline row per key.

    Run offline (not concurrently with the stream). Render output is
    invariant — the merge is the same associative fold the reader does —
    and re-running compaction converges (idempotent dynamic overwrite).
    At 100 TB this is the TimescaleDB materialize/compress split: the
    stream stays append-cheap, compaction amortizes read cost.
    """
    st = spark.table(f"{db}.{BARS_TABLE}")
    merged = _merge(st).withColumn(
        "src_batch", F.lit(COMPACTED_BATCH).cast("bigint")
    )
    pipeline._insert(merged, f"{db}.{BARS_TABLE}", overwrite=True)


def run_ohlc_stream(
    spark: SparkSession, events_dir: str, checkpoint_dir: str, db: str
) -> None:
    """Drain an events directory, one file per micro-batch, into the
    bar-state table."""
    drain(
        file_stream(spark, events_dir),
        checkpoint_dir,
        lambda b, i: process_events_batch(b, i, db=db),
    )


def rendered_bars(spark: SparkSession, db: str) -> DataFrame:
    """Final OHLC bars from state — same surface as analytics.ohlc_bars.

    Merges per-batch partials at read (cheap: state is per-(hour, type,
    batch), orders of magnitude below raw events; compact_state folds it
    smaller still)."""
    st = _merge(spark.table(f"{db}.{BARS_TABLE}"))
    return st.select(
        F.date_format("bar_start", "yyyy-MM-dd HH:mm:ss").alias("bar_start"),
        "event_type",
        dollars(F.col("first_pack.v")).alias("open"),
        dollars(F.col("hi_cents")).alias("high"),
        dollars(F.col("lo_cents")).alias("low"),
        dollars(F.col("last_pack.v")).alias("close"),
        "volume",
        dollars(F.col("sum_cents")).alias("total_value"),
    ).orderBy("bar_start", "event_type")
