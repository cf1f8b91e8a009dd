"""Incremental HLL, CMS and KMV maintenance: the sketch tier's streaming twins.

``events_hll_reagg`` (plans/timeseries.py) proves the HLL registers'
MAX-merge is associative, commutative and idempotent over ANY
partitioning of the data. This module turns that proof into a sink
design (the events_ohlc_incremental pattern applied to sketches): each
micro-batch folds its rows down to a tiny sketch partial and dynamic-
partition-overwrites EXACTLY its own ``src_batch`` partition of a state
table.

Exactly-once under replay is then a property of the LAYOUT, with no
replay guard and no stored-state read in the hot path: the write is a
pure function of batch b's rows targeting only partition
``src_batch = b``, so a re-delivered batch_id (state committed,
checkpoint offset lost — the at-least-once window every foreachBatch
sink sits in) rewrites its own partition with identical content and
touches nothing else. Compare continuous_agg.process_events_batch,
which must EXCLUDE its own prior contribution because OHLC partials
share date partitions across batches. How much the layout matters
differs per sketch, and that distinction is the point:

* **HLL** merge is register MAX — idempotent, so a double write would be
  forgiven anyway; the per-batch layout sidesteps even the double-count
  question structurally.
* **CMS** merge is counter ADDITION — *not* idempotent, so a naive
  append-and-sum sink double-counts on replay. The per-batch partition
  layout is what buys exactly-once: the sum at read ranges over one
  partial per batch, and replay replaces rather than appends. This is
  the sink where the layout does real work.
* **KMV** merge (distinct ∪ then bottom-k) is idempotent like HLL's
  max, so the layout is belt-and-braces — but the same layout keeps all
  three sinks operationally identical (one state table shape, one
  overwrite discipline, one render-at-read pattern).

Deliberately NOT here: the sketch quartet's fourth member, the 128-bin
equi-width quantile histogram (events_quantile_sketch). Its partials
sum like CMS counters — but only under SHARED bin edges, and the edges
derive from the GLOBAL (min, max), which a per-batch fold cannot know
yet. Histogram addition GIVEN shared edges is proven at the library
level (tests/test_plans.py::test_quantile_histogram_is_mergeable); a
sink would need either a calibration pass that freezes edges (two
drains of the source) or an edge-free sketch (KLL/t-digest), both of
which change the sketch's exactness contract — scoped out rather than
shipped with a silently weaker guarantee.

State volume per batch: HLL <= |types| x 256 register rows; CMS <=
CMS_DEPTH x CMS_WIDTH pure-int counter rows; KMV <= |keys| x KMV_K
(key, hash) sample rows. Rendering merges at read — register-wise MAX
for HLL, counter-wise SUM for CMS, distinct+bottom-k for KMV — which
must equal the one-pass build over the same rows EXACTLY (integer
equality; the driver rows prove it as the query). That is the
warehouse shape the reagg row models: store one small sketch per ingest
unit, merge at query time, never re-scan raw events.

Reference scope: the reference pipeline (dags/dag.py) keeps only exact
SQL aggregates; this is the at-scale extension tier (a 100 TB
deployment maintains distinct-count, frequency and overlap sketches per
ingest unit and merges at query time instead of re-scanning raw events
per refresh).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import pipeline
from ..operators import cms, kmv
from .drain import drain, ensure_table, file_stream, state_partitions

REGISTERS_TABLE = "hll_registers_state"
CMS_TABLE = "cms_counters_state"
KMV_TABLE = "kmv_samples_state"

_STATE_COLS = {
    REGISTERS_TABLE: "event_type string, bucket int, maxrho int, src_batch bigint",
    CMS_TABLE: "j int, bucket bigint, cnt bigint, src_batch bigint",
    KMV_TABLE: "event_type string, h bigint, src_batch bigint",
}


def _overwrite_own_partition(
    partial: DataFrame, batch_id: int, db: str, table: str
) -> None:
    """The shared layout move: write batch b's partial to partition
    src_batch=b and nothing else (dynamic partition overwrite, so a
    replay rewrites only its own partition). Sketch partials are
    dimension-scale, so the shuffle is sized to the state."""
    spark = partial.sparkSession
    ensure_table(spark, db, table, _STATE_COLS[table], "src_batch")
    with state_partitions(spark):
        out = partial.withColumn(
            "src_batch", F.lit(batch_id).cast("bigint")
        ).coalesce(1)  # one tiny file per batch partition
        pipeline._insert(out, f"{db}.{table}", overwrite=True)


# --- HLL: register max at read ----------------------------------------------

def _batch_registers(events: DataFrame) -> DataFrame:
    """Per-(event_type, bucket) max-rho registers for one slice of
    events — the identical hash/split/rho pipeline as the batch rows
    (events_hll_distinct), so the streamed registers are bit-comparable
    to a one-pass build."""
    from ..functions.texthash import hash60
    from ..plans.timeseries import HLL_M, HLL_W

    h = hash60(F.col("user_id").cast("string"))
    keyed = events.select(
        "event_type",
        h.bitwiseAND(F.lit(HLL_M - 1)).alias("bucket"),
        F.shiftright(h, 8).alias("w"),
    )
    rho = F.when(F.col("w") == 0, F.lit(HLL_W + 1)).otherwise(
        F.lit(HLL_W) - F.length(F.bin("w")) + 1
    )
    return keyed.groupBy("event_type", "bucket").agg(
        F.max(rho).cast("int").alias("maxrho")
    )


def process_hll_batch(batch: DataFrame, batch_id: int, db: str) -> None:
    """Fold one micro-batch to its max-rho register partial and
    overwrite partition src_batch=batch_id."""
    _overwrite_own_partition(
        _batch_registers(batch), batch_id, db, REGISTERS_TABLE
    )


def merged_registers(spark: SparkSession, db: str) -> DataFrame:
    """MAX-merge the per-batch register partials at read — must equal
    the one-pass register build over the same events to the bit
    (events_hll_reagg's contract, exercised cross-layer here)."""
    return (
        spark.table(f"{db}.{REGISTERS_TABLE}")
        .groupBy("event_type", "bucket")
        .agg(F.max("maxrho").alias("maxrho"))
    )


def run_hll_stream(
    spark: SparkSession, events_dir: str, checkpoint_dir: str, db: str
) -> None:
    """Drain an events directory, one file per micro-batch, into the
    register-state table."""
    drain(
        file_stream(spark, events_dir),
        checkpoint_dir,
        lambda b, i: process_hll_batch(b, i, db),
    )


# --- CMS: counter addition at read -----------------------------------------

def process_cms_batch(batch: DataFrame, batch_id: int, db: str) -> None:
    """Fold one micro-batch to its <= depth x width counter partial and
    overwrite partition src_batch=batch_id. Identical hash/bucket
    pipeline as the batch rows (operators/cms.cms_build), so the
    summed counters are integer-comparable to a one-pass build."""
    partial = cms.cms_build(batch, "user_id").select(
        F.col("j").cast("int").alias("j"),
        F.col("bucket").cast("bigint").alias("bucket"),
        F.col("cnt").cast("bigint").alias("cnt"),
    )
    _overwrite_own_partition(partial, batch_id, db, CMS_TABLE)


def merged_cms(spark: SparkSession, db: str) -> DataFrame:
    """Counter-wise SUM of the per-batch partials at read — must equal
    the one-pass cms_build over the same rows counter for counter
    (addition is the CMS merge; the per-batch partition layout is what
    makes the non-idempotent sum replay-safe)."""
    return (
        spark.table(f"{db}.{CMS_TABLE}")
        .groupBy("j", "bucket")
        .agg(F.sum("cnt").cast("bigint").alias("cnt"))
    )


def run_cms_stream(
    spark: SparkSession, events_dir: str, checkpoint_dir: str, db: str
) -> None:
    """Drain an events directory, one file per micro-batch, into the
    counter-state table."""
    drain(
        file_stream(spark, events_dir),
        checkpoint_dir,
        lambda b, i: process_cms_batch(b, i, db),
    )


# --- KMV: distinct + bottom-k at read ---------------------------------------

def process_kmv_batch(batch: DataFrame, batch_id: int, db: str) -> None:
    """Fold one micro-batch to its per-event_type bottom-k sample
    partial (<= |types| x k rows) and overwrite partition
    src_batch=batch_id. Identical hash pipeline as operators/kmv.
    bottom_k, so the merged sample is hash-set-comparable to a
    one-pass build."""
    partial = kmv.bottom_k(batch, ["event_type"], "user_id").select(
        "event_type", F.col("h").cast("bigint").alias("h")
    )
    _overwrite_own_partition(partial, batch_id, db, KMV_TABLE)


def merged_kmv(spark: SparkSession, db: str) -> DataFrame:
    """Bottom-k of the distinct union of the per-batch samples at read
    — equals the one-pass bottom_k over all rows because any hash in
    the global bottom-k is necessarily in its own batch's bottom-k
    (the kmv_merge associativity contract, exercised cross-layer)."""
    from pyspark.sql import Window

    u = spark.table(f"{db}.{KMV_TABLE}").select("event_type", "h").distinct()
    w = Window.partitionBy("event_type").orderBy("h")
    return (
        u.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= kmv.KMV_K)
        .drop("rnk")
    )


def run_kmv_stream(
    spark: SparkSession, events_dir: str, checkpoint_dir: str, db: str
) -> None:
    """Drain an events directory, one file per micro-batch, into the
    sample-state table."""
    drain(
        file_stream(spark, events_dir),
        checkpoint_dir,
        lambda b, i: process_kmv_batch(b, i, db),
    )
