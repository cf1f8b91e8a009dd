"""Driver-visible streaming queries (batch-parity mode).

Each entry materializes the relevant source slice to a scratch dir,
drives the streaming operator with Trigger.AvailableNow into a memory
sink, and returns the sink as a DataFrame — so the driver's
oracle-differential gate checks the STREAMING code path against plain
ANSI SQL. AvailableNow makes streaming results equal batch results
(single drain, no splits), which is exactly the parity contract these
operators promise (SURVEY §2.7 / §7.2 M6).

Floats discipline: the stateful rolling entry exposes only exact columns
(counts + close arrays); stddev/avg stay in the operator but out of the
oracle surface (cross-engine float-accumulation-order noise: engines
sum partial aggregates in different orders, so the low bits of a
double aggregate are not comparable across engines).
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.analytics import OHLC_BARS_SQL as _OHLC_BARS_SQL
from ..sources.prices import PRICES_ORACLE_SQL
from ..sources.tables import load_table, local_df
from ..streaming import dedup as sdedup
from ..streaming import joins as sjoins
from ..streaming import stateful, windows
from ..streaming.drain import file_stream, state_partitions


def _drain(stream_df: DataFrame, mode: str = "complete") -> DataFrame:
    """Drain to a memory sink with the state-partition count sized to
    the state volume (streaming/drain.STATE_PARTITIONS)."""
    spark = stream_df.sparkSession
    name = "q_" + uuid.uuid4().hex[:12]
    with state_partitions(spark):
        windows.run_to_memory(stream_df, name, mode=mode)
    return spark.table(name)


def _fresh_db(spark: SparkSession, db: str) -> None:
    """Drop ``db`` and any files a crashed run left in its location."""
    spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    shutil.rmtree(f"{wh}/{db}.db", ignore_errors=True)


# scratch landing zones, one per (kind, sf_dir) per process: four streaming
# queries drive from the same events slice, so re-materializing it per
# query would just re-measure the parquet write
_SCRATCH: dict[tuple[str, str], str] = {}


def _scratch_dir(key_kind: str, sf_dir: str, build) -> str:
    key = (key_kind, sf_dir)
    if key not in _SCRATCH:
        path = tempfile.mkdtemp(prefix=f"graft_{key_kind}_")
        build(path)
        _SCRATCH[key] = path
    return _SCRATCH[key]


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    path = _scratch_dir(
        "events", sf_dir, lambda p: ev.write.mode("overwrite").parquet(p)
    )
    return spark.readStream.schema(ev.schema).parquet(path)


def _events_multi(spark: SparkSession, sf_dir: str) -> str:
    """Events landing dir of four files: four one-file micro-batches,
    each spanning many hours, for the foreachBatch sink rows."""
    ev = load_table(spark, sf_dir, "events")
    return _scratch_dir(
        "events_multi",
        sf_dir,
        lambda p: ev.repartition(4).write.mode("overwrite").parquet(p),
    )


def _n_mismatch(
    merged: DataFrame, onepass: DataFrame, keys: list[str], value: str, by: str
) -> DataFrame:
    """Per ``by``: the number of ``keys`` whose ``value`` differs between
    the two sides (null-safe full-outer diff, so a key present on only
    one side counts)."""
    diff = merged.select(*keys, F.col(value).alias("v_m")).join(
        onepass.select(*keys, F.col(value).alias("v_o")), keys, "full_outer"
    )
    return diff.groupBy(by).agg(
        F.count(F.when(~F.col("v_m").eqNullSafe(F.col("v_o")), 1)).alias(
            "n_mismatch"
        )
    )


def _events_stream_seq_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events file stream whose micro-batches arrive in (ts, event_id)
    order: the landing zone is range-partitioned + sorted on that key,
    and each part file's mtime is pinned in range order, so the file
    source's (mtime, path) ordering delivers the ranges in sequence.
    maxFilesPerTrigger=1 forces one batch per range file — the
    cross-batch ordering contract the O(1)-state sequence matcher
    documents (streaming/seqmatch.py) actually exercised, not assumed."""
    ev = load_table(spark, sf_dir, "events")

    def build(p: str) -> None:
        (
            ev.repartitionByRange(4, "ts", "event_id")
            .sortWithinPartitions("ts", "event_id")
            .write.mode("overwrite")
            .parquet(p)
        )
        import glob as _glob
        import time as _time

        files = sorted(_glob.glob(os.path.join(p, "part-*")))
        base = _time.time() - len(files) - 10
        for i, f in enumerate(files):
            os.utime(f, (base + i, base + i))

    return file_stream(spark, _scratch_dir("events_seq", sf_dir, build), ev.schema)


def streaming_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The batch sequence matcher's streaming twin, driver-checked
    against the SAME closed-form regex oracle: drain the seq-ordered
    events stream through the O(1)-state matcher (running totals per
    user per micro-batch), keep each user's FINAL row (max n_events —
    emissions are strictly increasing per user), and the result must
    equal the batch regex counts row-for-row."""
    from ..streaming import seqmatch

    out = _drain(
        seqmatch.pattern_match_stream(_events_stream_seq_ordered(spark, sf_dir)),
        mode="append",
    )
    final = (
        out.groupBy("user_id")
        .agg(
            F.max_by(
                F.struct(
                    "n_events",
                    "n_view_click_purchase",
                    "n_error_bursts",
                    "converted",
                ),
                F.col("n_events"),
            ).alias("s")
        )
        .select(
            "user_id",
            F.col("s.n_events").alias("n_events"),
            F.col("s.n_view_click_purchase").alias("n_view_click_purchase"),
            F.col("s.n_error_bursts").alias("n_error_bursts"),
            F.col("s.converted").alias("converted"),
        )
    )
    return final.orderBy("user_id")


def streaming_hourly_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _drain(windows.hourly_tumbling(_events_stream(spark, sf_dir)))


STREAMING_HOURLY_SQL = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00:00') AS hour,
       event_type,
       COUNT(*) AS n_events,
       CAST(COUNT(DISTINCT user_id) AS INT) AS n_users,
       SUM(CAST(ROUND(value * 100) AS BIGINT)) / 100.0 AS total_value
FROM events
GROUP BY 1, 2
"""


def streaming_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _drain(
        windows.sliding_value(_events_stream(spark, sf_dir), "1 hour", "15 minutes")
    )


# DuckDB twin: each event belongs to window/slide = 4 overlapping windows
# whose starts step back 15 min from its truncated quarter-hour.
STREAMING_SLIDING_SQL = """
WITH exploded AS (
  SELECT event_type, value,
         unnest(generate_series(
           date_trunc('hour', ts) + INTERVAL (15 * (CAST(extract(minute FROM ts) AS INT) // 15)) MINUTE
             - INTERVAL 45 MINUTE,
           date_trunc('hour', ts) + INTERVAL (15 * (CAST(extract(minute FROM ts) AS INT) // 15)) MINUTE,
           INTERVAL 15 MINUTE)) AS w_start
  FROM events
)
SELECT strftime(w_start, '%Y-%m-%d %H:%M:%S') AS window_start,
       strftime(w_start + INTERVAL 1 HOUR, '%Y-%m-%d %H:%M:%S') AS window_end,
       event_type,
       COUNT(*) AS n_events,
       SUM(CAST(ROUND(value * 100) AS BIGINT)) / 100.0 AS total_value
FROM exploded
GROUP BY w_start, event_type
"""


def streaming_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _drain(windows.sessionize(_events_stream(spark, sf_dir)))


STREAMING_SESSIONIZE_SQL = """
WITH flagged AS (
  SELECT user_id, ts, value,
         CASE WHEN epoch_us(ts) - epoch_us(LAG(ts) OVER w) > 1800000000
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), numbered AS (
  SELECT *, CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
  FROM flagged
)
SELECT user_id,
       strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS session_end,
       COUNT(*) AS n_events,
       SUM(CAST(ROUND(value * 100) AS BIGINT)) / 100.0 AS session_value
FROM numbered
GROUP BY user_id, session_seq
"""


def streaming_rolling_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """prices stand-in -> file stream -> applyInPandasWithState rolling.

    Exact output surface only: per-(ticker, date) frame length and the
    close-price frame exploded to (idx, close_i) scalars — array cells
    are unhashable for the driver's pandas canonicalizer, and the
    explode preserves both content and frame order for the hash check.
    """
    from ..sources.prices import prices_standin

    bars = prices_standin(spark, sf_dir).select(
        "ticker", "date", F.col("close").cast("double"), "volume"
    )
    path = _scratch_dir(
        "bars", sf_dir, lambda p: bars.write.mode("overwrite").parquet(p)
    )
    stream = spark.readStream.schema(bars.schema).parquet(path)
    out = _drain(stateful.rolling_stats_stream(stream), mode="append")
    return out.select(
        "ticker",
        "date",
        "n_days",
        F.posexplode("last_7_days_close").alias("i", "close_i"),
    ).select(
        "ticker", "date", "n_days", (F.col("i") + 1).alias("idx"), "close_i"
    )


STREAMING_ROLLING_SQL = f"""
WITH prices AS ({PRICES_ORACLE_SQL}),
windowed AS (
  SELECT ticker, date,
         CAST(COUNT(*) OVER w AS INT) AS n_days,
         list(close) OVER w AS last_7_days_close
  FROM prices
  WINDOW w AS (PARTITION BY ticker ORDER BY date
               ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
)
SELECT ticker, date, n_days,
       CAST(unnest(range(1, len(last_7_days_close) + 1)) AS INT) AS idx,
       unnest(last_7_days_close) AS close_i
FROM windowed
"""


def streaming_event_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events delivered TWICE (at-least-once replay) -> deduped stream.

    The scratch dir holds two copies of the events table; the
    watermarked dropDuplicatesWithinWatermark must collapse them back to
    exactly the original rows. Timestamps surface as exact microsecond
    longs to keep the oracle comparison rendering-free.
    """
    ev = load_table(spark, sf_dir, "events")

    def build(p: str) -> None:
        ev.write.mode("overwrite").parquet(p + "/copy1")
        ev.write.mode("overwrite").parquet(p + "/copy2")

    path = _scratch_dir("events_dup", sf_dir, build)
    stream = spark.readStream.schema(ev.schema).option(
        "recursiveFileLookup", "true"
    ).parquet(path)
    deduped = sdedup.dedup_events(stream)
    out = _drain(deduped, mode="append")
    return out.select(
        "event_id",
        "user_id",
        "event_type",
        F.unix_micros("ts").alias("ts_us"),
        "value",
    )


STREAMING_EVENT_DEDUP_SQL = """
SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us, value
FROM events
"""


def streaming_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents stream -> incremental exact-dedup aggregate (complete)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    path = _scratch_dir(
        "docs", sf_dir, lambda p: docs.write.mode("overwrite").parquet(p)
    )
    stream = spark.readStream.schema(docs.schema).parquet(path)
    return _drain(sdedup.exact_dedup_stream(stream))


STREAMING_EXACT_DEDUP_SQL = """
SELECT md5(text) AS text_hash,
       MIN(doc_id) AS keep_doc_id,
       COUNT(*) AS n_copies
FROM documents
GROUP BY 1
"""


def _parity_summary(
    batch: DataFrame, stream: DataFrame, keys: list[str]
) -> tuple[int, int, int, str, str]:
    """(n_only_batch, n_only_stream, n_rows, keys_only_batch,
    keys_only_stream) of a batch/stream parity diff.

    The diff is the full-column multiset ``exceptAll`` both ways; n_rows
    counts ``batch``. Self-diagnosing: on divergence the key strings
    name the first 20 sorted distinct ``keys`` tuples unique to each
    side, so a red driver row localizes itself instead of just reporting
    a hash mismatch; they are empty on parity (the oracle row).

    ONE tagged action funds all five cells (guide §1.2), and it counts
    on the executors: the driver receives one row, not the batch
    relation, whose size grows with the data."""
    tagged = (
        batch.exceptAll(stream).select(F.lit("batch").alias("side"), *keys)
        .unionAll(stream.exceptAll(batch).select(F.lit("stream").alias("side"), *keys))
        .unionAll(batch.select(F.lit("rows").alias("side"), *keys))
    )
    key = F.concat_ws("|", *[F.col(k).cast("string") for k in keys])

    def count(side: str):
        return F.count(F.when(F.col("side") == side, 1))

    def first_keys(side: str):
        diff = F.collect_set(F.when(F.col("side") == side, key))
        return F.concat_ws(",", F.slice(F.array_sort(diff), 1, 20))

    row = tagged.agg(
        count("batch"),
        count("stream"),
        count("rows"),
        first_keys("batch"),
        first_keys("stream"),
    ).collect()[0]
    return tuple(row)


def pipeline_micro_batch_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the SAME 3-day backfill via the batch driver and via the
    foreachBatch streaming pipeline, then diff the two cumulative tables.

    The oracle pins the invariant (zero rows unique to either side, 15
    cumulative rows = 3 days x 5 tickers): the streaming re-expression
    of the reference DAG must be indistinguishable from the batch one.
    This is the exactly-once + ascending-date contract surfaced as a
    hash-checked driver row rather than only a pytest.
    """
    from airflow_iceberg_pipeline_stock_tracker_spark import pipeline
    from airflow_iceberg_pipeline_stock_tracker_spark.sources.stock_api import (
        DeterministicBarClient,
        bars_to_df,
        fetch_bars,
    )
    from airflow_iceberg_pipeline_stock_tracker_spark.streaming import micro_batch

    days = ["2024-01-01", "2024-01-02", "2024-01-03"]
    dbs = {"batch": "parity_batch", "stream": "parity_stream"}
    for db in dbs.values():
        _fresh_db(spark, db)

    pipeline.backfill(spark, days[0], days[-1], db=dbs["batch"])

    scratch = tempfile.mkdtemp(prefix="graft_parity_")
    client = DeterministicBarClient()
    for ds in days:
        bars_to_df(spark, fetch_bars(client, ds)).write.mode("append").parquet(
            scratch + "/bars"
        )
    micro_batch.run_pipeline_stream(
        spark, scratch + "/bars", scratch + "/ckpt", db=dbs["stream"]
    )

    cum = {
        side: spark.table(f"{db}.{pipeline.CUMULATIVE_TABLE}").drop("updated_at")
        for side, db in dbs.items()
    }
    return local_df(
        spark,
        [_parity_summary(cum["batch"], cum["stream"], ["ticker", "date"])],
        "n_only_batch bigint, n_only_stream bigint, n_rows bigint, "
        "keys_only_batch string, keys_only_stream string",
    )


PIPELINE_PARITY_SQL = """
SELECT CAST(0 AS BIGINT) AS n_only_batch,
       CAST(0 AS BIGINT) AS n_only_stream,
       CAST(15 AS BIGINT) AS n_rows,
       '' AS keys_only_batch,
       '' AS keys_only_stream
"""


def streaming_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join (errors x follow-ups), append mode."""
    drained = _drain(
        sjoins.interval_join_error_followups(_events_stream(spark, sf_dir)),
        mode="append",
    )
    # render the event-time column for the canonicalizer (oracle emits
    # the same microsecond string via strftime)
    return drained.withColumn(
        "err_ts", F.date_format("err_ts", "yyyy-MM-dd HH:mm:ss.SSSSSS")
    )


def streaming_chained_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chained stateful: interval join -> windowed agg in ONE query."""
    return _drain(
        sjoins.error_followup_hourly(_events_stream(spark, sf_dir)),
        mode="append",
    )


def streaming_left_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join: matches on arrival, null-
    padded unmatched errors once the watermark proves them matchless."""
    drained = _drain(
        sjoins.left_outer_interval_join(_events_stream(spark, sf_dir)),
        mode="append",
    )
    return drained.withColumn(
        "err_ts", F.date_format("err_ts", "yyyy-MM-dd HH:mm:ss.SSSSSS")
    )


def events_ohlc_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-aggregate maintenance: fold the events stream into the
    mergeable OHLC partial-state table micro-batch by micro-batch, then
    render final bars from STATE ONLY. The oracle recomputes the bars
    from raw events, so a hash match proves the incremental fold path
    equals the full recompute."""
    from ..streaming import continuous_agg

    db = "cagg_query"
    _fresh_db(spark, db)
    ckpt = tempfile.mkdtemp(prefix="graft_cagg_ckpt_")
    continuous_agg.run_ohlc_stream(spark, _events_multi(spark, sf_dir), ckpt, db=db)
    return continuous_agg.rendered_bars(spark, db)


def streaming_hll_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sketch tier's streaming twin (r11 verdict ask #6): drain the
    events file stream through the per-batch HLL register sink
    (streaming/sketch_sinks.py — one src_batch partition of max-rho
    registers per micro-batch, replay-idempotent by layout), MAX-merge
    the stored partials at read, and prove the result equals the batch
    one-pass build at REGISTER level (full-outer mismatch count == 0
    per type, the events_hll_reagg discipline) while the estimates ride
    the identical closing float expression — the oracle recomputes the
    one-pass registers from raw events, so a hash match proves the
    incremental fold path exact to the bit."""
    from ..streaming import sketch_sinks
    from .timeseries import HLL_ALPHA, HLL_M, HLL_W

    db = "hll_stream"
    _fresh_db(spark, db)
    ckpt = tempfile.mkdtemp(prefix="graft_hll_ckpt_")
    sketch_sinks.run_hll_stream(spark, _events_multi(spark, sf_dir), ckpt, db=db)

    merged = sketch_sinks.merged_registers(spark, db)
    onepass = sketch_sinks._batch_registers(load_table(spark, sf_dir, "events"))
    mism = _n_mismatch(
        merged, onepass, ["event_type", "bucket"], "maxrho", "event_type"
    )
    per_type = merged.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_obs"),
        F.sum(
            F.expr(f"shiftleft(cast(1 as bigint), {HLL_W + 1} - maxrho)")
        ).cast("bigint").alias("s_obs"),
    )
    s_int = (
        F.col("s_obs")
        + (F.lit(HLL_M) - F.col("n_obs")) * F.lit(1 << (HLL_W + 1))
    )
    est = (
        F.lit(float(HLL_ALPHA))
        * F.lit(HLL_M * HLL_M)
        * F.lit(float(1 << (HLL_W + 1)))
        / s_int.cast("double")
    )
    return (
        per_type.join(mism, "event_type")
        .select(
            "event_type",
            F.col("n_obs").cast("bigint").alias("n_registers"),
            est.alias("hll_estimate"),
            (F.col("n_mismatch") == 0).alias("registers_equal_onepass"),
        )
        .orderBy("event_type")
    )


def _streaming_hll_sql() -> str:
    from ..functions.texthash import hash60_sql
    from .timeseries import HLL_ALPHA, HLL_M, HLL_W

    hv = hash60_sql("CAST(user_id AS VARCHAR)")
    return f"""
WITH keyed AS (
  SELECT event_type, {hv} % {HLL_M} AS bucket, {hv} // {HLL_M} AS w
  FROM events
), regs AS (
  SELECT event_type, bucket,
         MAX(CASE WHEN w = 0 THEN {HLL_W + 1}
                  ELSE {HLL_W} - length(bin(w)) + 1 END) AS maxrho
  FROM keyed GROUP BY 1, 2
), per_type AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n_obs,
         CAST(SUM(CAST(1 AS BIGINT) << ({HLL_W + 1} - maxrho))
              AS BIGINT) AS s_obs
  FROM regs GROUP BY 1
)
SELECT event_type,
       n_obs AS n_registers,
       CAST({HLL_ALPHA} AS DOUBLE) * {HLL_M * HLL_M}
         * CAST({1 << (HLL_W + 1)} AS DOUBLE)
         / (s_obs + ({HLL_M} - n_obs) * {1 << (HLL_W + 1)})
         AS hll_estimate,
       TRUE AS registers_equal_onepass
FROM per_type
ORDER BY event_type
"""


def streaming_cms_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Count-Min sink (r12 verdict ask #5): drain the events file
    stream through the per-batch CMS counter sink (streaming/
    sketch_sinks.py — one src_batch partition of counter partials per
    micro-batch), SUM-merge the stored partials at read, and prove the
    result equals the batch one-pass cms_build COUNTER for COUNTER
    (full-outer mismatch count == 0 per hash row j). This is the sink
    where the per-batch partition layout does real work: counter
    addition is NOT idempotent, so exactly-once under replay is a
    property of the layout alone (a re-delivered batch overwrites its
    own partition instead of appending) — unlike the HLL sink's max, which
    would forgive a double write anyway.

    The whole surface is pure int64 (counter sums, per-j bucket counts)
    so oracle parity is plain integer equality; per-j total_cnt ==
    COUNT(user_id) over all events is a visible invariant of the
    output. The oracle recomputes the one-pass sketch from raw events,
    so a hash match proves the incremental fold path exact.
    """
    from ..operators import cms as cms_ops
    from ..streaming import sketch_sinks

    db = "cms_stream"
    _fresh_db(spark, db)
    ckpt = tempfile.mkdtemp(prefix="graft_cms_ckpt_")
    sketch_sinks.run_cms_stream(spark, _events_multi(spark, sf_dir), ckpt, db=db)

    merged = sketch_sinks.merged_cms(spark, db)
    onepass = cms_ops.cms_build(load_table(spark, sf_dir, "events"), "user_id")
    mism = _n_mismatch(merged, onepass, ["j", "bucket"], "cnt", "j")
    per_j = merged.groupBy("j").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
        F.sum("cnt").cast("bigint").alias("total_cnt"),
    )
    return (
        per_j.join(mism, "j")
        .select(
            F.col("j").cast("int").alias("j"),
            "n_buckets",
            "total_cnt",
            (F.col("n_mismatch") == 0).alias("counters_equal_onepass"),
        )
        .orderBy("j")
    )


def _streaming_cms_sql() -> str:
    from ..functions.texthash import hash32_sql
    from ..operators.cms import CMS_DEPTH, _bucket_sql

    hv = hash32_sql("CAST(user_id AS VARCHAR)")
    unions = "\n    UNION ALL\n".join(
        f"    SELECT {j} AS j, {_bucket_sql(j, 'h')} AS bucket, n FROM hashed"
        for j in range(CMS_DEPTH)
    )
    return f"""
WITH hashed AS (
  SELECT {hv} AS h, CAST(COUNT(*) AS BIGINT) AS n
  FROM events WHERE user_id IS NOT NULL GROUP BY 1
), sketch AS (
  SELECT j, bucket, CAST(SUM(n) AS BIGINT) AS cnt FROM (
{unions}
  ) GROUP BY 1, 2
)
SELECT j, CAST(COUNT(*) AS BIGINT) AS n_buckets,
       CAST(SUM(cnt) AS BIGINT) AS total_cnt,
       TRUE AS counters_equal_onepass
FROM sketch GROUP BY j ORDER BY j
"""


def streaming_kmv_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The KMV sink (r12 verdict ask #5): drain the events file stream
    through the per-batch bottom-k sample sink (streaming/
    sketch_sinks.py), merge the stored samples at read (distinct union
    then bottom-k — kmv_merge's algebra), and prove the merged sample
    equals the batch one-pass bottom_k HASH for HASH per event_type
    (full-outer mismatch count == 0), while the distinct estimates ride
    the identical closing float expression as events_kmv_distinct.

    The oracle recomputes the one-pass sketch from raw events
    (kmv_distinct_sql, parity-pinned by tests/test_kmv.py), so a hash
    match proves the incremental fold path exact to the sample set.
    """
    from ..operators import kmv as kmv_ops
    from ..streaming import sketch_sinks

    db = "kmv_stream"
    _fresh_db(spark, db)
    ckpt = tempfile.mkdtemp(prefix="graft_kmv_ckpt_")
    sketch_sinks.run_kmv_stream(spark, _events_multi(spark, sf_dir), ckpt, db=db)

    merged = sketch_sinks.merged_kmv(spark, db)
    ev = load_table(spark, sf_dir, "events")
    onepass = kmv_ops.bottom_k(ev, ["event_type"], "user_id")
    # the sample is a set of (event_type, h): h is its own value
    mism = _n_mismatch(merged, onepass, ["event_type", "h"], "h", "event_type")
    est = kmv_ops.kmv_estimate(merged, ["event_type"])
    return (
        est.join(mism, "event_type")
        .select(
            "event_type",
            "n_sample",
            "kth_min",
            "exact",
            "est_distinct",
            (F.col("n_mismatch") == 0).alias("sample_equal_onepass"),
        )
        .orderBy("event_type")
    )


def _streaming_kmv_sql() -> str:
    from ..operators.kmv import kmv_distinct_sql

    core = kmv_distinct_sql("events", "event_type", "user_id").strip()
    return f"""
WITH base AS ({core})
SELECT key AS event_type, n_sample, kth_min, exact, est_distinct,
       TRUE AS sample_equal_onepass
FROM base ORDER BY event_type
"""


def streaming_enriched_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment: events joined to a broadcast customer-
    segment dim per micro-batch (stateless join), hourly totals per
    segment. The dim maps user_id -> c_mktsegment via c_custkey =
    user_id + 1 over the first 150 customers — deterministic and
    mirrored verbatim in the oracle's LEFT JOIN."""
    dim = (
        load_table(spark, sf_dir, "customer")
        .where(F.col("c_custkey") <= 150)
        .select(
            (F.col("c_custkey") - 1).alias("user_id"),
            F.col("c_mktsegment").alias("segment"),
        )
    )
    return _drain(
        windows.enriched_hourly(_events_stream(spark, sf_dir), dim)
    )


ENRICHED_HOURLY_SQL = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00:00') AS hour,
       c_mktsegment AS segment,
       COUNT(*) AS n_events,
       SUM(CAST(ROUND(value * 100) AS BIGINT)) / 100.0 AS total_value
FROM events
LEFT JOIN customer ON c_custkey = user_id + 1 AND c_custkey <= 150
GROUP BY 1, 2
"""


def streaming_merge_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC apply loop: 4 deterministic micro-batches of purchase events
    MERGEd into a keyed balance table (streaming/cdc.py). The oracle is
    the one-shot batch aggregate, so a hash match proves the incremental
    merge fold — insert branch on a user's first batch, accumulate
    branch on every later one — exactly reconstructs it."""
    from ..streaming import cdc

    tgt = os.path.join(tempfile.mkdtemp(prefix="graft_cdc_"), "balances")
    ckpt = tempfile.mkdtemp(prefix="graft_cdc_ckpt_")
    cdc.run_merge_apply(spark, _events_multi(spark, sf_dir), tgt, ckpt)
    return (
        spark.read.schema(cdc.TARGET_SCHEMA)
        .parquet(tgt)
        .select(
            "user_id", "n_events", (F.col("bal_cents") / 100.0).alias("balance")
        )
        .orderBy("user_id")
    )


MERGE_APPLY_SQL = """
SELECT user_id, COUNT(*) AS n_events,
       SUM(CAST(ROUND(value * 100) AS BIGINT)) / 100.0 AS balance
FROM events WHERE event_type = 'purchase'
GROUP BY user_id
ORDER BY user_id
"""


def events_micro_batch_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch/stream parity on the EVENTS domain: the same operator code
    (windows.hourly_tumbling) applied to the batch events table and
    drained from the file-source stream must produce identical rows.

    Together with pipeline_micro_batch_parity this proves the parity
    contract on both domains the engine serves: the stock pipeline
    (foreachBatch into managed tables) and events analytics (watermarked
    windowed aggregation into a sink). The oracle pins zero divergence
    and derives the expected group count from the events table itself,
    so it holds at every scale factor.
    """
    batch = windows.hourly_tumbling(load_table(spark, sf_dir, "events"))
    stream = _drain(windows.hourly_tumbling(_events_stream(spark, sf_dir)))
    return local_df(
        spark,
        [_parity_summary(batch, stream, ["hour", "event_type"])],
        "n_only_batch bigint, n_only_stream bigint, n_rows bigint, "
        "keys_only_batch string, keys_only_stream string",
    )


EVENTS_PARITY_SQL = """
SELECT CAST(0 AS BIGINT) AS n_only_batch,
       CAST(0 AS BIGINT) AS n_only_stream,
       (SELECT COUNT(*) FROM (
          SELECT DISTINCT date_trunc('hour', ts), event_type FROM events
       )) AS n_rows,
       '' AS keys_only_batch,
       '' AS keys_only_stream
"""




def events_snapshot_sink_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once THROUGH the snapshot layer: drain the events file
    stream into a snapshot table via transactional CAS commits
    (streaming/snapshot_sink.py), then prove three things in one hashed
    row: (1) the snapshot-read table aggregates identically to the batch
    table (n_only_* = 0); (2) at least one commit landed; (3) replaying
    an already-committed (run_id, batch_id) txn adds NO new snapshot
    (the idempotent exactly-once contract, exercised by literally
    re-delivering batch 0)."""
    import tempfile as _tf

    from ..sources import snapshots
    from ..streaming.snapshot_sink import drain_to_snapshots, snapshot_append_sink

    table_dir = _tf.mkdtemp(prefix="graft_snapsink_")
    run_id = drain_to_snapshots(_events_stream(spark, sf_dir), table_dir)
    n_commits = len(snapshots.history(table_dir))
    # simulate sink re-delivery of the first micro-batch: batch 0 is at
    # or below the run's high-water txn version — must be a no-op
    replay_df = load_table(spark, sf_dir, "events").limit(5)
    snapshot_append_sink(table_dir, run_id)(replay_df, 0)
    replay_added = len(snapshots.history(table_dir)) != n_commits

    snap_read = snapshots.read(spark, table_dir)
    batch = windows.hourly_tumbling(load_table(spark, sf_dir, "events"))
    streamed = windows.hourly_tumbling(snap_read)
    n_only_batch, n_only_stream, n_rows, _, _ = _parity_summary(
        batch, streamed, ["hour", "event_type"]
    )
    return local_df(
        spark,
        [
            (
                n_only_batch,
                n_only_stream,
                n_rows,
                bool(n_commits >= 1),
                bool(replay_added),
            )
        ],
        "n_only_batch bigint, n_only_stream bigint, n_rows bigint, "
        "committed boolean, replay_added_commit boolean",
    )


SNAPSHOT_SINK_PARITY_SQL = """
SELECT CAST(0 AS BIGINT) AS n_only_batch,
       CAST(0 AS BIGINT) AS n_only_stream,
       (SELECT COUNT(*) FROM (
          SELECT DISTINCT date_trunc('hour', ts), event_type FROM events
       )) AS n_rows,
       TRUE AS committed,
       FALSE AS replay_added_commit
"""


from .timeseries import EVENTS_PATTERN_SQL as _SEQMATCH_ORACLE  # noqa: E402

STREAMING_QUERIES: dict[str, tuple] = {
    "streaming_hourly_tumbling": (streaming_hourly_tumbling, STREAMING_HOURLY_SQL),
    "streaming_sliding_value": (streaming_sliding, STREAMING_SLIDING_SQL),
    "streaming_sessionize": (streaming_sessionize, STREAMING_SESSIONIZE_SQL),
    "streaming_rolling_stateful": (streaming_rolling_stateful, STREAMING_ROLLING_SQL),
    # O(1)-state sequence matcher over a multi-batch ordered stream,
    # hash-checked against the batch regex oracle (new r9)
    "streaming_pattern_match": (streaming_pattern_match, _SEQMATCH_ORACLE),
    "streaming_event_dedup": (streaming_event_dedup, STREAMING_EVENT_DEDUP_SQL),
    "streaming_exact_dedup": (streaming_exact_dedup, STREAMING_EXACT_DEDUP_SQL),
    "streaming_interval_join": (streaming_interval_join, sjoins.INTERVAL_JOIN_SQL),
    "streaming_chained_hourly": (streaming_chained_hourly, sjoins.CHAINED_HOURLY_SQL),
    "streaming_left_outer_join": (streaming_left_outer_join, sjoins.LEFT_OUTER_JOIN_SQL),
    # oracle = the BATCH recompute from raw events: hash equality proves
    # the incremental state-fold path exact
    "events_ohlc_incremental": (events_ohlc_incremental, _OHLC_BARS_SQL),
    # stream-static broadcast enrichment (stateless join + stateful agg)
    "streaming_enriched_hourly": (streaming_enriched_hourly, ENRICHED_HOURLY_SQL),
    # foreachBatch CDC apply: incremental MERGE fold == batch aggregate
    "streaming_merge_apply": (streaming_merge_apply, MERGE_APPLY_SQL),
    "pipeline_micro_batch_parity": (pipeline_micro_batch_parity, PIPELINE_PARITY_SQL),
    "events_micro_batch_parity": (events_micro_batch_parity, EVENTS_PARITY_SQL),
    # exactly-once through the CAS snapshot layer (new r7): txn
    # commits + replay no-op + batch parity in one hashed row
    "events_snapshot_sink_parity": (
        events_snapshot_sink_parity,
        SNAPSHOT_SINK_PARITY_SQL,
    ),
    # sketch tier's streaming twin (new r12): per-batch register
    # partials max-merged at read == one-pass build, register-level
    "streaming_hll_incremental": (
        streaming_hll_incremental,
        _streaming_hll_sql(),
    ),
    # the remaining sketch sinks (new r13, r12 verdict ask #5): the
    # same per-batch src_batch-partition layout, merged at read —
    # counter ADDITION for CMS (where the layout alone buys
    # exactly-once: sums are not idempotent), distinct+bottom-k for KMV
    "streaming_cms_incremental": (
        streaming_cms_incremental,
        _streaming_cms_sql(),
    ),
    "streaming_kmv_incremental": (
        streaming_kmv_incremental,
        _streaming_kmv_sql(),
    ),
}
