from __future__ import annotations

import datetime as dt
import shutil

import pytest
from pyspark.sql import functions as F

from airflow_iceberg_pipeline_stock_tracker_spark import pipeline
from airflow_iceberg_pipeline_stock_tracker_spark.sources.stock_api import (
    DeterministicBarClient,
    bars_to_df,
    fetch_bars,
)
from airflow_iceberg_pipeline_stock_tracker_spark.streaming import (
    micro_batch,
    stateful,
    windows,
)

DB = "streamtest"


@pytest.fixture()
def events(spark, sf_dir):
    from airflow_iceberg_pipeline_stock_tracker_spark.sources.tables import load_table

    return load_table(spark, sf_dir, "events")


@pytest.fixture()
def events_stream(spark, events, tmp_path):
    # land micro-precision events in a fresh dir the file source can read
    path = str(tmp_path / "events_in")
    events.write.parquet(path)
    return spark.readStream.schema(events.schema).parquet(path)


def _collected(spark, name):
    return spark.table(name)


def test_hourly_tumbling_matches_batch(spark, events, events_stream):
    windows.run_to_memory(windows.hourly_tumbling(events_stream), "hourly_s")
    got = _collected(spark, "hourly_s")

    expected = (
        events.groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:00:00").alias(
                "hour"
            ),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            (F.sum(F.round(F.col("value") * 100).cast("bigint")) / 100.0).alias(
                "total_value"
            ),
        )
    )
    assert got.count() == expected.count()
    diff = got.exceptAll(expected)
    assert diff.count() == 0


def test_sliding_windows_cover_each_event_four_times(spark, events, events_stream):
    windows.run_to_memory(
        windows.sliding_value(events_stream, "1 hour", "15 minutes"), "sliding_s"
    )
    got = _collected(spark, "sliding_s")
    # every event lands in exactly window/slide = 4 windows
    n_events = events.count()
    assert got.agg(F.sum("n_events")).first()[0] == 4 * n_events


def test_session_window_matches_batch_sessionize(spark, events, events_stream):
    windows.run_to_memory(windows.sessionize(events_stream), "sessions_s")
    got = _collected(spark, "sessions_s")

    # batch twin: the lag-gap formulation from plans/queries.py, inline on
    # the same frame — microsecond-exact gaps; only gap > 1800s starts a
    # new session (session_window coalesces touching windows)
    from pyspark.sql import Window as W

    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    ts_us = F.unix_micros("ts")
    new_session = F.when(
        ts_us - F.lag(ts_us).over(w) > 1800 * 1_000_000, F.lit(1)
    ).otherwise(F.lit(0))
    sessions = events.withColumn(
        "session_seq", F.sum(new_session).over(w.rowsBetween(W.unboundedPreceding, 0))
    )
    expected = sessions.groupBy("user_id", "session_seq").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
        F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_end"),
        (F.sum(F.round(F.col("value") * 100).cast("bigint")) / 100.0).alias(
            "session_value"
        ),
    ).select("user_id", "session_start", "session_end", "n_events", "session_value")

    assert got.count() == expected.count()
    assert got.exceptAll(expected).count() == 0


def test_session_gap_boundary_exactly_1800s(spark, tmp_path):
    """An EXACT 1800s gap stays in the same session; +1us splits.

    Pins the boundary contract (empirically session_window coalesces
    touching windows, i.e. only gap > 1800s splits) across the batch
    lag-gap formulation and streaming session_window — both must agree.
    """
    base = dt.datetime(2024, 3, 1, 9, 0, 0, 500000)
    rows = [
        # user 1: gaps of exactly 1800s -> ONE session (touch coalesces)
        (1, 1, base, "c", 1.0),
        (1, 2, base + dt.timedelta(seconds=1800), "c", 1.0),
        (1, 3, base + dt.timedelta(seconds=3600), "c", 1.0),
        # user 2: gap of 1800s - 1us -> 1 session
        (2, 4, base, "c", 1.0),
        (2, 5, base + dt.timedelta(seconds=1800, microseconds=-1), "c", 1.0),
        # user 3: gap of 1800s + 1us -> 2 sessions
        (3, 6, base, "c", 1.0),
        (3, 7, base + dt.timedelta(seconds=1800, microseconds=1), "c", 1.0),
    ]
    ev = spark.createDataFrame(
        rows, "user_id bigint, event_id bigint, ts timestamp, event_type string, value double"
    )

    # batch formulation (same expression as plans/queries.events_sessionize)
    from pyspark.sql import Window as W

    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    ts_us = F.unix_micros("ts")
    new_session = F.when(
        ts_us - F.lag(ts_us).over(w) > 1800 * 1_000_000, F.lit(1)
    ).otherwise(F.lit(0))
    batch = (
        ev.withColumn(
            "seq", F.sum(new_session).over(w.rowsBetween(W.unboundedPreceding, 0))
        )
        .groupBy("user_id", "seq")
        .count()
    )
    batch_sessions = {
        r["user_id"]: r["n"]
        for r in batch.groupBy("user_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert batch_sessions == {1: 1, 2: 1, 3: 2}

    # streaming session_window on the same rows must agree
    path = str(tmp_path / "boundary_events")
    ev.write.parquet(path)
    stream = spark.readStream.schema(ev.schema).parquet(path)
    windows.run_to_memory(windows.sessionize(stream), "sessions_boundary")
    got = spark.table("sessions_boundary")
    stream_sessions = {
        r["user_id"]: r["n"]
        for r in got.groupBy("user_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert stream_sessions == batch_sessions


@pytest.fixture()
def stream_db(spark):
    spark.sql(f"DROP DATABASE IF EXISTS {DB} CASCADE")
    yield DB
    spark.sql(f"DROP DATABASE IF EXISTS {DB} CASCADE")
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    shutil.rmtree(f"{wh}/{DB.lower()}.db", ignore_errors=True)


def test_micro_batch_pipeline_matches_batch_backfill(spark, tmp_path, stream_db):
    days = ["2024-02-01", "2024-02-02", "2024-02-03"]
    bars_dir, ckpt = str(tmp_path / "bars"), str(tmp_path / "ckpt")
    client = DeterministicBarClient()
    for ds in days:
        bars_to_df(spark, fetch_bars(client, ds)).write.mode("append").parquet(bars_dir)

    micro_batch.run_pipeline_stream(spark, bars_dir, ckpt, db=stream_db)

    cum = spark.table(f"{stream_db}.{pipeline.CUMULATIVE_TABLE}")
    sizes = {
        r.date.isoformat(): r.n
        for r in cum.groupBy("date")
        .agg(F.max(F.size("last_7_days_close")).alias("n"))
        .collect()
    }
    assert sizes == {"2024-02-01": 1, "2024-02-02": 2, "2024-02-03": 3}
    # dq log has 6 checks per day
    dq = spark.table(f"{stream_db}.{micro_batch.DQ_TABLE}")
    assert dq.count() == 18
    assert dq.where("status != 'PASS'").count() == 0
    # restart with same checkpoint: no new files -> no duplicate work
    micro_batch.run_pipeline_stream(spark, bars_dir, ckpt, db=stream_db)
    assert spark.table(f"{stream_db}.{micro_batch.DQ_TABLE}").count() == 18


def test_stateful_rolling_stream(spark, tmp_path):
    days = [dt.date(2024, 3, d) for d in range(1, 11)]  # 10 days > window
    rows = [
        ("AAPL", d, 100.0 + i, 1000 + i) for i, d in enumerate(days)
    ] + [("MSFT", d, 200.0 + 2 * i, 500) for i, d in enumerate(days)]
    src = str(tmp_path / "bars_state")
    schema = "ticker string, date date, close double, volume long"
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(src)

    stream = spark.readStream.schema(schema).parquet(src)
    q = (
        stateful.rolling_stats_stream(stream)
        .writeStream.format("memory")
        .queryName("rolling_s")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.table("rolling_s")
    assert got.count() == 20
    aapl = {r.date.day: r for r in got.where("ticker = 'AAPL'").collect()}
    assert aapl[1].n_days == 1 and aapl[1].volatility_7_day == 0.0
    assert aapl[10].n_days == 7
    # window holds days 4..10 -> closes 103..109, mean volume 1003..1009
    assert aapl[10].last_7_days_close == [103.0 + i for i in range(7)]
    assert abs(aapl[10].avg_7_day_volume - 1006.0) < 1e-9
    # constant-volume MSFT: stddev of arithmetic close sequence is exact
    msft = {r.date.day: r for r in got.where("ticker = 'MSFT'").collect()}
    assert msft[10].avg_7_day_volume == 500.0


def test_streaming_event_dedup_collapses_replays(spark, events, tmp_path):
    """Two deliveries of every event collapse to exactly the original set."""
    from airflow_iceberg_pipeline_stock_tracker_spark.streaming import dedup as sdedup

    path = str(tmp_path / "dup_events")
    events.write.parquet(path + "/copy1")
    events.write.parquet(path + "/copy2")
    stream = (
        spark.readStream.schema(events.schema)
        .option("recursiveFileLookup", "true")
        .parquet(path)
    )
    windows.run_to_memory(sdedup.dedup_events(stream), "dedup_s", mode="append")
    got = spark.table("dedup_s")
    assert got.count() == events.count()
    assert got.select("event_id").distinct().count() == events.count()


def test_streaming_exact_dedup_matches_batch(spark, sf_dir, tmp_path):
    """The incremental groupBy dedup equals the batch exact_dedup."""
    from airflow_iceberg_pipeline_stock_tracker_spark.operators import dedup
    from airflow_iceberg_pipeline_stock_tracker_spark.sources.tables import load_table
    from airflow_iceberg_pipeline_stock_tracker_spark.streaming import dedup as sdedup

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    path = str(tmp_path / "docs_in")
    docs.write.parquet(path)
    stream = spark.readStream.schema(docs.schema).parquet(path)
    windows.run_to_memory(sdedup.exact_dedup_stream(stream), "sdedup_s")
    got = spark.table("sdedup_s")
    expected = dedup.exact_dedup(docs)
    assert got.count() == expected.count()
    assert got.exceptAll(expected.select(*got.columns)).count() == 0


def test_micro_batch_multi_batch_drain_and_incremental_restart(
    spark, tmp_path, stream_db
):
    """Exactly-once across BATCH BOUNDARIES and RESTARTS:
    (1) maxFilesPerTrigger=1 forces each day's file into its own
    micro-batch — the rolling cumulate must still compose across batches
    (depends_on_past across batches, not just within one);
    (2) restarting the stream over the same checkpoint after NEW files
    arrive processes only the new days and extends the history."""
    bars_dir, ckpt = str(tmp_path / "bars_mb"), str(tmp_path / "ckpt_mb")
    client = DeterministicBarClient()
    days1 = ["2024-02-01", "2024-02-02", "2024-02-03"]
    for ds in days1:
        bars_to_df(spark, fetch_bars(client, ds)).coalesce(1).write.mode(
            "append"
        ).parquet(bars_dir)

    micro_batch.run_pipeline_stream(
        spark, bars_dir, ckpt, db=stream_db, max_files_per_trigger=1
    )
    cum = spark.table(f"{stream_db}.{pipeline.CUMULATIVE_TABLE}")
    sizes = {
        r.date.isoformat(): r.n
        for r in cum.groupBy("date")
        .agg(F.max(F.size("last_7_days_close")).alias("n"))
        .collect()
    }
    assert sizes == {"2024-02-01": 1, "2024-02-02": 2, "2024-02-03": 3}

    # two more days land; same checkpoint -> only they are processed
    for ds in ["2024-02-04", "2024-02-05"]:
        bars_to_df(spark, fetch_bars(client, ds)).coalesce(1).write.mode(
            "append"
        ).parquet(bars_dir)
    micro_batch.run_pipeline_stream(
        spark, bars_dir, ckpt, db=stream_db, max_files_per_trigger=1
    )
    cum = spark.table(f"{stream_db}.{pipeline.CUMULATIVE_TABLE}")
    sizes = {
        r.date.isoformat(): r.n
        for r in cum.groupBy("date")
        .agg(F.max(F.size("last_7_days_close")).alias("n"))
        .collect()
    }
    # frames keep growing across the restart: day 4 sees 4 rows of history
    assert sizes == {
        "2024-02-01": 1,
        "2024-02-02": 2,
        "2024-02-03": 3,
        "2024-02-04": 4,
        "2024-02-05": 5,
    }
    # exactly-once: prod has one row per (ticker, day), no dupes
    prod = spark.table(f"{stream_db}.{pipeline.PROD_TABLE}")
    assert prod.count() == 25
    assert prod.groupBy("ticker", "date").count().where("count > 1").count() == 0


def test_left_outer_interval_join_boundaries(spark, tmp_path):
    """Boundary semantics of the stream-stream LEFT OUTER interval join:
    a follow-up at EXACTLY +10min matches (<= bound); an unmatched error
    old enough for the watermark emits one null-padded row; an unmatched
    error inside the watermark horizon emits nothing."""
    from airflow_iceberg_pipeline_stock_tracker_spark.streaming import joins as sjoins

    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        # error 1: follow-up exactly +10min -> matched pair
        (1, base, 7, "error", 1.0, "{}"),
        (2, base + dt.timedelta(minutes=10), 7, "click", 2.5, "{}"),
        # error 3: no follow-up, far in the past -> unmatched row emitted
        (3, base + dt.timedelta(hours=1), 8, "error", 1.0, "{}"),
        # error 4: no follow-up, within (watermark + window) of the max
        # error ts -> still held in state, NOT emitted
        (4, base + dt.timedelta(hours=12), 9, "error", 1.0, "{}"),
        # max-ts error pushing the watermark to 12h59m - 1h
        (5, base + dt.timedelta(hours=12, minutes=59), 10, "error", 1.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    path = str(tmp_path / "ev")
    df.write.parquet(path)
    stream = spark.readStream.schema(df.schema).parquet(path)
    windows.run_to_memory(
        sjoins.left_outer_interval_join(stream), "loj_s", mode="append"
    )
    got = {
        r.error_id: (r.followup_id, r.value_cents)
        for r in spark.table("loj_s").collect()
    }
    assert got == {
        1: (2, 250),   # +10min inclusive
        3: (None, None),  # watermark-proven matchless
        # 4 and 5 still inside the horizon: no row at all
    }


def test_transform_with_state_running_totals(spark, events, events_stream):
    """Spark 4 transformWithState (StatefulProcessor + ValueState): the
    drained per-event running totals must equal the batch window prefix.
    Skips where the protobuf state protocol is unavailable (this
    container ships no protobuf; same honest-gate as Iceberg)."""
    from airflow_iceberg_pipeline_stock_tracker_spark.streaming import tws

    if not tws.tws_available():
        pytest.skip("protobuf absent: transformWithState protocol cannot run")
    windows.run_to_memory(
        tws.running_user_totals(events_stream), "tws_s", mode="append"
    )
    got = sorted(map(tuple, spark.table("tws_s").collect()))
    from pyspark.sql import Window as W

    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    exp = sorted(
        map(
            tuple,
            events.select(
                "event_id",
                "user_id",
                F.count(F.lit(1)).over(w).alias("n_so_far"),
                F.sum(F.round(F.col("value") * 100).cast("bigint"))
                .over(w)
                .alias("cents_so_far"),
            ).collect(),
        )
    )
    assert got == exp


def test_watermark_drops_late_rows_and_reports_them(spark, tmp_path):
    """Late-data contract made observable: a row older than the
    watermark is dropped from the aggregation AND the drop is counted in
    the query's stateOperators metrics — the number an operator at scale
    alarms on. Two micro-batches: batch 1 advances the watermark an hour
    past the stale hour; batch 2's late row must vanish."""
    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    in_dir = tmp_path / "late_in"
    in_dir.mkdir()
    ckpt = str(tmp_path / "ckpt")
    b1 = spark.createDataFrame(
        [
            (1, base, 1, "click", 1.0, "{}"),
            (2, base + dt.timedelta(hours=3), 1, "click", 1.0, "{}"),
        ],
        schema,
    )
    b1.coalesce(1).write.parquet(str(in_dir / "b1"))
    stream = spark.readStream.schema(b1.schema).option(
        "maxFilesPerTrigger", "1"
    ).parquet(str(in_dir) + "/*")
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.date_format("w.start", "yyyy-MM-dd HH:00:00").alias("hour"), "n")
    )
    out_dir = str(tmp_path / "late_out")
    q = (
        agg.writeStream.format("parquet")
        .option("path", out_dir)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # batch 2: one on-time row and one row 3h behind the watermark
    b2 = spark.createDataFrame(
        [
            (3, base + dt.timedelta(hours=3, minutes=5), 1, "click", 1.0, "{}"),
            (4, base, 1, "click", 9.0, "{}"),  # LATE: watermark is 14:00
        ],
        schema,
    )
    b2.coalesce(1).write.parquet(str(in_dir / "b2"))
    q2 = (
        agg.writeStream.format("parquet")
        .option("path", out_dir)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination()
    dropped = sum(
        op.get("numRowsDroppedByWatermark", 0)
        for p in q2.recentProgress
        for op in p["stateOperators"]
    )
    assert dropped >= 1, "the late row was not dropped by the watermark"
    # and the emitted 12:00 window (closed in the run that advanced the
    # watermark past it) counted only the on-time row
    rows = {r.hour: r.n for r in spark.read.parquet(out_dir).collect()}
    assert rows.get("2024-01-01 12:00:00") == 1


def test_rate_tumbling_throughput_probe(spark):
    """Sustained-rate probe: a short low-rate run must absorb rows,
    produce windowed aggregates, and report a positive achieved rate."""
    from airflow_iceberg_pipeline_stock_tracker_spark.streaming.throughput import (
        rate_tumbling_throughput,
    )

    r = rate_tumbling_throughput(spark, rows_per_sec=10_000, run_sec=6.0)
    assert r["input_rows"] > 0
    assert r["achieved_rows_per_sec"] > 0
    assert r["result_rows"] > 0
    # at this trivial offer the pipeline must keep up whenever the run
    # produced enough batches to judge (kept_up is None — not a verdict —
    # below the 3-measured-batch floor; a False here is a real failure)
    assert r["kept_up"] is not False
    if r["batches_measured"] >= 3:
        assert r["kept_up"] is True


def test_streaming_pattern_match_equals_batch_regex(spark, sf_dir):
    """The O(1)-state sequence matcher drained over the multi-batch
    ordered stream must equal the batch regex operator row-for-row —
    including across micro-batch boundaries (the landing zone forces 4
    single-file triggers, so vcp runs and error bursts DO straddle
    batches at this fixture size)."""
    from airflow_iceberg_pipeline_stock_tracker_spark.plans.streaming_queries import (
        streaming_pattern_match,
    )
    from airflow_iceberg_pipeline_stock_tracker_spark.plans.timeseries import (
        events_pattern_match,
    )

    got = streaming_pattern_match(spark, sf_dir)
    want = events_pattern_match(spark, sf_dir)
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
    assert got.count() == want.count() > 0


def test_seqmatch_state_drops_replayed_rows(spark):
    """Replay safety: feeding the SAME batch twice through the stateful
    fn must not double-count (the (ts, event_id) high-water drop)."""
    import pandas as pd

    from airflow_iceberg_pipeline_stock_tracker_spark.streaming import seqmatch

    class FakeState:
        def __init__(self):
            self.exists = False
            self._v = None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v = v
            self.exists = True

    pdf = pd.DataFrame(
        {
            "ts": pd.to_datetime(["2024-01-01 00:00:00", "2024-01-01 00:00:01",
                                  "2024-01-01 00:00:02"]),
            "event_id": [1, 2, 3],
            "user_id": [7, 7, 7],
            "event_type": ["view", "click", "purchase"],
        }
    )
    state = FakeState()
    out1 = list(seqmatch._seq_fn((7,), iter([pdf]), state))[0]
    assert out1.iloc[0].n_view_click_purchase == 1
    out2 = list(seqmatch._seq_fn((7,), iter([pdf]), state))[0]  # replay
    assert out2.iloc[0].n_events == 3  # unchanged
    assert out2.iloc[0].n_view_click_purchase == 1  # NOT double-counted


# ---------------------------------------------------------------------------
# capacity_knee ladder logic (probe results faked — no streams started)
# ---------------------------------------------------------------------------

def _fake_probe_seq(results_by_rate):
    """Build a rate_tumbling_throughput stand-in keyed by pinned rate."""
    def fake(spark, rows_per_sec=0, run_sec=0.0, num_partitions=0):
        kept = results_by_rate[rows_per_sec]
        return {
            "pinned_rows_per_sec": rows_per_sec,
            "achieved_rows_per_sec": float(rows_per_sec),
            "kept_up": kept,
            "input_rows": 0,
            "result_rows": 0,
        }
    return fake


def test_capacity_knee_bisects_to_a_1p5x_bracket(monkeypatch):
    """After the ladder's first failure the knee probes the midpoint, so
    the published bracket is ~1.5x, not the ladder's 2x (r9 verdict)."""
    from airflow_iceberg_pipeline_stock_tracker_spark.streaming import throughput

    monkeypatch.setattr(
        throughput,
        "rate_tumbling_throughput",
        _fake_probe_seq({100: True, 200: False, 150: False}),
    )
    knee = throughput.capacity_knee(None, start_rows_per_sec=100, max_steps=4)
    assert knee["max_sustained_rows_per_sec"] == 100
    assert knee["first_failed_offer"] == 150  # bisected down from 200
    assert knee["inconclusive_offer"] is None
    assert [s["pinned_rows_per_sec"] for s in knee["steps"]] == [100, 200, 150]


def test_capacity_knee_never_publishes_inconclusive_as_failed(monkeypatch):
    """kept_up=None after the retry is an INCONCLUSIVE offer: it must
    not appear as first_failed_offer (r9 advice fix)."""
    from airflow_iceberg_pipeline_stock_tracker_spark.streaming import throughput

    monkeypatch.setattr(
        throughput,
        "rate_tumbling_throughput",
        _fake_probe_seq({100: True, 200: None}),
    )
    knee = throughput.capacity_knee(None, start_rows_per_sec=100, max_steps=4)
    assert knee["max_sustained_rows_per_sec"] == 100
    assert knee["first_failed_offer"] is None
    assert knee["inconclusive_offer"] == 200


def test_capacity_knee_retries_and_flags_under_load(monkeypatch):
    """r13 verdict ask #2: when the 1-min loadavg exceeds 1 at ladder
    start the knee re-runs the whole ladder once, keeps the attempt
    with the HIGHER sustained rate (load only deflates the number),
    records both attempts' loadavg, and flags inconclusive_load when
    even the kept attempt started busy."""
    import os as _os

    from airflow_iceberg_pipeline_stock_tracker_spark.streaming import throughput

    # attempt 1 (loaded): sustains 100; attempt 2 (quiet): sustains 200
    ladders = iter(
        [
            {100: True, 200: False, 150: False},
            {100: True, 200: True, 400: False, 300: False},
        ]
    )
    current = {}

    def fake(spark, rows_per_sec=0, run_sec=0.0, num_partitions=0):
        return {
            "pinned_rows_per_sec": rows_per_sec,
            "achieved_rows_per_sec": float(rows_per_sec),
            "kept_up": current["m"][rows_per_sec],
            "input_rows": 0,
            "result_rows": 0,
        }

    real_ladder = throughput._knee_ladder

    def switching_ladder(*a, **kw):
        current["m"] = next(ladders)
        return real_ladder(*a, **kw)

    monkeypatch.setattr(throughput, "rate_tumbling_throughput", fake)
    monkeypatch.setattr(throughput, "_knee_ladder", switching_ladder)
    loads = iter([2.4, 2.4, 0.2, 0.2, 0.2])  # busy first attempt, quiet retry
    monkeypatch.setattr(
        _os, "getloadavg", lambda: (next(loads, 0.2), 0.0, 0.0)
    )
    knee = throughput.capacity_knee(None, start_rows_per_sec=100, max_steps=4)
    assert knee["max_sustained_rows_per_sec"] == 200  # the quiet attempt won
    assert knee["n_attempts"] == 2
    assert knee["inconclusive_load"] is False  # kept attempt started quiet
    assert (
        knee["discarded_attempts"][0]["max_sustained_rows_per_sec"] == 100
    )
    assert knee["loadavg_1m"]["start"] == 0.2


def test_capacity_knee_retries_inconclusive_ladder_end(monkeypatch):
    """A ladder that ends on an inconclusive offer (kept_up None, no
    observed failure) publishes a FLOOR — the always-2-attempts policy
    keeps the better ladder, and a still-suspect best triggers a
    third."""
    import os as _os

    from airflow_iceberg_pipeline_stock_tracker_spark.streaming import throughput

    ladders = iter(
        [
            {100: True, 200: None},               # floor: 100, 200 unmeasured
            {100: True, 200: True, 400: False, 300: False},
        ]
    )
    current = {}

    def fake(spark, rows_per_sec=0, run_sec=0.0, num_partitions=0):
        return {
            "pinned_rows_per_sec": rows_per_sec,
            "achieved_rows_per_sec": float(rows_per_sec),
            "kept_up": current["m"][rows_per_sec],
            "input_rows": 0,
            "result_rows": 0,
        }

    real_ladder = throughput._knee_ladder

    def switching_ladder(*a, **kw):
        current["m"] = next(ladders)
        return real_ladder(*a, **kw)

    monkeypatch.setattr(throughput, "rate_tumbling_throughput", fake)
    monkeypatch.setattr(throughput, "_knee_ladder", switching_ladder)
    monkeypatch.setattr(_os, "getloadavg", lambda: (0.1, 0.0, 0.0))
    knee = throughput.capacity_knee(None, start_rows_per_sec=100, max_steps=4)
    assert knee["max_sustained_rows_per_sec"] == 200
    assert knee["first_failed_offer"] == 300  # bisected
    assert knee["n_attempts"] == 2
    assert knee["discarded_attempts"][0]["inconclusive_offer"] == 200


def test_events_micro_batch_parity_counts_on_the_executors(
    spark, sf_dir, monkeypatch
):
    """The parity row counts each side of its diff on the executors: no
    collect made while it runs brings more than 3 rows to the driver,
    however many (hour, event_type) groups the batch side has."""
    from airflow_iceberg_pipeline_stock_tracker_spark.plans.streaming_queries import (
        events_micro_batch_parity,
    )

    frame_cls = type(spark.range(1))  # the concrete DataFrame class
    sizes: list[int] = []
    collect = frame_cls.collect

    def spied(self):
        rows = collect(self)
        sizes.append(len(rows))
        return rows

    monkeypatch.setattr(frame_cls, "collect", spied)
    row = events_micro_batch_parity(spark, sf_dir).collect()[0]
    monkeypatch.undo()
    assert (row.n_only_batch, row.n_only_stream) == (0, 0)
    assert row.keys_only_batch == row.keys_only_stream == ""
    assert row.n_rows > 3
    assert sizes and max(sizes) <= 3, sizes


def test_parity_summary_names_the_diverging_keys(spark):
    from airflow_iceberg_pipeline_stock_tracker_spark.plans.streaming_queries import (
        _parity_summary,
    )

    schema = "k string, d date, v int"
    day = dt.date(2024, 1, 2)
    batch = spark.createDataFrame(
        [("A", day, 1), ("B", day, 2), ("C", day, 3), ("C", day, 3)], schema
    )
    stream = spark.createDataFrame(
        [("A", day, 1), ("B", day, 9), ("C", day, 3), ("D", day, 4)], schema
    )
    # B differs in a value column, one C duplicate is missing, D is extra
    assert _parity_summary(batch, stream, ["k", "d"]) == (
        2,
        2,
        4,
        "B|2024-01-02,C|2024-01-02",
        "B|2024-01-02,D|2024-01-02",
    )
