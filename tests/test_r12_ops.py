"""Round-12 operators: prices_aroon and the streaming HLL register sink.

Reference scope: extension tier — the reference DAG
(/root/reference/dags/dag.py) keeps only exact SQL aggregates; these
cover the indicator and at-scale-sketch surfaces around it.
"""

from __future__ import annotations

import datetime as dt
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from airflow_iceberg_pipeline_stock_tracker_spark.operators.finance import (  # noqa: E402
    AROON_PERIOD,
    aroon,
)


def _prices(spark, bars, ticker="T", start=dt.date(2024, 1, 1)):
    """bars: list of (high, low, close) in dollars."""
    return spark.createDataFrame(
        [
            (ticker, start + dt.timedelta(days=i), c, h, lo, c, 100.0)
            for i, (h, lo, c) in enumerate(bars)
        ],
        "ticker string, date date, open double, high double, low double, "
        "close double, volume double",
    )


def test_aroon_matches_bruteforce_python(spark):
    """Window argmax via the packed-int key must equal the obvious
    quadratic reference on a deterministic wiggly series."""
    n = AROON_PERIOD + 15
    bars = []
    for i in range(n):
        h = 100.0 + ((i * 13) % 29)
        lo = 90.0 - ((i * 7) % 11)
        bars.append((h, lo, (h + lo) / 2))
    out = aroon(_prices(spark, bars)).collect()
    assert len(out) == n - AROON_PERIOD

    hc = [round(h * 100) for h, _, _ in bars]
    lc = [round(lo * 100) for _, lo, _ in bars]
    for r in out:
        i = (r.date - dt.date(2024, 1, 1)).days  # 0-based bar index
        w0 = i - AROON_PERIOD
        win_h = hc[w0 : i + 1]
        win_l = lc[w0 : i + 1]
        # charting convention: ties break toward the most recent bar
        hi_pos = max(range(len(win_h)), key=lambda j: (win_h[j], j))
        lo_pos = max(range(len(win_l)), key=lambda j: (-win_l[j], j))
        ds_h = AROON_PERIOD - hi_pos
        ds_l = AROON_PERIOD - lo_pos
        assert r.days_since_high == ds_h and r.days_since_low == ds_l
        assert r.aroon_up == (AROON_PERIOD - ds_h) * (100 // AROON_PERIOD)
        assert r.aroon_down == (AROON_PERIOD - ds_l) * (100 // AROON_PERIOD)
        assert r.oscillator == r.aroon_up - r.aroon_down


def test_aroon_tie_breaks_to_most_recent_bar(spark):
    """Two equal highs inside the window: days_since_high must count
    from the LATER one (the packed key's + rn term)."""
    flat = [(10.0, 9.0, 9.5)] * (AROON_PERIOD + 1)
    out = aroon(_prices(spark, flat + [(10.0, 9.0, 9.5)])).collect()
    # every bar in the window carries the identical high/low, so the
    # most-recent-tie rule pins both distances to 0 on every output row
    for r in out:
        assert r.days_since_high == 0 and r.days_since_low == 0
        assert r.aroon_up == 100 and r.aroon_down == 100 and r.oscillator == 0


def test_aroon_emits_only_full_windows_and_rejects_bad_period(spark):
    bars = [(10.0 + i, 9.0, 9.5) for i in range(AROON_PERIOD + 3)]
    out = aroon(_prices(spark, bars)).collect()
    assert len(out) == 3  # rn > period only
    # monotone rising highs: the max is always the current bar
    assert all(r.days_since_high == 0 and r.aroon_up == 100 for r in out)
    with pytest.raises(ValueError, match="divide 100"):
        aroon(_prices(spark, bars), period=7)


def _events_dir(spark, tmp_path, rows):
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    d = str(tmp_path / "sf")
    os.makedirs(d, exist_ok=True)
    df.write.parquet(os.path.join(d, "events.parquet"))
    return d


def _fresh_db(spark, db):
    import shutil

    spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    shutil.rmtree(f"{wh}/{db}.db", ignore_errors=True)


def test_hll_sink_merge_equals_onepass_across_batches(spark, tmp_path):
    """Users split (and OVERLAPPING) across micro-batches: the stored
    per-batch register partials max-merged at read must equal the
    one-pass build over all events, register for register."""
    from airflow_iceberg_pipeline_stock_tracker_spark.streaming import sketch_sinks

    base = dt.datetime(2024, 3, 1)
    # 600 users over two batches with a 200-user overlap
    b0 = [(i, base, i, "a", 1.0, "{}") for i in range(400)]
    b1 = [(10_000 + i, base, i, "a", 1.0, "{}") for i in range(200, 600)]
    all_rows = b0 + b1
    d = _events_dir(spark, tmp_path, all_rows)

    db = "hll_sink_test"
    _fresh_db(spark, db)
    df0 = spark.createDataFrame(
        b0,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    df1 = spark.createDataFrame(
        b1,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    sketch_sinks.process_hll_batch(df0, 0, db=db)
    sketch_sinks.process_hll_batch(df1, 1, db=db)

    merged = {
        (r.event_type, r.bucket): r.maxrho
        for r in sketch_sinks.merged_registers(spark, db).collect()
    }
    ev = spark.read.parquet(os.path.join(d, "events.parquet"))
    onepass = {
        (r.event_type, r.bucket): r.maxrho
        for r in sketch_sinks._batch_registers(ev).collect()
    }
    assert merged == onepass
    _fresh_db(spark, db)


def test_hll_sink_replay_is_idempotent_by_partition_layout(spark, tmp_path):
    """Re-delivering a batch_id (the at-least-once window) must leave
    the state table byte-identical: the write targets only its own
    src_batch partition with a pure function of the batch."""
    from airflow_iceberg_pipeline_stock_tracker_spark.streaming import sketch_sinks

    base = dt.datetime(2024, 3, 1)
    df = spark.createDataFrame(
        [(i, base, i, "a", 1.0, "{}") for i in range(300)],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    db = "hll_replay_test"
    _fresh_db(spark, db)
    sketch_sinks.process_hll_batch(df, 0, db=db)
    before = sorted(
        map(tuple, spark.table(f"{db}.{sketch_sinks.REGISTERS_TABLE}").collect())
    )
    sketch_sinks.process_hll_batch(df, 0, db=db)  # replay
    after = sorted(
        map(tuple, spark.table(f"{db}.{sketch_sinks.REGISTERS_TABLE}").collect())
    )
    assert before == after
    # and a replay with a STALE subset of the batch (offset lost, source
    # re-listed differently) still converges to that batch's pure
    # function — the partition is overwritten, not appended
    sketch_sinks.process_hll_batch(df.limit(50), 0, db=db)
    sketch_sinks.process_hll_batch(df, 0, db=db)
    final = sorted(
        map(tuple, spark.table(f"{db}.{sketch_sinks.REGISTERS_TABLE}").collect())
    )
    assert final == before
    _fresh_db(spark, db)


def test_hll_stream_drain_matches_batch_estimates(spark, tmp_path):
    """End-to-end through readStream/foreachBatch (multi-file source,
    1 file per trigger): the rendered estimates equal the one-pass
    registers' estimates and the register-equality flag holds."""
    import tempfile

    from airflow_iceberg_pipeline_stock_tracker_spark.plans.streaming_queries import (
        streaming_hll_incremental,
    )
    from airflow_iceberg_pipeline_stock_tracker_spark.plans.timeseries import (
        events_hll_distinct,
    )

    base = dt.datetime(2024, 3, 1)
    rows = [
        (i, base + dt.timedelta(minutes=i % 60), i % 500,
         "ab"[i % 2], 1.0, "{}")
        for i in range(2000)
    ]
    d = _events_dir(spark, tmp_path, rows)
    out = {
        r.event_type: r
        for r in streaming_hll_incremental(spark, d).collect()
    }
    ref = {
        r.event_type: r for r in events_hll_distinct(spark, d).collect()
    }
    assert set(out) == set(ref) == {"a", "b"}
    for t in out:
        assert out[t].registers_equal_onepass is True
        assert out[t].n_registers == ref[t].n_registers
        assert out[t].hll_estimate == ref[t].hll_estimate  # bit-exact


def test_aroon_packed_key_preconditions_fail_fast(spark):
    """Cents past 2^40 (corrupt data) must RAISE, never silently pack
    into the wrong key bits (review-found: the docstring claimed an
    assert that didn't exist)."""
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    huge = float((1 << 40) // 100 + 1)  # high_c lands above 2^40 cents
    bars = [(10.0, 9.0, 9.5)] * (AROON_PERIOD + 1) + [(huge, 9.0, 9.5)]
    with pytest.raises(SparkRuntimeException, match="precondition"):
        aroon(_prices(spark, bars)).collect()
