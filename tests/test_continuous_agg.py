"""Incremental OHLC continuous-aggregate maintenance."""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from airflow_iceberg_pipeline_stock_tracker_spark.operators import analytics
from airflow_iceberg_pipeline_stock_tracker_spark.sources.tables import load_table
from airflow_iceberg_pipeline_stock_tracker_spark.streaming import continuous_agg

DB = "caggtest"


@pytest.fixture()
def db(spark):
    spark.sql(f"DROP DATABASE IF EXISTS {DB} CASCADE")
    yield DB
    spark.sql(f"DROP DATABASE IF EXISTS {DB} CASCADE")
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    shutil.rmtree(f"{wh}/{DB.lower()}.db", ignore_errors=True)


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_incremental_folds_equal_batch_recompute(spark, sf_dir, db, tmp_path):
    """Events folded in 1-file micro-batches through the partial-state
    table must render bit-identical bars to the batch operator's full
    recompute — associativity of the packed-struct partials, across
    arbitrary batch boundaries."""
    ev = load_table(spark, sf_dir, "events")
    events_dir = str(tmp_path / "ev_inc")
    # 4 files -> 4 micro-batches, each spanning many hours (worst case:
    # every batch touches every date partition)
    ev.repartition(4).write.parquet(events_dir)

    continuous_agg.run_ohlc_stream(spark, events_dir, str(tmp_path / "ckpt"), db=db)
    got = _rows(continuous_agg.rendered_bars(spark, db))
    want = _rows(analytics.ohlc_bars(ev))
    assert got == want


def test_incremental_extends_on_new_data_and_is_idempotent(
    spark, sf_dir, db, tmp_path
):
    ev = load_table(spark, sf_dir, "events")
    jan1 = ev.where(F.dayofmonth("ts") <= 5)
    rest = ev.where(F.dayofmonth("ts") > 5)
    events_dir = str(tmp_path / "ev_ext")
    ckpt = str(tmp_path / "ckpt_ext")

    jan1.coalesce(1).write.mode("append").parquet(events_dir)
    continuous_agg.run_ohlc_stream(spark, events_dir, ckpt, db=db)
    first = _rows(continuous_agg.rendered_bars(spark, db))
    assert first == _rows(analytics.ohlc_bars(jan1))

    # restart over the same checkpoint with only NEW files added
    rest.coalesce(1).write.mode("append").parquet(events_dir)
    continuous_agg.run_ohlc_stream(spark, events_dir, ckpt, db=db)
    assert _rows(continuous_agg.rendered_bars(spark, db)) == _rows(
        analytics.ohlc_bars(ev)
    )

    # no new files: re-drain is a no-op (exactly-once)
    continuous_agg.run_ohlc_stream(spark, events_dir, ckpt, db=db)
    assert _rows(continuous_agg.rendered_bars(spark, db)) == _rows(
        analytics.ohlc_bars(ev)
    )


def test_replayed_batch_id_does_not_double_count(spark, sf_dir, db):
    """The at-least-once window foreachBatch actually has: the state
    write commits, the checkpoint offset commit is lost, and Spark
    re-delivers the SAME batch under the SAME batch_id. The src_batch
    replay guard must make the second delivery a no-op for the rendered
    bars — no doubled volume/sum_cents."""
    ev = load_table(spark, sf_dir, "events")
    want = _rows(analytics.ohlc_bars(ev))

    continuous_agg.ensure_state_table(spark, db)
    continuous_agg.process_events_batch(ev, 7, db=db)
    once = _rows(continuous_agg.rendered_bars(spark, db))
    assert once == want

    # crash-replay: identical batch, identical batch_id
    continuous_agg.process_events_batch(ev, 7, db=db)
    assert _rows(continuous_agg.rendered_bars(spark, db)) == want

    # a genuinely NEW batch_id over the same rows IS double-delivery by
    # contract (different offsets) and must fold — guard discriminates
    # on batch identity, not content
    continuous_agg.process_events_batch(ev, 8, db=db)
    doubled = {
        r for r in _rows(continuous_agg.rendered_bars(spark, db))
    }
    assert doubled != set(want)


def test_compaction_is_render_invariant_and_idempotent(
    spark, sf_dir, db, tmp_path
):
    ev = load_table(spark, sf_dir, "events")
    events_dir = str(tmp_path / "ev_cmp")
    ev.repartition(3).write.parquet(events_dir)
    continuous_agg.run_ohlc_stream(
        spark, events_dir, str(tmp_path / "ckpt_cmp"), db=db
    )
    before = _rows(continuous_agg.rendered_bars(spark, db))
    n_partials = spark.table(f"{db}.{continuous_agg.BARS_TABLE}").count()

    continuous_agg.compact_state(spark, db)
    st = spark.table(f"{db}.{continuous_agg.BARS_TABLE}")
    assert st.count() < n_partials  # actually folded batch rows
    assert set(
        r.src_batch for r in st.select("src_batch").distinct().collect()
    ) == {continuous_agg.COMPACTED_BATCH}
    assert _rows(continuous_agg.rendered_bars(spark, db)) == before

    continuous_agg.compact_state(spark, db)  # converges
    assert _rows(continuous_agg.rendered_bars(spark, db)) == before
