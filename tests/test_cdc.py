"""CDC merge-apply loop (streaming/cdc.py): incremental fold parity,
restart no-op, the replayed-batch no-op and the crash-safe target
rotation."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from airflow_iceberg_pipeline_stock_tracker_spark.sources.tables import load_table
from airflow_iceberg_pipeline_stock_tracker_spark.streaming import cdc


def _batch_expected(spark, sf_dir):
    return {
        r.user_id: (r.n, r.bal)
        for r in load_table(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("bal"),
        )
        .collect()
    }


def test_incremental_merge_fold_equals_batch_aggregate(spark, sf_dir, tmp_path):
    ev = load_table(spark, sf_dir, "events")
    src = str(tmp_path / "events4")
    ev.repartition(4).write.mode("overwrite").parquet(src)
    tgt = str(tmp_path / "balances")
    cdc.run_merge_apply(spark, src, tgt, str(tmp_path / "ckpt"))

    got = {
        r.user_id: (r.n_events, r.bal_cents)
        for r in spark.read.schema(cdc.TARGET_SCHEMA).parquet(tgt).collect()
    }
    assert got == _batch_expected(spark, sf_dir)

    # restart against the same checkpoint: nothing new -> target unchanged
    cdc.run_merge_apply(spark, src, tgt, str(tmp_path / "ckpt"))
    again = {
        r.user_id: (r.n_events, r.bal_cents)
        for r in spark.read.schema(cdc.TARGET_SCHEMA).parquet(tgt).collect()
    }
    assert again == got


def test_apply_batch_rotation_leaves_no_stray_dirs(spark, sf_dir, tmp_path):
    ev = load_table(spark, sf_dir, "events").limit(200)
    tgt = str(tmp_path / "t")
    cdc.apply_purchases_batch(ev, 0, tgt, "run")
    cdc.apply_purchases_batch(ev, 1, tgt, "run")  # exercises rename-aside
    assert os.path.isdir(tgt)
    assert not os.path.exists(tgt + ".staged")
    assert not os.path.exists(tgt + ".old")
    # two batch ids over the same rows are two deliveries by contract
    # (different offsets): both fold
    row = (
        spark.read.schema(cdc.TARGET_SCHEMA)
        .parquet(tgt)
        .agg(F.sum("n_events").alias("n"))
        .collect()[0]
    )
    expected = ev.where(F.col("event_type") == "purchase").count()
    assert row.n == 2 * expected


def test_crash_between_renames_recovers_pre_batch_state(spark, sf_dir, tmp_path):
    """Simulate dying after `target -> .old` but before `staged ->
    target`: the next apply must restore .old and fold on top of it,
    not rebuild from an empty table."""
    ev = load_table(spark, sf_dir, "events").limit(400)
    tgt = str(tmp_path / "t")
    cdc.apply_purchases_batch(ev, 0, tgt, "run")
    before = {
        r.user_id: (r.n_events, r.bal_cents)
        for r in spark.read.schema(cdc.TARGET_SCHEMA).parquet(tgt).collect()
    }
    os.rename(tgt, tgt + ".old")  # the crash window state

    empty = ev.where(F.lit(False))
    cdc.apply_purchases_batch(empty, 1, tgt, "run")  # replayed empty batch
    after = {
        r.user_id: (r.n_events, r.bal_cents)
        for r in spark.read.schema(cdc.TARGET_SCHEMA).parquet(tgt).collect()
    }
    assert after == before
    assert not os.path.exists(tgt + ".old")


def _n_events(spark, tgt):
    return (
        spark.read.schema(cdc.TARGET_SCHEMA)
        .parquet(tgt)
        .agg(F.sum("n_events"))
        .collect()[0][0]
    )


def test_redelivered_batch_is_a_no_op(spark, sf_dir, tmp_path):
    """A batch re-delivered after its swap completed (offset commit
    lost) must not fold twice; the high-water is per run, so a second
    run's batch 0 still applies."""
    ev = load_table(spark, sf_dir, "events").limit(300)
    expected = ev.where(F.col("event_type") == "purchase").count()
    tgt = str(tmp_path / "t")
    cdc.apply_purchases_batch(ev, 0, tgt, "run-a")
    cdc.apply_purchases_batch(ev, 0, tgt, "run-a")  # re-delivery
    assert _n_events(spark, tgt) == expected
    cdc.apply_purchases_batch(ev, 0, tgt, "run-b")
    assert _n_events(spark, tgt) == 2 * expected
