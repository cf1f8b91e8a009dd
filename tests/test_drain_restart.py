"""Restart equivalence at the one streaming drain (streaming/drain.py).

Each foreachBatch sink drains two landing files, stops, gets two more
files and drains again on the same checkpoint. Its merged state must
equal a one-shot drain of all four files into a fresh sink. The OHLC
sink has the same test in test_continuous_agg.py.
"""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from airflow_iceberg_pipeline_stock_tracker_spark.sources.tables import load_table
from airflow_iceberg_pipeline_stock_tracker_spark.streaming import cdc, sketch_sinks


def _fresh_db(spark, db):
    spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    shutil.rmtree(f"{wh}/{db}.db", ignore_errors=True)


def _cdc_drain(spark, events_dir, ckpt, target_dir):
    cdc.run_merge_apply(spark, events_dir, target_dir, ckpt)


def _cdc_state(spark, target_dir):
    return spark.read.schema(cdc.TARGET_SCHEMA).parquet(target_dir)


# name -> (drain(spark, events_dir, ckpt, sink), merged state(spark, sink))
SINKS = {
    "hll": (sketch_sinks.run_hll_stream, sketch_sinks.merged_registers),
    "cms": (sketch_sinks.run_cms_stream, sketch_sinks.merged_cms),
    "kmv": (sketch_sinks.run_kmv_stream, sketch_sinks.merged_kmv),
    "cdc": (_cdc_drain, _cdc_state),
}


@pytest.mark.parametrize("name", list(SINKS))
def test_restart_on_same_checkpoint_equals_one_shot_drain(
    spark, sf_dir, tmp_path, name
):
    drain, state = SINKS[name]
    ev = load_table(spark, sf_dir, "events")
    legs, once = str(tmp_path / "legs"), str(tmp_path / "once")

    def land(k):
        part = ev.where(F.col("event_id") % 4 == k).coalesce(1)
        for d in (legs, once):
            part.write.mode("append").parquet(d)

    if name == "cdc":
        sink_legs, sink_once = str(tmp_path / "t_legs"), str(tmp_path / "t_once")
    else:
        sink_legs, sink_once = f"restart_legs_{name}", f"restart_once_{name}"
        _fresh_db(spark, sink_legs)
        _fresh_db(spark, sink_once)

    ckpt = str(tmp_path / "ckpt_legs")
    land(0)
    land(1)
    drain(spark, legs, ckpt, sink_legs)
    land(2)
    land(3)
    drain(spark, legs, ckpt, sink_legs)  # resumes: only the two new files
    drain(spark, once, str(tmp_path / "ckpt_once"), sink_once)

    got = sorted(map(tuple, state(spark, sink_legs).collect()))
    want = sorted(map(tuple, state(spark, sink_once).collect()))
    assert got and got == want
    if name != "cdc":
        _fresh_db(spark, sink_legs)
        _fresh_db(spark, sink_once)
