"""CDC apply: fold a change stream into a keyed table via MERGE per batch.

The lakehouse standard for consuming change streams (Debezium topics,
order events, balance updates) is foreachBatch + MERGE INTO: each
micro-batch becomes a small keyed changeset upserted into the target
table. This module drives ``operators/merge.py::merge_upsert`` from a
streaming query — per batch the changeset broadcasts into the target's
three-branch merge, so the target never shuffles, and the final table
equals the one-shot batch aggregate (the parity the oracle checks).

Replay safety: the target swap is rename-aside (write staged, rotate),
so a crash leaves either the live dir or its ``.old`` sibling holding
the pre-batch table; ``_read_target`` restores the sibling if the crash
hit between the two renames, and the checkpoint decides whether the
batch re-runs. A batch can also be re-delivered after its swap fully
completed (the checkpoint's offset commit was lost). The merge
accumulates, so that re-run would double-apply; instead the staged dir
carries a ``_txn.json`` high-water map ``{run_id: batch_id}`` (the
snapshot sink's txn pattern: ``run_id`` is the checkpoint's
``run_id_for_checkpoint``, because batch ids restart at 0 per
checkpoint), written before the rename so it moves atomically with the
data, and a batch at or below its run's high-water returns without
writing. The parquet reader skips ``_``-prefixed files.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.money import cents
from ..operators.merge import merge_upsert
from .drain import drain, file_stream
from .snapshot_sink import run_id_for_checkpoint

TARGET_SCHEMA = "user_id bigint, n_events bigint, bal_cents bigint"

TXN_FILE = "_txn.json"


def _read_target(spark: SparkSession, target_dir: str) -> DataFrame:
    old = target_dir + ".old"
    if not os.path.isdir(target_dir) and os.path.isdir(old):
        # crashed BETWEEN the two renames: the live dir is gone and the
        # pre-batch table sits aside in .old — restore it before reading,
        # or the replayed batch would fold into an empty target and every
        # earlier batch's state would be silently lost
        os.rename(old, target_dir)
    if os.path.isdir(target_dir):
        return spark.read.schema(TARGET_SCHEMA).parquet(target_dir)
    from ..sources.tables import local_df

    return local_df(spark, [], TARGET_SCHEMA)


def _applied(target_dir: str) -> dict[str, int]:
    """The target's ``{run_id: high-water batch_id}`` map."""
    path = os.path.join(target_dir, TXN_FILE)
    if not os.path.exists(path):
        return {}
    with open(path) as f:
        return json.load(f)


def apply_purchases_batch(
    batch: DataFrame, batch_id: int, target_dir: str, run_id: str
) -> None:
    """One CDC apply step: aggregate the batch's purchases per user and
    MERGE into the balance table (matched: accumulate; new user: insert).
    A no-op when ``batch_id`` is at or below ``run_id``'s high-water.
    """
    spark = batch.sparkSession
    target = _read_target(spark, target_dir)
    applied = _applied(target_dir)
    if batch_id <= applied.get(run_id, -1):
        return
    src = (
        batch.where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(cents("value")).alias("bal_cents"),
        )
    )
    merged = merge_upsert(
        target,
        F.broadcast(src),
        keys=["user_id"],
        when_matched={
            "n_events": F.col("t.n_events") + F.col("s.n_events"),
            "bal_cents": F.col("t.bal_cents") + F.col("s.bal_cents"),
        },
        when_not_matched={
            "n_events": F.col("s.n_events"),
            "bal_cents": F.col("s.bal_cents"),
        },
    )
    # merged reads target_dir lazily: materialize to a staged dir first,
    # then rotate rename-aside (same crash discipline as layout.py)
    staged, old = target_dir + ".staged", target_dir + ".old"
    shutil.rmtree(staged, ignore_errors=True)
    shutil.rmtree(old, ignore_errors=True)
    merged.write.mode("overwrite").parquet(staged)
    with open(os.path.join(staged, TXN_FILE), "w") as f:
        json.dump({**applied, run_id: batch_id}, f)
    if os.path.isdir(target_dir):
        os.rename(target_dir, old)
    os.rename(staged, target_dir)
    shutil.rmtree(old, ignore_errors=True)


def run_merge_apply(
    spark: SparkSession, events_dir: str, target_dir: str, checkpoint_dir: str
) -> None:
    """Drain an events directory, one file per micro-batch, through the
    CDC apply loop."""
    run_id = run_id_for_checkpoint(checkpoint_dir)
    drain(
        file_stream(spark, events_dir),
        checkpoint_dir,
        lambda b, i: apply_purchases_batch(b, i, target_dir, run_id),
    )
