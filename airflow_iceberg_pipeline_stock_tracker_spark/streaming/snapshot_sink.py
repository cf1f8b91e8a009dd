"""Exactly-once streaming sink through the snapshot layer.

The reference writes its streaming-shaped daily loads into Iceberg
tables, whose commit protocol is what makes `foreachBatch` exactly-once
in practice (a replayed batch must not double-append). This module
composes the repo's two halves of that story: Structured Streaming's
micro-batch replay (a batch id is stable across retries) and
`sources/snapshots.py`'s CAS manifest commits with an idempotent txn —
the txn makes re-delivery a no-op *inside the same compare-and-swap
loop that publishes the manifest*, so even a crash between the sink's
data write and its commit cannot double-apply.

Txn namespacing (Delta's txnAppId+txnVersion pattern): batch ids are
only unique WITHIN one streaming query's checkpoint — they restart at 0
for every fresh checkpoint. A bare ``batch-{id}`` idempotency key would
therefore make a SECOND drain into the same table silently drop all its
micro-batches as "replays" of the first drain's. Each sink carries a
``run_id`` — a hash of the checkpoint directory's FULL normalized path
(exactly as stable as the batch ids it qualifies; a basename would
collide for ``/jobA/checkpoint`` vs ``/jobB/checkpoint``, r8 advice):
same checkpoint → same run_id → crash-replay stays a no-op; new
checkpoint → new run_id → new data commits. The commit records
``txn=(run_id, batch_id)``, so the manifest keeps ONE high-water batch
id per run — O(runs), never O(micro-batches) — and any batch id at or
below it is a replay.

Scale notes: each micro-batch append is O(batch) data + one ~KB
manifest publish; the snapshot table is readable (with time travel)
DURING ingestion because readers resolve a committed manifest first.
"""

from __future__ import annotations

import hashlib
import os
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame

from ..sources import snapshots
from .drain import drain


def run_id_for_checkpoint(checkpoint_dir: str) -> str:
    """Stable stream identity: hash of the checkpoint's full normalized
    absolute path. Two different checkpoints can never share a run_id
    (the r8 basename bug), and the same checkpoint always reproduces
    its run_id across restarts — the same lifetime as the batch ids the
    run_id namespaces."""
    canon = os.path.abspath(os.path.normpath(checkpoint_dir))
    return hashlib.sha256(canon.encode("utf-8")).hexdigest()[:16]


def snapshot_append_sink(
    table_dir: str, run_id: str
) -> Callable[[DataFrame, int], None]:
    """foreachBatch handler: append each micro-batch as one
    transactional snapshot commit. Safe under Structured Streaming's
    replay contract: ``txn=(run_id, batch_id)`` is the idempotency key
    (batch ids are monotonic per checkpoint, which is the txn pattern's
    one requirement) — pass the run_id that owns the stream's checkpoint
    (``drain_to_snapshots`` derives it from the checkpoint path).

    ``run_id`` is REQUIRED and non-empty: two streams silently sharing
    a default app-id on one table would make the second stream's
    batches at-or-below the first's high-water version vanish as
    replays (r9 advice fix)."""
    if not run_id:
        raise ValueError(
            "snapshot_append_sink needs a non-empty run_id — derive it "
            "from the stream's checkpoint via run_id_for_checkpoint()"
        )

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        snapshots.commit(
            batch_df, table_dir, mode="append", txn=(run_id, batch_id)
        )

    return handle


def drain_to_snapshots(
    stream_df: DataFrame, table_dir: str, checkpoint_dir: str | None = None
) -> str:
    """Drain an AvailableNow stream into ``table_dir`` via txn
    snapshot commits; blocks until every pending micro-batch committed.

    Returns the run_id used for the drain's txns. Re-running with the
    SAME ``checkpoint_dir`` resumes/replays idempotently (same run_id,
    same batch ids); a fresh call mints a fresh checkpoint AND a fresh
    run_id, so repeated drains into one table each land their data
    instead of being mistaken for replays."""
    if checkpoint_dir is None:
        checkpoint_dir = tempfile.mkdtemp(prefix="snap_sink_ckpt_")
    run_id = run_id_for_checkpoint(checkpoint_dir)
    drain(stream_df, checkpoint_dir, snapshot_append_sink(table_dir, run_id))
    return run_id
