"""transformWithState operator: per-user running totals with ValueState.

Spark 4's arbitrary-state API (`transformWithStateInPandas` +
``StatefulProcessor``) supersedes ``applyInPandasWithState`` with typed
state handles (ValueState/ListState/MapState), TTL, and timers — the
shape long-running keyed enrichment services need. This operator is the
minimal real use: each user's (event count, exact-cents value total)
lives in a ValueState, and every arriving event emits its running
prefix — a streaming enrichment every feature pipeline computes
(e.g. "user's lifetime spend at event time" as a training feature,
computed WITHOUT label leakage because only the prefix is visible).

Determinism contract (what makes the drained result oracle-checkable):
  * cents are rounded JVM-side BEFORE crossing into Python (per-row
    exact, engine-identical);
  * within a micro-batch each user's rows are sorted by (ts, event_id)
    after concatenating the group's Arrow chunks;
  * across micro-batches the prefix carries in state, so the running
    totals equal the batch window ``SUM/COUNT OVER (PARTITION BY user
    ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING)`` as long as batch
    order respects event-time order per user (single-batch drains
    trivially satisfy this; the multi-batch contract matches
    stateful.py's rolling operator).

Scale: O(1) state per user (two int64s), one hash exchange on user_id,
Arrow-batched transfer — never per-row Python.

Environment gate: the transformWithState protocol speaks protobuf
between the JVM state server and the Python worker; this container has
no `protobuf` package (and installs are off-limits), so the operator is
exercised by a pytest that SKIPS visibly here and runs wherever
protobuf exists — the same honest-gate pattern as the Iceberg runtime
(tests/test_iceberg.py). It is deliberately NOT registered as a driver
query: it would crash the sweep in this environment.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle
from pyspark.sql.types import LongType, StructField, StructType



def tws_available() -> bool:
    """True iff the transformWithState python protocol can run here."""
    try:
        from google.protobuf import descriptor  # noqa: F401
        return True
    except ImportError:
        return False

OUTPUT_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("user_id", LongType()),
        StructField("n_so_far", LongType()),
        StructField("cents_so_far", LongType()),
    ]
)


class RunningTotalsProcessor(StatefulProcessor):
    """ValueState[(n, cents)] per user; emits the running prefix per event."""

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._totals = handle.getValueState(
            "totals", "n BIGINT, cents BIGINT"
        )

    def handleInputRows(
        self, key: tuple, rows: Iterator[pd.DataFrame], timerValues
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        if self._totals.exists():
            n, cents = self._totals.get()
        else:
            n, cents = 0, 0
        chunks = [pdf for pdf in rows if len(pdf)]
        if not chunks:
            return
        pdf = pd.concat(chunks).sort_values(["ts", "event_id"])
        out_n: list[int] = []
        out_c: list[int] = []
        for vc in pdf["value_c"]:
            n += 1
            cents += int(vc)
            out_n.append(n)
            out_c.append(cents)
        self._totals.update((n, cents))
        yield pd.DataFrame(
            {
                "event_id": pdf["event_id"].astype("int64"),
                "user_id": int(user_id),
                "n_so_far": pd.Series(out_n, dtype="int64", index=pdf.index),
                "cents_so_far": pd.Series(out_c, dtype="int64", index=pdf.index),
            }
        )

    def close(self) -> None:
        pass


def running_user_totals(events: DataFrame) -> DataFrame:
    """events stream -> per-event running (count, exact-cents sum) per user."""
    src = events.select(
        "event_id",
        "user_id",
        "ts",
        F.round(F.col("value") * 100).cast("bigint").alias("value_c"),
    )
    return src.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=RunningTotalsProcessor(),
        outputStructType=OUTPUT_SCHEMA,
        outputMode="append",
        timeMode="none",
    )
