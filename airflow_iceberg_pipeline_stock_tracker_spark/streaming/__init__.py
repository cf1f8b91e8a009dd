"""Structured Streaming re-expression of the engine (SURVEY §7.2 M6).

The reference is a daily batch DAG (schedule="@daily",
/root/reference/dags/dag.py:55) with no streaming operators (SURVEY §2.7).
This package is the north-star re-expression: the same validate → promote
→ cumulate semantics driven by `readStream` + `foreachBatch`
(micro_batch.py), plus the event-time operator suite a streaming engine
owes its users — watermarked tumbling/sliding/session windows
(windows.py) and a custom stateful rolling operator
(stateful.py, applyInPandasWithState).

Every foreachBatch sink (micro_batch, cdc, continuous_agg, sketch_sinks,
snapshot_sink) runs on drain.py's one AvailableNow drain, and every
state-sized shuffle goes through its ``state_partitions``.
"""
