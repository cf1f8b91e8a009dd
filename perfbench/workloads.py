"""The benchmark's workloads.

Each workload takes a ``Context`` (see run.py), sets up its inputs from
the seed, warms up, runs its measured ops one after another (a closed
loop with one caller) and checks the outputs. It returns an ``Outcome``.
README.md gives the rationale for each workload.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import glob
import json
import os
import random
import statistics
from dataclasses import dataclass, field

# Nominal seconds per unit op on a 4-core host (see README.md). The
# measured section runs round(--seconds / nominal) ops, so it lasts about
# --seconds there and does the same work on every host and commit.
NOMINAL_OP_S = {
    "daily_pipeline": 1.6,
    "analytics": 0.65,
    "llm_ops": 2.2,
    "stream_ingest": 0.7,
}
# daily_pipeline and stream_ingest run at least this many ops, so that
# op_tail_s is a percentile with 10 samples beyond it; the query
# workloads run whole passes instead (see query_rows), at least
# MIN_PASSES, so that each row's latency is sampled more than once
MIN_OPS = 12
MIN_PASSES = 2

ANALYTICS_ROWS = [
    "q1_pricing_summary", "q2_min_cost_supplier", "q3_top_orders",
    "q4_order_priority", "q5_nation_revenue", "q6_forecast_revenue",
    "q7_nation_volume", "q8_market_share", "q9_product_profit",
    "q10_returned_items", "q11_part_value_conc", "q12_late_lines",
    "q13_customer_distribution", "q14_promo_revenue", "q15_top_supplier",
    "q16_supplier_cnt", "q17_small_qty_revenue", "q18_large_orders",
    "q19_disjunctive_preds", "q20_excess_suppliers", "q21_waiting_suppliers",
    "q22_dormant_customers", "cumulate_rolling", "prices_pair_corr",
]
# Three rows on the Python-worker (mapInPandas) path and one with eager
# jobs and shuffles. LLM_MORE_ROWS can be added with --rows; they are
# left out of the default to fit the run budget (see README.md).
LLM_ROWS = [
    "dedup_minhash_lsh", "similarity_ivfpq_topk", "retrieval_rag_recall",
    "multimodal_phash_neardup",
]
LLM_MORE_ROWS = [
    "dedup_simhash", "similarity_sq_topk", "similarity_semdedup",
    "text_bpe_tokenize",
]
QUERY_ROWS = {"analytics": ANALYTICS_ROWS, "llm_ops": LLM_ROWS}

# daily_pipeline
N_TICKERS = 500
PIPELINE_WARMUP_DAYS = 8
# stream_ingest
ROWS_PER_FILE = 20_000
FILE_SPAN_S = 60  # event-time span of one file
MAX_DISORDER_S = 1800  # out-of-order events lag by at most this much
DUP_SHARE = 0.1  # redelivered duplicates per file, as a share of its rows
DISORDER_SHARE = 0.1  # out-of-order events, as a share of a file's new events
REDELIVERY_FILES = 3  # duplicates repeat events of the last few files
STREAM_WARMUP_FILES = 3
READ_REPEATS = 3


@dataclass
class Outcome:
    latencies: list[float]  # one per measured op, seconds
    run_s: float  # wall time of the measured section
    failed: int  # measured ops that raised or whose output was wrong
    problems: list[str] = field(default_factory=list)  # failed checks
    notes: list[str] = field(default_factory=list)  # printed before the result
    layers: dict[str, float] = field(default_factory=dict)  # traced run only


def n_ops(ctx, workload: str) -> int:
    return max(MIN_OPS, round(ctx.seconds / NOMINAL_OP_S[workload]))


@contextlib.contextmanager
def quiet():
    """Silence the package's progress prints (DQ rows) on stdout, whose
    last line is the result."""
    with open(os.devnull, "w") as sink, contextlib.redirect_stdout(sink):
        yield


def median_or_zero(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def _digest(df):
    from tools.selfcheck import frame_digest

    return frame_digest(df.columns, [tuple(r) for r in df.collect()])


# ---------------------------------------------------------------------------
# daily_pipeline
# ---------------------------------------------------------------------------

def _tickers(rng: random.Random, n: int) -> list[str]:
    letters = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
    out: set[str] = set()
    while len(out) < n:
        out.add("".join(rng.choice(letters) for _ in range(rng.choice((3, 4)))))
    return sorted(out)


def _flat_cumulative(spark, db: str):
    """The cumulative table on the oracle's surface: rolling arrays
    exploded to (idx, value) rows, decimals as doubles, no updated_at."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import DecimalType

    from airflow_iceberg_pipeline_stock_tracker_spark import pipeline
    from airflow_iceberg_pipeline_stock_tracker_spark.operators.cumulate import (
        explode_rolling,
    )

    flat = explode_rolling(
        spark.table(f"{db}.{pipeline.CUMULATIVE_TABLE}").drop("updated_at")
    )
    return flat.select(*[
        F.col(f.name).cast("double").alias(f.name)
        if isinstance(f.dataType, DecimalType) else F.col(f.name)
        for f in flat.schema.fields
    ])


def _digests_by_date(cols: list[str], rows: list[tuple]) -> dict[str, str]:
    from tools.selfcheck import frame_digest

    i = cols.index("date")
    groups: dict[str, list[tuple]] = {}
    for r in rows:
        groups.setdefault(str(r[i]), []).append(r)
    return {d: frame_digest(cols, g) for d, g in groups.items()}


def daily_pipeline(ctx) -> Outcome:
    import duckdb

    from airflow_iceberg_pipeline_stock_tracker_spark import pipeline
    from airflow_iceberg_pipeline_stock_tracker_spark.sources.stock_api import (
        DeterministicBarClient,
    )

    rng = random.Random(ctx.seed)
    tickers = _tickers(rng, N_TICKERS)
    start = dt.date(2015, 1, 1) + dt.timedelta(days=rng.randrange(3000))
    n = n_ops(ctx, "daily_pipeline")
    dates = [(start + dt.timedelta(days=d)).isoformat()
             for d in range(PIPELINE_WARMUP_DAYS + n)]
    warm, measured = dates[:PIPELINE_WARMUP_DAYS], dates[PIPELINE_WARMUP_DAYS:]
    client = DeterministicBarClient()
    db = "bench"

    def day(ds: str) -> None:
        with quiet():
            pipeline.run_for_date(ctx.spark, ds, client, tickers, db)

    for ds in warm:
        day(ds)
    ctx.setup_done()

    failed_days: set[str] = set()
    problems: list[str] = []
    t0 = ctx.clock()
    for i, ds in enumerate(measured):
        try:
            with ctx.op(i):
                day(ds)
        except Exception as exc:  # one failed day must not end the run
            failed_days.add(ds)
            problems.append(f"{ds}: {exc!r}"[:300])
    run_s = ctx.clock() - t0

    # oracle: the whole backfill regenerated in DuckDB, compared per date
    flat = _flat_cumulative(ctx.spark, db)
    got = _digests_by_date(flat.columns, [tuple(r) for r in flat.collect()])
    with duckdb.connect() as con:
        rel = con.sql(pipeline.backfill_oracle_sql(dates, tickers))
        want = _digests_by_date(rel.columns, rel.fetchall())
    bad = sorted(d for d in dates if got.get(d) != want.get(d))
    failed_days.update(d for d in measured if d in bad)
    if bad:
        problems.append(f"cumulative table differs from the oracle on {bad}")

    notes = [f"daily_pipeline: {len(tickers)} tickers, {len(warm)} warm-up + "
             f"{len(measured)} measured days from {dates[0]}"]
    layers: dict[str, float] = {}
    if ctx.traced:
        per_op = ctx.recorder.per_op()
        for metric, spans in {
            "pipeline.ddl_s": ("create_schema", "create_prod_table",
                               "create_cumulative_table"),
            "pipeline.create_staging_table_s": ("create_staging_table",),
            "pipeline.load_to_staging_s": ("load_to_staging",),
            "pipeline.run_dq_check_s": ("run_dq_check",),
            "pipeline.promote_s": ("promote",),
            "pipeline.drop_staging_s": ("drop_staging",),
            "pipeline.cumulate_day_s": ("cumulate_day",),
            "sources.fetch_bars_s": ("fetch_bars",),
            "sources.bars_to_df_s": ("bars_to_df",),
        }.items():
            layers[metric] = median_or_zero(
                sum(op.get(s, 0.0) for s in spans) for op in per_op.values()
            )
    return Outcome(ctx.latencies, run_s, len(failed_days), problems, notes, layers)


# pipeline module attributes wrapped in the traced run (span name = attribute)
PIPELINE_TRACE = [
    "run_for_date", "create_schema", "create_prod_table",
    "create_cumulative_table", "create_staging_table", "load_to_staging",
    "run_dq_check", "promote", "drop_staging", "cumulate_day",
    "fetch_bars", "bars_to_df",
]


# ---------------------------------------------------------------------------
# analytics / llm_ops: registered query rows, each fully materialised
# ---------------------------------------------------------------------------

def query_rows(ctx, workload: str) -> Outcome:
    import __spark_entry__ as entry

    from airflow_iceberg_pipeline_stock_tracker_spark.plans import llm_queries

    spark = ctx.spark
    rows = ctx.rows or QUERY_ROWS[workload]
    fns = entry.queries()
    with open(ctx.digests) as f:
        expected = json.load(f)[ctx.scale]
    rng = random.Random(ctx.seed)

    def clear() -> None:
        llm_queries.clear_result_caches()
        spark.catalog.clearCache()

    # warm-up: every row once, cold, with its result checked
    wrong: dict[str, str] = {}
    warm_s: dict[str, float] = {}
    for name in rng.sample(rows, len(rows)):
        clear()
        t = ctx.clock()
        try:
            got = _digest(fns[name](spark, ctx.data_dir))
            warm_s[name] = ctx.clock() - t
        except Exception as exc:  # recorded; the row's ops count as failed
            wrong[name] = f"{name}: {exc!r}"[:300]
            continue
        if got != expected.get(name):
            wrong[name] = f"{name}: digest {got} != expected {expected.get(name)}"
    ctx.setup_done()

    passes = max(MIN_PASSES, round(ctx.seconds / (NOMINAL_OP_S[workload] * len(rows))))
    order = [name for _ in range(passes) for name in rng.sample(rows, len(rows))]
    failed = 0
    problems = list(wrong.values())
    eager = []
    t0 = ctx.clock()
    for i, name in enumerate(order):
        clear()
        try:
            with ctx.op(i):
                if not ctx.traced:
                    fns[name](spark, ctx.data_dir).write.format("noop").mode(
                        "overwrite").save()
                else:
                    a = ctx.windows.mark()
                    with ctx.recorder.span("build"):
                        df = fns[name](spark, ctx.data_dir)
                    eager.append(ctx.windows.mark().job - a.job)
                    with ctx.recorder.span("plan"):
                        df._jdf.queryExecution().executedPlan()
                    with ctx.recorder.span("exec"):
                        df.write.format("noop").mode("overwrite").save()
        except Exception as exc:  # one failed row must not end the run
            failed += 1
            problems.append(f"{name}: {exc!r}"[:300])
            continue
        failed += name in wrong
    run_s = ctx.clock() - t0

    notes = [f"{workload}: {len(rows)} rows at {ctx.scale}, "
             f"{passes} measured passes in seeded order",
             "warm-up: " + " ".join(f"{n}={t:.3f}" for n, t in warm_s.items()),
             "ops: " + " ".join(f"{n}={t:.3f}" for n, t in zip(order, ctx.latencies))]
    layers: dict[str, float] = {}
    if ctx.traced:
        layers = {f"plans.{step}_s": median_or_zero(ctx.recorder.durations(step))
                  for step in ("build", "plan", "exec")}
        layers["plans.eager_jobs"] = median_or_zero(eager)
    return Outcome(ctx.latencies, run_s, failed, problems, notes, layers)


# ---------------------------------------------------------------------------
# stream_ingest
# ---------------------------------------------------------------------------

@dataclass
class Backlog:
    files: list[str]
    delivered: int  # rows in all files, duplicates included
    unique: int  # distinct event ids
    id_sum: int
    v_sum: int
    dup_share: float  # exact: duplicates per file / rows per file


def write_backlog(seed: int, landing: str, n_files: int, rows: int) -> Backlog:
    """``n_files`` event files of ``rows`` rows each, one per micro-batch.

    Every file carries the same number of redelivered duplicates (exact
    copies of seeded events from this or the previous few files, still
    held in the dedup state) and the same share of seeded events whose
    time lags the file's by up to half an hour, inside the 1 h watermark,
    so no event is late. The shares are fixed so that every seed costs
    the same work.
    """
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    dups = round(rows * DUP_SHARE)
    fresh = rows - dups
    t_base = 1_700_000_000 + int(rng.integers(0, 10_000_000))
    os.makedirs(landing)
    recent: list[tuple] = []
    files, id_sum, v_sum = [], 0, 0
    for i in range(n_files):
        ids = np.arange(i * fresh, (i + 1) * fresh, dtype=np.int64)
        ts = (t_base + i * FILE_SPAN_S) * 1_000_000 + rng.integers(
            0, FILE_SPAN_S * 1_000_000, fresh)
        late = rng.choice(fresh, round(fresh * DISORDER_SHARE), replace=False)
        ts[late] -= rng.integers(0, MAX_DISORDER_S * 1_000_000, len(late))
        v = rng.integers(0, 1_000_000, fresh)
        id_sum += int(ids.sum())
        v_sum += int(v.sum())
        recent = (recent + [(ids, ts, v)])[-REDELIVERY_FILES:]
        pool = [np.concatenate(c) for c in zip(*recent)]
        pick = rng.integers(0, len(pool[0]), dups)
        cols = [np.concatenate([c, p[pick]]) for c, p in zip((ids, ts, v), pool)]
        perm = rng.permutation(rows)
        table = pa.table({
            "event_id": cols[0][perm],
            "ts": pa.array(cols[1][perm], type=pa.timestamp("us", tz="UTC")),
            "v": cols[2][perm],
        })
        path = os.path.join(landing, f"events-{i:05d}.parquet")
        pq.write_table(table, path)
        os.utime(path, (t_base + i, t_base + i))  # the source orders by mtime
        files.append(path)
    return Backlog(files, n_files * rows, n_files * fresh, id_sum, v_sum, dups / rows)


def _stream_schema():
    from pyspark.sql.types import LongType, StructField, StructType, TimestampType

    return StructType([
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("v", LongType()),
    ])


def _manifest(table_dir: str) -> tuple[dict, int]:
    """The table's newest manifest and its size in bytes."""
    path = sorted(glob.glob(os.path.join(table_dir, "_manifest-*.json")))[-1]
    with open(path) as f:
        return json.load(f), os.path.getsize(path)


def drain(ctx, landing: str, table_dir: str, checkpoint: str, on_batch=None):
    """AvailableNow drain of ``landing``, one file per micro-batch,
    through dedup_events into the snapshot-append sink. ``on_batch`` is
    called after each batch's commit. Returns the streaming query."""
    from airflow_iceberg_pipeline_stock_tracker_spark.streaming.dedup import (
        dedup_events,
    )
    from airflow_iceberg_pipeline_stock_tracker_spark.streaming.snapshot_sink import (
        run_id_for_checkpoint,
        snapshot_append_sink,
    )

    sink = snapshot_append_sink(table_dir, run_id_for_checkpoint(checkpoint))

    def handle(batch_df, batch_id):
        sink(batch_df, batch_id)
        if on_batch is not None:
            on_batch(batch_id)

    events = (ctx.spark.readStream.schema(_stream_schema())
              .option("maxFilesPerTrigger", 1).parquet(landing))
    q = (dedup_events(events).writeStream.foreachBatch(handle)
         .option("checkpointLocation", checkpoint)
         .trigger(availableNow=True).start())
    q.awaitTermination()
    return q


def _check_table(ctx, table_dir: str, backlog: Backlog) -> tuple[list[str], int]:
    """Compare the drained table with the generated backlog: totals over
    the head snapshot, and the row count each micro-batch committed.
    Returns the problems found and the number of wrong micro-batches."""
    from pyspark.sql import functions as F

    from airflow_iceberg_pipeline_stock_tracker_spark.sources import snapshots

    head = snapshots.read(ctx.spark, table_dir)
    tot = head.agg(F.count("*").alias("n"), F.countDistinct("event_id").alias("d"),
                   F.sum("event_id").alias("ids"), F.sum("v").alias("vs")).first()
    problems = []
    want = (backlog.unique, backlog.unique, backlog.id_sum, backlog.v_sum)
    if (tot.n, tot.d, tot.ids, tot.vs) != want:
        problems.append(f"head totals {(tot.n, tot.d, tot.ids, tot.vs)} != {want}")
    man, _ = _manifest(table_dir)
    snap = next(s for s in man["snapshots"] if s["id"] == man["current"])
    per_dir = dict(
        head.groupBy(F.regexp_extract(F.input_file_name(), r"/(snap-[0-9a-f]+)/", 1)
                     .alias("dir")).count().collect()
    )
    counts = [per_dir.get(d, 0) for d in snap["dirs"]]
    # every file's batch commits its new events; the trailing no-data
    # batch commits nothing; a batch that never committed counts as wrong
    want = [backlog.unique // len(backlog.files)] * len(backlog.files)
    want += [0] * (len(counts) - len(want))
    counts += [None] * (len(want) - len(counts))
    bad = [i for i, (c, w) in enumerate(zip(counts, want)) if c != w]
    if bad:
        problems.append(f"micro-batches {bad} committed the wrong row count")
    return problems, len(bad)


def stream_ingest(ctx) -> Outcome:
    from airflow_iceberg_pipeline_stock_tracker_spark.sources import snapshots

    spark = ctx.spark
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "10000")
    n = n_ops(ctx, "stream_ingest")
    rows = ROWS_PER_FILE
    backlog = write_backlog(ctx.seed, ctx.path("landing"), n, rows)
    warm = write_backlog(ctx.seed + 1, ctx.path("landing-warmup"),
                         STREAM_WARMUP_FILES, rows)

    def reads(table_dir: str, versions: list[int], timed: bool) -> list[float]:
        out = []
        for k in range(READ_REPEATS):
            for fn in (lambda: snapshots.read(spark, table_dir),
                       lambda: snapshots.read_incremental(
                           spark, table_dir, versions[k % len(versions)])):
                t = ctx.clock()
                if timed and ctx.traced:
                    with ctx.recorder.span("read_plan"):
                        df = fn()
                    with ctx.recorder.span("read_exec"):
                        df.write.format("noop").mode("overwrite").save()
                else:
                    fn().write.format("noop").mode("overwrite").save()
                out.append(ctx.clock() - t)
        return out

    drain(ctx, ctx.path("landing-warmup"), ctx.path("table-warmup"),
          ctx.path("checkpoint-warmup"))
    reads(ctx.path("table-warmup"), [1], timed=False)
    ctx.setup_done()

    table_dir, checkpoint = ctx.path("table"), ctx.path("checkpoint")
    ends: list[float] = []
    marks: list = []
    batch_layers: list[dict] = []

    def on_batch(batch_id: int) -> None:
        ends.append(ctx.clock())
        if ctx.traced:
            marks.append(ctx.windows.mark())
            wall = ends[-1] - (ends[-2] if len(ends) > 1 else drain_start)
            batch_layers.append(ctx.windows.summary(marks[-2], marks[-1], wall))
            ctx.recorder.op = batch_id + 1

    failed = 0
    problems: list[str] = []
    t0 = ctx.clock()
    if ctx.traced:
        marks.append(ctx.windows.mark())
        ctx.recorder.op = 0
    drain_start = ctx.clock()
    try:
        q = drain(ctx, ctx.path("landing"), table_dir, checkpoint, on_batch)
    except Exception as exc:  # the drain is all the ops: count them failed
        q = None
        problems.append(f"drain: {exc!r}"[:300])
    drain_s = ctx.clock() - drain_start
    if ctx.traced:
        ctx.recorder.op = -1
    latencies = [b - a for a, b in zip([drain_start] + ends, ends)]
    if q is None:
        failed = len(latencies)
    n_batches = len(ends)
    versions = [max(1, n_batches * k // (READ_REPEATS + 1)) for k in range(1, READ_REPEATS + 1)]
    read_s = reads(table_dir, versions, timed=True) if q is not None else []
    run_s = ctx.clock() - t0

    if q is not None:
        bad, n_bad = _check_table(ctx, table_dir, backlog)
        problems += bad
        failed += n_bad
    rows_per_s = backlog.delivered / drain_s
    notes = [
        f"stream_ingest: {n} files x {rows} rows, duplicate share "
        f"{backlog.dup_share:.4f}, {n_batches} micro-batches",
        f"rows_per_s {rows_per_s:.1f} rows/s (delivered rows, duplicates "
        f"included, over the drain)",
        f"read_p50_s {median_or_zero(read_s):.4f} s ({len(read_s)} snapshot reads)",
    ]
    layers: dict[str, float] = {}
    if ctx.traced and q is not None:
        layers = _stream_layers(ctx, q, table_dir, backlog, batch_layers, rows_per_s)
        ctx.spark_ops.extend(batch_layers)
        # committed / delivered must be 1 - duplicate share, exactly
        if round(layers["streaming.dedup_yield"] * backlog.delivered) != backlog.unique:
            problems.append(f"dedup_yield {layers['streaming.dedup_yield']} != "
                            f"1 - duplicate share {backlog.dup_share}")
    return Outcome(latencies, run_s, failed, problems, notes, layers)


def _stream_layers(ctx, q, table_dir, backlog, batch_layers,
                   rows_per_s) -> dict[str, float]:
    progress = [json.loads(p.json) for p in q.recentProgress]
    data = [p for p in progress if p["numInputRows"] > 0]
    ops = [p["stateOperators"][0] for p in progress if p.get("stateOperators")]

    def phase(key: str) -> float:
        return median_or_zero(p["durationMs"].get(key, 0) for p in data)

    commit = ctx.recorder.durations("commit")
    busy = [b["stage_busy_s"] for b in batch_layers]
    man, man_bytes = _manifest(table_dir)
    snap = next(s for s in man["snapshots"] if s["id"] == man["current"])
    files = [os.path.join(d, f) for d, _, fs in os.walk(table_dir) for f in fs]
    committed = sum(s["numInputRows"] for s in data) - sum(
        o.get("customMetrics", {}).get("numDroppedDuplicateRows", 0) for o in ops)
    return {
        "sources.snapshot_commit_s": median_or_zero(commit),
        "sources.snapshot_commit_driver_s": median_or_zero(
            max(c - b, 0.0) for c, b in zip(commit, busy)),
        "sources.snapshot_read_plan_s": median_or_zero(
            ctx.recorder.durations("read_plan", measured_only=False)),
        "sources.snapshot_read_exec_s": median_or_zero(
            ctx.recorder.durations("read_exec", measured_only=False)),
        "sources.manifest_bytes": float(man_bytes),
        "sources.snapshot_dirs": float(len(snap["dirs"])),
        "sources.files_written": float(sum(f.endswith(".parquet") for f in files)),
        "sources.bytes_written": float(sum(os.path.getsize(f) for f in files)),
        "streaming.trigger_ms": phase("triggerExecution"),
        "streaming.add_batch_ms": phase("addBatch"),
        "streaming.wal_commit_ms": phase("walCommit"),
        "streaming.commit_offsets_ms": phase("commitOffsets"),
        "streaming.query_planning_ms": phase("queryPlanning"),
        "streaming.get_batch_ms": phase("getBatch"),
        "streaming.latest_offset_ms": phase("latestOffset"),
        "streaming.state_rows": float(max((o["numRowsTotal"] for o in ops), default=0)),
        "streaming.state_bytes": float(max((o["memoryUsedBytes"] for o in ops), default=0)),
        "streaming.state_commit_ms": median_or_zero(o["commitTimeMs"] for o in ops),
        "streaming.dropped_duplicates": float(sum(
            o.get("customMetrics", {}).get("numDroppedDuplicateRows", 0) for o in ops)),
        "streaming.dropped_late": float(sum(o["numRowsDroppedByWatermark"] for o in ops)),
        "streaming.dedup_yield": committed / backlog.delivered,
        "streaming.rows_per_s": rows_per_s,
    }


STREAM_TRACE = ["commit"]  # snapshots.commit; reads are spanned in stream_ingest


WORKLOADS = {
    "daily_pipeline": daily_pipeline,
    "analytics": lambda ctx: query_rows(ctx, "analytics"),
    "llm_ops": lambda ctx: query_rows(ctx, "llm_ops"),
    "stream_ingest": stream_ingest,
}
