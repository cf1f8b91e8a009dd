"""Loaders for the driver-provided parquet tables (TESTDATA.md).

Parquet scans are the DataSourceV2 fast path: Catalyst pushes filters and
prunes columns into the scan itself (`PushedFilters` / `ReadSchema` in
.explain), so downstream operators should always express predicates
declaratively rather than materializing and filtering in Python.
"""

from __future__ import annotations

import os
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schemas import TESTDATA_TABLES

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# local_df flips a session-global conf around createDataFrame; callers on
# other driver threads (e.g. a ThreadPoolExecutor) must not interleave.
_ARROW_FALLBACK_LOCK = threading.Lock()


def local_df(spark: SparkSession, rows, schema) -> DataFrame:
    """Arrow-backed local DataFrame for small driver-side row lists.

    ``spark.createDataFrame(list_of_tuples)`` parallelizes the PICKLED
    rows into a Python-RDD-backed plan: every job that touches the
    relation pays a Python-worker round-trip per parent partition
    (measured r16: a coalesce(1) parquet write of a 2-row merge table =
    5-7s of sequential worker handshakes across 32 pickled partitions;
    the identical write from an Arrow-backed frame = 0.3s, and a bare
    count() drops ~2s -> ~0.1s). Routing the rows through an all-object
    pandas frame + Arrow yields a pure-JVM ``LocalTableScan`` with
    identical values — optimization guide §6 ("Arrow for driver
    transfers") + §4 (eliminate the Python boundary).

    All-object columns keep Python ints/Decimals/dates/None unchanged
    (no NaN coercion, no float round-trip for int64). Falls back to the
    classic path for anything the Arrow converter rejects, so callers
    can use it unconditionally.
    """
    from pyspark.sql.types import StructType

    # Spark's own arrow.pyspark.fallback.enabled (default true) silently
    # degrades createDataFrame(pdf) to the non-Arrow pandas path (a
    # pickled-RDD plan with pandas coercion semantics) WITHOUT raising —
    # neither the perf win nor our classic-tuple fallback would engage
    # (r16 advice). Force Arrow failures to raise for the duration of
    # the conversion so they fall through to the known classic path.
    # pandas import sits inside the try too: a missing/broken pandas
    # must degrade to the classic path, not raise ImportError.
    conf_key = "spark.sql.execution.arrow.pyspark.fallback.enabled"
    try:
        import pandas as pd

        st = (
            schema
            if isinstance(schema, StructType)
            else StructType.fromDDL(schema)
        )
        names = st.fieldNames()
        data = list(rows)
        pdf = pd.DataFrame(
            {
                n: pd.Series([r[i] for r in data], dtype=object)
                for i, n in enumerate(names)
            },
            columns=names,
        )
        with _ARROW_FALLBACK_LOCK:
            prior = spark.conf.get(conf_key, None)
            spark.conf.set(conf_key, "false")
            try:
                return spark.createDataFrame(pdf, schema=st)
            finally:
                if prior is None:
                    spark.conf.unset(conf_key)
                else:
                    spark.conf.set(conf_key, prior)
    except Exception:
        return spark.createDataFrame(rows, schema)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    df = _read(spark, sf_dir, name)
    if name == "events":
        # The ts column's physical type has drifted across testdata
        # generations: TIMESTAMP(NANOS) (surfaced as bigint under the
        # nanosAsLong legacy conf) vs plain timestamp[us]. Branch on what
        # the scan actually produced instead of assuming either one.
        ts_type = dict(df.dtypes)["ts"]
        if ts_type == "bigint":
            # integer `div`, not `/`: long->double would lose precision
            # above 2^53 (epoch-nanos is ~1.7e18)
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        else:
            # timestamp[us] arrives as TIMESTAMP_NTZ; the session is pinned
            # to UTC, so casting to TIMESTAMP preserves the wall-clock and
            # keeps downstream window/watermark code on one type.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def _read(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events" and _ts_is_nanos(path):
        # TIMESTAMP(NANOS) is unrepresentable in Spark; the legacy conf
        # surfaces it as epoch-nanos bigint. Session confs leak across
        # the driver's 50-query sweep, so: set only when the footer says
        # the file actually needs it, and restore immediately — the read
        # schema is captured at DataFrame creation, so later execution
        # is unaffected by the restore (verified empirically).
        conf_key = "spark.sql.legacy.parquet.nanosAsLong"
        prior = spark.conf.get(conf_key, None)
        spark.conf.set(conf_key, "true")
        try:
            return spark.read.parquet(path)
        finally:
            if prior is None:
                spark.conf.unset(conf_key)
            else:
                spark.conf.set(conf_key, prior)
    return spark.read.parquet(path)


def _ts_is_nanos(path: str) -> bool:
    """Footer-only probe: is events.ts physically TIMESTAMP(NANOS)?"""
    import pyarrow.parquet as pq

    try:
        schema = pq.read_schema(path)
    except Exception:
        return False  # let Spark surface the real read error
    for field in schema:
        if field.name == "ts":
            return str(field.type) == "timestamp[ns]"
    return False


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every test table as a temp view (for spark.sql queries)."""
    for name in TESTDATA_TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            load_table(spark, sf_dir, name).createOrReplaceTempView(name)
