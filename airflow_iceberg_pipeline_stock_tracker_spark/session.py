"""SparkSession factory.

Replaces the reference's remote-warehouse connection
(``/root/reference/dags/dag.py:19-42`` ``execute_databricks_query``) with a
local Catalyst session. All knobs chosen for 100 TB-scale habits that also
behave on local[N]:

* AQE on (runtime shuffle-partition coalescing, skew-join splitting) --
  at cluster scale this is what keeps a 100 TB shuffle from producing
  either 200 giant or 200k tiny partitions.
* shuffle.partitions defaults to the core count locally; on a real
  cluster you'd size it to ~2-3x total cores (or let AQE coalesce from
  a high initial number).
* Session timezone pinned to UTC so results are reproducible and
  comparable against the DuckDB oracle (DuckDB timestamps are tz-naive).
* Arrow enabled: every pandas_udf / createDataFrame(pandas) call moves
  columns in Arrow batches instead of pickled rows.
* DataFrame call-site capture off
  (``spark.python.sql.dataFrameDebugging.enabled=false``). With it on,
  PySpark 4 wraps every DataFrame/Column/functions call in about six
  extra py4j round trips (``getActiveSession``, a conf ``get``,
  ``PySparkCurrentOrigin`` set and clear) to record the Python call site
  for error messages. A warm daily ``pipeline.run_for_date`` made about
  1,920 round trips at 5 tickers and 3,900 at 500 with it on; with it
  off, and ``dq_checks`` building its ticker set as SQL text, it makes
  about 630 at either size. Only the Python line in DataFrame error
  messages is lost; the JVM error itself is unchanged.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

ICEBERG_AVAILABLE = False  # flipped true if the Iceberg runtime jar is present


def _iceberg_jar_present() -> bool:
    try:
        import pyspark

        jars = os.path.join(os.path.dirname(pyspark.__file__), "jars")
        return any("iceberg-spark-runtime" in j for j in os.listdir(jars))
    except OSError:
        return False


def get_spark(
    app_name: str = "airflow_iceberg_pipeline_stock_tracker_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    warehouse_dir: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    ``cpus`` defaults to ``$SPARK_GRAFT_CPUS`` (driver contract) or 32.
    If the Iceberg Spark runtime jar is on the classpath the session is
    configured with a local Iceberg catalog; otherwise the built-in
    ``spark_catalog`` (parquet-backed managed tables) provides the same
    partitioned-table lifecycle via dynamic partition overwrite.
    """
    global ICEBERG_AVAILABLE
    cpus = cpus or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle_partitions = shuffle_partitions or cpus

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # idempotent partition-scoped rewrites (reference's delete-then-insert,
        # dag.py:294+308) become one atomic INSERT OVERWRITE per partition:
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        # 12g, NOT bigger: local-mode driver+executor share one heap, and
        # an oversized heap (48g) let G1 grow regions until evacuation
        # pauses hit 60-90s, randomly adding minutes to whichever query
        # ran when the collector finally moved — measured 4x total bench
        # slowdown. All sf0.1 state (few-MB caches/broadcasts) fits in
        # 12g with only ~30ms young GCs.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "12g"))
    )
    if warehouse_dir:
        builder = builder.config("spark.sql.warehouse.dir", warehouse_dir)

    if _iceberg_jar_present():
        ICEBERG_AVAILABLE = True
        builder = (
            builder.config(
                "spark.sql.extensions",
                "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions",
            )
            .config("spark.sql.catalog.local", "org.apache.iceberg.spark.SparkCatalog")
            .config("spark.sql.catalog.local.type", "hadoop")
            .config(
                "spark.sql.catalog.local.warehouse",
                warehouse_dir or "spark-warehouse/iceberg",
            )
            # Wrap the session catalog too, so the pipeline's unqualified
            # `CREATE TABLE db.t ... USING iceberg` DDL (pipeline._fmt)
            # resolves to Iceberg tables without renaming every db —
            # a bare side catalog alone would leave the reference's
            # actual table format (dag.py:145) unreachable from the
            # pipeline's own statements.
            .config(
                "spark.sql.catalog.spark_catalog",
                "org.apache.iceberg.spark.SparkSessionCatalog",
            )
            .config("spark.sql.catalog.spark_catalog.type", "hadoop")
        )

    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)

    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
