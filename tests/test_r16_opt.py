"""r16 optimization-round pins.

local_df (sources/tables.py) re-routes small driver-side row lists
through pandas+Arrow so the plan is a JVM LocalTableScan instead of a
pickled-RDD scan. These tests pin (1) value/type equivalence with the
classic createDataFrame path across every type the repo feeds it, and
(2) that the Arrow path actually engaged (LocalTableScan in the plan) —
the performance property the r16 round bought (a coalesce(1) write of a
pickled-RDD relation cost 5-7s of Python-worker round-trips).

The PageRank plan change (identity nodes-join removal + no per-round
checkpoints) is pinned by equality against the checkpointed r15 shape.
"""

from __future__ import annotations

import datetime as dt
import decimal
import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor

import pytest
from pyspark.sql import functions as F

from airflow_iceberg_pipeline_stock_tracker_spark.sources.tables import local_df

MIXED_SCHEMA = (
    "s string, i bigint, f double, b boolean, d date, dec decimal(10,2), "
    "arr array<bigint>, m map<string,string>"
)
MIXED_ROWS = [
    (
        "x",
        1,
        1.5,
        True,
        dt.date(2024, 1, 2),
        decimal.Decimal("12.34"),
        [1, 2, 3],
        {"k": "v"},
    ),
    (None, None, None, None, None, None, None, None),
    (
        "y",
        # > 2^53: pins that ints never round-trip through float64
        9_007_199_254_740_995,
        -0.0,
        False,
        dt.date(1995, 12, 31),
        decimal.Decimal("-0.01"),
        [],
        {},
    ),
]


def test_local_df_matches_classic_path(spark):
    got = local_df(spark, MIXED_ROWS, MIXED_SCHEMA)
    want = spark.createDataFrame(MIXED_ROWS, MIXED_SCHEMA)
    assert got.schema == want.schema
    assert got.collect() == want.collect()


def test_local_df_is_arrow_backed(spark):
    plan = local_df(spark, MIXED_ROWS, MIXED_SCHEMA)._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan
    assert "ExistingRDD" not in plan


def test_local_df_concurrent_calls_restore_fallback_conf(spark, monkeypatch):
    # local_df turns Arrow fallback off around createDataFrame. The other
    # threads start while the first is inside that window; unguarded, one
    # of them reads "false" as the prior value and restores it last.
    key = "spark.sql.execution.arrow.pyspark.fallback.enabled"
    prior = spark.conf.get(key, None)
    create = spark.createDataFrame
    inside = threading.Event()

    def slow_create(*args, **kwargs):
        inside.set()
        time.sleep(0.1)
        return create(*args, **kwargs)

    def plan(i):
        if i:
            assert inside.wait(timeout=30)
        df = local_df(spark, MIXED_ROWS, MIXED_SCHEMA)
        return df._jdf.queryExecution().executedPlan().toString()

    monkeypatch.setattr(spark, "createDataFrame", slow_create)
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        with ThreadPoolExecutor(8) as pool:
            plans = list(pool.map(plan, range(8), timeout=120))
    finally:
        sys.setswitchinterval(interval)
    assert len(plans) == 8
    assert all("LocalTableScan" in p for p in plans)
    assert spark.conf.get(key, None) == prior


def test_local_df_empty_rows(spark):
    df = local_df(spark, [], "a bigint, b string")
    assert df.count() == 0
    assert [f.name for f in df.schema.fields] == ["a", "b"]


def test_local_df_structtype_schema(spark):
    from airflow_iceberg_pipeline_stock_tracker_spark.schemas import (
        STOCK_PRICE_SCHEMA,
    )

    row = (
        "AAPL",
        dt.date(2024, 1, 2),
        decimal.Decimal("10.00"),
        decimal.Decimal("11.00"),
        decimal.Decimal("9.50"),
        decimal.Decimal("10.50"),
        1000,
        decimal.Decimal("10.25"),
        7,
        dt.datetime(2024, 1, 2, 12, 0, 0),
    )
    got = local_df(spark, [row], STOCK_PRICE_SCHEMA)
    want = spark.createDataFrame([row], STOCK_PRICE_SCHEMA)
    assert got.schema == want.schema
    assert got.collect() == want.collect()


def test_pagerank_matches_r15_checkpointed_shape(spark, sf_dir):
    """The r16 plan (no nodes-join, no per-round checkpoints) must
    reproduce the r15 recursion bit-for-bit: rebuild the r15 shape
    inline (LEFT JOIN onto nodes + COALESCE + eager checkpoint per
    round) and compare collected ranks."""
    from airflow_iceberg_pipeline_stock_tracker_spark.operators import (
        pagerank as P,
    )
    from airflow_iceberg_pipeline_stock_tracker_spark.sources.tables import (
        load_table,
    )

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    got = P.pagerank_bipartite(li, orders).collect()

    pairs = (
        li.join(
            orders.select("o_orderkey", "o_custkey"),
            li.l_orderkey == F.col("o_orderkey"),
        )
        .select(
            F.concat(F.lit("S"), F.col("l_suppkey")).alias("s"),
            F.concat(F.lit("C"), F.col("o_custkey")).alias("c"),
        )
        .distinct()
    )
    edges = pairs.selectExpr("s AS src", "c AS dst").unionAll(
        pairs.selectExpr("c AS src", "s AS dst")
    )
    edges = edges.localCheckpoint(eager=True)
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    edges_deg = edges.join(deg, "src").localCheckpoint(eager=True)
    nodes = edges.select(F.col("src").alias("node")).distinct().localCheckpoint(
        eager=True
    )
    ranks = nodes.select("node", F.lit(P.PR_SCALE).cast("bigint").alias("r"))
    for _ in range(P.PR_ITERS):
        contrib = (
            edges_deg.join(F.broadcast(ranks), edges_deg.src == ranks.node)
            .select("dst", F.expr("(r * 85) div (100 * outdeg)").alias("w"))
            .groupBy("dst")
            .agg(F.sum("w").alias("in_mass"))
        )
        ranks = (
            nodes.join(contrib, nodes.node == contrib.dst, "left")
            .select(
                "node",
                (F.lit(P._TELEPORT) + F.coalesce(F.col("in_mass"), F.lit(0)))
                .cast("bigint")
                .alias("r"),
            )
            .localCheckpoint(eager=True)
        )
    want = (
        ranks.orderBy(F.desc("r"), "node")
        .limit(P.PR_TOP)
        .select("node", "r")
        .collect()
    )
    assert got == want
