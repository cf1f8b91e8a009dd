"""bench.py's sampling and replica-dir helpers."""

from __future__ import annotations

import os
import sys
from types import SimpleNamespace

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench
from airflow_iceberg_pipeline_stock_tracker_spark.plans import llm_queries

# ---------------------------------------------------------------------------
# storage reset: a stub session records what happens before each sample
# ---------------------------------------------------------------------------


def _stub_session(log):
    """Just the session surface _measure/_requiet touch, logging calls."""
    return SimpleNamespace(
        catalog=SimpleNamespace(
            clearCache=lambda: log.append("clearCache"), listTables=lambda: []
        ),
        sparkContext=SimpleNamespace(
            _jvm=SimpleNamespace(System=SimpleNamespace(gc=lambda: log.append("gc")))
        ),
    )


def _stub_queries(log, names):
    class Frame:
        def __init__(self, name):
            self.name = name

        def count(self):
            log.append(f"run {self.name}")
            return 1

    return {n: (lambda spark, sf_dir, n=n: Frame(n)) for n in names}


@pytest.fixture()
def stub(monkeypatch):
    log: list[str] = []
    monkeypatch.setattr(
        llm_queries, "clear_result_caches", lambda: log.append("clear_memo")
    )
    monkeypatch.setattr(os, "getloadavg", lambda: (0.0, 0.0, 0.0))
    (sensitive,) = bench._STORAGE_SENSITIVE
    return log, sensitive, _stub_session(log)


def _assert_reset_before_each_run(log, name):
    runs = [i for i, e in enumerate(log) if e == f"run {name}"]
    assert runs
    for i in runs:
        assert log[i - 2 : i] == ["clearCache", "gc"], log[max(0, i - 4) : i + 1]


def _assert_memo_cleared_before_every_run(log):
    since_run: list[str] = []
    for e in log:
        if e.startswith("run "):
            assert "clear_memo" in since_run, (e, since_run)
            since_run = []
        else:
            since_run.append(e)


def test_measure_resets_storage_and_memo_per_sample_cache_per_pass(stub):
    log, sensitive, spark = stub
    # the memo row first: order must not decide which row pays the memo
    queries = _stub_queries(log, [sensitive, "plain_row"])
    cold, timings, all_times = {}, {}, {}
    bench._measure(spark, queries, "sf", cold, timings, all_times)
    _assert_reset_before_each_run(log, sensitive)
    _assert_memo_cleared_before_every_run(log)
    assert log.count(f"run {sensitive}") == 3
    assert log.count("run plain_row") == 3
    # once per pass, plus before each storage-sensitive sample
    assert log.count("clearCache") == 3 + 3
    assert log.count("gc") == 3  # only before the storage-sensitive row


def test_requiet_resamples_under_the_same_storage_reset(stub):
    log, sensitive, spark = stub
    queries = _stub_queries(log, ["plain_row", sensitive])
    # spread > 50% of the min at >= 0.8s flags the row for re-sampling
    timings = {"plain_row": 0.1, sensitive: 2.0}
    all_times = {"plain_row": [0.1, 0.1], sensitive: [2.0, 4.0]}
    out = bench._requiet(spark, queries, "sf", timings, all_times, cpus=4)
    assert list(out["rows"]) == [sensitive]
    assert log.count(f"run {sensitive}") == 2
    _assert_reset_before_each_run(log, sensitive)
    _assert_memo_cleared_before_every_run(log)


# ---------------------------------------------------------------------------
# _replica_dir on real data
# ---------------------------------------------------------------------------


def test_replica_dir_shifts_keys_and_reuses_its_build(
    spark, sf_dir, tmp_path, monkeypatch
):
    from pyspark.sql import functions as F

    monkeypatch.setattr(bench, "SCALE_ROOT", str(tmp_path))
    factor = 2
    out = bench._replica_dir(spark, sf_dir, bench.SCALE_TABLES, factor)

    def read(d, t):
        return spark.read.parquet(os.path.join(d, f"{t}.parquet"))

    for table, strides in bench.REPLICA_STRIDES.items():
        base, rep = read(sf_dir, table), read(out, table)
        assert rep.count() == factor * base.count()
        for col in strides:
            # replica keys are pairwise disjoint: each replica brings its
            # own full set of distinct keys
            n_base = base.select(col).where(F.col(col).isNotNull()).distinct()
            n_rep = rep.select(col).where(F.col(col).isNotNull()).distinct()
            assert n_rep.count() == factor * n_base.count(), (table, col)

    def orphans(d):
        orders, customer = read(d, "orders"), read(d, "customer")
        return orders.join(
            customer, orders.o_custkey == customer.c_custkey, "left_anti"
        ).count()

    # every replica repeats the base data's orphan profile, no more
    assert orphans(out) == factor * orphans(sf_dir)
    for name in os.listdir(out):
        if name.endswith(".parquet"):
            table = name[: -len(".parquet")]
            assert os.path.islink(os.path.join(out, name)) == (
                table not in bench.REPLICA_STRIDES
            ), name

    def mtimes():
        return {
            os.path.join(root, f): os.lstat(os.path.join(root, f)).st_mtime_ns
            for root, _dirs, files in os.walk(out)
            for f in files
        }

    before = mtimes()
    assert bench._replica_dir(spark, sf_dir, bench.SCALE_TABLES, factor) == out
    assert mtimes() == before
