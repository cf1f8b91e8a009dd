"""DQ-check edge cases — one violation per check (FIXTURES.md §A1 dirty
variant; predicates from /root/reference/dags/dag.py:202-277)."""

from __future__ import annotations

import datetime as dt
import decimal

import pytest
from pyspark.sql import types as T

from airflow_iceberg_pipeline_stock_tracker_spark.operators.dq import (
    DQCheckError,
    dq_checks,
)

DS = "2024-01-10"
TICKERS = ["AAPL", "AMZN", "NFLX", "GOOGL", "META"]

SCHEMA = T.StructType(
    [
        T.StructField("ticker", T.StringType()),
        T.StructField("date", T.DateType()),
        T.StructField("open", T.DoubleType()),
        T.StructField("high", T.DoubleType()),
        T.StructField("low", T.DoubleType()),
        T.StructField("close", T.DoubleType()),
        T.StructField("volume", T.LongType()),
    ]
)


def _row(ticker, date=DS, open=10.0, high=12.0, low=9.0, close=11.0, volume=100):
    return (ticker, dt.date.fromisoformat(date), open, high, low, close, volume)


def _checks_map(df, ds=DS, tickers=TICKERS, **kw):
    return {r.check_name: r for r in dq_checks(df, ds, tickers, **kw).collect()}


def test_all_pass(spark):
    df = spark.createDataFrame([_row(t) for t in TICKERS], SCHEMA)
    m = _checks_map(df)
    assert len(m) == 6
    assert all(r.status == "PASS" for r in m.values())
    assert m["Missing stocks check"].actual_count == 5
    assert m["Missing stocks check"].expected_count == 5


def test_missing_ticker(spark):
    df = spark.createDataFrame([_row(t) for t in TICKERS[:4]], SCHEMA)
    m = _checks_map(df)
    assert m["Missing stocks check"].status == "FAIL"
    assert m["Missing stocks check"].actual_count == 4


def test_null_price(spark):
    rows = [_row(t) for t in TICKERS[:4]] + [_row("META", close=None)]
    m = _checks_map(spark.createDataFrame(rows, SCHEMA))
    assert m["NULL prices check"].status == "FAIL"
    assert m["NULL prices check"].actual_count == 1


def test_invalid_range(spark):
    rows = [_row(t) for t in TICKERS[:4]] + [_row("META", open=13.0)]  # open > high
    m = _checks_map(spark.createDataFrame(rows, SCHEMA))
    assert m["Invalid price ranges"].status == "FAIL"


def test_nonpositive_volume(spark):
    rows = [_row(t) for t in TICKERS[:4]] + [_row("META", volume=0)]
    m = _checks_map(spark.createDataFrame(rows, SCHEMA))
    assert m["Non-positive volume"].status == "FAIL"


def test_date_mismatch_is_unfiltered(spark):
    # check 5 counts rows of ANY other date even though every other check
    # scopes to ds (dag.py:258-264 has no date = ds predicate)
    rows = [_row(t) for t in TICKERS] + [_row("AAPL", date="2024-01-09")]
    m = _checks_map(spark.createDataFrame(rows, SCHEMA))
    assert m["Date mismatch"].status == "FAIL"
    assert m["Date mismatch"].actual_count == 1
    # and the off-date row does not pollute the ds-scoped checks
    assert m["Missing stocks check"].status == "PASS"


def test_invalid_ticker(spark):
    rows = [_row(t) for t in TICKERS] + [_row("ZZZZ")]
    m = _checks_map(spark.createDataFrame(rows, SCHEMA))
    assert m["Invalid ticker format"].status == "FAIL"
    # the bogus ticker also bumps the distinct count
    assert m["Missing stocks check"].actual_count == 6


def test_strict_mode_raises(spark):
    df = spark.createDataFrame([_row(t) for t in TICKERS[:3]], SCHEMA)
    with pytest.raises(DQCheckError):
        dq_checks(df, DS, TICKERS, strict=True)


def test_lenient_mode_returns(spark):
    df = spark.createDataFrame([_row(t) for t in TICKERS[:3]], SCHEMA)
    out = dq_checks(df, DS, TICKERS)  # reference behavior: report, don't stop
    assert out.count() == 6


def test_decimal_inputs(spark):
    # the table-backed pipeline feeds DECIMAL(10,2) columns; predicates
    # must behave identically
    schema = T.StructType(
        [
            T.StructField("ticker", T.StringType()),
            T.StructField("date", T.DateType()),
            T.StructField("open", T.DecimalType(10, 2)),
            T.StructField("high", T.DecimalType(10, 2)),
            T.StructField("low", T.DecimalType(10, 2)),
            T.StructField("close", T.DecimalType(10, 2)),
            T.StructField("volume", T.LongType()),
        ]
    )
    d = decimal.Decimal
    rows = [
        (t, dt.date.fromisoformat(DS), d("10.00"), d("12.00"), d("9.00"), d("11.00"), 100)
        for t in TICKERS
    ]
    m = _checks_map(spark.createDataFrame(rows, schema))
    assert all(r.status == "PASS" for r in m.values())


QUOTED_TICKERS = ["BRK'B", "A\\B", "X\\'Y"]


def test_quoted_and_backslashed_tickers_are_valid(spark):
    # each ticker is one escaped SQL literal: quotes and backslashes
    # neither end the literal nor vanish from it
    df = spark.createDataFrame([_row(t) for t in QUOTED_TICKERS], SCHEMA)
    m = _checks_map(df, tickers=QUOTED_TICKERS)
    assert all(r.status == "PASS" for r in m.values())
    assert m["Invalid ticker format"].actual_count == 0
    assert m["Missing stocks check"].actual_count == 3


def test_unknown_ticker_fails_next_to_quoted_ones(spark):
    rows = [_row(t) for t in QUOTED_TICKERS] + [_row("BRKB"), _row("A\\\\B")]
    m = _checks_map(spark.createDataFrame(rows, SCHEMA), tickers=QUOTED_TICKERS)
    assert m["Invalid ticker format"].status == "FAIL"
    assert m["Invalid ticker format"].actual_count == 2


def test_large_ticker_set_is_an_inset(spark):
    tickers = [f"T{i:02d}" for i in range(11)]
    df = spark.createDataFrame([_row(t) for t in tickers], SCHEMA)
    checks = dq_checks(df, DS, tickers)
    assert "INSET" in checks._jdf.queryExecution().optimizedPlan().toString()
    assert all(r.status == "PASS" for r in checks.collect())


def test_ds_is_parsed_before_sql_is_built(spark, count_round_trips):
    df = spark.createDataFrame([_row(t) for t in TICKERS], SCHEMA)
    with count_round_trips() as trips, pytest.raises(ValueError):
        dq_checks(df, "2024-01-10' OR '1'='1", TICKERS)
    assert trips.count == 0


def test_building_checks_for_500_tickers_is_a_few_round_trips(
    spark, count_round_trips
):
    # Column.isin over 500 tickers alone made about 2,750 round trips
    tickers = [f"T{i:03d}" for i in range(500)]
    df = spark.createDataFrame([_row(t) for t in tickers], SCHEMA)
    with count_round_trips() as trips:
        dq_checks(df, DS, tickers)
    assert trips.count < 100


def test_empty_ticker_list_marks_every_ds_row_invalid(spark):
    rows = [_row(t) for t in TICKERS] + [_row(None), _row("AAPL", date="2024-01-09")]
    m = _checks_map(spark.createDataFrame(rows, SCHEMA), tickers=[])
    assert m["Invalid ticker format"].actual_count == 6
    assert m["Missing stocks check"].expected_count == 0
