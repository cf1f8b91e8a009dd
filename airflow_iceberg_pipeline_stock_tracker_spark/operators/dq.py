"""The six data-quality checks — the reference's signature computation.

Reference: ``/root/reference/dags/dag.py:202-277`` (six single-row SELECTs
UNION ALL'd over the staging table; summarized README.md:32-41). Output shape
per check: ``(check_name, actual_count, expected_count, status)``.

Spark-first design: the reference (and a naive port) scans the table six
times — one SELECT per check. Here all six counts are computed in ONE pass
as conditional aggregates over a single scan, then unpivoted to the
reference's 6-row shape with `stack`. Every aggregate is a plain
(non-DISTINCT) one, so the plan has one scan and one exchange: map-side
partial aggregation, then a single-row shuffle to the final aggregate.
Check 1 uses `size(collect_set(...))` instead of COUNT(DISTINCT), which
would add a second exchange keyed on ticker. At 100 TB that's a 6x scan
reduction for identical results; the per-partition set holds at most one
entry per distinct ticker.

The checks are built as SQL expression text in one `selectExpr`, not as
Column objects. Every DataFrame-API call is a py4j round trip to the
driver JVM, and `Column.isin` over N tickers makes several per ticker
(about 2,750 for 500 tickers). The valid-ticker set becomes one escaped
`ticker IN (...)` literal list (an `InSet` after optimization above ten
entries), so building the checks costs 26 round trips however many
tickers there are.

Semantic fidelity notes (SURVEY §7.4):
  * check 5 ("Date mismatch") intentionally has NO `date = ds` filter —
    it counts rows of ANY other date (dag.py:258-264). Replicated
    literally, not "fixed".
  * a failing check does NOT raise by default (the reference only prints,
    dag.py:31-34,279); `strict=True` opts into raising.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame

CHECK_COLUMNS = ["check_name", "actual_count", "expected_count", "status"]


def _sql_string(value: str) -> str:
    """Spark SQL string literal: backslash and quote escaped, so any
    ticker text stays one literal."""
    return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"


class DQCheckError(RuntimeError):
    """Raised in strict mode when any check FAILs."""


def dq_checks(
    prices: DataFrame,
    ds: str,
    valid_tickers: list[str],
    expected_ticker_count: int | None = None,
    strict: bool = False,
) -> DataFrame:
    """Six-row checks frame over a prices-shaped DataFrame.

    Checks (dag.py:202-277):
      1. Missing stocks  — COUNT(DISTINCT ticker) on ds == expected
      2. NULL prices     — rows on ds with any NULL OHLC == 0
      3. Invalid ranges  — rows on ds violating high>=low, low<=open<=high,
                           low<=close<=high == 0
      4. Non-positive vol— rows on ds with volume <= 0 == 0
      5. Date mismatch   — rows with date != ds == 0 (no ds filter!)
      6. Invalid ticker  — rows on ds with ticker outside the valid list == 0
    """
    expected = expected_ticker_count or len(valid_tickers)
    # parsed before it enters SQL text: only a canonical date can follow
    day = f"DATE '{dt.date.fromisoformat(ds).isoformat()}'"
    on_ds = f"date = {day}"
    null_ohlc = "open IS NULL OR high IS NULL OR low IS NULL OR close IS NULL"
    bad_range = (
        "high < low OR open > high OR open < low OR close > high OR close < low"
    )
    valid = ", ".join(_sql_string(t) for t in valid_tickers)
    # `IN ()` does not parse; with no valid tickers every row is invalid
    invalid_ticker = f"NOT (ticker IN ({valid}))" if valid else "TRUE"

    def count_if(cond: str) -> str:
        return f"COUNT(CASE WHEN {cond} THEN 1 END)"

    agg = prices.selectExpr(
        f"CAST(size(collect_set(CASE WHEN {on_ds} THEN ticker END)) AS BIGINT) AS c1",
        f"{count_if(f'{on_ds} AND ({null_ohlc})')} AS c2",
        f"{count_if(f'{on_ds} AND ({bad_range})')} AS c3",
        f"{count_if(f'{on_ds} AND volume <= 0')} AS c4",
        f"{count_if(f'date != {day}')} AS c5",
        f"{count_if(f'{on_ds} AND {invalid_ticker}')} AS c6",
    )

    # check_name literals match the reference byte-for-byte
    # (dag.py:206,217,229,247,259,270) — checks 1-2 carry a " check"
    # suffix there, 3-6 do not; that asymmetry is part of the row set
    checks = agg.selectExpr(
        f"""stack(6,
            'Missing stocks check',  c1, CAST({expected} AS BIGINT),
            'NULL prices check',     c2, CAST(0 AS BIGINT),
            'Invalid price ranges',  c3, CAST(0 AS BIGINT),
            'Non-positive volume',   c4, CAST(0 AS BIGINT),
            'Date mismatch',         c5, CAST(0 AS BIGINT),
            'Invalid ticker format', c6, CAST(0 AS BIGINT)
        ) AS (check_name, actual_count, expected_count)"""
    ).selectExpr(
        "check_name",
        "actual_count",
        "expected_count",
        "CASE WHEN actual_count = expected_count THEN 'PASS' ELSE 'FAIL' END"
        " AS status",
    )

    if strict:
        failed = [r.check_name for r in checks.where("status = 'FAIL'").collect()]
        if failed:
            raise DQCheckError(f"DQ checks failed: {failed}")
    return checks


def dq_checks_oracle_sql(
    ds: str, valid_tickers: list[str], expected_ticker_count: int | None = None
) -> str:
    """ANSI-SQL twin of :func:`dq_checks` over a `prices` relation (DuckDB)."""
    expected = expected_ticker_count or len(valid_tickers)
    tickers = ", ".join(f"'{t}'" for t in valid_tickers)
    return f"""
WITH agg AS (
  SELECT
    COUNT(DISTINCT CASE WHEN date = DATE '{ds}' THEN ticker END) AS c1,
    COUNT(CASE WHEN date = DATE '{ds}' AND (open IS NULL OR high IS NULL
               OR low IS NULL OR close IS NULL) THEN 1 END) AS c2,
    COUNT(CASE WHEN date = DATE '{ds}' AND (high < low OR open > high
               OR open < low OR close > high OR close < low) THEN 1 END) AS c3,
    COUNT(CASE WHEN date = DATE '{ds}' AND volume <= 0 THEN 1 END) AS c4,
    COUNT(CASE WHEN date != DATE '{ds}' THEN 1 END) AS c5,
    COUNT(CASE WHEN date = DATE '{ds}'
               AND ticker NOT IN ({tickers}) THEN 1 END) AS c6
  FROM prices
), checks(check_name, actual_count, expected_count) AS (
  SELECT 'Missing stocks check',       c1, CAST({expected} AS BIGINT) FROM agg
  UNION ALL SELECT 'NULL prices check',     c2, 0 FROM agg
  UNION ALL SELECT 'Invalid price ranges',  c3, 0 FROM agg
  UNION ALL SELECT 'Non-positive volume',   c4, 0 FROM agg
  UNION ALL SELECT 'Date mismatch',         c5, 0 FROM agg
  UNION ALL SELECT 'Invalid ticker format', c6, 0 FROM agg
)
SELECT check_name, actual_count, expected_count,
       CASE WHEN actual_count = expected_count THEN 'PASS' ELSE 'FAIL' END AS status
FROM checks
"""
