"""7-day rolling cumulate — the reference's flagship query.

Reference: ``/root/reference/dags/dag.py:385-437`` — a CTE over the
production table filtered to a 7-day slice, one named window
``PARTITION BY ticker ORDER BY date ROWS BETWEEN 6 PRECEDING AND CURRENT
ROW`` feeding 5x ARRAY_AGG + AVG(volume) + STDDEV(close), COALESCE of the
1-row-frame NULL stddev to 0, and a final ``date = ds`` filter applied
AFTER the window.

Semantics preserved exactly:
  * ROWS (not RANGE) frame: with <7 rows of history the frame shrinks
    ("or fewer for first days", dag.py:407);
  * STDDEV is sample stddev (Spark `stddev` == `stddev_samp` ==
    Databricks/DuckDB), NULL over a 1-row frame, patched by COALESCE
    (dag.py:416,433);
  * array element order is the frame's row order (date ascending);
  * the ds filter must NOT be pushed below the window — Catalyst keeps it
    above because the filter key (date) is not the partition key (ticker).

Scale notes (100 TB): the pipeline calls this on a 7-day partition slice
(partition pruning via the date predicate), so per-day work is
O(|tickers| x 7) regardless of history size. Shuffle is a single hash
exchange on ticker; with few distinct tickers and huge history, repartition
by (ticker) would skew — but the frame only ever needs 7 rows per ticker,
so the sliced input keeps every window partition tiny.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

ROLLING_DAYS = 7


def cumulate(prices: DataFrame, ds: str | None = None) -> DataFrame:
    """Rolling 7-row arrays + aggregates per (ticker, date).

    ``ds``: when given, reproduces the reference's full shape — restrict
    the input to the (ds-7, ds] slice and keep only rows with date == ds
    after windowing (dag.py:399-400,436). When None, computes the rolling
    view over the whole input (same operator, every day at once).
    """
    df = prices
    if ds is not None:
        lit_ds = F.lit(ds).cast("date")
        df = df.where(
            (F.col("date") >= F.date_sub(lit_ds, ROLLING_DAYS))
            & (F.col("date") <= lit_ds)
        )

    df = df.select("ticker", "date", "open", "high", "low", "close", "volume")

    w = (
        Window.partitionBy("ticker")
        .orderBy("date")
        .rowsBetween(-(ROLLING_DAYS - 1), Window.currentRow)
    )
    out = df.select(
        "ticker",
        "date",
        F.collect_list("open").over(w).alias("last_7_days_open"),
        F.collect_list("high").over(w).alias("last_7_days_high"),
        F.collect_list("low").over(w).alias("last_7_days_low"),
        F.collect_list("close").over(w).alias("last_7_days_close"),
        F.collect_list("volume").over(w).alias("last_7_days_volume"),
        F.round(F.avg("volume").over(w), 2).alias("avg_7_day_volume"),
        F.round(F.coalesce(F.stddev("close").over(w), F.lit(0)), 4).alias(
            "volatility_7_day"
        ),
    )
    if ds is not None:
        out = out.where(F.col("date") == F.lit(ds).cast("date"))
    return out


def cumulate_flat(prices: DataFrame, ds: str | None = None) -> DataFrame:
    """`cumulate` with arrays exploded to one row per frame position.

    The rolling arrays are the flagship output, but array cells cannot be
    canonicalized by the driver's pandas-based differential gate (it
    sorts/hashes scalar cells). This surface keeps EVERY array value and
    its frame position as plain scalars: (ticker, date, idx, open_i,
    high_i, low_i, close_i, volume_i, avg_7_day_volume,
    volatility_7_day), idx 1-based in frame (date-ascending) order — so
    array content AND element order are both hash-checked.
    """
    return explode_rolling(cumulate(prices, ds=ds))


def explode_rolling(df: DataFrame) -> DataFrame:
    """Explode the five `last_7_days_*` arrays to (idx, value) scalars.

    Works on any frame carrying (ticker, date, last_7_days_{open,high,
    low,close,volume}, avg_7_day_volume, volatility_7_day) — both the
    `cumulate` output and the persisted cumulative table share this
    shape, so the driver-facing flat surfaces share this one explode.
    """
    z = F.arrays_zip(
        "last_7_days_open",
        "last_7_days_high",
        "last_7_days_low",
        "last_7_days_close",
        "last_7_days_volume",
    )
    return (
        df.select(
            "ticker",
            "date",
            "avg_7_day_volume",
            "volatility_7_day",
            F.posexplode(z).alias("i", "z"),
        )
        .select(
            "ticker",
            "date",
            (F.col("i") + 1).alias("idx"),
            F.col("z.last_7_days_open").alias("open_i"),
            F.col("z.last_7_days_high").alias("high_i"),
            F.col("z.last_7_days_low").alias("low_i"),
            F.col("z.last_7_days_close").alias("close_i"),
            F.col("z.last_7_days_volume").alias("volume_i"),
            "avg_7_day_volume",
            "volatility_7_day",
        )
    )


def cumulate_flat_oracle_sql(ds: str | None = None) -> str:
    """DuckDB twin of `cumulate_flat` — equal-length unnests zip in
    lockstep, so idx and the five array columns stay frame-aligned."""
    src = "prices"
    if ds is not None:
        src = f"""(SELECT * FROM prices
                   WHERE date >= DATE '{ds}' - INTERVAL 7 DAY
                     AND date <= DATE '{ds}')"""
    post = f"WHERE date = DATE '{ds}'" if ds is not None else ""
    return f"""
WITH windowed AS (
  SELECT ticker, date,
         list(open)  OVER w AS last_7_days_open,
         list(high)  OVER w AS last_7_days_high,
         list(low)   OVER w AS last_7_days_low,
         list(close) OVER w AS last_7_days_close,
         list(volume) OVER w AS last_7_days_volume,
         ROUND(AVG(volume) OVER w, 2) AS avg_7_day_volume,
         ROUND(COALESCE(STDDEV_SAMP(close) OVER w, 0), 4) AS volatility_7_day
  FROM {src}
  WINDOW w AS (PARTITION BY ticker ORDER BY date
               ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
)
SELECT ticker, date,
       CAST(unnest(range(1, len(last_7_days_open) + 1)) AS INT) AS idx,
       unnest(last_7_days_open)   AS open_i,
       unnest(last_7_days_high)   AS high_i,
       unnest(last_7_days_low)    AS low_i,
       unnest(last_7_days_close)  AS close_i,
       unnest(last_7_days_volume) AS volume_i,
       avg_7_day_volume, volatility_7_day
FROM windowed {post}
"""
