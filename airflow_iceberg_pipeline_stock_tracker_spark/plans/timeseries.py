"""Time-series operators: gap-fill, time-RANGE windows, CUBE breadth.

The reference is a stock tracker whose cumulate stage assumes a dense
daily series per ticker (``/root/reference/dags/dag.py:318-376`` windows
over whatever rows exist); real market data has holes (halts, holidays,
late feeds). This module adds the operators a production time-series
store (TimescaleDB's ``time_bucket_gapfill`` + ``locf`` +
``interpolate``) provides for exactly that:

  events_gapfill          dense hourly spine per event_type, zero-filled
                          counts, last-observation-carried-forward and
                          exact-integer linear interpolation of value
  events_time_range_window per-event rolling 1h aggregate via a RANGE
                          (time-interval) window frame — no self-join,
                          no bucket explode
  events_cube             CUBE(event_type, day-of-week) via one Expand

Scale notes:
  * the gap-fill spine is |time-range| x |types| rows — independent of
    data volume, so it broadcasts; the only full shuffle is the hourly
    aggregate of the fact itself;
  * interpolation is pure int64: num = prev*len + (next-prev)*pos stays
    exact, and the single closing division of two exact integers is one
    deterministic FP op in both engines — no order-dependent double
    math anywhere;
  * a RANGE frame is evaluated in one pass over each partition's sorted
    run (two moving pointers), where the naive self-join alternative is
    O(rows x avg-frame-size) and a shuffle heavier.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.money import cents, dollars
from ..functions.texthash import hash60, hash60_sql
from ..sources.tables import load_table

# ---------------------------------------------------------------------------
# Gap-fill: dense spine + LOCF + exact-integer linear interpolation
# ---------------------------------------------------------------------------


def events_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense hourly (event_type, hour) grid with locf + interpolated value.

    Buckets with no events get: n_events = 0, ``value_locf`` carried
    forward from the last observed bucket, and ``value_interp`` linearly
    interpolated between the surrounding observed buckets (falling back
    to the nearest neighbor at the edges). Interpolation is exact int64:
    ``prev_c * len + (next_c - prev_c) * pos`` never divides until the
    one closing ``/ (len * 100.0)``.
    """
    ev = load_table(spark, sf_dir, "events")
    hourly = (
        ev.groupBy(
            "event_type", F.date_trunc("hour", "ts").alias("hour")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(cents("value")).alias("value_c"),
        )
        # spine-sized (|hours| x |types|); materialized once so the
        # bounds, the type set, AND the grid all derive from it — the
        # fact table scans exactly once (min/max of hourly.hour equals
        # date_trunc of min/max ts; hourly's types are the fact's types)
        .localCheckpoint(eager=True)
    )
    bounds = hourly.agg(
        F.min("hour").alias("h0"), F.max("hour").alias("h1")
    )
    spine = (
        bounds.select(
            F.explode(
                F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))
            ).alias("hour")
        )
        .crossJoin(F.broadcast(hourly.select("event_type").distinct()))
    )
    grid = spine.join(F.broadcast(hourly), ["event_type", "hour"], "left")
    # epoch-hours as the interpolation x-axis (exact int64)
    eh = (F.unix_timestamp("hour") / 3600).cast("bigint")
    w = Window.partitionBy("event_type").orderBy("hour")
    back = w.rowsBetween(Window.unboundedPreceding, 0)
    fwd = w.rowsBetween(0, Window.unboundedFollowing)
    observed_h = F.when(F.col("value_c").isNotNull(), eh)
    filled = (
        grid.withColumn("eh", eh)
        .withColumn("prev_c", F.last("value_c", ignorenulls=True).over(back))
        .withColumn("prev_h", F.last(observed_h, ignorenulls=True).over(back))
        .withColumn("next_c", F.first("value_c", ignorenulls=True).over(fwd))
        .withColumn("next_h", F.first(observed_h, ignorenulls=True).over(fwd))
    )
    seg_len = F.col("next_h") - F.col("prev_h")
    interp_num = (
        F.col("prev_c") * seg_len
        + (F.col("next_c") - F.col("prev_c")) * (F.col("eh") - F.col("prev_h"))
    )
    value_interp = (
        F.when(F.col("value_c").isNotNull(), F.col("value_c") / 100.0)
        .when(F.col("prev_c").isNull(), F.col("next_c") / 100.0)
        .when(F.col("next_c").isNull(), F.col("prev_c") / 100.0)
        .otherwise(interp_num / (seg_len * 100.0))
    )
    return (
        filled.select(
            "event_type",
            F.date_format("hour", "yyyy-MM-dd HH:00:00").alias("hour"),
            F.coalesce("n_events", F.lit(0)).cast("bigint").alias("n_events"),
            dollars(F.col("value_c")).alias("value_obs"),
            dollars(F.col("prev_c")).alias("value_locf"),
            value_interp.alias("value_interp"),
        )
        .orderBy("event_type", "hour")
    )


EVENTS_GAPFILL_SQL = """
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS hour,
         CAST(COUNT(*) AS BIGINT) AS n_events,
         SUM(CAST(ROUND(value * 100) AS BIGINT)) AS value_c
  FROM events GROUP BY 1, 2
), bounds AS (
  SELECT date_trunc('hour', MIN(ts)) AS h0, date_trunc('hour', MAX(ts)) AS h1
  FROM events
), spine AS (
  SELECT t.hour, ty.event_type
  FROM (SELECT UNNEST(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour
        FROM bounds) t
  CROSS JOIN (SELECT DISTINCT event_type FROM events) ty
), grid AS (
  SELECT s.event_type, s.hour, h.n_events, h.value_c,
         CAST(epoch(s.hour) // 3600 AS BIGINT) AS eh
  FROM spine s LEFT JOIN hourly h
    ON s.event_type = h.event_type AND s.hour = h.hour
), filled AS (
  SELECT *,
    LAST_VALUE(value_c IGNORE NULLS) OVER
      (PARTITION BY event_type ORDER BY hour
       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_c,
    LAST_VALUE(CASE WHEN value_c IS NOT NULL THEN eh END IGNORE NULLS) OVER
      (PARTITION BY event_type ORDER BY hour
       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_h,
    FIRST_VALUE(value_c IGNORE NULLS) OVER
      (PARTITION BY event_type ORDER BY hour
       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_c,
    FIRST_VALUE(CASE WHEN value_c IS NOT NULL THEN eh END IGNORE NULLS) OVER
      (PARTITION BY event_type ORDER BY hour
       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_h
  FROM grid
)
SELECT event_type,
       strftime(hour, '%Y-%m-%d %H:00:00') AS hour,
       COALESCE(n_events, 0) AS n_events,
       value_c / 100.0 AS value_obs,
       prev_c / 100.0 AS value_locf,
       CASE WHEN value_c IS NOT NULL THEN value_c / 100.0
            WHEN prev_c IS NULL THEN next_c / 100.0
            WHEN next_c IS NULL THEN prev_c / 100.0
            ELSE (prev_c * (next_h - prev_h)
                  + (next_c - prev_c) * (eh - prev_h))
                 / ((next_h - prev_h) * 100.0)
       END AS value_interp
FROM filled
ORDER BY event_type, hour
"""


# ---------------------------------------------------------------------------
# Time-RANGE window frame: rolling 1h per user without a self-join
# ---------------------------------------------------------------------------


def events_time_range_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event trailing-1-hour activity for the same user.

    A RANGE frame over event-time micros: every event sees the count /
    exact-cents sum of its user's events in ``[ts - 1h, ts]``. This is
    the one-pass sorted-run formulation — the naive alternative
    (self-join on ``user_id`` + BETWEEN) re-materializes every frame.
    Frame bounds are integral micros, so peer-row semantics (equal
    timestamps include each other) match DuckDB's RANGE frame exactly.
    """
    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros("ts")
    w = (
        Window.partitionBy("user_id")
        .orderBy(us)
        .rangeBetween(-3_600_000_000, 0)
    )
    return (
        ev.select(
            "event_id",
            "user_id",
            F.count(F.lit(1)).over(w).alias("n_1h"),
            dollars(F.sum(cents("value")).over(w)).alias("value_1h"),
        )
        .orderBy("event_id")
    )


EVENTS_TIME_RANGE_SQL = """
SELECT event_id, user_id,
       CAST(COUNT(*) OVER w AS BIGINT) AS n_1h,
       SUM(CAST(ROUND(value * 100) AS BIGINT)) OVER w / 100.0 AS value_1h
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts
             RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
ORDER BY event_id
"""


def events_rolling_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event trailing-24h DISTINCT user count within the event's type.

    A set-state window — a different operator class from the sum/count
    RANGE frames above: the frame state is a SET, not a scalar
    accumulator, so the engine cannot use the subtract-on-slide trick.
    Spark has no windowed COUNT(DISTINCT); the composition is
    ``size(collect_set(user_id)) OVER (RANGE 24h)``, which keeps the
    one-pass sorted-run plan (one shuffle on event_type, no self-join).
    DuckDB runs its native windowed COUNT(DISTINCT) — same semantics,
    hash-checked. Frame bounds are integral micros, so peer-row
    inclusion matches DuckDB's RANGE frame exactly.

    Scale: state is O(distinct users in 24h) per frame. When that set
    itself is too big, the sketch tier (sketches.py HLL) is the
    documented fallback — this operator is the exact baseline it is
    judged against.
    """
    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros("ts")
    w = (
        Window.partitionBy("event_type")
        .orderBy(us)
        .rangeBetween(-24 * 3_600_000_000, 0)
    )
    return (
        ev.select(
            "event_id",
            "event_type",
            F.size(F.collect_set("user_id").over(w))
            .cast("bigint")
            .alias("n_users_24h"),
        )
        .orderBy("event_id")
    )


EVENTS_ROLLING_DISTINCT_SQL = """
SELECT event_id, event_type,
       CAST(COUNT(DISTINCT user_id) OVER w AS BIGINT) AS n_users_24h
FROM events
WINDOW w AS (PARTITION BY event_type ORDER BY ts
             RANGE BETWEEN INTERVAL 24 HOURS PRECEDING AND CURRENT ROW)
ORDER BY event_id
"""


# ---------------------------------------------------------------------------
# CUBE: all four grouping sets from one Expand
# ---------------------------------------------------------------------------


def events_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event value by CUBE(event_type, day-of-week).

    Like revenue_rollup but the full lattice: (type, dow), (type),
    (dow), (). One Expand feeding one aggregate — 4x map-side fan-out,
    a single shuffle, never a re-scan per grouping set. grouping_id
    mirrors DuckDB's GROUPING(a)*2 + GROUPING(b) bitmask.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.dayofweek("ts").cast("bigint").alias("dow"),
        cents("value").alias("val_c"),
    )
    return (
        ev.cube("event_type", "dow")
        .agg(
            F.grouping_id().cast("bigint").alias("gid"),
            F.count(F.lit(1)).alias("n_events"),
            dollars(F.sum("val_c")).alias("total_value"),
        )
        .select(
            F.coalesce("event_type", F.lit("ALL")).alias("event_type"),
            F.coalesce("dow", F.lit(-1)).alias("dow"),
            "gid",
            "n_events",
            "total_value",
        )
        .orderBy("gid", "event_type", "dow")
    )


EVENTS_CUBE_SQL = """
WITH ev AS (
  SELECT event_type,
         CAST(dayofweek(ts) + 1 AS BIGINT) AS dow,
         CAST(ROUND(value * 100) AS BIGINT) AS val_c
  FROM events
)
SELECT COALESCE(event_type, 'ALL') AS event_type,
       COALESCE(dow, -1) AS dow,
       CAST(GROUPING(event_type) * 2 + GROUPING(dow) AS BIGINT) AS gid,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       SUM(val_c) / 100.0 AS total_value
FROM ev
GROUP BY CUBE(event_type, dow)
ORDER BY gid, event_type, dow
"""


# ---------------------------------------------------------------------------
# Semi-structured: JSON property extraction inside the relational plan
# ---------------------------------------------------------------------------


def events_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate over a key extracted from the JSON ``props`` column.

    The semi-structured path a real event pipeline hits on day one:
    ``props`` is a JSON text column; ``from_json`` with an explicit
    schema (never schema_of_json per-row) parses it ONCE in the
    projection, the extracted key buckets the aggregate, and the whole
    parse stays in the JVM projection — no shuffle until the groupBy,
    no Python. Decile bucketing keeps the output small and the bucket
    arithmetic exact int.
    """
    ev = load_table(spark, sf_dir, "events")
    k = F.from_json("props", "k BIGINT").getField("k")
    return (
        ev.select(
            (F.floor(k / 10) * 10).cast("bigint").alias("k_decile"),
            "event_type",
            cents("value").alias("val_c"),
        )
        .groupBy("k_decile", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dollars(F.sum("val_c")).alias("total_value"),
        )
        .orderBy("k_decile", "event_type")
    )


EVENTS_JSON_SQL = """
SELECT CAST(FLOOR(CAST(json_extract(props, '$.k') AS BIGINT) / 10) * 10 AS BIGINT)
         AS k_decile,
       event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       SUM(CAST(ROUND(value * 100) AS BIGINT)) / 100.0 AS total_value
FROM events
GROUP BY 1, 2
ORDER BY k_decile, event_type
"""




# ---------------------------------------------------------------------------
# Correlation from exact integer moments (no order-dependent corr())
# ---------------------------------------------------------------------------

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def events_hourly_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation of each event type's hourly volume vs clicks.

    The built-in ``corr()`` streams doubles and is order-dependent —
    unusable on an oracle surface and quietly irreproducible at scale.
    Instead: hourly counts pivot to one row per hour (explicit type
    values, no discovery scan), then the five exact int64 moments
    (n, sx, sy, sxx, syy, sxy) aggregate — associative, AQE-proof — and
    the textbook formula closes in ONE deterministic double expression
    per type. Same discipline as events_user_trend.
    """
    ev = load_table(spark, sf_dir, "events")
    hourly = (
        ev.groupBy(F.date_trunc("hour", "ts").alias("hour"))
        .pivot("event_type", EVENT_TYPES)
        .agg(F.count(F.lit(1)))
        .na.fill(0, EVENT_TYPES)
        # |hours| rows consumed by four per-type aggregate branches:
        # materialize once so the fact scans (and the pivot shuffle)
        # happen once, not once per branch
        .localCheckpoint(eager=True)
    )
    out = []
    y = F.col("click").cast("bigint")
    for t in EVENT_TYPES:
        if t == "click":
            continue
        x = F.col(t).cast("bigint")
        agg = (
            hourly.agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(x).alias("sx"),
                F.sum(y).alias("sy"),
                F.sum(x * x).alias("sxx"),
                F.sum(y * y).alias("syy"),
                F.sum(x * y).alias("sxy"),
            )
            # a constant series has zero variance -> no defined corr;
            # dropping the row (both engines) beats ANSI's
            # DIVIDE_BY_ZERO crash / DuckDB's NaN divergence
            .where(
                (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx") > 0)
                & (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy") > 0)
            )
            .select(
                F.lit(t).alias("event_type"),
                "n", "sx", "sy",
                (
                    (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
                    / (
                        F.sqrt(
                            (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
                            .cast("double")
                        )
                        * F.sqrt(
                            (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
                            .cast("double")
                        )
                    )
                ).alias("corr_vs_click"),
            )
        )
        out.append(agg)
    res = out[0]
    for df in out[1:]:
        res = res.unionByName(df)
    return res.orderBy("event_type")


EVENTS_HOURLY_CORR_SQL = """
WITH hourly AS (
  SELECT date_trunc('hour', ts) AS hour,
         CAST(COUNT(*) FILTER (WHERE event_type = 'click') AS BIGINT) AS click,
         CAST(COUNT(*) FILTER (WHERE event_type = 'error') AS BIGINT) AS error,
         CAST(COUNT(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS purchase,
         CAST(COUNT(*) FILTER (WHERE event_type = 'signup') AS BIGINT) AS signup,
         CAST(COUNT(*) FILTER (WHERE event_type = 'view') AS BIGINT) AS view
  FROM events GROUP BY 1
), m AS (
  SELECT t.event_type,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CASE t.event_type WHEN 'error' THEN error
                  WHEN 'purchase' THEN purchase WHEN 'signup' THEN signup
                  ELSE view END) AS BIGINT) AS sx,
         CAST(SUM(click) AS BIGINT) AS sy,
         CAST(SUM(CASE t.event_type WHEN 'error' THEN error * error
                  WHEN 'purchase' THEN purchase * purchase
                  WHEN 'signup' THEN signup * signup
                  ELSE view * view END) AS BIGINT) AS sxx,
         CAST(SUM(click * click) AS BIGINT) AS syy,
         CAST(SUM(CASE t.event_type WHEN 'error' THEN error * click
                  WHEN 'purchase' THEN purchase * click
                  WHEN 'signup' THEN signup * click
                  ELSE view * click END) AS BIGINT) AS sxy
  FROM hourly
  CROSS JOIN (SELECT UNNEST(['error','purchase','signup','view']) AS event_type) t
  GROUP BY t.event_type
)
SELECT event_type, n, sx, sy,
       (n * sxy - sx * sy)
         / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
            * sqrt(CAST(n * syy - sy * sy AS DOUBLE))) AS corr_vs_click
FROM m
WHERE n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
ORDER BY event_type
"""




# ---------------------------------------------------------------------------
# Monitoring tier: trailing z-score anomaly flags on hourly volume
# ---------------------------------------------------------------------------


def events_hourly_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hours whose event volume is anomalous vs the trailing day.

    The ops/monitoring query class: hourly counts per type, then each
    hour scores against the PRECEDING 24 hours (current row excluded —
    scoring a point against a baseline that contains it shrinks real
    anomalies). Mean and variance come from exact int64 window sums
    (n, sx, sxx), so the z-score is a single deterministic expression;
    the n*sxx - sx^2 >= 0 guard keeps sqrt off negative-zero noise.
    Emits only |z| > 3 rows plus the exact moments that justify them.
    """
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour")
    ).agg(F.count(F.lit(1)).alias("n_events"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("hour")
        .rowsBetween(-24, -1)
    )
    x = F.col("n_events").cast("bigint")
    # moments first, division AFTER the n_base filter: ANSI mode (the
    # Spark 4 default) raises DIVIDE_BY_ZERO eagerly, so the baseline
    # guard must prune 0/1-row windows before any divisor is built
    moments = hourly.select(
        "event_type",
        F.date_format("hour", "yyyy-MM-dd HH:00:00").alias("hour"),
        x.alias("n_events"),
        F.count(F.lit(1)).over(w).alias("n_base"),
        F.sum(x).over(w).alias("sum_base"),
        F.sum(x * x).over(w).alias("sumsq_base"),
    ).where(F.col("n_base") >= 12)
    n, sx, sxx = F.col("n_base"), F.col("sum_base"), F.col("sumsq_base")
    var_num = n * sxx - sx * sx  # n^2 * biased var; unbiased adds n/(n-1)
    # a zero-variance baseline has no defined z — exclude it BEFORE the
    # division (ANSI mode raises DIVIDE_BY_ZERO even for doubles, and
    # DuckDB would emit +-Inf: both engines must drop the row)
    moments = moments.where(var_num > 0)
    z = (n * F.col("n_events") - sx) / F.sqrt(
        (var_num * n / (n - 1)).cast("double")
    )
    return (
        moments.withColumn("zscore", z)
        .where(F.abs(F.col("zscore")) > 3.0)
        .orderBy("event_type", "hour")
    )


EVENTS_ANOMALY_SQL = """
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS hour,
         CAST(COUNT(*) AS BIGINT) AS n_events
  FROM events GROUP BY 1, 2
), scored AS (
  SELECT event_type, hour, n_events,
         CAST(COUNT(*) OVER w AS BIGINT) AS n_base,
         CAST(SUM(n_events) OVER w AS BIGINT) AS sum_base,
         CAST(SUM(n_events * n_events) OVER w AS BIGINT) AS sumsq_base
  FROM hourly
  WINDOW w AS (PARTITION BY event_type ORDER BY hour
               ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
)
SELECT event_type,
       strftime(hour, '%Y-%m-%d %H:00:00') AS hour,
       n_events, n_base, sum_base, sumsq_base,
       (n_base * n_events - sum_base)
         / sqrt(CAST((n_base * sumsq_base - sum_base * sum_base) * n_base
                     / (n_base - 1) AS DOUBLE)) AS zscore
FROM scored
WHERE n_base >= 12
  AND n_base * sumsq_base - sum_base * sum_base > 0
  AND abs((n_base * n_events - sum_base)
        / sqrt(CAST((n_base * sumsq_base - sum_base * sum_base) * n_base
                    / (n_base - 1) AS DOUBLE))) > 3.0
ORDER BY event_type, hour
"""




# ---------------------------------------------------------------------------
# Skew profiling: per-type Gini of the user activity distribution
# ---------------------------------------------------------------------------


def events_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How skewed is each event type's per-user volume? (Gini + top share)

    The profiling query you run BEFORE picking a partitioning strategy:
    a high-Gini key needs salting (functions/skew.py), a flat one
    doesn't. Gini from the sorted-cumulative formula
    ``(2*sum(rank*x) - (n+1)*sum(x)) / (n*sum(x))`` — ranks from a
    window, every term an exact int64 sum, ONE closing division; the
    top-1 user share is emitted as exact (numerator, denominator) ints
    plus their quotient. Two shuffles total: the (type, user) count and
    the per-type window/aggregate.
    """
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).alias("x")
    )
    w = Window.partitionBy("event_type").orderBy("x", "user_id")
    ranked = per_user.select(
        "event_type",
        F.col("x").cast("bigint").alias("x"),
        F.row_number().over(w).cast("bigint").alias("rk"),
    )
    agg = ranked.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("x").alias("total"),
        F.sum(F.col("rk") * F.col("x")).alias("rank_weighted"),
        F.max("x").alias("top_user_events"),
    )
    gini = (
        (2 * F.col("rank_weighted") - (F.col("n_users") + 1) * F.col("total"))
        / (F.col("n_users") * F.col("total"))
    )
    return (
        agg.select(
            "event_type",
            "n_users",
            "total",
            "top_user_events",
            (F.col("top_user_events") / F.col("total")).alias("top_share"),
            gini.alias("gini"),
        )
        .orderBy("event_type")
    )


EVENTS_SKEW_SQL = """
WITH per_user AS (
  SELECT event_type, user_id, CAST(COUNT(*) AS BIGINT) AS x
  FROM events GROUP BY 1, 2
), ranked AS (
  SELECT event_type, x,
         CAST(ROW_NUMBER() OVER (PARTITION BY event_type
                                 ORDER BY x, user_id) AS BIGINT) AS rk
  FROM per_user
), agg AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n_users,
         CAST(SUM(x) AS BIGINT) AS total,
         CAST(SUM(rk * x) AS BIGINT) AS rank_weighted,
         CAST(MAX(x) AS BIGINT) AS top_user_events
  FROM ranked GROUP BY event_type
)
SELECT event_type, n_users, total, top_user_events,
       CAST(top_user_events AS DOUBLE) / total AS top_share,
       CAST(2 * rank_weighted - (n_users + 1) * total AS DOUBLE)
         / (n_users * total) AS gini
FROM agg
ORDER BY event_type
"""




# ---------------------------------------------------------------------------
# Sequence mining: per-user event-type transition matrix
# ---------------------------------------------------------------------------


def events_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order transition matrix of event types within user streams.

    The sequence-adjacency view funnel analysis doesn't give you: for
    each user's (ts, event_id)-ordered stream, count every consecutive
    (from_type -> to_type) pair, then the transition probability as
    exact-int numerator over the per-from_type total (one closing
    division). lag is one sorted pass per user partition; the pair count
    and the row total ride the same keyed aggregate output.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.select(
            F.lag("event_type").over(w).alias("from_type"),
            F.col("event_type").alias("to_type"),
        )
        .where(F.col("from_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )
    row_w = Window.partitionBy("from_type")
    return (
        pairs.select(
            "from_type",
            "to_type",
            "n_pairs",
            F.sum("n_pairs").over(row_w).alias("row_total"),
            (F.col("n_pairs") / F.sum("n_pairs").over(row_w)).alias("p"),
        )
        .orderBy("from_type", "to_type")
    )


EVENTS_TRANSITIONS_SQL = """
WITH seq AS (
  SELECT user_id,
         LAG(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS from_type,
         event_type AS to_type
  FROM events
), pairs AS (
  SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n_pairs
  FROM seq WHERE from_type IS NOT NULL
  GROUP BY from_type, to_type
)
SELECT from_type, to_type, n_pairs,
       CAST(SUM(n_pairs) OVER (PARTITION BY from_type) AS BIGINT) AS row_total,
       CAST(n_pairs AS DOUBLE)
         / SUM(n_pairs) OVER (PARTITION BY from_type) AS p
FROM pairs
ORDER BY from_type, to_type
"""


def events_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE-style sequence pattern detection per user: regex
    over each user's (ts, event_id)-ordered event-type INITIAL string.

    Counts CONSECUTIVE patterns the bigram/funnel operators can't see:
    the strict view->click->purchase run (``vcp`` — adjacency, unlike
    events_funnel's gappy subsequence) and error bursts (``ee+``, runs
    of 2+ consecutive errors). Event-type initials are distinct
    (c/e/p/s/v), so the sequence string is a faithful encoding.

    Determinism: the per-user string is built from an array_sort over
    (ts, event_id, initial) structs — (ts, event_id) is a total order,
    so both engines fold the identical string; both regex engines count
    non-overlapping left-to-right greedy matches identically for these
    patterns (a literal and a maximal-run).

    Scale: one shuffle on user_id; per-user state is the user's own
    event string (the operator's intrinsic requirement, same class as
    sessionize/ewma); the regex work is a narrow projection after the
    aggregate.
    """
    ev = load_table(spark, sf_dir, "events")
    arr = F.array_sort(
        F.collect_list(
            F.struct(
                F.col("ts"),
                F.col("event_id"),
                F.substring("event_type", 1, 1).alias("c"),
            )
        )
    )
    per_user = (
        ev.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.array_join(
                F.transform(arr, lambda x: x["c"]), ""
            ).alias("seq"),
        )
    )
    n_vcp = F.size(F.regexp_extract_all("seq", F.lit("vcp"), 0))
    n_bursts = F.size(F.regexp_extract_all("seq", F.lit("ee+"), 0))
    return (
        per_user.select(
            "user_id",
            "n_events",
            n_vcp.alias("n_view_click_purchase"),
            n_bursts.alias("n_error_bursts"),
            (n_vcp > 0).alias("converted"),
        )
        .orderBy("user_id")
    )


EVENTS_PATTERN_SQL = """
WITH seqs AS (
  SELECT user_id,
         CAST(COUNT(*) AS BIGINT) AS n_events,
         string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id) AS seq
  FROM events
  GROUP BY user_id
)
SELECT user_id, n_events,
       CAST(len(regexp_extract_all(seq, 'vcp')) AS INT)
         AS n_view_click_purchase,
       CAST(len(regexp_extract_all(seq, 'ee+')) AS INT) AS n_error_bursts,
       len(regexp_extract_all(seq, 'vcp')) > 0 AS converted
FROM seqs
ORDER BY user_id
"""


def events_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(user_id, n_events, ewma_value): exponentially-weighted moving
    average of each user's event values, alpha = 1/2, in event order —
    the classic online smoother (monitoring baselines, rate limiting,
    engagement decay) that SQL window frames cannot express because each
    output depends on the previous OUTPUT, not a frame of inputs.

    Determinism/scale design: the recursion s_i = (v_i + s_{i-1}) / 2 is
    a per-key sequential fold. Instead of a Python loop or an iterative
    driver fixpoint, each user's values are gathered into an array
    SORTED BY (ts, event_id) (pinned, total order) and folded by the JVM
    higher-order `aggregate` — one shuffle on user_id, no Python, state
    O(user's events) which is the operator's intrinsic requirement.
    Dividing by 2 is exact in binary floating point and the fold order
    is pinned, so both engines run the identical IEEE op sequence —
    bit-equal doubles, no rounding needed (the repo rule bans rounding
    order-DEPENDENT sums; this order is pinned, and unlike log-based
    scores there is no libm call to differ in ulps).
    """
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.array_sort(
            F.collect_list(F.struct("ts", "event_id", "value"))
        ).alias("ordered"),
    )
    vals = F.transform(F.col("ordered"), lambda x: x["value"])
    ewma = F.aggregate(
        vals,
        F.lit(None).cast("double"),
        lambda acc, x: F.when(acc.isNull(), x).otherwise((x + acc) / F.lit(2.0)),
    )
    return per_user.select(
        "user_id", "n_events", ewma.alias("ewma_value")
    ).orderBy("user_id")


EVENTS_EWMA_SQL = """
WITH per_user AS (
  SELECT user_id,
         CAST(COUNT(*) AS BIGINT) AS n_events,
         list(value ORDER BY ts, event_id) AS vals
  FROM events GROUP BY user_id
)
SELECT user_id, n_events,
       list_reduce(vals, (acc, x) -> (x + acc) / 2) AS ewma_value
FROM per_user ORDER BY user_id
"""


def events_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, q_pct, n, exact_value, sketch_value, sketch_bin,
    within_one_bin): per-type p50/p95 computed BOTH ways — exact discrete
    quantile (the value at row ceil(q*n) of the per-type ordering) and a
    128-bin equi-width histogram sketch (the mergeable fixed-size state a
    100 TB deployment would keep instead of sorting: O(types x 128)
    integers, reaggregatable across partitions/days exactly like the
    events_sketch_reagg HLL row).

    The sketch answer is the upper edge of the first bin whose cumulative
    count reaches the target rank — by construction that is exactly the
    bin CONTAINING the exact quantile, so within_one_bin is defined as
    the integer comparison ``sketch_bin == bin(exact_value)`` (always
    true; hashed so the driver pins the error contract, not just the
    values). A float formulation (``sketch - exact <= width``) would be
    ulp-fragile: ``(lo + w) - lo`` can exceed ``w`` when |lo| >> w —
    found by the hypothesis sweep in tests/test_properties.py.

    Determinism: bin edges derive from global min/max (exact doubles);
    width = span/128 (division by a power of two is exact); bin index and
    upper edge use the identical op sequence in both engines — bit-equal
    doubles with no rounding and no libm.

    Plan shape (r11 verdict ask #8): the global (lo, hi) scalar is
    attached to the fact scan by ONE broadcast nest-loop join and then
    CARRIED through every aggregate as a min() of a per-group constant
    (exact — min of equal doubles), and the 2-row q_pct frame is an
    explode() of literals (a Generate node, no join at all) — down from
    five crossJoins / 7 physical BNLJs; the plan pin caps the count at
    1 (tests/test_plans.py).
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", "value"
    )
    edges = ev.agg(F.min("value").alias("lo"), F.max("value").alias("hi"))
    w = (F.col("hi") - F.col("lo")) / F.lit(128.0)
    # degenerate WIDTH (not just hi == lo): for subnormal spans such as
    # [0.0, 5e-324] the division (hi - lo) / 128 underflows to exactly
    # 0.0 while hi != lo, so the guard must test the width itself or the
    # "guarded" branch still divides by zero under ANSI — both edge
    # cases hypothesis-found (tests/test_properties.py, pinned
    # @example). All mass sits in bin 0.
    binc = F.when(w == F.lit(0.0), F.lit(0)).otherwise(
        F.least(
            F.floor((F.col("value") - F.col("lo")) / w).cast("int"),
            F.lit(127),
        )
    )
    qcol = F.explode(F.array(F.lit(50), F.lit(95))).alias("q_pct")
    hist = (
        ev.crossJoin(F.broadcast(edges))  # the one scalar attach
        .select("event_type", "lo", "hi", binc.alias("bin"))
        .groupBy("event_type", "bin")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.min("lo").alias("lo"),
            F.min("hi").alias("hi"),
        )
        # <= |types| x 128 rows feeding THREE consumers (cum, totals,
        # exact's rank targets): materialize once or the fact scan +
        # scalar attach replicates into every branch
        .localCheckpoint(eager=True)
    )
    cum = hist.withColumn(
        "cum",
        F.sum("cnt").over(
            Window.partitionBy("event_type")
            .orderBy("bin")
            .rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    totals = hist.groupBy("event_type").agg(F.sum("cnt").alias("n"))
    target = F.ceil(
        F.col("q_pct").cast("double") / F.lit(100.0) * F.col("n").cast("double")
    ).cast("bigint")
    picked = (
        cum.join(totals, "event_type")
        .select("event_type", "bin", "cum", "n", "lo", "hi", qcol)
        .where(F.col("cum") >= target)
        .groupBy("event_type", "q_pct", "n")
        .agg(
            F.min("bin").alias("sketch_bin"),
            F.min("lo").alias("lo"),
            F.min("hi").alias("hi"),
        )
        .select(
            "event_type",
            "q_pct",
            "n",
            "sketch_bin",
            "lo",
            "hi",
            (
                F.col("lo")
                + (F.col("sketch_bin") + F.lit(1)).cast("double")
                * ((F.col("hi") - F.col("lo")) / F.lit(128.0))
            ).alias("sketch_value"),  # zero-width span: lo + k*0 = lo, exact
        )
    )
    rn = F.row_number().over(
        Window.partitionBy("event_type").orderBy("value")
    )
    exact = (
        ev.withColumn("rn", rn)
        .join(totals, "event_type")
        .select(
            "event_type",
            "rn",
            "value",
            "n",
            F.explode(F.array(F.lit(50), F.lit(95))).alias("q2"),
        )
        .where(
            F.col("rn")
            == F.ceil(
                F.col("q2").cast("double") / F.lit(100.0) * F.col("n").cast("double")
            ).cast("bigint")
        )
        .select(
            "event_type", F.col("q2").alias("q_pct"), F.col("value").alias("exact_value")
        )
    )
    exact_bin = F.when(
        (F.col("hi") - F.col("lo")) / F.lit(128.0) == F.lit(0.0), F.lit(0)
    ).otherwise(
        F.least(
            F.floor(
                (F.col("exact_value") - F.col("lo"))
                / ((F.col("hi") - F.col("lo")) / F.lit(128.0))
            ).cast("int"),
            F.lit(127),
        )
    )
    return (
        picked.join(exact, ["event_type", "q_pct"])
        .select(
            "event_type",
            "q_pct",
            "n",
            "exact_value",
            "sketch_value",
            "sketch_bin",
            (F.col("sketch_bin") == exact_bin).alias("within_one_bin"),
        )
        .orderBy("event_type", "q_pct")
    )


EVENTS_QUANTILE_SKETCH_SQL = """
WITH edges AS (
  SELECT MIN(value) AS lo, MAX(value) AS hi FROM events
), binned AS (
  SELECT event_type,
         CASE WHEN (hi - lo) / 128.0 = 0.0 THEN 0
              ELSE LEAST(CAST(FLOOR((value - lo) / ((hi - lo) / 128.0))
                              AS INTEGER), 127) END AS bin
  FROM events CROSS JOIN edges
), hist AS (
  SELECT event_type, bin, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM binned GROUP BY event_type, bin
), cum AS (
  SELECT event_type, bin, cnt,
         SUM(cnt) OVER (PARTITION BY event_type ORDER BY bin
                        ROWS UNBOUNDED PRECEDING) AS cum
  FROM hist
), totals AS (
  SELECT event_type, CAST(SUM(cnt) AS BIGINT) AS n FROM hist
  GROUP BY event_type
), qs AS (
  SELECT * FROM (VALUES (50), (95)) AS t(q_pct)
), picked AS (
  SELECT c.event_type, q.q_pct, t.n, MIN(c.bin) AS sketch_bin
  FROM cum c JOIN totals t USING (event_type) CROSS JOIN qs q
  WHERE c.cum >= CAST(CEIL(CAST(q.q_pct AS DOUBLE) / 100.0
                           * CAST(t.n AS DOUBLE)) AS BIGINT)
  GROUP BY c.event_type, q.q_pct, t.n
), sketch AS (
  SELECT event_type, q_pct, n, sketch_bin,
         lo + CAST(sketch_bin + 1 AS DOUBLE) * ((hi - lo) / 128.0)
           AS sketch_value
  FROM picked CROSS JOIN edges
), ranked AS (
  SELECT event_type, value,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value) AS rn
  FROM events
), exact AS (
  SELECT r.event_type, q.q_pct, r.value AS exact_value
  FROM ranked r CROSS JOIN qs q JOIN totals t USING (event_type)
  WHERE r.rn = CAST(CEIL(CAST(q.q_pct AS DOUBLE) / 100.0
                         * CAST(t.n AS DOUBLE)) AS BIGINT)
)
SELECT s.event_type, s.q_pct, s.n, e.exact_value, s.sketch_value,
       s.sketch_bin,
       (s.sketch_bin = CASE WHEN (hi - lo) / 128.0 = 0.0 THEN 0
                            ELSE LEAST(CAST(FLOOR((e.exact_value - lo)
                                    / ((hi - lo) / 128.0)) AS INTEGER), 127)
                       END) AS within_one_bin
FROM sketch s
JOIN exact e ON s.event_type = e.event_type AND s.q_pct = e.q_pct
CROSS JOIN edges
ORDER BY s.event_type, s.q_pct
"""


DECAY_HORIZON = 30  # days; weight 2^(H-1-delta) for delta < H, else 0


def events_decay_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 users per event type by exponentially TIME-DECAYED
    engagement (half-life = 1 day) — the freshness-weighted leaderboard
    behind trending/ranking surfaces, where yesterday's click counts
    half of today's.

    Exactness: the decay weight is the INTEGER 2^(H-1-delta_days)
    (delta measured in whole days back from the corpus max date;
    contributions older than H = 30 days are defined as zero — a
    documented truncation that also bounds the shift for any data).
    Per-user scores are exact int64 sums of powers of two — no libm
    pow, no order dependence — and the surfaced double is ONE closing
    division by the constant 2^(H-1). With the 1e12-scale raw weights
    involved, int64 stays exact where a double fold would round.

    Scale: the reference-day scalar is a 1-row aggregate broadcast into
    the scan; the score aggregate is map-combinable on (type, user);
    the top-10 is a rank window inside each type partition — state
    O(types x users) aggregated, never a global sort. Weights depend
    only on the row's own day, so the same plan reaggregates
    incrementally: tomorrow's refresh HALVES yesterday's stored raw
    score (integer shift) and adds the new day's partials
    (tests/test_properties.py::test_decay_topk_reference).
    """
    ev = load_table(spark, sf_dir, "events")
    ref = ev.agg(F.max(F.to_date("ts")).alias("ref_day"))
    delta = F.datediff(F.col("ref_day"), F.to_date("ts"))
    h1 = DECAY_HORIZON - 1
    w_int = F.when(
        delta < DECAY_HORIZON,
        F.expr(
            f"shiftleft(cast(1 as bigint), "
            f"cast({h1} - datediff(ref_day, to_date(ts)) as int))"
        ),
    ).otherwise(F.lit(0).cast("bigint"))
    scored = (
        ev.crossJoin(F.broadcast(ref))
        .groupBy("event_type", "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.when(delta < DECAY_HORIZON, 1).otherwise(0)).alias(
                "n_recent"
            ),
            F.sum(w_int).alias("decayed_raw"),
        )
    )
    rk = F.row_number().over(
        Window.partitionBy("event_type").orderBy(
            F.desc("decayed_raw"), "user_id"
        )
    )
    return (
        scored.withColumn("rank", rk)
        .where(F.col("rank") <= 10)
        .select(
            "event_type",
            "rank",
            "user_id",
            "n_events",
            "n_recent",
            "decayed_raw",
            (F.col("decayed_raw") / F.lit(float(2 ** h1))).alias("score"),
        )
        .orderBy("event_type", "rank")
    )


def _decay_topk_sql(horizon: int) -> str:
    return f"""
WITH ref AS (
  SELECT MAX(CAST(ts AS DATE)) AS ref_day FROM events
), scored AS (
  SELECT event_type, user_id,
         CAST(COUNT(*) AS BIGINT) AS n_events,
         CAST(SUM(CASE WHEN date_diff('day', CAST(ts AS DATE), ref_day)
                            < {horizon} THEN 1 ELSE 0 END) AS BIGINT)
           AS n_recent,
         CAST(SUM(CASE WHEN date_diff('day', CAST(ts AS DATE), ref_day)
                            < {horizon}
                  THEN CAST(1 AS BIGINT)
                       << ({horizon - 1}
                           - date_diff('day', CAST(ts AS DATE), ref_day))
                  ELSE 0 END) AS BIGINT) AS decayed_raw
  FROM events CROSS JOIN ref
  GROUP BY event_type, user_id
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
                               ORDER BY decayed_raw DESC, user_id) AS rank
  FROM scored
)
SELECT event_type, CAST(rank AS INT) AS rank, user_id, n_events, n_recent,
       decayed_raw,
       CAST(decayed_raw AS DOUBLE) / {float(2 ** (horizon - 1))} AS score
FROM ranked WHERE rank <= 10
ORDER BY event_type, rank
"""


EVENTS_DECAY_TOPK_SQL = _decay_topk_sql(DECAY_HORIZON)

def events_holt_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt's linear (double-exponential) smoothing per user, alpha =
    beta = 1/2, plus 1- and 3-step-ahead forecasts — the simplest
    trend-aware forecaster (capacity planning, engagement projection),
    one rung above events_ewma's level-only smoother:

      level_i = (x_i + (level + trend)) / 2
      trend_i = ((level_i - level) + trend) / 2        (seed: x_0, 0)
      forecast_h = level + trend * h

    Determinism: the same pinned-(ts, event_id) array fold as
    events_ewma, now with a STRUCT accumulator (level, trend). Both
    recursions only add, subtract, and halve — every op exact-rounded
    and the sequence written identically in both engines, so the
    doubles are bit-equal with no rounding and no libm. The oracle is
    a recursive CTE, NOT a DuckDB list_reduce struct fold: DuckDB
    evaluates struct-literal fields sequentially against an in-place
    accumulator (acc.level inside the trend expression already sees
    the new level), which silently computes a DIFFERENT recursion —
    found while building this operator's oracle, pinned by
    tests/test_properties.py::test_holt_matches_python_fold.

    Scale: identical to events_ewma — one shuffle on user_id, state
    O(user's events) which is the recursion's intrinsic need, JVM-only.
    """
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.array_sort(
            F.collect_list(F.struct("ts", "event_id", "value"))
        ).alias("ordered"),
    )
    vals = F.transform(F.col("ordered"), lambda x: x["value"])
    zero = F.struct(
        F.lit(None).cast("double").alias("l"),
        F.lit(None).cast("double").alias("t"),
    )

    def step(acc, x):
        l_new = (x + (acc["l"] + acc["t"])) / F.lit(2.0)
        t_new = ((l_new - acc["l"]) + acc["t"]) / F.lit(2.0)
        return F.when(
            acc["l"].isNull(),
            F.struct(x.alias("l"), F.lit(0.0).alias("t")),
        ).otherwise(F.struct(l_new.alias("l"), t_new.alias("t")))

    acc = F.aggregate(vals, zero, step)
    return per_user.select(
        "user_id",
        "n_events",
        acc["l"].alias("level"),
        acc["t"].alias("trend"),
        (acc["l"] + acc["t"]).alias("forecast_1"),
        (acc["l"] + acc["t"] * F.lit(3.0)).alias("forecast_3"),
    ).orderBy("user_id")


EVENTS_HOLT_SQL = """
WITH RECURSIVE per_user AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
         list(value ORDER BY ts, event_id) AS vals
  FROM events GROUP BY user_id
), holt AS (
  SELECT user_id, n_events, vals, 1 AS i,
         vals[1] AS l, CAST(0.0 AS DOUBLE) AS t
  FROM per_user
  UNION ALL
  SELECT user_id, n_events, vals, i + 1,
         (vals[i + 1] + (l + t)) / 2,
         (((vals[i + 1] + (l + t)) / 2 - l) + t) / 2
  FROM holt WHERE i < len(vals)
)
SELECT user_id, n_events, l AS level, t AS trend,
       l + t AS forecast_1, l + t * 3.0 AS forecast_3
FROM holt WHERE i = len(vals)
ORDER BY user_id
"""


INCR_HORIZON = 14     # days kept in the incremental ring (expiry exercised)
INCR_COMMITS = 5      # day-chunked refresh commits in the fold


def events_decay_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance of the decayed leaderboard: the daily
    refresh a deployment would run instead of rescanning the fact table
    — fold the events stream day-chunk by day-chunk into a bounded
    STATE RING of per-(type, user, day) counts, expiring days older
    than the horizon at every commit, then render the leaderboard from
    STATE ONLY. The oracle recomputes from raw events, so a hash match
    proves fold == batch, including expiry.

    The horizon here is 14 days against the fixture's ~30-day span, so
    the expiry branch actually fires mid-fold (a 30-day horizon would
    never drop a row at this data — a vacuous proof). Exactness is
    inherited from events_decay_topk: ring counts are int64, render
    weights are integer 2^k, ONE closing division by a constant.

    Scale: state is O(types x users x horizon) — the classic
    continuous-aggregate trade (same class as events_ohlc_incremental's
    partial-state table); each commit touches one day-chunk of input
    plus the ring, never history. Expiry is a partition predicate
    (day > ref - horizon) — at 100 TB a day-partitioned state table
    drops whole partitions, the reference's partition-scoped DELETE
    restated as retention. The day list collected to plan the chunks is
    bounded by the calendar, not the data
    (tests/test_properties.py::test_decay_incremental_matches_batch).
    """
    ev = load_table(spark, sf_dir, "events").select(
        F.to_date("ts").alias("day"), "event_type", "user_id"
    )
    days = sorted(
        r.day for r in ev.select("day").distinct().collect()
    )  # calendar-bounded: one row per day present
    n = max(1, (len(days) + INCR_COMMITS - 1) // INCR_COMMITS)
    chunks = [days[i: i + n] for i in range(0, len(days), n)]

    ring = None   # (event_type, user_id, day, cnt) — live horizon only
    totals = None  # (event_type, user_id, n_events) — all-time counter
    for chunk in chunks:
        lo, hi = chunk[0], chunk[-1]
        delta = (
            ev.where((F.col("day") >= F.lit(lo)) & (F.col("day") <= F.lit(hi)))
            .groupBy("event_type", "user_id", "day")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        ring = delta if ring is None else ring.unionByName(delta)
        # expiry: the commit's ref day advances monotonically, so a day
        # dropped here could never contribute to any later render
        ring = ring.where(
            F.datediff(F.lit(hi), F.col("day")) < INCR_HORIZON
        ).localCheckpoint(eager=True)
        t = delta.groupBy("event_type", "user_id").agg(
            F.sum("cnt").alias("n_events")
        )
        totals = (
            t
            if totals is None
            else totals.unionByName(t)
            .groupBy("event_type", "user_id")
            .agg(F.sum("n_events").alias("n_events"))
        ).localCheckpoint(eager=True)

    ref_day = days[-1]
    h1 = INCR_HORIZON - 1
    w_int = F.expr(
        f"shiftleft(cast(1 as bigint), "
        f"cast({h1} - datediff(date'{ref_day}', day) as int))"
    )
    live = ring.groupBy("event_type", "user_id").agg(
        F.sum("cnt").alias("n_recent"),
        F.sum(F.col("cnt") * w_int).alias("decayed_raw"),
    )
    # LEFT from totals: a user whose every event expired still ranks
    # (decayed_raw = 0), exactly as the batch recompute ranks them
    scored = totals.join(live, ["event_type", "user_id"], "left").select(
        "event_type",
        "user_id",
        "n_events",
        F.coalesce("n_recent", F.lit(0).cast("bigint")).alias("n_recent"),
        F.coalesce("decayed_raw", F.lit(0).cast("bigint")).alias(
            "decayed_raw"
        ),
    )
    rk = F.row_number().over(
        Window.partitionBy("event_type").orderBy(
            F.desc("decayed_raw"), "user_id"
        )
    )
    return (
        scored.withColumn("rank", rk)
        .where(F.col("rank") <= 10)
        .select(
            "event_type",
            "rank",
            "user_id",
            "n_events",
            "n_recent",
            "decayed_raw",
            (F.col("decayed_raw") / F.lit(float(2 ** h1))).alias("score"),
        )
        .orderBy("event_type", "rank")
    )


# ---------------------------------------------------------------------------
# TWAP: time-weighted average value over an irregular event stream
# ---------------------------------------------------------------------------


def events_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per (event_type, day): the TIME-weighted average value.

    Irregular streams make the plain mean lie — a value that held for
    six hours should count more than one that held for a second (the
    TimescaleDB ``time_weight``/TWAP class the reference's daily bars
    sidestep by assuming regular sampling). Contract: each observation
    carries its value until the NEXT observation of the same type or
    the end of its day, whichever is first (no carry-in across
    midnight; weighting starts at the day's first observation).

    Exactness: weights are microsecond interval durations (int64,
    lead clipped to the day boundary), values are per-row cents, and
    sum(value_c * dur_us) per (type, day) is bounded by
    max_value_c * 86.4e9 — int64-safe BECAUSE the weights sum to at
    most a day. One closing division; the denominator is provably
    positive (the day's last observation always has dur >= 1us since
    ts < day_end).

    Scale: the lead window partitions on (event_type, DAY), not
    event_type alone — semantically identical under the operator's own
    no-midnight-carry contract (a next-DAY observation always clips to
    day_end, so the lead value past the day boundary is never used),
    but it bounds every window sort by one day's traffic for one type.
    event_type has ~8 values: keyed on it alone, each task would sort
    ~1/8 of ALL history — the low-cardinality-key skew this repo's own
    events_skew_profile exists to catch (r9 verdict fix; plan pin in
    tests/test_plans.py::test_twap_window_partitions_by_type_and_day).
    The (type, day) aggregate then rides the same partitioning
    map-side. Ties at the same microsecond get dur 0 — tie-broken
    deterministically by event_id, they contribute no weight in either
    engine.
    """
    ev = load_table(spark, sf_dir, "events")
    day = F.date_trunc("day", "ts")
    w = Window.partitionBy("event_type", day).orderBy("ts", "event_id")
    day_end_us = F.unix_micros(day + F.expr("INTERVAL 1 DAY"))
    ts_us = F.unix_micros("ts")
    next_us = F.lead(ts_us).over(w)
    dur = F.least(F.coalesce(next_us, day_end_us), day_end_us) - ts_us
    weighted = ev.select(
        "event_type",
        day.cast("date").alias("day"),
        dur.alias("dur_us"),
        (cents("value") * dur).alias("vc_dur"),
    )
    return (
        weighted.groupBy("event_type", "day")
        .agg(
            F.count(F.lit(1)).alias("n_obs"),
            F.sum("dur_us").alias("dur_us_sum"),
            F.sum("vc_dur").alias("vc_dur_sum"),
        )
        .withColumn(
            "twap",
            F.col("vc_dur_sum") / F.col("dur_us_sum") / 100.0,
        )
        .orderBy("event_type", "day")
    )


EVENTS_TWAP_SQL = """
WITH spans AS (
  SELECT event_type,
         CAST(date_trunc('day', ts) AS DATE) AS day,
         LEAST(COALESCE(LEAD(epoch_us(ts)) OVER w,
                        epoch_us(date_trunc('day', ts) + INTERVAL 1 DAY)),
               epoch_us(date_trunc('day', ts) + INTERVAL 1 DAY))
           - epoch_us(ts) AS dur_us,
         CAST(ROUND(value * 100) AS BIGINT) AS value_c
  FROM events
  WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
)
SELECT event_type, day,
       COUNT(*) AS n_obs,
       CAST(SUM(dur_us) AS BIGINT) AS dur_us_sum,
       CAST(SUM(value_c * dur_us) AS BIGINT) AS vc_dur_sum,
       CAST(SUM(value_c * dur_us) AS DOUBLE) / SUM(dur_us) / 100.0 AS twap
FROM spans
GROUP BY event_type, day
ORDER BY event_type, day
"""


# ---------------------------------------------------------------------------
# CUSUM changepoint detection over hourly volumes
# ---------------------------------------------------------------------------

CUSUM_H = 1  # flag when the accumulated excess exceeds H mean-hours


def events_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per (event_type, hour): two-sided CUSUM over hourly event volume
    — the classic sequential changepoint statistic (Page 1954): an
    upward shift in rate accumulates in ``cusum_up = max(0, prev +
    (x - mean))`` faster than any single-hour z-score shows, and
    symmetric for drops. Complements events_hourly_anomaly (point
    outliers) with LEVEL-SHIFT detection.

    Exactness: the recursion is rewritten with the prefix-extremum
    identity ``max(0, S + d) fold == P_t - min(0, min_{j<=t} P_j)`` so
    the whole statistic is plain window functions over EXACT integers:
    deviations are scaled by the hour count (``dev = n_hours * x -
    total`` — no mean division, no floats), P is an int64 running sum,
    and both sides come from a running min/max. The flag threshold is
    ``H * total`` (H mean-hours of excess), also integer-exact.

    Scale: hourly pre-aggregation is map-combinable; the windows
    partition by event_type over HOURS — state bounded by the time
    range, never by event volume (the same bound class as the
    (type, day) TWAP window; ~8 types x hours rows total).
    """
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour")
    ).agg(F.count(F.lit(1)).alias("n_events"))
    t_all = Window.partitionBy("event_type")
    run = Window.partitionBy("event_type").orderBy("hour").rowsBetween(
        Window.unboundedPreceding, 0
    )
    x = F.col("n_events").cast("bigint")
    staged = hourly.select(
        "event_type",
        F.date_format("hour", "yyyy-MM-dd HH:00:00").alias("hour"),
        x.alias("n_events"),
        F.count(F.lit(1)).over(t_all).alias("n_hours"),
        F.sum(x).over(t_all).alias("total"),
    )
    dev = F.col("n_hours") * F.col("n_events") - F.col("total")
    summed = staged.select(
        "event_type",
        "hour",
        "n_events",
        "total",
        F.sum(dev).over(run).alias("p"),
    )
    p = F.col("p")
    cusum = summed.select(
        "event_type",
        "hour",
        "n_events",
        "total",
        (p - F.least(F.min(p).over(run), F.lit(0))).alias("cusum_up"),
        (F.greatest(F.max(p).over(run), F.lit(0)) - p).alias("cusum_down"),
    )
    h = F.col("total") * F.lit(CUSUM_H)
    return cusum.select(
        "event_type",
        "hour",
        "n_events",
        "cusum_up",
        "cusum_down",
        (F.col("cusum_up") > h).alias("flag_up"),
        (F.col("cusum_down") > h).alias("flag_down"),
    ).orderBy("event_type", "hour")


EVENTS_CUSUM_SQL = f"""
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS hour,
         CAST(COUNT(*) AS BIGINT) AS n_events
  FROM events GROUP BY 1, 2
), staged AS (
  SELECT event_type, strftime(hour, '%Y-%m-%d %H:00:00') AS hour, n_events,
         CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n_hours,
         CAST(SUM(n_events) OVER (PARTITION BY event_type) AS BIGINT)
           AS total
  FROM hourly
), summed AS (
  SELECT event_type, hour, n_events, total,
         CAST(SUM(n_hours * n_events - total) OVER run AS BIGINT) AS p
  FROM staged
  WINDOW run AS (PARTITION BY event_type ORDER BY hour
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), prefixed AS (
  SELECT event_type, hour, n_events, total, p,
         CAST(MIN(p) OVER run AS BIGINT) AS mn,
         CAST(MAX(p) OVER run AS BIGINT) AS mx
  FROM summed
  WINDOW run AS (PARTITION BY event_type ORDER BY hour
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT event_type, hour, n_events,
       p - LEAST(mn, 0) AS cusum_up,
       GREATEST(mx, 0) - p AS cusum_down,
       (p - LEAST(mn, 0)) > total * {CUSUM_H} AS flag_up,
       (GREATEST(mx, 0) - p) > total * {CUSUM_H} AS flag_down
FROM prefixed
ORDER BY event_type, hour
"""


CUSUM_TRAIN_DAYS = 7  # in-control baseline window (mu0 per type)
CUSUM_COMMITS = 4  # incremental fold commits over the monitored span


def events_cusum_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous CUSUM monitoring as an INCREMENTAL fold: train the
    in-control mean mu0 per type on the first CUSUM_TRAIN_DAYS days,
    then fold the monitored hours commit-by-commit carrying only THREE
    integers of state per type — (P, running-min P, running-max P), the
    entire CUSUM memory under the prefix-extremum identity. The oracle
    recomputes the same statistic in one batch pass over raw events, so
    a hash match proves fold == batch.

    This is the O(1)-STATE end of the incremental spectrum: where
    events_decay_incremental carries O(types x users x horizon) ring
    rows, a rate monitor carries 3 int64 per type — the state a
    streaming deployment would keep in applyInPandasWithState. Fixed
    mu0 (not the full-period mean of the batch events_cusum row) is
    what makes the statistic computable online at all, and is standard
    CUSUM practice: the baseline is trained, drift is measured against
    it.

    Exactness: dev = n_train * x - total_train (int64, no mean
    division); types absent from the training window have no baseline
    and are excluded in both engines; flags trip at H = 1 training
    total of accumulated excess.
    """
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour")
    ).agg(F.count(F.lit(1)).alias("n_events"))
    first_day = ev.agg(
        F.min(F.date_trunc("day", "ts")).alias("d")
    ).collect()[0]["d"]  # 1-row collect, bounded
    cutoff = first_day + dt.timedelta(days=CUSUM_TRAIN_DAYS)
    train = (
        hourly.where(F.col("hour") < F.lit(cutoff))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_train"),
            F.sum("n_events").alias("total_train"),
        )
    )
    mon = hourly.where(F.col("hour") >= F.lit(cutoff)).join(
        F.broadcast(train), "event_type"
    )
    days = sorted(
        r.d
        for r in mon.select(F.to_date("hour").alias("d")).distinct().collect()
    )  # calendar-bounded
    n = max(1, (len(days) + CUSUM_COMMITS - 1) // CUSUM_COMMITS)
    chunks = [days[i : i + n] for i in range(0, len(days), n)]

    state = None  # (event_type, p0, mn0, mx0) — 3 ints per type
    run = Window.partitionBy("event_type").orderBy("hour").rowsBetween(
        Window.unboundedPreceding, 0
    )
    outs = []
    for chunk in chunks:
        lo, hi = chunk[0], chunk[-1]
        part = mon.where(
            (F.to_date("hour") >= F.lit(lo)) & (F.to_date("hour") <= F.lit(hi))
        )
        dev = F.col("n_train") * F.col("n_events") - F.col("total_train")
        local = part.select(
            "event_type",
            "hour",
            "n_events",
            "total_train",
            F.sum(dev).over(run).alias("lp"),
        )
        local = local.select(
            "event_type",
            "hour",
            "n_events",
            "total_train",
            "lp",
            F.min("lp").over(run).alias("lmn"),
            F.max("lp").over(run).alias("lmx"),
        )
        if state is not None:
            local = local.join(F.broadcast(state), "event_type", "left")
        else:
            local = local.select(
                "*",
                F.lit(None).cast("bigint").alias("p0"),
                F.lit(None).cast("bigint").alias("mn0"),
                F.lit(None).cast("bigint").alias("mx0"),
            )
        p = F.coalesce(F.col("p0"), F.lit(0)) + F.col("lp")
        # least/greatest ignore NULL seeds: the first chunk's running
        # extrema are the local ones
        runmin = F.least(
            F.col("mn0"), F.coalesce(F.col("p0"), F.lit(0)) + F.col("lmn")
        )
        runmax = F.greatest(
            F.col("mx0"), F.coalesce(F.col("p0"), F.lit(0)) + F.col("lmx")
        )
        emitted = local.select(
            "event_type",
            F.date_format("hour", "yyyy-MM-dd HH:00:00").alias("hour"),
            F.col("n_events").cast("bigint").alias("n_events"),
            (p - F.least(runmin, F.lit(0))).alias("cusum_up"),
            (F.greatest(runmax, F.lit(0)) - p).alias("cusum_down"),
            (p - F.least(runmin, F.lit(0)) > F.col("total_train")).alias(
                "flag_up"
            ),
            (F.greatest(runmax, F.lit(0)) - p > F.col("total_train")).alias(
                "flag_down"
            ),
            p.alias("_p"),
            runmin.alias("_mn"),
            runmax.alias("_mx"),
            F.col("hour").alias("_hour_ts"),
        ).localCheckpoint(eager=True)
        outs.append(emitted.drop("_p", "_mn", "_mx", "_hour_ts"))
        new_state = emitted.groupBy("event_type").agg(
            F.max_by("_p", "_hour_ts").alias("p0"),
            F.min("_mn").alias("mn0"),
            F.max("_mx").alias("mx0"),
        )
        if state is None:
            state = new_state
        else:
            # MERGE with the carried state, never replace it: a type
            # with no monitored hours in THIS chunk must keep its
            # (P, min, max) so the next chunk it appears in resumes the
            # fold instead of restarting from zero (fold == batch even
            # with per-type gaps). Prefer the newer p0 (latest running
            # sum); extrema are least/greatest across both, which skip
            # the NULL of a side missing the type.
            old = state.select(
                "event_type",
                F.col("p0").alias("_op0"),
                F.col("mn0").alias("_omn"),
                F.col("mx0").alias("_omx"),
            )
            state = new_state.join(old, "event_type", "full_outer").select(
                "event_type",
                F.coalesce("p0", "_op0").alias("p0"),
                F.least("mn0", "_omn").alias("mn0"),
                F.greatest("mx0", "_omx").alias("mx0"),
            )
        # keep the carried plan flat across commits (state is O(types))
        state = state.localCheckpoint(eager=True)
    if not outs:
        return mon.select(
            "event_type",
            F.date_format("hour", "yyyy-MM-dd HH:00:00").alias("hour"),
            F.col("n_events").cast("bigint").alias("n_events"),
            F.lit(0).cast("bigint").alias("cusum_up"),
            F.lit(0).cast("bigint").alias("cusum_down"),
            F.lit(False).alias("flag_up"),
            F.lit(False).alias("flag_down"),
        ).limit(0)
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.orderBy("event_type", "hour")


EVENTS_CUSUM_INCR_SQL = f"""
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS hour,
         CAST(COUNT(*) AS BIGINT) AS n_events
  FROM events GROUP BY 1, 2
), bounds AS (
  SELECT MIN(date_trunc('day', ts)) + INTERVAL {CUSUM_TRAIN_DAYS} DAY
           AS cutoff
  FROM events
), train AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_train,
         CAST(SUM(n_events) AS BIGINT) AS total_train
  FROM hourly CROSS JOIN bounds
  WHERE hour < cutoff GROUP BY 1
), mon AS (
  SELECT h.event_type, h.hour, h.n_events, t.n_train, t.total_train
  FROM hourly h
  JOIN train t ON t.event_type = h.event_type
  CROSS JOIN bounds
  WHERE h.hour >= cutoff
), summed AS (
  SELECT event_type, hour, n_events, total_train,
         CAST(SUM(n_train * n_events - total_train) OVER run AS BIGINT) AS p
  FROM mon
  WINDOW run AS (PARTITION BY event_type ORDER BY hour
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), prefixed AS (
  SELECT event_type, hour, n_events, total_train, p,
         CAST(MIN(p) OVER run AS BIGINT) AS mn,
         CAST(MAX(p) OVER run AS BIGINT) AS mx
  FROM summed
  WINDOW run AS (PARTITION BY event_type ORDER BY hour
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT event_type, strftime(hour, '%Y-%m-%d %H:00:00') AS hour, n_events,
       p - LEAST(mn, 0) AS cusum_up,
       GREATEST(mx, 0) - p AS cusum_down,
       (p - LEAST(mn, 0)) > total_train AS flag_up,
       (GREATEST(mx, 0) - p) > total_train AS flag_down
FROM prefixed
ORDER BY event_type, hour
"""


def events_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly growth accounting: every active (user, week) classified as
    NEW (first week ever), RETAINED (also active the prior calendar
    week) or RESURRECTED (returning after a gap), plus CHURNED counted
    in the week a previously-active user went quiet — the
    new/retained/resurrected/churned decomposition product teams read
    before any other growth chart.

    Exactness: weeks are date_trunc boundaries; "prior week" is the
    CALENDAR week (week - 7 days as an exact date), matched against the
    user's previous ACTIVE week from a lag — all integer/date equality,
    no floats anywhere. Churn emits at next_week for every active week
    not followed by one (including one week past the data's end: the
    cohort that was active in the final week and then stopped — same in
    both engines by construction).

    Scale: one distinct over (user, week) bounds everything downstream
    by ACTIVE user-weeks, not events; the lag/lead window partitions by
    user; the final per-week rollup is map-combinable. 100 TB of raw
    events collapses at the first aggregate.
    """
    ev = load_table(spark, sf_dir, "events")
    uw = ev.select(
        "user_id", F.date_trunc("week", "ts").cast("date").alias("week")
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("week")
    seq = uw.select(
        "user_id",
        "week",
        F.lag("week").over(w).alias("prev_w"),
        F.lead("week").over(w).alias("next_w"),
    )
    states = seq.select(
        "week",
        F.when(F.col("prev_w").isNull(), F.lit("new"))
        .when(
            F.col("prev_w") == F.date_sub("week", 7), F.lit("retained")
        )
        .otherwise(F.lit("resurrected"))
        .alias("state"),
    )
    churn = seq.where(
        F.col("next_w").isNull()
        | (F.col("next_w") != F.date_add("week", 7))
    ).select(
        F.date_add("week", 7).alias("week"), F.lit("churned").alias("state")
    )
    return (
        states.unionByName(churn)
        .groupBy("week")
        .agg(
            F.sum(F.when(F.col("state") == "new", 1).otherwise(0))
            .cast("bigint")
            .alias("n_new"),
            F.sum(F.when(F.col("state") == "retained", 1).otherwise(0))
            .cast("bigint")
            .alias("n_retained"),
            F.sum(F.when(F.col("state") == "resurrected", 1).otherwise(0))
            .cast("bigint")
            .alias("n_resurrected"),
            F.sum(F.when(F.col("state") == "churned", 1).otherwise(0))
            .cast("bigint")
            .alias("n_churned"),
        )
        .orderBy("week")
    )


EVENTS_GROWTH_SQL = """
WITH uw AS (
  SELECT DISTINCT user_id,
         CAST(date_trunc('week', ts) AS DATE) AS week
  FROM events
), seq AS (
  SELECT user_id, week,
         LAG(week) OVER w AS prev_w,
         LEAD(week) OVER w AS next_w
  FROM uw WINDOW w AS (PARTITION BY user_id ORDER BY week)
), states AS (
  SELECT week,
         CASE WHEN prev_w IS NULL THEN 'new'
              WHEN prev_w = week - INTERVAL 7 DAY THEN 'retained'
              ELSE 'resurrected' END AS state
  FROM seq
  UNION ALL
  SELECT CAST(week + INTERVAL 7 DAY AS DATE), 'churned'
  FROM seq
  WHERE next_w IS NULL OR next_w != CAST(week + INTERVAL 7 DAY AS DATE)
)
SELECT week,
       CAST(SUM(CASE WHEN state = 'new' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_new,
       CAST(SUM(CASE WHEN state = 'retained' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_retained,
       CAST(SUM(CASE WHEN state = 'resurrected' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_resurrected,
       CAST(SUM(CASE WHEN state = 'churned' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_churned
FROM states
GROUP BY week
ORDER BY week
"""


def events_hourofweek_seasonality(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Hour-of-week seasonal profile per event type: for each of the
    168 (day-of-week, hour) cells, the observed event count, its
    seasonal index vs a uniform week, and a hot/normal/cold label —
    the profile capacity planners and anomaly detectors subtract
    before looking at anything else (events_hourly_anomaly's missing
    denominator).

    Exactness: day-of-week avoids BOTH engines' locale/convention
    traps (Spark dayofweek is 1=Sunday, DuckDB dayofweek is 0=Sunday,
    isodow is 1=Monday) by computing it from epoch-day arithmetic
    identically in both: (datediff(day, DATE '1970-01-01') + 4) % 7,
    0 = Sunday (1970-01-01 was a Thursday = 4). The index is ONE
    closing division of exact ints (n*168 / total); the label compares
    n*168 against 2*total / total against 2*n*168 in pure int64 —
    no decimal literals anywhere (the ceil(n*0.05) trap).

    Scale: one map-combinable groupBy collapses any event volume to
    <= |types| x 168 rows; the per-type total is a window over that
    dimension-bounded profile — no second pass over the fact table.
    """
    ev = load_table(spark, sf_dir, "events")
    dow = (F.datediff(F.to_date("ts"), F.lit("1970-01-01")) + 4) % 7
    prof = ev.groupBy(
        "event_type",
        dow.cast("int").alias("dow"),
        F.hour("ts").cast("int").alias("hour"),
    ).agg(F.count(F.lit(1)).alias("n_events"))
    tot = Window.partitionBy("event_type")
    total = F.sum("n_events").over(tot)
    scaled = F.col("n_events") * F.lit(168)
    label = (
        F.when(scaled > 2 * total, F.lit("hot"))
        .when(2 * scaled < total, F.lit("cold"))
        .otherwise(F.lit("normal"))
    )
    return (
        prof.select(
            "event_type",
            "dow",
            "hour",
            F.col("n_events").cast("bigint").alias("n_events"),
            total.cast("bigint").alias("total_type"),
            (scaled.cast("double") / total).alias("seasonal_idx"),
            label.alias("label"),
        )
        .orderBy("event_type", "dow", "hour")
    )


EVENTS_SEASONALITY_SQL = """
WITH prof AS (
  SELECT event_type,
         CAST((datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) + 4) % 7
              AS INTEGER) AS dow,
         CAST(extract(hour FROM ts) AS INTEGER) AS hour,
         CAST(COUNT(*) AS BIGINT) AS n_events
  FROM events
  GROUP BY 1, 2, 3
)
SELECT event_type, dow, hour, n_events,
       CAST(SUM(n_events) OVER tot AS BIGINT) AS total_type,
       CAST(n_events * 168 AS DOUBLE) / SUM(n_events) OVER tot
         AS seasonal_idx,
       CASE WHEN n_events * 168 > 2 * SUM(n_events) OVER tot THEN 'hot'
            WHEN 2 * n_events * 168 < SUM(n_events) OVER tot THEN 'cold'
            ELSE 'normal' END AS label
FROM prof
WINDOW tot AS (PARTITION BY event_type)
ORDER BY event_type, dow, hour
"""


def events_mad_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust hourly anomaly detection per event type: flag hours whose
    count deviates from the type's MEDIAN by more than 3x the MEDIAN
    ABSOLUTE DEVIATION — the outlier rule that, unlike z-scores
    (events_hourly_anomaly's mean/stddev), is not itself corrupted by
    the outliers it hunts.

    Exactness: both medians are exact discrete order statistics (lower
    median: the smallest value whose doubled cumulative count reaches
    the hour total — integer cross-multiplication, no interpolation, no
    halves), computed from COUNT-VALUE HISTOGRAMS, never by sorting raw
    hours; the flag compares int64 (abs_dev > 3 * mad).

    Scale: the fact table collapses at the first (type, hour) aggregate
    — checkpointed so the scan runs ONCE — and everything after runs on
    calendar-bounded rows (<= |types| x hours, then <= |types| x
    distinct count values). The median-of-histogram trick is
    orders_ship_sla's bounded-domain order statistic applied twice.
    """
    ev = load_table(spark, sf_dir, "events")
    hourly = (
        ev.groupBy(
            "event_type", F.date_trunc("hour", "ts").alias("hour")
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=True)  # bounded rows; fact scan runs once
    )

    def _median_of(df: DataFrame, col: str, out: str) -> DataFrame:
        hist = df.groupBy("event_type", col).agg(
            F.count(F.lit(1)).alias("freq")
        )
        wcum = (
            Window.partitionBy("event_type")
            .orderBy(col)
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        wtot = Window.partitionBy("event_type")
        c = hist.select(
            "event_type",
            F.col(col),
            F.sum("freq").over(wcum).alias("cum"),
            F.sum("freq").over(wtot).alias("h"),
        )
        return c.groupBy("event_type").agg(
            F.min(F.when(2 * F.col("cum") >= F.col("h"), F.col(col))).alias(
                out
            )
        )

    med = _median_of(hourly, "n", "med")
    dev = hourly.join(med, "event_type").select(
        "event_type",
        "hour",
        "n",
        "med",
        F.abs(F.col("n") - F.col("med")).alias("abs_dev"),
    )
    mad = _median_of(dev, "abs_dev", "mad")
    return (
        dev.join(mad, "event_type")
        .where(F.col("abs_dev") > 3 * F.col("mad"))
        .select(
            "event_type",
            F.date_format("hour", "yyyy-MM-dd HH:00:00").alias("hour"),
            F.col("n").cast("bigint").alias("n_events"),
            F.col("med").cast("bigint").alias("med"),
            F.col("mad").cast("bigint").alias("mad"),
            F.col("abs_dev").cast("bigint").alias("abs_dev"),
        )
        .orderBy("event_type", "hour")
    )


EVENTS_MAD_SQL = """
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS hour,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
), nhist AS (
  SELECT event_type, n, CAST(COUNT(*) AS BIGINT) AS freq
  FROM hourly GROUP BY 1, 2
), ncum AS (
  SELECT event_type, n,
         CAST(SUM(freq) OVER wcum AS BIGINT) AS cum,
         CAST(SUM(freq) OVER wtot AS BIGINT) AS h
  FROM nhist
  WINDOW wcum AS (PARTITION BY event_type ORDER BY n
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         wtot AS (PARTITION BY event_type)
), med AS (
  SELECT event_type,
         MIN(CASE WHEN 2 * cum >= h THEN n END) AS med
  FROM ncum GROUP BY 1
), dev AS (
  SELECT h.event_type, h.hour, h.n, m.med, abs(h.n - m.med) AS abs_dev
  FROM hourly h JOIN med m ON m.event_type = h.event_type
), dhist AS (
  SELECT event_type, abs_dev, CAST(COUNT(*) AS BIGINT) AS freq
  FROM dev GROUP BY 1, 2
), dcum AS (
  SELECT event_type, abs_dev,
         CAST(SUM(freq) OVER wcum AS BIGINT) AS cum,
         CAST(SUM(freq) OVER wtot AS BIGINT) AS h
  FROM dhist
  WINDOW wcum AS (PARTITION BY event_type ORDER BY abs_dev
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         wtot AS (PARTITION BY event_type)
), mad AS (
  SELECT event_type,
         MIN(CASE WHEN 2 * cum >= h THEN abs_dev END) AS mad
  FROM dcum GROUP BY 1
)
SELECT d.event_type,
       strftime(d.hour, '%Y-%m-%d %H:00:00') AS hour,
       d.n AS n_events,
       d.med AS med,
       m.mad AS mad,
       d.abs_dev AS abs_dev
FROM dev d JOIN mad m ON m.event_type = d.event_type
WHERE d.abs_dev > 3 * m.mad
ORDER BY d.event_type, hour
"""


def events_burst_episodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burst EPISODES per event type: maximal runs of CONSECUTIVE hours
    whose count exceeds twice the type's mean hourly rate, reported as
    one row per episode (start, end, length, peak, volume) — the
    incident-shaped rollup an on-call reads, not the per-hour flag
    stream (events_hourly_anomaly / events_mad_anomaly) it derives
    from.

    Exactness: the qualifying test is pure integer cross-multiplication
    (n * observed_hours > 2 * total_events — no mean division); episode
    grouping is gaps-and-islands over the integer hour index
    (epoch-seconds div 3600, exact on hour-truncated timestamps), with
    island id = hour_index - row_number.

    Scale: the fact table collapses at the first (type, hour)
    aggregate; the window + islands run on calendar-bounded rows. Same
    class as events_transitions' gaps-and-islands.
    """
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour")
    ).agg(F.count(F.lit(1)).alias("n"))
    wtot = Window.partitionBy("event_type")
    scaled = hourly.select(
        "event_type",
        "hour",
        "n",
        F.sum("n").over(wtot).alias("t"),
        F.count(F.lit(1)).over(wtot).alias("h"),
    )
    qual = scaled.where(F.col("n") * F.col("h") > 2 * F.col("t"))
    hrs = F.expr("unix_timestamp(hour) div 3600")
    wseq = Window.partitionBy("event_type").orderBy("hour")
    isl = qual.select(
        "event_type",
        "hour",
        "n",
        (hrs - F.row_number().over(wseq)).alias("isl"),
    )
    return (
        isl.groupBy("event_type", "isl")
        .agg(
            F.date_format(F.min("hour"), "yyyy-MM-dd HH:00:00").alias(
                "start_hour"
            ),
            F.date_format(F.max("hour"), "yyyy-MM-dd HH:00:00").alias(
                "end_hour"
            ),
            F.count(F.lit(1)).cast("bigint").alias("n_hours"),
            F.max("n").cast("bigint").alias("peak_n"),
            F.sum("n").cast("bigint").alias("total_n"),
        )
        .drop("isl")
        .orderBy("event_type", "start_hour")
    )


EVENTS_BURST_SQL = """
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS hour,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
), scaled AS (
  SELECT event_type, hour, n,
         CAST(SUM(n) OVER wtot AS BIGINT) AS t,
         CAST(COUNT(*) OVER wtot AS BIGINT) AS h
  FROM hourly
  WINDOW wtot AS (PARTITION BY event_type)
), qual AS (
  SELECT event_type, hour, n FROM scaled WHERE n * h > 2 * t
), isl AS (
  SELECT event_type, hour, n,
         epoch_ms(hour) // 3600000
           - ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY hour)
           AS isl
  FROM qual
)
SELECT event_type,
       strftime(MIN(hour), '%Y-%m-%d %H:00:00') AS start_hour,
       strftime(MAX(hour), '%Y-%m-%d %H:00:00') AS end_hour,
       CAST(COUNT(*) AS BIGINT) AS n_hours,
       CAST(MAX(n) AS BIGINT) AS peak_n,
       CAST(SUM(n) AS BIGINT) AS total_n
FROM isl
GROUP BY event_type, isl
ORDER BY event_type, start_hour
"""


HLL_M = 256  # 2^8 buckets: standard error 1.04/sqrt(256) ~ 6.5%
HLL_W = 52  # suffix bits after the bucket split of the 60-bit hash
# alpha_m for m >= 128 (Flajolet et al. 2007); ONE decimal literal
# embedded verbatim in both engines so they parse the identical double
HLL_ALPHA = repr(0.7213 / (1 + 1.079 / HLL_M))


def events_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type distinct users via a HYPERLOGLOG sketch built from
    exact-integer registers, reported NEXT TO the exact count — the
    mergeable distinct-count primitive every at-scale rollup pipeline
    keeps instead of raw user sets (registers re-aggregate with MAX
    across any partitioning of the data; COUNT(DISTINCT) does not).

    Exactness discipline (what makes an approximate sketch
    hash-checkable): every register is exact int64 — bucket = h % m and
    rho = W - bit_length(suffix) + 1 with bit_length as length(bin(w))
    (both engines' bin() is minimal-width); the harmonic sum is kept
    RATIONAL as S_int = sum(2^(W+1-rho)) + empties * 2^(W+1) (max 2^61,
    int64-safe), so the one float step is the closing
    alpha * m^2 * 2^(W+1) / S_int — a literal-constant multiply and ONE
    division, identical in both engines. No libm anywhere: pow/log
    never appear (the raw estimator only; bias corrections need log and
    would break cross-engine exactness — rel_err vs the exact count is
    reported instead, which is the honest evidence).

    Scale: the register table is one map-combinable groupBy down to
    <= |types| x 256 rows; the exact COUNT(DISTINCT) alongside costs a
    user-level shuffle and exists to GRADE the sketch — a production
    rollup would drop it and keep only the mergeable registers.
    """
    ev = load_table(spark, sf_dir, "events")
    h = hash60(F.col("user_id").cast("string"))
    # bucket/suffix split stays INTEGER: bitwiseAND + shiftright (a
    # double-path h/256 would lose bits above 2^53 on a 60-bit hash)
    keyed = ev.select(
        "event_type",
        h.bitwiseAND(F.lit(HLL_M - 1)).alias("bucket"),
        F.shiftright(h, 8).alias("w"),
        "user_id",
    )
    rho = F.when(F.col("w") == 0, F.lit(HLL_W + 1)).otherwise(
        F.lit(HLL_W) - F.length(F.bin("w")) + 1
    )
    regs = keyed.groupBy("event_type", "bucket").agg(
        F.max(rho).alias("maxrho")
    )
    # 2^(W+1-rho) via an integer SHIFT, never pow() (libm)
    per_type = regs.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_obs"),
        F.sum(
            F.expr(f"shiftleft(cast(1 as bigint), {HLL_W + 1} - maxrho)")
        ).cast("bigint").alias("s_obs"),
    )
    exact = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("n_exact")
    )
    s_int = (
        F.col("s_obs")
        + (F.lit(HLL_M) - F.col("n_obs")) * F.lit(1 << (HLL_W + 1))
    )
    est = (
        F.lit(float(HLL_ALPHA))
        * F.lit(HLL_M * HLL_M)
        * F.lit(float(1 << (HLL_W + 1)))
        / s_int.cast("double")
    )
    return (
        per_type.join(exact, "event_type")
        .select(
            "event_type",
            F.col("n_exact").cast("bigint").alias("n_exact"),
            F.col("n_obs").cast("bigint").alias("n_registers"),
            est.alias("hll_estimate"),
            ((est - F.col("n_exact")) / F.col("n_exact")).alias("rel_err"),
        )
        .orderBy("event_type")
    )


EVENTS_HLL_SQL = f"""
WITH keyed AS (
  SELECT event_type,
         {hash60_sql("CAST(user_id AS VARCHAR)")} % {HLL_M} AS bucket,
         {hash60_sql("CAST(user_id AS VARCHAR)")} // {HLL_M} AS w,
         user_id
  FROM events
), regs AS (
  SELECT event_type, bucket,
         MAX(CASE WHEN w = 0 THEN {HLL_W + 1}
                  ELSE {HLL_W} - length(bin(w)) + 1 END) AS maxrho
  FROM keyed GROUP BY 1, 2
), per_type AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n_obs,
         CAST(SUM(CAST(1 AS BIGINT) << ({HLL_W + 1} - maxrho))
              AS BIGINT) AS s_obs
  FROM regs GROUP BY 1
), exact AS (
  SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact
  FROM events GROUP BY 1
)
SELECT p.event_type,
       e.n_exact,
       p.n_obs AS n_registers,
       CAST({HLL_ALPHA} AS DOUBLE) * {HLL_M * HLL_M} * CAST({1 << (HLL_W + 1)} AS DOUBLE)
         / (p.s_obs + ({HLL_M} - p.n_obs) * {1 << (HLL_W + 1)})
         AS hll_estimate,
       (CAST({HLL_ALPHA} AS DOUBLE) * {HLL_M * HLL_M} * CAST({1 << (HLL_W + 1)} AS DOUBLE)
         / (p.s_obs + ({HLL_M} - p.n_obs) * {1 << (HLL_W + 1)})
        - e.n_exact) / e.n_exact AS rel_err
FROM per_type p JOIN exact e ON e.event_type = p.event_type
ORDER BY p.event_type
"""


def events_hll_reagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The property that makes HLL worth keeping — MERGEABILITY —
    proven as a query: registers built independently PER DAY, then
    max-merged across days, must equal the registers built over the
    whole corpus in one pass (max is associative/commutative/idempotent
    over any partitioning of the data). Surface: per type, the merged
    estimate, the one-pass estimate, and their exact register-level
    equality — the re-aggregation contract a rollup pipeline relies on
    when it stores daily sketches and serves monthly distincts
    (events_sketch_reagg's pattern applied to distinct counting).

    Exactness: both paths produce exact int64 registers; equality is
    integer comparison; the two estimates run the identical closing
    float expression on identical S_int, so merged_estimate ==
    onepass_estimate exactly when the registers agree (and the boolean
    column proves they do).

    Scale: the daily-register table is <= |types| x days x 256 rows
    (map-combinable groupBy); the merge is a second tiny groupBy. This
    is strictly the shape a warehouse stores: one register set per
    (type, day) partition, merged at query time.
    """
    ev = load_table(spark, sf_dir, "events")
    h = hash60(F.col("user_id").cast("string"))
    keyed = ev.select(
        "event_type",
        F.to_date("ts").alias("day"),
        h.bitwiseAND(F.lit(HLL_M - 1)).alias("bucket"),
        F.shiftright(h, 8).alias("w"),
    )
    rho = F.when(F.col("w") == 0, F.lit(HLL_W + 1)).otherwise(
        F.lit(HLL_W) - F.length(F.bin("w")) + 1
    )
    daily = keyed.groupBy("event_type", "day", "bucket").agg(
        F.max(rho).alias("maxrho")
    )
    merged = daily.groupBy("event_type", "bucket").agg(
        F.max("maxrho").alias("maxrho")
    )
    onepass = keyed.groupBy("event_type", "bucket").agg(
        F.max(rho).alias("maxrho")
    )

    def _est(regs: DataFrame, prefix: str) -> DataFrame:
        per = regs.groupBy("event_type").agg(
            F.count(F.lit(1)).alias(f"{prefix}_n_obs"),
            F.sum(
                F.expr(f"shiftleft(cast(1 as bigint), {HLL_W + 1} - maxrho)")
            ).cast("bigint").alias(f"{prefix}_s"),
        )
        s_int = (
            F.col(f"{prefix}_s")
            + (F.lit(HLL_M) - F.col(f"{prefix}_n_obs"))
            * F.lit(1 << (HLL_W + 1))
        )
        est = (
            F.lit(float(HLL_ALPHA))
            * F.lit(HLL_M * HLL_M)
            * F.lit(float(1 << (HLL_W + 1)))
            / s_int.cast("double")
        )
        return per.select(
            "event_type", est.alias(f"{prefix}_estimate"),
            F.col(f"{prefix}_s").alias(f"{prefix}_s_int"),
        )

    # register-LEVEL equality (not just harmonic-sum equality): a full
    # outer join on (type, bucket) counts any bucket whose max-merged
    # rho differs from the one-pass rho — must be zero per type
    mism = (
        merged.withColumnRenamed("maxrho", "rho_m")
        .join(
            onepass.withColumnRenamed("maxrho", "rho_o"),
            ["event_type", "bucket"],
            "full_outer",
        )
        .groupBy("event_type")
        .agg(
            F.sum(
                F.when(
                    F.coalesce(F.col("rho_m"), F.lit(-1))
                    != F.coalesce(F.col("rho_o"), F.lit(-1)),
                    1,
                ).otherwise(0)
            ).alias("n_mismatch")
        )
    )
    m, o = _est(merged, "merged"), _est(onepass, "onepass")
    return (
        m.join(o, "event_type")
        .join(mism, "event_type")
        .select(
            "event_type",
            "merged_estimate",
            "onepass_estimate",
            (F.col("n_mismatch") == 0).alias("registers_equal"),
        )
        .orderBy("event_type")
    )


def _hll_reagg_sql() -> str:
    keyed = f"""
  SELECT event_type, CAST(ts AS DATE) AS day,
         {hash60_sql("CAST(user_id AS VARCHAR)")} % {HLL_M} AS bucket,
         {hash60_sql("CAST(user_id AS VARCHAR)")} // {HLL_M} AS w
  FROM events"""
    rho = (
        f"MAX(CASE WHEN w = 0 THEN {HLL_W + 1} "
        f"ELSE {HLL_W} - length(bin(w)) + 1 END)"
    )
    est = (
        f"CAST({HLL_ALPHA} AS DOUBLE) * {HLL_M * HLL_M} "
        f"* CAST({1 << (HLL_W + 1)} AS DOUBLE) "
        f"/ (s + ({HLL_M} - n_obs) * {1 << (HLL_W + 1)})"
    )
    return f"""
WITH keyed AS ({keyed}
), daily AS (
  SELECT event_type, day, bucket, {rho} AS maxrho
  FROM keyed GROUP BY 1, 2, 3
), merged AS (
  SELECT event_type, bucket, MAX(maxrho) AS maxrho
  FROM daily GROUP BY 1, 2
), onepass AS (
  SELECT event_type, bucket, {rho} AS maxrho
  FROM keyed GROUP BY 1, 2
), m AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_obs,
         CAST(SUM(CAST(1 AS BIGINT) << ({HLL_W + 1} - maxrho)) AS BIGINT)
           AS s
  FROM merged GROUP BY 1
), o AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_obs,
         CAST(SUM(CAST(1 AS BIGINT) << ({HLL_W + 1} - maxrho)) AS BIGINT)
           AS s
  FROM onepass GROUP BY 1
), mism AS (
  SELECT COALESCE(a.event_type, b.event_type) AS event_type,
         CAST(SUM(CASE WHEN COALESCE(a.maxrho, -1)
                            != COALESCE(b.maxrho, -1)
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_mismatch
  FROM merged a
  FULL OUTER JOIN onepass b
    ON b.event_type = a.event_type AND b.bucket = a.bucket
  GROUP BY 1
)
SELECT m.event_type,
       {est.replace('s +', 'm.s +').replace('- n_obs', '- m.n_obs')}
         AS merged_estimate,
       {est.replace('s +', 'o.s +').replace('- n_obs', '- o.n_obs')}
         AS onepass_estimate,
       x.n_mismatch = 0 AS registers_equal
FROM m
JOIN o ON o.event_type = m.event_type
JOIN mism x ON x.event_type = m.event_type
ORDER BY m.event_type
"""


EVENTS_HLL_REAGG_SQL = _hll_reagg_sql()


def events_hll_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL SET ALGEBRA over event-type audiences: for every unordered
    type pair, the union estimate from MAX-MERGED registers (the
    operation sketches exist for — |A ∪ B| without touching raw users)
    and the intersection by inclusion-exclusion (est_a + est_b -
    est_union; reported RAW, which can legitimately go negative inside
    the sketch's error band — clamping would hide exactly the error a
    reader must see), graded against the EXACT union count.

    Exactness: registers and merges are int64 (max over per-type rhos);
    every estimate is the same single closing float expression as
    events_hll_distinct; the pair expansion is |types|^2 — dimension
    scale. The exact union grader shuffles (pair, user) distinct pairs
    — bounded by |pairs| x users, present to GRADE the sketch like
    n_exact in events_hll_distinct.

    Scale: per-type registers are one map-combinable groupBy; all pair
    algebra runs on <= |types|^2 x 256 register rows.

    Plan shape (r11 verdict ask #8): the pair spine is an explode of
    the one-row collected type set (two Generate nodes — the |types|^2
    expansion without any join, so it can't be replicated as a BNLJ
    into every consumer branch), and the exact-union grader is a UNION
    of two equi-joins instead of a disjunctive-predicate join — zero
    BroadcastNestedLoopJoins in the whole plan, pinned by
    tests/test_plans.py (was 4).
    """
    ev = load_table(spark, sf_dir, "events")
    h = hash60(F.col("user_id").cast("string"))
    keyed = ev.select(
        "event_type",
        h.bitwiseAND(F.lit(HLL_M - 1)).alias("bucket"),
        F.shiftright(h, 8).alias("w"),
        "user_id",
    ).localCheckpoint(eager=True)
    rho = F.when(F.col("w") == 0, F.lit(HLL_W + 1)).otherwise(
        F.lit(HLL_W) - F.length(F.bin("w")) + 1
    )
    regs = keyed.groupBy("event_type", "bucket").agg(
        F.max(rho).alias("maxrho")
    )
    # unordered type pairs WITHOUT a join: collect the (dimension-scale)
    # type set into one row, explode twice, keep the a < b triangle
    pairs = (
        regs.agg(F.collect_set("event_type").alias("ts"))
        .select(F.explode("ts").alias("type_a"), "ts")
        .select("type_a", F.explode("ts").alias("type_b"))
        .where(F.col("type_a") < F.col("type_b"))
    )

    def _s(regs_grouped: DataFrame, keys: list[str], prefix: str) -> DataFrame:
        return regs_grouped.groupBy(*keys).agg(
            F.count(F.lit(1)).alias(f"{prefix}_n_obs"),
            F.sum(
                F.expr(f"shiftleft(cast(1 as bigint), {HLL_W + 1} - maxrho)")
            ).cast("bigint").alias(f"{prefix}_s"),
        )

    def _est(prefix: str):
        s_int = (
            F.col(f"{prefix}_s")
            + (F.lit(HLL_M) - F.col(f"{prefix}_n_obs"))
            * F.lit(1 << (HLL_W + 1))
        )
        return (
            F.lit(float(HLL_ALPHA))
            * F.lit(HLL_M * HLL_M)
            * F.lit(float(1 << (HLL_W + 1)))
            / s_int.cast("double")
        )

    per_type = _s(regs, ["event_type"], "t")
    # pair-merged registers: each pair collects BOTH member types'
    # registers, max per bucket — the mergeability the reagg row proves
    tagged = (
        pairs.join(regs, F.col("event_type") == F.col("type_a"))
        .select("type_a", "type_b", "bucket", "maxrho")
        .unionByName(
            pairs.join(regs, F.col("event_type") == F.col("type_b")).select(
                "type_a", "type_b", "bucket", "maxrho"
            )
        )
        .groupBy("type_a", "type_b", "bucket")
        .agg(F.max("maxrho").alias("maxrho"))
    )
    per_pair = _s(tagged, ["type_a", "type_b"], "u")
    ea = per_type.select(
        F.col("event_type").alias("type_a"),
        F.col("t_n_obs").alias("a_n_obs"),
        F.col("t_s").alias("a_s"),
    )
    eb = per_type.select(
        F.col("event_type").alias("type_b"),
        F.col("t_n_obs").alias("b_n_obs"),
        F.col("t_s").alias("b_s"),
    )
    # exact union grader: distinct (pair, user) over the two audiences.
    # A disjunctive ON (type == a OR type == b) plans as a BNLJ; the
    # same rows come from a UNION of two equi-joins (a user in both
    # audiences lands twice and the distinct collapses it — identical
    # semantics, hash-joinable)
    tu = keyed.select("event_type", "user_id").distinct()
    exact = (
        pairs.join(tu, F.col("event_type") == F.col("type_a"))
        .select("type_a", "type_b", "user_id")
        .unionByName(
            pairs.join(tu, F.col("event_type") == F.col("type_b")).select(
                "type_a", "type_b", "user_id"
            )
        )
        .distinct()
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("exact_union"))
    )
    est_a, est_b, est_u = _est("a"), _est("b"), _est("u")
    return (
        per_pair.join(ea, "type_a")
        .join(eb, "type_b")
        .join(exact, ["type_a", "type_b"])
        .select(
            "type_a",
            "type_b",
            est_a.alias("est_a"),
            est_b.alias("est_b"),
            est_u.alias("est_union"),
            (est_a + est_b - est_u).alias("est_intersection"),
            F.col("exact_union").cast("bigint").alias("exact_union"),
            ((est_u - F.col("exact_union")) / F.col("exact_union")).alias(
                "union_rel_err"
            ),
        )
        .orderBy("type_a", "type_b")
    )


def _hll_setops_sql() -> str:
    hv = hash60_sql("CAST(user_id AS VARCHAR)")
    rho = (
        f"MAX(CASE WHEN w = 0 THEN {HLL_W + 1} "
        f"ELSE {HLL_W} - length(bin(w)) + 1 END)"
    )

    def est(s: str, n: str) -> str:
        return (
            f"CAST({HLL_ALPHA} AS DOUBLE) * {HLL_M * HLL_M} "
            f"* CAST({1 << (HLL_W + 1)} AS DOUBLE) "
            f"/ ({s} + ({HLL_M} - {n}) * {1 << (HLL_W + 1)})"
        )

    ea = est("a.s", "a.n_obs")
    eb = est("b.s", "b.n_obs")
    eu = est("u.s", "u.n_obs")
    return f"""
WITH keyed AS (
  SELECT event_type, {hv} % {HLL_M} AS bucket, {hv} // {HLL_M} AS w,
         user_id
  FROM events
), regs AS (
  SELECT event_type, bucket, {rho} AS maxrho
  FROM keyed GROUP BY 1, 2
), types AS (
  SELECT DISTINCT event_type FROM regs
), pairs AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b
  FROM types a JOIN types b ON a.event_type < b.event_type
), tagged AS (
  SELECT p.type_a, p.type_b, r.bucket, MAX(r.maxrho) AS maxrho
  FROM pairs p
  JOIN regs r ON r.event_type IN (p.type_a, p.type_b)
  GROUP BY 1, 2, 3
), pt AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_obs,
         CAST(SUM(CAST(1 AS BIGINT) << ({HLL_W + 1} - maxrho)) AS BIGINT)
           AS s
  FROM regs GROUP BY 1
), u AS (
  SELECT type_a, type_b, CAST(COUNT(*) AS BIGINT) AS n_obs,
         CAST(SUM(CAST(1 AS BIGINT) << ({HLL_W + 1} - maxrho)) AS BIGINT)
           AS s
  FROM tagged GROUP BY 1, 2
), exact AS (
  SELECT p.type_a, p.type_b,
         CAST(COUNT(DISTINCT t.user_id) AS BIGINT) AS exact_union
  FROM pairs p
  JOIN (SELECT DISTINCT event_type, user_id FROM keyed) t
    ON t.event_type IN (p.type_a, p.type_b)
  GROUP BY 1, 2
)
SELECT u.type_a, u.type_b,
       {ea} AS est_a,
       {eb} AS est_b,
       {eu} AS est_union,
       {ea} + {eb} - ({eu}) AS est_intersection,
       e.exact_union,
       ({eu} - e.exact_union) / e.exact_union AS union_rel_err
FROM u
JOIN pt a ON a.event_type = u.type_a
JOIN pt b ON b.event_type = u.type_b
JOIN exact e ON e.type_a = u.type_a AND e.type_b = u.type_b
ORDER BY u.type_a, u.type_b
"""


EVENTS_HLL_SETOPS_SQL = _hll_setops_sql()


def events_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type distinct users via a KMV BOTTOM-K sketch (operators/
    kmv.py) next to the exact count — HLL's sample-based sibling: the
    sketch is the k smallest distinct user hashes, so it doubles as a
    uniform sample of the audience and composes into set algebra
    (events_kmv_overlap). Unsaturated types (< k distinct users) are
    EXACT by construction and flagged.

    Exactness: the sample and kth_min are exact int64 md5 hashes; the
    one float step is (k-1) * 2^60 / kth_min (two exact double
    literals, one multiply, one divide — identical op order in the
    oracle, parity additionally pinned by tests/test_kmv.py against
    DuckDB directly); rel_err vs the exact count is the honest
    accuracy evidence, the events_hll_distinct discipline.

    Scale: bottom-k plans as WindowGroupLimit (partial top-k BEFORE
    the exchange — the shuffle moves O(types x k) rows); the exact
    COUNT(DISTINCT) grader is the one user-scale stage, present to
    GRADE the sketch.
    """
    from ..operators import kmv

    ev = load_table(spark, sf_dir, "events")
    sk = kmv.bottom_k(ev, ["event_type"], "user_id")
    est = kmv.kmv_estimate(sk, ["event_type"])
    exact = (
        ev.where(F.col("user_id").isNotNull())
        .groupBy("event_type")
        .agg(F.count_distinct("user_id").cast("bigint").alias("n_exact"))
    )
    rel = (F.col("est_distinct") - F.col("n_exact")) / F.col("n_exact")
    return (
        est.join(exact, "event_type")
        .select(
            "event_type",
            "n_sample",
            "kth_min",
            "exact",
            "est_distinct",
            "n_exact",
            rel.alias("rel_err"),
        )
        .orderBy("event_type")
    )


def _kmv_distinct_oracle_sql() -> str:
    from ..operators.kmv import kmv_distinct_sql

    core = kmv_distinct_sql("events", "event_type", "user_id").strip()
    return f"""
WITH base AS ({core}),
exact AS (
  SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact
  FROM events WHERE user_id IS NOT NULL GROUP BY 1
)
SELECT b.key AS event_type, b.n_sample, b.kth_min, b.exact,
       b.est_distinct, e.n_exact,
       (b.est_distinct - e.n_exact) / e.n_exact AS rel_err
FROM base b JOIN exact e ON e.event_type = b.key
ORDER BY event_type
"""


def events_kmv_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience set algebra from ONE per-type KMV sketch table
    (operators/kmv.py:kmv_pair_overlap): for every unordered type pair,
    Jaccard / union / INTERSECTION estimates via sample algebra —
    inspect the bottom-k of the union and count members seen in both
    sketches. This keeps intersections in [0, min(|A|, |B|)], the fix
    for events_hll_setops' raw inclusion-exclusion (which legitimately
    goes negative inside the error band); the exact intersection is
    joined alongside as the grader.

    Exactness: all counts exact int64; rho and the union estimate are
    single-division floats with identical op order (parity pinned
    against DuckDB by tests/test_kmv.py); the grader join is an
    equi-join on user_id (never a disjunctive nested loop — the r12
    hll_setops lesson applied from birth).

    Scale: pair algebra runs on O(|types|^2 x k) sketch rows; the pair
    spine explodes a collected key set (no replicated join); the exact
    grader's user-level self-join is the one user-scale stage.
    """
    from ..operators import kmv

    ev = load_table(spark, sf_dir, "events")
    # <= |types| x k rows feeding THREE consumers inside the pair
    # algebra (key spine + both tagged sides): materialize once or the
    # corpus scan + bottom-k replicates into every branch
    sk = kmv.bottom_k(ev, ["event_type"], "user_id").localCheckpoint(
        eager=True
    )
    ov = kmv.kmv_pair_overlap(sk, "event_type")
    tu = (
        ev.where(F.col("user_id").isNotNull())
        .select("event_type", "user_id")
        .distinct()
    )
    a = tu.select(
        F.col("event_type").alias("key_a"), F.col("user_id").alias("u")
    )
    b = tu.select(
        F.col("event_type").alias("key_b"), F.col("user_id").alias("u")
    )
    exact = (
        a.join(b, "u")
        .where(F.col("key_a") < F.col("key_b"))
        .groupBy("key_a", "key_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("exact_intersection"))
    )
    return (
        ov.join(exact, ["key_a", "key_b"], "left")
        .select(
            "key_a",
            "key_b",
            "n_x",
            "n_both",
            "jaccard_est",
            "union_est",
            "intersection_est",
            F.coalesce(F.col("exact_intersection"), F.lit(0))
            .cast("bigint")
            .alias("exact_intersection"),
        )
        .orderBy("key_a", "key_b")
    )


def _kmv_overlap_oracle_sql() -> str:
    from ..operators.kmv import kmv_pair_overlap_sql

    core = kmv_pair_overlap_sql("events", "event_type", "user_id").strip()
    return f"""
WITH base AS ({core}),
tu AS (
  SELECT DISTINCT event_type, user_id FROM events
  WHERE user_id IS NOT NULL
), exact AS (
  SELECT a.event_type AS key_a, b.event_type AS key_b,
         CAST(COUNT(*) AS BIGINT) AS exact_intersection
  FROM tu a JOIN tu b
    ON b.user_id = a.user_id AND a.event_type < b.event_type
  GROUP BY 1, 2
)
SELECT base.key_a, base.key_b, n_x, n_both, jaccard_est, union_est,
       intersection_est,
       CAST(COALESCE(e.exact_intersection, 0) AS BIGINT)
         AS exact_intersection
FROM base
LEFT JOIN exact e ON e.key_a = base.key_a AND e.key_b = base.key_b
ORDER BY base.key_a, base.key_b
"""


def events_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min frequency estimates for the top-20 most active users
    (operators/cms.py): the depth x width counter table answers "how
    often does user x occur" in 4 x 1024 integers without per-item
    state, graded against the exact counts — the estimate is >= the
    truth ALWAYS (one-sided contract) and the integer overestimate is
    the honest error evidence. The whole surface is pure int64 (counter
    sums, integer MIN), so oracle parity is plain integer equality —
    no closing-float discipline needed at all.

    Scale: the build is one map-combinable groupBy to <= 4096 counter
    rows (the explode multiplies map-side rows by depth, never the
    shuffle width); the exact top-20 grader is the one per-item stage,
    present to GRADE the sketch (a production deployment keeps only
    the mergeable counters — merge proven == one-pass by pytest).
    """
    from ..operators import cms

    ev = load_table(spark, sf_dir, "events")
    sketch = cms.cms_build(ev, "user_id")
    exact = (
        ev.where(F.col("user_id").isNotNull())
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("exact_n"))
        .orderBy(F.desc("exact_n"), "user_id")
        .limit(20)
    )
    return (
        cms.cms_estimate(sketch, exact.select("user_id"), "user_id")
        .join(exact, "user_id")
        .select(
            F.col("user_id").alias("item"),
            "exact_n",
            "cms_est",
            (F.col("cms_est") - F.col("exact_n"))
            .cast("bigint")
            .alias("overestimate"),
        )
        .orderBy(F.desc("exact_n"), "item")
    )


def _cms_heavy_hitters_oracle_sql() -> str:
    from ..operators.cms import cms_topk_sql

    return cms_topk_sql("events", "user_id", k=20)


# ---------------------------------------------------------------------------
# classical seasonal decomposition (additive): y = trend + seasonal + resid
# ---------------------------------------------------------------------------


def events_stl_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(d, dow, y, trend, seasonal, residual): classical additive
    decomposition of the daily event-count series — trend from a
    centered 7-day moving average, seasonal as zero-centered
    day-of-week means of the detrended series, residual as what's
    left. The decomposition every capacity model and anomaly detector
    runs before comparing days to days (the weekly-cycle complement to
    events_hourofweek_seasonality's 168-cell profile).

    Semantics pinned down: the trend is defined ONLY where the
    centered window holds 7 CALENDAR-contiguous days (frame row-count
    == 7 AND max(epoch_day)-min(epoch_day) == 6) — edge days and days
    next to gaps carry NULL trend/residual rather than a silently
    lopsided average. Day-of-week is epoch-day arithmetic ((ed+4)%7,
    0=Sunday), immune to both engines' locale conventions.

    Exactness: y is an exact count; the trend is sum-of-7-exact-ints /
    7 (one division); seasonal means average doubles whose summation
    order differs between engines by last-ulp only — absorbed by the
    gate's 9-significant-digit canon, the same discipline every
    avg-of-double row relies on.

    Scale: one map-combinable groupBy collapses any event volume to
    |dates| rows; everything after runs on that dimension-bounded
    series (the unpartitioned window is over days — thousands of rows
    for years of data — never over events). The dow means are a 7-row
    aggregate; the grand mean is a broadcast 1-row cross join.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.groupBy(F.to_date("ts").alias("d"))
        .agg(F.count(F.lit(1)).alias("y"))
        .withColumn(
            "ed", F.datediff(F.col("d"), F.lit("1970-01-01").cast("date"))
        )
        .withColumn("dow", ((F.col("ed") + 4) % 7).cast("int"))
    )
    w = Window.orderBy("ed").rowsBetween(-3, 3)
    full = (F.count(F.lit(1)).over(w) == 7) & (
        (F.max("ed").over(w) - F.min("ed").over(w)) == 6
    )
    trended = daily.withColumn(
        "trend",
        F.when(full, F.sum("y").over(w).cast("double") / F.lit(7.0)),
    ).withColumn("detr", F.col("y").cast("double") - F.col("trend"))
    dow_means = (
        trended.where(F.col("detr").isNotNull())
        .groupBy("dow")
        .agg(F.avg("detr").alias("raw_s"))
    )
    grand = dow_means.agg(F.avg("raw_s").alias("g"))
    seas = dow_means.crossJoin(F.broadcast(grand)).select(
        "dow", (F.col("raw_s") - F.col("g")).alias("seasonal")
    )
    return (
        trended.join(F.broadcast(seas), "dow")
        .select(
            "d",
            "dow",
            "y",
            "trend",
            "seasonal",
            (F.col("y").cast("double") - F.col("trend") - F.col("seasonal")).alias(
                "residual"
            ),
        )
        .orderBy("d")
    )


EVENTS_STL_SQL = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS y,
         datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS ed,
         CAST((datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) + 4) % 7
              AS INT) AS dow
  FROM events GROUP BY 1
), trended AS (
  SELECT d, dow, y,
         CASE WHEN COUNT(*) OVER w = 7
               AND MAX(ed) OVER w - MIN(ed) OVER w = 6
              THEN CAST(SUM(y) OVER w AS DOUBLE) / 7.0 END AS trend
  FROM daily
  WINDOW w AS (ORDER BY ed ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
), detr AS (
  SELECT *, CAST(y AS DOUBLE) - trend AS dt FROM trended
), dow_means AS (
  SELECT dow, AVG(dt) AS raw_s FROM detr WHERE dt IS NOT NULL GROUP BY 1
), grand AS (
  SELECT AVG(raw_s) AS g FROM dow_means
), seas AS (
  SELECT dow, raw_s - g AS seasonal FROM dow_means CROSS JOIN grand
)
SELECT t.d, t.dow, t.y, t.trend, s.seasonal,
       CAST(t.y AS DOUBLE) - t.trend - s.seasonal AS residual
FROM detr t JOIN seas s ON s.dow = t.dow
ORDER BY t.d
"""


# ---------------------------------------------------------------------------
# rolling-origin forecast backtest: seasonal-naive vs trailing-mean
# ---------------------------------------------------------------------------


def events_forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, model, n_eval, mae, mape): rolling-origin backtest
    of two zero-parameter forecasters over the daily per-type count
    series — 'seasonal_naive' (same weekday last week, y[t-7]) and
    'trailing_mean' (mean of the 7 days strictly before t). The
    evaluation harness that belongs NEXT TO forecasters
    (events_holt_forecast, events_stl_decompose): before shipping any
    model you measure it against the naive baselines on held-out days.

    Protocol pinned exactly: the series is DENSE over the calendar
    spine (missing days are real zeros, not gaps — same discipline as
    events_gapfill); eval days are the last 7 calendar dates; a row
    scores only when the actual y > 0 (MAPE undefined at zero,
    identical filter both engines) and the full 7-day history window
    exists. MAE sums |f - y| where both are exact counts for the naive
    model; the trailing mean divides an exact 7-day int sum once.

    Scale: one map-combinable groupBy collapses events to |dates| x
    |types| rows; the spine, lags, windows, and both error aggregates
    all run on that dimension-bounded grid (years of days x dozens of
    types), never on raw events.
    """
    return forecast_backtest_df(load_table(spark, sf_dir, "events"))


def forecast_backtest_df(ev: DataFrame) -> DataFrame:
    """DataFrame-level core of events_forecast_backtest (testable on
    synthetic event streams)."""
    daily = (
        ev.groupBy("event_type", F.to_date("ts").alias("d"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("y"))
        .localCheckpoint(eager=True)
    )
    bounds = daily.agg(F.min("d").alias("lo"), F.max("d").alias("hi"))
    spine = bounds.select(
        F.explode(F.sequence("lo", "hi")).alias("d"), "hi"
    )
    types = daily.select("event_type").distinct()
    dense = (
        types.crossJoin(F.broadcast(spine))
        .join(daily, ["event_type", "d"], "left")
        .withColumn("y", F.coalesce("y", F.lit(0)).cast("bigint"))
    )
    w = Window.partitionBy("event_type").orderBy("d")
    hist = w.rowsBetween(-7, -1)
    scored = (
        dense.withColumn("f_naive", F.lag("y", 7).over(w).cast("double"))
        .withColumn("n_hist", F.count(F.lit(1)).over(hist))
        .withColumn(
            "f_mean", F.sum("y").over(hist).cast("double") / F.lit(7.0)
        )
        .where(
            (F.col("d") > F.date_sub(F.col("hi"), 7))
            & (F.col("n_hist") == 7)
            & F.col("f_naive").isNotNull()
            & (F.col("y") > 0)
        )
    )
    stacked = scored.selectExpr(
        "event_type",
        "y",
        "stack(2, 'seasonal_naive', f_naive, 'trailing_mean', f_mean)"
        " AS (model, f)",
    )
    return (
        stacked.groupBy("event_type", "model")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_eval"),
            F.avg(F.abs(F.col("f") - F.col("y"))).alias("mae"),
            F.avg(
                F.abs(F.col("f") - F.col("y")) / F.col("y").cast("double")
            ).alias("mape"),
        )
        .orderBy("event_type", "model")
    )


EVENTS_BACKTEST_SQL = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS y
  FROM events GROUP BY 1, 2
), bounds AS (
  SELECT MIN(d) AS lo, MAX(d) AS hi FROM daily
), spine AS (
  SELECT CAST(UNNEST(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS d,
         hi
  FROM bounds
), dense AS (
  SELECT ty.event_type, s.d, s.hi,
         CAST(COALESCE(dl.y, 0) AS BIGINT) AS y
  FROM (SELECT DISTINCT event_type FROM daily) ty
  CROSS JOIN spine s
  LEFT JOIN daily dl ON dl.event_type = ty.event_type AND dl.d = s.d
), scored AS (
  SELECT *,
         CAST(LAG(y, 7) OVER w AS DOUBLE) AS f_naive,
         COUNT(*) OVER hist AS n_hist,
         CAST(SUM(y) OVER hist AS DOUBLE) / 7.0 AS f_mean
  FROM dense
  WINDOW w AS (PARTITION BY event_type ORDER BY d),
         hist AS (PARTITION BY event_type ORDER BY d
                  ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
), eval_rows AS (
  SELECT * FROM scored
  WHERE d > hi - INTERVAL 7 DAY AND n_hist = 7
    AND f_naive IS NOT NULL AND y > 0
), stacked AS (
  SELECT event_type, y, 'seasonal_naive' AS model, f_naive AS f
  FROM eval_rows
  UNION ALL
  SELECT event_type, y, 'trailing_mean' AS model, f_mean AS f
  FROM eval_rows
)
SELECT event_type, model, CAST(COUNT(*) AS BIGINT) AS n_eval,
       AVG(ABS(f - y)) AS mae,
       AVG(ABS(f - y) / CAST(y AS DOUBLE)) AS mape
FROM stacked
GROUP BY 1, 2
ORDER BY 1, 2
"""


# ---------------------------------------------------------------------------
# offline changepoint: binary-segmentation argmax split per series
# ---------------------------------------------------------------------------


def events_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, split_d, i, n_days, gain, mean_before, mean_after):
    the single best mean-shift changepoint per type over the daily
    count series — the split t maximizing the variance-reduction gain

      gain(t) = SSE(1..n) - SSE(1..t) - SSE(t+1..n),
      SSE(l..r) = Q - S^2/len   (Q = Σy^2, S = Σy over the segment)

    i.e. one step of binary segmentation with the CUSUM-of-squares
    statistic — the OFFLINE complement to events_cusum's sequential
    detector (retrospective 'when did the level shift' vs online
    'alert me when it drifts').

    Determinism: S and every prefix sum are exact int64 window sums,
    and the gain is evaluated in its closed form

      gain(t) = (S_L*(n-t) - S_R*t)^2 / (n*t*(n-t))

    whose numerator root and denominator are exact int64 products, so
    the double is ONE correctly rounded quotient (exact operands while
    |S_L*(n-t) - S_R*t| < 2^26.5). Candidates with mathematically equal
    gains therefore get bit-equal doubles and the argmax tie-break by
    earliest date holds; the three-term SSE difference rounds each term
    separately and can order a true tie either way (e.g. daily counts
    [4, 1, 5, 2]: t=1 and t=3 both gain 4/3). split_d is the LAST day
    of the left segment.

    Scale: events collapse to |dates| x |types| rows map-side; the
    candidate scan is one pass over that dimension-bounded series per
    type — O(days), never O(days^2) — and the argmax is a
    WindowGroupLimit-shaped row_number filter.
    """
    return changepoint_df(load_table(spark, sf_dir, "events"))


def changepoint_df(ev: DataFrame) -> DataFrame:
    """DataFrame-level core of events_changepoint (testable on
    synthetic event streams)."""
    daily = ev.groupBy("event_type", F.to_date("ts").alias("d")).agg(
        F.count(F.lit(1)).cast("bigint").alias("y")
    )
    w = Window.partitionBy("event_type").orderBy("d")
    wcum = w.rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.partitionBy("event_type")
    cum = (
        daily.withColumn("i", F.row_number().over(w).cast("bigint"))
        .withColumn("s", F.sum("y").over(wcum))
        .withColumn("n", F.count(F.lit(1)).over(wall).cast("bigint"))
        .withColumn("st", F.sum("y").over(wall))
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    i, n, s, st = (F.col(c) for c in ("i", "n", "s", "st"))
    root = (s * (n - i) - (st - s) * i).cast("double")
    cand = (
        cum.where((i >= 1) & (i < n))
        .withColumn("gain", root * root / (n * i * (n - i)).cast("double"))
        .withColumn("mean_before", d("s") / d("i"))
        .withColumn(
            "mean_after", (d("st") - d("s")) / (d("n") - d("i"))
        )
    )
    pick = Window.partitionBy("event_type").orderBy(F.desc("gain"), "d")
    return (
        cand.withColumn("rk", F.row_number().over(pick))
        .where(F.col("rk") == 1)
        .select(
            "event_type",
            F.col("d").alias("split_d"),
            "i",
            F.col("n").alias("n_days"),
            "gain",
            "mean_before",
            "mean_after",
        )
        .orderBy("event_type")
    )


EVENTS_CHANGEPOINT_SQL = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS y
  FROM events GROUP BY 1, 2
), cum AS (
  SELECT event_type, d, y,
         CAST(ROW_NUMBER() OVER w AS BIGINT) AS i,
         SUM(y) OVER wc AS s,
         CAST(COUNT(*) OVER wa AS BIGINT) AS n,
         SUM(y) OVER wa AS st
  FROM daily
  WINDOW w AS (PARTITION BY event_type ORDER BY d),
         wc AS (PARTITION BY event_type ORDER BY d
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         wa AS (PARTITION BY event_type)
), cand AS (
  SELECT event_type, d, i, n,
         CAST(s * (n - i) - (st - s) * i AS DOUBLE)
           * CAST(s * (n - i) - (st - s) * i AS DOUBLE)
           / CAST(n * i * (n - i) AS DOUBLE) AS gain,
         CAST(s AS DOUBLE) / CAST(i AS DOUBLE) AS mean_before,
         (CAST(st AS DOUBLE) - CAST(s AS DOUBLE))
           / (CAST(n AS DOUBLE) - CAST(i AS DOUBLE)) AS mean_after
  FROM cum WHERE i >= 1 AND i < n
), picked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
                               ORDER BY gain DESC, d) AS rk
  FROM cand
)
SELECT event_type, d AS split_d, i, n AS n_days, gain,
       mean_before, mean_after
FROM picked WHERE rk = 1
ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# Kaplan-Meier survival curve (right-censored time-to-event, r14)
# ---------------------------------------------------------------------------

# administrative end of observation: events at ts >= this are invisible,
# and subjects without the target event by then are right-censored at
# the last fully observed day. Chosen so censoring is NON-VACUOUS at
# every SF (6/15 subjects censored at sf0.001; '2024-01-20' left zero).
_KM_CUT = "2024-01-05"


def events_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(t, n_risk, d_events, c_censored, survival): the Kaplan-Meier
    estimator of time-to-first-purchase after signup, right-censored at
    the end of observation — THE survival-analysis primitive (churn,
    activation, time-to-conversion) that plain conversion rates get
    wrong by ignoring censoring:

      S(t) = Π_{t_i <= t} (n_i - d_i) / n_i

    Subjects are users whose first signup precedes the cut; duration is
    whole days from signup to the first later purchase before the cut,
    or to the last observed day (censored) otherwise. Standard
    convention pinned: subjects censored at t are still AT RISK for
    events at t (d and c reduce the risk set only after the step).

    Exactness: risk counts and d/c are exact int64; the survival
    product multiplies one (n-d)/n factor per step in pinned ascending-
    t order — the identical op sequence in the recursive-CTE oracle
    (the macd discipline), so every S(t) is bit-equal; steps with d=0
    multiply by n/n = 1.0 exactly (no branch to disagree on).

    Scale: two map-combinable per-user aggregates, then the step table
    — bounded by the OBSERVATION CALENDAR (<= horizon-days rows), never
    by user count — carries the fold. The one global collect is that
    calendar-bounded step list.
    """
    cut = F.lit(_KM_CUT).cast("timestamp")
    last_day = F.date_sub(F.lit(_KM_CUT).cast("date"), 1)
    ev = load_table(spark, sf_dir, "events").where(
        F.col("user_id").isNotNull() & (F.col("ts") < cut)
    )
    s0 = (
        ev.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t0"))
    )
    p = (
        ev.where(F.col("event_type") == "purchase")
        .join(s0, "user_id")
        .where(F.col("ts") > F.col("t0"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("tp"))
    )
    subj = s0.join(p, "user_id", "left").select(
        F.when(
            F.col("tp").isNotNull(),
            F.datediff(F.to_date("tp"), F.to_date("t0")),
        )
        .otherwise(F.datediff(last_day, F.to_date("t0")))
        .cast("int")
        .alias("t"),
        F.col("tp").isNotNull().alias("evt"),
    )
    steps = subj.groupBy("t").agg(
        F.sum(F.when(F.col("evt"), 1).otherwise(0))
        .cast("bigint")
        .alias("d"),
        F.sum(F.when(F.col("evt"), 0).otherwise(1))
        .cast("bigint")
        .alias("c"),
    )
    packed = steps.groupBy().agg(
        F.sum(F.col("d") + F.col("c")).cast("bigint").alias("total"),
        F.array_sort(F.collect_list(F.struct("t", "d", "c"))).alias("st"),
    )
    fold = F.expr(
        """
        aggregate(
          st,
          named_struct(
            'risk', total, 's', cast(1.0 as double),
            'rows', cast(array() as array<struct<
              t:int, n_risk:bigint, d_events:bigint,
              c_censored:bigint, survival:double>>)),
          (acc, o) -> named_struct(
            'risk', acc.risk - (o.d + o.c),
            's', acc.s * ((acc.risk - o.d) / acc.risk),
            'rows', array_append(acc.rows, named_struct(
              't', o.t, 'n_risk', acc.risk, 'd_events', o.d,
              'c_censored', o.c,
              'survival', acc.s * ((acc.risk - o.d) / acc.risk))))
        ).rows
        """
    )
    return (
        packed.select(F.explode(fold).alias("r"))
        .select("r.t", "r.n_risk", "r.d_events", "r.c_censored", "r.survival")
        .orderBy("t")
    )


EVENTS_SURVIVAL_KM_SQL = f"""
WITH RECURSIVE base AS (
  SELECT * FROM events
  WHERE user_id IS NOT NULL AND ts < TIMESTAMP '{_KM_CUT}'
), s0 AS (
  SELECT user_id, MIN(ts) AS t0 FROM base
  WHERE event_type = 'signup' GROUP BY 1
), p AS (
  SELECT b.user_id, MIN(b.ts) AS tp
  FROM base b JOIN s0 ON s0.user_id = b.user_id
  WHERE b.event_type = 'purchase' AND b.ts > s0.t0
  GROUP BY 1
), subj AS (
  SELECT CAST(CASE WHEN p.tp IS NOT NULL
              THEN datediff('day', CAST(s0.t0 AS DATE), CAST(p.tp AS DATE))
              ELSE datediff('day', CAST(s0.t0 AS DATE),
                            DATE '{_KM_CUT}' - 1) END AS INT) AS t,
         (p.tp IS NOT NULL) AS evt
  FROM s0 LEFT JOIN p ON p.user_id = s0.user_id
), steps AS (
  SELECT t,
         CAST(SUM(CASE WHEN evt THEN 1 ELSE 0 END) AS BIGINT) AS d,
         CAST(SUM(CASE WHEN evt THEN 0 ELSE 1 END) AS BIGINT) AS c,
         CAST(ROW_NUMBER() OVER (ORDER BY t) AS BIGINT) AS rn,
         CAST(COUNT(*) OVER () AS BIGINT) AS n_steps
  FROM subj GROUP BY t
), tot AS (
  SELECT CAST(SUM(d + c) AS BIGINT) AS total FROM steps
), r AS (
  SELECT s.rn, s.t, tot.total AS risk_before, s.d, s.c,
         1.0 * ((tot.total - s.d) / tot.total) AS surv
  FROM steps s, tot WHERE s.rn = 1
  UNION ALL
  SELECT o.rn, o.t,
         r.risk_before - (r.d + r.c),
         o.d, o.c,
         r.surv * (((r.risk_before - (r.d + r.c)) - o.d)
                   / (r.risk_before - (r.d + r.c)))
  FROM r JOIN steps o ON o.rn = r.rn + 1
)
SELECT t, risk_before AS n_risk, d AS d_events, c AS c_censored,
       surv AS survival
FROM r
ORDER BY t
"""


def events_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, n_days, level, trend, s0..s6, forecast_1,
    forecast_7): additive Holt-Winters (triple-exponential) smoothing
    of each type's daily-count series with a weekly season, alpha =
    beta = gamma = 1/2 — the seasonal rung above events_holt_forecast
    (level+trend) and the FITTED counterpart of events_stl_decompose's
    one-shot decomposition:

      l' = ((x - s[dow]) + (l + t)) / 2
      t' = ((l' - l) + t) / 2
      s'[dow] = ((x - l') + s[dow]) / 2

    seeded from the first observed week (l0 = mean of the 7 counts,
    one division; s[dow_j] = x_j - l0; t0 = 0), then folded over the
    rest of the series in pinned date order. The season indexes by
    CALENDAR day-of-week ((epoch_day + 4) % 7, the stl convention), so
    a gap day skips updates instead of rotating the season out of
    phase. Types without a dense first week or < 8 days are dropped
    (documented contract; the fixture's types all qualify).

    Determinism: the recursion is add/subtract/halve only (every op
    exact-rounded), written as the IDENTICAL sequence in the
    recursive-CTE oracle — the macd/holt/heikin discipline — so all
    ten doubles per type are bit-equal cross-engine. forecast_h =
    (l + t*h) + s[(dow_last + h) % 7].

    Scale: one shuffle to (type, day) counts (map-combinable), one
    shuffle on type; per-type state is O(days) — bounded by TIME, the
    finance-fold class.
    """
    ev = load_table(spark, sf_dir, "events")
    dow = (F.datediff(F.to_date("ts"), F.lit("1970-01-01")) + 4) % 7
    daily = (
        ev.select(F.to_date("ts").alias("d"), dow.alias("dow"), "event_type")
        .groupBy("event_type", "d", "dow")
        .agg(F.count(F.lit(1)).cast("double").alias("x"))
    )
    per_t = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.array_sort(
            F.collect_list(
                F.struct("d", F.col("dow").cast("int").alias("dow"), "x")
            )
        ).alias("ordered"),
    )
    qualified = per_t.where(
        (F.col("n_days") >= 8)
        & (
            F.size(
                F.array_distinct(
                    F.expr("transform(slice(ordered, 1, 7), e -> e.dow)")
                )
            )
            == 7
        )
    )
    # the recursion body, spelled once (Spark fold; the SQL twin is
    # generated from the same sub-expressions below)
    lnew = "(((o.x - element_at(acc.s, o.dow + 1)) + (acc.l + acc.t)) / 2)"
    fold = F.expr(
        f"""
        aggregate(
          slice(ordered, 8, cast(n_days as int) - 7),
          named_struct(
            'l', aggregate(transform(slice(ordered, 1, 7), e -> e.x),
                           cast(0.0 as double), (a, v) -> a + v) / 7.0,
            't', cast(0.0 as double),
            's', transform(sequence(0, 6), j ->
                   element_at(slice(ordered, 1, 7),
                     cast(array_position(
                       transform(slice(ordered, 1, 7), e -> e.dow), j)
                       as int)).x
                   - aggregate(transform(slice(ordered, 1, 7), e -> e.x),
                               cast(0.0 as double), (a, v) -> a + v) / 7.0)
          ),
          (acc, o) -> named_struct(
            'l', {lnew},
            't', ((({lnew}) - acc.l) + acc.t) / 2,
            's', transform(acc.s, (v, j) ->
                   if(j = o.dow, ((o.x - ({lnew})) + v) / 2, v))
          )
        )
        """
    )
    last_dow = F.expr("element_at(ordered, cast(n_days as int)).dow")
    out = qualified.select(
        "event_type",
        "n_days",
        fold.alias("st"),
        last_dow.alias("last_dow"),
    )
    s_cols = [
        F.expr(f"element_at(st.s, {j + 1})").alias(f"s{j}") for j in range(7)
    ]
    f1 = F.expr(
        "(st.l + st.t) + element_at(st.s, ((last_dow + 1) % 7) + 1)"
    )
    f7 = F.expr("(st.l + st.t * 7.0) + element_at(st.s, last_dow + 1)")
    return out.select(
        "event_type",
        "n_days",
        F.col("st.l").alias("level"),
        F.col("st.t").alias("trend"),
        *s_cols,
        f1.alias("forecast_1"),
        f7.alias("forecast_7"),
    ).orderBy("event_type")


def _holt_winters_sql() -> str:
    sidx = (
        "CASE o.dow WHEN 0 THEN r.s0 WHEN 1 THEN r.s1 WHEN 2 THEN r.s2 "
        "WHEN 3 THEN r.s3 WHEN 4 THEN r.s4 WHEN 5 THEN r.s5 "
        "ELSE r.s6 END"
    )
    lnew = f"(((o.x - {sidx}) + (r.l + r.t)) / 2)"
    s_updates = ",\n         ".join(
        f"CASE WHEN o.dow = {j} "
        f"THEN ((o.x - ({lnew})) + {sidx}) / 2 ELSE r.s{j} END"
        for j in range(7)
    )
    seed_s = ", ".join(
        f"f7x[list_position(f7d, {j})] - l0 AS s{j}" for j in range(7)
    )
    s_final = "CASE (dows[CAST(n_days AS INT)] + 1) % 7 " + " ".join(
        f"WHEN {j} THEN s{j}" for j in range(7)
    ) + " END"
    s_same = "CASE dows[CAST(n_days AS INT)] " + " ".join(
        f"WHEN {j} THEN s{j}" for j in range(7)
    ) + " END"
    return f"""
WITH RECURSIVE daily AS (
  SELECT event_type, CAST(ts AS DATE) AS d,
         CAST((datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) + 4) % 7
              AS INT) AS dow,
         CAST(COUNT(*) AS DOUBLE) AS x
  FROM events GROUP BY 1, 2, 3
), per_t AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
         list(x ORDER BY d) AS xs,
         list(dow ORDER BY d) AS dows
  FROM daily GROUP BY 1
), seeded AS (
  SELECT event_type, n_days, xs, dows,
         xs[1:7] AS f7x, dows[1:7] AS f7d,
         list_reduce(xs[1:7], (a, b) -> a + b) / 7.0 AS l0
  FROM per_t
  WHERE n_days >= 8 AND len(list_distinct(dows[1:7])) = 7
), seeds AS (
  SELECT event_type, n_days, xs, dows, l0, {seed_s}
  FROM seeded
), ord AS MATERIALIZED (
  SELECT event_type,
         CAST(dows[i] AS INT) AS dow, xs[i] AS x, i AS rn
  FROM seeded, UNNEST(range(8, CAST(n_days AS INT) + 1)) AS t(i)
), r AS (
  SELECT event_type, n_days, dows, CAST(7 AS BIGINT) AS rn,
         l0 AS l, CAST(0.0 AS DOUBLE) AS t,
         s0, s1, s2, s3, s4, s5, s6
  FROM seeds
  UNION ALL
  SELECT r.event_type, r.n_days, r.dows, r.rn + 1,
         {lnew},
         ((({lnew}) - r.l) + r.t) / 2,
         {s_updates}
  FROM r JOIN ord o ON o.event_type = r.event_type AND o.rn = r.rn + 1
)
SELECT event_type, n_days, l AS level, t AS trend,
       s0, s1, s2, s3, s4, s5, s6,
       (l + t) + ({s_final}) AS forecast_1,
       (l + t * 7.0) + ({s_same}) AS forecast_7
FROM r
WHERE rn = n_days
ORDER BY event_type
"""


EVENTS_HOLT_WINTERS_SQL = _holt_winters_sql()


# ---------------------------------------------------------------------------
# A/B effect estimation with CUPED variance reduction (r14)
# ---------------------------------------------------------------------------

# deterministic unit assignment + period split, spelled once for both
# engines. Pre-period activity is the CUPED covariate; the experiment
# metric is post-period activity per user.
_AB_CUT = "2024-01-16"  # events span 2024-01-01..01-30 at every SF


def events_ab_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(arm, n_users, sum_x, sum_y, mean_y, adj_mean_y): per-arm A/B
    readout with CUPED variance reduction (Deng et al. 2013) — the
    experiment-analysis pass every product analytics stack runs:
    assign each user an arm by a deterministic hash, take Y = the
    user's post-cut event count and X = the pre-cut count (the
    covariate), estimate theta = cov(X,Y)/var(X) over ALL users, and
    report each arm's adjusted mean  mean(Y) - theta*(mean(X) - E[X]).
    Under a hash assignment the true effect is 0, so the two arms'
    adj_mean_y converging is the readout's own sanity check.

    Exactness: X/Y are exact per-user int counts; theta's numerator
    N·Σxy − Σx·Σy and denominator N·Σxx − (Σx)² are exact int64
    (per-user counts are small; products bounded far below 2^63 at
    fixture scales — at petabyte scale promote to DECIMAL(38)); every
    float is a CLOSING expression over those integers with the op
    order spelled identically in the twin — no order-dependent double
    accumulation anywhere.

    Scale: one map-combinable per-user aggregate, then a 2-row arm
    aggregate; the global sums attach via a window over the 2-row
    frame (no scalar cross join, no BNLJ).
    """
    from ..functions.texthash import hash60

    ev = load_table(spark, sf_dir, "events").where(
        F.col("user_id").isNotNull()
    )
    cut = F.lit(_AB_CUT).cast("timestamp")
    per_user = ev.groupBy("user_id").agg(
        F.sum(F.when(F.col("ts") < cut, 1).otherwise(0))
        .cast("bigint")
        .alias("x"),
        F.sum(F.when(F.col("ts") >= cut, 1).otherwise(0))
        .cast("bigint")
        .alias("y"),
    )
    arm = F.when(
        hash60(F.concat(F.lit("ab:"), F.col("user_id").cast("string"))) % 2
        == 0,
        F.lit("treatment"),
    ).otherwise(F.lit("control"))
    arms = (
        per_user.withColumn("arm", arm)
        .groupBy("arm")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_users"),
            F.sum("x").cast("bigint").alias("sum_x"),
            F.sum("y").cast("bigint").alias("sum_y"),
            F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sum_xx"),
            F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sum_xy"),
        )
    )
    w = Window.partitionBy()  # the 2-row arm frame
    n_all = F.sum("n_users").over(w)
    sx_all = F.sum("sum_x").over(w)
    sy_all = F.sum("sum_y").over(w)
    sxx_all = F.sum("sum_xx").over(w)
    sxy_all = F.sum("sum_xy").over(w)
    theta = (n_all * sxy_all - sx_all * sy_all) / (
        n_all * sxx_all - sx_all * sx_all
    )
    mean_y = F.col("sum_y") / F.col("n_users")
    adj = mean_y - theta * (
        F.col("sum_x") / F.col("n_users") - sx_all / n_all
    )
    return (
        arms.select(
            "arm",
            "n_users",
            "sum_x",
            "sum_y",
            mean_y.alias("mean_y"),
            adj.alias("adj_mean_y"),
        )
        .orderBy("arm")
    )


def _ab_cuped_sql() -> str:
    from ..functions.texthash import hash60_sql

    arm_expr = hash60_sql("CONCAT('ab:', CAST(user_id AS VARCHAR))")
    return f"""
WITH per_user AS (
  SELECT user_id,
         CAST(SUM(CASE WHEN ts <  TIMESTAMP '{_AB_CUT}' THEN 1 ELSE 0 END)
              AS BIGINT) AS x,
         CAST(SUM(CASE WHEN ts >= TIMESTAMP '{_AB_CUT}' THEN 1 ELSE 0 END)
              AS BIGINT) AS y
  FROM events WHERE user_id IS NOT NULL GROUP BY user_id
), arms AS (
  SELECT CASE WHEN ({arm_expr}) % 2 = 0
              THEN 'treatment' ELSE 'control' END AS arm,
         CAST(COUNT(*) AS BIGINT) AS n_users,
         CAST(SUM(x) AS BIGINT) AS sum_x,
         CAST(SUM(y) AS BIGINT) AS sum_y,
         CAST(SUM(x * x) AS BIGINT) AS sum_xx,
         CAST(SUM(x * y) AS BIGINT) AS sum_xy
  FROM per_user GROUP BY 1
)
SELECT arm, n_users, sum_x, sum_y,
       sum_y / n_users AS mean_y,
       sum_y / n_users
         - ((SUM(n_users) OVER () * SUM(sum_xy) OVER ()
             - SUM(sum_x) OVER () * SUM(sum_y) OVER ())
            / (SUM(n_users) OVER () * SUM(sum_xx) OVER ()
               - SUM(sum_x) OVER () * SUM(sum_x) OVER ()))
           * (sum_x / n_users
              - SUM(sum_x) OVER () / SUM(n_users) OVER ())
         AS adj_mean_y
FROM arms
ORDER BY arm
"""


EVENTS_AB_CUPED_SQL = _ab_cuped_sql()


TIMESERIES_QUERIES = {
    "events_gapfill": (events_gapfill, EVENTS_GAPFILL_SQL),
    "events_time_range_window": (events_time_range_window, EVENTS_TIME_RANGE_SQL),
    "events_rolling_distinct": (
        events_rolling_distinct,
        EVENTS_ROLLING_DISTINCT_SQL,
    ),
    "events_cube": (events_cube, EVENTS_CUBE_SQL),
    "events_json_props": (events_json_props, EVENTS_JSON_SQL),
    "events_hourly_corr": (events_hourly_corr, EVENTS_HOURLY_CORR_SQL),
    "events_hourly_anomaly": (events_hourly_anomaly, EVENTS_ANOMALY_SQL),
    "events_skew_profile": (events_skew_profile, EVENTS_SKEW_SQL),
    "events_transitions": (events_transitions, EVENTS_TRANSITIONS_SQL),
    "events_pattern_match": (events_pattern_match, EVENTS_PATTERN_SQL),
    "events_ewma": (events_ewma, EVENTS_EWMA_SQL),
    "events_quantile_sketch": (
        events_quantile_sketch,
        EVENTS_QUANTILE_SKETCH_SQL,
    ),
    "events_twap": (events_twap, EVENTS_TWAP_SQL),
    "events_cusum": (events_cusum, EVENTS_CUSUM_SQL),
    "events_cusum_incremental": (
        events_cusum_incremental,
        EVENTS_CUSUM_INCR_SQL,
    ),
    "events_growth_accounting": (
        events_growth_accounting,
        EVENTS_GROWTH_SQL,
    ),
    "events_hourofweek_seasonality": (
        events_hourofweek_seasonality,
        EVENTS_SEASONALITY_SQL,
    ),
    "events_mad_anomaly": (events_mad_anomaly, EVENTS_MAD_SQL),
    "events_burst_episodes": (events_burst_episodes, EVENTS_BURST_SQL),
    "events_hll_distinct": (events_hll_distinct, EVENTS_HLL_SQL),
    "events_hll_reagg": (events_hll_reagg, EVENTS_HLL_REAGG_SQL),
    "events_hll_setops": (events_hll_setops, EVENTS_HLL_SETOPS_SQL),
    # r12 sketch-tier completion: KMV bottom-k (sample-based distinct +
    # in-range set algebra) and Count-Min (pure-int frequency), both
    # graded against exact counts; twins parity-pinned by
    # tests/test_kmv.py / test_cms.py against DuckDB directly
    "events_stl_decompose": (events_stl_decompose, EVENTS_STL_SQL),
    # r13 wave 9: the backtest harness that grades forecasters against
    # the naive baselines on held-out calendar days
    "events_forecast_backtest": (
        events_forecast_backtest,
        EVENTS_BACKTEST_SQL,
    ),
    # r13 wave 10: offline mean-shift changepoint (binary segmentation,
    # exact-int cumulative-sum surface so the argmax can't flip)
    "events_changepoint": (events_changepoint, EVENTS_CHANGEPOINT_SQL),
    # r14: A/B readout with CUPED variance reduction — theta and both
    # adjusted means are closing floats over exact int sums (window
    # over the 2-row arm frame, no scalar cross join)
    "events_ab_cuped": (events_ab_cuped, EVENTS_AB_CUPED_SQL),
    # r14 wave 5: triple-exponential seasonal smoothing — the dyadic
    # add/sub/halve recursion folded per type, recursive-CTE oracle
    "events_holt_winters": (events_holt_winters, EVENTS_HOLT_WINTERS_SQL),
    # r14 wave 6: Kaplan-Meier time-to-conversion with real right-
    # censoring; pinned-order survival product, recursive-CTE oracle
    "events_survival_km": (events_survival_km, EVENTS_SURVIVAL_KM_SQL),
    "events_kmv_distinct": (events_kmv_distinct, _kmv_distinct_oracle_sql()),
    "events_kmv_overlap": (events_kmv_overlap, _kmv_overlap_oracle_sql()),
    "events_cms_heavy_hitters": (
        events_cms_heavy_hitters,
        _cms_heavy_hitters_oracle_sql(),
    ),
    "events_decay_topk": (events_decay_topk, EVENTS_DECAY_TOPK_SQL),
    "events_holt_forecast": (events_holt_forecast, EVENTS_HOLT_SQL),
    # oracle recomputes from raw events at the INCREMENTAL horizon:
    # hash equality proves the day-chunked state fold (with expiry)
    # equals the batch recompute
    "events_decay_incremental": (
        events_decay_incremental,
        _decay_topk_sql(INCR_HORIZON),
    ),
}
