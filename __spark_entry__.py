"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship pipeline smoke on sf0.001.
``queries()``   — one entry per implemented operator (SURVEY.md §2 + the
                  LLM-data-pipeline extensions), each (spark, sf_dir) -> DataFrame.
``oracle_sql()``— DuckDB-runnable ANSI-SQL twin per query (tables
                  region/nation/customer/supplier/part/orders/lineitem/
                  events/documents/embeddings are pre-registered views).

Every row lives in exactly one family table of ``{name: (fn, oracle_sql)}``
pairs: ``CORE_QUERIES`` below (the reference DAG's prices, DQ, cumulate,
pipeline and snapshot-lifecycle rows), ``RELATIONAL_QUERIES``,
``LLM_QUERIES`` and ``STREAMING_QUERIES``. To add a row, add its pair to
one family table and its name to ``SWEEP_CHECKED`` (demoting a proven row
to ``SWEEP_TAIL`` to keep the budget); see ``queries()`` for the rules.
"""

from __future__ import annotations

import os
import shutil
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DecimalType

from airflow_iceberg_pipeline_stock_tracker_spark import pipeline
from airflow_iceberg_pipeline_stock_tracker_spark.operators.cumulate import (
    cumulate,
    cumulate_flat,
    cumulate_flat_oracle_sql,
    explode_rolling,
)
from airflow_iceberg_pipeline_stock_tracker_spark.operators.dq import (
    dq_checks,
    dq_checks_oracle_sql,
)
from airflow_iceberg_pipeline_stock_tracker_spark.operators.finance import (
    AROON_SQL,
    ATR_SQL,
    BETA_SQL,
    BOLLINGER_SQL,
    DONCHIAN_SQL,
    DRAWDOWN_SQL,
    GOLDEN_CROSS_SQL,
    HEIKIN_SQL,
    ICHIMOKU_SQL,
    KALMAN_SQL,
    MACD_SQL,
    MONTHLY_BARS_SQL,
    OBV_SQL,
    PAIR_CORR_SQL,
    RSI_SQL,
    STOCH_SQL,
    VAR_CVAR_SQL,
    VWAP_SQL,
    aroon,
    atr,
    beta_vs_market,
    bollinger,
    donchian,
    drawdown,
    golden_cross,
    heikin_ashi,
    ichimoku,
    kalman_filter,
    macd,
    monthly_bars,
    obv,
    rsi,
    spearman_pairs,
    stochastic,
    var_cvar,
    vwap_weekly,
)
from airflow_iceberg_pipeline_stock_tracker_spark.plans.llm_queries import (
    LLM_QUERIES,
)
from airflow_iceberg_pipeline_stock_tracker_spark.plans.queries import (
    RELATIONAL_QUERIES,
)
from airflow_iceberg_pipeline_stock_tracker_spark.plans.streaming_queries import (
    STREAMING_QUERIES,
)
from airflow_iceberg_pipeline_stock_tracker_spark.sources.prices import (
    DEFAULT_DS,
    PRICES_ORACLE_SQL,
    STANDIN_TICKERS,
    prices_standin,
)

QueryFn = Callable[[SparkSession, str], DataFrame]


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: prices stand-in -> 7-day rolling cumulate on sf0.001."""
    prices = prices_standin(spark, "/root/testdata/sf0.001")
    return cumulate(prices)


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------

def _q_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    return prices_standin(spark, sf_dir)


def _q_dq_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dq_checks(prices_standin(spark, sf_dir), DEFAULT_DS, STANDIN_TICKERS)


def _q_cumulate_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    # flat surface: array cells as (idx, value) scalars so the driver's
    # pandas canonicalizer can sort/hash them (arrays are unhashable)
    return cumulate_flat(prices_standin(spark, sf_dir))


def _q_cumulate_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cumulate_flat(prices_standin(spark, sf_dir), ds=DEFAULT_DS)


def _q_prices_vwap(spark: SparkSession, sf_dir: str) -> DataFrame:
    return vwap_weekly(prices_standin(spark, sf_dir))


def _q_prices_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    return drawdown(prices_standin(spark, sf_dir))


def _q_prices_bollinger(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bollinger(prices_standin(spark, sf_dir))


def _q_prices_rsi(spark: SparkSession, sf_dir: str) -> DataFrame:
    return rsi(prices_standin(spark, sf_dir))


def _q_prices_monthly_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar OHLCV rollup (operators/finance.py:monthly_bars):
    min_by/max_by over the unique date key select first-open/last-close
    with zero float arithmetic; one (ticker, month) hash aggregate."""
    return monthly_bars(prices_standin(spark, sf_dir))


def _q_prices_golden_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SMA50/SMA200 golden/death crosses with a division-free exact
    integer comparison (4*s50 vs s200 over cent sums), full windows
    only (operators/finance.py:golden_cross)."""
    return golden_cross(prices_standin(spark, sf_dir))


def _q_prices_macd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MACD/signal/histogram: chained EMA recursions folded per ticker
    in pinned date order (operators/finance.py:macd); the oracle is a
    recursive CTE running the identical IEEE op sequence — bit-equal
    doubles, no rounding. Trailing 250 rows per ticker."""
    return macd(prices_standin(spark, sf_dir))


def _q_prices_kalman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-D Kalman filter (local-level model) folded per ticker in
    pinned date order (operators/finance.py:kalman_filter); the oracle
    is a recursive CTE running the identical IEEE op sequence —
    bit-equal doubles (the macd/holt discipline)."""
    return kalman_filter(prices_standin(spark, sf_dir))


def _q_prices_ichimoku(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ichimoku lines in doubled/quadrupled cent space — window extrema
    midpoints + 26-bar shifts, full windows only, zero division
    (operators/finance.py:ichimoku)."""
    return ichimoku(prices_standin(spark, sf_dir))


def _q_prices_var_cvar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Historical VaR/CVaR at 95/99: exact discrete tail order
    statistics + one closing division per tail mean
    (operators/finance.py:var_cvar)."""
    return var_cvar(prices_standin(spark, sf_dir))


def _q_prices_heikin_ashi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heikin-Ashi candles: the ha_open recursion folded per ticker in
    pinned date order (operators/finance.py:heikin_ashi); the
    recursive-CTE oracle runs the identical IEEE op sequence, so the
    doubles match bit-for-bit (the macd discipline — exactness proper
    holds only to ~bar 43, see the operator docstring)."""
    return heikin_ashi(prices_standin(spark, sf_dir))


def _q_prices_donchian(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Donchian channel over the PRIOR 20 days + breakout signal — all
    int64-cent extrema, doubled-cent midline, zero division
    (operators/finance.py:donchian); two frames on one (ticker, date)
    exchange, prices_drawdown's class."""
    return donchian(prices_standin(spark, sf_dir))


def _q_prices_aroon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aroon trend-strength indicator over the trailing 26 bars: days
    since the window's highest high / lowest low via ONE packed-int
    window max each (ties break toward the most recent bar), scaled to
    exact-integer percentages — zero floats, zero joins
    (operators/finance.py:aroon); donchian's single-exchange class."""
    return aroon(prices_standin(spark, sf_dir))


def _q_prices_obv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """On-Balance Volume: running volume sum signed by the close-to-
    close direction — pure int64 end-to-end (operators/finance.py:obv),
    two stacked windows on one (ticker, date) exchange."""
    return obv(prices_standin(spark, sf_dir))


def _q_prices_snapshot_rollback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rollback_to_snapshot (pipeline.snapshot_rollback_demo): a botched
    third load rolled back with no new snapshot and no data deletion,
    the corrected load re-run on the restored head, bad commit still
    readable history."""
    return pipeline.snapshot_rollback_demo(
        spark, tempfile.mkdtemp(prefix="graft_rollback_")
    )


def _q_prices_snapshot_expire(spark: SparkSession, sf_dir: str) -> DataFrame:
    """expire_snapshots + orphan cleanup (pipeline.snapshot_expire_demo):
    four appends, vacuum(keep_last=2), current table untouched, retained
    snapshot still time-travels, expired versions raise, dirs gone."""
    return pipeline.snapshot_expire_demo(
        spark, tempfile.mkdtemp(prefix="graft_expire_")
    )


def _q_prices_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binpack maintenance (pipeline.snapshot_compaction_demo): three
    small append commits planned into one bin from manifest metadata,
    folded by a bin-scoped rewrite with merged stats, re-plan empty."""
    return pipeline.snapshot_compaction_demo(
        spark, tempfile.mkdtemp(prefix="graft_binpack_")
    )


def _q_prices_partition_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg partition-spec evolution emulated end-to-end
    (pipeline.snapshot_partition_evolution_demo): January lands as one
    day-partitioned commit (3 dirs), February as a month-partitioned
    commit (1 dir) — both layouts under one manifest; bounded reads
    prune each dir by its own bounds and the boundary-spanning read
    equals the flat recompute."""
    return pipeline.snapshot_partition_evolution_demo(
        spark, tempfile.mkdtemp(prefix="graft_evolve_")
    )


def _q_prices_atr(spark: SparkSession, sf_dir: str) -> DataFrame:
    return atr(prices_standin(spark, sf_dir))


def _q_prices_stochastic(spark: SparkSession, sf_dir: str) -> DataFrame:
    return stochastic(prices_standin(spark, sf_dir))


def _q_prices_pair_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Spearman rank correlation of daily close changes —
    exact-integer 2x-average-ranks, int64 moment sums, one closing
    sqrt/division (IEEE-exact)."""
    return spearman_pairs(prices_standin(spark, sf_dir))


def _q_pipeline_daily_run(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full daily pipeline (ingest->DQ->promote->cumulate), 3-day backfill.

    Managed-table side effects land in a dedicated database; the result
    is the cumulative table with its rolling arrays exploded to (idx,
    value) scalars — the driver canonicalizer can't hash array cells —
    and timestamps dropped. The table keeps its reference DECIMAL schema
    (dag.py:336-354), but the driver-facing frame casts every DECIMAL
    column to double: Spark's toPandas yields object-dtype
    ``Decimal('1.40')`` cells while DuckDB's .df() converts DECIMAL to
    float64 ``1.4``, so a pandas string canon hashes equal values
    differently. Both engines cast the same decimal to
    the same nearest double, so the double surface hashes bit-equal.
    """
    db = "entry_pipeline"
    spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
    # a killed prior run can leave the warehouse dir without catalog
    # entries (the in-memory catalog dies with its session); CREATE TABLE
    # refuses to reuse the location, so clear it explicitly
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    shutil.rmtree(f"{wh}/{db}.db", ignore_errors=True)
    pipeline.backfill(spark, "2024-01-01", "2024-01-03", db=db)
    cum = spark.table(f"{db}.{pipeline.CUMULATIVE_TABLE}").drop("updated_at")
    flat = explode_rolling(cum)
    return flat.select(
        *[
            F.col(f.name).cast("double").alias(f.name)
            if isinstance(f.dataType, DecimalType)
            else F.col(f.name)
            for f in flat.schema.fields
        ]
    )


def _q_prices_snapshot_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-layer time travel (pipeline.snapshot_time_travel_demo):
    overwrite-commit v1, append-commit v2, read both versions back via
    the manifest history — the Iceberg commit/time-travel semantics the
    sandbox cannot run natively, emulated and hash-checked."""
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    return pipeline.snapshot_time_travel_demo(
        spark, os.path.join(wh, "entry_snapshot_demo")
    )


def _q_prices_snapshot_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance over the snapshot layer
    (pipeline.snapshot_incremental_demo): three append commits, each
    folded into a running aggregate by reading ONLY its delta via
    snapshots.read_incremental — Iceberg's incremental append scan."""
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    return pipeline.snapshot_incremental_demo(
        spark, os.path.join(wh, "entry_snapshot_incr")
    )


def _q_prices_snapshot_wap(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pipeline.snapshot_wap_demo(spark, tempfile.mkdtemp(prefix="graft_wap_"))


def _q_prices_mor_deletes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg v2 merge-on-read row-level deletes end-to-end
    (pipeline.snapshot_mor_demo): positional delete file + equality
    delete file + sequence-scoped re-append + delete-aware compaction,
    all on the manifest snapshot layer — none of it rewrites a data
    file until the explicit rewrite_data_files step."""
    return pipeline.snapshot_mor_demo(spark, tempfile.mkdtemp(prefix="graft_mor_"))


def _q_prices_beta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-ticker CAPM beta vs the equal-weight market index —
    whole-dollar int64 moment sums, the closing covariance/variance
    ratio computed in doubles cast from the exact sums (deterministic,
    overflow-free), NULL on zero-variance markets."""
    return beta_vs_market(prices_standin(spark, sf_dir))


def _q_prices_snapshot_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg-style $snapshots metadata relation over a scripted
    5-commit history (pipeline.snapshot_metadata_demo): operation /
    branch / dir + delete-file counts / visible record_count / ref
    heads, all manifest-derived and closed-form in the oracle."""
    return pipeline.snapshot_metadata_demo(
        spark, tempfile.mkdtemp(prefix="graft_meta_")
    )


def _q_prices_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifest-stats scan planning (pipeline.snapshot_pruned_scan_demo):
    per-dir [min,max] date stats committed with each load; a day-bounded
    read plans ONE of three dirs, the others never open, MoR deletes
    ride the pruned plan, parity vs the full filtered read proven."""
    return pipeline.snapshot_pruned_scan_demo(
        spark, tempfile.mkdtemp(prefix="graft_prune_")
    )


def _q_pipeline_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution end-to-end (pipeline.run_evolution_demo):
    backfill 2 days -> ALTER TABLE ADD COLUMNS -> old-writer day 3
    (NULL-padded) -> new-writer partition overwrite -> read across the
    evolution boundary. DECIMALs cast to double on the driver surface."""
    db = "entry_evolve"
    spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    shutil.rmtree(f"{wh}/{db}.db", ignore_errors=True)
    return pipeline.run_evolution_demo(spark, db=db)


# ---------------------------------------------------------------------------
# the core family: (fn, DuckDB twin) per row
# ---------------------------------------------------------------------------

_PRICES_CTE = f"WITH prices AS ({PRICES_ORACLE_SQL})"
# DuckDB declares RECURSIVE once on the chain's single WITH keyword, so the
# recursive-CTE twins (macd, kalman, heikin_ashi) need it on the prices CTE
_PRICES_RECURSIVE_CTE = _PRICES_CTE.replace("WITH prices", "WITH RECURSIVE prices", 1)


def _on_prices(sql: str, first_cte: str = "c") -> str:
    """Chain ``sql``'s leading ``WITH <first_cte> AS`` onto the prices CTE."""
    return _PRICES_CTE + sql.replace(f"WITH {first_cte} AS", f", {first_cte} AS", 1)


CORE_QUERIES: dict[str, tuple[QueryFn, str]] = {
    "prices_standin": (_q_prices, PRICES_ORACLE_SQL),
    "prices_vwap": (_q_prices_vwap, _PRICES_CTE + VWAP_SQL),
    "prices_drawdown": (_q_prices_drawdown, _on_prices(DRAWDOWN_SQL)),
    "prices_bollinger": (_q_prices_bollinger, _on_prices(BOLLINGER_SQL)),
    "prices_rsi": (_q_prices_rsi, _on_prices(RSI_SQL)),
    "prices_obv": (_q_prices_obv, _on_prices(OBV_SQL)),
    "prices_donchian": (_q_prices_donchian, _on_prices(DONCHIAN_SQL)),
    "prices_aroon": (_q_prices_aroon, _on_prices(AROON_SQL)),
    "prices_heikin_ashi": (_q_prices_heikin_ashi, _PRICES_RECURSIVE_CTE + HEIKIN_SQL),
    "prices_partition_evolution": (
        _q_prices_partition_evolution,
        pipeline.snapshot_partition_evolution_oracle_sql(),
    ),
    "prices_compaction": (
        _q_prices_compaction,
        pipeline.snapshot_compaction_oracle_sql(),
    ),
    "prices_snapshot_rollback": (
        _q_prices_snapshot_rollback,
        pipeline.snapshot_rollback_oracle_sql(),
    ),
    "prices_snapshot_expire": (
        _q_prices_snapshot_expire,
        pipeline.snapshot_expire_oracle_sql(),
    ),
    "prices_monthly_bars": (_q_prices_monthly_bars, _PRICES_CTE + MONTHLY_BARS_SQL),
    "prices_golden_cross": (_q_prices_golden_cross, _on_prices(GOLDEN_CROSS_SQL)),
    "prices_macd": (_q_prices_macd, _PRICES_RECURSIVE_CTE + MACD_SQL),
    "prices_kalman": (_q_prices_kalman, _PRICES_RECURSIVE_CTE + KALMAN_SQL),
    "prices_ichimoku": (_q_prices_ichimoku, _on_prices(ICHIMOKU_SQL)),
    "prices_var_cvar": (_q_prices_var_cvar, _on_prices(VAR_CVAR_SQL)),
    "prices_atr": (_q_prices_atr, _on_prices(ATR_SQL)),
    "prices_stochastic": (_q_prices_stochastic, _on_prices(STOCH_SQL)),
    "dq_checks": (
        _q_dq_checks,
        _on_prices(dq_checks_oracle_sql(DEFAULT_DS, STANDIN_TICKERS), "agg"),
    ),
    "cumulate_rolling": (
        _q_cumulate_rolling,
        _on_prices(cumulate_flat_oracle_sql(), "windowed"),
    ),
    "cumulate_day": (
        _q_cumulate_day,
        _on_prices(cumulate_flat_oracle_sql(DEFAULT_DS), "windowed"),
    ),
    # full backfill, hash-checked end-to-end: the deterministic bar
    # client is a pure sha256 function of (ticker, ds), so the SQL twin
    # regenerates the bars and replays ingest->promote->cumulate
    "pipeline_daily_run": (
        _q_pipeline_daily_run,
        pipeline.backfill_oracle_sql(["2024-01-01", "2024-01-02", "2024-01-03"]),
    ),
    "pipeline_schema_evolution": (
        _q_pipeline_schema_evolution,
        pipeline.evolution_oracle_sql(),
    ),
    "prices_snapshot_time_travel": (
        _q_prices_snapshot_time_travel,
        pipeline.snapshot_oracle_sql(),
    ),
    "prices_snapshot_incremental": (
        _q_prices_snapshot_incremental,
        pipeline.snapshot_incremental_oracle_sql(),
    ),
    "prices_snapshot_wap": (_q_prices_snapshot_wap, pipeline.snapshot_wap_oracle_sql()),
    "prices_mor_deletes": (_q_prices_mor_deletes, pipeline.snapshot_mor_oracle_sql()),
    "prices_pair_corr": (_q_prices_pair_corr, _on_prices(PAIR_CORR_SQL)),
    "prices_beta": (_q_prices_beta, _on_prices(BETA_SQL, "px")),
    "prices_snapshot_metadata": (
        _q_prices_snapshot_metadata,
        pipeline.snapshot_metadata_oracle_sql(),
    ),
    "prices_pruned_scan": (
        _q_prices_pruned_scan,
        pipeline.snapshot_pruned_scan_oracle_sql(),
    ),
}

_FAMILIES = (CORE_QUERIES, RELATIONAL_QUERIES, LLM_QUERIES, STREAMING_QUERIES)

# ---------------------------------------------------------------------------
# sweep order — the correctness gate checks only the first CHECKED_BUDGET rows
# ---------------------------------------------------------------------------
CHECKED_BUDGET = 50

SWEEP_CHECKED = [
    # reference-parity core (SURVEY §2) and the exactly-once parity proofs
    # first, so a truncated gate run loses only already-proven rows
    "dq_checks",
    "cumulate_rolling",
    "pipeline_daily_run",
    "pipeline_schema_evolution",
    "prices_snapshot_time_travel",
    "prices_snapshot_incremental",
    "prices_snapshot_wap",  # staging->DQ->promote as snapshot branches
    "pipeline_micro_batch_parity",
    # streaming: the watermark/state/join machinery
    "streaming_interval_join",
    "streaming_chained_hourly",
    "streaming_left_outer_join",
    "events_micro_batch_parity",
    "events_ohlc_incremental",
    "streaming_enriched_hourly",
    "streaming_merge_apply",
    "text_source_drift",  # per-source simhash profiles, L1 drift
    "events_hll_distinct",  # exact-int HLL registers vs exact count
    "streaming_cms_incremental",  # per-batch counter partials, SUM at read
    "streaming_kmv_incremental",  # per-batch bottom-k, union at read
    "parts_skyline",  # Pareto frontier vs quadratic NOT EXISTS
    "dq_benford",  # first-digit forensic screen, exact ints
    "curation_weighted_sample",  # A-ES top-k by u^(1/w), rand()-free
    "dedup_prefix_filter",  # PPJoin prefixes: exact recall at J>=1/2
    "dq_profile",  # 11-column profile in ONE scan, stack
    "curation_score_calibration",  # per-source median vs global cutoff
    "orders_ivm_join",  # delta algebra == full recompute (the oracle)
    "curation_token_budget",  # closed-form capped waterfill
    "embedding_outlier_lof",  # density-based outliers on the kNN graph
    "dq_mutual_information",  # pinned-fold entropies, exact joint counts
    "prices_snapshot_expire",  # expire_snapshots + orphan cleanup
    "events_changepoint",  # binseg argmax split, exact-int cumsums
    "similarity_knn_graph",  # per-source top-k over collapsed bands
    "embedding_near_dup",  # banded near-dup pairs, group fan-out
    "dedup_prefix_filter_composed",  # oracle IS the direct PPJoin SQL
    "orders_ivm_delete",  # IVM retraction; oracle = recompute on O minus D
    "dq_fd_violations",  # Kivinen-Mannila g3 FD screen, exact ints
    "similarity_semdedup",  # in-cluster smaller-id prune rule
    "events_ab_cuped",  # CUPED-adjusted A/B readout
    "curation_ppl_buckets",  # CCNet head/middle/tail terciles per source
    "orders_ivm_outer",  # LEFT-join IVM: NULL-padding retraction term
    "prices_kalman",  # 1-D Kalman fold, recursive-CTE oracle
    "events_holt_winters",  # additive HW, recursive-CTE oracle
    "events_survival_km",  # Kaplan-Meier with right-censoring
    "dedup_edit_distance_composed",  # oracle IS the direct Levenshtein SQL
    "text_classifier_train",  # quantized-GD logistic fit, exact ints
    "text_bpe_encode",  # encoding under the trained merge table
    "retrieval_rag_recall",  # IVFADC index + in-plan recall@k
    "text_classifier_holdout",  # leakage-safe split, per-fold accuracy
    "text_bpe_encode_artifact",  # oracle IS bpe_encode's
    "retrieval_index_artifact",  # oracle IS RAG_RECALL_SQL
]

# registered and oracle-paired but past the correctness gate's budget
SWEEP_TAIL = [
    "similarity_matryoshka_recall",
    "text_classifier_score",
    "events_forecast_backtest",
    "similarity_dup_groups",
    "dedup_edit_distance",
    "events_stl_decompose",
    "similarity_rrf_hybrid",
    "prices_heikin_ashi",
    "similarity_cluster_balance",
    "events_hll_reagg",
    "events_mad_anomaly",
    "events_burst_episodes",
    "dq_referential_integrity",
    "prices_snapshot_rollback",
    "events_hll_setops",
    "events_quantile_sketch",
    "prices_aroon",
    "events_kmv_overlap",
    "events_kmv_distinct",
    "events_cms_heavy_hitters",
    "streaming_hll_incremental",
    "dedup_winnowing_pairs",
    "prices_donchian",
    "parts_jaccard_similarity",
    "embedding_power_iteration",
    "orders_basket_rules",
    "orders_ship_sla",
    "events_cusum_incremental",
    "prices_compaction",
    "prices_monthly_bars",
    "prices_golden_cross",
    "prices_macd",
    "prices_ichimoku",
    "customer_purchase_cadence",
    "prices_var_cvar",
    "text_winnowing",
    "events_growth_accounting",
    "events_cusum",
    "orders_open_backlog",
    "events_hourofweek_seasonality",
    "events_snapshot_sink_parity",
    "text_bm25_search",
    "similarity_ivf_topk",
    "multimodal_patch_grid",
    "events_conversion_lag",
    "prices_mor_deletes",
    "dedup_incremental_lsh",
    "prices_pair_corr",
    "prices_snapshot_metadata",
    "prices_pruned_scan",
    "events_top_paths",
    "events_twap",
    "prices_beta",
    "prices_obv",
    "prices_partition_evolution",
    "prices_rsi",
    "orders_market_basket",
    "events_pattern_match",
    "events_holt_forecast",
    "events_attribution",
    "orders_cohort_ltv",
    "text_collocations",
    "dedup_containment",
    "similarity_sq_topk",
    "text_gopher_rules",
    "text_tfidf_keywords",
    "multimodal_phash_neardup",
    "streaming_pattern_match",
    "prices_atr",
    "prices_stochastic",
    "parts_triangle_count",
    "events_decay_topk",
    "orders_abc_analysis",
    "events_decay_incremental",
    "prices_vwap",
    "prices_drawdown",
    "prices_bollinger",
    "events_hourly_anomaly",
    "events_skew_profile",
    "customer_rfm",
    "events_transitions",
    "q4_order_priority",
    "q7_nation_volume",
    "q13_customer_distribution",
    "q15_top_supplier",
    "q16_supplier_cnt",
    "text_lm_score",
    "multimodal_decode_real",
    "events_ewma",
    "text_bpe_train",
    "text_bpe_tokenize",
    "dedup_graph_stats",
    "curation_importance_weights",
    "similarity_mmr_rerank",
    "similarity_hard_negatives",
    "q8_market_share",
    "q9_product_profit",
    "q10_returned_items",
    "q12_late_lines",
    "q17_small_qty_revenue",
    "q19_disjunctive_preds",
    "events_sketch_reagg",
    "events_json_props",
    "curation_mixture_sample",
    "events_hourly_corr",
    "parts_hierarchy_rollup",
    "events_heavy_hitters",
    "parts_name_linkage",
    "events_gapfill",
    "events_time_range_window",
    "events_rolling_distinct",
    "events_cube",
    "text_chunk_documents",
    "similarity_ivfpq_topk",
    "lineitem_bloom_semi_join",
    "graph_pagerank_trade",
    "events_sketch_accuracy",
    "text_char_entropy",
    "q2_min_cost_supplier",
    "q11_part_value_conc",
    "q18_large_orders",
    "q20_excess_suppliers",
    "q21_waiting_suppliers",
    "q22_dormant_customers",
    "revenue_rollup",
    "similarity_pq_topk",
    "layout_file_stats",
    "layout_zorder_stats",
    "returnflag_pivot",
    "events_window_funcs",
    "customer_merge_upsert",
    "events_user_set_ops",
    "events_user_trend",
    "scd2_priority_intervals",
    "similarity_semantic_dedup",
    "layout_bucketed_join",
    "dedup_repeated_spans",
    "events_ohlc_bars",  # recomputed inside the checked ohlc_daily proof
    "text_corpus_stats",
    "curation_source_overlap",
    "curation_corpus_verdict",
    "multimodal_byte_stats",
    "multimodal_decode_features",
    "multimodal_resize",
    "multimodal_frame_sample",
    "text_token_stats",
    "events_funnel",
    "curation_stratified_sample",
    "curation_repetition",
    "text_top_terms",
    "dedup_exact",
    "text_fingerprints",
    "text_pack_shards",
    "curation_pii_scrub",
    "order_priority_stats",
    "events_retention",
    "dedup_ngram_jaccard",
    "dedup_components",
    "dedup_keep_list",
    "similarity_cosine_topk",
    "similarity_rp_lsh_topk",
    "embedding_kmeans",
    "text_language_id",
    "curation_split",
    "events_hourly",
    "events_sessionize",
    "dedup_minhash_lsh",
    "q3_top_orders",
    "events_type_totals_salted",
    "streaming_sliding_value",
    "streaming_exact_dedup",
    "dedup_simhash",
    "streaming_hourly_tumbling",
    "streaming_sessionize",
    "streaming_rolling_stateful",
    "streaming_event_dedup",
    "q1_pricing_summary",
    "q5_nation_revenue",
    "topk_parts_per_brand",
    "customer_order_activity",
    "events_asof_join",
    "events_ohlc_daily",
    "cumulate_day",
    "text_quality_score",
    "multimodal_audio_chunks",
    "curation_contamination",
    "prices_standin",
    "events_range_join",
    "q6_forecast_revenue",
    "q14_promo_revenue",
]
SWEEP_ORDER = SWEEP_CHECKED + SWEEP_TAIL


def queries() -> dict[str, QueryFn]:
    """Every registered row, in ``SWEEP_ORDER``.

    Registration order is a budget: the external correctness gate
    hash-checks only the first ``CHECKED_BUDGET`` rows, so ``SWEEP_CHECKED``
    holds exactly that many names and ``SWEEP_TAIL`` the rest. Rows left at
    the tail of dict order can go unchecked without any error, hence the
    rules:

    * every operator family keeps at least one row in ``SWEEP_CHECKED``;
    * a new row enters ``SWEEP_CHECKED`` and funds its slot by demoting a
      row that has been hash-green for at least two gate runs and is
      covered by pytest; otherwise it may enter the tail only if it also
      joins ``tests/test_tail_oracle.py::_NEVER_DRIVER_CHECKED``;
    * ``SWEEP_TAIL`` holds only rows whose logic a checked row or a pytest
      already proves; ``tests/test_tail_oracle.py`` diffs every tail row
      against its oracle on each CI run.

    A list of the wrong length, a duplicate or an unknown name raises
    ``ValueError`` (not assert, so it holds under ``python -O``).
    """
    pool = {name: fn for family in _FAMILIES for name, (fn, _sql) in family.items()}
    if len(SWEEP_CHECKED) != CHECKED_BUDGET:
        raise ValueError(
            f"SWEEP_CHECKED must hold exactly {CHECKED_BUDGET} names, "
            f"got {len(SWEEP_CHECKED)} — a careless insertion would "
            "silently demote a checked query into the tail"
        )
    if len(set(SWEEP_ORDER)) != len(SWEEP_ORDER):
        dupes = sorted({n for n in SWEEP_ORDER if SWEEP_ORDER.count(n) > 1})
        raise ValueError(f"SWEEP_ORDER has duplicate names: {dupes}")
    missing = [n for n in SWEEP_ORDER if n not in pool]
    if missing:
        raise ValueError(f"SWEEP_ORDER names unknown queries: {missing}")
    out: dict[str, QueryFn] = {n: pool[n] for n in SWEEP_ORDER}
    # anything newly registered but not yet placed lands at the very
    # tail (unchecked) rather than silently displacing a checked row
    out.update({n: fn for n, fn in pool.items() if n not in out})
    return out


def oracle_sql() -> dict[str, str]:
    return {
        name: sql
        for family in _FAMILIES
        for name, (_fn, sql) in family.items()
        if sql is not None
    }
