"""Driver-contract invariants for __spark_entry__.py.

The driver hash-checks only the first CHECKED_BUDGET registered queries
(CORRECTNESS_r03 proved how silently coverage can fall out), so the
sweep order is a managed budget. These tests make its invariants
executable — no Spark session needed, queries()/oracle_sql() only build
dicts.
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry

# rows whose result is inherently un-oracle-able (documented per-case in
# the query docstrings); everything else must carry a SQL twin. Empty
# since r5: pipeline_daily_run's bars are a pure sha256 function of
# (ticker, ds), so even the full backfill has a SQL twin now.
ROWS_ONLY_OK: set[str] = set()


def test_checked_prefix_is_exactly_the_budget():
    assert len(entry.SWEEP_CHECKED) == entry.CHECKED_BUDGET
    assert len(set(entry.SWEEP_CHECKED)) == entry.CHECKED_BUDGET


def test_sweep_order_is_checked_plus_tail_no_dupes():
    assert entry.SWEEP_ORDER == entry.SWEEP_CHECKED + entry.SWEEP_TAIL
    assert len(set(entry.SWEEP_ORDER)) == len(entry.SWEEP_ORDER)


def test_registration_order_puts_checked_prefix_first():
    names = list(entry.queries())
    assert names[: entry.CHECKED_BUDGET] == entry.SWEEP_CHECKED


def test_every_query_is_oracle_paired_or_documented_rows_only():
    qs = set(entry.queries())
    oracles = entry.oracle_sql()
    unpaired = {n for n in qs if n not in oracles} - ROWS_ONLY_OK
    assert not unpaired, f"queries with no oracle and no waiver: {sorted(unpaired)}"
    orphans = set(oracles) - qs
    assert not orphans, f"oracles for unregistered queries: {sorted(orphans)}"


def test_new_operators_are_inside_the_checked_prefix():
    # the r4 lesson: new operators must not ship driver-unchecked.
    # Pins the CURRENT round's must-be-checked set (r15): the twelve
    # r14 first-rounders and the two r14 code-changed re-promotions
    # held for their SECOND consecutive green round (r14 verdict ask
    # #3), plus every r15-new operator — minting capped at the round's
    # demotion supply (3 demotions fund 3 mints: dedup_edit_distance
    # funds its own composed successor, events_stl_decompose +
    # similarity_rrf_hybrid fund the classifier-train / bpe-encode
    # slots; all three demoted rows are 2-round-green r13+r14).
    promoted = {
        # r16-new, first round
        "retrieval_rag_recall",
        "text_classifier_holdout",
        "text_bpe_encode_artifact",
        "retrieval_index_artifact",
        # r15-new, held for their second consecutive driver round
        "dedup_edit_distance_composed",
        "text_classifier_train",
        "text_bpe_encode",
        # r14 re-promotions (code-changed: duplicate-collapse band
        # join) — 2 green rounds done (r14+r15), still checked
        "similarity_knn_graph",
        "embedding_near_dup",
        # r14-new — 2 green rounds done (r14+r15), still checked
        "dedup_prefix_filter_composed",
        "orders_ivm_delete",
        "dq_fd_violations",
        "similarity_semdedup",
        "events_ab_cuped",
        "curation_ppl_buckets",
        "orders_ivm_outer",
        "prices_kalman",
        "events_holt_winters",
        "events_survival_km",
    }
    assert promoted <= set(entry.SWEEP_CHECKED)


def test_budget_violation_raises_value_error_not_assert(monkeypatch):
    # must hold under `python -O` too, hence ValueError not assert
    monkeypatch.setattr(entry, "SWEEP_CHECKED", entry.SWEEP_CHECKED[:-1])
    monkeypatch.setattr(
        entry, "SWEEP_ORDER", entry.SWEEP_CHECKED[:-1] + entry.SWEEP_TAIL
    )
    with pytest.raises(ValueError, match="exactly 50"):
        entry.queries()


def test_unknown_name_raises_value_error(monkeypatch):
    monkeypatch.setattr(
        entry, "SWEEP_ORDER", entry.SWEEP_ORDER + ["no_such_query"]
    )
    with pytest.raises(ValueError, match="unknown"):
        entry.queries()


def test_bench_names_are_registered():
    """bench.py benches every registered row by iterating queries(), but
    keys its side tables by name; a stale name there crashes or silently
    skips a receipt only minutes into a bench run, so pin them here."""
    import bench

    registered = set(entry.queries())
    assert set(bench.TREND) <= registered
    superseded = {
        s["superseded_by"] for s in bench.TREND.values() if "superseded_by" in s
    }
    assert superseded <= set(bench.TREND)
    assert len(bench.R2_COMMON_SET) == 47
    assert bench.R2_COMMON_SET <= registered
    assert bench.RUN_ONCE <= bench.PROOF_TIER <= registered
    assert bench._STORAGE_SENSITIVE <= registered
    # receipts write into their trend row, so the row must be trended
    assert {row for row, _key, _fn in bench.RECEIPTS} <= set(bench.TREND)
    for _label, _make_dir, names, _key, _note in bench.POINTS:
        assert set(names) <= registered
    assert set(bench._DEEP_ACCURACY) <= set(bench.DEEP_EVENTS_QUERIES)
