"""operators/retrieval.py: trainer seeding of the IVFPQ index rows."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from airflow_iceberg_pipeline_stock_tracker_spark.operators import retrieval


class _Seeded(Exception):
    """Raised by the stub PQ trainer once it has recorded its seeds."""


@pytest.mark.parametrize("build", ["rag_recall", "rag_write_index"])
def test_pq_trainer_gets_exactly_its_own_seeds(
    spark, sf_dir, tmp_path, monkeypatch, build
):
    # both rows collect max(RAG_CELLS, RAG_CODES) first-chunk rows once;
    # with fewer PQ codes than cells the PQ trainer must still get only
    # the RAG_CODES rows its own _seed_pred selects
    n_codes = retrieval.RAG_CELLS // 2
    monkeypatch.setattr(retrieval, "RAG_CODES", n_codes)
    seen: dict[str, list[int]] = {}

    def coarse(emb, k, iters, seed_rows):
        seen["coarse"] = [r["vec_id"] for r in seed_rows]

    def pq(emb, cmat, k, iters, seed_rows):
        seen["pq"] = [r["vec_id"] for r in seed_rows]
        raise _Seeded

    monkeypatch.setattr(retrieval, "_train_coarse", coarse)
    monkeypatch.setattr(retrieval, "_train_residual_pq", pq)
    with pytest.raises(_Seeded):
        if build == "rag_recall":
            retrieval.rag_recall(spark, sf_dir)
        else:
            retrieval.rag_write_index(spark, sf_dir, str(tmp_path / "index"))
    sid = retrieval.RAG_SID
    assert seen["pq"] == [i * sid for i in range(n_codes)]
    assert seen["coarse"] == [i * sid for i in range(retrieval.RAG_CELLS)]
