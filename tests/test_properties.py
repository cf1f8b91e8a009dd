"""Property-based tests (hypothesis) for the custom join operators.

The example-based tests pin known edge cases; these throw randomized
small worlds at the operators and check them against brute-force
reference implementations — the class of bug they catch (boundary
conditions under adversarial timestamp collisions, key skew, empty
sides) is exactly what fixed fixtures miss.

Small deterministic profiles (max 40 rows, no deadline) because each
case pays Spark job overhead; the value is in the search space, not the
row count.
"""

from __future__ import annotations

import datetime as dt

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from airflow_iceberg_pipeline_stock_tracker_spark.operators import rangejoin
from airflow_iceberg_pipeline_stock_tracker_spark.operators.asof import asof_join

_BASE = dt.datetime(2024, 1, 1)

_prop_settings = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)

# (user_id, seconds-offset) event rows; tight offset range forces
# boundary collisions (ts == lo, ts == hi, duplicate timestamps)
_events = st.lists(
    st.tuples(st.integers(0, 2), st.integers(0, 120)),
    min_size=0,
    max_size=40,
)


def _ts(sec: int) -> dt.datetime:
    return _BASE + dt.timedelta(seconds=sec)


@given(probe=_events, ivals=_events)
@_prop_settings
def test_range_join_matches_bruteforce(spark, probe, ivals):
    width = 30
    probe_df = spark.createDataFrame(
        [(u, _ts(s), i) for i, (u, s) in enumerate(probe)],
        "user_id bigint, ts timestamp, event_id bigint",
    )
    ival_df = spark.createDataFrame(
        [(u, _ts(s), _ts(s + width), 1000 + i) for i, (u, s) in enumerate(ivals)],
        "user_id bigint, lo timestamp, hi timestamp, interval_id bigint",
    )
    got = sorted(
        (r.event_id, r.interval_id)
        for r in rangejoin.range_join_binned(
            probe_df, ival_df, keys=["user_id"], bucket_seconds=17
        ).collect()
    )
    want = sorted(
        (pi, 1000 + ii)
        for pi, (pu, ps) in enumerate(probe)
        for ii, (iu, isec) in enumerate(ivals)
        if pu == iu and isec < ps <= isec + width
    )
    assert got == want


@given(left=_events, right=_events)
@_prop_settings
def test_asof_join_matches_bruteforce(spark, left, right):
    """For every left row: the joined quote is the one with the LATEST
    right_time <= left time for that key (ties on time allowed — the
    operator may pick any of the tied payloads, so compare times)."""
    left_df = spark.createDataFrame(
        [(u, _ts(s), i) for i, (u, s) in enumerate(left)],
        "user_id bigint, ts timestamp, event_id bigint",
    )
    right_df = spark.createDataFrame(
        [(u, _ts(s), float(i)) for i, (u, s) in enumerate(right)],
        "user_id bigint, quote_ts timestamp, quote double",
    )
    got = {
        r.event_id: r.quote_ts
        for r in asof_join(
            left_df, right_df, on="user_id", left_time="ts", right_time="quote_ts"
        ).collect()
    }
    for i, (u, s) in enumerate(left):
        candidates = [rs for (ru, rs) in right if ru == u and rs <= s]
        want = _ts(max(candidates)) if candidates else None
        assert got[i] == want, (i, u, s)
    assert len(got) == len(left)  # every left row survives (left-join flavor)


# ---------------------------------------------------------------------------
# z-order interleave: exact bit round-trip
# ---------------------------------------------------------------------------

_u16 = st.integers(0, (1 << 16) - 1)


@given(st.lists(st.tuples(_u16, _u16), min_size=1, max_size=40))
@_prop_settings
def test_zvalue_interleave_roundtrip(spark, pairs):
    """The Morton value must deinterleave back to exactly (a, b) — the
    property every pruning guarantee rests on — and be monotone in each
    coordinate when the other is fixed at zero."""
    from airflow_iceberg_pipeline_stock_tracker_spark.operators import layout

    df = spark.createDataFrame(pairs, "a long, b long")
    rows = df.selectExpr(
        "a", "b", layout.zvalue_expr("a", "b") + " AS z"
    ).collect()
    for r in rows:
        a = b = 0
        for i in range(16):
            b |= ((r.z >> (2 * i)) & 1) << i
            a |= ((r.z >> (2 * i + 1)) & 1) << i
        assert (a, b) == (r.a, r.b), (r.a, r.b, r.z)


# ---------------------------------------------------------------------------
# repeated-span coverage invariants vs a brute-force reference
# ---------------------------------------------------------------------------

# tiny vocab + short docs force verbatim span collisions across docs
_docs = st.lists(
    st.lists(st.integers(0, 2), min_size=0, max_size=12),
    min_size=2,
    max_size=6,
)


@given(_docs)
@_prop_settings
def test_repeated_span_coverage_matches_bruteforce(spark, token_docs):
    """Brute-force reference: token i of doc d is duplicated iff some
    window [s, s+L) containing i appears verbatim in another document.
    The operator's interval-merged counts must agree exactly."""
    from airflow_iceberg_pipeline_stock_tracker_spark.operators import dedup

    L = 4  # small span so 12-token docs can collide
    texts = [" ".join(f"t{t}" for t in toks) for toks in token_docs]
    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    got = {
        r.doc_id: (r.n_tokens, r.dup_tokens)
        for r in dedup.repeated_span_coverage(df, span=L).collect()
    }

    def windows(toks):
        return [tuple(toks[i : i + L]) for i in range(len(toks) - L + 1)]

    all_w = {}
    for d, toks in enumerate(token_docs):
        for w in set(windows(toks)):
            all_w.setdefault(w, set()).add(d)
    for d, toks in enumerate(token_docs):
        # split("") edge: an empty text still tokenizes to one '' token
        n_tok = len(toks) if toks else 1
        covered = set()
        for i, w in enumerate(windows(toks)):
            if len(all_w[w]) >= 2:
                covered.update(range(i, i + L))
        assert got[d] == (n_tok, len(covered)), (d, toks, got[d], len(covered))


@given(
    tgt=st.lists(
        st.tuples(st.integers(0, 9), st.integers(-100, 100)),
        max_size=12,
        unique_by=lambda t: t[0],
    ),
    src=st.lists(
        st.tuples(st.integers(0, 9), st.integers(-100, 100)),
        max_size=12,
        unique_by=lambda t: t[0],
    ),
)
@_prop_settings
def test_merge_upsert_matches_dict_reference(spark, tgt, src):
    """merge_upsert == the dict-based upsert any engineer would write:
    matched keys accumulate, new keys insert, others pass through."""
    from airflow_iceberg_pipeline_stock_tracker_spark.operators.merge import (
        merge_upsert,
    )

    target = spark.createDataFrame(
        [(k, v) for k, v in tgt] or [(None, None)], "k int, v int"
    ).where(F.col("k").isNotNull())
    source = spark.createDataFrame(
        [(k, d) for k, d in src] or [(None, None)], "k int, d int"
    ).where(F.col("k").isNotNull())

    out = merge_upsert(
        target,
        source,
        keys=["k"],
        when_matched={"v": F.col("t.v") + F.col("s.d")},
        when_not_matched={"v": F.col("s.d")},
    )
    got = {r.k: r.v for r in out.collect()}

    ref = dict(tgt)
    for k, d in src:
        ref[k] = ref.get(k, 0) + d
    assert got == ref


def test_results_invariant_under_partition_count(spark, sf_dir):
    """Exactness contract: changing spark.sql.shuffle.partitions must not
    change any result bit — the property that makes the engine safe to
    rescale from local[4] to a 1000-executor cluster. Exercised on three
    shapes that historically break under re-partitioning: multi-agg
    scan (double sums), per-key least-squares (moment sums), and the
    interpolating gap-fill (window over a composed join)."""
    import __spark_entry__ as entry

    names = ["q1_pricing_summary", "events_user_trend", "events_gapfill"]
    qs = entry.queries()
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    results = {}
    try:
        for parts in ("3", "17"):
            spark.conf.set("spark.sql.shuffle.partitions", parts)
            for n in names:
                rows = [tuple(r) for r in qs[n](spark, sf_dir).collect()]
                results.setdefault(n, []).append(rows)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    for n, (a, b) in results.items():
        assert a == b, f"{n} changed under re-partitioning"


# ---------------------------------------------------------------------------
# round-7 operators
# ---------------------------------------------------------------------------

_ppm_dims = st.tuples(st.integers(1, 9), st.integers(1, 7))


@given(dims=_ppm_dims, data=st.data())
@_prop_settings
def test_ppm_codec_roundtrip_random(dims, data):
    # pure-Python codec: no Spark job, so crank the raster randomness
    from airflow_iceberg_pipeline_stock_tracker_spark.operators import multimodal

    w, h = dims
    raster = bytes(
        data.draw(
            st.lists(
                st.integers(0, 255), min_size=w * h * 3, max_size=w * h * 3
            )
        )
    )
    payload = multimodal.encode_ppm(w, h, raster)
    assert multimodal.decode_ppm(payload) == (w, h, raster)


_words = st.dictionaries(
    st.text(alphabet="abcd", min_size=1, max_size=6),
    st.integers(1, 9),
    min_size=1,
    max_size=8,
)


@given(corpus=_words)
@_prop_settings
def test_bpe_matches_python_reference_random(spark, corpus):
    """Random tiny corpora (alphabet {a-d} forces heavy pair ties and
    aaa-style overlap chains): Spark trainer == pure-Python reference."""
    from airflow_iceberg_pipeline_stock_tracker_spark.operators import bpe

    rows = [
        (i, " ".join([w] * c)) for i, (w, c) in enumerate(sorted(corpus.items()))
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    got = [
        (r.merge_rank, r.left, r.right, r.merged, r.pair_count)
        for r in bpe.bpe_train(docs, n_merges=4).collect()
    ]
    assert got == bpe.bpe_train_reference(corpus, n_merges=4)


_values = st.lists(
    st.floats(
        min_value=-1e6, max_value=1e6, allow_nan=False, allow_infinity=False
    ),
    min_size=2,
    max_size=40,
)


@given(vals=_values)
# pinned r7-judge falsifying input: the span (5e-324 - 0.0) is nonzero
# but (hi - lo) / 128.0 underflows to exactly 0.0 — the guard must test
# the WIDTH, not hi == lo, or the otherwise-branch divides by zero
@example(vals=[0.0, 5e-324])
# and the plain degenerate span (every value identical)
@example(vals=[3.5, 3.5, 3.5])
@_prop_settings
def test_quantile_sketch_bound_random(spark, vals, tmp_path_factory):
    """Random value sets: the histogram answer must sit within one bin
    width above the exact discrete quantile, always."""
    import datetime as _dt

    from airflow_iceberg_pipeline_stock_tracker_spark.plans.timeseries import (
        events_quantile_sketch,
    )

    d = tmp_path_factory.mktemp("qsk")
    rows = [
        (i, _BASE + _dt.timedelta(seconds=i), i, "t", float(v), None)
        for i, v in enumerate(vals)
    ]
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.mode("overwrite").parquet(f"{d}/events.parquet")
    out = events_quantile_sketch(spark, str(d)).collect()
    assert out
    lo, hi = min(vals), max(vals)
    width = (hi - lo) / 128.0
    for r in out:
        # the hashed invariant: the picked bin contains the exact value
        assert r.within_one_bin
        # and the reconstructed upper edge sits within one width of the
        # exact value up to reconstruction ulps (the original strict
        # float bound was the bug this sweep found)
        tol = 1e-9 * max(1.0, abs(r.exact_value))
        assert r.exact_value - tol <= r.sketch_value <= r.exact_value + width + tol


@given(
    edges=st.sets(
        st.tuples(st.integers(0, 9), st.integers(0, 9)).filter(
            lambda e: e[0] < e[1]
        ),
        min_size=0,
        max_size=20,
    )
)
@_prop_settings
def test_graph_stats_triangles_match_bruteforce(spark, edges):
    import itertools

    from airflow_iceberg_pipeline_stock_tracker_spark.operators import dedup

    if not edges:
        return
    pairs = spark.createDataFrame(sorted(edges), ["doc_a", "doc_b"])
    r = dedup.graph_stats(pairs).collect()[0]
    es = set(edges)
    nodes = {v for e in es for v in e}
    tris = sum(
        1
        for a, b, c in itertools.combinations(sorted(nodes), 3)
        if (a, b) in es and (b, c) in es and (a, c) in es
    )
    deg: dict[int, int] = {}
    for a, b in es:
        deg[a] = deg.get(a, 0) + 1
        deg[b] = deg.get(b, 0) + 1
    wedges = sum(d * (d - 1) // 2 for d in deg.values())
    assert (r.n_nodes, r.n_edges, r.n_triangles, r.n_wedges) == (
        len(nodes),
        len(es),
        tris,
        wedges,
    )


_vec = st.lists(
    st.floats(min_value=-1.0, max_value=1.0, allow_nan=False),
    min_size=4,
    max_size=4,
).filter(lambda v: sum(x * x for x in v) > 1e-6)

_vecsets = st.lists(_vec, min_size=4, max_size=9)


@given(vecs=_vecsets)
@_prop_settings
def test_mmr_matches_python_reference(spark, vecs):
    """Random small embedding sets: the distributed MMR (cosine mining +
    applyInPandas greedy) must equal a from-scratch Python MMR. The
    reference's arithmetic mirrors the JVM fold exactly (sequential
    left-fold dot products, correctly-rounded sqrt), so the comparison
    is bit-exact — no tolerance."""
    from pyspark.sql import functions as F

    from airflow_iceberg_pipeline_stock_tracker_spark.operators import similarity

    n_queries, n_cands, k = 2, 4, 3
    emb = spark.createDataFrame(
        [(i, v, 0) for i, v in enumerate(vecs)], ["vec_id", "embedding", "label"]
    ).select(
        "vec_id", F.col("embedding").cast("array<float>").alias("embedding"), "label"
    )
    got = [
        (r.query_id, r.mmr_rank, r.vec_id)
        for r in similarity.mmr_rerank(
            emb, n_queries=n_queries, n_cands=n_cands, k=k
        ).collect()
    ]

    # reference — float32-cast inputs, sequential-fold dots, greedy
    import math

    f32 = [[float(__import__("numpy").float32(x)) for x in v] for v in vecs]

    def dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + x * y
        return acc

    norms = [math.sqrt(dot(v, v)) for v in f32]

    def cos(i, j):
        return dot(f32[i], f32[j]) / (norms[i] * norms[j])

    expect = []
    for q in range(min(n_queries, len(f32))):
        scored = sorted(
            ((cos(q, c), c) for c in range(len(f32)) if c != q),
            key=lambda t: (-t[0], t[1]),
        )[:n_cands]
        rel = {c: s for s, c in scored}
        chosen: list[int] = []
        for rank in range(1, min(k, len(rel)) + 1):
            best_id, best_score = None, None
            for c in sorted(rel):
                if c in chosen:
                    continue
                penal = max((cos(c, s) for s in chosen), default=0.0)
                score = 0.5 * rel[c] - 0.5 * penal
                if best_score is None or score > best_score:
                    best_id, best_score = c, score
            chosen.append(best_id)
            expect.append((q, rank, best_id))
    assert sorted(got) == sorted(expect)


_ewma_events = st.lists(
    st.tuples(
        st.integers(0, 2),          # user
        st.integers(0, 300),        # seconds offset (collisions likely)
        st.floats(min_value=-1e3, max_value=1e3, allow_nan=False),
    ),
    min_size=1,
    max_size=30,
)


@given(rows=_ewma_events)
@_prop_settings
def test_ewma_matches_python_fold(spark, rows, tmp_path_factory):
    """Random per-user series with timestamp collisions: the JVM array
    fold must equal the sequential Python recursion bit-for-bit (halving
    is exact; order pinned by (ts, event_id))."""
    import datetime as _dt

    from airflow_iceberg_pipeline_stock_tracker_spark.plans.timeseries import events_ewma

    d = tmp_path_factory.mktemp("ewma")
    data = [
        (i, _BASE + _dt.timedelta(seconds=sec), u, "t", float(v), None)
        for i, (u, sec, v) in enumerate(rows)
    ]
    spark.createDataFrame(
        data,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.mode("overwrite").parquet(f"{d}/events.parquet")
    got = {r.user_id: (r.n_events, r.ewma_value)
           for r in events_ewma(spark, str(d)).collect()}

    expect: dict[int, tuple[int, float]] = {}
    per_user: dict[int, list] = {}
    for i, (u, sec, v) in enumerate(rows):
        per_user.setdefault(u, []).append((sec, i, float(v)))
    for u, evs in per_user.items():
        acc = None
        for _sec, _i, v in sorted(evs):
            acc = v if acc is None else (v + acc) / 2.0
        expect[u] = (len(evs), acc)
    assert got == expect


@given(vecs=_vecsets)
@_prop_settings
def test_hard_negatives_match_bruteforce(spark, vecs):
    from pyspark.sql import functions as F

    from airflow_iceberg_pipeline_stock_tracker_spark.operators import similarity

    import math

    import numpy as np

    labels = [i % 2 for i in range(len(vecs))]
    n_queries, k = 2, 3
    emb = spark.createDataFrame(
        [(i, v, labels[i]) for i, v in enumerate(vecs)],
        ["vec_id", "embedding", "label"],
    ).select(
        "vec_id", F.col("embedding").cast("array<float>").alias("embedding"), "label"
    )
    got = [
        (r.anchor_id, r.rank, r.negative_id, r.negative_label)
        for r in similarity.hard_negatives(emb, n_queries=n_queries, k=k).collect()
    ]

    f32 = [[float(np.float32(x)) for x in v] for v in vecs]

    def dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + x * y
        return acc

    norms = [math.sqrt(dot(v, v)) for v in f32]
    expect = []
    for q in range(min(n_queries, len(f32))):
        negs = sorted(
            (
                (dot(f32[q], f32[c]) / (norms[q] * norms[c]), c)
                for c in range(len(f32))
                if c != q and labels[c] != labels[q]
            ),
            key=lambda t: (-t[0], t[1]),
        )[:k]
        for rank, (_s, c) in enumerate(negs, 1):
            expect.append((q, rank, c, labels[c]))
    assert sorted(got) == sorted(expect)


_snap_ops = st.lists(
    st.one_of(
        st.tuples(st.just("append"), st.lists(st.integers(0, 99), min_size=1, max_size=3)),
        st.tuples(st.just("overwrite"), st.lists(st.integers(0, 99), min_size=1, max_size=3)),
        st.tuples(st.just("vacuum"), st.integers(1, 3)),
    ),
    min_size=1,
    max_size=6,
)


@given(ops=_snap_ops)
@_prop_settings
def test_snapshot_layer_matches_model(spark, ops, tmp_path_factory):
    """Model-based sweep of the snapshot table: a random interleaving of
    append / overwrite / vacuum must match a pure-Python model of
    (history, per-version contents) — including time travel into every
    retained version after every step."""
    from airflow_iceberg_pipeline_stock_tracker_spark.sources import snapshots

    tdir = str(tmp_path_factory.mktemp("snapmodel") / "tbl")

    def df_of(vals):
        return spark.createDataFrame([(v,) for v in vals], ["x"])

    # model: list of (snap_id, multiset-of-values)
    model: list[tuple[int, list[int]]] = []
    current_vals: list[int] = []
    next_id = 1
    for op, arg in ops:
        if op == "append":
            current_vals = current_vals + list(arg)
            snapshots.commit(df_of(arg), tdir, mode="append")
            model.append((next_id, list(current_vals)))
            next_id += 1
        elif op == "overwrite":
            current_vals = list(arg)
            snapshots.commit(df_of(arg), tdir, mode="overwrite")
            model.append((next_id, list(current_vals)))
            next_id += 1
        else:  # vacuum keep_last=arg
            if model:
                snapshots.vacuum(tdir, keep_last=arg)
                model = model[-arg:]
        if not model:
            continue
        assert snapshots.history(tdir) == [sid for sid, _ in model]
        # head read + time travel into every retained version
        for sid, vals in model:
            got = sorted(
                r.x for r in snapshots.read(spark, tdir, version=sid).collect()
            )
            assert got == sorted(vals), (op, sid)


# embedding vectors with an adversarial density of all-zero rows: the
# strategy draws each vector either zero or small-int components, so
# most examples contain at least one zero-norm embedding
_vecs_with_zeros = st.lists(
    st.one_of(
        st.just([0.0, 0.0, 0.0]),
        st.lists(
            st.integers(-3, 3).map(float), min_size=3, max_size=3
        ),
    ),
    min_size=2,
    max_size=12,
)


@given(vecs=_vecs_with_zeros)
@example(vecs=[[0.0, 0.0, 0.0], [1.0, 0.0, 0.0], [0.0, 2.0, 0.0]])
@_prop_settings
def test_cosine_zero_vector_guard(spark, vecs):
    """The r8 zero-vector contract (operators/similarity.py with_norm):
    zero-norm embeddings are DROPPED before any cosine — with_norm
    keeps exactly the nonzero-norm rows, and cosine_topk_df never
    raises DIVIDE_BY_ZERO nor emits a zero vector as query or
    neighbor, whatever mix of zero and nonzero vectors it sees."""
    from airflow_iceberg_pipeline_stock_tracker_spark.operators.similarity import (
        cosine_topk_df,
        with_norm,
    )

    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)],
        "vec_id bigint, embedding array<double>",
    )
    zero_ids = {i for i, v in enumerate(vecs) if all(x == 0.0 for x in v)}

    kept = {r.vec_id for r in with_norm(df).collect()}
    assert kept == set(range(len(vecs))) - zero_ids

    topk = cosine_topk_df(df, n_queries=len(vecs), k=3).collect()
    seen = {r.query_id for r in topk} | {r.neighbor_id for r in topk}
    assert not (seen & zero_ids)


# (close_cents, volume) series for one ticker; zero closes (delisted /
# bad tick) and zero volumes (halted) are drawn often enough that most
# examples hit a zero denominator somewhere
_price_rows = st.lists(
    st.tuples(st.integers(0, 500), st.integers(0, 4)),
    min_size=1,
    max_size=20,
)


@given(rows=_price_rows)
@example(rows=[(0, 0)])                      # day one: peak 0, vol 0
@example(rows=[(100, 0), (200, 0)])          # halted: every window vol 0
@example(rows=[(0, 2), (150, 1), (0, 3)])    # zero closes mid-series
@_prop_settings
def test_finance_zero_denominator_nulls(spark, rows):
    """The r8 finance NULL contract (operators/finance.py): a zero
    denominator yields NULL, never an ANSI DIVIDE_BY_ZERO — vwap_c is
    NULL exactly on all-zero-volume windows, drawdown_pct exactly on
    zero running peaks, daily_return exactly on first rows / zero
    previous closes; everything else matches an exact Python fold."""
    from airflow_iceberg_pipeline_stock_tracker_spark.operators.finance import (
        ROLLING,
        drawdown,
        vwap_weekly,
    )

    base = dt.date(2024, 1, 1)
    prices = spark.createDataFrame(
        [
            ("T", base + dt.timedelta(days=i), c / 100.0, float(v))
            for i, (c, v) in enumerate(rows)
        ],
        "ticker string, date date, close double, volume double",
    )

    got_vwap = vwap_weekly(prices).orderBy("date").collect()
    got_dd = drawdown(prices).orderBy("date").collect()
    closes = [c for c, _ in rows]
    vols = [v for _, v in rows]
    for i, r in enumerate(got_vwap):
        lo = max(0, i - (ROLLING - 1))
        pv = sum(closes[j] * vols[j] for j in range(lo, i + 1))
        v = sum(vols[lo : i + 1])
        if v == 0:
            assert r.vwap_c is None, f"row {i}: vol-0 window must be NULL"
        else:
            assert r.vwap_c == pytest.approx(pv / v), f"row {i}"
    for i, r in enumerate(got_dd):
        peak = max(closes[: i + 1])
        if peak == 0:
            assert r.drawdown_pct is None, f"row {i}: zero peak must be NULL"
        else:
            assert r.drawdown_pct == pytest.approx((closes[i] - peak) / peak)
        if i == 0 or closes[i - 1] == 0:
            assert r.daily_return is None, f"row {i}: no/zero prev close"
        else:
            assert r.daily_return == pytest.approx(
                (closes[i] - closes[i - 1]) / closes[i - 1]
            )


# random small token-documents: short docs (the <3-token one-gram edge),
# shared vocabulary (real overlaps), and duplicated prefixes (real
# containment structure)
_tok_docs = st.lists(
    st.lists(st.sampled_from(["a", "b", "c", "d", "e"]), min_size=1, max_size=12),
    min_size=2,
    max_size=8,
)


def _shingle_set(toks: list[str]) -> set[str]:
    """Python twin of dedup._shingle_hashes' gram rule: word 3-grams,
    <3-token docs yield one gram of all tokens."""
    if len(toks) < 3:
        return {" ".join(toks)}
    return {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}


@given(docs=_tok_docs)
@example(docs=[["a", "b", "c", "d", "e"], ["a", "b", "c"]])  # strict subset
@example(docs=[["a"], ["a"], ["b"]])  # one-gram edge + exact dup
@_prop_settings
def test_containment_matches_bruteforce(spark, docs):
    from airflow_iceberg_pipeline_stock_tracker_spark.operators.dedup import (
        containment_pairs,
    )

    frame = spark.createDataFrame(
        [(i, " ".join(toks)) for i, toks in enumerate(docs)],
        ["doc_id", "text"],
    )
    # max_df high enough that the posting cap never bites: the property
    # is the exact containment math, the cap has its own tests
    got = {
        (r.doc_a, r.doc_b): (
            r.inter,
            r.size_a,
            r.size_b,
            r.containment_a_in_b,
            r.containment_b_in_a,
            r.relation,
        )
        for r in containment_pairs(frame, threshold=0.8, max_df=10**6).collect()
    }
    sets = [_shingle_set(t) for t in docs]
    want = {}
    for a in range(len(docs)):
        for b in range(a + 1, len(docs)):
            inter = len(sets[a] & sets[b])
            if inter == 0:
                continue
            c_ab = inter / len(sets[a])
            c_ba = inter / len(sets[b])
            if max(c_ab, c_ba) < 0.8:
                continue
            rel = (
                "mutual"
                if c_ab >= 0.8 and c_ba >= 0.8
                else ("a_in_b" if c_ab >= 0.8 else "b_in_a")
            )
            want[(a, b)] = (inter, len(sets[a]), len(sets[b]), c_ab, c_ba, rel)
    assert got == want


_user_seqs = st.lists(
    st.lists(
        st.sampled_from(["view", "click", "purchase", "signup", "error"]),
        min_size=1,
        max_size=15,
    ),
    min_size=1,
    max_size=4,
)


@given(seqs=_user_seqs)
@example(seqs=[["view", "click", "purchase", "view", "click", "purchase"]])
@example(seqs=[["error", "error", "error", "view", "error", "error"]])
@_prop_settings
def test_pattern_match_matches_python_regex(spark, seqs, tmp_path_factory):
    import re as _re

    base = dt.datetime(2024, 1, 1)
    rows = []
    eid = 0
    for uid, types in enumerate(seqs):
        for t in types:
            rows.append((eid, base + dt.timedelta(seconds=eid), uid, t, 0.0, "{}"))
            eid += 1
    tdir = tmp_path_factory.mktemp("patt")
    ev = spark.createDataFrame(
        rows,
        "event_id bigint, ts timestamp, user_id bigint, event_type string, "
        "value double, props string",
    )
    ev.write.mode("overwrite").parquet(str(tdir / "events.parquet"))
    from airflow_iceberg_pipeline_stock_tracker_spark.plans.timeseries import (
        events_pattern_match,
    )

    got = {
        r.user_id: r for r in events_pattern_match(spark, str(tdir)).collect()
    }
    for uid, types in enumerate(seqs):
        s = "".join(t[0] for t in types)
        assert got[uid].n_events == len(types)
        assert got[uid].n_view_click_purchase == len(_re.findall("vcp", s))
        assert got[uid].n_error_bursts == len(_re.findall("ee+", s))
        assert got[uid].converted == ("vcp" in s)


_rule_texts = st.lists(
    st.text(
        alphabet="ab z.#3 the of and",  # letters, digits, '#', '.', spaces
        min_size=0,
        max_size=60,
    ),
    min_size=1,
    max_size=6,
)


@given(texts=_rule_texts)
@example(texts=["", "   ", "### ... ...", "the of and that have with a b c"])
@_prop_settings
def test_gopher_rules_match_python_reference(spark, texts):
    import math
    import re as _re

    from airflow_iceberg_pipeline_stock_tracker_spark.operators.text import (
        GOPHER_STOPWORDS,
        gopher_rules,
    )

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )
    got = {r.doc_id: r for r in gopher_rules(docs).collect()}
    for i, t in enumerate(texts):
        toks = _re.split(r"\s+", t.strip().lower())
        n = len(toks)
        n_eff = max(n, 1)
        mean_wl = sum(len(x) for x in toks) / n_eff
        n_hash = t.count("#")
        n_ell = (len(t) - len(t.replace("...", ""))) / 3
        sym = (n_hash + n_ell) / n_eff
        alpha = sum(1 for x in toks if _re.search("[a-z]", x)) / n_eff
        stops = sum(1 for s in GOPHER_STOPWORDS if s in toks)
        r = got[i]
        assert r.n_tokens == n
        assert math.isclose(r.mean_word_len, mean_wl)
        assert math.isclose(r.symbol_ratio, sym)
        assert math.isclose(r.alpha_word_ratio, alpha)
        assert r.n_stop_hits == stops
        assert r.rule_symbols == (r.symbol_ratio <= 0.1)
        assert r.rule_stops == (stops >= 2)
        assert r.pass_gopher == all(
            [r.rule_n_tokens, r.rule_word_len, r.rule_symbols,
             r.rule_alpha, r.rule_stops]
        )


_kw_docs = st.lists(
    st.lists(st.sampled_from(["x", "y", "z", "w", "v"]), min_size=1, max_size=10),
    min_size=1,
    max_size=6,
)


@given(docs=_kw_docs)
@example(docs=[["x", "x", "y"], ["x"], ["y", "z"]])
@_prop_settings
def test_tfidf_keywords_match_python_reference(spark, docs):
    import math

    from airflow_iceberg_pipeline_stock_tracker_spark.operators.text import (
        tfidf_keywords,
    )

    frame = spark.createDataFrame(
        [(i, " ".join(t)) for i, t in enumerate(docs)], ["doc_id", "text"]
    )
    got = [
        (r.doc_id, r.rank, r.term, r.score_millibits)
        for r in tfidf_keywords(frame, k=3).collect()
    ]
    n_docs = len(docs)
    df: dict[str, int] = {}
    for t in docs:
        for term in set(t):
            df[term] = df.get(term, 0) + 1
    want = []
    for i, t in enumerate(docs):
        tf: dict[str, int] = {}
        for term in t:
            tf[term] = tf.get(term, 0) + 1
        scored = sorted(
            (
                (
                    int(math.floor(tf[term] * math.log(1.0 + n_docs / df[term])
                                   * 1000 + 0.5)),
                    term,
                )
                for term in tf
            ),
            key=lambda p: (-p[0], p[1]),
        )
        for rank, (mb, term) in enumerate(scored[:3], start=1):
            want.append((i, rank, term, mb))
    assert sorted(got) == sorted(want)


# branch-model ops: weighted toward branch activity; branch names from a
# 2-name pool so create-on-existing and publish-unknown paths get hit
_branch_ops = st.lists(
    st.one_of(
        st.tuples(st.just("append"), st.lists(st.integers(0, 99), min_size=1, max_size=2)),
        st.tuples(st.just("branch_create"), st.sampled_from(["b1", "b2"])),
        st.tuples(
            st.just("branch_append"),
            st.tuples(
                st.sampled_from(["b1", "b2"]),
                st.lists(st.integers(0, 99), min_size=1, max_size=2),
            ),
        ),
        st.tuples(st.just("publish"), st.sampled_from(["b1", "b2"])),
        st.tuples(st.just("branch_drop"), st.sampled_from(["b1", "b2"])),
        st.tuples(st.just("vacuum"), st.integers(1, 2)),
    ),
    min_size=2,
    max_size=8,
)


@given(ops=_branch_ops)
@example(ops=[("append", [1]), ("branch_create", "b1"),
              ("branch_append", ("b1", [2])), ("append", [3]),
              ("publish", "b1")])  # diverged branch: publish must refuse
@example(ops=[("append", [1]), ("branch_create", "b1"),
              ("branch_append", ("b1", [2])), ("vacuum", 1),
              ("publish", "b1")])  # branch head must survive vacuum
@_prop_settings
def test_snapshot_branches_match_model(spark, ops, tmp_path_factory):
    """Model-based sweep of the BRANCH layer: a random interleaving of
    main appends, branch create/append/drop, fast_forward, and vacuum
    must match a pure-Python model tracking per-ref (token-set, values).
    fast_forward must succeed exactly when main's token set is a subset
    of the branch head's (the no-data-loss guard), and branch heads must
    read back intact after any vacuum."""
    from airflow_iceberg_pipeline_stock_tracker_spark.sources import snapshots

    tdir = str(tmp_path_factory.mktemp("branchmodel") / "tbl")

    def df_of(vals):
        return spark.createDataFrame([(v,) for v in vals], ["x"])

    tok = 0
    # per-ref model state: (frozenset tokens, list values); "" = main
    model: dict[str, tuple[frozenset, list]] = {"": (frozenset(), [])}

    for op, arg in ops:
        if op == "append":
            toks, vals = model[""]
            tok += 1
            model[""] = (toks | {tok}, vals + list(arg))
            snapshots.commit(df_of(arg), tdir, mode="append")
        elif op == "branch_create":
            if arg in model:
                with pytest.raises(ValueError, match="already exists"):
                    snapshots.create_branch(tdir, arg)
            else:
                snapshots.create_branch(tdir, arg)
                model[arg] = model[""]
        elif op == "branch_append":
            name, vals_new = arg
            if name not in model:
                with pytest.raises(ValueError, match="does not exist"):
                    snapshots.commit(
                        df_of(vals_new), tdir, mode="append", branch=name
                    )
            else:
                toks, vals = model[name]
                tok += 1
                model[name] = (toks | {tok}, vals + list(vals_new))
                snapshots.commit(df_of(vals_new), tdir, mode="append", branch=name)
        elif op == "publish":
            if arg not in model:
                with pytest.raises(ValueError, match="no branch"):
                    snapshots.fast_forward(tdir, arg)
            elif not model[arg][0]:
                with pytest.raises(ValueError, match="no commits"):
                    snapshots.fast_forward(tdir, arg)
            elif model[""][0] <= model[arg][0]:
                snapshots.fast_forward(tdir, arg)
                model[""] = model[arg]
            else:
                with pytest.raises(ValueError, match="does not extend main"):
                    snapshots.fast_forward(tdir, arg)
        elif op == "branch_drop":
            if arg not in model:
                with pytest.raises(ValueError, match="no branch"):
                    snapshots.drop_branch(tdir, arg)
            else:
                snapshots.drop_branch(tdir, arg)
                del model[arg]
        else:  # vacuum
            if model[""][0]:
                snapshots.vacuum(tdir, keep_last=arg)

        # after every step: main and every live branch read back exactly
        for name, (toks, vals) in model.items():
            if not toks:
                continue  # ref points at the empty snapshot 0
            got = sorted(
                r.x
                for r in snapshots.read(
                    spark, tdir, ref=name or None
                ).collect()
            )
            assert got == sorted(vals), (op, name)


# ---------------------------------------------------------------------------
# ATR / stochastic oscillator vs pure-Python integer windows
# ---------------------------------------------------------------------------
# bars as integer cents (hi >= lo, lo <= close <= hi by construction);
# small per-ticker series force the short-window edges (first row's TR,
# missing %D lags) and flat windows (hh == ll -> NULL %K)
_bars = st.lists(
    st.tuples(
        st.integers(0, 1),            # ticker
        st.integers(0, 3),            # lo cents (tiny range -> flat windows)
        st.integers(0, 3),            # hi - lo
        st.integers(0, 100),          # close position numerator (percent)
    ),
    min_size=1,
    max_size=24,
)


@given(bars=_bars)
@_prop_settings
def test_atr_stochastic_reference(spark, bars):
    """Random OHLC bars vs sequential Python: TR/ATR and %K/%D must
    match exactly — including the first-row TR convention, NULL %K on
    flat windows, and NULL %D while a lag is missing or any K in the
    triple is NULL."""
    from airflow_iceberg_pipeline_stock_tracker_spark.operators.finance import (
        atr,
        stochastic,
    )

    rows = []
    per_ticker: dict[int, list] = {}
    for i, (tkr, lo, span, cpos) in enumerate(bars):
        hi = lo + span
        close = lo + span * cpos // 100
        day = len(per_ticker.setdefault(tkr, []))
        per_ticker[tkr].append((hi, lo, close))
        rows.append(
            (
                str(tkr),
                dt.date(2024, 1, 1) + dt.timedelta(days=day),
                float(lo) / 100,
                float(hi) / 100,
                float(lo) / 100,
                float(close) / 100,
                1,
            )
        )
    prices = spark.createDataFrame(
        rows,
        "ticker string, date date, open double, high double, low double, "
        "close double, volume long",
    )

    got_atr = {
        (r.ticker, r.date): (r.tr_c, r.n_days, r.tr_sum_c, r.atr_c)
        for r in atr(prices).collect()
    }
    got_st = {
        (r.ticker, r.date): (r.hh_c, r.ll_c, r.pct_k, r.pct_d)
        for r in stochastic(prices).collect()
    }

    for tkr, series in per_ticker.items():
        trs: list[int] = []
        ks: list = []
        for i, (hi, lo, close) in enumerate(series):
            date = dt.date(2024, 1, 1) + dt.timedelta(days=i)
            if i == 0:
                tr = hi - lo
            else:
                pc = series[i - 1][2]
                tr = max(hi - lo, abs(hi - pc), abs(lo - pc))
            trs.append(tr)
            wtr = trs[max(0, i - 13): i + 1]
            assert got_atr[(str(tkr), date)] == (
                tr,
                len(wtr),
                sum(wtr),
                sum(wtr) / len(wtr),
            )
            win = series[max(0, i - 13): i + 1]
            hh = max(h for h, _l, _c in win)
            ll = min(l for _h, l, _c in win)
            k = None if hh == ll else (100.0 * (close - ll)) / (hh - ll)
            ks.append(k)
            if i < 2 or any(v is None for v in ks[i - 2: i + 1]):
                d = None
            else:
                d = ((ks[i] + ks[i - 1]) + ks[i - 2]) / 3.0
            assert got_st[(str(tkr), date)] == (hh, ll, k, d)


# ---------------------------------------------------------------------------
# degree-oriented triangle census vs brute force
# ---------------------------------------------------------------------------
@given(
    edges=st.sets(
        st.tuples(st.integers(0, 9), st.integers(0, 9)).filter(
            lambda e: e[0] < e[1]
        ),
        min_size=1,
        max_size=24,
    )
)
@_prop_settings
def test_triangle_census_reference(spark, edges):
    """The oriented two-join census must count every node's triangles
    exactly (per-node participation, not just the global total that
    test_graph_stats_triangles_match_bruteforce pins), with clustering
    2t/(d(d-1)) and NULL for degree-1 nodes."""
    import itertools

    from airflow_iceberg_pipeline_stock_tracker_spark.operators.graphlets import (
        triangle_census,
    )

    df = spark.createDataFrame(sorted(edges), ["u", "v"])
    got = {
        r.part: (r.degree, r.tri_count, r.clustering)
        for r in triangle_census(df, k=100).collect()
    }

    es = set(edges)
    nodes = sorted({v for e in es for v in e})
    deg = {n: 0 for n in nodes}
    for a, b in es:
        deg[a] += 1
        deg[b] += 1
    tri = {n: 0 for n in nodes}
    for a, b, c in itertools.combinations(nodes, 3):
        if (a, b) in es and (b, c) in es and (a, c) in es:
            tri[a] += 1
            tri[b] += 1
            tri[c] += 1
    expect = {
        n: (
            deg[n],
            tri[n],
            None
            if deg[n] < 2
            else 2 * tri[n] / (deg[n] * (deg[n] - 1)),
        )
        for n in nodes
    }
    assert got == expect


# ---------------------------------------------------------------------------
# time-decayed leaderboard vs Python integer weights
# ---------------------------------------------------------------------------
_decay_events = st.lists(
    st.tuples(
        st.integers(0, 4),    # user
        st.integers(0, 40),   # days back-ish (crosses the 30-day horizon)
        st.integers(0, 1),    # type
    ),
    min_size=1,
    max_size=40,
)


@given(rows=_decay_events)
@_prop_settings
def test_decay_topk_reference(spark, rows, tmp_path_factory):
    """Random event days spanning past the 30-day horizon: the integer
    2^(29-delta) weights, the horizon truncation to zero, and the
    (raw desc, user) ranking must match the Python fold exactly."""
    from airflow_iceberg_pipeline_stock_tracker_spark.plans.timeseries import (
        DECAY_HORIZON,
        events_decay_topk,
    )

    d = tmp_path_factory.mktemp("decay")
    data = [
        (i, _BASE + dt.timedelta(days=day, hours=u), u, f"t{t}", 1.0, None)
        for i, (u, day, t) in enumerate(rows)
    ]
    spark.createDataFrame(
        data,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.mode("overwrite").parquet(f"{d}/events.parquet")
    got = [
        (r.event_type, r.rank, r.user_id, r.n_events, r.n_recent,
         r.decayed_raw, r.score)
        for r in events_decay_topk(spark, str(d)).collect()
    ]

    ref_day = max(day for _u, day, _t in rows)
    agg: dict[tuple, list] = {}
    for u, day, t in rows:
        delta = ref_day - day
        key = (f"t{t}", u)
        cell = agg.setdefault(key, [0, 0, 0])
        cell[0] += 1
        if delta < DECAY_HORIZON:
            cell[1] += 1
            cell[2] += 1 << (DECAY_HORIZON - 1 - delta)
    expect = []
    for etype in sorted({k[0] for k in agg}):
        users = sorted(
            ((k[1], v) for k, v in agg.items() if k[0] == etype),
            key=lambda kv: (-kv[1][2], kv[0]),
        )
        for rank, (u, (n, nr, raw)) in enumerate(users[:10], start=1):
            expect.append(
                (etype, rank, u, n, nr, raw, raw / float(2 ** 29))
            )
    assert got == expect


# ---------------------------------------------------------------------------
# ABC / Pareto classification vs Python integer boundaries
# ---------------------------------------------------------------------------
_abc_lines = st.lists(
    st.tuples(st.integers(0, 6), st.integers(1, 10_000)),  # part, cents
    min_size=1,
    max_size=30,
)


@given(lines=_abc_lines)
@_prop_settings
def test_abc_analysis_reference(spark, lines, tmp_path_factory):
    """Random revenue distributions: ranks, exact cumulative cents, and
    the integer cross-multiplied 80/95 class boundaries must match the
    Python reference (including the all-revenue-in-one-part corner where
    the first row already exceeds 80%)."""
    from airflow_iceberg_pipeline_stock_tracker_spark.plans.relational_ext import (
        orders_abc_analysis,
    )

    d = tmp_path_factory.mktemp("abc")
    data = [
        (i, int(part), 1, 1, 1.0, float(cts) / 100, 0.0, 0.0, "N", "O",
         _BASE)
        for i, (part, cts) in enumerate(lines)
    ]
    spark.createDataFrame(
        data,
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int, "
        "l_quantity double, l_extendedprice double, l_discount double, "
        "l_tax double, l_returnflag string, l_linestatus string, "
        "l_shipdate timestamp",
    ).write.mode("overwrite").parquet(f"{d}/lineitem.parquet")
    got = [
        (r.part, r.revenue_c, r.rank, r.cum_revenue_c, r.abc_class)
        for r in orders_abc_analysis(spark, str(d)).collect()
    ]

    rev: dict[int, int] = {}
    for part, cts in lines:
        rev[part] = rev.get(part, 0) + cts
    total = sum(rev.values())
    ordered = sorted(rev.items(), key=lambda kv: (-kv[1], kv[0]))
    expect = []
    cum = 0
    for rank, (part, r_c) in enumerate(ordered, start=1):
        cum += r_c
        if cum * 5 <= total * 4:
            cls = "A"
        elif cum * 20 <= total * 19:
            cls = "B"
        else:
            cls = "C"
        expect.append((part, r_c, rank, cum, cls))
    assert got == expect


@given(rows=_decay_events)
@_prop_settings
def test_decay_incremental_matches_batch(spark, rows, tmp_path_factory):
    """The day-chunked state fold (14-day ring with expiry firing
    mid-fold, separate all-time counter, left-join render so fully
    expired users still rank at raw 0) must equal the batch Python
    reference at the same horizon."""
    from airflow_iceberg_pipeline_stock_tracker_spark.plans.timeseries import (
        INCR_HORIZON,
        events_decay_incremental,
    )

    d = tmp_path_factory.mktemp("decay_incr")
    data = [
        (i, _BASE + dt.timedelta(days=day, hours=u), u, f"t{t}", 1.0, None)
        for i, (u, day, t) in enumerate(rows)
    ]
    spark.createDataFrame(
        data,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.mode("overwrite").parquet(f"{d}/events.parquet")
    got = [
        (r.event_type, r.rank, r.user_id, r.n_events, r.n_recent,
         r.decayed_raw, r.score)
        for r in events_decay_incremental(spark, str(d)).collect()
    ]

    h = INCR_HORIZON
    ref_day = max(day for _u, day, _t in rows)
    agg: dict[tuple, list] = {}
    for u, day, t in rows:
        delta = ref_day - day
        cell = agg.setdefault((f"t{t}", u), [0, 0, 0])
        cell[0] += 1
        if delta < h:
            cell[1] += 1
            cell[2] += 1 << (h - 1 - delta)
    expect = []
    for etype in sorted({k[0] for k in agg}):
        users = sorted(
            ((k[1], v) for k, v in agg.items() if k[0] == etype),
            key=lambda kv: (-kv[1][2], kv[0]),
        )
        for rank, (u, (n, nr, raw)) in enumerate(users[:10], start=1):
            expect.append(
                (etype, rank, u, n, nr, raw, raw / float(2 ** (h - 1)))
            )
    assert got == expect


@given(rows=_ewma_events)
@_prop_settings
def test_holt_matches_python_fold(spark, rows, tmp_path_factory):
    """Random per-user series with timestamp collisions: the struct-
    accumulator Holt fold (level AND trend) must equal the sequential
    Python recursion bit-for-bit — the two-state analogue of the ewma
    pin, and the regression guard for the DuckDB in-place struct-fold
    trap documented on events_holt_forecast."""
    import datetime as _dt

    from airflow_iceberg_pipeline_stock_tracker_spark.plans.timeseries import (
        events_holt_forecast,
    )

    d = tmp_path_factory.mktemp("holt")
    data = [
        (i, _BASE + _dt.timedelta(seconds=sec), u, "t", float(v), None)
        for i, (u, sec, v) in enumerate(rows)
    ]
    spark.createDataFrame(
        data,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.mode("overwrite").parquet(f"{d}/events.parquet")
    got = {
        r.user_id: (r.n_events, r.level, r.trend, r.forecast_1, r.forecast_3)
        for r in events_holt_forecast(spark, str(d)).collect()
    }

    per_user: dict[int, list] = {}
    for i, (u, sec, v) in enumerate(rows):
        per_user.setdefault(u, []).append((sec, i, float(v)))
    expect: dict[int, tuple] = {}
    for u, evs in per_user.items():
        l = t = None
        for _sec, _i, v in sorted(evs):
            if l is None:
                l, t = v, 0.0
            else:
                nl = (v + (l + t)) / 2.0
                t = ((nl - l) + t) / 2.0
                l = nl
        expect[u] = (len(evs), l, t, l + t, l + t * 3.0)
    assert got == expect


# ---------------------------------------------------------------------------
# last-touch attribution vs Python reference
# ---------------------------------------------------------------------------
_attr_events = st.lists(
    st.tuples(
        st.integers(0, 2),        # user
        st.integers(0, 7200),     # seconds (TTL boundary at 3600 reachable)
        st.integers(0, 2),        # 0=view 1=click 2=purchase
        st.integers(0, 500),      # value cents
    ),
    min_size=1,
    max_size=40,
)


@given(rows=_attr_events)
@_prop_settings
def test_attribution_reference(spark, rows, tmp_path_factory):
    """Random interleaved touches and purchases with ts collisions: the
    as-of + TTL channel rollup must match the Python reference — the
    inclusive <= at both the as-of instant and the exact TTL boundary,
    max_by(event_id) tie-breaks at one instant, and 'none' credit with
    NULL latency when the only touch is stale."""
    from airflow_iceberg_pipeline_stock_tracker_spark.plans.queries import (
        ATTRIBUTION_TTL_MIN,
        events_attribution,
    )

    types = ["view", "click", "purchase"]
    d = tmp_path_factory.mktemp("attr")
    data = [
        (i, _BASE + dt.timedelta(seconds=sec), u, types[t],
         float(c) / 100, None)
        for i, (u, sec, t, c) in enumerate(rows)
    ]
    spark.createDataFrame(
        data,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.mode("overwrite").parquet(f"{d}/events.parquet")
    got = [
        (r.channel, r.n_conversions, r.n_users, r.revenue,
         r.latency_sum_us, r.avg_latency_us)
        for r in events_attribution(spark, str(d)).collect()
    ]
    if not any(t == 2 for _u, _s, t, _c in rows):
        assert got == []
        return

    ttl_us = ATTRIBUTION_TTL_MIN * 60 * 1_000_000
    touches: dict[tuple, int] = {}  # (user, sec) -> winning event_id
    for i, (u, sec, t, _c) in enumerate(rows):
        if t != 2 and touches.get((u, sec), -1) < i:
            touches[(u, sec)] = i
    per_chan: dict[str, list] = {}
    for i, (u, sec, t, c) in enumerate(rows):
        if t != 2:
            continue
        cand = [(s, eid) for (tu, s), eid in touches.items()
                if tu == u and s <= sec]
        chan, lat = "none", None
        if cand:
            s, eid = max(cand)
            lat_us = (sec - s) * 1_000_000
            if lat_us <= ttl_us:
                chan, lat = types[rows[eid][2]], lat_us
        per_chan.setdefault(chan, []).append((u, c, lat))
    expect = []
    for chan in sorted(per_chan):
        cs = per_chan[chan]
        lat_sum = (
            sum(l for _u, _c, l in cs) if any(l is not None for *_x, l in cs)
            else None
        )
        expect.append(
            (
                chan,
                len(cs),
                len({u for u, _c, _l in cs}),
                sum(c for _u, c, _l in cs) / 100.0,
                lat_sum,
                None if lat_sum is None else lat_sum / len(cs),
            )
        )
    assert got == expect


# ---------------------------------------------------------------------------
# cohort LTV triangle vs Python reference
# ---------------------------------------------------------------------------
_cohort_orders = st.lists(
    st.tuples(
        st.integers(0, 4),      # customer
        st.integers(0, 14),     # month offset from 1995-07 (crosses a year)
        st.integers(1, 9999),   # totalprice cents
    ),
    min_size=1,
    max_size=30,
)


@given(lines=_cohort_orders)
@_prop_settings
def test_cohort_ltv_reference(spark, lines, tmp_path_factory):
    """Random order histories: first-order cohort assignment, integer
    month ages, exact cents, and the per-cohort cumulative sum must
    match the Python reference (including the year-boundary month
    formatting that the floor-division fix pinned)."""
    from airflow_iceberg_pipeline_stock_tracker_spark.plans.relational_ext import (
        orders_cohort_ltv,
    )

    d = tmp_path_factory.mktemp("cohort")
    data = [
        (
            i,
            int(cust),
            "O",
            float(cts) / 100,
            dt.datetime(1995 + (6 + m) // 12, (6 + m) % 12 + 1, 5),
            "1-URGENT",
        )
        for i, (cust, m, cts) in enumerate(lines)
    ]
    spark.createDataFrame(
        data,
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    ).write.mode("overwrite").parquet(f"{d}/orders.parquet")
    got = [
        (r.cohort_month, r.age_months, r.n_customers, r.n_orders,
         r.revenue, r.cum_revenue)
        for r in orders_cohort_ltv(spark, str(d)).collect()
    ]

    first: dict[int, int] = {}
    for cust, m, _c in lines:
        first[cust] = min(first.get(cust, 99), m)
    cells: dict[tuple, list] = {}
    for cust, m, cts in lines:
        key = (first[cust], m - first[cust])
        cell = cells.setdefault(key, [set(), 0, 0])
        cell[0].add(cust)
        cell[1] += 1
        cell[2] += cts
    expect = []
    for cohort in sorted({k[0] for k in cells}):
        label = f"{1995 + (6 + cohort) // 12:04d}-{(6 + cohort) % 12 + 1:02d}"
        cum = 0
        for age in sorted(k[1] for k in cells if k[0] == cohort):
            users, n, rev = cells[(cohort, age)]
            cum += rev
            expect.append(
                (label, age, len(users), n, rev / 100.0, cum / 100.0)
            )
    assert got == expect


# ---------------------------------------------------------------------------
# lift-ranked collocations vs Python reference
# ---------------------------------------------------------------------------
_colloc_docs = st.lists(
    st.lists(st.integers(0, 3), min_size=1, max_size=10),  # word ids
    min_size=1,
    max_size=12,
)


@given(word_docs=_colloc_docs)
@_prop_settings
def test_collocations_reference(spark, word_docs, tmp_path_factory):
    """Random tiny-vocabulary corpora (repetition forces pairs over the
    support floor): bigram/unigram counts, the support filter, the
    identically-associated lift expression, and the (lift desc, pair)
    ranking must match the Python reference."""
    from airflow_iceberg_pipeline_stock_tracker_spark.operators.text import (
        COLLOC_MIN_SUPPORT,
        collocations,
    )

    texts = [" ".join(f"w{t}" for t in doc) for doc in word_docs]
    d = tmp_path_factory.mktemp("colloc")
    spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in enumerate(texts)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    from airflow_iceberg_pipeline_stock_tracker_spark.sources.tables import (
        load_table,
    )

    got = [
        (r.rank, r.w1, r.w2, r.pair_n, r.n_w1, r.n_w2, r.lift)
        for r in collocations(load_table(spark, str(d), "documents")).collect()
    ]

    pair: dict[tuple, int] = {}
    uni: dict[str, int] = {}
    n_bi = n_uni = 0
    for doc in word_docs:
        ws = [f"w{t}" for t in doc]
        n_uni += len(ws)
        n_bi += max(len(ws) - 1, 0)
        for w in ws:
            uni[w] = uni.get(w, 0) + 1
        for a, b in zip(ws, ws[1:]):
            pair[(a, b)] = pair.get((a, b), 0) + 1
    scored = [
        (
            w1,
            w2,
            n,
            uni[w1],
            uni[w2],
            ((float(n) * n_uni / uni[w1]) * n_uni / uni[w2]) / n_bi,
        )
        for (w1, w2), n in pair.items()
        if n >= COLLOC_MIN_SUPPORT
    ]
    scored.sort(key=lambda x: (-x[5], x[0], x[1]))
    expect = [
        (rank, *row) for rank, row in enumerate(scored[:20], start=1)
    ]
    assert got == expect


@given(rows=_attr_events)
@_prop_settings
def test_conversion_lag_reference(spark, rows, tmp_path_factory):
    """Random view/purchase interleavings: first-view selection, the
    purchase-at-or-after filter, integer-second lag floor, and the
    exact discrete p50/p90 ranks must match the Python reference
    (including n=1 where every quantile is the single lag, and the
    empty-converters frame yielding one all-NULL row with n 0)."""
    import math

    from airflow_iceberg_pipeline_stock_tracker_spark.plans.queries import (
        events_conversion_lag,
    )

    types = ["view", "click", "purchase"]
    d = tmp_path_factory.mktemp("convlag")
    data = [
        (i, _BASE + dt.timedelta(seconds=sec), u, types[t],
         float(c) / 100, None)
        for i, (u, sec, t, c) in enumerate(rows)
    ]
    spark.createDataFrame(
        data,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.mode("overwrite").parquet(f"{d}/events.parquet")
    r = events_conversion_lag(spark, str(d)).collect()[0]
    got = (r.n_converters, r.min_lag_s, r.p50_lag_s, r.p90_lag_s, r.max_lag_s)

    first_view: dict[int, int] = {}
    for u, sec, t, _c in rows:
        if t == 0 and (u not in first_view or sec < first_view[u]):
            first_view[u] = sec
    lags = []
    for u, v_sec in first_view.items():
        ps = [sec for uu, sec, t, _c in rows if uu == u and t == 2 and sec >= v_sec]
        if ps:
            lags.append(min(ps) - v_sec)
    if not lags:
        assert got == (0, None, None, None, None)
        return
    lags.sort()
    n = len(lags)
    pick = lambda q: lags[max(math.ceil(q * n), 1) - 1]  # noqa: E731
    assert got == (n, lags[0], pick(0.5), pick(0.9), lags[-1])


# two aligned close-cents series (tickers A and B over the same dates);
# constant runs are drawn often enough that degenerate den_x/den_y = 0
# (all-tied ranks) shows up regularly
_pair_rows = st.lists(
    st.tuples(st.integers(0, 300), st.integers(0, 300)),
    min_size=1,
    max_size=16,
)


def _spearman_py(xs: list[int], ys: list[int]):
    """Python twin of finance.spearman_pairs' exact construction:
    2x-average ranks (2*min_rank + ties - 1), int64 moment sums, one
    closing num / (sqrt(den_x) * sqrt(den_y)) in IEEE doubles."""
    import math

    n = len(xs)

    def r2(vals: list[int]) -> list[int]:
        return [
            2 * (1 + sum(1 for u in vals if u < v))
            + sum(1 for u in vals if u == v)
            - 1
            for v in vals
        ]

    rx, ry = r2(xs), r2(ys)
    sx, sy = sum(rx), sum(ry)
    sxy = sum(a * b for a, b in zip(rx, ry))
    sxx = sum(a * a for a in rx)
    syy = sum(b * b for b in ry)
    num = n * sxy - sx * sy
    dx = n * sxx - sx * sx
    dy = n * syy - sy * sy
    rho = (
        num / (math.sqrt(dx) * math.sqrt(dy)) if dx > 0 and dy > 0 else None
    )
    return n, num, dx, dy, rho


@given(rows=_pair_rows)
@example(rows=[(100, 100)])                      # single day: no changes
@example(rows=[(100, 200), (100, 200)])          # constant: all-tied ranks
@example(rows=[(0, 300), (100, 200), (200, 100)])  # perfectly anti-moving
@example(rows=[(10, 10), (20, 20), (20, 20), (30, 30)])  # tie runs
@_prop_settings
def test_spearman_degenerate_nulls(spark, rows):
    """finance.spearman_pairs: constant-change series (den 0) yield NULL
    rho, never a crash; everything else matches the exact Python twin
    bit-for-bit (the whole pipeline is integer until one IEEE-exact
    sqrt/division)."""
    from airflow_iceberg_pipeline_stock_tracker_spark.operators.finance import (
        spearman_pairs,
    )

    base = dt.date(2024, 1, 1)
    prices = spark.createDataFrame(
        [
            (t, base + dt.timedelta(days=i), c / 100.0)
            for i, (a, b) in enumerate(rows)
            for t, c in (("A", a), ("B", b))
        ],
        "ticker string, date date, close double",
    )
    got = spearman_pairs(prices).collect()

    xs = [rows[i][0] - rows[i - 1][0] for i in range(1, len(rows))]
    ys = [rows[i][1] - rows[i - 1][1] for i in range(1, len(rows))]
    if not xs:
        assert got == []
        return
    assert len(got) == 1 and (got[0].t1, got[0].t2) == ("A", "B")
    n, num, dx, dy, rho = _spearman_py(xs, ys)
    r = got[0]
    assert (r.n_days, r.num, r.den_x, r.den_y) == (n, num, dx, dy)
    if rho is None:
        assert r.rho is None, "degenerate pair must be NULL, not a crash"
    else:
        assert r.rho == rho, "closing division must be bit-exact"


# random event streams: few users, second-granularity timestamps with
# gaps that straddle the 1800s session boundary, purchase events drawn
# often enough that conversion paths appear
_path_rows = st.lists(
    st.tuples(
        st.integers(0, 2),                      # user
        st.integers(0, 6000),                   # seconds offset
        st.sampled_from(["view", "click", "cart", "purchase"]),
    ),
    min_size=1,
    max_size=30,
)


@given(rows=_path_rows)
@example(rows=[(0, 0, "view"), (0, 1800, "click"), (0, 3601, "view")])
@example(rows=[(0, 0, "purchase")] + [(0, i, "view") for i in range(1, 12)])
@_prop_settings
def test_top_paths_matches_python_fold(spark, tmp_path_factory, rows):
    """events_top_paths vs an exact Python replay: identical session
    splits (gap > 1800s, ties broken by event_id), identical first-8
    truncation, conversion measured over the FULL session, identical
    (count DESC, path ASC) top-k order."""
    import datetime as _dt

    from airflow_iceberg_pipeline_stock_tracker_spark.plans.queries import (
        PATH_PREFIX,
        SESSION_GAP_S,
        TOP_PATHS,
        events_top_paths,
    )

    base = _dt.datetime(2024, 3, 1)
    d = tmp_path_factory.mktemp("toppaths")
    spark.createDataFrame(
        [
            (i, base + _dt.timedelta(seconds=sec), u, t, 0.0, "{}")
            for i, (u, sec, t) in enumerate(rows)
        ],
        "event_id bigint, ts timestamp, user_id bigint, event_type string,"
        " value double, props string",
    ).write.mode("overwrite").parquet(f"{d}/events.parquet")
    got = [
        (r.path, r.n_sessions, r.n_converted, r.cvr)
        for r in events_top_paths(spark, str(d)).collect()
    ]

    # Python replay
    by_user: dict[int, list[tuple[int, int, str]]] = {}
    for i, (u, sec, t) in enumerate(rows):
        by_user.setdefault(u, []).append((sec, i, t))
    paths: dict[str, list[int]] = {}
    for evs in by_user.values():
        evs.sort()
        sessions: list[list[str]] = []
        prev = None
        for sec, _i, t in evs:
            if prev is None or sec - prev > SESSION_GAP_S:
                sessions.append([])
            sessions[-1].append(t)
            prev = sec
        for s in sessions:
            p = ">".join(s[:PATH_PREFIX])
            agg = paths.setdefault(p, [0, 0])
            agg[0] += 1
            agg[1] += int("purchase" in s)
    want = sorted(
        (
            (p, n, c, c / n)
            for p, (n, c) in paths.items()
        ),
        key=lambda r: (-r[1], r[0]),
    )[:TOP_PATHS]
    assert got == want


# (views, clicks) per consecutive hour: constant runs, zeros, and
# 1-hour series hit every degenerate denominator — zero-variance corr
# series, sigma=0 anomaly baselines, single/few-user Gini
_hour_counts = st.lists(
    st.tuples(st.integers(0, 5), st.integers(0, 5)),
    min_size=1,
    max_size=30,
)


@given(counts=_hour_counts)
@example(counts=[(3, 3)])                   # one hour: n=1 everywhere
@example(counts=[(2, 4)] * 14)              # constant both series: var 0
@example(counts=[(0, 1)] * 14)              # view never fires: sxx = 0
@example(counts=[(2, 2)] * 25 + [(50, 2)])  # flat baseline then a spike
@_prop_settings
def test_degenerate_denominators_match_oracle(spark, tmp_path_factory, counts):
    """The r7/r8 data-derived-denominator ask for the monitoring tier:
    events_hourly_corr (zero-variance series), events_hourly_anomaly
    (sigma=0 trailing baselines), events_skew_profile (single-user
    types) on adversarial inputs — the Spark plan and the DuckDB oracle
    must keep EXACTLY the same rows with hash-equal values, and neither
    engine may crash (guarded drop, never ANSI DIVIDE_BY_ZERO or a
    +-Inf divergence)."""
    import datetime as _dt

    from airflow_iceberg_pipeline_stock_tracker_spark.plans.timeseries import (
        TIMESERIES_QUERIES,
    )
    from tools.selfcheck import compare_one, connect_oracle

    base = _dt.datetime(2024, 5, 1)
    rows = []
    eid = 0
    for i, (n_view, n_click) in enumerate(counts):
        for t, n in (("view", n_view), ("click", n_click)):
            for j in range(n):
                rows.append(
                    (
                        eid,
                        base + _dt.timedelta(hours=i, seconds=j),
                        eid % 3,
                        t,
                        0.0,
                        "{}",
                    )
                )
                eid += 1
    if not rows:  # all-zero hours: no events at all — nothing to check
        return
    d = str(tmp_path_factory.mktemp("degen"))
    # single-FILE parquet (pandas/pyarrow): the DuckDB side of
    # connect_oracle reads the path directly, not a Spark part-dir
    import pandas as pd

    pd.DataFrame(
        rows,
        columns=["event_id", "ts", "user_id", "event_type", "value", "props"],
    ).astype({"event_id": "int64", "user_id": "int64"}).to_parquet(
        f"{d}/events.parquet", index=False
    )

    con = connect_oracle(d)
    for name in (
        "events_hourly_corr",
        "events_hourly_anomaly",
        "events_skew_profile",
    ):
        fn, sql = TIMESERIES_QUERIES[name]
        _n, problems = compare_one(spark, con, name, fn, sql, d)
        assert not problems, f"{name}: {problems[0]}"


# (seconds-offset-within-2-days, value-cents) observations of ONE type:
# duplicate timestamps (0-weight spans), day-boundary straddles, and
# single-observation days all appear
_twap_rows = st.lists(
    st.tuples(st.integers(0, 2 * 86400 - 1), st.integers(0, 500)),
    min_size=1,
    max_size=20,
)


@given(rows=_twap_rows)
@example(rows=[(86399, 100)])               # last second of day 1
@example(rows=[(10, 100), (10, 200)])       # tie: first span weight 0
@example(rows=[(86300, 100), (86500, 300)])  # straddles midnight
@_prop_settings
def test_twap_matches_python_fold(spark, tmp_path_factory, rows):
    """events_twap vs an exact Python replay of the contract: value
    holds until the next same-type observation or the day boundary,
    no carry-in across midnight, microsecond int64 weights, ties get
    zero weight, one closing division."""
    import datetime as _dt

    from airflow_iceberg_pipeline_stock_tracker_spark.plans.timeseries import (
        events_twap,
    )

    base = _dt.datetime(2024, 7, 1)
    d = str(tmp_path_factory.mktemp("twap"))
    spark.createDataFrame(
        [
            (i, base + _dt.timedelta(seconds=sec), 1, "view", c / 100.0, "{}")
            for i, (sec, c) in enumerate(rows)
        ],
        "event_id bigint, ts timestamp, user_id bigint, event_type string,"
        " value double, props string",
    ).write.mode("overwrite").parquet(f"{d}/events.parquet")
    got = {
        (r.event_type, str(r.day)): (r.n_obs, r.dur_us_sum, r.vc_dur_sum, r.twap)
        for r in events_twap(spark, str(d)).collect()
    }

    obs = sorted(
        (sec * 1_000_000, i, c) for i, (sec, c) in enumerate(rows)
    )
    want: dict[tuple[str, str], list[int]] = {}
    for k, (us, _i, c) in enumerate(obs):
        day_idx = us // 86_400_000_000
        day_end = (day_idx + 1) * 86_400_000_000
        nxt = obs[k + 1][0] if k + 1 < len(obs) else day_end
        dur = min(nxt, day_end) - us
        day = str((base + _dt.timedelta(days=day_idx)).date())
        agg = want.setdefault(("view", day), [0, 0, 0])
        agg[0] += 1
        agg[1] += dur
        agg[2] += c * dur
    expect = {
        k: (n, du, vd, vd / du / 100.0) for k, (n, du, vd) in want.items()
    }
    assert got == expect


# per-date whole-dollar closes for tickers A/B (None = ticker didn't
# trade that date -> the index must exclude the date entirely)
_beta_rows = st.lists(
    st.tuples(
        st.one_of(st.none(), st.integers(1, 40)),
        st.one_of(st.none(), st.integers(1, 40)),
    ),
    min_size=1,
    max_size=12,
)


@given(rows=_beta_rows)
@example(rows=[(10, 20)])                    # one date: no changes
@example(rows=[(10, 20), (10, 20), (10, 20)])  # constant market: den 0
@example(rows=[(10, 20), (None, 25), (12, 21)])  # partial cross-section
# hypothesis-found (full-suite run): a ticker that NEVER trades is not
# a constituent — the operator derives the cross-section from the data,
# so B-only dates are full-cross-section and B gets a (den 0 -> NULL)
# row where a two-constituent twin wrongly expected nothing
@example(rows=[(None, 1), (None, 1)])
@_prop_settings
def test_beta_degenerate_nulls(spark, rows):
    """finance.beta_vs_market: the index exists only on full-cross-
    section dates, tickers with no change rows emit nothing, constant
    markets (den <= 0) yield NULL beta — and everything else matches an
    exact Python twin bit-for-bit (int64 sums, doubles cast from exact
    ints, one IEEE expression)."""
    import datetime as _dt

    from airflow_iceberg_pipeline_stock_tracker_spark.operators.finance import (
        beta_vs_market,
    )

    base = _dt.date(2024, 1, 1)
    data = [
        (t, base + _dt.timedelta(days=i), float(c))
        for i, (a, b) in enumerate(rows)
        for t, c in (("A", a), ("B", b))
        if c is not None
    ]
    prices = spark.createDataFrame(
        data, "ticker string, date date, close double"
    )
    got = {
        r.ticker: (r.n_days, r.sx, r.sm, r.sxm, r.smm, r.beta)
        for r in beta_vs_market(prices).collect()
    }

    # Python twin — constituents are the tickers that ever traded (the
    # operator derives the cross-section from the data, so a ticker
    # that never appears is not a constituent and cannot veto a date)
    picks = {"A": 0, "B": 1}
    ticks = [t for t, p in picks.items() if any(r[p] is not None for r in rows)]
    full = [
        r for r in rows if all(r[picks[t]] is not None for t in ticks)
    ]
    want = {}
    for tick in ticks:
        p = picks[tick]
        xs, ms = [], []
        for k in range(1, len(full)):
            prev, cur = full[k - 1], full[k]
            xs.append(cur[p] - prev[p])
            ms.append(
                sum(cur[picks[t]] for t in ticks)
                - sum(prev[picks[t]] for t in ticks)
            )
        if not xs:
            continue
        n = len(xs)
        sx, sm = sum(xs), sum(ms)
        sxm = sum(x * m for x, m in zip(xs, ms))
        smm = sum(m * m for m in ms)
        den = float(n) * float(smm) - float(sm) * float(sm)
        beta = (
            (float(n) * float(sxm) - float(sx) * float(sm)) / den
            if den > 0
            else None
        )
        want[tick] = (n, sx, sm, sxm, smm, beta)
    assert got == want


# partition-evolution commits: each is (transform, [(day-offset, value)]);
# mixing day- and month-grouped commits in one table is the point
_evolution_commits = st.lists(
    st.tuples(
        st.sampled_from(["day", "month"]),
        st.lists(
            st.tuples(st.integers(0, 90), st.integers(0, 999)),
            min_size=1,
            max_size=6,
        ),
    ),
    min_size=1,
    max_size=3,
)


@given(
    commits=_evolution_commits,
    lo_off=st.integers(0, 90),
    hi_off=st.integers(0, 90),
)
@_prop_settings
def test_partition_evolution_prune_matches_flat_filter(
    spark, commits, lo_off, hi_off, tmp_path_factory
):
    """Random mixes of day- and month-partitioned commits on one table:
    the boundary-spanning full read must equal the union of all inputs,
    and a random bounded read_pruned must equal the flat filter — with
    scanned + skipped accounting for every dir of the head snapshot,
    whatever layout produced each dir."""
    from airflow_iceberg_pipeline_stock_tracker_spark.sources import snapshots

    tdir = str(tmp_path_factory.mktemp("evolveprop") / "tbl")
    base = dt.date(2024, 1, 1)
    all_rows: list[tuple[int, int]] = []
    for transform, rows in commits:
        df = spark.createDataFrame(
            [(base + dt.timedelta(days=o), x) for o, x in rows],
            "d date, x int",
        )
        snapshots.commit_partitioned(df, tdir, "d", transform)
        all_rows += rows
    got_all = sorted((r.d, r.x) for r in snapshots.read(spark, tdir).collect())
    assert got_all == sorted(
        (base + dt.timedelta(days=o), x) for o, x in all_rows
    )
    lo, hi = sorted((lo_off, hi_off))
    pruned, n_scan, n_skip = snapshots.read_pruned(
        spark,
        tdir,
        "d",
        lo=base + dt.timedelta(days=lo),
        hi=base + dt.timedelta(days=hi),
    )
    got = sorted((r.d, r.x) for r in pruned.collect())
    want = sorted(
        (base + dt.timedelta(days=o), x)
        for o, x in all_rows
        if lo <= o <= hi
    )
    assert got == want
    man = snapshots._load_manifest(tdir)
    assert n_scan + n_skip == len(snapshots._snap(man, man["current"])["dirs"])


# ---------------------------------------------------------------------------
# histogram-exact percentiles (orders_ship_sla's order-statistic core)
# ---------------------------------------------------------------------------

_lags = st.lists(st.integers(0, 40), min_size=1, max_size=40)


@given(lags=_lags)
@example(lags=[5])          # single order: every percentile is that lag
@example(lags=[3, 3, 3])    # all-ties
@example(lags=[0, 40])      # extremes straddling the rank boundary
@_prop_settings
def test_ship_sla_percentiles_match_bruteforce(spark, tmp_path_factory, lags):
    """The cumulative-histogram rank rule (smallest lag with den*cum >=
    num*n) must equal the brute-force sorted order statistic for every
    multiset — duplicates and rank-boundary ties are exactly where a
    cross-multiplied integer rule could drift off by one."""
    import os

    from airflow_iceberg_pipeline_stock_tracker_spark.plans.relational_ext import (
        orders_ship_sla,
    )

    d = str(tmp_path_factory.mktemp("sla"))
    base = dt.date(2024, 1, 1)
    spark.createDataFrame(
        [(i + 1, "P", base) for i in range(len(lags))],
        "o_orderkey long, o_orderpriority string, o_orderdate date",
    ).write.parquet(os.path.join(d, "orders.parquet"))
    spark.createDataFrame(
        [(i + 1, base + dt.timedelta(days=lag)) for i, lag in enumerate(lags)],
        "l_orderkey long, l_shipdate date",
    ).write.parquet(os.path.join(d, "lineitem.parquet"))
    r = orders_ship_sla(spark, d).collect()[0]

    s, n = sorted(lags), len(lags)

    def brute(num, den):
        # smallest value whose 1-based sorted rank r satisfies
        # den*r >= num*n  ->  index ceil(num*n/den) - 1
        import math

        return s[math.ceil(num * n / den) - 1]

    assert r.n_orders == n
    assert (r.min_lag, r.max_lag) == (s[0], s[-1])
    assert r.p50 == brute(1, 2)
    assert r.p90 == brute(9, 10)
    assert r.p99 == brute(99, 100)
    assert r.mean_lag == sum(lags) / n


# ---------------------------------------------------------------------------
# MAD anomaly (events_mad_anomaly's double median-of-histogram)
# ---------------------------------------------------------------------------

_hour_counts = st.lists(st.integers(1, 12), min_size=1, max_size=24)


@given(counts=_hour_counts)
@example(counts=[5])             # single hour: dev 0, mad 0, no flags
@example(counts=[1, 1, 1, 9])    # mad 0 with a real outlier
@example(counts=[2, 4])          # even count: lower-median rule
@_prop_settings
def test_mad_anomaly_matches_bruteforce(spark, tmp_path_factory, counts):
    """Both medians (lower-median rule: the smallest value whose doubled
    cumulative count reaches the total) and the 3-MAD flag set must
    equal a brute-force sorted recompute for every count multiset."""
    import os

    from airflow_iceberg_pipeline_stock_tracker_spark.plans.timeseries import (
        events_mad_anomaly,
    )

    base = dt.datetime(2024, 3, 1)
    rows, eid = [], 0
    for h, c in enumerate(counts):
        for _ in range(c):
            rows.append((eid, base + dt.timedelta(hours=h), 1, "a", 1.0, "{}"))
            eid += 1
    d = str(tmp_path_factory.mktemp("mad"))
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.parquet(os.path.join(d, "events.parquet"))

    def lower_median(vals):
        s = sorted(vals)
        return s[(len(s) + 1) // 2 - 1]

    med = lower_median(counts)
    mad = lower_median([abs(c - med) for c in counts])
    want = {
        (h, c)
        for h, c in enumerate(counts)
        if abs(c - med) > 3 * mad
    }
    got = {
        (int(r.hour[11:13]), r.n_events)
        for r in events_mad_anomaly(spark, d).collect()
    }
    assert got == want


# ---------------------------------------------------------------------------
# burst episodes (events_burst_episodes' gaps-and-islands over hours)
# ---------------------------------------------------------------------------

_burst_counts = st.lists(st.integers(0, 9), min_size=1, max_size=30)


@given(counts=_burst_counts)
@example(counts=[1, 1, 9, 9, 1, 9])   # adjacent + separated bursts
@example(counts=[0, 0, 5])            # zero-hours are ABSENT, not zero rows
@example(counts=[4])                  # single hour: n*1 > 2n is false
@_prop_settings
def test_burst_episodes_match_bruteforce(spark, tmp_path_factory, counts):
    """Episode boundaries, peaks, and volumes must equal a brute-force
    scan: qualifying hours (n * observed_hours > 2 * total) grouped into
    maximal consecutive runs — hours with zero events are gaps, which is
    exactly where island arithmetic can slip."""
    import os

    from airflow_iceberg_pipeline_stock_tracker_spark.plans.timeseries import (
        events_burst_episodes,
    )

    base = dt.datetime(2024, 3, 1)
    rows, eid = [], 0
    for hh, c in enumerate(counts):
        for _ in range(c):
            rows.append((eid, base + dt.timedelta(hours=hh), 1, "a", 1.0, "{}"))
            eid += 1
    if not any(counts):
        return  # empty table: nothing to compare
    d = str(tmp_path_factory.mktemp("burst"))
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.parquet(os.path.join(d, "events.parquet"))

    present = [(hh, c) for hh, c in enumerate(counts) if c > 0]
    h_obs, total = len(present), sum(c for _, c in present)
    qual = [(hh, c) for hh, c in present if c * h_obs > 2 * total]
    episodes, cur = [], []
    for hh, c in qual:
        if cur and hh == cur[-1][0] + 1:
            cur.append((hh, c))
        else:
            if cur:
                episodes.append(cur)
            cur = [(hh, c)]
    if cur:
        episodes.append(cur)
    want = [
        (ep[0][0], ep[-1][0], len(ep), max(c for _, c in ep),
         sum(c for _, c in ep))
        for ep in episodes
    ]
    got = [
        (int(r.start_hour[11:13]), int(r.end_hour[11:13]), r.n_hours,
         r.peak_n, r.total_n)
        for r in events_burst_episodes(spark, d).collect()
    ]
    assert got == want


# ---------------------------------------------------------------------------
# winnowing pair mining (capped inverted-index join == brute force)
# ---------------------------------------------------------------------------

_words = st.lists(
    st.sampled_from(
        ["alpha", "bravo", "charlie", "delta", "echo", "foxtrot", "golf"]
    ),
    min_size=3,
    max_size=12,
)
_doc_set = st.lists(_words, min_size=2, max_size=6)


@given(docs=_doc_set)
@example(docs=[["alpha", "bravo"], ["alpha", "bravo"]])  # exact duplicates
@example(docs=[["alpha"], ["bravo"]])                    # nothing shared
@_prop_settings
def test_winnowing_pairs_match_bruteforce_fingerprint_sets(spark, docs):
    """With the bucket cap above the corpus size the inverted-index
    join must surface EXACTLY the brute-force pairs: for every doc pair,
    shared distinct fingerprints >= min -> one row with the exact
    counts and resemblance; below min -> no row. A small shared-word
    vocabulary maximizes genuine fingerprint collisions."""
    import hashlib

    from airflow_iceberg_pipeline_stock_tracker_spark.operators import dedup
    from airflow_iceberg_pipeline_stock_tracker_spark.operators.text import (
        WINNOW_K,
        WINNOW_M,
        WINNOW_W,
    )

    texts = [" ".join(ws) for ws in docs]

    def fps(text: str) -> set[int]:
        t = " ".join(text.lower().split())
        n = len(t)
        grams = (
            [t]
            if n <= WINNOW_K
            else [t[i : i + WINNOW_K] for i in range(n - WINNOW_K + 1)]
        )
        hs = [
            int(hashlib.md5(g.encode()).hexdigest()[:8], 16) for g in grams
        ]
        keys = [
            h * WINNOW_M + (WINNOW_M - 1 - min(p, WINNOW_M - 1))
            for p, h in enumerate(hs)
        ]
        sel = set()
        for i in range(max(len(keys) - WINNOW_W, 0) + 1):
            sel.add(min(keys[i : i + WINNOW_W]))
        return {k // WINNOW_M for k in sel}

    sets = [fps(t) for t in texts]
    want = {}
    for a in range(len(texts)):
        for b in range(a + 1, len(texts)):
            shared = len(sets[a] & sets[b])
            if shared >= dedup.WINNOW_PAIR_MIN_SHARED:
                want[(a, b)] = (
                    shared,
                    len(sets[a]),
                    len(sets[b]),
                    shared / (len(sets[a]) + len(sets[b]) - shared),
                )

    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    got = {
        (r.doc_a, r.doc_b): (r.n_shared, r.n_a, r.n_b, r.resemblance)
        for r in dedup.winnowing_pairs(df).collect()
    }
    assert got == want


# --- r12: aroon window-argmax vs brute force ------------------------------

# cents in a tight band force extremum TIES inside the window — the
# most-recent-bar rule is exactly what a fixed fixture under-exercises
_aroon_cents = st.lists(st.integers(1000, 1004), min_size=1, max_size=40)


@given(cents_seq=_aroon_cents)
@example(cents_seq=[1000] * 12)          # all-tie window
@example(cents_seq=[1004, 1000, 1004])   # early/late equal extremes
@_prop_settings
def test_aroon_matches_bruteforce_under_ties(spark, cents_seq):
    from airflow_iceberg_pipeline_stock_tracker_spark.operators.finance import (
        aroon,
    )

    period = 5  # divides 100; small so short random series emit rows
    start = dt.date(2024, 1, 1)
    rows = [
        (
            "T",
            start + dt.timedelta(days=i),
            c / 100.0,
            (c + 3) / 100.0,   # high
            (c - 3) / 100.0,   # low
            c / 100.0,
            100.0,
        )
        for i, c in enumerate(cents_seq)
    ]
    df = spark.createDataFrame(
        rows,
        "ticker string, date date, open double, high double, low double, "
        "close double, volume double",
    )
    got = {
        (r.date): (r.days_since_high, r.days_since_low, r.aroon_up,
                   r.aroon_down, r.oscillator)
        for r in aroon(df, period=period).collect()
    }
    hc = [c + 3 for c in cents_seq]
    lc = [c - 3 for c in cents_seq]
    want = {}
    for i in range(period, len(cents_seq)):
        wh = hc[i - period : i + 1]
        wl = lc[i - period : i + 1]
        hi_pos = max(range(period + 1), key=lambda j: (wh[j], j))
        lo_pos = max(range(period + 1), key=lambda j: (-wl[j], j))
        ds_h, ds_l = period - hi_pos, period - lo_pos
        up = (period - ds_h) * (100 // period)
        dn = (period - ds_l) * (100 // period)
        want[start + dt.timedelta(days=i)] = (ds_h, ds_l, up, dn, up - dn)
    assert got == want


# --- r12: HLL sink merge == one-pass under ANY batch partitioning ---------

_hll_splits = st.lists(st.integers(0, 3), min_size=1, max_size=30)


@given(assignment=_hll_splits)
@example(assignment=[0] * 5)        # everything in one batch
@example(assignment=[0, 1, 2, 3])   # max spread
@_prop_settings
def test_hll_sink_merge_invariant_to_batching(spark, assignment):
    """The sink's whole contract: HOW rows are split into micro-batches
    must not matter. Partition users by a random batch assignment, fold
    each slice through process_hll_batch, and the read-side max-merge
    must equal the one-pass registers over the union — for every
    assignment hypothesis draws (including users repeated across
    batches: the same user_id lands identical (bucket, rho), and max is
    idempotent)."""
    import shutil

    from airflow_iceberg_pipeline_stock_tracker_spark.streaming import sketch_sinks

    db = "hll_prop_test"
    spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    shutil.rmtree(f"{wh}/{db}.db", ignore_errors=True)

    schema = (
        "event_id bigint, ts timestamp, user_id bigint, "
        "event_type string, value double, props string"
    )
    all_rows = [
        (i, _BASE, i % 7, "ab"[i % 2], 1.0, "{}")
        for i in range(len(assignment))
    ]
    for b in sorted(set(assignment)):
        batch_rows = [r for r, a in zip(all_rows, assignment) if a == b]
        sketch_sinks.process_hll_batch(
            spark.createDataFrame(batch_rows, schema), b, db=db
        )
    merged = sorted(
        map(tuple, sketch_sinks.merged_registers(spark, db).collect())
    )
    onepass = sorted(
        map(
            tuple,
            sketch_sinks._batch_registers(
                spark.createDataFrame(all_rows, schema)
            ).collect(),
        )
    )
    assert merged == onepass
    spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")


# --- r13: CMS sink merge == one-pass under ANY PARTITION of the rows -------


@given(assignment=_hll_splits)
@example(assignment=[0] * 5)        # everything in one batch
@example(assignment=[0, 1, 2, 3])   # max spread
@_prop_settings
def test_cms_sink_merge_invariant_to_batching(spark, assignment):
    """The CMS sink's contract is STRICTER than HLL's: counter addition
    is not idempotent, so the claim is merge == one-pass for every
    PARTITION of the rows (each row in exactly one batch — hypothesis
    draws the partition; unlike HLL, repeating a row across batches
    would genuinely double-count, which is what the replay test in
    test_r13_ops pins against via the partition-overwrite layout)."""
    import shutil

    from airflow_iceberg_pipeline_stock_tracker_spark.operators import cms
    from airflow_iceberg_pipeline_stock_tracker_spark.streaming import (
        sketch_sinks,
    )

    db = "cms_prop_test"
    spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    shutil.rmtree(f"{wh}/{db}.db", ignore_errors=True)

    schema = (
        "event_id bigint, ts timestamp, user_id bigint, "
        "event_type string, value double, props string"
    )
    # i % 3 repeats user_ids so counters hold real multiplicities
    all_rows = [
        (i, _BASE, i % 3, "ab"[i % 2], 1.0, "{}")
        for i in range(len(assignment))
    ]
    for b in sorted(set(assignment)):
        batch_rows = [r for r, a in zip(all_rows, assignment) if a == b]
        sketch_sinks.process_cms_batch(
            spark.createDataFrame(batch_rows, schema), b, db=db
        )
    merged = sorted(
        map(tuple, sketch_sinks.merged_cms(spark, db).collect())
    )
    onepass = sorted(
        map(
            tuple,
            cms.cms_build(
                spark.createDataFrame(all_rows, schema), "user_id"
            ).collect(),
        )
    )
    assert merged == onepass
    spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
