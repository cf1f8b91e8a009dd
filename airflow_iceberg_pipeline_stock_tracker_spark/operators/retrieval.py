"""Retrieval capstone: chunk -> embed -> IVFPQ index -> query -> recall@k.

The end-to-end RAG-ingest shape a training/serving pipeline actually
runs (r15 verdict ask #1), composed from pieces the registry already
proves separately — sliding-window chunking (text.chunk_documents's
arithmetic), deterministic hash-projection chunk embeddings (the
texthash portable-hash discipline), the IVFADC index build + ADC query
(operators/ivfpq.py's trained quantizers, reused via seed_pred), exact
rerank (the two-stage retrieval every production PQ system runs), and
an in-plan recall@k certificate against the brute-force twin (the
similarity_matryoshka_recall grading pattern).

Reference scope note: the reference repo (a 454-line Airflow DAG of
SQL over stock bars) has no retrieval surface; this is part of the
LLM-data-pipeline extension tier the build brief makes first-class.

Exactness: every number is exact — token hashes are md5-derived int32,
per-dim contributions are modular int64 arithmetic, chunk vectors are
int64 sums, coarse/PQ training runs on the int lattice (floor-mean
updates), ADC sums and rerank distances are int64, and recall_milli is
a truncating int division — so the DuckDB oracle unrolls the ENTIRE
pipeline (chunk -> embed -> 1-round coarse Lloyd -> residual PQ ->
encode -> probe -> LUT -> ADC -> rerank -> brute-force -> recall) as
CTEs and the driver hash-checks it end to end.

Scale shape:
  * chunking + embedding are one scan (explode tokens x dims, then a
    map-combinable groupBy back to chunk vectors — the exchange moves
    |chunks| x 64 slim rows, never text);
  * index training is the ivfpq train-small/score-big discipline:
    one fused assign+partial-sum pass per Lloyd round, O(cells*dim) /
    O(M*codes*D) tables collected;
  * the query pass scores only candidates in each query's nprobe
    probed cells (nprobe/cells of the corpus), in ONE Arrow-batched
    pass over the cached chunk vectors;
  * rerank touches O(n_queries * rerank_pool) rows resolved by id;
  * the brute-force twin is the GRADER, bounded at n_queries x corpus
    (a fixed, broadcast-sized query panel — linear, never all-pairs);
    at 100 TB you grade on a sampled panel exactly like this.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.texthash import MINHASH_P, hash32, hash32_sql
from ..sources.tables import load_table, local_df
from .ivfpq import (
    IVFPQ_CELLS,
    IVFPQ_CODES,
    IVFPQ_COARSE_ITERS,
    IVFPQ_D,
    IVFPQ_M,
    IVFPQ_PQ_ITERS,
    _batch_mat,
    _coarse_assign,
    _np,
    _pq_encode,
    _train_coarse,
    _train_residual_pq,
)
from .similarity import _sq_dist
from .text import TOKEN_REGEX

# chunking: smaller windows than text.chunk_documents's 64/48 because
# the documents fixture runs 10-100 tokens/doc — 32/24 yields ~2.3
# chunks/doc, a real multi-chunk corpus at every SF
RAG_CHUNK_SIZE = 32
RAG_CHUNK_STRIDE = 24
# chunk key: vec_id = doc_id * RAG_SID + chunk_idx. RAG_SID bounds
# chunks/doc at 256 = docs up to ~12.3k tokens (fixture max: 100;
# pytest pins the bound)
RAG_SID = 256
RAG_DIM = IVFPQ_M * IVFPQ_D  # 64, must match ivfpq's training shape
# hash-projection constants (the texthash universal-hash discipline):
# contrib(h, j) = ((h*A + B + j*C) % P) % 2001 - 1000, exact int64
# (h < 2^32, A < 2^31 -> h*A < 2^63; + B + 63*C adds < 2^35)
RAG_A = 1_610_612_741
RAG_B = 99_194_853
RAG_C = 479_001_599
RAG_SPAN = 2001  # per-(token, dim) contribution in [-1000, 1000]
# index + query panel
RAG_CELLS = IVFPQ_CELLS  # 8 coarse cells, seeded from first-chunks
RAG_CODES = IVFPQ_CODES  # 16 PQ codes/subspace, seeded likewise
RAG_NPROBE = 2  # cells probed per query
RAG_K = 10  # graded depth
RAG_RERANK = 40  # ADC pool exact-reranked per query
RAG_QUERY_DOCS = 24  # panel: chunk 1 of docs 0..23 (docs with >= 2 chunks)

__all__ = [
    "rag_recall",
    "RAG_RECALL_SQL",
    "chunk_vectors",
    "rag_write_index",
    "rag_query_index",
    "rag_index_artifact_roundtrip",
]


def chunk_vectors(docs: DataFrame) -> DataFrame:
    """(vec_id, q): every chunk as a RAG_DIM int64 hash-projection vector.

    Chunking is text.chunk_documents's arithmetic at RAG sizes (ceil-div
    chunk count, slice per index; a doc shorter than one chunk still
    yields its chunk). Each token contributes an exact modular value to
    every dimension; the chunk vector is the per-dim token sum — a
    deterministic stand-in for a learned embedding with the same
    locality property that matters for the certificate: shared tokens
    -> shared contributions -> small L2 distance. |q_j| <= 32k (32
    tokens x 1000), far inside the ivfpq int64 bounds analysis.

    Zero-token chunks (empty/whitespace text) drop out at the token
    explode; NULL text drops at the chunk-count arithmetic — both
    mirrored in the oracle.
    """
    toks = F.regexp_extract_all(F.col("text"), F.lit(TOKEN_REGEX), 0)
    base = docs.select(
        "doc_id",
        toks.alias("toks"),
        F.size(toks).cast("long").alias("n_tokens"),
    )
    n_chunks = F.when(
        F.col("n_tokens") <= RAG_CHUNK_SIZE, F.lit(1).cast("long")
    ).otherwise(
        1
        + F.expr(
            f"(n_tokens - {RAG_CHUNK_SIZE} + {RAG_CHUNK_STRIDE} - 1) "
            f"div {RAG_CHUNK_STRIDE}"
        ).cast("long")
    )
    t = base.select("doc_id", "toks", n_chunks.alias("n_chunks"))
    idx = F.explode(F.sequence(F.lit(0).cast("long"), F.col("n_chunks") - 1))
    chunk = F.slice(
        F.col("toks"),
        (F.col("chunk_idx") * RAG_CHUNK_STRIDE + 1).cast("int"),
        RAG_CHUNK_SIZE,
    )
    chunks = t.select("doc_id", "toks", idx.alias("chunk_idx")).select(
        (F.col("doc_id") * RAG_SID + F.col("chunk_idx")).alias("vec_id"),
        chunk.alias("chunk"),
    )
    # hash ONCE per token row, BEFORE the 64-way dim explode — the md5
    # is the expensive term and must not be recomputed per (token, dim)
    tok = chunks.select("vec_id", F.explode("chunk").alias("tok")).select(
        "vec_id", hash32(F.col("tok")).alias("h")
    )
    # One aggregation pass, no dim explode (guide §2.3 "aggregate before
    # you shuffle" / §2.4): the original plan exploded every token row
    # RAG_DIM ways (~21M rows at sf0.1) through a (vec_id, j) exchange
    # and then re-assembled q with a second exchange + collect_list
    # sort. The per-dim contribution is a pure function of (h, j), so
    # the same int64 sums fall out of RAG_DIM codegen'd SUM aggregates
    # over the un-exploded token rows — map-side partial aggregation
    # collapses each scan partition to |chunks| rows before the single
    # exchange, and q is assembled with array() instead of a sort.
    # Arithmetic (and therefore every output bit) is unchanged; the
    # measured sf0.1 build drops ~8s -> ~2s.
    def _contrib(j: int):
        return (
            (
                (
                    F.col("h") * F.lit(RAG_A)
                    + F.lit(RAG_B)
                    # j is a plan-time constant: fold j*RAG_C in Python
                    # (exact int, forced to LongType — an int literal
                    # would overflow the 32-bit multiply under ANSI)
                    + F.lit(j * RAG_C).cast("long")
                )
                % F.lit(MINHASH_P)
            )
            % F.lit(RAG_SPAN)
            - F.lit(RAG_SPAN // 2)
        )

    sums = tok.groupBy("vec_id").agg(
        *[
            F.sum(_contrib(j)).cast("long").alias(f"s{j}")
            for j in range(RAG_DIM)
        ]
    )
    return sums.select(
        "vec_id",
        F.array(*[F.col(f"s{j}") for j in range(RAG_DIM)]).alias("q"),
    )


def _seed_pred(n: int):
    """First-chunk seeds: chunk 0 of docs 0..n-1 — n diverse documents
    (every doc has a chunk 0), in vec_id order both engines."""
    return (F.col("vec_id") % RAG_SID == 0) & (F.col("vec_id") < n * RAG_SID)


def _split_seeds(rows) -> tuple[list, list]:
    """(coarse seeds, PQ seeds) out of collected rows in vec_id order:
    each trainer gets exactly the rows its own ``_seed_pred(n)`` selects,
    whichever of RAG_CELLS / RAG_CODES is larger."""
    first = [r for r in rows if r["vec_id"] % RAG_SID == 0]
    return (
        [r for r in first if r["vec_id"] < RAG_CELLS * RAG_SID],
        [r for r in first if r["vec_id"] < RAG_CODES * RAG_SID],
    )


def _query_pred():
    """Query panel: chunk 1 of docs 0..RAG_QUERY_DOCS-1 — second
    chunks, so a query is never one of the coarse/PQ seeds; docs with a
    single chunk simply contribute no query (identical rule in SQL)."""
    return (F.col("vec_id") % RAG_SID == 1) & (
        F.col("vec_id") < RAG_QUERY_DOCS * RAG_SID
    )


def rag_recall(
    spark: SparkSession,
    sf_dir: str,
    k: int = RAG_K,
    nprobe: int = RAG_NPROBE,
    rerank: int = RAG_RERANK,
) -> DataFrame:
    """(query_id, n_candidates, hits_adc, hits_rerank, recall_milli):
    the retrieval certificate, one row per query panel member.

    n_candidates = chunks ADC-scored for the query (its nprobe probed
    cells, same-document chunks excluded) — pins the IVF pruning
    breadth; hits_adc / hits_rerank = overlap of the ADC top-k / the
    exact-reranked top-k with the brute-force exact top-k (same
    exclusion, ties (dist, neighbor_id)); recall_milli =
    hits_rerank * 1000 div k. Candidate-set membership, ranks, and
    hits are all exact ints — no float boundary anywhere.
    """
    import pandas as pd

    np = _np()
    emb = chunk_vectors(load_table(spark, sf_dir, "documents")).persist()
    # ONE driver collect funds the coarse seeds, the PQ seeds AND the
    # query panel (guide §1.2: the r16 shape ran three sequential collect
    # jobs over the same cached relation). The subsets are re-derived by
    # the exact same predicates, in the same vec_id order.
    pre_rows = (
        emb.where(_seed_pred(max(RAG_CELLS, RAG_CODES)) | _query_pred())
        .orderBy("vec_id")
        .collect()
    )
    cseed, pseed = _split_seeds(pre_rows)
    qrows = [r for r in pre_rows if r["vec_id"] % RAG_SID == 1]
    cmat = _train_coarse(emb, RAG_CELLS, IVFPQ_COARSE_ITERS, seed_rows=cseed)
    pqmat, valid = _train_residual_pq(
        emb, cmat, RAG_CODES, IVFPQ_PQ_ITERS, seed_rows=pseed
    )

    qids = np.array([r["vec_id"] for r in qrows], dtype=np.int64)
    qmat = np.array([r["q"] for r in qrows], dtype=np.int64)
    nq = len(qids)
    c2 = (cmat * cmat).sum(axis=1)
    qdist = c2[None, :] - 2 * (qmat @ cmat.T)
    # a tiny corpus can train fewer cells than nprobe (the oracle's
    # `rnk <= nprobe` and the reference's slice cap naturally; the
    # fixed-range loops here must cap too — r16 review follow-up)
    nprobe = min(nprobe, cmat.shape[0])
    probes = np.argsort(qdist, axis=1, kind="stable")[:, :nprobe]
    far = 1 << 60
    luts = np.zeros((nq, nprobe, IVFPQ_M, pqmat.shape[1]), dtype=np.int64)
    for qi in range(nq):
        for pj in range(nprobe):
            qr = (qmat[qi] - cmat[probes[qi, pj]]).reshape(IVFPQ_M, IVFPQ_D)
            diff = qr[:, None, :] - pqmat
            lut = (diff * diff).sum(axis=2)
            luts[qi, pj] = np.where(valid, lut, far)

    # The brute-force grader and the rerank distances fold into the SAME
    # numpy pass that ADC-scores the corpus (guide §4.2: hand whole
    # batches to vectorized native code; §2.3: don't re-shuffle payloads
    # a pass already holds). The r16 shape re-derived them in the JVM as
    # an interpreted-fold BNLJ (broadcast panel x corpus, ~22 x 12k pairs
    # x 64-dim zip_with/aggregate) plus a rerank double-join back onto
    # the cached vectors. Here every batch computes the exact int64
    # distance matrix panel x batch once (q2 - 2 q.x + x2, values < 2^40
    # — far inside int64), emits
    #   kind 0: ADC candidates (cross-doc, probed cells) carrying BOTH
    #           adc_dist and their exact distance (the rerank input);
    #   kind 1: the batch-local exact top-k per query (cross-doc) — the
    #           union over batches contains the global top-k, which the
    #           downstream window re-derives with identical (dist,
    #           neighbor_id) tie order.
    # Arithmetic is bit-identical to _sq_dist's int64 fold, so the
    # oracle surface is unchanged (proven vs RAG_RECALL_SQL).
    q2 = (qmat * qmat).sum(axis=1)
    qdoc = qids // RAG_SID

    def score(batches):
        m_idx = np.arange(IVFPQ_M)
        for pdf in batches:
            if not len(pdf):
                continue
            x = _batch_mat(pdf)
            cells = _coarse_assign(x, cmat)
            r = (x - cmat[cells]).reshape(len(x), IVFPQ_M, IVFPQ_D)
            codes = _pq_encode(r, pqmat, valid)
            vec_ids = pdf["vec_id"].to_numpy()
            ndoc = vec_ids // RAG_SID
            x2 = (x * x).sum(axis=1)
            dmat = q2[:, None] - 2 * (qmat @ x.T) + x2[None, :]
            out_q, out_n, out_a, out_e, out_k = [], [], [], [], []
            for qi in range(nq):
                cross = ndoc != qdoc[qi]
                # batch-local exact top-k (kind 1)
                d = np.where(cross, dmat[qi], far)
                order = np.lexsort((vec_ids, d))[:k]
                order = order[d[order] < far]
                if len(order):
                    out_q.append(np.full(len(order), qids[qi], dtype=np.int64))
                    out_n.append(vec_ids[order])
                    out_a.append(d[order])
                    out_e.append(d[order])
                    out_k.append(np.ones(len(order), dtype=np.int32))
                for pj in range(nprobe):
                    sel = (cells == probes[qi, pj]) & cross
                    if not sel.any():
                        continue
                    adc = luts[qi, pj][m_idx[None, :], codes[sel]].sum(axis=1)
                    n_sel = int(sel.sum())
                    out_q.append(np.full(n_sel, qids[qi], dtype=np.int64))
                    out_n.append(vec_ids[sel])
                    out_a.append(adc)
                    out_e.append(dmat[qi, sel])
                    out_k.append(np.zeros(n_sel, dtype=np.int32))
            if not out_q:
                continue
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(out_q),
                    "neighbor_id": np.concatenate(out_n),
                    "adc_dist": np.concatenate(out_a),
                    "exact_dist": np.concatenate(out_e),
                    "kind": np.concatenate(out_k),
                }
            )

    # one pass over the cached vectors; materialized once because both
    # the candidate branch and the exact-grader branch consume it
    scored = emb.mapInPandas(
        score,
        "query_id bigint, neighbor_id bigint, adc_dist bigint, "
        "exact_dist bigint, kind int",
    ).localCheckpoint(eager=True)
    wc = Window.partitionBy("query_id")
    wr = wc.orderBy("adc_dist", "neighbor_id")
    ranked = (
        scored.where(F.col("kind") == 0)
        .withColumn("n_candidates", F.count(F.lit(1)).over(wc).cast("long"))
        .withColumn("rank", F.row_number().over(wr))
    )
    wex = wc.orderBy("exact_dist", "neighbor_id")
    exact = (
        scored.where(F.col("kind") == 1)
        .withColumn("rrank", F.row_number().over(wex))
        .where(F.col("rrank") <= k)
        .select(
            F.col("query_id").alias("eq"),
            F.col("neighbor_id").alias("en"),
        )
    )
    rer = (
        ranked.where(F.col("rank") <= rerank)
        .withColumn("rrank", F.row_number().over(wex))
        .where(F.col("rrank") <= k)
        .select("query_id", "neighbor_id")
    )
    spine = local_df(
        spark, [(int(q),) for q in qids], "query_id bigint"
    )
    out = _grade_hits(ranked, rer, exact, spine, k).localCheckpoint(
        eager=True
    )
    emb.unpersist()
    return out


def _grade(
    ranked: DataFrame,
    qv: DataFrame,
    nv: DataFrame,
    k: int,
    rerank: int,
) -> DataFrame:
    """Shared grading tail for the in-process and artifact rows (r16
    review finding: keep the two plans in lockstep): exact rerank of
    the ADC pool, the brute-force exact twin, per-query hit counts,
    and the PANEL SPINE — every panel query with an embedding reports
    a row, so a query whose probed cells held no cross-document
    candidate reads (0, 0, 0, 0) instead of silently vanishing from
    the certificate (the worst-recall query is exactly the one a
    silent omission would hide). Identical LEFT-JOIN/COALESCE spine
    in the SQL twin.

    ``ranked``: (query_id, neighbor_id, adc_dist, n_candidates, rank);
    ``qv``: (query_id, qq) — the panel; ``nv``: (neighbor_id, nq)."""
    # two-stage: exact int64 L2 over the ADC pool only
    wrr = Window.partitionBy("query_id").orderBy("dist", "neighbor_id")
    rer = (
        ranked.where(F.col("rank") <= rerank)
        .select("query_id", "neighbor_id")
        .join(F.broadcast(qv), "query_id")
        .join(nv, "neighbor_id")
        .withColumn("dist", _sq_dist(F.col("qq"), F.col("nq")))
        .withColumn("rrank", F.row_number().over(wrr))
        .where(F.col("rrank") <= k)
        .select("query_id", "neighbor_id")
    )

    # brute-force twin: the grader (broadcast panel x corpus, linear)
    exact = (
        F.broadcast(qv)
        .join(
            nv,
            F.expr(f"query_id div {RAG_SID}")
            != F.expr(f"neighbor_id div {RAG_SID}"),
        )
        .withColumn("dist", _sq_dist(F.col("qq"), F.col("nq")))
        .withColumn("rrank", F.row_number().over(wrr))
        .where(F.col("rrank") <= k)
        .select(
            F.col("query_id").alias("eq"),
            F.col("neighbor_id").alias("en"),
        )
    )

    return _grade_hits(ranked, rer, exact, qv.select("query_id"), k)


def _grade_hits(
    ranked: DataFrame,
    rer: DataFrame,
    exact: DataFrame,
    spine: DataFrame,
    k: int,
) -> DataFrame:
    """The hit-counting + panel-spine tail shared by _grade (artifact
    serving path) and rag_recall's fused in-process path. ``ranked``
    carries (query_id, neighbor_id, n_candidates, rank); ``rer`` the
    reranked top-k pairs; ``exact`` the brute-force top-k as (eq, en);
    ``spine`` one query_id row per panel member."""
    cand = (
        ranked.where(F.col("rank") == 1)
        .select("query_id", "n_candidates")
    )
    hadc = (
        ranked.where(F.col("rank") <= k)
        .join(
            F.broadcast(exact),
            (F.col("query_id") == F.col("eq"))
            & (F.col("neighbor_id") == F.col("en")),
            "left",
        )
        .groupBy("query_id")
        .agg(
            F.sum(F.when(F.col("en").isNotNull(), 1).otherwise(0))
            .cast("long")
            .alias("hits_adc")
        )
    )
    hrer = (
        rer.join(
            F.broadcast(exact),
            (F.col("query_id") == F.col("eq"))
            & (F.col("neighbor_id") == F.col("en")),
            "left",
        )
        .groupBy("query_id")
        .agg(
            F.sum(F.when(F.col("en").isNotNull(), 1).otherwise(0))
            .cast("long")
            .alias("hits_rerank")
        )
    )
    return (
        spine
        .join(cand, "query_id", "left")
        .join(hadc, "query_id", "left")
        .join(hrer, "query_id", "left")
        .select(
            "query_id",
            F.coalesce("n_candidates", F.lit(0)).cast("long").alias(
                "n_candidates"
            ),
            F.coalesce("hits_adc", F.lit(0)).cast("long").alias("hits_adc"),
            F.coalesce("hits_rerank", F.lit(0))
            .cast("long")
            .alias("hits_rerank"),
            F.expr(f"(coalesce(hits_rerank, 0) * 1000) div {k}")
            .cast("long")
            .alias("recall_milli"),
        )
        .orderBy("query_id")
    )


def _rag_recall_sql(
    k: int = RAG_K, nprobe: int = RAG_NPROBE, rerank: int = RAG_RERANK
) -> str:
    """Unrolled DuckDB twin of the WHOLE pipeline — the ivfpq oracle's
    CTE chain grafted onto the chunk-embedding relation, extended with
    the same-doc exclusion, the rerank stage, the brute-force grader,
    and the per-query recall summary.

    Distances use the a.a - 2a.b + b.b expansion over DOUBLE dot
    products: every term is < 2^53 at this lattice scale, so the
    doubles are exact and the BIGINT casts match Spark's int64 math
    bit-for-bit (the ivfpq discipline)."""
    size, stride, sid, dim = RAG_CHUNK_SIZE, RAG_CHUNK_STRIDE, RAG_SID, RAG_DIM
    full_dist = (
        "(list_dot_product(x.q::DOUBLE[], x.q::DOUBLE[]) "
        "- 2 * list_dot_product(x.q::DOUBLE[], c.c::DOUBLE[]) "
        "+ list_dot_product(c.c::DOUBLE[], c.c::DOUBLE[]))"
    )
    sub_dist = (
        "(list_dot_product(x.s::DOUBLE[], x.s::DOUBLE[]) "
        "- 2 * list_dot_product(x.s::DOUBLE[], c.c::DOUBLE[]) "
        "+ list_dot_product(c.c::DOUBLE[], c.c::DOUBLE[]))"
    )
    sqd = (
        "(list_dot_product(a.qq::DOUBLE[], a.qq::DOUBLE[]) "
        "- 2 * list_dot_product(a.qq::DOUBLE[], b.nq::DOUBLE[]) "
        "+ list_dot_product(b.nq::DOUBLE[], b.nq::DOUBLE[]))"
    )
    ctes = [
        f"""t AS (
  SELECT doc_id,
         regexp_extract_all(text, '{TOKEN_REGEX}') AS toks,
         CAST(len(regexp_extract_all(text, '{TOKEN_REGEX}')) AS BIGINT) AS n
  FROM documents
)""",
        f"""spec AS (
  SELECT doc_id, toks,
         CASE WHEN n <= {size} THEN CAST(1 AS BIGINT)
              ELSE 1 + (n - {size} + {stride} - 1) // {stride}
         END AS n_chunks
  FROM t
)""",
        f"""chunks AS (
  SELECT doc_id * {sid} + CAST(i AS BIGINT) AS vec_id,
         toks[CAST(i * {stride} + 1 AS BIGINT)
              : CAST(i * {stride} + {size} AS BIGINT)] AS chunk
  FROM spec, UNNEST(generate_series(0, n_chunks - 1)) AS u(i)
)""",
        """ctoks AS (
  SELECT vec_id, unnest(chunk) AS tok FROM chunks
)""",
        f"""sums AS (
  SELECT vec_id, j,
         CAST(SUM((({hash32_sql('tok')} * {RAG_A} + {RAG_B}
                    + j * {RAG_C}) % {MINHASH_P}) % {RAG_SPAN}
                  - {RAG_SPAN // 2}) AS BIGINT) AS s
  FROM ctoks, UNNEST(generate_series(CAST(0 AS BIGINT),
                                     CAST({dim - 1} AS BIGINT))) AS d(j)
  GROUP BY vec_id, j
)""",
        """qv AS (
  SELECT vec_id, list(s ORDER BY j) AS q FROM sums GROUP BY vec_id
)""",
        f"""cc0 AS (
  SELECT vec_id AS cid, q AS c FROM qv
  WHERE vec_id % {sid} = 0 AND vec_id < {RAG_CELLS * sid}
)""",
    ]
    prev = "cc0"
    for it in range(1, IVFPQ_COARSE_ITERS + 1):
        ctes.append(f"""ca{it} AS (
  SELECT vec_id, cid AS cluster, q FROM (
    SELECT x.vec_id, c.cid, x.q,
           ROW_NUMBER() OVER (PARTITION BY x.vec_id
                              ORDER BY {full_dist}, c.cid) AS rnk
    FROM qv x JOIN {prev} c ON true
  ) WHERE rnk = 1
)""")
        ctes.append(f"""cu{it} AS (
  SELECT cluster, i,
         CAST(floor(CAST(SUM(q[i]) AS DOUBLE) / COUNT(*)) AS BIGINT) AS v
  FROM ca{it}, generate_series(1, {dim}) t2(i)
  GROUP BY cluster, i
)""")
        ctes.append(f"""cc{it} AS (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY cluster) - 1 AS BIGINT) AS cid,
         c
  FROM (SELECT cluster, list(v ORDER BY i) AS c
        FROM cu{it} GROUP BY cluster)
)""")
        prev = f"cc{it}"
    ctes.append(f"""cells AS (
  SELECT vec_id, cid AS cell, q FROM (
    SELECT x.vec_id, c.cid, x.q,
           ROW_NUMBER() OVER (PARTITION BY x.vec_id
                              ORDER BY {full_dist}, c.cid) AS rnk
    FROM qv x JOIN {prev} c ON true
  ) WHERE rnk = 1
)""")
    ctes.append(f"""rsub AS (
  SELECT v.vec_id, v.cell, t3.m AS m,
         list_transform(generate_series((t3.m - 1) * {IVFPQ_D} + 1,
                                        t3.m * {IVFPQ_D}),
                        i -> v.q[i] - c.c[i]) AS s
  FROM cells v
  JOIN {prev} c ON c.cid = v.cell,
       generate_series(1, {IVFPQ_M}) t3(m)
)""")
    ctes.append(
        f"pb0 AS (SELECT m, vec_id AS code, s AS c FROM rsub "
        f"WHERE vec_id % {sid} = 0 AND vec_id < {RAG_CODES * sid})"
    )
    pprev = "pb0"
    for it in range(1, IVFPQ_PQ_ITERS + 1):
        ctes.append(f"""pa{it} AS (
  SELECT vec_id, m, code, s FROM (
    SELECT x.vec_id, x.m, c.code, x.s,
           ROW_NUMBER() OVER (PARTITION BY x.vec_id, x.m
                              ORDER BY {sub_dist}, c.code) AS rnk
    FROM rsub x JOIN {pprev} c ON c.m = x.m
  ) WHERE rnk = 1
)""")
        ctes.append(f"""pu{it} AS (
  SELECT m, code, i,
         CAST(floor(CAST(SUM(s[i]) AS DOUBLE) / COUNT(*)) AS BIGINT) AS v
  FROM pa{it}, generate_series(1, {IVFPQ_D}) t4(i)
  GROUP BY m, code, i
)""")
        ctes.append(
            f"pb{it} AS (SELECT m, code, list(v ORDER BY i) AS c "
            f"FROM pu{it} GROUP BY m, code)"
        )
        pprev = f"pb{it}"
    ctes.append(f"""enc AS (
  SELECT vec_id, cell, m, code FROM (
    SELECT x.vec_id, x.cell, x.m, c.code,
           ROW_NUMBER() OVER (PARTITION BY x.vec_id, x.m
                              ORDER BY {sub_dist}, c.code) AS rnk
    FROM rsub x JOIN {pprev} c ON c.m = x.m
  ) WHERE rnk = 1
)""")
    ctes.append(f"""probes AS (
  SELECT vec_id AS query_id, cid AS cell, q FROM (
    SELECT x.vec_id, c.cid, x.q,
           ROW_NUMBER() OVER (PARTITION BY x.vec_id
                              ORDER BY {full_dist}, c.cid) AS rnk
    FROM qv x JOIN {prev} c ON true
    WHERE x.vec_id % {sid} = 1 AND x.vec_id < {RAG_QUERY_DOCS * sid}
  ) WHERE rnk <= {nprobe}
)""")
    ctes.append(f"""qsub AS (
  SELECT p.query_id, p.cell, t5.m AS m,
         list_transform(generate_series((t5.m - 1) * {IVFPQ_D} + 1,
                                        t5.m * {IVFPQ_D}),
                        i -> p.q[i] - c.c[i]) AS s
  FROM probes p
  JOIN {prev} c ON c.cid = p.cell,
       generate_series(1, {IVFPQ_M}) t5(m)
)""")
    ctes.append(f"""lut AS (
  SELECT x.query_id, x.cell, x.m, c.code, CAST({sub_dist} AS BIGINT) AS dist
  FROM qsub x JOIN {pprev} c ON c.m = x.m
)""")
    ctes.append(f"""adc AS (
  SELECT l.query_id, e.vec_id AS neighbor_id,
         CAST(SUM(l.dist) AS BIGINT) AS adc_dist
  FROM enc e
  JOIN lut l ON l.cell = e.cell AND l.m = e.m AND l.code = e.code
  WHERE l.query_id // {sid} <> e.vec_id // {sid}
  GROUP BY 1, 2
)""")
    ctes.append("""rankedadc AS (
  SELECT query_id, neighbor_id, adc_dist,
         CAST(COUNT(*) OVER (PARTITION BY query_id) AS BIGINT)
           AS n_candidates,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY adc_dist, neighbor_id) AS rank
  FROM adc
)""")
    ctes.append(f"""exq AS (
  SELECT vec_id AS query_id, q AS qq FROM qv
  WHERE vec_id % {sid} = 1 AND vec_id < {RAG_QUERY_DOCS * sid}
)""")
    ctes.append(f"""rer AS (
  SELECT query_id, neighbor_id FROM (
    SELECT a.query_id, b.vec_id AS neighbor_id,
           ROW_NUMBER() OVER (
             PARTITION BY a.query_id
             ORDER BY CAST({sqd} AS BIGINT), b.vec_id) AS rrank
    FROM (SELECT r.query_id, r.neighbor_id, e2.qq
          FROM rankedadc r JOIN exq e2 USING (query_id)
          WHERE r.rank <= {rerank}) a
    JOIN (SELECT vec_id, q AS nq FROM qv) b
      ON b.vec_id = a.neighbor_id
  ) WHERE rrank <= {k}
)""")
    ctes.append(f"""exact AS (
  SELECT query_id, neighbor_id FROM (
    SELECT a.query_id, b.vec_id AS neighbor_id,
           ROW_NUMBER() OVER (
             PARTITION BY a.query_id
             ORDER BY CAST({sqd} AS BIGINT), b.vec_id) AS rrank
    FROM exq a
    JOIN (SELECT vec_id, q AS nq FROM qv) b
      ON a.query_id // {sid} <> b.vec_id // {sid}
  ) WHERE rrank <= {k}
)""")
    ctes.append(f"""hadc AS (
  SELECT r.query_id,
         CAST(SUM(CASE WHEN e.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS hits_adc
  FROM rankedadc r
  LEFT JOIN exact e
    ON e.query_id = r.query_id AND e.neighbor_id = r.neighbor_id
  WHERE r.rank <= {k}
  GROUP BY r.query_id
)""")
    ctes.append("""hrer AS (
  SELECT r.query_id,
         CAST(SUM(CASE WHEN e.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS hits_rerank
  FROM rer r
  LEFT JOIN exact e
    ON e.query_id = r.query_id AND e.neighbor_id = r.neighbor_id
  GROUP BY r.query_id
)""")
    # panel SPINE (the _grade discipline): every panel query reports a
    # row — a candidate-less query reads (0, 0, 0, 0), never vanishes
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT q.query_id,
       CAST(COALESCE(b.n_candidates, 0) AS BIGINT) AS n_candidates,
       CAST(COALESCE(ha.hits_adc, 0) AS BIGINT) AS hits_adc,
       CAST(COALESCE(hr.hits_rerank, 0) AS BIGINT) AS hits_rerank,
       CAST((COALESCE(hr.hits_rerank, 0) * 1000) // {k} AS BIGINT)
         AS recall_milli
FROM exq q
LEFT JOIN (SELECT query_id, n_candidates FROM rankedadc WHERE rank = 1) b
  USING (query_id)
LEFT JOIN hadc ha USING (query_id)
LEFT JOIN hrer hr USING (query_id)
ORDER BY q.query_id"""
    )


RAG_RECALL_SQL = _rag_recall_sql()


# ---------------------------------------------------------------------------
# The index as a PERSISTED artifact (r16, the bpe_write_artifact
# discipline applied to retrieval): a production deployment trains the
# IVFPQ index once, ships (vectors, centroids, codebooks, codes) as
# versioned tables, and every serving query reads ONLY the artifact.
# ---------------------------------------------------------------------------


def rag_write_index(spark: SparkSession, sf_dir: str, path: str) -> None:
    """Build the IVFPQ index over the chunked corpus and persist it as
    four parquet tables under ``path``:

      vectors    (vec_id, q)          — stored vectors (rerank + grading)
      centroids  (cid, c)             — trained coarse cells
      codebooks  (m, code, c)         — trained residual-PQ codebooks
                                        (VALID codes only; an invalid
                                        code is never assigned, so its
                                        absence == the far-mask)
      codes      (vec_id, cell, code) — per-vector cell + M PQ codes,
                                        one row per (vector, subspace)

    The encode pass is the same fused Arrow-batched scan the in-process
    row uses; everything downstream of this write is artifact-only.
    """
    import pandas as pd

    np = _np()
    emb = chunk_vectors(load_table(spark, sf_dir, "documents")).persist()
    # one collect funds both trainers' seeds (guide §1.2; same fusion as
    # rag_recall — _split_seeds re-derives each trainer's subset)
    seed_rows = (
        emb.where(_seed_pred(max(RAG_CELLS, RAG_CODES)))
        .orderBy("vec_id")
        .collect()
    )
    cseed, pseed = _split_seeds(seed_rows)
    # the vectors dump depends only on the cached embeddings, not on the
    # trainers — run it on a driver thread so its tasks back-fill the
    # executor slots the 12-partition trainer passes leave idle (guide
    # §2.6 "overlap independent jobs"); joined before anything reads it
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=1) as pool:
        vec_fut = pool.submit(
            lambda: emb.write.mode("overwrite").parquet(f"{path}/vectors")
        )
        cmat = _train_coarse(
            emb, RAG_CELLS, IVFPQ_COARSE_ITERS, seed_rows=cseed
        )
        pqmat, valid = _train_residual_pq(
            emb, cmat, RAG_CODES, IVFPQ_PQ_ITERS, seed_rows=pseed
        )
        vec_fut.result()
    # local_df (Arrow-backed LocalTableScan): a coalesce(1) write of a
    # pickled-RDD local relation pays ~5s of per-partition Python worker
    # round-trips (guide §4) — measured on the bpe merge table; the two
    # index-metadata writes here had the same shape
    local_df(
        spark,
        [(int(i), [int(v) for v in row]) for i, row in enumerate(cmat)],
        "cid bigint, c array<bigint>",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/centroids")
    local_df(
        spark,
        [
            (int(m), int(code), [int(v) for v in pqmat[m, code]])
            for m in range(IVFPQ_M)
            for code in range(pqmat.shape[1])
            if bool(valid[m, code])
        ],
        "m int, code bigint, c array<bigint>",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/codebooks")

    def encode(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            x = _batch_mat(pdf)
            cells = _coarse_assign(x, cmat)
            r = (x - cmat[cells]).reshape(len(x), IVFPQ_M, IVFPQ_D)
            cd = _pq_encode(r, pqmat, valid)
            vec_ids = pdf["vec_id"].to_numpy()
            yield pd.DataFrame(
                {
                    "vec_id": np.repeat(vec_ids, IVFPQ_M),
                    "cell": np.repeat(cells.astype(np.int64), IVFPQ_M),
                    "m": np.tile(np.arange(IVFPQ_M), len(x)),
                    "code": cd.reshape(-1),
                }
            )

    emb.mapInPandas(
        encode, "vec_id bigint, cell bigint, m int, code bigint"
    ).write.mode("overwrite").parquet(f"{path}/codes")
    emb.unpersist()


def rag_query_index(
    spark: SparkSession,
    path: str,
    k: int = RAG_K,
    nprobe: int = RAG_NPROBE,
    rerank: int = RAG_RERANK,
) -> DataFrame:
    """Answer the fixed query panel from the PERSISTED index alone —
    the serving path. Bit-identical to rag_recall's in-process answer
    (the registered row's oracle IS RAG_RECALL_SQL, so a hash-green
    round proves artifact round-trip == in-process index), but the
    query job is PURE JVM DataFrame ops: no Python anywhere —

      probes     = queries x broadcast centroids, top-nprobe by exact
                   int L2 (ties to the lower cid — argsort parity);
      LUT        = per-(query, probed cell) residual subvectors joined
                   to the broadcast codebooks (nq x nprobe x M x codes
                   rows — bounded metadata, never data);
      candidates = codes ⋈ probed cells (the IVF prune), ADC = the
                   M-way LUT sum per (query, vector);
      rerank     = exact int64 L2 on the top-`rerank` pool against the
                   stored vectors;
      grading    = the same brute-force twin over the stored vectors.

    At 100 TB the codes table is the only corpus-scale relation in the
    query plan, and it arrives cell-pruned through an equi-join.
    """
    vecs = spark.read.parquet(f"{path}/vectors")
    cents = spark.read.parquet(f"{path}/centroids")
    books = spark.read.parquet(f"{path}/codebooks")
    codes = spark.read.parquet(f"{path}/codes")

    queries = vecs.where(_query_pred()).select(
        F.col("vec_id").alias("query_id"), F.col("q").alias("qq")
    )
    cdist = F.aggregate(
        F.zip_with("qq", "c", lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    wprobe = Window.partitionBy("query_id").orderBy("cdist", "cid")
    probes = (
        queries.join(F.broadcast(cents), F.lit(True))
        .withColumn("cdist", cdist)
        .withColumn("prank", F.row_number().over(wprobe))
        .where(F.col("prank") <= nprobe)
        .select(
            "query_id",
            F.col("cid").alias("cell"),
            F.zip_with("qq", "c", lambda x, y: x - y).alias("qr"),
        )
    )
    sub = F.slice(
        F.col("qr"), F.col("m") * F.lit(IVFPQ_D) + 1, IVFPQ_D
    )
    lut = (
        probes.select(
            "query_id",
            "cell",
            F.explode(F.sequence(F.lit(0), F.lit(IVFPQ_M - 1))).alias("m"),
            "qr",
        )
        .select("query_id", "cell", "m", sub.alias("s"))
        .join(F.broadcast(books), "m")
        .select(
            "query_id",
            "cell",
            "m",
            "code",
            F.aggregate(
                F.zip_with("s", "c", lambda x, y: (x - y) * (x - y)),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ).alias("dist"),
        )
    )
    scored = (
        codes.join(F.broadcast(lut), ["cell", "m", "code"])
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.sum("dist").cast("long").alias("adc_dist"))
        .where(
            F.expr(f"query_id div {RAG_SID}")
            != F.expr(f"neighbor_id div {RAG_SID}")
        )
    )
    wc = Window.partitionBy("query_id")
    wr = wc.orderBy("adc_dist", "neighbor_id")
    ranked = scored.withColumn(
        "n_candidates", F.count(F.lit(1)).over(wc).cast("long")
    ).withColumn("rank", F.row_number().over(wr))

    nv = vecs.select(F.col("vec_id").alias("neighbor_id"), F.col("q").alias("nq"))
    return _grade(ranked, queries, nv, k, rerank)


def rag_index_artifact_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The registered round-trip row: build + WRITE the index artifact,
    then answer the panel from the artifact alone. Oracle =
    RAG_RECALL_SQL (rag_recall's), so hash-green == persisted-index
    serving parity with the in-process build."""
    import os

    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    path = os.path.join(
        wh, "rag_index", os.path.basename(sf_dir.rstrip("/"))
    )
    rag_write_index(spark, sf_dir, path)
    return rag_query_index(spark, path).localCheckpoint(eager=True)
