"""Corpus-curation operators: the steps between raw documents and
training shards that the dedup/quality operators feed.

  contamination        word-3-gram overlap between the training split and
                       a benchmark (eval) set — the decontamination check
                       every LLM data pipeline runs before training
  stratified_sample    deterministic per-language hash sampling (md5
                       buckets, no rand(): retries and both engines agree)
  leakage_safe_split   train/val/test assignment hashed on the NEAR-DUP
                       CLUSTER id, so near-duplicates co-travel and never
                       straddle the train/eval boundary
  pii_scrub            email/phone/IPv4 redaction with per-kind counts

Scale design (100 TB):
  * contamination is inverted-index shaped like ngram_jaccard_pairs —
    candidates come only from shared grams, with the same max-DF posting
    cap guarding against boilerplate-gram cross products;
  * sampling and scrubbing are pure projections/filters — no shuffle,
    fully pushed into the scan stage;
  * the split builds on dup_components (O(log d) distributed rounds) and
    then is again a pure projection.

All hashing is portable md5 (functions/texthash.py) so every operator is
hash-checked against its DuckDB twin.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.texthash import hash32, hash32_sql, hash60, hash60_sql
from .dedup import _NGRAMS_SQL, _shingle_hashes, dup_components

# ---------------------------------------------------------------------------
# benchmark decontamination
# ---------------------------------------------------------------------------

BENCH_MOD = 20  # doc_id % 20 == 0 -> the stand-in benchmark/eval set
CONTAMINATION_MAX_DF = 100


def _shingles_where_sql(pred: str) -> str:
    """The dedup shingle relation restricted by a doc predicate."""
    return f"""
  SELECT doc_id, {hash32_sql('g')} AS h
  FROM (
    SELECT doc_id, unnest({_NGRAMS_SQL}) AS g
    FROM documents WHERE {pred}
  )
  GROUP BY doc_id, h
"""


def contamination(
    docs: DataFrame,
    bench_mod: int = BENCH_MOD,
    max_df: int = CONTAMINATION_MAX_DF,
    checkpoint: bool = True,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, n_grams, n_shared_grams, n_bench_docs, contaminated) for
    every TRAIN document (doc_id % bench_mod != 0) against the benchmark
    set (doc_id % bench_mod == 0).

    Real pipelines check 8-13-gram overlap against actual eval suites;
    the fixture benchmark is a deterministic slice of `documents` so the
    whole computation is oracle-checkable. Inverted-index shaped: train
    and benchmark shingle relations meet ONLY through shared gram hashes
    (no doc x doc product), and benchmark postings longer than `max_df`
    are dropped before the join — the same bounded-posting discipline as
    ngram_jaccard_pairs, with the same consequence: overlap counts are
    lower bounds when a gram is ultra-common in the benchmark.
    """
    bench_pred = (F.col("doc_id") % bench_mod) == 0
    owns_cache = shingles is None
    if owns_cache:
        # shingling is per-doc, so splitting before or after it is
        # equivalent; when a caller supplies the session's shared full
        # shingle relation (already materialized) we just filter it
        tr = _shingle_hashes(docs.where(~bench_pred)).persist()
        tr.count()  # eager: both the sizes agg and the join read this
        bn_src = _shingle_hashes(docs.where(bench_pred))
    else:
        tr = shingles.where(~bench_pred)
        bn_src = shingles.where(bench_pred)
    bn = bn_src.select(F.col("doc_id").alias("bench_id"), "h")
    sizes = tr.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_grams"))
    bn_kept = (
        bn.withColumn("dfn", F.count(F.lit(1)).over(Window.partitionBy("h")))
        .where(F.col("dfn") <= max_df)
        .drop("dfn")
    )
    hits = (
        tr.join(bn_kept, "h")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("h").alias("n_shared_grams"),
            F.countDistinct("bench_id").alias("n_bench_docs"),
        )
    )
    out = (
        sizes.join(hits, "doc_id", "left")
        .select(
            "doc_id",
            "n_grams",
            F.coalesce("n_shared_grams", F.lit(0)).alias("n_shared_grams"),
            F.coalesce("n_bench_docs", F.lit(0)).alias("n_bench_docs"),
            (F.coalesce("n_shared_grams", F.lit(0)) > 0)
            .cast("int")
            .alias("contaminated"),
        )
        .orderBy("doc_id")
    )
    if not checkpoint:
        # plan-inspection path: leave the logical plan visible (the shingle
        # cache is then released by the caller's session lifecycle)
        return out
    out = out.localCheckpoint(eager=True)
    if owns_cache:
        tr.unpersist()
    return out


CONTAMINATION_SQL = f"""
WITH train_sh AS ({_shingles_where_sql(f"doc_id % {BENCH_MOD} != 0")}),
bench_sh AS ({_shingles_where_sql(f"doc_id % {BENCH_MOD} = 0")}),
bench_kept AS (
  SELECT h, bench_id FROM (
    SELECT h, doc_id AS bench_id,
           COUNT(*) OVER (PARTITION BY h) AS dfn
    FROM bench_sh
  ) WHERE dfn <= {CONTAMINATION_MAX_DF}
),
sizes AS (SELECT doc_id, COUNT(*) AS n_grams FROM train_sh GROUP BY doc_id),
hits AS (
  SELECT t.doc_id,
         COUNT(DISTINCT t.h) AS n_shared_grams,
         COUNT(DISTINCT b.bench_id) AS n_bench_docs
  FROM train_sh t JOIN bench_kept b ON t.h = b.h
  GROUP BY t.doc_id
)
SELECT s.doc_id, s.n_grams,
       COALESCE(h.n_shared_grams, 0) AS n_shared_grams,
       COALESCE(h.n_bench_docs, 0) AS n_bench_docs,
       CAST(COALESCE(h.n_shared_grams, 0) > 0 AS INT) AS contaminated
FROM sizes s LEFT JOIN hits h USING (doc_id)
ORDER BY s.doc_id
"""


# ---------------------------------------------------------------------------
# deterministic stratified sampling
# ---------------------------------------------------------------------------

SAMPLE_RATES: dict[str, float] = {"en": 0.5, "zh": 0.3, "es": 0.2}
SAMPLE_DEFAULT_RATE = 0.1
SAMPLE_SALT = "smpl"
_SAMPLE_BUCKETS = 10_000


def stratified_sample(
    docs: DataFrame,
    rates: dict[str, float] | None = None,
    default_rate: float = SAMPLE_DEFAULT_RATE,
    salt: str = SAMPLE_SALT,
) -> DataFrame:
    """Per-language deterministic sample: keep a doc iff its md5 bucket
    falls below the language's rate threshold.

    rand()-free by construction — the same doc is kept on every run, on
    every retry, and in both engines, which is what makes downstream
    experiments reproducible. Pure filter: no shuffle, and the bucket
    arithmetic stays inside whole-stage codegen. Down-weighting dominant
    languages (the defaults halve `en`) is the standard corpus-balancing
    move at 100 TB, where you cannot afford to materialize-then-sample.
    """
    rates = SAMPLE_RATES if rates is None else rates
    bucket = (
        hash32(F.concat(F.lit(salt + ":"), F.col("doc_id").cast("string")))
        % _SAMPLE_BUCKETS
    )
    threshold: Column = F.lit(int(default_rate * _SAMPLE_BUCKETS))
    for lang, rate in rates.items():
        threshold = F.when(
            F.col("lang") == lang, F.lit(int(rate * _SAMPLE_BUCKETS))
        ).otherwise(threshold)
    return (
        docs.select(
            "doc_id",
            "lang",
            "source",
            bucket.cast("int").alias("sample_bucket"),
            threshold.cast("int").alias("bucket_threshold"),
        )
        .where(F.col("sample_bucket") < F.col("bucket_threshold"))
        .orderBy("doc_id")
    )


def _sample_sql() -> str:
    bucket = hash32_sql(f"('{SAMPLE_SALT}:' || CAST(doc_id AS VARCHAR))")
    threshold = str(int(SAMPLE_DEFAULT_RATE * _SAMPLE_BUCKETS))
    for lang, rate in SAMPLE_RATES.items():
        threshold = (
            f"CASE WHEN lang = '{lang}' THEN {int(rate * _SAMPLE_BUCKETS)} "
            f"ELSE {threshold} END"
        )
    return f"""
SELECT doc_id, lang, source, sample_bucket, bucket_threshold
FROM (
  SELECT doc_id, lang, source,
         CAST({bucket} % {_SAMPLE_BUCKETS} AS INT) AS sample_bucket,
         CAST({threshold} AS INT) AS bucket_threshold
  FROM documents
)
WHERE sample_bucket < bucket_threshold
ORDER BY doc_id
"""


STRATIFIED_SAMPLE_SQL = _sample_sql()


# ---------------------------------------------------------------------------
# weighted sampling WITHOUT replacement — A-ES (Efraimidis & Spirakis,
# IPL 2006): key_i = u_i^(1/w_i) with u_i uniform; the k largest keys
# are an exact weighted sample without replacement. THE one-pass
# distributed algorithm for "sample 1M docs proportional to length/
# quality score" at 100 TB — no total-weight pre-pass, no sequential
# draw, merge = top-k (associative), so executors keep local top-k and
# only k rows per partition ever move.
# ---------------------------------------------------------------------------

WSAMPLE_K = 25
WSAMPLE_SALT = "wsample"
# hash60 space; +1 keeps u in (0, 1] so pow/ln are defined
_HASH60_SPACE = float(1 << 60)


def weighted_sample(docs: DataFrame, k: int = WSAMPLE_K) -> DataFrame:
    """(rank, doc_id, lang, n_chars, aes_key): exact A-ES weighted
    sample without replacement, weight = n_chars, u from the portable
    md5 hash60 — rand()-free, so the sample is reproducible across
    runs, retries, and engines (the stratified_sample discipline
    applied to WEIGHTED draws).

    Exactness: u = (hash60+1)/2^60 is one exact int-to-double cast and
    one division; pow(u, 1/w) is a single libm call verified bit-equal
    between the JVM and DuckDB over the whole corpus; ranking orders by
    (key DESC, doc_id), and adjacent keys are random doubles whose gaps
    dwarf any conceivable ulp noise.

    Scale: the keying is a stateless projection (whole-stage codegen);
    top-k plans as TakeOrderedAndProject — each task keeps k rows, the
    driver merges; nothing else shuffles. The window that numbers the
    final ranks runs over k rows.
    """
    u = (
        hash60(
            F.concat(
                F.lit(WSAMPLE_SALT + ":"), F.col("doc_id").cast("string")
            )
        )
        + 1
    ).cast("double") / F.lit(_HASH60_SPACE)
    key = F.pow(u, F.lit(1.0) / F.col("n_chars").cast("double"))
    scored = docs.where(
        F.col("n_chars").isNotNull() & (F.col("n_chars") > 0)
    ).select("doc_id", "lang", "n_chars", key.alias("aes_key"))
    topk = scored.orderBy(F.desc("aes_key"), F.col("doc_id")).limit(k)
    w = Window.orderBy(F.desc("aes_key"), F.col("doc_id"))
    return (
        topk.withColumn("rank", F.row_number().over(w).cast("int"))
        .select("rank", "doc_id", "lang", "n_chars", "aes_key")
        .orderBy("rank")
    )


def _wsample_sql(k: int = WSAMPLE_K) -> str:
    u = (
        f"CAST(({hash60_sql(repr(WSAMPLE_SALT + ':') + ' || CAST(doc_id AS VARCHAR)')} + 1) AS DOUBLE)"
        f" / {_HASH60_SPACE!r}"
    )
    return f"""
WITH scored AS (
  SELECT doc_id, lang, n_chars,
         pow({u}, 1.0 / CAST(n_chars AS DOUBLE)) AS aes_key
  FROM documents
  WHERE n_chars IS NOT NULL AND n_chars > 0
)
SELECT CAST(ROW_NUMBER() OVER (ORDER BY aes_key DESC, doc_id) AS INT)
         AS rank,
       doc_id, lang, n_chars, aes_key
FROM scored
ORDER BY aes_key DESC, doc_id
LIMIT {k}
"""


WEIGHTED_SAMPLE_SQL = _wsample_sql()


# ---------------------------------------------------------------------------
# leakage-safe train/val/test split
# ---------------------------------------------------------------------------

SPLIT_SALT = "split"
VAL_PCT = 10
TEST_PCT = 10


def leakage_safe_split(
    docs: DataFrame,
    pairs: DataFrame,
    val_pct: int = VAL_PCT,
    test_pct: int = TEST_PCT,
) -> DataFrame:
    """(doc_id, cluster_id, split_bucket, split): train/val/test hashed on
    the near-dup CLUSTER id, not the doc id.

    Hashing doc_id would let two near-duplicate documents land in train
    and test — silent eval contamination. Components over the near-dup
    pair graph (dup_components) give every doc a cluster id (singletons
    are their own cluster); the split bucket is md5(cluster_id), so a
    whole cluster co-travels. Adding documents later never reshuffles
    existing assignments (hash, not modulo-of-count).
    """
    comp = dup_components(pairs)
    assigned = (
        docs.select("doc_id")
        .join(comp, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("cluster_id", F.col("doc_id")).alias("cluster_id"),
        )
    )
    bucket = (
        hash32(
            F.concat(F.lit(SPLIT_SALT + ":"), F.col("cluster_id").cast("string"))
        )
        % 100
    )
    train_hi = 100 - val_pct - test_pct
    val_hi = 100 - test_pct
    split = (
        F.when(F.col("split_bucket") < train_hi, "train")
        .when(F.col("split_bucket") < val_hi, "val")
        .otherwise("test")
    )
    return (
        assigned.withColumn("split_bucket", bucket.cast("int"))
        .withColumn("split", split)
        .orderBy("doc_id")
    )


def _split_sql(pairs_sql: str) -> str:
    from .dedup import _components_sql

    bucket = hash32_sql("('" + SPLIT_SALT + ":' || CAST(cluster_id AS VARCHAR))")
    train_hi = 100 - VAL_PCT - TEST_PCT
    val_hi = 100 - TEST_PCT
    return f"""
WITH RECURSIVE {_components_sql(pairs_sql)},
assigned AS (
  SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS cluster_id
  FROM documents d LEFT JOIN comp c USING (doc_id)
)
SELECT doc_id, cluster_id, split_bucket,
       CASE WHEN split_bucket < {train_hi} THEN 'train'
            WHEN split_bucket < {val_hi} THEN 'val'
            ELSE 'test' END AS split
FROM (SELECT doc_id, cluster_id,
             CAST({bucket} % 100 AS INT) AS split_bucket
      FROM assigned)
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# PII scrubbing
# ---------------------------------------------------------------------------

# deliberately conservative patterns that parse identically under Java
# regex (Spark) and RE2 (DuckDB): no backrefs, no lookaround
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\+?[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}"
IPV4_RE = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"


def pii_scrub(docs: DataFrame) -> DataFrame:
    """(doc_id, n_emails, n_phones, n_ips, pii_any, scrubbed_md5):
    redact emails/phones/IPv4s and count each kind.

    Pure projection — regex matching inside codegen, no shuffle. The
    scrubbed text itself is exposed as an md5 (the driver gate hashes
    scalar cells, and at 100 TB you'd write the scrubbed column to the
    output table, not ship it to a driver). Redaction order is fixed
    (email, phone, IP) in both engines: an IPv4-looking fragment inside
    an email local part is consumed by the email pass first.
    """
    n_emails = F.regexp_count("text", F.lit(EMAIL_RE))
    n_phones = F.regexp_count("text", F.lit(PHONE_RE))
    n_ips = F.regexp_count("text", F.lit(IPV4_RE))
    scrubbed = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace("text", EMAIL_RE, "<EMAIL>"), PHONE_RE, "<PHONE>"
        ),
        IPV4_RE,
        "<IP>",
    )
    return docs.select(
        "doc_id",
        n_emails.cast("int").alias("n_emails"),
        n_phones.cast("int").alias("n_phones"),
        n_ips.cast("int").alias("n_ips"),
        ((n_emails + n_phones + n_ips) > 0).cast("int").alias("pii_any"),
        F.md5(scrubbed).alias("scrubbed_md5"),
    ).orderBy("doc_id")


PII_SCRUB_SQL = f"""
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '{EMAIL_RE}')) AS INT) AS n_emails,
       CAST(len(regexp_extract_all(text, '{PHONE_RE}')) AS INT) AS n_phones,
       CAST(len(regexp_extract_all(text, '{IPV4_RE}')) AS INT) AS n_ips,
       CAST(len(regexp_extract_all(text, '{EMAIL_RE}'))
            + len(regexp_extract_all(text, '{PHONE_RE}'))
            + len(regexp_extract_all(text, '{IPV4_RE}')) > 0 AS INT) AS pii_any,
       md5(regexp_replace(regexp_replace(regexp_replace(text,
             '{EMAIL_RE}', '<EMAIL>', 'g'),
             '{PHONE_RE}', '<PHONE>', 'g'),
             '{IPV4_RE}', '<IP>', 'g')) AS scrubbed_md5
FROM documents ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# end-to-end curation verdict
# ---------------------------------------------------------------------------

QUALITY_MIN = 0.6


def corpus_verdict(docs: DataFrame, contam: DataFrame | None = None) -> DataFrame:
    """(doc_id, q_ok, lang_ok, uniq_ok, clean_ok, is_bench, kept): the
    full curation decision per document — the query a data engineer runs
    to build the training corpus.

    kept = quality >= 0.6 AND language identified AND first copy of its
    exact text AND no benchmark n-gram overlap AND not itself a
    benchmark doc. Each flag is exposed so the drop reasons are
    auditable (the standard curation-report shape). Flags are ints, not
    booleans: cross-engine boolean canonicalization is
    representation-dependent.

    Composes quality_score, language_id, an exact-dedup window, and
    contamination — each already scale-shaped; the composition adds two
    broadcast-size joins per doc row and one md5 window. Pass `contam`
    to reuse an already-computed contamination(docs) frame instead of
    re-running the inverted-index join.
    """
    from .text import language_id, quality_score

    q = quality_score(docs).select("doc_id", "quality")
    lang = language_id(docs).select("doc_id", "lang_pred")
    uniq = docs.select(
        "doc_id",
        (
            F.col("doc_id")
            == F.min("doc_id").over(Window.partitionBy(F.md5("text")))
        )
        .cast("int")
        .alias("uniq_ok"),
    )
    contam = (contam if contam is not None else contamination(docs)).select(
        "doc_id", "contaminated"
    )
    is_bench = (F.col("doc_id") % BENCH_MOD) == 0
    q_ok = F.col("quality") >= QUALITY_MIN
    lang_ok = F.col("lang_pred") != "unknown"
    clean_ok = F.coalesce("contaminated", F.lit(0)) == 0
    return (
        docs.select("doc_id")
        .join(q, "doc_id")
        .join(lang, "doc_id")
        .join(uniq, "doc_id")
        .join(contam, "doc_id", "left")
        .select(
            "doc_id",
            q_ok.cast("int").alias("q_ok"),
            lang_ok.cast("int").alias("lang_ok"),
            "uniq_ok",
            clean_ok.cast("int").alias("clean_ok"),
            is_bench.cast("int").alias("is_bench"),
            (q_ok & lang_ok & (F.col("uniq_ok") == 1) & clean_ok & ~is_bench)
            .cast("int")
            .alias("kept"),
        )
        .orderBy("doc_id")
    )


def _corpus_verdict_sql() -> str:
    from .text import LANGUAGE_ID_SQL, QUALITY_SQL

    return f"""
WITH q AS (SELECT doc_id, quality FROM ({QUALITY_SQL})),
lang AS (SELECT doc_id, lang_pred FROM ({LANGUAGE_ID_SQL})),
uniq AS (
  SELECT doc_id,
         CAST(doc_id = MIN(doc_id) OVER (PARTITION BY md5(text)) AS INT)
           AS uniq_ok
  FROM documents
),
contam AS (SELECT doc_id, contaminated FROM ({CONTAMINATION_SQL}))
SELECT d.doc_id,
       CAST(q.quality >= {QUALITY_MIN} AS INT) AS q_ok,
       CAST(lang.lang_pred != 'unknown' AS INT) AS lang_ok,
       uniq.uniq_ok,
       CAST(COALESCE(contam.contaminated, 0) = 0 AS INT) AS clean_ok,
       CAST(d.doc_id % {BENCH_MOD} = 0 AS INT) AS is_bench,
       CAST(q.quality >= {QUALITY_MIN}
            AND lang.lang_pred != 'unknown'
            AND uniq.uniq_ok = 1
            AND COALESCE(contam.contaminated, 0) = 0
            AND d.doc_id % {BENCH_MOD} != 0 AS INT) AS kept
FROM documents d
JOIN q USING (doc_id)
JOIN lang USING (doc_id)
JOIN uniq USING (doc_id)
LEFT JOIN contam USING (doc_id)
ORDER BY d.doc_id
"""


CORPUS_VERDICT_SQL = _corpus_verdict_sql()


# ---------------------------------------------------------------------------
# repetition detection (Gopher-style quality rule)
# ---------------------------------------------------------------------------

def repetition_stats(docs: DataFrame) -> DataFrame:
    """(doc_id, n_grams, top_gram_count, repetition_ratio, repetitive):
    how much of a document is its single most repeated word 3-gram.

    The classic generated/boilerplate-text filter (a looping document
    repeats one phrase over and over). Counts ALL gram occurrences (not
    the distinct-set relation dedup uses): explode -> count per (doc,
    gram) -> per-doc max via window. repetition_ratio is one exact-int
    division; repetitive flags ratio > 0.2 for docs long enough to judge
    (>= 10 grams). Shuffles on (doc_id, gram) then doc_id — both keyed
    by doc so there is no hot key at any corpus size.
    """
    parallelism = docs.sparkSession.sparkContext.defaultParallelism
    from ..functions.texthash import tokens

    grams = (
        docs.select(F.col("doc_id"), tokens(F.col("text")).alias("toks"))
        .repartition(parallelism, "doc_id")
        .select(
            "doc_id",
            "toks",
            F.explode(
                F.sequence(F.lit(1), F.greatest(F.size("toks") - 2, F.lit(1)))
            ).alias("i"),
        )
        .select(
            "doc_id", F.concat_ws(" ", F.slice("toks", F.col("i"), 3)).alias("g")
        )
    )
    per_gram = grams.groupBy("doc_id", "g").agg(F.count(F.lit(1)).alias("cnt"))
    per_doc = per_gram.groupBy("doc_id").agg(
        F.sum("cnt").alias("n_grams"),
        F.max("cnt").alias("top_gram_count"),
    )
    ratio = F.col("top_gram_count") / F.col("n_grams")
    return (
        per_doc.select(
            "doc_id",
            "n_grams",
            "top_gram_count",
            ratio.alias("repetition_ratio"),
            ((ratio > 0.2) & (F.col("n_grams") >= 10)).cast("int").alias(
                "repetitive"
            ),
        )
        .orderBy("doc_id")
    )


REPETITION_SQL = f"""
WITH grams AS (
  SELECT doc_id, unnest({_NGRAMS_SQL}) AS g
  FROM documents
), per_gram AS (
  SELECT doc_id, g, COUNT(*) AS cnt FROM grams GROUP BY doc_id, g
), per_doc AS (
  SELECT doc_id,
         CAST(SUM(cnt) AS BIGINT) AS n_grams,
         MAX(cnt) AS top_gram_count
  FROM per_gram GROUP BY doc_id
)
SELECT doc_id, n_grams, top_gram_count,
       top_gram_count / n_grams AS repetition_ratio,
       CAST(top_gram_count / n_grams > 0.2 AND n_grams >= 10 AS INT)
         AS repetitive
FROM per_doc ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# inter-source duplication report
# ---------------------------------------------------------------------------

def source_overlap(docs: DataFrame, pairs: DataFrame | None = None) -> DataFrame:
    """Inter-source duplication report — the query that catches
    double-counting when the same crawl shows up in two ingested
    datasets.

    Exact-dup discipline: group texts by md5, keep hashes spanning >1
    source, expand to source pairs. The expansion is bounded by the
    DISTINCT source count per hash (<= |sources|, a small constant), so
    no posting-cap is needed — unlike gram postings, a text hash cannot
    fan out past the corpus count.

    Pass a mined near-dup pair set (`pairs`) to additionally count
    NEAR-duplicate pairs spanning sources — in practice the load-bearing
    half, since a re-crawl is rarely byte-identical. The pair set is
    bucket-capped miner OUTPUT (tiny next to the corpus), so both
    doc_id->source joins broadcast it; the output schema gains
    `n_near_dup_pairs` and keeps a row when either count is non-zero.
    """
    per_src = docs.select(F.md5("text").alias("h"), "source").distinct()
    a = per_src.alias("a")
    b = per_src.alias("b")
    exact = (
        a.join(
            b,
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_shared_texts"))
    )
    if pairs is None:
        return exact.orderBy("source_a", "source_b")
    src = docs.select("doc_id", "source")
    near = (
        pairs.join(
            src.select(F.col("doc_id").alias("doc_a"), F.col("source").alias("sa")),
            "doc_a",
        )
        .join(
            src.select(F.col("doc_id").alias("doc_b"), F.col("source").alias("sb")),
            "doc_b",
        )
        .where(F.col("sa") != F.col("sb"))
        .groupBy(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_near_dup_pairs"))
    )
    return (
        exact.join(near, ["source_a", "source_b"], "full")
        .select(
            "source_a",
            "source_b",
            F.coalesce("n_shared_texts", F.lit(0)).alias("n_shared_texts"),
            F.coalesce("n_near_dup_pairs", F.lit(0)).alias("n_near_dup_pairs"),
        )
        .orderBy("source_a", "source_b")
    )


def _source_overlap_sql(pairs_sql: str) -> str:
    """Oracle for the exact+near form: FULL OUTER of the exact-dup pair
    counts with cross-source counts over the given miner's pair set."""
    return f"""
WITH per_src AS (
  SELECT DISTINCT md5(text) AS h, source FROM documents
),
exact_ov AS (
  SELECT a.source AS source_a, b.source AS source_b,
         COUNT(*) AS n_shared_texts
  FROM per_src a JOIN per_src b ON a.h = b.h AND a.source < b.source
  GROUP BY 1, 2
),
np AS (SELECT * FROM ({pairs_sql})),
srcs AS (SELECT doc_id, source FROM documents),
near_ov AS (
  SELECT least(sa.source, sb.source) AS source_a,
         greatest(sa.source, sb.source) AS source_b,
         COUNT(*) AS n_near_dup_pairs
  FROM np JOIN srcs sa ON np.doc_a = sa.doc_id
          JOIN srcs sb ON np.doc_b = sb.doc_id
  WHERE sa.source != sb.source
  GROUP BY 1, 2
)
SELECT COALESCE(e.source_a, n.source_a) AS source_a,
       COALESCE(e.source_b, n.source_b) AS source_b,
       COALESCE(e.n_shared_texts, 0) AS n_shared_texts,
       COALESCE(n.n_near_dup_pairs, 0) AS n_near_dup_pairs
FROM exact_ov e FULL OUTER JOIN near_ov n
  ON e.source_a = n.source_a AND e.source_b = n.source_b
ORDER BY source_a, source_b
"""


# ---------------------------------------------------------------------------
# temperature-weighted mixture sampling across sources
# ---------------------------------------------------------------------------

MIXTURE_TARGET = 200  # total docs in the mixed corpus slice


def mixture_sample(docs: DataFrame, target: int = MIXTURE_TARGET) -> DataFrame:
    """Temperature-weighted source mixing (alpha = 0.5): each source gets
    a quota proportional to sqrt(its doc count), flattening dominant
    sources — the standard data-recipe move for multi-source LLM corpora
    (a raw-proportional mix lets one crawl drown the rest; a uniform mix
    over-samples tiny sources).

    Everything is exact integer arithmetic so both engines agree
    bit-for-bit: per-source weight = floor(sqrt(n)) (sqrt is IEEE
    correctly-rounded, floor of it deterministic for n < 2^53), quota =
    (target * weight) div sum(weights) with positive integer division,
    and WITHIN a source the quota takes the lowest md5(doc_id) — the
    same rand()-free determinism as stratified_sample. One window
    shuffle on source + one tiny broadcast of the per-source quotas.
    """
    from pyspark.sql import Window

    counts = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    weights = counts.select(
        "source", F.floor(F.sqrt(F.col("n"))).cast("bigint").alias("w")
    )
    # the weight total comes from an unpartitioned window over the
    # per-source weights — |sources| rows, so the single-partition sort
    # is trivially cheap and avoids the nested-loop join a 1-row
    # broadcast-back would plan (the LLM plan audit forbids NLJ here)
    tw = F.sum("w").over(Window.partitionBy())
    quotas = weights.select(
        "source",
        (F.lit(target) * F.col("w")).cast("bigint").alias("_num"),
        tw.alias("_tw"),
    ).select("source", F.expr("_num div _tw").alias("quota"))
    w = Window.partitionBy("source").orderBy(F.md5(F.col("doc_id").cast("string")))
    ranked = docs.select(
        "doc_id", "source", F.row_number().over(w).alias("rk")
    )
    return (
        ranked.join(F.broadcast(quotas), "source")
        .where(F.col("rk") <= F.col("quota"))
        .select("source", "doc_id", "rk", "quota")
        .orderBy("source", "rk")
    )


MIXTURE_SAMPLE_SQL = f"""
WITH weights AS (
  SELECT source, CAST(FLOOR(SQRT(COUNT(*))) AS BIGINT) AS w
  FROM documents GROUP BY source
), quotas AS (
  SELECT source,
         ({MIXTURE_TARGET} * w) // (SELECT CAST(SUM(w) AS BIGINT) FROM weights)
           AS quota
  FROM weights
), ranked AS (
  SELECT doc_id, source,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY md5(CAST(doc_id AS VARCHAR))) AS rk
  FROM documents
)
SELECT source, doc_id, CAST(rk AS BIGINT) AS rk, quota
FROM ranked JOIN quotas USING (source)
WHERE rk <= quota
ORDER BY source, rk
"""


# ---------------------------------------------------------------------------
# per-source quality-score calibration: median thresholds, not one
# global cutoff
# ---------------------------------------------------------------------------


def score_calibration(docs: DataFrame) -> DataFrame:
    """(source, n_docs, global_threshold, source_threshold, kept_global,
    kept_calibrated): what a single corpus-wide quality cutoff does to
    each source's survival vs a per-source cutoff — the calibration
    check every mixed-corpus curation run needs, because quality scores
    are NOT comparable across sources (a clean-wiki source's median
    beats a web-crawl's P90) and one global threshold silently deletes
    whole sources.

    Score = the corpus-bigram LM score (text.lm_score, driver-proven).
    Threshold = the DISCRETE median: the smallest score s where
    2 * (docs with score <= s) >= n — pure integer arithmetic, no
    interpolation flavor to disagree on. kept = score >= threshold,
    computed once against the global median and once against the
    source's own.

    Exactness: every output column is an exact int64 (counts and
    millibit scores); nothing floats.

    Scale: scoring is lm_score's proven plan; everything after runs on
    the (source, score) HISTOGRAM — map-combinable collapse, windows
    over |sources| x |distinct scores| rows, never a global sort of
    raw docs (the histogram-threshold shape, same discipline as
    orders_ship_sla's exact percentiles).
    """
    from .text import lm_score

    scores = lm_score(docs).where(
        F.col("lm_score_millibits").isNotNull()
    )
    j = docs.select("doc_id", "source").join(scores, "doc_id")
    hist = j.groupBy("source", "lm_score_millibits").agg(
        F.count(F.lit(1)).alias("n")
    )

    # global median over the score histogram
    ghist = hist.groupBy("lm_score_millibits").agg(F.sum("n").alias("gn"))
    wg = Window.orderBy("lm_score_millibits").rowsBetween(
        Window.unboundedPreceding, 0
    )
    gcum = ghist.withColumn("cum", F.sum("gn").over(wg)).withColumn(
        "total", F.sum("gn").over(Window.partitionBy())
    )
    g_thresh = gcum.where(2 * F.col("cum") >= F.col("total")).agg(
        F.min("lm_score_millibits").alias("global_threshold")
    )

    # per-source medians, same construction partitioned by source
    ws = (
        Window.partitionBy("source")
        .orderBy("lm_score_millibits")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    scum = hist.withColumn("cum", F.sum("n").over(ws)).withColumn(
        "stotal", F.sum("n").over(Window.partitionBy("source"))
    )
    s_thresh = (
        scum.where(2 * F.col("cum") >= F.col("stotal"))
        .groupBy("source")
        .agg(F.min("lm_score_millibits").alias("source_threshold"))
    )

    enriched = (
        hist.crossJoin(F.broadcast(g_thresh))
        .join(F.broadcast(s_thresh), "source")
    )
    return (
        enriched.groupBy("source", "global_threshold", "source_threshold")
        .agg(
            F.sum("n").alias("n_docs"),
            F.sum(
                F.when(
                    F.col("lm_score_millibits")
                    >= F.col("global_threshold"),
                    F.col("n"),
                ).otherwise(F.lit(0))
            ).alias("kept_global"),
            F.sum(
                F.when(
                    F.col("lm_score_millibits")
                    >= F.col("source_threshold"),
                    F.col("n"),
                ).otherwise(F.lit(0))
            ).alias("kept_calibrated"),
        )
        .select(
            "source",
            "n_docs",
            "global_threshold",
            "source_threshold",
            "kept_global",
            "kept_calibrated",
        )
        .orderBy("source")
    )


def _score_calibration_sql() -> str:
    from .text import LM_SCORE_SQL

    return f"""
WITH scores AS ({LM_SCORE_SQL}),
j AS (
  SELECT d.source, s.lm_score_millibits
  FROM documents d JOIN scores s ON s.doc_id = d.doc_id
  WHERE s.lm_score_millibits IS NOT NULL
),
hist AS (
  SELECT source, lm_score_millibits, CAST(COUNT(*) AS BIGINT) AS n
  FROM j GROUP BY 1, 2
),
gcum AS (
  SELECT lm_score_millibits,
         SUM(gn) OVER (ORDER BY lm_score_millibits
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum,
         SUM(gn) OVER () AS total
  FROM (SELECT lm_score_millibits, SUM(n) AS gn FROM hist GROUP BY 1)
),
g_thresh AS (
  SELECT MIN(lm_score_millibits) AS global_threshold
  FROM gcum WHERE 2 * cum >= total
),
scum AS (
  SELECT source, lm_score_millibits, n,
         SUM(n) OVER (PARTITION BY source ORDER BY lm_score_millibits
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum,
         SUM(n) OVER (PARTITION BY source) AS stotal
  FROM hist
),
s_thresh AS (
  SELECT source, MIN(lm_score_millibits) AS source_threshold
  FROM scum WHERE 2 * cum >= stotal GROUP BY 1
)
SELECT h.source,
       CAST(SUM(h.n) AS BIGINT) AS n_docs,
       g.global_threshold,
       s.source_threshold,
       CAST(SUM(CASE WHEN h.lm_score_millibits >= g.global_threshold
                     THEN h.n ELSE 0 END) AS BIGINT) AS kept_global,
       CAST(SUM(CASE WHEN h.lm_score_millibits >= s.source_threshold
                     THEN h.n ELSE 0 END) AS BIGINT) AS kept_calibrated
FROM hist h
CROSS JOIN g_thresh g
JOIN s_thresh s ON s.source = h.source
GROUP BY h.source, g.global_threshold, s.source_threshold
ORDER BY h.source
"""


SCORE_CALIBRATION_SQL = _score_calibration_sql()


# ---------------------------------------------------------------------------
# token-budget allocation across sources (capped waterfill, closed form)
# ---------------------------------------------------------------------------

# budget = total corpus tokens DIV 2 (integer-exact); per-source cap =
# MAX_EPOCHS x the source's own tokens (you can repeat a source at most
# twice before memorization outweighs the data).
TOKEN_BUDGET_MAX_EPOCHS = 2


def token_budget(docs: DataFrame) -> DataFrame:
    """(source, tokens, weight_deciq, cap, allocation, epochs,
    saturated): how many tokens of each source to draw for a fixed
    global training budget — allocated proportionally to a quality
    weight, capped at TOKEN_BUDGET_MAX_EPOCHS epochs of the source's own
    supply. The data-mixing step that turns per-source quality scores
    into an actual sampling plan (the practical half of DoReMi-style
    mixture design: weights in, epochs out).

    The capped-proportional problem  max Σ a_s  s.t.  a_s = min(λ·w_s,
    c_s), Σ a_s = B  has a CLOSED FORM — no iteration: sort sources by
    r_s = c_s / w_s ascending; the first position m where the water
    level λ_m = (B - Σ_{j<m} c_j) / Σ_{j>=m} w_j drops to <= r_m splits
    saturated (j < m: a_j = c_j) from proportional (j >= m: a_j =
    λ_m·w_j). Mediant algebra gives λ_m > r_j for all j < m, so the
    split is self-consistent, and Σ a = B exactly by construction.

    Exactness: tokens/weights/caps are exact int64 (weight = per-doc
    quality in DECIquality units, round(quality*10) — integer-summable
    in any partial-agg order); B = total DIV 2 is integer; only λ and
    the allocations are doubles, computed by one pinned expression per
    row. Zero-weight sources are excluded from the fill (identical
    guard both engines) and emitted with allocation 0.

    Scale: per-doc scoring is quality_score's single-scan projection;
    everything after runs on the |sources|-row aggregate — the window
    sort orders ~dozens of rows, never documents. At 100 TB this is one
    map-combinable groupBy + a driver-sized plan table.
    """
    from .text import quality_score

    q = quality_score(docs).select(
        "doc_id",
        "n_tokens",
        F.round(F.col("quality") * 10, 0).cast("bigint").alias("wq"),
    )
    per_src = (
        docs.select("doc_id", "source")
        .join(q, "doc_id")
        .groupBy("source")
        .agg(
            F.sum("n_tokens").cast("bigint").alias("tokens"),
            F.sum("wq").cast("bigint").alias("weight_deciq"),
        )
        .withColumn(
            "cap",
            (F.lit(TOKEN_BUDGET_MAX_EPOCHS) * F.col("tokens")).cast("bigint"),
        )
    )
    pos = per_src.where(F.col("weight_deciq") > 0)
    zeros = per_src.where(F.col("weight_deciq") <= 0)

    # global scalars: B = (all tokens) DIV 2, clamped at the feasible
    # supply (sum of positive-weight caps) — 1-row broadcast cross join
    totals = per_src.agg(
        F.expr("CAST(SUM(tokens) DIV 2 AS BIGINT)").alias("b_raw")
    )
    supply = pos.agg(F.sum("cap").cast("bigint").alias("cap_supply"))
    scal = totals.crossJoin(supply).select(
        F.least("b_raw", "cap_supply").alias("budget")
    )

    w_ord = Window.orderBy("r", "source")
    wall = Window.partitionBy(F.lit(1))
    cum = (
        pos.crossJoin(F.broadcast(scal))
        .withColumn(
            "r", F.col("cap").cast("double") / F.col("weight_deciq")
        )
        .withColumn("rank", F.row_number().over(w_ord))
        .withColumn(
            "c_prev",
            F.sum("cap").over(w_ord.rowsBetween(Window.unboundedPreceding, 0))
            - F.col("cap"),
        )
        .withColumn(
            "w_rem",
            F.sum("weight_deciq").over(
                w_ord.rowsBetween(0, Window.unboundedFollowing)
            ),
        )
        .withColumn(
            "lam",
            (F.col("budget") - F.col("c_prev")).cast("double")
            / F.col("w_rem"),
        )
    )
    solved = (
        cum.withColumn(
            "m_star",
            F.min(F.when(F.col("lam") <= F.col("r"), F.col("rank"))).over(
                wall
            ),
        )
        .withColumn(
            "lam_star",
            F.max(
                F.when(F.col("rank") == F.col("m_star"), F.col("lam"))
            ).over(wall),
        )
        .withColumn(
            "saturated",
            F.col("m_star").isNull() | (F.col("rank") < F.col("m_star")),
        )
        .withColumn(
            "allocation",
            F.when(F.col("saturated"), F.col("cap").cast("double")).otherwise(
                F.col("lam_star") * F.col("weight_deciq")
            ),
        )
    )
    filled = solved.select(
        "source", "tokens", "weight_deciq", "cap", "allocation", "saturated"
    )
    rest = zeros.select(
        "source",
        "tokens",
        "weight_deciq",
        "cap",
        F.lit(0.0).alias("allocation"),
        F.lit(False).alias("saturated"),
    )
    return (
        filled.unionByName(rest)
        .withColumn(
            "epochs",
            F.col("allocation") / F.greatest(F.col("tokens"), F.lit(1)),
        )
        .select(
            "source",
            "tokens",
            "weight_deciq",
            "cap",
            "allocation",
            "epochs",
            "saturated",
        )
        .orderBy("source")
    )


def _token_budget_sql() -> str:
    from .text import QUALITY_SQL

    me = TOKEN_BUDGET_MAX_EPOCHS
    return f"""
WITH q AS ({QUALITY_SQL}),
per_src AS (
  SELECT d.source,
         CAST(SUM(q.n_tokens) AS BIGINT) AS tokens,
         CAST(SUM(CAST(ROUND(q.quality * 10) AS BIGINT)) AS BIGINT)
           AS weight_deciq,
         CAST({me} * SUM(q.n_tokens) AS BIGINT) AS cap
  FROM documents d JOIN q ON q.doc_id = d.doc_id
  GROUP BY d.source
),
scal AS (
  SELECT LEAST(
           (SELECT CAST(SUM(tokens) // 2 AS BIGINT) FROM per_src),
           (SELECT CAST(SUM(cap) AS BIGINT) FROM per_src
            WHERE weight_deciq > 0)
         ) AS budget
),
cum AS (
  SELECT p.*, s.budget,
         CAST(p.cap AS DOUBLE) / p.weight_deciq AS r,
         ROW_NUMBER() OVER ord AS rank,
         SUM(p.cap) OVER (ORDER BY CAST(p.cap AS DOUBLE) / p.weight_deciq,
                          p.source
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           - p.cap AS c_prev,
         SUM(p.weight_deciq)
           OVER (ORDER BY CAST(p.cap AS DOUBLE) / p.weight_deciq, p.source
                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS w_rem
  FROM per_src p CROSS JOIN scal s
  WHERE p.weight_deciq > 0
  WINDOW ord AS (ORDER BY CAST(p.cap AS DOUBLE) / p.weight_deciq, p.source)
),
lamd AS (
  SELECT *, CAST(budget - c_prev AS DOUBLE) / w_rem AS lam FROM cum
),
marked AS (
  SELECT *, MIN(CASE WHEN lam <= r THEN rank END) OVER () AS m_star
  FROM lamd
),
solved AS (
  SELECT *,
         MAX(CASE WHEN rank = m_star THEN lam END) OVER () AS lam_star
  FROM marked
),
filled AS (
  SELECT source, tokens, weight_deciq, cap,
         CASE WHEN m_star IS NULL OR rank < m_star
              THEN CAST(cap AS DOUBLE)
              ELSE lam_star * weight_deciq END AS allocation,
         (m_star IS NULL OR rank < m_star) AS saturated
  FROM solved
),
rest AS (
  SELECT source, tokens, weight_deciq, cap, 0.0 AS allocation,
         FALSE AS saturated
  FROM per_src WHERE weight_deciq <= 0
),
unioned AS (
  SELECT * FROM filled UNION ALL SELECT * FROM rest
)
SELECT source, tokens, weight_deciq, cap, allocation,
       allocation / GREATEST(tokens, 1) AS epochs, saturated
FROM unioned
ORDER BY source
"""


TOKEN_BUDGET_SQL = _token_budget_sql()


# ---------------------------------------------------------------------------
# CCNet perplexity buckets (head / middle / tail, r14)
# ---------------------------------------------------------------------------


def ppl_buckets(docs: DataFrame) -> DataFrame:
    """(doc_id, source, lm_score_millibits, bucket): CCNet's
    head/middle/tail split (Wenzek et al. 2020) — rank every document
    WITHIN ITS SOURCE by language-model score and cut the ranking into
    terciles. CCNet keeps 'head' (most corpus-typical) for training and
    drops or down-weights 'tail'; per-source ranking is the point — a
    niche source's best third survives even when its absolute scores
    trail a mainstream source's.

    Exactness: the score is text.lm_score's exact integer millibits;
    ranks are ROW_NUMBER over (score DESC, doc_id) — fully
    deterministic; tercile cuts are the cross-multiplied integer
    comparisons 3*rn <= n and 3*rn <= 2*n (no float thirds, the
    ship-SLA percentile discipline), so the boundary cannot flip.

    Scale: lm_score is two corpus-count joins (exact bigram LM) that
    stay token-shaped and distributed; the ranking is one window per
    source — the same shape as curation_split. The bucket table then
    drives sampling weights downstream.
    """
    from .text import lm_score

    scored = lm_score(docs).select("doc_id", "lm_score_millibits")
    src = docs.select("doc_id", "source")
    w = Window.partitionBy("source").orderBy(
        F.desc("lm_score_millibits"), "doc_id"
    )
    ranked = (
        src.join(scored, "doc_id")
        .withColumn("rn", F.row_number().over(w).cast("bigint"))
        .withColumn(
            "n", F.count(F.lit(1)).over(Window.partitionBy("source"))
        )
    )
    bucket = (
        F.when(3 * F.col("rn") <= F.col("n"), F.lit("head"))
        .when(3 * F.col("rn") <= 2 * F.col("n"), F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    return (
        ranked.select("doc_id", "source", "lm_score_millibits",
                      bucket.alias("bucket"))
        .orderBy("doc_id")
    )


def _ppl_buckets_sql() -> str:
    from .text import LM_SCORE_SQL

    return f"""
WITH scored AS (SELECT * FROM ({LM_SCORE_SQL})),
ranked AS (
  SELECT d.doc_id, d.source, s.lm_score_millibits,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY d.source
           ORDER BY s.lm_score_millibits DESC, d.doc_id
         ) AS BIGINT) AS rn,
         COUNT(*) OVER (PARTITION BY d.source) AS n
  FROM documents d JOIN scored s ON s.doc_id = d.doc_id
)
SELECT doc_id, source, lm_score_millibits,
       CASE WHEN 3 * rn <= n THEN 'head'
            WHEN 3 * rn <= 2 * n THEN 'middle'
            ELSE 'tail' END AS bucket
FROM ranked
ORDER BY doc_id
"""


PPL_BUCKETS_SQL = _ppl_buckets_sql()
