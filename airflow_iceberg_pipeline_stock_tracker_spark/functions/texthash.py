"""Portable text/hash primitives — identical results in Spark and DuckDB.

Everything downstream of dedup/similarity must hash identically in both
engines for the oracle gate, so we avoid engine-native hashes
(`F.hash`/`hash()`) and build on md5, which both implement bit-identically:

  hash32(s) = int(md5(s)[:8], 16)          in [0, 2^32)

MinHash permutations are universal-hash style h_j(x) = (a_j*x + b_j) mod p
with p the first prime above 2^32 and a_j < 2^31 so a_j*x < 2^63 never
overflows int64 in either engine.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# first prime > 2^32; products a*x stay below 2^63 for a < 2^31, x < 2^32
MINHASH_P = 4_294_967_311
# (a, b) pairs: deterministic odd multipliers/offsets (decimals of pi/e
# flavored constants — any fixed values work, they just must be shared
# with the SQL twin)
MINHASH_PERMS: list[tuple[int, int]] = [
    (1_610_612_741, 99_194_853),
    (805_306_457, 479_001_599),
    (402_653_189, 87_178_291),
    (201_326_611, 43_112_609),
    (100_663_319, 15_485_863),
    (50_331_653, 32_452_843),
    (25_165_843, 67_867_967),
    (12_582_917, 86_028_121),
    (6_291_469, 23_456_789),
    (3_145_739, 11_111_117),
    (1_572_869, 55_555_553),
    (786_433, 77_777_777),
    (393_241, 33_333_331),
    (196_613, 66_666_667),
    (98_317, 44_444_443),
    (49_157, 22_222_223),
]
MINHASH_K = len(MINHASH_PERMS)
LSH_BANDS = 4
LSH_ROWS = MINHASH_K // LSH_BANDS


def hash32(col: Column) -> Column:
    """32-bit portable hash: first 8 hex digits of md5, as bigint."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


def hash32_sql(expr: str) -> str:
    return f"(('0x' || substr(md5({expr}), 1, 8))::BIGINT)"


def hash60(col: Column) -> Column:
    """60-bit portable hash: first 15 hex digits of md5, as bigint.

    60 (not 64) bits so the value — and any 1<<i bit constant built from
    it — stays inside signed int64 in both engines with no overflow
    special-casing."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def hash60_sql(expr: str) -> str:
    return f"(('0x' || substr(md5({expr}), 1, 15))::BIGINT)"


def minhash_expr(j: int, hash_col: str = "h") -> Column:
    """The j-th permuted hash value (NOT aggregated: callers project
    these as columns and aggregate `min` separately — complex
    expressions inside aggregates break whole-stage codegen)."""
    a, b = MINHASH_PERMS[j]
    return (F.lit(a) * F.col(hash_col) + F.lit(b)) % F.lit(MINHASH_P)


def minhash_sql(j: int, hash_expr: str = "h") -> str:
    a, b = MINHASH_PERMS[j]
    return f"MIN(({a} * {hash_expr} + {b}) % {MINHASH_P})"


def tokens(col: Column) -> Column:
    """Whitespace tokenization, leading/trailing-trimmed.

    KNOWN cross-engine edge (r15 advice, documented not fixed): Java's
    ``\\s`` is [ \\t\\n\\x0B\\f\\r] and Python's ``re.ASCII \\s`` is the
    same set, but DuckDB's RE2 ``\\s`` is [ \\t\\n\\f\\r] only — a corpus
    containing a VERTICAL TAB (\\x0B) would tokenize differently in the
    DuckDB oracle than in Spark + the Python references (which agree;
    pinned by the \\x0B doc in tests/test_r15_ops.py's whitespace-edge
    test). No fixture contains \\x0B; a corpus that did would need every
    TOKENS_SQL site rewritten to an explicit [ \\t\\n\\x0B\\f\\r]+ class."""
    return F.split(F.trim(col), r"\s+")


TOKENS_SQL = "string_split_regex(trim({expr}), '\\s+')"


def word_ngrams(tokens_name: str, n: int = 3) -> Column:
    """Word n-grams from a named tokens-array column; a document shorter
    than n tokens yields one gram of all its tokens (portable edge-case
    rule, mirrored in SQL)."""
    return F.when(
        F.size(F.col(tokens_name)) < n,
        F.array(F.concat_ws(" ", F.col(tokens_name))),
    ).otherwise(
        F.expr(
            f"transform(sequence(1, size({tokens_name}) - {n - 1}), "
            f"i -> concat_ws(' ', slice({tokens_name}, i, {n})))"
        )
    )


def word_ngrams_sql(tokens_expr: str, n: int = 3) -> str:
    return (
        f"CASE WHEN len({tokens_expr}) < {n} "
        f"THEN [array_to_string({tokens_expr}, ' ')] "
        f"ELSE [array_to_string({tokens_expr}[i:i+{n - 1}], ' ') "
        f"      for i in range(1, len({tokens_expr}) - {n - 2})] END"
    )


def char_shingles(col_name: str, k: int = 9) -> Column:
    """Character k-shingles from a named string column; short documents
    yield the whole text."""
    return F.when(
        F.length(F.col(col_name)) <= k, F.array(F.col(col_name))
    ).otherwise(
        F.expr(
            f"transform(sequence(1, length({col_name}) - {k - 1}), "
            f"i -> substring({col_name}, i, {k}))"
        )
    )
