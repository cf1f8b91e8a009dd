"""Local replica of the driver's oracle-differential gate.

Runs `queries()` entries from `__spark_entry__.py` on Spark and their
`oracle_sql()` twins on DuckDB over the same parquet tables — ONE
SparkSession, ONE DuckDB connection, SWEEP_ORDER sequence, exactly the
driver's shape — then compares row count + column names + an
order-insensitive canonical value hash.

Two comparison layers (the r4 lesson — `similarity_pq_topk` was
hash-green under every fetchall-based harness yet red under the driver):
  * value hash over fetchall/collect rows (plain Python objects);
  * a pandas dtype-kind cross-check: the driver canonicalizes via
    pandas, where DuckDB HUGEINT (e.g. any un-CAST SUM(BIGINT)) lands
    as float64 and formats as "...663.0" against Spark's int64
    "...663" — equal values, different hash. Any oracle column typed
    HUGEINT/UHUGEINT, or any dtype-kind mismatch between
    `sdf.toPandas()` and `rel.df()`, is therefore a FAILURE here even
    when the value hashes agree.

By default runs only the SWEEP_CHECKED rows — the correctness gate's
exact budget. `--all` sweeps the registered tail too.

Usage:  python tools/selfcheck.py [--all] [sf_dir] [query ...]
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import math
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def canon(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # absorb cross-engine last-ulp noise in aggregated doubles
        return f"{v:.9g}"
    if isinstance(v, decimal.Decimal):
        return f"{float(v):.9g}"
    if isinstance(v, (dt.datetime,)):
        return v.isoformat(sep=" ", timespec="microseconds")
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    return str(v)


def frame_digest(cols: list[str], rows: list[tuple]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(canon(r[i]) for i in order) for r in rows)
    h = hashlib.md5()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def connect_oracle(sf_dir: str):
    """DuckDB connection with the driver tables registered as views."""
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    return con


def compare_one(spark, con, name, fn, sql, sf_dir) -> tuple[int, list[str]]:
    """Run one (Spark builder, oracle SQL) pair; return (rows, problems).

    Empty problems = the pair matches under the driver's comparison
    semantics (rowcount + column names + order-insensitive value hash +
    the pandas int-vs-float dtype cross-check). Shared by the CLI sweep
    and tests/test_tail_oracle.py, so tail coverage is a repeatable
    pytest gate rather than a session artifact.
    """
    sdf = fn(spark, sf_dir)
    s_cols = sdf.columns
    s_rows = [tuple(r) for r in sdf.collect()]
    s_pdf = sdf.toPandas()
    if sql is None:
        return len(s_rows), ([] if s_rows else ["0 rows (rows-only check)"])
    rel = con.sql(sql)
    d_cols = rel.columns
    d_types = [str(t) for t in rel.types]
    d_pdf = rel.df()
    d_rows = rel.fetchall()
    problems: list[str] = []
    for col, typ in zip(d_cols, d_types):
        if typ in ("HUGEINT", "UHUGEINT"):
            problems.append(
                f"oracle col {col!r} is {typ} -> float64 under the "
                "driver's pandas canon (CAST it to BIGINT)"
            )
        # the r5 lesson (pipeline_daily_run): DuckDB DECIMAL -> float64
        # under .df() while Spark DecimalType -> object Decimal('1.40')
        # under toPandas(), so the driver's pandas string canon hashes
        # equal values differently. Any DECIMAL on the oracle surface is
        # a failure even when the raw value hashes agree.
        if typ.startswith("DECIMAL"):
            problems.append(
                f"oracle col {col!r} is {typ} -> float64 under the "
                "driver's pandas canon while Spark DECIMAL stays "
                "object-Decimal (CAST both surfaces to DOUBLE)"
            )
    for col in set(s_cols) & set(d_cols):
        sk = s_pdf[col].dtype.kind
        dk = d_pdf[col].dtype.kind
        if {sk, dk} in ({"i", "f"}, {"u", "f"}):
            problems.append(
                f"pandas int-vs-float dtype mismatch on {col!r}: "
                f"spark={s_pdf[col].dtype} duck={d_pdf[col].dtype} "
                "(the driver's pandas canon hashes these differently)"
            )
        # {object, float} with Decimal cells on the object side is the
        # same canon split as above, seen from the pandas frames (covers
        # Decimal surfaces that reach pandas without a DECIMAL oracle
        # type, e.g. Spark-side-only DECIMAL casts)
        for side, pdf, kind in (("spark", s_pdf, sk), ("duck", d_pdf, dk)):
            if kind == "O" and len(pdf):
                cell = pdf[col].dropna()
                if len(cell) and isinstance(cell.iloc[0], decimal.Decimal):
                    problems.append(
                        f"{side} col {col!r} holds decimal.Decimal cells "
                        "(object dtype) — the driver's pandas canon "
                        "formats these with trailing zeros unlike "
                        "float64 (cast the surface to double)"
                    )
    if len(s_rows) != len(d_rows):
        problems.append(f"rowcount spark={len(s_rows)} duck={len(d_rows)}")
    if sorted(s_cols) != sorted(d_cols):
        problems.append(f"cols spark={sorted(s_cols)} duck={sorted(d_cols)}")
    else:
        hs, hd = frame_digest(s_cols, s_rows), frame_digest(d_cols, d_rows)
        if hs != hd:
            problems.append("value-hash mismatch")
            order_s = sorted(range(len(s_cols)), key=lambda i: s_cols[i])
            order_d = sorted(range(len(d_cols)), key=lambda i: d_cols[i])
            ls = sorted("|".join(canon(r[i]) for i in order_s) for r in s_rows)
            ld = sorted("|".join(canon(r[i]) for i in order_d) for r in d_rows)
            for a, b in zip(ls, ld):
                if a != b:
                    problems.append(f"  spark: {a[:220]}")
                    problems.append(f"  duck : {b[:220]}")
                    break
    return len(s_rows), problems


def main() -> int:
    argv = [a for a in sys.argv[1:] if a != "--all"]
    run_all = "--all" in sys.argv[1:]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])

    import __spark_entry__ as entrymod
    from airflow_iceberg_pipeline_stock_tracker_spark.session import get_spark

    spark = get_spark(cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "8")))
    con = connect_oracle(sf_dir)

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    if not run_all and not only:
        # the correctness gate checks exactly the SWEEP_CHECKED prefix
        budget = set(entrymod.SWEEP_CHECKED)
        queries = {n: fn for n, fn in queries.items() if n in budget}
    failures = []
    for name, fn in queries.items():
        if only and name not in only:
            continue
        t0 = time.time()
        n_rows, problems = compare_one(
            spark, con, name, fn, oracles.get(name), sf_dir
        )
        elapsed = time.time() - t0
        if name not in oracles:
            print(f"{name:32s} rows={n_rows:7d}  (no oracle — rows-only) "
                  f"[{elapsed:.1f}s]")
        else:
            status = "OK " if not problems else "FAIL"
            print(f"{name:32s} rows={n_rows:7d}  {status} [{elapsed:.1f}s]")
        for p in problems:
            print(f"    {p}")
        if problems:
            failures.append((name, problems[0]))

    print()
    if failures:
        print(f"FAILURES ({len(failures)}):")
        for name, p in failures:
            print(f"  {name}: {p}")
        return 1
    print("all queries match the oracle")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
