"""Rebuild perfbench/digests.json from the DuckDB oracles.

    python3 perfbench/refresh_digests.py [scale ...]

For every analytics and llm_ops row, runs the row's oracle SQL
(``__spark_entry__.oracle_sql()``) on DuckDB over perfbench/data/<scale>
and stores ``tools.selfcheck.frame_digest`` of the result. Benchmark runs
compare each row's Spark result with the stored digest instead of
re-running the oracles, some of which take minutes. Scales default to
every directory under perfbench/data.
"""

from __future__ import annotations

import json
import os
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)


def main(argv: list[str]) -> int:
    sys.path[:0] = [BENCH_DIR, ROOT]
    import __spark_entry__ as entry
    from tools.selfcheck import connect_oracle, frame_digest

    from workloads import ANALYTICS_ROWS, LLM_MORE_ROWS, LLM_ROWS

    scales = argv or sorted(os.listdir(os.path.join(BENCH_DIR, "data")))
    oracles = entry.oracle_sql()
    path = os.path.join(BENCH_DIR, "digests.json")
    out = {}
    if os.path.exists(path):
        with open(path) as f:
            out = json.load(f)
    for scale in scales:
        con = connect_oracle(os.path.join(BENCH_DIR, "data", scale))
        digests = {}
        for name in ANALYTICS_ROWS + LLM_ROWS + LLM_MORE_ROWS:
            t = time.perf_counter()
            rel = con.sql(oracles[name])
            digests[name] = frame_digest(rel.columns, rel.fetchall())
            print(f"{scale} {name:28s} {digests[name]} [{time.perf_counter() - t:.1f}s]",
                  flush=True)
        out[scale] = digests
    with open(path, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
