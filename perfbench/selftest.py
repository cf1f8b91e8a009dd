"""Self-test of the benchmark itself, on tiny inputs.

    python3 perfbench/selftest.py

Checks two things, with sf0.001 inputs and the fewest ops each workload
runs (about four minutes on 4 cores):

1. a wrong expected digest shows up: the row's ops count as failed, so
   fail_ratio is above 0 and ``correct`` is false;
2. every metric named in BENCHMARK.json is printed with its unit: the
   ``end_to_end`` metrics untraced and the ``per_layer`` ones traced, on
   every workload BENCHMARK.json lists.

Exits 0 when both hold, 1 otherwise.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
SCALE = "sf0.001"
CORRUPTED_ROW = "multimodal_phash_neardup"
# the query workloads run two cheap rows each
ROWS = {
    "llm_ops": ["--rows", f"dedup_minhash_lsh,{CORRUPTED_ROW}"],
    "analytics": ["--rows", "q1_pricing_summary,q6_forecast_revenue"],
}


def run(workload: str, trace: int, *extra: str) -> dict:
    cmd = [sys.executable, os.path.join(BENCH_DIR, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace),
           "--scale", SCALE, *ROWS.get(workload, []), *extra]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if p.returncode != 0:
        raise RuntimeError(f"{' '.join(cmd)} exited {p.returncode}:\n{p.stderr[-3000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def check_metrics(result: dict, expected: list[dict], what: str) -> list[str]:
    problems = []
    got = result["metrics"]
    for m in expected:
        v = got.get(m["name"])
        if v is None:
            problems.append(f"{what}: metric {m['name']} not printed")
        elif v["unit"] != m["unit"] or not isinstance(v["value"], (int, float)):
            problems.append(f"{what}: metric {m['name']} printed as {v}")
    extra = set(got) - {m["name"] for m in expected}
    if extra:
        problems.append(f"{what}: unexpected metrics {sorted(extra)}")
    return problems


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    work = os.path.join(BENCH_DIR, ".run", "selftest")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    problems: list[str] = []
    try:
        with open(os.path.join(BENCH_DIR, "digests.json")) as f:
            digests = json.load(f)
        digests[SCALE][CORRUPTED_ROW] = "0" * 32
        corrupted = os.path.join(work, "digests.json")
        with open(corrupted, "w") as f:
            json.dump(digests, f)

        r = run("llm_ops", 0, "--digests", corrupted)
        if r["correct"] or r["failed"] < 1 or r["failed"] >= r["attempted"]:
            problems.append(f"corrupted digest not caught exactly: {r}")
        else:
            print(f"corrupted digest: {r['failed']} of {r['attempted']} ops failed")

        for w in (w["name"] for w in spec["workloads"]):
            for trace, key in ((0, "end_to_end"), (1, "per_layer")):
                r = run(w, trace)
                found = check_metrics(r, spec[key], f"{w} --trace {trace}")
                if not r["correct"] or r["failed"]:
                    found.append(f"{w} --trace {trace}: not correct: {r}")
                problems += found
                print(f"{w} --trace {trace}: {len(r['metrics'])} metrics, "
                      f"{r['attempted']} ops, {'ok' if not found else 'FAILED'}")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for p in problems:
        print(f"FAILED: {p}")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
