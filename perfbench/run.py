"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload daily_pipeline --seed 1 --seconds 20 --trace 0

Run it from the repository root. The last line of stdout is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics``. With
``--trace 0`` the metrics are the ``end_to_end`` ones named in
BENCHMARK.json; with ``--trace 1`` they are the ``per_layer`` ones,
recorded by wrapping the package's public functions and reading Spark's
status store. The lines before it describe the run. Exit code 0 means a
result was printed; a run that cannot start (for example, without the
package next to this directory) exits 2 and prints none.

See README.md for the workloads and metrics.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import collections  # noqa: E402
import contextlib  # noqa: E402
import importlib.util  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
PACKAGE = "airflow_iceberg_pipeline_stock_tracker_spark"
HEAP = "4g"  # driver JVM heap, minimum = maximum


def tail(latencies: list[float]) -> tuple[float, float, int]:
    """Highest percentile with at least 10 samples beyond it:
    (value, percentile, samples beyond). Below 11 samples there is no
    such percentile and the maximum is returned with 0 beyond."""
    s = sorted(latencies)
    if len(s) < 11:
        return s[-1], 100.0, 0
    k = len(s) - 11
    return s[k], 100.0 * (k + 1) / len(s), len(s) - k - 1


def _vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


class Context:
    """What a workload needs: the session, the seed, the run's private
    directories, and the op timer. In a traced run it also holds the
    span recorder and the stage-window helper."""

    clock = staticmethod(time.perf_counter)

    def __init__(self, args, run_dir: str):
        self.seed = args.seed
        self.seconds = args.seconds
        self.traced = bool(args.trace)
        self.scale = args.scale
        self.data_dir = os.path.join(BENCH_DIR, "data", args.scale)
        self.digests = args.digests
        self.rows = args.rows.split(",") if args.rows else None
        self.run_dir = run_dir
        self.latencies: list[float] = []
        self.spark_ops: list[dict] = []  # traced: stage-window summary per op
        self.recorder = None
        self.windows = None
        self.spark = None
        self.session_start_s = 0.0
        self.setup_s = 0.0

    def path(self, name: str) -> str:
        return os.path.join(self.run_dir, name)

    def start_session(self) -> None:
        from airflow_iceberg_pipeline_stock_tracker_spark.session import get_spark

        from stages import RETAIN_CONF

        cpus = len(os.sched_getaffinity(0))
        t = self.clock()
        self.spark = get_spark(
            app_name="perfbench",
            cpus=cpus,
            warehouse_dir=self.path("warehouse"),
            extra_conf={
                **RETAIN_CONF,
                "spark.local.dir": self.path("local"),
                # Fixed heap size. Grown from a small initial heap, G1
                # resizes it at times that differ from run to run, and op
                # latencies move with it (see README.md).
                "spark.driver.memory": HEAP,
                "spark.driver.extraJavaOptions":
                    f"-Xms{HEAP} -Djava.io.tmpdir={self.path('tmp')}",
                "spark.ui.showConsoleProgress": "false",
            },
        )
        self.session_start_s = self.clock() - t
        if self.traced:
            from spans import SpanRecorder
            from stages import StageWindows

            self.recorder = SpanRecorder()
            self.windows = StageWindows(self.spark)

    def setup_done(self) -> None:
        self.setup_s = self.clock() - T_START

    @contextlib.contextmanager
    def op(self, i: int):
        """Time measured op ``i``; in a traced run also attribute its
        spans and Spark stages to it."""
        if self.traced:
            self.recorder.op = i
            a = self.windows.mark()
        t = self.clock()
        try:
            yield
        finally:
            wall = self.clock() - t
            self.latencies.append(wall)
            if self.traced:
                self.recorder.op = -1
                self.spark_ops.append(
                    self.windows.summary(a, self.windows.mark(), wall))

    def stop(self) -> None:
        """Stop Spark and wait for its JVM (and with it the Python
        workers) to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        if gateway is not None:
            proc = gateway.proc
            gateway.shutdown()
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def install_tracing(ctx) -> None:
    from airflow_iceberg_pipeline_stock_tracker_spark import pipeline
    from airflow_iceberg_pipeline_stock_tracker_spark.sources import snapshots

    import workloads

    for attr in workloads.PIPELINE_TRACE:
        ctx.recorder.wrap(pipeline, attr, attr)
    for attr in workloads.STREAM_TRACE:
        ctx.recorder.wrap(snapshots, attr, attr)


def layer_metrics(ctx, outcome) -> dict[str, float]:
    ops = ctx.spark_ops
    out = {"session.start_s": ctx.session_start_s, "trace.run_s": outcome.run_s}
    for key in ("jobs", "stages", "tasks", "stage_busy_s", "driver_gap_s",
                "task_run_s", "task_cpu_s", "gc_s", "shuffle_read_bytes",
                "shuffle_write_bytes", "spill_bytes", "input_bytes",
                "output_bytes", "failed_tasks"):
        out[f"spark.{key}"] = statistics.median(o[key] for o in ops) if ops else 0.0
    run = sum(o["task_run_s"] for o in ops)
    out["spark.cpu_ratio"] = sum(o["task_cpu_s"] for o in ops) / run if run else 0.0
    out.update(outcome.layers)
    return out


def parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", default="sf0.01",
                   help="input directory under perfbench/data (query workloads)")
    p.add_argument("--digests", default=os.path.join(BENCH_DIR, "digests.json"),
                   help="expected result digests (query workloads)")
    p.add_argument("--rows", help="comma-separated subset of the query rows")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse(argv)
    sys.path[:0] = [BENCH_DIR, ROOT]
    spec = importlib.util.find_spec(PACKAGE)
    if spec is None or not spec.origin.startswith(ROOT + os.sep):
        print(f"perfbench: package {PACKAGE} not found in {ROOT}", file=sys.stderr)
        return 2
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"have {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)

    run_dir = os.path.join(BENCH_DIR, ".run", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    for sub in ("local", "tmp"):
        os.makedirs(os.path.join(run_dir, sub))
    # Python workers import the package too, from whatever directory
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")

    ctx = Context(args, run_dir)
    try:
        ctx.start_session()
        if ctx.traced:
            install_tracing(ctx)
        outcome = workloads.WORKLOADS[args.workload](ctx)
        rss_mb = (_vm_hwm_kb("self") + _vm_hwm_kb(ctx.spark.sparkContext._gateway.proc.pid)) / 1024
        if ctx.traced:
            layers = layer_metrics(ctx, outcome)
            layers["process.peak_rss_mb"] = rss_mb
            os.makedirs(os.path.join(BENCH_DIR, "out"), exist_ok=True)
            ctx.recorder.write(os.path.join(
                BENCH_DIR, "out", f"spans-{args.workload}-{args.seed}.json"))
            ctx.recorder.restore()
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        ctx.stop()
        shutil.rmtree(run_dir, ignore_errors=True)

    lat = outcome.latencies
    if not lat:
        print("perfbench: no op completed: " + "; ".join(outcome.problems), file=sys.stderr)
        return 1
    t_value, t_pct, t_beyond = tail(lat)
    e2e = {
        "setup_s": ctx.setup_s,
        "op_p50_s": statistics.median(lat),
        "op_tail_s": t_value,
        "run_s": outcome.run_s,
    }
    for note in outcome.notes:
        print(note)
    print(f"setup_s {ctx.setup_s:.3f} s (session start {ctx.session_start_s:.3f} s)")
    print("op latencies (s): " + " ".join(f"{x:.3f}" for x in lat))
    for problem in outcome.problems:
        print(f"FAILED CHECK: {problem}")
    print(f"op_tail_s {t_value:.4f} s = p{t_pct:.1f} of {len(lat)} ops "
          f"({t_beyond} beyond)")
    print(f"fail_ratio {outcome.failed / len(lat):.4f} "
          f"({outcome.failed} of {len(lat)} ops)")
    print(f"peak_rss_mb {rss_mb:.1f} MB (VmHWM of the driver JVM + Python)")
    if ctx.traced:  # a layer the workload does not touch reads 0
        key, values = "per_layer", collections.defaultdict(float, layers)
    else:
        key, values = "end_to_end", e2e
    metrics = {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]}
               for m in bench[key]}
    print(json.dumps({
        "correct": outcome.failed == 0 and not outcome.problems,
        "attempted": len(lat),
        "failed": outcome.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
