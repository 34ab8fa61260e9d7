#!/usr/bin/env python3
"""montezuma_spark benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload {bulk,stream} --seed N \\
        --seconds S --trace {0,1}
    python3 perfbench/run.py --smoke      # every workload, tiny sizes, traced

Run from the repository root (the engine package must sit beside
``perfbench/``). The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``: end-to-end metrics with
``--trace 0``, per-layer metrics with ``--trace 1``. The line before it is
the full report: host, seed, sample counts, skipped entries. See
perfbench/README.md for every metric.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import resource
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUNS = os.path.join(ROOT, ".perfbench_run")

# Op counts of one run at --seconds 10; a run at --seconds S does
# max(1, round(S / 10)) times as many. Fixed counts, not time-bounded
# loops: the machine's speed must not set what a run does.
SIZES = {
    "full": dict(
        bulk_docs=3_000, builds=1, replay_docs=1_000, cold_cycles=4,
        warm_rounds=4, spark_rounds=3, batch_size=20, stream_batch=500,
        commits=2, repeat_passes=2,
    ),
    "smoke": dict(
        bulk_docs=1_000, builds=1, replay_docs=300, cold_cycles=2,
        warm_rounds=1, spark_rounds=1, batch_size=10, stream_batch=200,
        commits=2, repeat_passes=1,
    ),
}


class Ctx:
    """One run's state: sizes, session, scratch dir and everything
    measured. Metrics and layers are ``{"value", "unit", "samples"}``;
    an entry that could not be measured is ``{"skipped": reason}``."""

    def __init__(self, args, run_dir: str):
        self.seed, self.seconds, self.trace = args.seed, args.seconds, args.trace
        self.sizes = SIZES[args.sizes]
        self.run_dir = run_dir
        self.spark = None
        self.metrics: dict = {}
        self.layers: dict = {}
        self.walls: dict = {}
        self.attempted = 0
        self.failed = 0
        self.failures: list = []
        self.setup_parts: list = []
        self.detail: dict = {}

    def count(self, name: str) -> int:
        """``name``'s op count in ``SIZES``, scaled to --seconds."""
        return self.sizes[name] * max(1, round(self.seconds / 10))

    def path(self, name: str) -> str:
        return os.path.join(self.run_dir, name)

    @staticmethod
    def _entry(value, unit, samples):
        e = {"value": float(value), "unit": unit}
        if samples is not None:
            e["samples"] = int(samples)
        return e

    def metric(self, name, value, unit, samples=None) -> None:
        self.metrics[name] = self._entry(value, unit, samples)

    def layer(self, name, value, unit, samples=None) -> None:
        self.layers[name] = self._entry(value, unit, samples)

    def wall(self, name, value, unit, samples=None) -> None:
        """A wall-clock figure: in the report line only (README.md,
        "Why CPU time")."""
        self.walls[name] = self._entry(value, unit, samples)

    def skip_layer(self, name, reason) -> None:
        self.layers[name] = {"skipped": reason}

    def attempt(self, n: int = 1) -> None:
        self.attempted += n

    def fail(self, what: str) -> None:
        self.failed += 1
        if len(self.failures) < 20:
            self.failures.append(what)
        print(f"FAILED: {what}", file=sys.stderr)

    def overhead(self, untraced, traced, higher_is_better, name) -> None:
        """Traced vs untraced slice of the same run, as % slowdown."""
        ratio = untraced / traced if higher_is_better else traced / untraced
        self.layer(name, (ratio - 1.0) * 100.0, "%")

    def setup_part(self, name: str, wall_s: float, cpu_s: float,
                   samples=None) -> None:
        """One part of set-up: its wall time as a layer entry, and both
        times into the set-up totals."""
        self.layer(f"setup.{name}_s", wall_s, "s", samples)
        self.setup_parts.append((wall_s, cpu_s))

    def end_setup(self) -> None:
        """setup_s is CPU time, like every end-to-end timing (README.md,
        "Why CPU time"); the wall time goes to the report."""
        self.metric("setup_s", sum(c for _, c in self.setup_parts), "s")
        self.wall("setup_wall_s", sum(w for w, _ in self.setup_parts), "s")


def host_info(seed: int) -> dict:
    import numpy
    import pandas
    import pyarrow
    import pyspark

    src = hashlib.sha256()
    pkg = os.path.join(ROOT, "montezuma_spark")
    for root, dirs, files in sorted(os.walk(pkg)):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(root, f), "rb") as fh:
                    src.update(fh.read())
    try:
        commit = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
            text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        commit = None
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "pandas": pandas.__version__,
        "numpy": numpy.__version__,
        "git_commit": commit,
        "engine_source_sha256": src.hexdigest()[:16],
        "seed": seed,
    }


def isolate_env(run_dir: str) -> None:
    """Keep every temp file of Python, the JVM and Spark in the run dir."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    # every JVM, spark-submit's launcher too: no /tmp/hsperfdata_<user>;
    # serial GC, because parallel GC workers spinning on vCPUs that the
    # hypervisor takes away made the stream's CPU times ~3x noisier
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:+UseSerialGC")
    os.environ.pop("SPARK_GRAFT_CPUS", None)
    os.environ["SPARK_DRIVER_MEM"] = "2g"  # the largest run needs < 1 GB


def start_spark(ctx) -> None:
    from montezuma_spark import get_spark
    from workloads import tree_cpu_s

    c0, t0 = tree_cpu_s(), time.perf_counter()
    ctx.spark = get_spark("perfbench", cores=len(os.sched_getaffinity(0)))
    ctx.spark.sparkContext.setLogLevel("ERROR")
    ctx.setup_part("session", time.perf_counter() - t0, tree_cpu_s() - c0)


def stop_spark(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run_one(args) -> int:
    if not os.path.isdir(os.path.join(ROOT, "montezuma_spark")):
        print(f"perfbench: no engine package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    run_dir = os.path.join(
        RUNS, f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        isolate_env(run_dir)
        import workloads

        ctx = Ctx(args, run_dir)
        load0 = os.getloadavg()
        start_spark(ctx)
        try:
            t0 = time.perf_counter()
            workloads.WORKLOADS[args.workload](ctx)
            wall = time.perf_counter() - t0
        finally:
            stop_spark(ctx.spark)
        rss = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
        ctx.metric("driver_peak_rss_mb", rss, "MB")
        report = {
            "workload": args.workload,
            "trace": args.trace,
            "seconds": args.seconds,
            "sizes": args.sizes,
            "host": host_info(args.seed),
            "loadavg_before": load0,
            "loadavg_after": os.getloadavg(),
            "wall_s": wall,
            "end_to_end": ctx.metrics,
            "wall_clock": ctx.walls,
            "per_layer": ctx.layers,
            "failures": ctx.failures,
            "detail": ctx.detail,
        }
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(RUNS)
        except OSError:
            pass
    shown = result_metrics(args.workload, ctx.layers if args.trace
                           else ctx.metrics, LAYERS if args.trace else E2E)
    print(json.dumps(report, sort_keys=True))
    missing = [k for k, v in shown.items() if "value" not in v]
    if missing:
        print(f"perfbench: not measured: {missing}", file=sys.stderr)
        return 1
    print(json.dumps({
        "correct": ctx.failed == 0,
        "attempted": max(ctx.attempted, 1),
        "failed": ctx.failed,
        "metrics": {k: {"value": v["value"], "unit": v["unit"]}
                    for k, v in shown.items()},
    }, sort_keys=True))
    return 0


# The end-to-end metrics, as BENCHMARK.json lists them; every workload
# reports each one (README.md says what each means per workload).
E2E = ("setup_s", "driver_peak_rss_mb", "index_bytes_per_posting",
       "write_cpu_ms_per_doc", "query_cpu_ms", "repeat_query_cpu_ms",
       "batch_query_cpu_ms")

# The per-layer metrics of the result line, as BENCHMARK.json lists them.
# Query-path layers are read from the workload's first-touch phase (bulk:
# cold, stream: probe), cache layers from its repeat phase (warm, repeat)
# and Spark-tier layers from its traced distributed calls (bulk: spark
# singles, stream: probes). The report line holds every phase's entries.
QUERY_LAYERS = (
    "parser.parse_us", "searcher.compile_ms", "searcher.dict_ms",
    "searcher.dict_lookups", "searcher.fetch_ms", "searcher.fetch_bytes",
    "searcher.fetch_calls", "kernel.rows_ms", "kernel.eval_ms",
    "codec.decode_ms", "codec.decoded_postings", "kernel.decode_ratio")
CACHE_LAYERS = ("cache.hit_ratio", "cache.resident_mb")
SPARK_LAYERS = ("spark.jobs_per_query", "spark.tasks_per_query",
                "spark.job_ms", "spark.driver_ms")
WRITE_LAYERS = (
    "sources.extract_s", "analysis.tokenize_s", "builder.invert_s",
    "codec.encode_s", "codec.encode_postings", "builder.segment_cpu_s",
    "builder.segment_bytes", "index.save_s", "index.open_s")
TRACE_LAYERS = ("write.trace.coverage", "query.trace.coverage",
                "tracing.overhead_pct")
LAYERS = WRITE_LAYERS + QUERY_LAYERS + CACHE_LAYERS + SPARK_LAYERS + TRACE_LAYERS
PHASES = {"bulk": ("cold", "warm", ""), "stream": ("probe", "repeat", "probe")}


def result_metrics(workload: str, measured: dict, names) -> dict:
    """The result line's entries: ``names`` read from the report's."""
    first, repeat, spark = PHASES[workload]
    out = {}
    for name in names:
        src = name
        if name in QUERY_LAYERS:
            src = f"{first}.{name}"
        elif name in CACHE_LAYERS:
            src = f"{repeat}.{name}"
        elif name in SPARK_LAYERS and spark:
            src = f"{spark}.{name}"
        out[name] = measured.get(src, {"skipped": "not measured"})
    return out


def smoke() -> int:
    """Every workload at tiny sizes, traced: the benchmark's own end-to-end
    test. A traced run also measures the end-to-end metrics (in its
    report line), so one run per workload checks both modes. Exit 0 only
    if every run is correct and reports every end-to-end and every
    per-layer metric."""
    bad = 0
    for w in PHASES:
        t0 = time.time()
        p = subprocess.run(
            [sys.executable, __file__, "--workload", w, "--seed", "7",
             "--seconds", "2", "--trace", "1", "--sizes", "smoke"],
            capture_output=True, text=True, timeout=300)
        lines = p.stdout.strip().splitlines()
        try:
            rep, res = json.loads(lines[-2]), json.loads(lines[-1])
            missing = [m for m in E2E if m not in rep["end_to_end"]]
            ok = (p.returncode == 0 and res["correct"] and res["failed"] == 0
                  and set(res["metrics"]) == set(LAYERS) and not missing)
        except (IndexError, ValueError, KeyError):
            res, missing, ok = None, [], False
        bad += not ok
        print(f"{w:6s} {'ok' if ok else 'FAIL'} {time.time() - t0:5.1f}s "
              f"{len(res['metrics']) if res else 0} layer metrics"
              + (f", missing {missing}" if missing else ""), flush=True)
        if not ok:
            print(p.stderr[-3000:], file=sys.stderr)
    return 1 if bad else 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=tuple(PHASES))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sizes", choices=tuple(SIZES), default="full")
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args()
    if args.smoke:
        return smoke()
    if args.workload is None:
        ap.error("--workload is required")
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main())
