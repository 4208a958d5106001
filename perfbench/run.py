"""Benchmark entry point.

    python3 perfbench/run.py --workload ais_batch --seed 1 --seconds 16 --trace 0

Run from the root of a checkout. It generates the workload's inputs from
the seed, sets up Spark on local[nproc] several times, runs timed passes
for `--seconds`, checks every output against its DuckDB oracle and prints
one JSON object as the last line of stdout. `--trace 0` reports the
end-to-end metrics; `--trace 1` runs the workload untraced and then again
with the Spark event log, job groups and a stream-progress listener on,
and reports the per-layer metrics. Everything it writes stays under
`.perfbench/` in the checkout; the run's own scratch is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import resource
import shutil
import statistics
import subprocess
import sys
import time

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUPS = 3  # set-ups per untraced run; setup_s is their median
KEEP_TRACES = 8  # newest trace files kept under .perfbench/traces


def cpu_marker_sec() -> float:
    """bench.py's fixed single-core loop: a degraded host window reads
    well above the healthy ~1 s."""
    t0 = time.perf_counter()
    s = 0
    for i in range(20_000_000):
        s += i
    return time.perf_counter() - t0


def git_head() -> str:
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def prepare_env(work: str, cpus: int) -> None:
    """Keep every file the run writes inside `work` and let Python
    workers import the package (they do not inherit this process's
    sys.path)."""
    for d in ("tmp", "local", "ckpt-dir"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_CHECKPOINT_DIR"] = os.path.join(work, "ckpt-dir")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "3g")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    sys.path.insert(0, ROOT)


def session(work: str, traced: bool):
    from posting_lines_spark.session import get_spark

    extra = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    }
    if traced:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        extra.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(app="perfbench", extra=extra)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm() -> None:
    """Stop Spark and wait for the JVM (and its Python workers) to exit."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def peak_rss_mb(spark) -> float:
    """JVM VmHWM + this process's max RSS."""
    jvm_kb = 0
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return (jvm_kb + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024.0


def parse_args() -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args()


def main() -> int:
    args = parse_args()
    if not os.path.isfile(os.path.join(ROOT, "posting_lines_spark", "__init__.py")):
        print(f"perfbench: no posting_lines_spark package under {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    prepare_env(work, cpus)
    try:
        return bench(args, work, cpus)
    finally:
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)


def bench(args: argparse.Namespace, work: str, cpus: int) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)  # metric names and units
    import gen
    from spans import Tracer
    from workloads import WORKLOADS, Ctx

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; known: {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    load_before = os.getloadavg()
    marker = cpu_marker_sec()
    wl = WORKLOADS[args.workload]()
    phases: dict[str, float] = {}
    t0 = time.perf_counter()
    sf_dir = gen.generate(ROOT, wl.name, wl.tables, args.seed)
    phases["generate_s"] = time.perf_counter() - t0
    excluded = marker + phases["generate_s"]  # not set-up work

    def start(traced: bool, setups: int):
        """`setups` fresh sessions, each materializing the fixtures and
        running a warm-up; returns the last context and the set-up times.
        The first set-up is timed from process start, so it also pays
        interpreter and JVM start-up, less the marker and generation."""
        times, ctx = [], None
        for i in range(setups):
            t0 = T_START if i == 0 else time.perf_counter()
            if ctx is not None:
                ctx.spark.stop()
            spark = session(work, traced)
            ctx = Ctx(spark, sf_dir, os.path.join(work, "w"),
                      Tracer(spark.sparkContext, traced), args.seed)
            staged = wl.stage_s
            wl.setup(ctx)
            phases["stage_s"] = wl.stage_s
            times.append(time.perf_counter() - t0 - (wl.stage_s - staged)
                         - (excluded if i == 0 else 0.0))
            ctx.timings.clear()
        return ctx, times

    earlier_errors: list[str] = []
    earlier_attempted = 0
    if args.trace == 0:
        ctx, setup_times = start(False, SETUPS)
        t0 = time.perf_counter()
        walls = wl.run(ctx, args.seconds)
        phases["measure_s"] = time.perf_counter() - t0
        per_layer: dict = {}
    else:
        ctx, setup_times = start(False, 1)
        if not wl.WARMUP_PASSES:
            # the traced passes run after every query has run once in this
            # JVM; a cold untraced pass would read ~25% slower than them
            wl.one_pass(ctx, timed=False)
        plain_wall = statistics.median(wl.run(ctx, args.seconds))
        earlier_errors, earlier_attempted = ctx.errors, ctx.attempted
        ctx.spark.stop()
        ctx, per_layer = traced_run(wl, work, sf_dir, args.seed)
        t0 = time.perf_counter()
        walls = wl.run(ctx, args.seconds)
        phases["measure_s"] = time.perf_counter() - t0
        per_layer.update(wl.probes(ctx))
        ctx.listener.settle()
    rss = peak_rss_mb(ctx.spark)
    jvm = ctx.spark.sparkContext._jvm.java.lang.System
    versions = {"spark": ctx.spark.version, "java": jvm.getProperty("java.version")}
    by_op: dict[str, list[float]] = {}
    for name, t in ctx.timings:
        by_op.setdefault(name, []).append(t)
    stop_jvm()

    # outputs are checked with Spark stopped, outside any timed region
    from check import Oracles

    t0 = time.perf_counter()
    oracles = Oracles(sf_dir, wl.tables, cpus)
    try:
        checks = wl.check(ctx, oracles)
    finally:
        oracles.close()
    phases["check_s"] = time.perf_counter() - t0
    errors = earlier_errors + ctx.errors + [f"{k} vs {m}" for k, m in checks.items() if m]
    for m in errors:
        print(f"# FAILED {m}", flush=True)
    # each output check is one more attempt, so failed never exceeds attempted
    attempted = earlier_attempted + ctx.attempted + len(checks)
    failed = len(errors)
    wall = statistics.median(walls)
    rows = wl.rows_done(ctx, len(walls))

    if args.trace == 0:
        values = {
            "setup_s": statistics.median(setup_times),
            "wall_s": wall,
            "rows_per_s": rows / sum(walls),
        }
        specs = spec["end_to_end"]
    else:
        import spans as trace_mod

        values = dict.fromkeys((m["name"] for m in spec["per_layer"]), 0.0)
        # spans inside timed passes (parents start before their children)
        recorded = ctx.tracer.spans
        timed: set[int] = set()
        for s in recorded:
            if s["name"] == "pass" or s["parent"] in timed:
                timed.add(s["id"])
        per_q: dict[str, list[float]] = {}
        for s in (s for s in recorded if s["id"] in timed):
            if s["name"].startswith("queries."):
                per_q.setdefault(s["name"] + "_s", []).append(s["end"] - s["start"])
        values.update({k: statistics.median(v) for k, v in per_q.items() if k in values})
        windows = [(s["wall"], s["wall"] + s["end"] - s["start"])
                   for s in recorded if s["name"] == "pass"]
        values.update(trace_mod.spark_metrics(os.path.join(work, "eventlog"), windows, cpus))
        values.update(trace_mod.stream_metrics(ctx.listener.events, windows))
        values["queries.construct_jobs"] /= len(walls)
        values.update(per_layer)
        values["peak_rss_mb"] = rss
        values["trace.overhead_frac"] = wall / plain_wall - 1.0
        specs = spec["per_layer"]
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in specs}

    phases["total_s"] = time.perf_counter() - T_START
    describe = {
        "workload": wl.name, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "nproc": os.cpu_count(), "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "git_head": git_head(), "loadavg_before": load_before,
        "loadavg_after": os.getloadavg(), "cpu_marker_sec": marker, **versions,
        "python": platform.python_version(), "rows_timed": rows, "phases": phases,
        "pass_walls_s": walls, "setup_times_s": setup_times, "ops": len(ctx.timings),
        "op_median_s": {k: statistics.median(v) for k, v in by_op.items()},
        "peak_rss_mb": rss, "attempted": attempted, "failed": failed,
    }
    print("# env " + json.dumps(describe), flush=True)
    for k, m in metrics.items():
        print(f"# {k} = {m['value']:.6g} {m['unit']}", flush=True)
    for k, v in wl.latency_summary().items():
        print(f"# {k} = {v:.6g}")
    print(f"# failed_frac = {failed / attempted:.6g} ({failed} failed of {attempted} attempted)")
    if args.trace:
        traces = os.path.join(ROOT, ".perfbench", "traces")
        ctx.tracer.dump(os.path.join(traces, f"{wl.name}-s{args.seed}-{os.getpid()}.json"),
                        {"env": describe, "metrics": values})
        old = sorted((os.path.join(traces, f) for f in os.listdir(traces)),
                     key=os.path.getmtime, reverse=True)
        for path in old[KEEP_TRACES:]:
            os.remove(path)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


def traced_run(wl, work: str, sf_dir: str, seed: int):
    """A fresh session with the event log on, a stream-progress listener
    for the stream workload, and `cached_fixture` wrapped to time its
    writer (which runs only on a miss). Returns the set-up context and
    the fixture time."""
    from posting_lines_spark import fixtures
    from spans import Tracer, progress_listener
    from workloads import Ctx

    fixture_s: list[float] = []
    real = fixtures.cached_fixture

    def timed(name, sf, writer, prefix):
        def timed_writer(path):
            t0 = time.perf_counter()
            writer(path)
            fixture_s.append(time.perf_counter() - t0)

        return real(name, sf, timed_writer, prefix)

    spark = session(work, True)
    ctx = Ctx(spark, sf_dir, os.path.join(work, "w"), Tracer(spark.sparkContext, True), seed)
    ctx.listener = progress_listener()
    spark.streams.addListener(ctx.listener)
    fixtures.cached_fixture = timed
    try:
        with ctx.tracer.span("setup"):
            wl.setup(ctx)
    finally:
        fixtures.cached_fixture = real
    ctx.timings.clear()
    return ctx, {"fixtures.materialize_s": sum(fixture_s)}


if __name__ == "__main__":
    sys.exit(main())
